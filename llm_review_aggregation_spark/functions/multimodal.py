"""Multimodal columns: image/audio/video as opaque `binary` payloads with
typed metadata, processed by Arrow-batched `mapInPandas` stages.

The Spark-side plumbing — schemas, partitioning, UDF signatures, batch
shapes — is real and tested. The codec step is pluggable: the real decoders
(PIL / torchaudio / pyav) are NOT installed in this environment, so
``decoder="stub"`` raises NotImplementedError at the decode callsite, and
``decoder="fake"`` parses a deterministic 16-byte header the tests/synth
write, exercising the full distributed path end-to-end.

Media table schema:
    media(media_id long, kind string,        -- 'image' | 'audio' | 'video'
          payload binary, meta struct<width:int, height:int,
          sample_rate:int, n_frames:int>)
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<width:int, height:int, sample_rate:int, n_frames:int>"
)

_MAGIC = b"FAKEMEDIA0000001"  # 16-byte header for the deterministic fake codec
_FAKE_WIDTH, _FAKE_HEIGHT, _FAKE_FRAMES = 32, 24, 8  # fake image size, video length
_HIST_BINS = 16  # intensity histogram bins of extract_image_features


def _det_bytes(kind: str, media_id: int, n: int) -> bytes:
    """n deterministic body bytes as chained md5 digests of
    ``{kind}:{media_id}:{block}``. md5 (not a Python RNG) so a SQL oracle can
    regenerate the identical byte stream engine-independently — DuckDB's
    ``md5()`` produces the same hex, making the media feature queries
    oracle-checkable end to end."""
    return b"".join(
        hashlib.md5(f"{kind}:{media_id}:{b}".encode()).digest() for b in range((n + 15) // 16)
    )[:n]


def fake_payload(kind: str, media_id: int) -> bytes:
    """Deterministic fake media blob: magic + packed dims + md5-chained bytes."""
    body_len = {
        "image": _FAKE_WIDTH * _FAKE_HEIGHT, "audio": 4 * 1024, "video": _FAKE_FRAMES * 64
    }[kind]
    header = _MAGIC + struct.pack("<iii", _FAKE_WIDTH, _FAKE_HEIGHT, _FAKE_FRAMES)
    return header + _det_bytes(kind, media_id, body_len)


def _decode_fake(payload: bytes) -> tuple[int, int, int, bytes]:
    if not payload.startswith(_MAGIC):
        raise ValueError("not a fake-media payload")
    width, height, n_frames = struct.unpack("<iii", payload[16:28])
    return width, height, n_frames, payload[28:]


def _get_decoder(decoder: str):
    if decoder == "fake":
        return _decode_fake
    if decoder == "stub":
        def _stub(payload: bytes):
            raise NotImplementedError(
                "real media codecs (PIL/torchaudio/pyav) are not installed in "
                "this environment; use decoder='fake' for the plumbing path"
            )
        return _stub
    raise ValueError(f"unknown decoder: {decoder}")


def extract_image_features(media: DataFrame, decoder: str = "fake") -> DataFrame:
    """image rows -> (media_id, width, height, mean_intensity,
    histogram array<double>). One Arrow batch in, one out; the decode runs
    once per row inside the batch loop — the real-codec path has the same
    shape, just a different `_get_decoder` return."""
    dec = _get_decoder(decoder)

    def gen(batches):
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                w, h, _n, body = dec(bytes(payload))
                arr = np.frombuffer(body[: w * h], dtype=np.uint8).astype(np.float64)
                hist, _ = np.histogram(arr, bins=_HIST_BINS, range=(0, 256))
                rows.append((int(mid), w, h, float(arr.mean()), (hist / max(arr.size, 1)).tolist()))
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "mean_intensity", "histogram"]
            )

    return media.filter(F.col("kind") == "image").select("media_id", "payload").mapInPandas(
        gen,
        "media_id long, width int, height int, mean_intensity double, histogram array<double>",
    )


def resize_images(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """image rows -> (media_id, payload binary) resized via nearest-neighbor
    sampling on the fake codec."""
    dec = _decode_fake

    def gen(batches):
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                w, h, n, body = dec(bytes(payload))
                arr = np.frombuffer(body[: w * h], dtype=np.uint8).reshape(h, w)
                yi = (np.arange(out_h) * h // out_h).astype(int)
                xi = (np.arange(out_w) * w // out_w).astype(int)
                resized = arr[np.ix_(yi, xi)]
                header = _MAGIC + struct.pack("<iii", out_w, out_h, n)
                rows.append((int(mid), header + resized.tobytes()))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    return media.filter(F.col("kind") == "image").select("media_id", "payload").mapInPandas(
        gen, "media_id long, payload binary"
    )


def extract_audio_features(media: DataFrame, decoder: str = "fake") -> DataFrame:
    """audio rows -> (media_id, n_samples, rms, zero_crossing_rate). The fake
    codec treats the body as signed 16-bit PCM; a real torchaudio decoder
    plugs into the same signature and batch shape."""
    dec = _get_decoder(decoder)

    def gen(batches):
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                _w, _h, _n, body = dec(bytes(payload))
                pcm = np.frombuffer(body[: len(body) - len(body) % 2], dtype=np.int16).astype(np.float64)
                if pcm.size == 0:
                    rows.append((int(mid), 0, 0.0, 0.0))
                    continue
                rms = float(np.sqrt(np.mean(pcm * pcm)))
                zcr = float(np.mean(np.abs(np.diff(np.signbit(pcm).astype(np.int8)))))
                rows.append((int(mid), int(pcm.size), rms, zcr))
            yield pd.DataFrame(rows, columns=["media_id", "n_samples", "rms", "zero_crossing_rate"])

    return media.filter(F.col("kind") == "audio").select("media_id", "payload").mapInPandas(
        gen, "media_id long, n_samples long, rms double, zero_crossing_rate double"
    )


def sample_video_frames(media: DataFrame, every_k: int = 2) -> DataFrame:
    """video rows -> one row per sampled frame (media_id, frame_idx,
    frame binary) on the fake codec — the 1->N explode shape of real frame
    sampling."""
    dec = _decode_fake

    def gen(batches):
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                _w, _h, n_frames, body = dec(bytes(payload))
                frame_size = max(len(body) // max(n_frames, 1), 1)
                for i in range(0, n_frames, every_k):
                    rows.append((int(mid), i, body[i * frame_size : (i + 1) * frame_size]))
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame"])

    return media.filter(F.col("kind") == "video").select("media_id", "payload").mapInPandas(
        gen, "media_id long, frame_idx int, frame binary"
    )


def synth_media(spark, n_images: int = 20, n_videos: int = 5, n_audio: int = 5) -> DataFrame:
    rows = []
    for i in range(n_images):
        rows.append((i, "image", fake_payload("image", i), (_FAKE_WIDTH, _FAKE_HEIGHT, 0, 0)))
    for i in range(n_videos):
        mid = 1000 + i
        rows.append((mid, "video", fake_payload("video", mid), (0, 0, 0, _FAKE_FRAMES)))
    for i in range(n_audio):
        mid = 2000 + i
        rows.append((mid, "audio", fake_payload("audio", mid), (0, 0, 16000, 0)))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
