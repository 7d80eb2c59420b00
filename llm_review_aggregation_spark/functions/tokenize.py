"""E2 — segment: docs -> sentences.

UDTF-style 1->N explode (reference T1/T2: ontology_bert/
phrase_tokenizer.py:17-27), expressed as one `mapInPandas`: each input row
yields its exploded sentence rows with tokens in the same Python pass — one
Arrow round-trip, instead of a sentence-split UDF + posexplode + a second
word-tokenize UDF (two Python stages and twice the Arrow traffic).
Argumentation phrases (T6) are split inside E7's own fused kernel
(operators/argumentation.py).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame

from llm_review_aggregation_spark import textproc as tp
from llm_review_aggregation_spark.functions.cleaning import GROUP_ID_RE

_SENT_SCHEMA = "url string, group_id string, sent_id int, sentence string, tokens array<string>"


def segment_sentences(docs: DataFrame, carry_cols: tuple[str, ...] = ()) -> DataFrame:
    """docs(url, group_id, text) -> sentences(url, group_id, sent_id,
    sentence, tokens). `carry_cols` are copied through unchanged onto every
    exploded sentence row (e.g. warc_ts for streaming event-time ops) —
    cheaper than re-joining them on url afterwards, and stream-safe (a
    post-hoc join would be a stateful stream-stream join)."""
    backend = tp.current_backend()  # captured on the driver, shipped in the closure
    carry = list(carry_cols)
    schema = _SENT_SCHEMA
    if carry:
        carried_fields = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in docs.schema.fields if f.name in carry
        )
        schema = f"{_SENT_SCHEMA}, {carried_fields}"

    def gen(batches):
        tp.install_backend(backend)
        for pdf in batches:
            rows = []
            for tup in zip(pdf["url"], pdf["group_id"], pdf["text"], *(pdf[c] for c in carry)):
                url, gid, text, extra = tup[0], tup[1], tup[2], tup[3:]
                for sid, raw in enumerate(tp.sent_tokenize(text or "")):
                    s = tp.filter_underscore(raw)
                    rows.append((url, gid, sid, s, tp.word_tokenize(s), *extra))
            yield pd.DataFrame(
                rows, columns=["url", "group_id", "sent_id", "sentence", "tokens", *carry]
            )

    return docs.select("url", "group_id", "text", *carry).mapInPandas(gen, schema)


def segment_pages(pages: DataFrame) -> DataFrame:
    """E1+E2 fused: pages(url, html, ...) -> sentences(url, group_id,
    sent_id, sentence, tokens) in ONE mapInPandas. Chaining
    segment_sentences(extract_docs(pages)) plans as two MapInPandas
    operators, and each is its own Python runner — the cleaned text crosses
    the Arrow boundary four times (out of E1, back into E2, plus both input
    sides). Cleaning and segmenting in the same Python pass crosses twice,
    which matters because text bytes are the pipeline's dominant Arrow load
    (PLANS.md round 4). Byte-identical semantics (same clean_text, same
    group_id regex, same tokenizer backend) — differential-tested against
    the unfused chain. Used by the pipeline when no work_dir is given; with
    a work_dir the docs checkpoint already holds the cleaned text, so the
    unfused path reuses it instead of re-cleaning."""
    backend = tp.current_backend()
    gid_re = re.compile(GROUP_ID_RE)

    def gen(batches):
        tp.install_backend(backend)
        for pdf in batches:
            rows = []
            for url, html in zip(pdf["url"], pdf["html"]):
                m = gid_re.search(url or "")
                # null-url parity with the unfused path: regexp_extract is
                # null-propagating (null url -> null group_id), while a
                # non-null url that misses the pattern yields ""
                gid = m.group(1) if m else (None if url is None else "")
                text = tp.clean_text(html)
                for sid, raw in enumerate(tp.sent_tokenize(text or "")):
                    s = tp.filter_underscore(raw)
                    rows.append((url, gid, sid, s, tp.word_tokenize(s)))
            yield pd.DataFrame(
                rows, columns=["url", "group_id", "sent_id", "sentence", "tokens"]
            )

    return pages.select("url", "html").mapInPandas(gen, _SENT_SCHEMA)
