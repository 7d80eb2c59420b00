"""Structured Streaming ingestion for the engine's event/page feeds.

The reference pipeline is batch-only (SURVEY §2.9); this module is the
engine's forward path for continuously-arriving crawl data: a file-source
stream with event-time watermarking and tumbling-window aggregation, plus an
incremental exact-dedup stage (dropDuplicatesWithinWatermark) matching the
batch fingerprint semantics.

Tests drive it with ``trigger(availableNow=True)`` against parquet
directories so results are comparable to the batch equivalents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def read_event_stream(spark: SparkSession, path: str) -> DataFrame:
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(path)


def windowed_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "10 minutes"
) -> DataFrame:
    """Tumbling-window counts + value sums per event_type, late data bounded
    by the watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("value_sum"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )


def run_available_now(stream_df: DataFrame, query_name: str, checkpoint_dir: str):
    """Drain everything currently available into a memory sink; returns the
    finished StreamingQuery (results at `SELECT * FROM <query_name>`)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def streaming_dedup(events: DataFrame) -> DataFrame:
    """Incremental exact dedup on (event_id) within a one-hour watermark —
    the streaming analog of operators/dedup.dedup_exact."""
    return events.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["event_id"])


def sessionize(
    events: DataFrame, gap_seconds: int = 1800, watermark: str = "1 hour"
) -> DataFrame:
    """Custom stateful operator: per-user session assembly via
    ``applyInPandasWithState`` — events within `gap_seconds` of each other
    belong to one session; a session closes when the watermark passes its
    last event + gap. Emits one row per closed session.

    This is the `applyInPandasWithState` pattern for operators Structured
    Streaming lacks natively (session_window covers gap sessions; the state
    handle generalizes to arbitrary per-key accumulators — the shape a
    streaming KG-extraction stage would use for per-url accumulation)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "user_id long, session_start timestamp, session_end timestamp, "
        "n_events long, value_sum double"
    )
    state_schema = "start long, end long, n long, vsum double"

    def fn(key, pdfs, state):
        import pandas as pd

        if state.hasTimedOut:
            start, end, n, vsum = state.get
            state.remove()
            yield pd.DataFrame(
                [
                    {
                        "user_id": key[0],
                        "session_start": pd.Timestamp(start, unit="us"),
                        "session_end": pd.Timestamp(end, unit="us"),
                        "n_events": n,
                        "value_sum": vsum,
                    }
                ]
            )
            return
        start = end = None
        n = 0
        vsum = 0.0
        if state.exists:
            start, end, n, vsum = state.get
        closed = []
        rows = pd.concat(list(pdfs)).sort_values("ts")
        for ts, value in zip(rows["ts"], rows["value"]):
            us = int(ts.value // 1000)
            if start is None:
                start = end = us
            elif us - end > gap_seconds * 1_000_000:
                closed.append((start, end, n, vsum))
                start = end = us
                n, vsum = 0, 0.0
            else:
                # late-but-in-watermark events from a later micro-batch may
                # arrive with us < end (rows are only sorted within a batch);
                # a session's bounds must never move backward
                end = max(end, us)
                start = min(start, us)
            n += 1
            vsum += float(value)
        state.update((start, end, n, vsum))
        state.setTimeoutTimestamp(end // 1000 + gap_seconds * 1000)
        if closed:
            yield pd.DataFrame(
                [
                    {
                        "user_id": key[0],
                        "session_start": pd.Timestamp(s, unit="us"),
                        "session_end": pd.Timestamp(e, unit="us"),
                        "n_events": cn,
                        "value_sum": cv,
                    }
                    for s, e, cn, cv in closed
                ]
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def run_append_to_memory(stream_df: DataFrame, query_name: str, checkpoint_dir: str):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
