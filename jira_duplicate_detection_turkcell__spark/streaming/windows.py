"""Structured Streaming surface: watermarked windowed aggregation + streaming
signature computation.

The reference has no streaming (SURVEY.md §2.10); these are the new-engine
equivalents a continuously-crawled corpus needs. Both are plain
``readStream``-shaped transformations, testable with a file source and the
``availableNow`` trigger (one incremental pass over existing files, then
stop) — exactly how an Iceberg incremental-append feed would be consumed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling-window counts per event_type with late-data watermark.

    Works on both a streaming and a batch DataFrame (the watermark is a no-op
    in batch mode), so batch tests can assert the exact same plan the stream
    runs.
    """
    ts = F.col(ts_col).cast("timestamp")
    src = events.withColumn("_ts", ts).withWatermark("_ts", watermark)
    return (
        src.groupBy(F.window(F.col("_ts"), window_duration).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value_cents",
        )
    )


def streaming_signatures(pages_stream: DataFrame, cfg=None) -> DataFrame:
    """pages stream → (url, band_hashes[, simhash]) stream — the simhash
    column is projected only when the config enables that kind.

    Signatures are per-row pure functions, so the streaming plan is identical
    to the batch signature stage — stateless, no shuffle, safe at any
    trigger. Candidate pairing/clustering stays a periodic batch job over the
    accumulated signature table (streaming/incremental.py)."""
    from ..plans.pipeline import DedupConfig, extract_stage, signature_stage

    cfg = cfg or DedupConfig()
    signed = signature_stage(extract_stage(pages_stream), cfg)
    return signed.select("url", "band_hashes", *(["simhash"] if cfg.enable_simhash else []))
