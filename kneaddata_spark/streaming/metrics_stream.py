"""Streaming QC metrics: event-time windowed counters with a watermark.

The batch pipeline's observe() counters become, in continuous ingestion, a
per-window metrics table: counts per (event-time window, status) with a
watermark bounding state for late data. This is the READ-COUNT-log analog
(reference utilities.py:672-686) for a stream — stateful, unlike the
stateless stream_qc pass — and demonstrates the watermark/window/state
machinery of Structured Streaming on this engine's tables.

Also: ``dedup_within_watermark`` — exactly-once ingestion dedup via
``dropDuplicatesWithinWatermark`` on clip_id (duplicate deliveries are the
normal failure mode of at-least-once ingestion pipelines; the reference's
first-occurrence semantics, utilities.py:490-520, applied to a stream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .runner import source

EVENT_DDL = "clip_id string, status string, event_ts timestamp"


def windowed_status_counts(
    spark: SparkSession,
    input_dir: str,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """readStream(parquet dir of EVENT_DDL rows) -> watermarked tumbling-
    window counts per status. Caller attaches the sink (complete/update or
    append mode; append emits a window only after the watermark passes it)."""
    return (
        source(spark, input_dir, EVENT_DDL)
        .withWatermark("event_ts", watermark)
        .groupBy(F.window("event_ts", window).alias("win"), "status")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "status",
            "n",
        )
    )


def dedup_within_watermark(
    spark: SparkSession,
    input_dir: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Drop duplicate clip_ids arriving within the watermark horizon
    (bounded state; beyond-horizon re-deliveries are the checkpoint's job)."""
    return (
        source(spark, input_dir, EVENT_DDL)
        .withWatermark("event_ts", watermark)
        .dropDuplicatesWithinWatermark(["clip_id"])
    )
