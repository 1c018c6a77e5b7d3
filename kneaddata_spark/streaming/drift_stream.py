"""Streaming embedding-drift monitor (8th streaming capability).

A continuously ingested embedding stream is monitored against a PINNED
reference snapshot (the last blessed corpus / encoder version): each
micro-batch reduces to its exact-integer per-dimension moment cells
(similarity.quantized_dim_moments — count + offset-positive quantized
sum per dim), written under ``moments_dir/batch_id=<n>/`` (the per-batch-
dir replay-isolation rule every sketch stream here follows: a replayed
batch OVERWRITES its own directory, so at-least-once delivery cannot
double-count). Because the cells are plain integer sums they merge in
any order — ``drift_estimate`` folds every batch directory into one
moment table and joins it against the reference through the SAME
similarity.drift_report the batch operator uses, so stream == batch is
exact by construction, not approximately.

100 TB shape: per-batch state is <= dim rows; the merge reads tiny
moment tables, never embeddings; the report is a dim-key join.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .runner import batch_dir, run_stream, source

EMB_DDL = "vec_id long, embedding array<float>"


def stream_drift_moments(
    spark: SparkSession,
    input_dir: str,
    moments_dir: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
    quant: int = 1 << 20,
):
    """readStream(parquet dir of EMB_DDL rows) -> per-batch moment cells
    under ``moments_dir/batch_id=<n>/``."""
    from ..operators.similarity import quantized_dim_moments

    def _process(batch_df, batch_id: int) -> None:
        quantized_dim_moments(batch_df, vec_col, quant).write.mode(
            "overwrite"
        ).parquet(batch_dir(moments_dir, batch_id))

    return run_stream(
        source(spark, input_dir, EMB_DDL), checkpoint_dir, per_batch=_process
    )


def merged_moments(spark: SparkSession, moments_dir: str) -> DataFrame:
    """Fold every batch's cells into one moment table — exact integer
    merge (sum of sums / sum of counts), order-independent."""
    cells = spark.read.parquet(os.path.join(moments_dir, "batch_id=*"))
    return cells.groupBy("dim").agg(
        F.sum("n").alias("n"), F.sum("s").alias("s")
    )


def drift_estimate(
    spark: SparkSession,
    moments_dir: str,
    reference_moments: DataFrame,
    quant: int = 1 << 20,
    min_delta_micro: int = 10_000,
) -> DataFrame:
    """The batch embedding_drift report, with the streamed side merged
    from the moment directories: (dim, n_a, n_b, mean_a_q, mean_b_q,
    delta_micro, drifted) where side a = the pinned reference."""
    from ..operators.similarity import drift_report

    return drift_report(
        reference_moments, merged_moments(spark, moments_dir), quant, min_delta_micro
    )
