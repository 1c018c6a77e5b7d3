"""Structured Streaming Count-Min: per-micro-batch counter tables that
sum-merge into the corpus frequency monitor.

Companion to distinct_stream.py (same per-batch-id idempotency
contract): each micro-batch writes ITS OWN d x w counter table under
``batch_id=<n>/`` with mode=overwrite, so a replayed batch replaces its
previous attempt instead of double-counting — sum-merge is not
idempotent the way max-merge is, so the per-batch-dir isolation is
load-bearing here, not just tidy. The read path sums the whole tree
(O(batches * d * w) rows in, <= 4096 out) and probes like the batch
sketch.

At 10^12 scale this is the running answer to "how often has token /
url / speaker X EVER appeared?" with fixed 4096-row state per batch and
no per-key state anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .runner import batch_dir, run_stream, source


def stream_cms(
    spark: SparkSession,
    input_dir: str,
    sketch_dir: str,
    checkpoint_dir: str,
    schema_ddl: str,
    hash_col: str,
):
    """readStream(input_dir) -> per-batch CMS counter tables under
    ``sketch_dir/batch_id=<n>/``. The source rows must already carry the
    32-bit portable hash in ``hash_col`` (one projection upstream)."""
    from ..operators.sketches import cms_build

    def _process(batch_df, batch_id: int) -> None:
        cms_build(batch_df, hash_col).write.mode("overwrite").parquet(
            batch_dir(sketch_dir, batch_id)
        )

    return run_stream(
        source(spark, input_dir, schema_ddl), checkpoint_dir, per_batch=_process
    )


def merged_sketch(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """Sum-merge every batch's counters into the corpus sketch."""
    return (
        spark.read.parquet(sketch_dir)
        .groupBy("row", "col")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
