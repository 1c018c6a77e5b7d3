"""Structured Streaming distinct counting: each micro-batch of an
unbounded ingest folds into a persistent HyperLogLog register table.

The production question at 10^12 scale is "how many distinct users /
clips / urls have we EVER ingested, per group?" — an exact distinct
needs unbounded state keyed by every value seen; the HLL register table
(operators/sketches.py) answers within ~6.5% with <=256 rows per group,
forever.

The register algebra makes the streaming story almost trivial, and
that IS the point of a mergeable sketch:

 - max() is associative, commutative and IDEMPOTENT, so each
   micro-batch only writes ITS OWN register table under
   ``batch_id=<n>/`` (mode=overwrite): no read-modify-write of shared
   state, no transaction needed, and a replayed batch (Structured
   Streaming re-runs batches after a crash) overwrites its own
   directory with identical content instead of corrupting a running
   total — the same per-batch-id idempotency contract as
   dedup_stream.py, but here even double-COUNTING a batch would be
   harmless because max(max(a,b),b) == max(a,b).
 - The read path max-merges the whole tree + folds
   (sketches.hll_merge semantics); pytest proves the streamed result
   is REGISTER-IDENTICAL to the batch sketch of the union.

Reference lineage: the per-stage read-count log (utilities.py
log_read_count_for_files) as a forever-running monitor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .runner import batch_dir, run_stream, source


def stream_distinct(
    spark: SparkSession,
    input_dir: str,
    regs_dir: str,
    checkpoint_dir: str,
    schema_ddl: str,
    key: str,
    group_cols: list[str],
):
    """readStream(input_dir) -> per-batch HLL register tables under
    ``regs_dir/batch_id=<n>/``. Returns the StreamingQuery; read the
    running estimate any time with ``distinct_estimate``."""
    from ..operators.sketches import hll_registers

    def _process(batch_df, batch_id: int) -> None:
        regs = hll_registers(batch_df, key, group_cols)
        regs.write.mode("overwrite").parquet(batch_dir(regs_dir, batch_id))

    return run_stream(
        source(spark, input_dir, schema_ddl), checkpoint_dir, per_batch=_process
    )


def distinct_estimate(
    spark: SparkSession, regs_dir: str, group_cols: list[str]
) -> DataFrame:
    """Max-merge every batch's register table and fold to the per-group
    estimate — O(batches * m) rows in, <=group-count rows out."""
    from ..operators.sketches import hll_fold

    regs = spark.read.parquet(regs_dir).select(*group_cols, "__bucket", "__m")
    merged = regs.groupBy(*group_cols, "__bucket").agg(F.max("__m").alias("__m"))
    return hll_fold(merged, group_cols)


def stream_quantiles(
    spark: SparkSession,
    input_dir: str,
    hist_dir: str,
    checkpoint_dir: str,
    schema_ddl: str,
    value_col: str,
    group_cols: list[str],
):
    """Streaming counterpart of sketches.quantile_sketch: each
    micro-batch writes its own per-(group, bucket) log-histogram counts
    under ``batch_id=<n>/`` (overwrite — sum-merge needs the per-batch
    isolation for replay safety, like cms_stream). Read the running
    quantiles any time with ``quantile_estimate``."""
    from ..operators.sketches import QB_BITS, log_bucket

    def _process(batch_df, batch_id: int) -> None:
        v = F.col(value_col).cast("long")
        counts = (
            batch_df.where(v >= 1)
            .where(v < F.lit(1 << QB_BITS))
            .select(*group_cols, log_bucket(v).alias("__bucket"))
            .groupBy(*group_cols, "__bucket")
            .agg(F.count("*").cast("long").alias("__n"))
        )
        counts.write.mode("overwrite").parquet(batch_dir(hist_dir, batch_id))

    return run_stream(
        source(spark, input_dir, schema_ddl), checkpoint_dir, per_batch=_process
    )


def quantile_estimate(
    spark: SparkSession,
    hist_dir: str,
    group_cols: list[str],
    q_permille: list[int] = (500, 900, 990),
) -> DataFrame:
    """Sum-merge every batch's histogram, then run the same keyed-window
    rank selection as the batch sketch (delegates to the shared fold in
    operators/sketches via an already-bucketed frame)."""
    from pyspark.sql import Window as W

    from ..operators.sketches import _bucket_hi, _bucket_lo

    counts = (
        spark.read.parquet(hist_dir)
        .groupBy(*group_cols, "__bucket")
        .agg(F.sum("__n").cast("long").alias("__n"))
    )
    w = W.partitionBy(*group_cols).orderBy("__bucket")
    cum = counts.select(
        *group_cols,
        "__bucket",
        "__n",
        F.sum("__n").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("long")
        .alias("__cum"),
    )
    tot = counts.groupBy(*group_cols).agg(F.sum("__n").cast("long").alias("__tot"))
    want = tot.select(
        *group_cols,
        "__tot",
        F.explode(F.array(*[F.lit(int(q)) for q in q_permille])).alias("q_permille"),
    ).select(
        *group_cols,
        "__tot",
        "q_permille",
        F.expr("(q_permille * __tot + 999) div 1000").cast("long").alias("__target"),
    )
    j = cum.join(want, group_cols).where(
        (F.col("__cum") >= F.col("__target"))
        & (F.col("__cum") - F.col("__n") < F.col("__target"))
    )
    return j.select(
        *group_cols,
        "q_permille",
        F.col("__bucket").alias("bucket"),
        _bucket_lo(F.col("__bucket")).alias("lo"),
        _bucket_hi(F.col("__bucket")).alias("hi"),
        F.col("__cum").alias("n_le"),
        F.col("__tot").alias("n_total"),
    )
