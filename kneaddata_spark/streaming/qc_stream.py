"""Structured Streaming variant of the QC pipeline.

The reference is strictly batch (one sample per CLI invocation; SURVEY.md
§2.8 records zero streaming operators), but a continuously-ingesting clip
corpus is the natural deployment at 10^12 scale: new Iceberg/parquet files
land in a directory, the SAME annotate() plan (scalar Arrow UDFs + Column
verdict — fully streaming-compatible: no shuffles, no stateful ops) runs
per micro-batch, and outputs append to the partitioned table. Exactly-once
comes from the sink checkpoint (offsets + file-commit log) — the streaming
counterpart of the batch checkpoint.run_checkpointed bucket manifest.

The runner's ``availableNow`` trigger processes the backlog then stops —
the streaming path is testable batch-equivalently (tests assert
per-status counts match the batch run on identical input).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline import annotate, broadcast_models, qc_output_select
from ..synth import CLIP_DDL
from .runner import run_stream, source


def stream_qc(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    langid_bc=None,
    ppl_bc=None,
):
    """readStream(input_dir) -> annotate -> append to partitioned parquet.

    Returns the StreamingQuery (caller awaits termination). Metrics: the
    same observe() counters are not available per-batch on append sinks
    without a listener, so the kept/dropped accounting is read from the
    output table itself (status partition counts) — one metadata-only scan.
    """
    if langid_bc is None or ppl_bc is None:
        langid_bc, ppl_bc = broadcast_models(spark)
    ann = annotate(source(spark, input_dir, CLIP_DDL), langid_bc, ppl_bc)
    # identical projection to the batch path (pipeline.qc_output_select):
    # stream==batch is a schema-level contract, not just a count-level one
    out = qc_output_select(ann)
    return run_stream(out, checkpoint_dir, out_dir, partition_by=("status",))


def status_counts(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-status counters from the streamed output table."""
    return spark.read.parquet(out_dir).groupBy("status").agg(
        F.count("*").alias("n")
    )
