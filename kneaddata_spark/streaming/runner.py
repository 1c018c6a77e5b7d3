"""The one stream runner: every module in this package is a transform or a
per-batch body, and this file is the only place a stream is read,
triggered, checkpointed and written.

Every query runs with ``availableNow``: it processes the backlog, then
stops, which makes each stream testable batch-equivalently (stream ==
batch on identical input). Exactly-once comes from the checkpoint. Two
sink shapes:

- append: rows go to a (optionally partitioned) parquet table; the sink's
  file-commit log makes a re-trigger on the same checkpoint add nothing.
- per-batch: ``foreachBatch(per_batch)`` for stateful bodies (index
  probes, sketches, tar shards). A body writes its outputs under
  ``batch_dir(root, batch_id)`` with mode=overwrite, so a replayed
  micro-batch replaces its own previous attempt instead of appending a
  duplicate. Tracked cache pins (operators/caching.persist_tracked) are
  released after every batch; a running stream otherwise keeps one pin
  per trigger until the next query build.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.caching import release_tracked

DOC_DDL = "doc_id string, text string"
# binaryFile's fixed schema, spelled explicitly: streaming file sources
# refuse schema inference even for fixed-schema formats
BINARY_FILE_DDL = (
    "path STRING, modificationTime TIMESTAMP, length LONG, content BINARY"
)


def source(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    max_files_per_trigger: int | None = None,
    fmt: str = "parquet",
) -> DataFrame:
    """readStream over a directory of ``fmt`` files. max_files_per_trigger
    caps the files per micro-batch (one batch per file at 1)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    return reader.load(input_dir)


def run_stream(
    stream: DataFrame,
    checkpoint_dir: str,
    out_dir: str | None = None,
    partition_by: tuple[str, ...] = (),
    per_batch=None,
):
    """Start ``stream`` with availableNow and a checkpoint. With
    ``per_batch`` (a ``(batch_df, batch_id)`` callable) each micro-batch
    runs it; otherwise rows append to parquet under ``out_dir``,
    partitioned by ``partition_by``. Returns the StreamingQuery."""
    writer = stream.writeStream.option("checkpointLocation", checkpoint_dir)
    if per_batch is None:
        writer = (
            writer.format("parquet")
            .option("path", out_dir)
            .partitionBy(*partition_by)
            .outputMode("append")
        )
    else:

        def _run(batch_df: DataFrame, batch_id: int) -> None:
            try:
                per_batch(batch_df, int(batch_id))
            finally:
                release_tracked()

        writer = writer.foreachBatch(_run)
    return writer.trigger(availableNow=True).start()


def batch_dir(root: str, batch_id: int) -> str:
    """The per-batch output directory a replay overwrites."""
    return os.path.join(root, f"batch_id={int(batch_id)}")


def read_or_empty(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """The parquet table under ``path``, or an empty frame before the
    first commit. Listing the directory (not try/except on read) keeps
    the plan clean: an existing dir with no parquet files also maps to
    the empty frame."""
    has_files = os.path.isdir(path) and any(
        f.endswith(".parquet") for _, _, files in os.walk(path) for f in files
    )
    if has_files:
        return spark.read.schema(schema).parquet(path)
    return spark.createDataFrame([], schema)
