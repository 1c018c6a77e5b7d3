"""Structured Streaming WebDataset sink: continuously arriving corpus
files roll into training-ready tar shards, micro-batch by micro-batch.

The production shape: upstream screens (stream_qc, stream_dedup) emit
clean documents forever; trainers want those as sequential-read tar
shards (sources/webdataset.py) without waiting for an end-of-corpus
batch job. Each micro-batch becomes its own shard namespace
(``out_dir/batch_id=<n>/shard-%06d.tar``), so shard files never span a
batch boundary and a REPLAYED batch rewrites exactly its own files.

Idempotency is byte-grade here, stronger than the dir-overwrite rule
the other streaming sinks rely on: write_shards produces
byte-DETERMINISTIC tars (normalized headers, canonical JSON, key-order
members), so a replay doesn't just replace its previous attempt — it
writes the identical bytes, and the sha256 receipts (written
``receipts/batch_id=<n>/`` with overwrite) prove it.

Composition, not new machinery: foreachBatch runs the batch operators
``shard_plan`` + ``write_shards`` on the micro-batch. Keys must be
unique within a batch (tar member basenames); cross-batch uniqueness is
stream_dedup's job upstream.

Reference lineage: the per-stage re-emission sinks (run.py output
writers) run forever — each arriving batch lands as the next set of
consumer-ready files.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .runner import DOC_DDL, batch_dir, run_stream, source


def stream_webdataset(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    receipts_dir: str,
    checkpoint_dir: str,
    samples_per_shard: int = 64,
    max_files_per_trigger: int | None = None,
    schema: str = DOC_DDL,
    id_col: str = "doc_id",
    payload_col: str = "text",
    meta_cols: tuple[str, ...] = (),
):
    """readStream(input_dir) -> foreachBatch(shard_plan + write_shards)
    -> per-batch tar shard directories + sha256 receipt parquet.

    Returns the StreamingQuery. Tars land under
    ``out_dir/batch_id=<n>/shard-%06d.tar``; receipts (shard, n_samples,
    tar_bytes, sha256, path) under ``receipts_dir/batch_id=<n>/``."""
    from ..sources.webdataset import shard_plan, write_shards

    def _process(batch_df, batch_id: int) -> None:
        planned = shard_plan(batch_df, id_col, samples_per_shard)
        receipts = write_shards(
            planned,
            batch_dir(out_dir, batch_id),
            id_col,
            payload_col,
            meta_cols=meta_cols,
        )
        receipts.write.mode("overwrite").parquet(batch_dir(receipts_dir, batch_id))

    stream = source(spark, input_dir, schema, max_files_per_trigger)
    return run_stream(stream, checkpoint_dir, per_batch=_process)
