"""Structured Streaming ingest dedup: continuously arriving document
files are screened against (and extend) a persistent content-hash table.

The production shape at 10^12 scale: a crawler keeps landing files; every
micro-batch must (a) drop rows whose content the corpus has EVER seen,
(b) keep exactly one row per new content, and (c) survive micro-batch
REPLAY without double-emitting — Structured Streaming re-runs a batch
after a crash, so every write has to be idempotent per batch id.

Composition, not new machinery: each micro-batch runs the batch operator
``dedup.incremental_dedup_exact`` (within-batch keep-first + anti-join
against the stored hash table) inside ``foreachBatch``. Idempotency is
the Delta/Iceberg-less equivalent of an idempotent sink: outputs land in
``batch_id=<n>`` subdirectories written with mode=overwrite, so a
replayed batch OVERWRITES its own previous attempt instead of appending
a duplicate (the same txn-log idea Iceberg gives for free — documented
stand-in, no jars in this sandbox).

Scale shape: only the micro-batch shuffles (its own md5 window + probe
keys); the seen-hash table is read as a stream-side scan of a keyed
anti-join — bucket it on ``h`` in production for a zero-shuffle probe
(plan-proven for the batch operator in
tests/test_operators.py::test_incremental_dedup_bucketed_seen_side_no_exchange).

Reference lineage: the serial contaminant cascade (run.py:213-274) run
forever — each arriving batch probes the accumulated index the way each
read probes the contaminant databases.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .runner import DOC_DDL, batch_dir, read_or_empty, run_stream, source


def stream_dedup(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    seen_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """readStream(input_dir) -> foreachBatch(incremental_dedup_exact
    vs the stored hash table) -> idempotent per-batch-id parquet sinks.

    Returns the StreamingQuery. Survivors land under
    ``out_dir/batch_id=<n>/``, their hashes under
    ``seen_dir/batch_id=<n>/`` — read either tree whole to get the
    table. A replayed micro-batch overwrites its own directories, so
    re-triggering with the same checkpoint adds nothing (tested)."""
    from ..operators.dedup import incremental_dedup_exact

    def _process(batch_df, batch_id: int) -> None:
        seen = read_or_empty(spark, seen_dir, "h string")
        # new_hashes is re-derived below from the checkpointed survivors
        # (identical by construction) so both sinks share one computation
        clean, _ = incremental_dedup_exact(batch_df, "doc_id", "text", seen)
        # materialize ONCE: clean and new_hashes share the probe subplan,
        # and the second write must see the same rows the first did
        clean = clean.localCheckpoint(eager=True)
        clean.write.mode("overwrite").parquet(batch_dir(out_dir, batch_id))
        clean.select(F.md5("text").alias("h")).write.mode("overwrite").parquet(
            batch_dir(seen_dir, batch_id)
        )

    stream = source(spark, input_dir, DOC_DDL, max_files_per_trigger)
    return run_stream(stream, checkpoint_dir, per_batch=_process)
