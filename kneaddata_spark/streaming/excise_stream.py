"""Structured Streaming substring decontamination with span EXCISION: a
continuously-arriving document stream is screened against a FIXED
benchmark/eval suite, and every micro-batch emits its documents with
contaminated token spans cut out (dedup.excise_substrings — the Lee et
al. 2022 span-removal shape) plus a per-batch contamination metric row.

The production shape at 10^12 scale: eval suites are frozen long before
the crawl ends, so the benchmark fingerprint set is computed ONCE (tiny:
~2/(window+1) of the suite's k-grams), persisted, and re-probed by every
micro-batch — the stream side never re-winnows the benchmark. Each batch
is map-shaped exactly like the batch operator (witness semi-join against
the broadcast fingerprint set, doc-keyed span merge, JVM rebuild).

Idempotency follows the module convention (dedup_stream.py): outputs land
in ``batch_id=<n>`` directories written with mode=overwrite, so a
replayed micro-batch overwrites its own previous attempt — re-triggering
with the same checkpoint adds nothing (tested stream==batch + replay in
tests/test_streaming.py).

Reference lineage: the trim stages cut contaminated SPANS of each read as
it flows through (run.py:372-450); this is that stage run forever against
a fixed contaminant index.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .runner import DOC_DDL, batch_dir, run_stream, source


def stream_excise(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    benchmark: DataFrame,
    k: int = 4,
    window: int = 4,
    max_files_per_trigger: int | None = None,
):
    """readStream(input_dir) -> foreachBatch(excise_substrings vs the
    once-computed benchmark fingerprint set) -> idempotent per-batch-id
    parquet sinks. Cleaned docs land under ``out_dir/docs/batch_id=<n>/``
    (doc_id, clean_text, n_tokens, n_cut, n_spans); one metric row per
    batch under ``out_dir/metrics/batch_id=<n>/`` (n_docs, docs_touched,
    toks, cut). Returns the StreamingQuery."""
    from ..operators.dedup import benchmark_fingerprints, excise_substrings

    # benchmark fingerprints: computed once, pinned for the LIFE OF THE
    # STREAM (the benchmark is frozen; every micro-batch probes this
    # frame). Deliberately exempt from operators/caching.persist_tracked:
    # tracked pins are released after every micro-batch (runner) and at
    # the next query build, which would drop a live stream's cache. Storage level spelled out per the
    # caching.py rule (corpus-scale frames must spill, not OOM); the
    # pin is released when the stream's session ends.
    from pyspark import StorageLevel

    bfp = benchmark_fingerprints(benchmark, "doc_id", "text", k, window).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    bfp.count()  # materialize before the first trigger

    def _process(batch_df, batch_id: int) -> None:
        out = excise_substrings(
            batch_df, None, "doc_id", "text", k, window, benchmark_fps=bfp
        )
        # materialize ONCE: the docs sink and the metric aggregate must
        # see identical rows (same convention as dedup_stream)
        out = out.localCheckpoint(eager=True)
        out.write.mode("overwrite").parquet(
            batch_dir(os.path.join(out_dir, "docs"), batch_id)
        )
        out.groupBy().agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum((F.col("n_cut") > 0).cast("long")).alias("docs_touched"),
            F.sum("n_tokens").alias("toks"),
            F.sum("n_cut").alias("cut"),
        ).write.mode("overwrite").parquet(
            batch_dir(os.path.join(out_dir, "metrics"), batch_id)
        )

    stream = source(spark, input_dir, DOC_DDL, max_files_per_trigger)
    return run_stream(stream, checkpoint_dir, per_batch=_process)
