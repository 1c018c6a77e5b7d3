"""Streaming image ingest screen (9th streaming capability).

Continuous image ingestion screened against a GROWING perceptual index:
each micro-batch is dhashed once (imagedup.image_dhash — one Arrow
stage; the corpus is never re-decoded), probed against the accumulated
band index (incremental_image_dedup semantics: pigeonhole candidates,
exact bit_count verify — zero false positives/negatives w.r.t. the
dhash metric), and the SURVIVORS' band rows are appended to the index
so later batches dedup against earlier ones. Both sinks write
``batch_id=<n>/`` dirs with overwrite — the per-batch-dir replay
isolation every stateful stream here uses: a replayed micro-batch
overwrites its own attempt instead of appending, so at-least-once
delivery cannot double-screen or double-index.

100 TB shape: per-batch work = one Arrow decode of the BATCH only +
a join of N_BANDS·|batch| probe rows against the stored index (bucket
the index by (band, chunk) at scale); image bytes never reshuffle.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .runner import batch_dir, read_or_empty, run_stream, source

MEDIA_DDL = "media_id string, bytes binary, mime string"
_INDEX_DDL = "band int, chunk bigint, id string, dhash bigint"


def stream_image_screen(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    max_hamming: int = 3,
):
    """readStream(parquet dir of MEDIA_DDL rows) -> foreachBatch
    (incremental_image_dedup vs the accumulated index) -> survivors
    under ``out_dir/batch_id=<n>/`` (id + verdict only — payload bytes
    stay in the source tree), their band rows under
    ``index_dir/batch_id=<n>/``."""
    from ..operators.imagedup import image_band_index, incremental_image_dedup

    def _process(batch_df, batch_id: int) -> None:
        idx = read_or_empty(spark, index_dir, _INDEX_DDL)
        surv, flagged = incremental_image_dedup(
            batch_df, idx, max_hamming=max_hamming
        )
        surv = surv.localCheckpoint(eager=True)
        (
            surv.select("media_id", F.lit("kept").alias("status"))
            .unionByName(flagged.select("media_id", F.lit("flagged").alias("status")))
            .write.mode("overwrite")
            .parquet(batch_dir(out_dir, batch_id))
        )
        image_band_index(surv).write.mode("overwrite").parquet(
            batch_dir(index_dir, batch_id)
        )

    return run_stream(
        source(spark, input_dir, MEDIA_DDL), checkpoint_dir, per_batch=_process
    )
