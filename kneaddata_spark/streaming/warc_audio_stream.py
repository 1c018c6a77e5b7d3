"""Structured Streaming crawled-audio QC: WARC shards in, QC'd clips out.

The streaming deployment of the warc_audio_qc composition — the crawler
drops .warc.gz shards of fetched audio; each micro-batch walks the new
shards into records (records_from_files, the same stateless mapInPandas
as batch), gates on audio content-type, derives clip ids from the URI,
joins the STATIC transcript/metadata catalog (a stream-static join:
Spark broadcasts or re-reads the static side per batch — no streaming
state, no watermark needed, because the catalog is a plain bounded
table), and runs the full QC annotate (one ArrowEvalPython, verdicts in
codegen) appending qc_output_select rows partitioned by status.

Everything in the chain is stateless per record, so stream==batch holds
end-to-end (pytest: per-status counts and kept clip ids identical to
the batch composition on the same shards). Exactly-once from the sink
checkpoint, as in qc_stream/html_stream/warc_stream.

Reference lineage: the reference is strictly batch (SURVEY.md §2.8);
engine extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline import annotate, broadcast_models, qc_output_select
from ..sources.warc import records_from_files
from .runner import BINARY_FILE_DDL, run_stream, source


def stream_warc_audio_qc(
    spark: SparkSession,
    input_dir: str,
    catalog: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    langid_bc=None,
    ppl_bc=None,
):
    """readStream(binaryFile shards) -> records -> audio gate -> static
    catalog join -> annotate -> append parquet partitioned by status.
    `catalog` is a BOUNDED frame (clip_id, sr_hz, dur_ms, codec,
    transcript). Returns the started StreamingQuery."""
    if langid_bc is None or ppl_bc is None:
        langid_bc, ppl_bc = broadcast_models(spark)
    files = source(spark, input_dir, BINARY_FILE_DDL, fmt="binaryFile")
    recs = records_from_files(files)
    audio = recs.where(
        (F.col("warc_type") == "response")
        & F.col("http_content_type").startswith("audio/")
    ).select(
        F.regexp_extract("target_uri", r"/([^/]+)\.bin$", 1).alias("clip_id"),
        F.col("payload").alias("bytes"),
    )
    clips = audio.join(F.broadcast(catalog), "clip_id").select(
        "clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"
    )
    out = qc_output_select(annotate(clips, langid_bc, ppl_bc))
    return run_stream(out, checkpoint_dir, out_dir, partition_by=("status",))
