"""Structured Streaming variant of WARC container ingest.

The crawl-archive deployment of sources/warc.read_warc: shard files land
continuously in a directory (exactly how a crawler hands off — it
closes a ~1 GB .warc.gz and moves on), each micro-batch walks the new
shards into record rows and appends them to a partitioned parquet
table, so every downstream screen (html_extract, the crawl-policy
gates, crawled-audio QC) reads fresh records without a batch sweep.

The record walk is stateless per FILE (records_from_files: one
mapInPandas, soft per-record failure), so the identical plan runs under
readStream — the stream==batch contract the QC and html ingests hold,
extended to the container source (pytest-gated: identical rows, binary
payloads byte-equal). Exactly-once comes from the sink checkpoint;
binaryFile is a standard file streaming source, so the runner's
backlog trigger applies unchanged.

Reference lineage: the reference is strictly batch (SURVEY.md §2.8);
engine extension like qc_stream/html_stream.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..sources.warc import records_from_files
from .runner import BINARY_FILE_DDL, run_stream, source


def stream_warc_records(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """readStream(binaryFile over input_dir) -> record walk -> append
    parquet record rows. Returns the started StreamingQuery."""
    files = source(spark, input_dir, BINARY_FILE_DDL, fmt="binaryFile")
    return run_stream(records_from_files(files), checkpoint_dir, out_dir)
