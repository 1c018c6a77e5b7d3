"""Structured Streaming variant of HTML -> text extraction.

The crawl-ingest deployment of operators/htmlextract.html_extract:
freshly crawled page files are extracted continuously — text plus the
crawl-quality accounting card (kept_permille, script/style flags, link
count) appended to a partitioned table as each micro-batch lands, so
the downstream document screens (and kept_permille health dashboards)
read fresh pages without a batch sweep. Stage ZERO of the pipeline is
exactly the stage that SHOULD be streaming: everything upstream of it
is the crawler.

html_extract is stateless per page (one codegen project, zero Python,
zero shuffles, no windows), so the SAME plan object runs under
readStream unchanged — the stream==batch contract the QC pipeline
holds, extended to the web-ingest family (pytest-gated: identical rows
on identical input). Exactly-once comes from the sink checkpoint, as in
qc_stream.

Reference lineage: the reference is strictly batch (SURVEY.md §2.8);
this is an engine extension, like qc_stream.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..operators.htmlextract import html_extract
from .runner import run_stream, source

PAGE_DDL = "doc_id LONG, html STRING"


def stream_html_extract(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """readStream(input_dir) -> html_extract -> append parquet rows.
    Returns the started StreamingQuery."""
    pages = source(spark, input_dir, PAGE_DDL)
    return run_stream(html_extract(pages, "doc_id", "html"), checkpoint_dir, out_dir)
