"""Structured Streaming variant of the fused seven-verdict audio screen.

The monitoring deployment of operators/audioscreen.screen_audio: newly
landed clip files are screened continuously — VAD, SNR, pitch, hum/DC,
bandwidth, reverb and dynamic-range verdicts appended to a partitioned
verdict table as each micro-batch arrives, so corpus-health dashboards
(and ingest-gating policies) read fresh numbers without a batch sweep.

screen_audio is stateless per clip (one Arrow stage, zero shuffles, no
windows), so the SAME plan object runs under readStream unchanged — the
stream==batch contract the QC pipeline holds, extended to the screen
family (pytest-gated: identical verdict rows on identical input).
Exactly-once comes from the sink checkpoint, as in qc_stream.

Reference lineage: the reference is strictly batch (SURVEY.md §2.8);
this is an engine extension, like qc_stream.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..operators.audioscreen import screen_audio
from .qc_stream import CLIP_DDL
from .runner import run_stream, source


def stream_screen(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """readStream(input_dir) -> screen_audio -> append parquet verdicts.
    Returns the started StreamingQuery."""
    clips = source(spark, input_dir, CLIP_DDL)
    return run_stream(screen_audio(clips), checkpoint_dir, out_dir)
