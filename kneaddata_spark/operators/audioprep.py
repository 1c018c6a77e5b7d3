"""Fused audio-prep stage: ONE decode drives the whole canonical-form
chain (resample -> loudness-normalize -> stats).

Why fusion is a first-class operator and not just a convenience: the
per-stage operators (resample.resample_audio, resample.loudness_normalize,
vad.vad_segments) each decode `bytes` inside their own Arrow stage — the
right shape when a pipeline runs ONE of them, but composing them naively
re-decodes the corpus once PER STAGE. At 100 TB of clip bytes the decode
pass IS the dominant cost (BASELINE.md: the audio decode kernel is the
per-core Python-CPU ceiling), so the composed pipeline must ship the
whole kernel chain into a single ArrowEvalPython stage: decode once,
transform in-registers, emit scalars once. Same per-stage integer
kernels (resample_linear, loudness_gain/apply_gain — bit-identical to
running the stages separately, which is what the test asserts), same
no-binary-Python->JVM rule.

This mirrors how the engine's QC hot path was built (pipeline.annotate:
one Arrow stage for decode+trim+score) — fusion is the audio analog of
whole-stage codegen, applied at the Python-kernel layer Spark cannot
fuse for us.

Scale shape: embarrassingly parallel, zero shuffles, one Arrow stage.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.audio import clip_udf
from .resample import MAX_GAIN_Q15, apply_gain, loudness_gain, resample_linear

_PREP_T = T.StructType(
    [
        T.StructField("n_in", T.LongType()),
        T.StructField("n_out", T.LongType()),
        T.StructField("rms_in", T.LongType()),
        T.StructField("rms_out", T.LongType()),
        T.StructField("gain_q15", T.LongType()),
        T.StructField("crc_out", T.LongType()),
    ]
)


def _make_prep_udf(target_sr: int, target_rms: int):
    def prep_of(x, sr: int) -> tuple:
        y = resample_linear(x, sr, target_sr)
        rms_in, gain = loudness_gain(y, target_rms, MAX_GAIN_Q15)
        z = apply_gain(y, gain)
        rms_out, _ = loudness_gain(z, target_rms, MAX_GAIN_Q15)
        return (len(x), len(z), rms_in, rms_out, gain, zlib.crc32(z.astype("<i2").tobytes()))

    return clip_udf(_PREP_T, prep_of, rate=True)


def prep_audio(
    clips: DataFrame,
    target_sr: int = 16000,
    target_rms: int = 4096,
) -> DataFrame:
    """(clip_id, sr_src, n_in, n_out, rms_in, rms_out, gain_q15, crc_out)
    — the full canonical-form prep (rate then loudness) from ONE decode.
    crc_out is bit-identical to running resample_audio then
    loudness_normalize on its Python-side payload (pytest-proven).

    Cost honesty (BASELINE.md has the measured walls): with this
    sandbox's codecs, decode is frombuffer/memcpy-cheap, so fused vs
    chained walls are statistically indistinguishable on the noisy test
    box. The structural saving fusion locks in — ONE parquet scan of the
    bytes column and ONE decode instead of one per stage — is
    proportional to codec cost: a real flac/opus/mp3 kernel through the
    registry seam is 10-100x the kernel math, and the bytes-column scan
    alone is the dominant I/O at 100 TB."""
    st = _make_prep_udf(int(target_sr), int(target_rms))().alias("__p")
    return (
        clips.select("clip_id", "sr_hz", st)
        .where(F.col("__p").isNotNull())
        .select("clip_id", F.col("sr_hz").cast("long").alias("sr_src"), "__p.*")
    )
