"""MFCC: orthonormal DCT-II cepstra over the log-mel filterbank frames.

The classical ASR feature (Davis & Mermelstein 1980; Kaldi/HTK default
front-end): decorrelate the FBANK_N_MELS log-mel bands of every frame
with a type-II discrete cosine transform and keep the first n_ceps
coefficients. Completes the audio feature family: fbank (spectral
envelope) -> SpecAugment (training masking) -> THIS (compact cepstra).

Engine shape (the specaugment precedent): the ONE Arrow fbank stage
produces the frame matrix; the DCT itself is pure JVM Column algebra —
each coefficient is a zip_with dot product of the mel vector against a
plan-time literal weight row (23 floats), folded by F.aggregate. The
cepstral lift adds ZERO Python and zero shuffles, and the same algebra
applies unchanged to SpecAugment-masked frames (any df with the frames
schema goes through mfcc_over).

Determinism contract: JVM double arithmetic is IEEE-754 and F.aggregate
folds left in element order, so the pytest replica (a python loop doing
the same float32->float64 promote, multiply, and left-fold add) is
bit-identical — the same engine-vs-replica rule every audio witness in
this repo follows. Witness integers use explicit half-up milli rounding
(the np.round half-even / Spark HALF_UP trap, CLAUDE.md).

Orthonormal DCT-II (scipy `dct(type=2, norm='ortho')` convention):
  W[k][b] = s_k * cos(pi * k * (2b + 1) / (2 * N)),
  s_0 = sqrt(1/N), s_{k>0} = sqrt(2/N)
so a constant mel vector v yields c_0 = v * sqrt(N), c_{k>0} = 0 — the
hand anchor the tests pin.

Reference lineage: FastQC's per-read derived-statistics panel (SURVEY §2
A-family) — a fixed per-item transform of an upstream feature table.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import rules
from .fbank import clip_frames

__all__ = ["MFCC_N_CEPS", "dct_weights", "mfcc_over", "mfcc_stats", "mfcc_frames"]

MFCC_N_CEPS = 13


def dct_weights(n_ceps: int, n_mels: int) -> list:
    """Orthonormal DCT-II rows as plain python floats (plan-time
    literals; the replica reads THIS function)."""
    rows = []
    for k in range(n_ceps):
        s = math.sqrt(1.0 / n_mels) if k == 0 else math.sqrt(2.0 / n_mels)
        rows.append(
            [s * math.cos(math.pi * k * (2 * b + 1) / (2.0 * n_mels)) for b in range(n_mels)]
        )
    return rows


def _dot(mel: Column, weights: list) -> Column:
    """Left-fold dot product of a float32 mel vector against a literal
    weight row, entirely in double (the IEEE order the replica replays)."""
    w = F.array(*[F.lit(float(x)) for x in weights])
    return F.aggregate(
        F.zip_with(mel, w, lambda m, wk: m.cast("double") * wk),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def mfcc_over(frames_df: DataFrame) -> DataFrame:
    """Attach `ceps` (array<struct<frame_idx:int, c:array<double>>>) to
    any df carrying the fbank frames schema (clip_id, frames) — the
    composition seam (fbank output or SpecAugment-masked frames alike).
    Pure Column algebra; no Python, no shuffle."""
    n_mels = int(rules.FBANK_N_MELS)
    w = dct_weights(MFCC_N_CEPS, n_mels)
    ceps = F.transform(
        F.col("frames"),
        lambda fr: F.struct(
            fr["frame_idx"].alias("frame_idx"),
            F.array(*[_dot(fr["mel"], wk) for wk in w]).alias("c"),
        ),
    )
    return frames_df.withColumn("ceps", ceps)


def mfcc_stats(clips: DataFrame) -> DataFrame:
    """Scalar witness panel: (clip_id, n_frames, n_ceps, c0_sum_milli,
    cep_digest_milli). c0_sum_milli is the integer sum of the per-frame
    half-up-milli c0 (energy-like term; a SUM, not a mean — no division,
    so no cross-engine truncation semantics to replicate);
    cep_digest_milli is the half-up milli sum over every (frame,
    coefficient) cell — a deterministic fingerprint of the whole
    cepstral matrix. One Arrow stage, zero shuffles, DCT in JVM HOFs."""
    e = mfcc_over(clip_frames(clips)).withColumn("n_frames", F.size("frames"))
    milli = lambda v: F.floor(v * 1000.0 + 0.5).cast("long")  # noqa: E731
    c0_sum = F.aggregate(
        F.col("ceps"),
        F.lit(0).cast("long"),
        lambda acc, fr: acc + milli(F.element_at(fr["c"], 1)),
    )
    digest = F.aggregate(
        F.col("ceps"),
        F.lit(0).cast("long"),
        lambda acc, fr: acc
        + F.aggregate(
            fr["c"], F.lit(0).cast("long"), lambda a, v: a + milli(v)
        ),
    )
    return e.select(
        "clip_id",
        F.col("n_frames").cast("long").alias("n_frames"),
        F.lit(MFCC_N_CEPS).cast("long").alias("n_ceps"),
        c0_sum.alias("c0_sum_milli"),
        digest.alias("cep_digest_milli"),
    )


def mfcc_frames(clips: DataFrame) -> DataFrame:
    """The training surface: (clip_id, frame_idx, mfcc array<float>) —
    one row per 10 ms frame, MFCC_N_CEPS coefficients. Same single Arrow
    stage; fan-out is a JVM explode."""
    e = mfcc_over(clip_frames(clips))
    return e.select("clip_id", F.explode("ceps").alias("fr")).select(
        "clip_id",
        F.col("fr.frame_idx").alias("frame_idx"),
        F.transform(F.col("fr.c"), lambda v: v.cast("float")).alias("mfcc"),
    )
