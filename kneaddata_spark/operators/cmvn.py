"""Per-clip CMVN: cepstral/feature mean-variance normalization.

The normalization every ASR front-end applies between feature extraction
and training (Kaldi `apply-cmvn`, torchaudio sliding CMVN): per clip and
per mel band, subtract the band mean over the clip's frames and divide
by the band standard deviation, so channel gain and spectral tilt cancel
before the model sees the features. Completes the feature family:
fbank -> SpecAugment -> MFCC -> THIS.

Engine shape (the specaugment/mfcc precedent): the ONE Arrow fbank stage
produces the frame matrix; BOTH statistics passes (band sums + band
sum-of-squares, each a zip_with fold across frames) and the
normalization itself are pure JVM Column algebra — zero extra Python,
zero shuffles, and per-clip state is two length-23 double arrays. The
same algebra applies to any df carrying the frames schema (cmvn_over),
so masked or cepstral frames normalize identically.

Determinism contract: F.aggregate folds left in element order over IEEE
doubles, so the pytest replica (float32->float64 promote, same fold
order, same var floor) is bit-identical — the engine-vs-replica rule
every audio witness follows. Variance uses the two-pass-free E[x^2] -
mean^2 form floored at rules.CMVN_VAR_FLOOR (log-mel values are O(10),
so the cancellation loss is far above the floor; a CONSTANT band — e.g.
silence pinned at log(FBANK_LOG_FLOOR) — hits the floor and normalizes
to exactly 0 instead of dividing by ~0).

Reference lineage: the per-read quality rescaling the trim stages apply
before thresholding (SURVEY §2 F-family) — a per-item statistic feeding
a per-element transform of the same item.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import rules
from .fbank import clip_frames

__all__ = ["cmvn_over", "cmvn_stats", "cmvn_frames"]


def cmvn_over(frames_df: DataFrame) -> DataFrame:
    """Attach per-band `mean`/`std` (array<double>) and `normalized`
    (array<struct<frame_idx:int, mel:array<double>>>) to any df carrying
    the fbank frames schema (clip_id, frames). Pure Column algebra."""
    n_mels = int(rules.FBANK_N_MELS)
    zeros = F.array_repeat(F.lit(0.0), n_mels)
    nf = F.size("frames").cast("double")
    sums = F.aggregate(
        F.col("frames"),
        zeros,
        lambda acc, fr: F.zip_with(acc, fr["mel"], lambda a, m: a + m.cast("double")),
    )
    sumsq = F.aggregate(
        F.col("frames"),
        zeros,
        lambda acc, fr: F.zip_with(
            acc, fr["mel"], lambda a, m: a + m.cast("double") * m.cast("double")
        ),
    )
    # Divisor guarded with greatest(nf, 1): bit-identical for every real
    # row (nf >= 1 after the size>0 filter, and greatest(nf,1)==nf), but
    # keeps an EMPTY frames row well-defined (mean 0 over zeros) now that
    # the let-binding below evaluates mean/std eagerly per row — the old
    # inlined form simply never evaluated them when `frames` was empty,
    # and ANSI mode turns 0/0 into an error, not a NULL.
    nfs = F.greatest(nf, F.lit(1.0))
    e = frames_df.withColumn("mean", F.transform(sums, lambda s: s / nfs))
    e = e.withColumn(
        "std",
        F.zip_with(
            sumsq,
            F.col("mean"),
            lambda q, mu: F.sqrt(
                F.greatest(q / nfs - mu * mu, F.lit(float(rules.CMVN_VAR_FLOOR)))
            ),
        ),
    )
    # r6 (guide §4.4 duplicated-expression class): referencing the mean/std
    # COLUMNS inside the per-frame lambda let the optimizer inline their
    # whole O(frames x mels) aggregate expressions into the lambda body,
    # re-evaluating both PER FRAME — O(frames^2 x mels) per clip, measured
    # 151 s for the 400-clip witness panel. Binding them through a
    # single-element array transform makes them lambda VARIABLES (evaluated
    # once per row, immune to projection collapse): same operations, same
    # IEEE fold order, same values — 151 s -> ~2 s. The [0] unwraps the
    # 1-element binding array.
    normalized = F.transform(
        F.array(F.struct(F.col("mean").alias("mu"), F.col("std").alias("sd"))),
        lambda b: F.transform(
            F.col("frames"),
            lambda fr: F.struct(
                fr["frame_idx"].alias("frame_idx"),
                F.zip_with(
                    F.zip_with(
                        fr["mel"], b["mu"], lambda m, mu: m.cast("double") - mu
                    ),
                    b["sd"],
                    lambda d, s: d / s,
                ).alias("mel"),
            ),
        ),
    )[0]
    return e.withColumn("normalized", normalized)


def cmvn_stats(clips: DataFrame) -> DataFrame:
    """Scalar witness panel: (clip_id, n_frames, n_mels,
    max_abs_band_mean_micro, min_band_var_milli, max_band_var_milli,
    norm_digest_milli). The first three audit the normalization's own
    postcondition — every band's post-CMVN mean is 0 to rounding
    (max |mean| in half-up MICRO units) and every un-floored band's
    post-CMVN variance is 1.000 (milli) — and the digest fingerprints
    the normalized matrix. One Arrow stage, zero shuffles."""
    n_mels = int(rules.FBANK_N_MELS)
    e = cmvn_over(clip_frames(clips)).withColumn("n_frames", F.size("frames"))
    nf = F.col("n_frames").cast("double")
    zeros = F.array_repeat(F.lit(0.0), n_mels)
    nsum = F.aggregate(
        F.col("normalized"),
        zeros,
        lambda acc, fr: F.zip_with(acc, fr["mel"], lambda a, v: a + v),
    )
    nsumsq = F.aggregate(
        F.col("normalized"),
        zeros,
        lambda acc, fr: F.zip_with(acc, fr["mel"], lambda a, v: a + v * v),
    )
    micro = lambda v: F.floor(v * 1000000.0 + 0.5).cast("long")  # noqa: E731
    milli = lambda v: F.floor(v * 1000.0 + 0.5).cast("long")  # noqa: E731
    max_abs_mean = F.array_max(
        F.transform(nsum, lambda s: micro(F.abs(s / nf)))
    )
    var_arr = F.zip_with(nsumsq, nsum, lambda q, s: q / nf - (s / nf) * (s / nf))
    digest = F.aggregate(
        F.col("normalized"),
        F.lit(0).cast("long"),
        lambda acc, fr: acc
        + F.aggregate(fr["mel"], F.lit(0).cast("long"), lambda a, v: a + milli(v)),
    )
    return e.select(
        "clip_id",
        F.col("n_frames").cast("long").alias("n_frames"),
        F.lit(n_mels).cast("long").alias("n_mels"),
        max_abs_mean.alias("max_abs_band_mean_micro"),
        F.array_min(F.transform(var_arr, milli)).alias("min_band_var_milli"),
        F.array_max(F.transform(var_arr, milli)).alias("max_band_var_milli"),
        digest.alias("norm_digest_milli"),
    )


def cmvn_frames(clips: DataFrame) -> DataFrame:
    """The training surface: (clip_id, frame_idx, mel array<float>) with
    per-clip mean-variance normalization applied. Same single Arrow
    stage; fan-out is a JVM explode."""
    e = cmvn_over(clip_frames(clips))
    return e.select("clip_id", F.explode("normalized").alias("fr")).select(
        "clip_id",
        F.col("fr.frame_idx").alias("frame_idx"),
        F.transform(F.col("fr.mel"), lambda v: v.cast("float")).alias("mel"),
    )
