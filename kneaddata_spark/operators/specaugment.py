"""SpecAugment: deterministic time/frequency masking over log-mel frames.

The standard ASR training augmentation (Park et al. 2019): zero out a
few whole time-frame stripes and a few whole mel-band stripes of each
clip's feature matrix so the model cannot rely on any single region.
Composes directly over the decode-once fbank stage (operators/fbank.py)
— the natural next stage after feature extraction in a training-shard
pipeline (fbank -> SpecAugment -> webdataset shards).

Engine shape: the ONE Arrow fbank stage produces the frame matrix; ALL
masking is JVM Column algebra over the array<struct> column (transform /
aggregate higher-order functions inside whole-stage codegen) — the
augmentation itself adds ZERO Python and zero shuffles. Mask geometry is
a pure integer function of (clip_id, seed) via crc32 (the noise_mix
Philox rule: augmentation must be partition/retry-invariant, never
rand()), so augmented shards are retry-idempotent and the pytest replica
re-derives every mask position exactly.

Per Park et al.: each time mask has length t ~ [0, max_t] capped at
n_frames, start t0 ~ [0, n_frames - t]; each frequency mask length
f ~ [0, max_f] capped at n_mels, start f0 ~ [0, n_mels - f]; masked
cells take value 0.0 (the torchaudio mask_value default — distinguishable
from real log-mel values, which sit near log(FBANK_LOG_FLOOR) for
silence).

The driver query (`specaugment`) emits the scalar witness panel only
(mask geometry + exact masked-cell count + an integer milli-digest of
the masked matrix); the training surface is `specaugment_frames`
(clip_id, frame_idx, mel with masks applied).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import rules
from .fbank import clip_frames

__all__ = ["specaugment", "specaugment_frames"]


def _mask_param(clip_id: Column, tag: str, j: int, seed: int, mod: Column) -> Column:
    """Deterministic integer in [0, mod): crc32 of 'clip_id|tag|j|seed'
    reduced by pmod — the documented derivation the replica replays.
    mod must be >= 1."""
    key = F.concat_ws("|", clip_id, F.lit(tag), F.lit(str(j)), F.lit(str(seed)))
    return F.pmod(F.crc32(key.cast("binary")), mod)


def _masked_frame(
    clips: DataFrame,
    n_time_masks: int,
    max_t: int,
    n_freq_masks: int,
    max_f: int,
    seed: int,
) -> DataFrame:
    """Shared plan: fbank frames + mask geometry columns + the masked
    array column `masked` (array<struct<frame_idx,mel>>)."""
    n_mels = int(rules.FBANK_N_MELS)
    e = clip_frames(clips).withColumn("n_frames", F.size("frames"))

    cid = F.col("clip_id")
    nf = F.col("n_frames")
    for j in range(n_time_masks):
        tl = _mask_param(cid, "tlen", j, seed, F.lit(max_t + 1))
        tl = F.least(tl, nf)  # cap at the clip's frame count
        e = e.withColumn(f"t_len_{j}", tl)
        e = e.withColumn(
            f"t0_{j}", _mask_param(cid, "t0", j, seed, nf - F.col(f"t_len_{j}") + 1)
        )
    for j in range(n_freq_masks):
        fl = F.least(
            _mask_param(cid, "flen", j, seed, F.lit(max_f + 1)), F.lit(n_mels)
        )
        e = e.withColumn(f"f_len_{j}", fl)
        e = e.withColumn(
            f"f0_{j}",
            _mask_param(cid, "f0", j, seed, F.lit(n_mels) - F.col(f"f_len_{j}") + 1),
        )

    def t_hit(fr_idx: Column) -> Column:
        hit = F.lit(False)
        for j in range(n_time_masks):
            t0, tl = F.col(f"t0_{j}"), F.col(f"t_len_{j}")
            hit = hit | ((fr_idx >= t0) & (fr_idx < t0 + tl))
        return hit

    def f_hit(bin_idx: Column) -> Column:
        hit = F.lit(False)
        for j in range(n_freq_masks):
            f0, fl = F.col(f"f0_{j}"), F.col(f"f_len_{j}")
            hit = hit | ((bin_idx >= f0) & (bin_idx < f0 + fl))
        return hit

    masked = F.transform(
        F.col("frames"),
        lambda fr: F.struct(
            fr["frame_idx"].alias("frame_idx"),
            F.when(
                t_hit(fr["frame_idx"].cast("long")),
                F.transform(fr["mel"], lambda v: F.lit(0.0).cast("float")),
            )
            .otherwise(
                F.zip_with(
                    fr["mel"],
                    F.sequence(F.lit(0), F.lit(n_mels - 1)),
                    lambda v, bi: F.when(f_hit(bi.cast("long")), F.lit(0.0).cast("float")).otherwise(v),
                )
            )
            .alias("mel"),
        ),
    )
    return e.withColumn("masked", masked)


def specaugment(
    clips: DataFrame,
    n_time_masks: int = 2,
    max_t: int = 20,
    n_freq_masks: int = 2,
    max_f: int = 4,
    seed: int = 0,
) -> DataFrame:
    """Scalar witness panel: (clip_id, n_frames, n_mels, per-mask t0/
    t_len/f0/f_len, n_masked_cells, masked_digest_milli). The masked
    cell count is EXACT (counted over the mask predicate, not the
    values, so a natural 0.0 can never alias a mask); the digest is the
    half-up milli sum of the masked matrix — a deterministic integer
    fingerprint of the training surface. One Arrow stage, zero
    shuffles, masking in whole-stage codegen."""
    n_mels = int(rules.FBANK_N_MELS)
    e = _masked_frame(clips, n_time_masks, max_t, n_freq_masks, max_f, seed)

    def t_hit(fr_idx: Column) -> Column:
        hit = F.lit(False)
        for j in range(n_time_masks):
            t0, tl = F.col(f"t0_{j}"), F.col(f"t_len_{j}")
            hit = hit | ((fr_idx >= t0) & (fr_idx < t0 + tl))
        return hit

    # union length of the <= n_freq_masks bin intervals, computed once
    # per clip by scanning the n_mels bin indexes (23 — constant work)
    f_mask_bins = F.aggregate(
        F.sequence(F.lit(0), F.lit(n_mels - 1)),
        F.lit(0).cast("long"),
        lambda acc, bi: acc
        + F.when(
            _f_hit_expr(bi.cast("long"), n_freq_masks), F.lit(1).cast("long")
        ).otherwise(F.lit(0).cast("long")),
    )
    e = e.withColumn("f_mask_bins", f_mask_bins)

    n_masked = F.aggregate(
        F.col("frames"),
        F.lit(0).cast("long"),
        lambda acc, fr: acc
        + F.when(t_hit(fr["frame_idx"].cast("long")), F.lit(n_mels).cast("long")).otherwise(
            F.col("f_mask_bins")
        ),
    )
    digest = F.aggregate(
        F.col("masked"),
        F.lit(0).cast("long"),
        lambda acc, fr: acc
        + F.aggregate(
            fr["mel"],
            F.lit(0).cast("long"),
            lambda a, v: a + F.floor(v.cast("double") * 1000.0 + 0.5).cast("long"),
        ),
    )
    cols = [
        F.col("clip_id"),
        F.col("n_frames").cast("long").alias("n_frames"),
        F.lit(n_mels).cast("long").alias("n_mels"),
    ]
    for j in range(n_time_masks):
        cols += [
            F.col(f"t0_{j}").cast("long").alias(f"t0_{j}"),
            F.col(f"t_len_{j}").cast("long").alias(f"t_len_{j}"),
        ]
    for j in range(n_freq_masks):
        cols += [
            F.col(f"f0_{j}").cast("long").alias(f"f0_{j}"),
            F.col(f"f_len_{j}").cast("long").alias(f"f_len_{j}"),
        ]
    cols += [
        n_masked.alias("n_masked_cells"),
        digest.alias("masked_digest_milli"),
    ]
    return e.select(*cols)


def _f_hit_expr(bin_idx: Column, n_freq_masks: int) -> Column:
    hit = F.lit(False)
    for j in range(n_freq_masks):
        f0, fl = F.col(f"f0_{j}"), F.col(f"f_len_{j}")
        hit = hit | ((bin_idx >= f0) & (bin_idx < f0 + fl))
    return hit


def specaugment_frames(
    clips: DataFrame,
    n_time_masks: int = 2,
    max_t: int = 20,
    n_freq_masks: int = 2,
    max_f: int = 4,
    seed: int = 0,
) -> DataFrame:
    """The training surface: (clip_id, frame_idx, mel) with masks
    applied — fbank_frames' schema, augmented. Same single Arrow stage;
    the fan-out is a JVM explode."""
    e = _masked_frame(clips, n_time_masks, max_t, n_freq_masks, max_f, seed)
    return e.select("clip_id", F.explode("masked").alias("fr")).select(
        "clip_id",
        F.col("fr.frame_idx").alias("frame_idx"),
        F.col("fr.mel").alias("mel"),
    )
