"""Sample-rate normalization: resample every kept clip to one target rate.

The fourth audio-axis operator (QC trim -> acoustic near-dup -> VAD ->
resample): an acoustic-model training run consumes ONE sample rate, and a
web-scale clip corpus arrives at five (rules.VALID_SR_HZ) — so the
pipeline's last audio stage is "everything to 16 kHz". The reference's
analog is the format-unification role of its FASTQ re-emission stage
(every accepted read leaves in one canonical format regardless of how it
arrived, utilities.py bam/sam->fastq); here the canonical form is the
sample RATE rather than the container.

Kernel (integer-exact linear interpolation; the replica in tests
re-derives it from this paragraph): for output index i, the source
position is num = i * sr_src, split as k = num // sr_dst and
rem = num - k * sr_dst; the sample is
``(x[k] * (sr_dst - rem) + x[min(k+1, n-1)] * rem) // sr_dst``
(floor division, int64 intermediates), with n_out = n * sr_dst // sr_src
and the identity shortcut when sr_src == sr_dst. Pure integers — no
float phase accumulator, so engine and replica agree bit-for-bit at any
ratio (48000->16000 integer, 22050->16000 non-integer alike). Linear
interpolation (not windowed-sinc) is the documented quality/cost choice:
one pass, no transcendentals, adequate for 16 kHz speech targets; a
sinc kernel drops into the same seam without touching the plan.

Boundary contract (the VAD/audiodup shape): bytes crosses JVM->Python
once inside ONE ArrowEvalPython stage and only SCALARS return — sample
counts and the crc32 of the resampled little-endian int16 stream.
Resampled BYTES stay Python-side (the no-binary-Python->JVM invariant;
same rule as multimodal.resize_images thumbnails): a production run
writes them to the output table from inside the stage partition, and
downstream consumers key on (clip_id, resampled_crc).

Scale shape: embarrassingly parallel, zero shuffles — the stage fuses
over whatever partitioning the scan provides.
"""

from __future__ import annotations

import zlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.audio import clip_udf


def resample_linear(x: np.ndarray, sr_src: int, sr_dst: int) -> np.ndarray:
    """int16 samples at sr_src -> int16 samples at sr_dst (see module
    docstring for the exact integer formula). Empty in -> empty out."""
    if sr_src <= 0 or sr_dst <= 0:
        raise ValueError(f"sample rates must be positive ({sr_src}->{sr_dst})")
    if sr_src == sr_dst:
        return x
    n = len(x)
    n_out = n * sr_dst // sr_src
    if n == 0 or n_out == 0:
        return np.empty(0, dtype=np.int16)
    i = np.arange(n_out, dtype=np.int64)
    num = i * sr_src
    k = num // sr_dst
    rem = num - k * sr_dst
    k1 = np.minimum(k + 1, n - 1)
    xs = x.astype(np.int64)
    val = (xs[k] * (sr_dst - rem) + xs[k1] * rem) // sr_dst
    return val.astype(np.int16)


_RES_T = T.StructType(
    [
        T.StructField("n_in", T.LongType()),
        T.StructField("n_out", T.LongType()),
        T.StructField("crc_out", T.LongType()),
    ]
)


def _make_udf(target_sr: int):
    def resample_of(x: np.ndarray, sr: int) -> tuple:
        y = resample_linear(x, sr, target_sr)
        # crc over the canonical little-endian stream: the consumer-side
        # join key for the Python-side payload
        return (len(x), len(y), zlib.crc32(y.astype("<i2").tobytes()))

    return clip_udf(_RES_T, resample_of, rate=True)


def resample_audio(clips: DataFrame, target_sr: int = 16000) -> DataFrame:
    """(clip_id, sr_src, sr_dst, n_in, n_out, crc_out, passthrough) — one
    row per decodable clip; undecodable payloads/invalid rates drop (a QC
    stage upstream already labeled them). passthrough=1 marks clips
    already at target_sr (crc is then the crc of the ORIGINAL stream —
    the identity shortcut, byte-for-byte). Zero shuffles, one Arrow
    stage."""
    st = _make_udf(int(target_sr))().alias("__r")
    return (
        clips.select("clip_id", "sr_hz", st)
        .where(F.col("__r").isNotNull())
        .select(
            "clip_id",
            F.col("sr_hz").cast("long").alias("sr_src"),
            F.lit(int(target_sr)).cast("long").alias("sr_dst"),
            "__r.*",
            (F.col("sr_hz") == F.lit(int(target_sr))).cast("int").alias("passthrough"),
        )
    )


# ------------------------------------------------------------- loudness --
# The second canonical-form audio stage: after everyone is at one sample
# rate, bring everyone to one loudness. Integer Q15 fixed-point gain so
# engine and replica agree bit-for-bit:
#   rms_in  = isqrt(sum(x^2) // n)            (integer RMS, int64 safe)
#   gain    = min(target_rms * 32768 // max(rms_in, 1), MAX_GAIN_Q15)
#   y       = clip((x * gain) >> 15, -32768, 32767)
# (>> on negatives is an arithmetic shift = floor division by 2^15 in
# both numpy int64 and python int — same rounding everywhere.)
# MAX_GAIN_Q15 caps the boost on near-silent clips: amplifying noise-floor
# clips 1000x manufactures garbage, not loudness parity.

import math

MAX_GAIN_Q15 = 1 << 18  # 8x boost cap


def loudness_gain(x: np.ndarray, target_rms: int, max_gain_q15: int) -> tuple[int, int]:
    """-> (rms_in, gain_q15) for int16 samples; empty input -> (0, cap)."""
    n = len(x)
    if n == 0:
        return 0, int(max_gain_q15)
    acc = int((x.astype(np.int64) ** 2).sum())
    rms = math.isqrt(acc // n)
    gain = min(int(target_rms) * 32768 // max(rms, 1), int(max_gain_q15))
    return rms, gain


def apply_gain(x: np.ndarray, gain_q15: int) -> np.ndarray:
    y = (x.astype(np.int64) * int(gain_q15)) >> 15
    return np.clip(y, -32768, 32767).astype(np.int16)


_LN_T = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("rms_in", T.LongType()),
        T.StructField("rms_out", T.LongType()),
        T.StructField("gain_q15", T.LongType()),
        T.StructField("crc_out", T.LongType()),
    ]
)


def _make_loudnorm_udf(target_rms: int):
    def loudnorm_of(x: np.ndarray) -> tuple:
        rms_in, gain = loudness_gain(x, target_rms, MAX_GAIN_Q15)
        y = apply_gain(x, gain)
        rms_out, _ = loudness_gain(y, target_rms, MAX_GAIN_Q15)
        return (len(x), rms_in, rms_out, gain, zlib.crc32(y.astype("<i2").tobytes()))

    return clip_udf(_LN_T, loudnorm_of)


def loudness_normalize(clips: DataFrame, target_rms: int = 4096) -> DataFrame:
    """(clip_id, n, rms_in, rms_out, gain_q15, crc_out) — one row per
    decodable clip, normalized toward target_rms (~ -18 dBFS at the 4096
    default) under the Q15 integer kernel above; normalized BYTES stay
    Python-side (the resample/resize rule), consumers key on
    (clip_id, crc_out). Zero shuffles, one Arrow stage."""
    st = _make_loudnorm_udf(int(target_rms))().alias("__l")
    return (
        clips.select("clip_id", st)
        .where(F.col("__l").isNotNull())
        .select("clip_id", "__l.*")
    )


# ------------------------------------------------------- augmentation ----
# Speed perturbation — the standard ASR training augmentation (Ko et al.
# 2015: train on {0.9x, 1.0x, 1.1x} copies): resample the samples by a
# rational factor and KEEP the sample-rate label, so playback runs
# faster/slower with a proportional pitch shift. Rational rates through
# the same integer-exact linear kernel (resample_linear cares only about
# the num/den ratio), so the augmented copies are deterministic and
# replica-reproducible like every other audio stage.

_SP_T = T.ArrayType(
    T.StructType(
        [
            T.StructField("num", T.LongType()),
            T.StructField("den", T.LongType()),
            T.StructField("n_out", T.LongType()),
            T.StructField("crc_out", T.LongType()),
        ]
    )
)


def _make_speed_udf(rates: tuple):
    def speed_of(x: np.ndarray) -> list:
        row = []
        for num, den in rates:
            # speed s = num/den plays n*den/num samples in the original
            # duration: resample_linear(x, num, den) emits exactly that
            y = x if num == den else resample_linear(x, int(num), int(den))
            row.append((int(num), int(den), len(y), zlib.crc32(y.astype("<i2").tobytes())))
        return row

    return clip_udf(_SP_T, speed_of)


def speed_perturb(
    clips: DataFrame,
    rates: tuple = ((9, 10), (10, 10), (11, 10)),
) -> DataFrame:
    """(clip_id, sr_hz, speed_permille, n_out, dur_out_ms, crc_out) —
    |rates| rows per decodable clip (the augmented training copies; the
    identity rate is the byte-identical original stream). ALL rates run
    off ONE decode (the audioprep decode-once fusion — per-rate stages
    would re-pay the Python decode ceiling per copy); augmented bytes
    stay Python-side (the resample rule), consumers key on
    (clip_id, speed_permille, crc_out). Zero shuffles, one Arrow stage.
    """
    for num, den in rates:
        if num <= 0 or den <= 0:
            raise ValueError(f"rates must be positive rationals ({num}/{den})")
    st = _make_speed_udf(tuple((int(n), int(d)) for n, d in rates))().alias("__a")
    ex = clips.select(
        "clip_id", F.col("sr_hz").cast("long").alias("sr_hz"), st
    ).where(F.col("__a").isNotNull() & (F.col("sr_hz") > 0)).select(
        "clip_id", "sr_hz", F.explode("__a").alias("r")
    )
    return ex.select(
        "clip_id",
        "sr_hz",
        F.expr("r.num * 1000 div r.den").cast("long").alias("speed_permille"),
        F.col("r.n_out").alias("n_out"),
        F.expr("r.n_out * 1000 div sr_hz").cast("long").alias("dur_out_ms"),
        F.col("r.crc_out").alias("crc_out"),
    )


# Noise-mix augmentation — the second standard ASR augment (after speed):
# add deterministic noise at a target speech-to-noise POWER ratio (the
# snr_screen convention: ratio 10 IS 10 dB, no float dB anywhere).
# Integer kernel, replica-exact:
#   meansq_x = sum(x^2) div n                      (int64-exact, snr.py)
#   noise r  = Philox(key=[NOISE_SEED, crc32(id)]) ints in [-2048, 2048]
#   gain_q15 = isqrt((meansq_x div ratio) << 30 div max(meansq_r, 1))
#   y        = clip(x + (r * gain_q15) >> 15)      (arithmetic shift)
# so meansq((r*g)>>15) ~= meansq_x / ratio. Philox keyed by crc32(clip_id)
# (the synth.py per-row keying pattern): the noise is a pure function of
# the clip id — partition- and retry-invariant, reproducible in the test
# replica without shipping noise payloads.

NOISE_SEED = 0x6E6F6973  # 'nois'
NOISE_AMP = 2048


def mix_noise(x: np.ndarray, clip_key: int, ratio: int) -> tuple[np.ndarray, int]:
    """(mixed int16 samples, gain_q15). Pure function of (x, key, ratio)."""
    n = len(x)
    if n == 0 or ratio <= 0:
        return x, 0
    xs = x.astype(np.int64)
    meansq_x = int((xs * xs).sum()) // n
    rng = np.random.default_rng(np.random.Philox(key=[NOISE_SEED, clip_key]))
    r = rng.integers(-NOISE_AMP, NOISE_AMP + 1, n).astype(np.int64)
    meansq_r = int((r * r).sum()) // n
    gain = math.isqrt(((meansq_x // ratio) << 30) // max(meansq_r, 1))
    y = xs + ((r * gain) >> 15)
    return np.clip(y, -32768, 32767).astype(np.int16), gain


_NM_T = T.ArrayType(
    T.StructType(
        [
            T.StructField("ratio", T.LongType()),
            T.StructField("gain_q15", T.LongType()),
            T.StructField("meansq_x", T.LongType()),
            T.StructField("crc_out", T.LongType()),
        ]
    )
)


def _make_noise_udf(ratios: tuple):
    def noise_of(x: np.ndarray, cid) -> list:
        key = zlib.crc32(str(cid).encode())
        xs = x.astype(np.int64)
        meansq_x = int((xs * xs).sum()) // max(len(x), 1)
        row = []
        for ratio in ratios:
            y, g = mix_noise(x, key, int(ratio))
            row.append((int(ratio), g, meansq_x, zlib.crc32(y.astype("<i2").tobytes())))
        return row

    return clip_udf(_NM_T, noise_of)


def noise_mix(
    clips: DataFrame,
    ratios: tuple = (10, 100),
) -> DataFrame:
    """(clip_id, snr_ratio, gain_q15, meansq_x, crc_out) — |ratios| noisy
    training copies per decodable clip (ratio 10 ~ 10 dB, 100 ~ 20 dB),
    ALL from ONE decode; noisy bytes stay Python-side (the resample
    rule), consumers key on (clip_id, snr_ratio, crc_out). Deterministic
    noise (Philox keyed by crc32(clip_id)) makes augmented shards
    retry-idempotent and replica-verifiable. Zero shuffles, one Arrow
    stage."""
    for ratio in ratios:
        if ratio <= 0:
            raise ValueError(f"ratios must be positive ({ratio})")
    st = _make_noise_udf(tuple(int(r) for r in ratios))(F.col("clip_id")).alias("__m")
    return (
        clips.select("clip_id", st)
        .where(F.col("__m").isNotNull())
        .select("clip_id", F.explode("__m").alias("r"))
        .select(
            "clip_id",
            F.col("r.ratio").alias("snr_ratio"),
            F.col("r.gain_q15").alias("gain_q15"),
            F.col("r.meansq_x").alias("meansq_x"),
            F.col("r.crc_out").alias("crc_out"),
        )
    )
