"""G.711 companding transcode (mu-law AND A-law): 16-bit PCM -> 8-bit codes.

The storage-tier move for speech corpora (telephony's 2:1 with ~segment-
proportional quantization error): at 10^12 clips, halving the payload
bytes halves every scan downstream. G.711 is INTEGER-DEFINED — 8
logarithmic segments, 4-bit mantissa, bias 0x84 — so encode/decode are
exact integer kernels (no transcendental, no float), replica-verifiable
like the resample/noise kernels.

Engine shape (the speed_perturb pattern): ONE Arrow stage decodes s16
once, compands, expands back, and emits SCALAR witnesses (code crc,
round-trip crc, max abs error, integer companding SNR) — coded payload
bytes stay Python-side (the `bytes` boundary rule), consumers key on
(clip_id, law, crc_code). Zero shuffles.

Reference lineage: the trimmed-output re-emission stage (kneaddata
writes transformed reads back per stage, run.py tmp outputs) — here the
transform is the payload codec itself.
"""

from __future__ import annotations

import zlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.audio import clip_udf

MU_BIAS = 0x84  # 132
MU_CLIP = 32635


def mulaw_encode(x: np.ndarray) -> np.ndarray:
    """int16 -> uint8 G.711 mu-law codes (vectorized integer kernel).
    Spot anchors (pytest): 0 -> 0xFF, -32768 -> 0x00, +32767 -> 0x80."""
    s = x.astype(np.int32)
    sign = np.where(s < 0, 0x80, 0).astype(np.int32)
    mag = np.where(s < 0, -s, s)
    mag = np.minimum(mag, MU_CLIP) + MU_BIAS
    t = mag >> 7  # in [1, 255] (mag >= BIAS)
    exponent = np.zeros_like(t)
    for k in range(1, 8):
        exponent += (t >= (1 << k)).astype(np.int32)
    mantissa = (mag >> (exponent + 3)) & 0x0F
    return ((~(sign | (exponent << 4) | mantissa)) & 0xFF).astype(np.uint8)


def mulaw_decode(mu: np.ndarray) -> np.ndarray:
    """uint8 mu-law codes -> int16 (exact inverse of the segment/mantissa
    representation; |x - decode(encode(x))| < 2^(exponent+3) <= 1024)."""
    m = (~mu.astype(np.int32)) & 0xFF
    sign = m & 0x80
    exponent = (m >> 4) & 0x07
    mantissa = m & 0x0F
    mag = (((mantissa << 3) + MU_BIAS) << exponent) - MU_BIAS
    return np.where(sign != 0, -mag, mag).astype(np.int16)


_G711_T = T.ArrayType(
    T.StructType(
        [T.StructField("law", T.StringType())]
        + [
            T.StructField(n, T.LongType())
            for n in ("n_samples", "crc_code", "crc_rt", "max_abs_err", "meansq_x", "snr_q")
        ]
    )
)


def _make_g711_udf(laws: tuple):
    kernels = {"mulaw": (mulaw_encode, mulaw_decode), "alaw": (alaw_encode, alaw_decode)}

    def g711_of(x: np.ndarray) -> list:
        xi = x.astype(np.int64)
        meansq_x = int((xi**2).sum() // len(x))
        row = []
        for law in laws:
            enc, dec = kernels[law]
            code = enc(x)
            rt = dec(code)
            err = np.abs(xi - rt.astype(np.int64))
            meansq_e = int((err**2).sum() // len(x))
            row.append(
                (
                    law,
                    int(len(x)),
                    int(zlib.crc32(code.tobytes())),
                    int(zlib.crc32(rt.astype("<i2").tobytes())),
                    int(err.max()),
                    meansq_x,
                    # integer companding SNR (power ratio, snr_screen
                    # convention: 100 ~ 20 dB)
                    meansq_x // max(meansq_e, 1),
                )
            )
        return row

    return clip_udf(_G711_T, g711_of)


def g711_transcode(
    clips: DataFrame,
    laws: tuple = ("mulaw", "alaw"),
) -> DataFrame:
    """(clip_id, law, n_samples, crc_code, crc_rt, max_abs_err, meansq_x,
    snr_q) — |laws| rows per decodable clip, BOTH companding laws from
    ONE decode (the speed_perturb decode-once fusion). Undecodable clips
    drop (the screens' NULL rule). One Arrow stage, zero shuffles."""
    for law in laws:
        if law not in ("mulaw", "alaw"):
            raise ValueError(f"unknown companding law: {law}")
    st = _make_g711_udf(tuple(laws))().alias("__g")
    ex = (
        clips.select("clip_id", st)
        .where(F.col("__g").isNotNull())
        .select("clip_id", F.explode("__g").alias("r"))
    )
    return ex.select("clip_id", "r.*")


# A-law — G.711's other half (European trunks); same segment structure,
# different low-segment behavior (linear below 256, no bias) and the
# even-bit toggle 0x55 instead of full complement.

ALAW_XOR = 0x55


_ALAW_SEG_ENDS = (0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF)


def alaw_encode(x: np.ndarray) -> np.ndarray:
    """int16 -> uint8 G.711 A-law codes — the standard CCITT formulation
    (13-bit domain: s = x >> 3; negatives map via -s - 1; segments 0 and
    1 are both linear with mantissa = (mag >> 1) & 0xF; positive codes
    carry mask 0xD5, negative 0x55), vectorized."""
    s = x.astype(np.int32) >> 3
    mask = np.where(s >= 0, 0xD5, 0x55).astype(np.int32)
    mag = np.minimum(np.where(s >= 0, s, -s - 1), 0xFFF)
    seg = np.zeros_like(mag)
    for end in _ALAW_SEG_ENDS:
        seg += (mag > end).astype(np.int32)
    mantissa = np.where(seg < 2, (mag >> 1) & 0x0F, (mag >> seg) & 0x0F)
    return (((seg << 4) | mantissa) ^ mask).astype(np.uint8)


def alaw_decode(code: np.ndarray) -> np.ndarray:
    """uint8 A-law codes -> int16 (CCITT cell-midpoint reconstruction;
    output is already 16-bit scale — max round-trip error ~520 at the
    top segment, ~15 in the linear segments)."""
    a = code.astype(np.int32) ^ ALAW_XOR
    t = (a & 0x0F) << 4
    seg = (a >> 4) & 0x07
    # the seg>=2 branch shifts by (seg-1); clip keeps the vector shift
    # well-defined for every lane (seg 0/1 lanes take the other branches)
    hi = (t + 0x108) << np.clip(seg - 1, 0, 6)
    mag = np.where(seg == 0, t + 8, np.where(seg == 1, t + 0x108, hi))
    return np.where((a & 0x80) != 0, mag, -mag).astype(np.int16)
