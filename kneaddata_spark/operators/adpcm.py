"""IMA ADPCM transcode: block-based 16-bit PCM -> 4-bit codes (4:1).

The third storage-tier codec family (G.711 companding = lossy 2:1,
FLAC = lossless, THIS = lossy ~3.95:1): IMA/DVI ADPCM is the
INTEGER-DEFINED adaptive-delta codec (89-entry step table, 8-entry
index-adjust table, no transcendental, no float) that WAV files ship as
format tag 0x0011. Like G.711 it is replica-verifiable bit-for-bit.

Why BLOCK-based (the WAV-IMA layout: 505 samples per mono 256-byte
block, each block header carrying its own initial predictor + step
index) rather than one stream-long recurrence: the per-sample feedback
loop (quantize against the running predictor) is inherently sequential,
so a stream-long formulation cannot be vectorized OR split. Per-block
state reset is exactly what makes the real format seekable — and the
same property makes it data-parallel: every block of every clip in an
Arrow batch encodes in ONE vectorized time-step loop across a
(n_blocks, 505) matrix (504 steps regardless of corpus size), the same
shape a 100 TB corpus keeps per task. The header's initial index is
chosen per block from the block's mean |delta| (spec-legal — decoders
read whatever the header says — and it restores the adaptation that the
reset would otherwise lose).

Engine shape (the g711_transcode pattern): ONE Arrow stage decodes s16
once via the shared codec registry, encodes to packed IMA blocks,
decodes BACK FROM THE PACKED BYTES (an honest byte-format round-trip
proof, the flac_archive rule), and emits SCALAR witnesses (code crc,
round-trip crc, max abs error, integer SNR, block/byte accounting) —
coded payload bytes stay Python-side (the `bytes` boundary rule);
consumers key on (clip_id, crc_code). Zero shuffles.

Reference lineage: the per-stage trimmed-output re-emission
(/root/reference/kneaddata/run.py writes transformed reads back per
stage); here the transform is the payload codec itself.
"""

from __future__ import annotations

import zlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.audio import clip_udf

__all__ = [
    "ADPCM_BLOCK",
    "STEP_TABLE",
    "INDEX_ADJ",
    "ima_encode_blocks",
    "ima_decode_blocks",
    "pack_blocks",
    "unpack_blocks",
    "adpcm_transcode",
]

# Mono 256-byte WAV-IMA block: 4-byte header (predictor:int16le,
# index:uint8, reserved:0) + 252 code bytes = 504 coded samples; the
# header's predictor IS sample 0, so each block covers 505 samples.
ADPCM_BLOCK = 505
_CODED = ADPCM_BLOCK - 1          # 504 coded samples per block
_BLOCK_BYTES = 4 + _CODED // 2    # 256

STEP_TABLE = np.array(
    [
        7, 8, 9, 10, 11, 12, 13, 14, 16, 17,
        19, 21, 23, 25, 28, 31, 34, 37, 41, 45,
        50, 55, 60, 66, 73, 80, 88, 97, 107, 118,
        130, 143, 157, 173, 190, 209, 230, 253, 279, 307,
        337, 371, 408, 449, 494, 544, 598, 658, 724, 796,
        876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
        2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358,
        5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
        15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
    ],
    dtype=np.int32,
)

# index adjustment by code magnitude (code & 7)
INDEX_ADJ = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int32)

# blocks per vectorized group: bounds the (n_blocks, 505) int16/int32
# working set to ~35/70 MB per temporary regardless of batch size
_MAX_GROUP_BLOCKS = 32768


def _init_index(xb: np.ndarray) -> np.ndarray:
    """Per-block initial step index (stored in the header; spec-legal):
    the largest index whose step <= the block's integer mean |delta| —
    deterministic, vectorized, and replayed verbatim by the pytest
    replica. xb: (n_blocks, ADPCM_BLOCK) int32."""
    md = np.abs(np.diff(xb, axis=1)).sum(axis=1) // _CODED
    return np.clip(
        np.searchsorted(STEP_TABLE, md, side="right") - 1, 0, len(STEP_TABLE) - 1
    ).astype(np.int32)


def ima_encode_blocks(xb: np.ndarray) -> tuple:
    """Encode a (n_blocks, ADPCM_BLOCK) int32 sample matrix -> (pred0
    (n_blocks,) int16 header predictors, idx0 (n_blocks,) int32 header
    indexes, codes (n_blocks, 504) uint8). One 504-step loop vectorized
    across every block (the data-parallel axis); per-step work is the
    canonical IMA quantizer: 3-bit successive-approximation magnitude
    against the current step, reconstruction feedback through the
    clamped predictor, index walk through STEP_TABLE."""
    nb = xb.shape[0]
    pred0 = np.clip(xb[:, 0], -32768, 32767).astype(np.int32)
    idx0 = _init_index(xb)
    pred = pred0.copy()
    idx = idx0.copy()
    codes = np.empty((nb, _CODED), dtype=np.uint8)
    for t in range(1, ADPCM_BLOCK):
        s = xb[:, t]
        step = STEP_TABLE[idx]
        diff = s - pred
        sign = diff < 0
        mag = np.abs(diff)
        vp = step >> 3
        ge = mag >= step
        delta = ge.astype(np.int32) << 2
        mag = mag - step * ge
        vp = vp + step * ge
        h = step >> 1
        ge = mag >= h
        delta |= ge.astype(np.int32) << 1
        mag = mag - h * ge
        vp = vp + h * ge
        q = step >> 2
        ge = mag >= q
        delta |= ge.astype(np.int32)
        vp = vp + q * ge
        pred = np.clip(pred + np.where(sign, -vp, vp), -32768, 32767)
        code = delta | (sign.astype(np.int32) << 3)
        idx = np.clip(idx + INDEX_ADJ[code & 7], 0, len(STEP_TABLE) - 1)
        codes[:, t - 1] = code
    return pred0.astype(np.int16), idx0, codes


def ima_decode_blocks(pred0: np.ndarray, idx0: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """Decode (pred0, idx0, codes) -> (n_blocks, ADPCM_BLOCK) int16.
    Same vectorized-across-blocks 504-step loop; reconstruction is
    vpdiff = step>>3 (+ step if bit2, + step>>1 if bit1, + step>>2 if
    bit0), signed by bit3, predictor clamped to int16."""
    nb = codes.shape[0]
    out = np.empty((nb, ADPCM_BLOCK), dtype=np.int16)
    pred = pred0.astype(np.int32)
    idx = idx0.astype(np.int32).copy()
    out[:, 0] = pred0
    for t in range(_CODED):
        code = codes[:, t].astype(np.int32)
        step = STEP_TABLE[np.clip(idx, 0, len(STEP_TABLE) - 1)]
        vp = (
            (step >> 3)
            + step * ((code >> 2) & 1)
            + (step >> 1) * ((code >> 1) & 1)
            + (step >> 2) * (code & 1)
        )
        pred = np.clip(pred + np.where(code & 8, -vp, vp), -32768, 32767)
        idx = np.clip(idx + INDEX_ADJ[code & 7], 0, len(STEP_TABLE) - 1)
        out[:, t + 1] = pred
    return out


def pack_blocks(pred0: np.ndarray, idx0: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """(n_blocks, 256) uint8 packed WAV-IMA blocks: 4-byte header
    (pred int16le, index, 0) then 252 code bytes, LOW nibble = earlier
    sample (the IMA/DVI convention)."""
    nb = codes.shape[0]
    out = np.zeros((nb, _BLOCK_BYTES), dtype=np.uint8)
    p = pred0.astype("<i2").view(np.uint8).reshape(nb, 2)
    out[:, 0:2] = p
    out[:, 2] = idx0.astype(np.uint8)
    out[:, 4:] = codes[:, 0::2] | (codes[:, 1::2] << 4)
    return out


def unpack_blocks(packed: np.ndarray) -> tuple:
    """Inverse of pack_blocks over a (n_blocks, 256) uint8 matrix."""
    pred0 = packed[:, 0:2].copy().view("<i2").reshape(-1)
    idx0 = packed[:, 2].astype(np.int32)
    nib = packed[:, 4:]
    nb = packed.shape[0]
    codes = np.empty((nb, _CODED), dtype=np.uint8)
    codes[:, 0::2] = nib & 0x0F
    codes[:, 1::2] = nib >> 4
    return pred0, idx0, codes


def _transcode_one(x: np.ndarray) -> tuple:
    """Full per-clip round trip THROUGH the packed byte format:
    blockify (last block pads by repeating the final sample) -> encode
    -> pack -> UNPACK -> decode -> slice. Returns (packed_bytes,
    rt int16[:n], n_blocks)."""
    n = len(x)
    n_blocks = (n + ADPCM_BLOCK - 1) // ADPCM_BLOCK
    xb = np.empty((n_blocks, ADPCM_BLOCK), dtype=np.int32)
    flat = xb.reshape(-1)
    flat[:n] = x
    flat[n:] = int(x[-1])
    rt = np.empty(n, dtype=np.int16)
    packed_parts = []
    for g0 in range(0, n_blocks, _MAX_GROUP_BLOCKS):
        grp = xb[g0 : g0 + _MAX_GROUP_BLOCKS]
        packed = pack_blocks(*ima_encode_blocks(grp))
        dec = ima_decode_blocks(*unpack_blocks(packed))
        lo = g0 * ADPCM_BLOCK
        hi = min(n, lo + grp.shape[0] * ADPCM_BLOCK)
        rt[lo:hi] = dec.reshape(-1)[: hi - lo]
        packed_parts.append(packed.tobytes())
    return b"".join(packed_parts), rt, n_blocks


_ADPCM_T = T.StructType(
    [
        T.StructField(n, T.LongType())
        for n in (
            "n_samples",
            "n_blocks",
            "n_code_bytes",
            "crc_code",
            "crc_rt",
            "max_abs_err",
            "meansq_x",
            "snr_q",
        )
    ]
)


def adpcm_of(x: np.ndarray) -> tuple:
    """int16 samples -> the _ADPCM_T witnesses of one IMA round trip."""
    packed, rt, n_blocks = _transcode_one(x.astype(np.int32))
    xi = x.astype(np.int64)
    err = np.abs(xi - rt.astype(np.int64))
    meansq_x = int((xi**2).sum() // len(x))
    meansq_e = int((err**2).sum() // len(x))
    return (
        int(len(x)),
        int(n_blocks),
        len(packed),
        int(zlib.crc32(packed)),
        int(zlib.crc32(rt.astype("<i2").tobytes())),
        int(err.max()),
        meansq_x,
        # integer SNR (power ratio; the snr_screen no-dB rule)
        meansq_x // max(meansq_e, 1),
    )


_adpcm_udf = clip_udf(_ADPCM_T, adpcm_of)


def adpcm_transcode(clips: DataFrame) -> DataFrame:
    """(clip_id, n_samples, n_blocks, n_code_bytes, crc_code, crc_rt,
    max_abs_err, meansq_x, snr_q) — one row per decodable clip; the
    crc_code payload is the packed block stream (256 bytes per 505
    samples, ~3.95:1 vs s16), crc_rt proves the byte format decodes
    back. Undecodable clips drop (the screens' NULL rule). One Arrow
    stage, zero shuffles."""
    ex = clips.select("clip_id", _adpcm_udf().alias("__a"))
    return ex.where(F.col("__a").isNotNull()).select("clip_id", "__a.*")
