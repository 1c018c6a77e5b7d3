"""FLAC archival transcode: any decodable clip -> a REAL FLAC stream,
losslessly, with per-clip round-trip proof.

The lossless counterpart to the G.711 storage move (companding.py): at
10^12 clips the cold tier wants a compressed-but-exact payload, and FLAC
is the archival standard for PCM speech. The codec is implemented
in-repo (functions/flaccodec.py — mono/16-bit subset of the public
spec), so this operator both exercises a genuinely compressed format
through the registry and measures what it buys: compressed size, ratio,
and a decode-back CRC that must equal the source CRC (lossless by
construction; the witness makes it auditable per row).

Engine shape (the g711_transcode pattern): ONE Arrow stage decodes s16
once (shared registry decode — pcm/wav/real-flac/fake containers all
work), encodes to FLAC, decodes back, and emits SCALAR witnesses only —
the flac payload bytes stay Python-side (the `bytes` boundary rule);
consumers key on (clip_id, crc_pcm). Zero shuffles, no per-row Python
UDFs (one vectorized-internals arrow_udf).

Reference lineage: kneaddata re-emits transformed reads per stage
(run.py tmp outputs); here the transform is the payload codec itself,
and the `roundtrip_exact` witness is the trimmed-output byte-equality
idea (tests/basic_tests.py golden-file checks) applied to audio.
"""

from __future__ import annotations

import zlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.audio import clip_udf
from ..functions.flaccodec import decode_flac, encode_flac

BLOCK_SIZE = 4096  # samples per FLAC frame

_FLAC_T = T.StructType(
    [
        T.StructField("n_samples", T.LongType()),
        T.StructField("raw_bytes", T.LongType()),
        T.StructField("flac_bytes", T.LongType()),
        T.StructField("ratio_permille", T.LongType()),
        T.StructField("crc_pcm", T.LongType()),
        T.StructField("crc_rt", T.LongType()),
        T.StructField("roundtrip_exact", T.BooleanType()),
        T.StructField("n_frames", T.LongType()),
    ]
)


def flac_of(x: np.ndarray) -> tuple:
    x = x.astype(np.int16, copy=False)
    enc = encode_flac(x, 16000, block_size=BLOCK_SIZE)
    rt = decode_flac(enc)
    return (
        int(len(x)),
        int(2 * len(x)),
        int(len(enc)),
        # integer permille (the shared-threshold convention:
        # Spark/DuckDB integer div agree, float round doesn't)
        int(len(enc) * 1000 // (2 * len(x))),
        int(zlib.crc32(x.astype("<i2").tobytes())),
        int(zlib.crc32(rt.astype("<i2").tobytes())) if rt is not None else -1,
        bool(rt is not None and np.array_equal(rt, x)),
        int((len(x) + BLOCK_SIZE - 1) // BLOCK_SIZE),
    )


_flac_udf = clip_udf(_FLAC_T, flac_of)


_RE_T = T.StructType(
    [
        T.StructField("bytes", T.BinaryType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("flac_bytes", T.LongType()),
        T.StructField("roundtrip_exact", T.BooleanType()),
    ]
)


def reencode_of(x: np.ndarray, s, e) -> "tuple | None":
    lo = int(s or 0)
    hi = int(e) if e is not None else len(x)
    if hi <= lo or hi > len(x):
        return None
    seg = x[lo:hi].astype(np.int16, copy=False)
    enc = encode_flac(seg, 16000, block_size=BLOCK_SIZE)
    rt = decode_flac(enc)
    return (
        enc,
        int(len(seg)),
        int(len(enc)),
        bool(rt is not None and np.array_equal(rt, seg)),
    )


_reencode_udf = clip_udf(_RE_T, reencode_of)


def reencode_trimmed(qc_out: DataFrame) -> DataFrame:
    """Archival sink for the QC output's `needs_reencode` rows (real FLAC
    and any future compressed codec): decode the ORIGINAL payload once,
    slice [trim_start, trim_end), re-encode as FLAC, and emit the trimmed
    compressed payload with a decode-back exactness witness.

    This is the deliberate, fenced exception to the `bytes`-never-crosses-
    Python->JVM rule: an ENCODE sink must materialize bytes somewhere, and
    this stage runs on the (small) needs_reencode subset AFTER the QC hot
    path — annotate()'s one-Arrow-stage/zero-byte-return plan is untouched
    (pytest-pinned in test_pipeline_run). Filter pushdown keeps the scan
    tight: the input is the status=kept partition with
    `needs_reencode = true`, typically permille-scale of the corpus.

    Reference lineage: kneaddata re-writes trimmed reads per stage
    (run.py:372-450 tmp outputs); this is that re-emission for payloads the
    JVM byte algebra cannot slice."""
    st = _reencode_udf(F.col("trim_start"), F.col("trim_end")).alias("__r")
    ex = (
        qc_out.where(F.col("needs_reencode"))
        .select("clip_id", "sr_hz", "dur_ms", st)
        .where(F.col("__r").isNotNull())
    )
    return ex.select(
        "clip_id",
        F.col("__r.bytes").alias("bytes"),
        F.lit("flac").alias("codec"),
        F.col("sr_hz"),
        F.col("dur_ms"),
        F.col("__r.n_samples").alias("n_samples"),
        F.col("__r.flac_bytes").alias("flac_bytes"),
        F.col("__r.roundtrip_exact").alias("roundtrip_exact"),
    )


def flac_archive(clips: DataFrame) -> DataFrame:
    """(clip_id, n_samples, raw_bytes, flac_bytes, ratio_permille,
    crc_pcm, crc_rt, roundtrip_exact, n_frames) — one row per decodable
    clip. Undecodable clips drop (the screens' NULL rule). roundtrip_exact
    is the per-row lossless proof: crc_rt == crc_pcm for every emitted row
    (pytest-pinned; also an aggregate gate in the driver query's test)."""
    ex = clips.select("clip_id", _flac_udf().alias("__f"))
    return ex.where(F.col("__f").isNotNull()).select("clip_id", "__f.*")
