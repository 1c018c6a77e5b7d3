"""Fixed-stride training-window extraction from audio clips — the audio
analog of doc_chunks (context-window chunking): an ASR/audio-LM trainer
consumes fixed-duration windows, not variable-length clips.

The notable property: this needs ZERO decode. For every codec in the
registry the PCM payload is a contiguous byte range of the original
`bytes` column (s16le at 2 bytes/sample, u8 at 1), so window boundaries
are pure integer arithmetic over `octet_length(bytes)` + `sr_hz`, and the
window payloads are JVM `substring` slices — no Arrow stage, no Python
worker, no shuffle; just a Generate (posexplode of a `sequence`) inside
whole-stage codegen. Decode-free slicing is what a 10^12-clip chunking
pass must be: the QC pipeline already paid the decode once; chunking that
re-decodes pays the per-core Python ceiling (BASELINE.md) a second time
for arithmetic a scan can do.

Validity gates mirror the decoders structurally (functions/audio.CODECS,
oracle.decode_pcm): fake containers must carry magic + exact LE-u32
payload length (checked JVM-side by comparing the length field against
the re-encoded expected value); wavs must be canonical 44-byte layout
with a data size matching the tail (non-canonical wavs are NOT sliced at
fixed offsets — the bytes_trimmed_col rule); odd s16 payloads and unknown
codecs emit no windows. Emitted windows are RAW PCM (`pcm_s16le` /
`pcm_u8`) — the container is QC provenance, not training payload.

Windows are FULL windows at a fixed stride: start sample k*stride while
k*stride + win <= n_samples (a short tail is dropped — fixed-size
training batches; pair with vad.speech_only_clips upstream so the tail
is silence-free before it is cut).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import rules
from ..functions.audio import WAV_CANONICAL_SQL, le_u32_sql

__all__ = ["clip_windows"]


def clip_windows(
    clips: DataFrame,
    win_ms: int = 2000,
    stride_ms: int = 1000,
) -> DataFrame:
    """(clip_id, win_idx, start_ms, n_samples, pcm_codec, win_bytes) —
    one row per full fixed-duration window. Integer-exact: win/stride in
    samples are ``sr * ms div 1000`` (the VAD frame rule); start_ms back
    from samples by the same div so engine and replica agree bit-for-bit.
    """
    if win_ms <= 0 or stride_ms <= 0:
        raise ValueError("win_ms and stride_ms must be positive")
    fake_magics = {c: m.hex().upper() for c, m in rules.FAKE_MAGIC.items()}
    fake_ok = " OR ".join(
        f"(codec = '{c}' AND hex(substring(bytes, 1, 4)) = '{h}' "
        f"AND substring(bytes, 5, 4) = {le_u32_sql('octet_length(bytes) - 8')})"
        for c, h in fake_magics.items()
    )
    wav_data_ok = (
        f"({WAV_CANONICAL_SQL} AND "
        f"substring(bytes, 41, 4) = {le_u32_sql('octet_length(bytes) - 44')})"
    )
    a = clips.select(
        "clip_id", "codec", F.col("sr_hz").cast("long").alias("sr_hz"), "bytes"
    ).select(
        "*",
        # 1-based payload start, bytes/sample, sample count — NULL when the
        # structural gate fails (no windows emitted)
        F.expr(
            f"""CASE
              WHEN codec = 'pcm_s16le' AND octet_length(bytes) % 2 = 0
                   AND octet_length(bytes) > 0 THEN struct(1L, 2L)
              WHEN codec = 'pcm_u8' AND octet_length(bytes) > 0
                   THEN struct(1L, 1L)
              WHEN codec = 'wav' AND {wav_data_ok}
                   AND octet_length(bytes) % 2 = 0 AND octet_length(bytes) > 44
                   THEN struct(45L, 2L)
              WHEN ({fake_ok}) AND octet_length(bytes) % 2 = 0
                   AND octet_length(bytes) > 8 THEN struct(9L, 2L)
              ELSE NULL END"""
        ).alias("__p"),
    )
    a = a.select(
        "*",
        F.expr("(octet_length(bytes) - (__p.col1 - 1)) div __p.col2").alias("__n"),
        F.expr(f"sr_hz * {int(win_ms)} div 1000").alias("__w"),
        F.expr(f"sr_hz * {int(stride_ms)} div 1000").alias("__s"),
    )
    # n_windows = (n - win) div stride + 1 when n >= win > 0
    wins = a.where(
        F.col("__p").isNotNull() & (F.col("sr_hz") > 0) & (F.col("__w") > 0)
        & (F.col("__n") >= F.col("__w"))
    ).select(
        "clip_id",
        "codec",
        "sr_hz",
        "bytes",
        "__p",
        "__w",
        "__s",
        F.posexplode(
            F.sequence(F.lit(0).cast("long"), F.expr("(__n - __w) div __s"))
        ).alias("win_idx", "__k"),
    )
    return wins.select(
        "clip_id",
        F.col("win_idx").cast("int").alias("win_idx"),
        F.expr("__k * __s * 1000 div sr_hz").cast("long").alias("start_ms"),
        F.col("__w").alias("n_samples"),
        F.when(F.col("codec") == "pcm_u8", F.lit("pcm_u8"))
        .otherwise(F.lit("pcm_s16le"))
        .alias("pcm_codec"),
        F.expr(
            "substring(bytes, __p.col1 + __k * __s * __p.col2, __w * __p.col2)"
        ).alias("win_bytes"),
    )
