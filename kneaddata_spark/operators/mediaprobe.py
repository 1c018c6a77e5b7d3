"""Media probe: container-header metadata audit with ZERO Python.

The cheapest full-corpus audio audit there is: every other audio operator
in this package pays an ArrowEvalPython decode; this one answers "does
each row's container agree with its own table metadata" from HEADER BYTES
alone, entirely in JVM Column algebra (binary substring + hex/conv +
integer arithmetic), so the whole plan is one WholeStageCodegen scan —
no Python workers, no Arrow transfer, no shuffle. At 100 TB this is the
audit you run FIRST: it catches mislabeled sample rates, truncated
payloads, and corrupt containers for the price of a column scan, and the
rows it flags never reach the expensive decode stages.

Per codec (the synth/QC registry, functions/audio.CODECS):
- pcm_s16le / pcm_u8 (raw): no header — probed samples = len/2 (even
  length required) or len; duration uses the table's sr.
- wav: canonical 44-byte RIFF layout (the one synth.py emits and
  pipeline.bytes_trimmed_col re-emits): RIFF/WAVE/fmt /data magics,
  fmt_size 16, PCM format 1, mono, 16-bit, riff_len == len-8,
  data_len == len-44 and even. Container sr from the fmt chunk.
- flac (real streams, functions/flaccodec.py): fLaC magic, single
  STREAMINFO block header (0x80, length 34), sr and total_samples
  unpacked from the packed 64-bit field (sr<<44 | ch<<41 | bps-1<<36 |
  n_total). Header-only by design: a truncated BITSTREAM behind an
  intact header reports the container's claim — bitstream integrity is
  the QC decoder's job (STREAMINFO md5), claim-vs-metadata is this
  operator's.
- opus / mp3 (documented fake containers, rules.FAKE_MAGIC): magic +
  LE-u32 payload length == len-8, even payload.
- anything else: unknown_codec.

Verdicts (all JVM integer compares): sr_mismatch when a container sr
disagrees with the table's sr_hz column (catches the bad_sr=0 synth rows
whose encoder defaulted the header to 16 kHz), dur_mismatch when
|probed_dur_ms - dur_ms| > rules.PROBE_DUR_TOL_MS (catches truncated
raw/wav payloads and capped too-long rows), keep = ok AND neither.

Reference lineage: the reference trusts upstream FASTQ structure and
validates per-read lengths cheaply before any heavy stage (run.py checks
file nonemptiness / read counts before launching aligners); this is that
gate for audio containers, kept as REPORTED verdicts (stage_counts
taxonomy).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import rules

__all__ = ["media_probe"]


def _be(col: Column, pos: int, n: int) -> Column:
    """Big-endian unsigned int from n bytes at 1-based pos (n <= 7 safe;
    n == 8 safe while the top bit is clear — FLAC's packed field is
    < 2^60 for any sr this registry admits)."""
    return F.conv(F.hex(F.substring(col, pos, n)), 16, 10).cast("long")


def _le32(col: Column, pos: int) -> Column:
    """Little-endian u32 at 1-based pos: per-byte hex, concatenated in
    reverse order, parsed base-16."""
    return F.conv(
        F.concat(*[F.hex(F.substring(col, pos + i, 1)) for i in (3, 2, 1, 0)]),
        16,
        10,
    ).cast("long")


def media_probe(clips: DataFrame) -> DataFrame:
    """(clip_id, codec, sr_hz, dur_ms, probe_kind, probe_status,
    container_sr_hz, probed_n_samples, probed_dur_ms, dur_delta_ms,
    sr_mismatch, dur_mismatch, keep) — one row per input row (nothing is
    dropped: an audit reports). Pure Column algebra: zero Python, zero
    shuffles, one codegen stage."""
    b = F.col("bytes")
    nb = F.length(b)
    codec = F.col("codec")

    wav_ok = (
        (nb >= 44)
        & (F.substring(b, 1, 4) == F.lit(b"RIFF"))
        & (F.substring(b, 9, 8) == F.lit(b"WAVEfmt "))
        & (_le32(b, 17) == 16)          # fmt chunk size
        & (_be(b, 21, 1) == 1)          # PCM (LE u16, low byte first)
        & (_be(b, 22, 1) == 0)
        & (_be(b, 23, 1) == 1)          # mono
        & (_be(b, 24, 1) == 0)
        & (_be(b, 35, 1) == 16)         # bits/sample
        & (_be(b, 36, 1) == 0)
        & (F.substring(b, 37, 4) == F.lit(b"data"))
        & (_le32(b, 5) == nb - 8)       # riff length
        & (_le32(b, 41) == nb - 44)     # data length
        & ((nb - 44) % 2 == 0)
        & (nb > 44)
    )
    flac_hdr = (
        (nb >= 42)
        & (F.substring(b, 1, 4) == F.lit(b"fLaC"))
        & (_be(b, 5, 1) == 0x80)        # last-block flag + STREAMINFO
        & (_be(b, 6, 3) == 34)
    )
    flac_packed = _be(b, 19, 8)         # sr(20) ch(3) bps-1(5) total(36)
    flac_sr = F.shiftrightunsigned(flac_packed, 44)
    flac_mono16 = (
        (F.shiftrightunsigned(flac_packed, 41).bitwiseAND(F.lit(7)) == 0)
        & (F.shiftrightunsigned(flac_packed, 36).bitwiseAND(F.lit(31)) == 15)
    )
    flac_n = flac_packed.bitwiseAND(F.lit((1 << 36) - 1))
    flac_ok = flac_hdr & flac_mono16 & (flac_sr > 0)

    def fake_ok(magic: bytes) -> Column:
        return (
            (nb >= 10)
            & (F.substring(b, 1, 4) == F.lit(magic))
            & (_le32(b, 5) == nb - 8)
            & ((nb - 8) % 2 == 0)
        )

    kind = (
        F.when(codec.isin("pcm_s16le", "pcm_u8"), F.lit("raw"))
        .when(codec.isin("wav", "flac", *rules.FAKE_MAGIC), F.lit("container"))
        .otherwise(F.lit("unknown"))
    )
    ok = (
        F.when(codec == "pcm_s16le", (nb > 0) & (nb % 2 == 0))
        .when(codec == "pcm_u8", nb > 0)
        .when(codec == "wav", wav_ok)
        .when(codec == "flac", flac_ok)
        .when(codec == "opus", fake_ok(rules.FAKE_MAGIC["opus"]))
        .when(codec == "mp3", fake_ok(rules.FAKE_MAGIC["mp3"]))
        .otherwise(F.lit(False))
    )
    status = (
        F.when(kind == "unknown", F.lit("unknown_codec"))
        .when(ok, F.lit("ok"))
        .otherwise(F.lit("bad_container"))
    )
    container_sr = F.when(
        ok & (codec == "wav"), _le32(b, 25)
    ).when(ok & (codec == "flac"), flac_sr)
    n_samples = F.when(ok & (codec == "pcm_s16le"), (nb / 2).cast("long")) \
        .when(ok & (codec == "pcm_u8"), nb.cast("long")) \
        .when(ok & (codec == "wav"), ((nb - 44) / 2).cast("long")) \
        .when(ok & (codec == "flac"), flac_n) \
        .when(ok & codec.isin(*rules.FAKE_MAGIC), ((nb - 8) / 2).cast("long"))
    eff_sr = F.coalesce(
        container_sr, F.when(F.col("sr_hz") > 0, F.col("sr_hz"))
    )
    probed_dur = F.expr("1000 * __n div __sr")

    out = (
        clips.select("clip_id", "codec", "sr_hz", "dur_ms", "bytes")
        .withColumn("probe_kind", kind)
        .withColumn("probe_status", status)
        .withColumn("container_sr_hz", container_sr)
        .withColumn("__n", n_samples)
        .withColumn("__sr", eff_sr)
        .withColumn("probed_dur_ms", probed_dur)
    )
    delta = F.col("probed_dur_ms") - F.col("dur_ms")
    sr_mis = F.col("container_sr_hz").isNotNull() & (
        F.col("container_sr_hz") != F.col("sr_hz")
    )
    dur_mis = F.coalesce(
        F.abs(delta) > rules.PROBE_DUR_TOL_MS, F.lit(True)
    ) & (F.col("probe_status") != "unknown_codec")
    return out.select(
        "clip_id",
        "codec",
        "sr_hz",
        "dur_ms",
        "probe_kind",
        "probe_status",
        "container_sr_hz",
        F.col("__n").alias("probed_n_samples"),
        "probed_dur_ms",
        delta.alias("dur_delta_ms"),
        sr_mis.alias("sr_mismatch"),
        dur_mis.alias("dur_mismatch"),
        (
            (F.col("probe_status") == "ok") & ~sr_mis & ~dur_mis
        ).alias("keep"),
    )
