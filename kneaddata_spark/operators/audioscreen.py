"""Fused audio screen: VAD + SNR + pitch + hum/DC + bandwidth + reverb +
dynamic-range + dropout + click verdicts from ONE decode.

The screen-family analog of operators/audioprep (which fused the
canonical-form chain): a corpus pass that wants all nine audio-quality
verdicts — voice activity, noise floor, periodicity, electrical defects,
effective bandwidth, decay tail, loudness range, digital dropouts,
impulsive clicks — must not decode the corpus nine times.
Decode is the per-core Python ceiling (BASELINE.md roofline), and at
100 TB the bytes-column scan itself is the other ceiling; running the
standalone operators back-to-back pays both seven times. This stage runs
the SAME kernels (operators/vad.segment_samples, operators/snr.snr_of,
operators/pitch.pitch_of, operators/hum.hum_of, operators/bandwidth.
band_of, operators/reverb.reverb_of, operators/dynrange.dr_of,
operators/dropout.dropout_of, operators/click.click_of — one
source of truth each, all replica-gated in their own tests) on one decoded buffer inside ONE
ArrowEvalPython stage.

Fusion contract (pytest-enforced): every output column is bit-identical
to the corresponding standalone operator's column — fusing costs
nothing, choosing it saves two scans and two decodes. Cost honesty, as
recorded for prep_audio: with this sandbox's memcpy-cheap codecs the
wall saving is noise-level; the structural saving scales with real
codec cost and scan I/O.

VAD is aggregated to clip grain here (n_segments, speech_frames) — the
per-segment rows remain vad_segments' job; a screen wants the verdict,
not the cut list.

Zero shuffles; nondeterministic-pinned (the CollapseProject lesson).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import rules
from ..functions.audio import clip_udf
from .bandwidth import band_of
from .click import click_of
from .dropout import dropout_of
from .dynrange import dr_of
from .hum import hum_of
from .pitch import pitch_of
from .reverb import reverb_of
from .snr import snr_of
from .vad import segment_samples

_SCREEN_T = T.StructType(
    [
        T.StructField("n_segments", T.LongType()),
        T.StructField("speech_frames", T.LongType()),
        T.StructField("snr_status", T.StringType()),
        T.StructField("snr_ratio", T.LongType()),
        T.StructField("pitch_status", T.StringType()),
        T.StructField("f0_centi_hz", T.LongType()),
        T.StructField("periodicity_permille", T.LongType()),
        T.StructField("hum_status", T.StringType()),
        T.StructField("dc_offset", T.LongType()),
        T.StructField("hum_permille", T.LongType()),
        T.StructField("hum_hz", T.LongType()),
        T.StructField("bw_status", T.StringType()),
        T.StructField("est_nyquist_hz", T.LongType()),
        T.StructField("rev_status", T.StringType()),
        T.StructField("rt60_ms", T.LongType()),
        T.StructField("dr_status", T.StringType()),
        T.StructField("dr_ratio_permille", T.LongType()),
        T.StructField("drop_status", T.StringType()),
        T.StructField("dropout_permille", T.LongType()),
        T.StructField("stuck_permille", T.LongType()),
        T.StructField("click_status", T.StringType()),
        T.StructField("clicks_per_min", T.LongType()),
    ]
)


def screens_of(x, sr: int) -> tuple:
    segs = segment_samples(x, sr)
    snr_st, _, _, _, _, snr_ratio = snr_of(x, sr)
    p_st, _, f0, per = pitch_of(x, sr)
    h_st, _, dc, _, hum_p, hum_hz = hum_of(x, sr)
    b_st, _, _, est = band_of(x, sr)
    r_st, _, _, _, _, rt60 = reverb_of(x, sr)
    d_st, _, _, _, _, dr = dr_of(x, sr)
    g_st, _, _, _, _, _, _, _, dp_p, st_p = dropout_of(x, sr)
    c_st, _, _, _, _, _, cpm = click_of(x, sr)
    return (
        len(segs),
        sum(e - b for b, e in segs),
        snr_st,
        snr_ratio,
        p_st,
        f0,
        per,
        h_st,
        dc,
        hum_p,
        hum_hz,
        b_st,
        est,
        r_st,
        rt60,
        d_st,
        dr,
        g_st,
        dp_p,
        st_p,
        c_st,
        cpm,
    )


_screen_udf = clip_udf(_SCREEN_T, screens_of, rate=True)


def screen_audio(clips: DataFrame, passthrough: tuple[str, ...] = ()) -> DataFrame:
    """(clip_id, n_segments, speech_frames, snr_status, snr_ratio,
    pitch_status, f0_centi_hz, periodicity_permille, hum_status,
    dc_offset, hum_permille, hum_hz, bw_status, est_nyquist_hz,
    rev_status, rt60_ms, dr_status, dr_ratio_permille, drop_status,
    dropout_permille, stuck_permille, click_status, clicks_per_min,
    snr_keep,
    voiced, speechlike, hum_detected, dc_detected, hum_keep, narrowband,
    reverb_detected, rev_keep, compressed, dr_keep, dropout_detected,
    stuck_detected, drop_keep, click_detected, click_keep) — all nine
    screens'
    verdicts from one decode; verdict booleans are the standalone
    operators' JVM-side rules verbatim (snr.snr_screen,
    pitch.pitch_screen, hum.hum_screen, bandwidth.bandwidth_screen,
    reverb.reverb_screen, dynrange.dynrange_screen,
    dropout.dropout_screen, click.click_screen). `passthrough` names
    extra clip columns to carry through unchanged (zero cost — they ride
    the same projection), so compositions like rate.speech_rate read
    transcript next to the verdicts without a join or second decode."""
    e = clips.select(
        "clip_id", "sr_hz", *passthrough, _screen_udf().alias("a")
    ).where(F.col("a").isNotNull())
    snr_keep = (F.col("a.snr_status") == "clean") | (
        (F.col("a.snr_status") == "ok") & (F.col("a.snr_ratio") >= rules.SNR_MIN_RATIO)
    )
    voiced = (F.col("a.pitch_status") == "ok") & (
        F.col("a.periodicity_permille") >= rules.PITCH_VOICED_MIN_PERMILLE
    )
    in_band = F.col("a.f0_centi_hz").between(
        100 * rules.PITCH_F0_MIN_HZ, 100 * rules.PITCH_F0_MAX_HZ
    )
    hum = F.coalesce(
        F.col("a.hum_permille") >= rules.HUM_MAX_PERMILLE, F.lit(False)
    )
    dc = F.abs(F.col("a.dc_offset")) >= rules.DC_OFFSET_MAX
    hum_keep = (F.col("a.hum_status") == "ok") & ~hum & ~dc
    narrow = F.coalesce(
        2 * F.col("a.est_nyquist_hz") < F.col("sr_hz"), F.lit(False)
    )
    rev = (F.col("a.rev_status") == "ok") & (
        F.col("a.rt60_ms") >= rules.REVERB_MAX_RT60_MS
    )
    comp = (F.col("a.dr_status") == "ok") & (
        F.col("a.dr_ratio_permille") >= rules.DR_COMPRESSED_MIN_PERMILLE
    )
    gap = F.coalesce(
        F.col("a.dropout_permille") >= rules.DROPOUT_MAX_PERMILLE, F.lit(False)
    )
    stuck = F.coalesce(
        F.col("a.stuck_permille") >= rules.STUCK_MAX_PERMILLE, F.lit(False)
    )
    drop_keep = (F.col("a.drop_status") == "ok") & ~gap & ~stuck
    clk = F.coalesce(
        F.col("a.clicks_per_min") >= rules.CLICK_MAX_PER_MIN, F.lit(False)
    )
    click_keep = (F.col("a.click_status") == "ok") & ~clk
    return e.select(
        "clip_id",
        *passthrough,
        "a.*",
        snr_keep.alias("snr_keep"),
        voiced.alias("voiced"),
        (voiced & in_band).alias("speechlike"),
        hum.alias("hum_detected"),
        dc.alias("dc_detected"),
        hum_keep.alias("hum_keep"),
        narrow.alias("narrowband"),
        rev.alias("reverb_detected"),
        (~rev).alias("rev_keep"),
        comp.alias("compressed"),
        (~comp).alias("dr_keep"),
        gap.alias("dropout_detected"),
        stuck.alias("stuck_detected"),
        drop_keep.alias("drop_keep"),
        clk.alias("click_detected"),
        click_keep.alias("click_keep"),
    )
