"""Speaking-rate screen: does the transcript plausibly belong to the
audio? The cheapest audio-text alignment check an ASR corpus pipeline
runs — chars-per-second against physiological bounds — long before
paying for forced alignment. A transcript at 300 chars/s is a wrong-clip
join or concatenation artifact; one at 0.5 chars/s is truncated or the
audio is mostly not speech. Reference analog: the paired-read sanity
gates (mate-presence checks, the D2 discordant classifier) — a
cross-column consistency screen, promoted to the audio×text pair.

All exact integer arithmetic (centi-cps = chars * 100000 div dur_ms) so
verdicts are engine-portable; pure per-row Column algebra — zero Python,
zero shuffles, one codegen stage at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import rules


def speaking_rate(
    df: DataFrame,
    id_col: str = "clip_id",
    text_col: str = "transcript",
    dur_col: str = "dur_ms",
) -> DataFrame:
    """(id, n_chars, n_words, cps_centi, wpm, rate_status, keep):
    chars-per-second (centi) and words-per-minute of the transcript over
    the clip duration; rate_status in {missing, bad_duration, too_slow,
    too_fast, ok}; keep = 1 iff ok. n_chars/n_words are computed on the
    TRIMMED transcript (whitespace-only == missing); cps_centi/wpm are
    NULL when they can't be computed (missing text or dur <= 0)."""
    t = F.trim(F.col(text_col))
    n_chars = F.coalesce(F.length(t), F.lit(0)).cast("long")
    n_words = (
        F.when(n_chars == 0, F.lit(0))
        .otherwise(F.size(F.split(F.regexp_replace(t, r"\s+", " "), " ")))
        .cast("long")
    )
    dur = F.col(dur_col).cast("long")
    valid = (n_chars > 0) & (dur > 0)
    base = df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        F.when(valid, (n_chars * 100000)).cast("long").alias("__c"),
        F.when(valid, (n_words * 60000)).cast("long").alias("__w"),
        dur.alias("__dur"),
    ).select(
        id_col,
        "n_chars",
        "n_words",
        F.expr("__c div __dur").alias("cps_centi"),
        F.expr("__w div __dur").alias("wpm"),
        F.col("__dur").alias("__dur"),
    )
    status = (
        F.when(F.col("n_chars") == 0, "missing")
        .when(F.col("__dur") <= 0, "bad_duration")
        .when(F.col("cps_centi") < rules.RATE_MIN_CPS_CENTI, "too_slow")
        .when(F.col("cps_centi") > rules.RATE_MAX_CPS_CENTI, "too_fast")
        .otherwise("ok")
    )
    return base.select(
        id_col,
        "n_chars",
        "n_words",
        "cps_centi",
        "wpm",
        status.alias("rate_status"),
    ).select(
        "*",
        F.when(F.col("rate_status") == "ok", 1)
        .otherwise(0)
        .cast("long")
        .alias("keep"),
    )


def speech_rate(clips: DataFrame) -> DataFrame:
    """Speaking rate against SPEECH time, not clip time: chars-per-second
    over the VAD-detected speech span (speech_frames × VAD_FRAME_MS) —
    the refinement of speaking_rate that doesn't punish clips with long
    leading/trailing silence. Composed over the decode-once fused screen
    (audioscreen.screen_audio with transcript passthrough): same ONE
    ArrowEvalPython stage, zero shuffles, no second decode, no join.

    Verdicts: missing (no transcript), no_speech (transcript but zero
    VAD speech), too_slow / too_fast / ok on the rules.RATE_* bounds
    applied to speech-time cps."""
    from .audioscreen import screen_audio

    s = screen_audio(clips, passthrough=("transcript",))
    t = F.trim(F.col("transcript"))
    n_chars = F.coalesce(F.length(t), F.lit(0)).cast("long")
    speech_ms = (F.col("speech_frames") * rules.VAD_FRAME_MS).cast("long")
    base = s.select(
        "clip_id",
        n_chars.alias("n_chars"),
        F.col("n_segments"),
        speech_ms.alias("speech_ms"),
        F.when((n_chars > 0) & (speech_ms > 0), n_chars * 100000)
        .cast("long")
        .alias("__c"),
    ).select(
        "clip_id",
        "n_chars",
        "n_segments",
        "speech_ms",
        F.expr("__c div speech_ms").alias("cps_speech_centi"),
    )
    status = (
        F.when(F.col("n_chars") == 0, "missing")
        .when(F.col("speech_ms") <= 0, "no_speech")
        .when(F.col("cps_speech_centi") < rules.RATE_MIN_CPS_CENTI, "too_slow")
        .when(F.col("cps_speech_centi") > rules.RATE_MAX_CPS_CENTI, "too_fast")
        .otherwise("ok")
    )
    return base.select(
        "clip_id",
        "n_chars",
        "n_segments",
        "speech_ms",
        "cps_speech_centi",
        status.alias("rate_status"),
    ).select(
        "*",
        F.when(F.col("rate_status") == "ok", 1)
        .otherwise(0)
        .cast("long")
        .alias("keep"),
    )
