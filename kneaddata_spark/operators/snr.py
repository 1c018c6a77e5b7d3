"""SNR screen: speech-to-noise-floor power ratio per clip.

The sixth audio-axis operator: the quality question VAD and pitch do not
answer is "how far above its own noise floor does the speech sit" — a
clip recorded next to a fan can be fully voiced and in-band yet useless
for training. The classic estimator needs no second microphone: classify
frames speech/noise with the SAME energy rule VAD uses (rules.VAD_*; one
source of truth), then compare mean-square power between the classes.

Kernel (integer-exact; constants in rules.py): frames of
sr * VAD_FRAME_MS div 1000 samples; a frame is SPEECH when
sum(|x|) div frame_len >= VAD_ENERGY_MIN (the VAD rule verbatim — NOT
re-tuned here, so the two screens agree on what speech is). Per class,
meansq = sum(x^2) div n_samples (int64: x^2 <= 2^30, 40 s * 48 kHz
frames sum < 2^51 — exact). snr_ratio = speech_meansq div
max(noise_meansq, 1). Verdicts: both classes present and
snr_ratio >= SNR_MIN_RATIO -> keep; all-speech -> status 'clean' (keep:
no measurable floor is not a defect); all-noise -> 'no_speech' (drop);
too short for one frame -> 'short'.

The ratio stays an integer POWER ratio rather than a dB float — the
ln-free determinism rule (BM25/DSIR lesson): 10x power IS 10 dB, and
integer div is bit-equal in the replica.

Boundary contract: ONE ArrowEvalPython stage (nondeterministic-pinned),
scalars out, zero shuffles. Reference lineage: the reference's
SLIDINGWINDOW quality trim drops low-quality windows by mean phred —
this is the clip-level aggregate of the same evidence, kept as a
REPORTED verdict (the stage_counts taxonomy) instead of a silent drop.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import rules
from ..functions.audio import clip_udf


def snr_of(x: np.ndarray, sr: int):
    """int16 samples -> (status, n_speech_frames, n_noise_frames,
    speech_meansq, noise_meansq, snr_ratio). Pure function of (x, sr)
    and the rules constants; the pytest replica re-derives it with plain
    python loops."""
    frame_len = sr * rules.VAD_FRAME_MS // 1000
    if frame_len <= 0 or len(x) < frame_len:
        return ("short", 0, 0, None, None, None)
    n_frames = len(x) // frame_len
    fx = x[: n_frames * frame_len].astype(np.int64).reshape(n_frames, frame_len)
    energy = np.abs(fx).sum(axis=1) // frame_len
    speech = energy >= rules.VAD_ENERGY_MIN
    sq = (fx * fx).sum(axis=1)
    n_sp = int(speech.sum())
    n_nz = n_frames - n_sp
    sp_ms = int(sq[speech].sum()) // (n_sp * frame_len) if n_sp else None
    nz_ms = int(sq[~speech].sum()) // (n_nz * frame_len) if n_nz else None
    if n_sp == 0:
        return ("no_speech", 0, n_nz, None, nz_ms, None)
    if n_nz == 0:
        return ("clean", n_sp, 0, sp_ms, None, None)
    return ("ok", n_sp, n_nz, sp_ms, nz_ms, sp_ms // max(nz_ms, 1))


_SNR_T = T.StructType(
    [
        T.StructField("status", T.StringType()),
        T.StructField("n_speech_frames", T.LongType()),
        T.StructField("n_noise_frames", T.LongType()),
        T.StructField("speech_meansq", T.LongType()),
        T.StructField("noise_meansq", T.LongType()),
        T.StructField("snr_ratio", T.LongType()),
    ]
)


_snr_udf = clip_udf(_SNR_T, snr_of, rate=True)


def snr_screen(clips: DataFrame) -> DataFrame:
    """(clip_id, status, n_speech_frames, n_noise_frames, speech_meansq,
    noise_meansq, snr_ratio, keep) — one row per decodable clip; keep is
    a JVM-side integer comparison (status='clean' keeps, 'no_speech' and
    'short' drop, 'ok' needs snr_ratio >= SNR_MIN_RATIO). Zero
    shuffles."""
    e = clips.select("clip_id", _snr_udf().alias("s")).where(
        F.col("s").isNotNull()
    )
    keep = (F.col("s.status") == "clean") | (
        (F.col("s.status") == "ok")
        & (F.col("s.snr_ratio") >= rules.SNR_MIN_RATIO)
    )
    return e.select(
        "clip_id",
        "s.*",
        keep.alias("keep"),
    )
