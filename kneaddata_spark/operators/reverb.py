"""Reverberation / decay-tail screen: blind RT60 proxy per clip.

Far-field and echoey recordings are the acoustic-QC axis none of the
existing screens sees: a reverberant clip passes VAD (speech present),
SNR (tail energy counts as "speech"), pitch (F0 survives reverb), hum
and bandwidth — yet smeared word boundaries make it training-poison for
ASR. The classic room-acoustics measure is RT60, estimated blind from a
free-decay region via Schroeder backward integration (the trim stages of
the reference cut SPANS on evidence, run.py:372-450; this screen REPORTS
a verdict into the same stage_counts taxonomy).

Kernel (integer-exact; constants in rules.py):
- frame energies e_j = sum(x_k^2) over non-overlapping frames of
  frame_len = sr * REVERB_FRAME_MS div 1000 samples (int64-safe:
  <= 960 * 2^30 per frame).
- peak = max(e); the free-decay region starts at the LAST frame with
  e_j >= max(peak div REVERB_ACTIVE_DIV, 1) — the end of strong
  content. Decay measured earlier is masked by ongoing signal, which
  is why steady tones and continuous speech resolve as 'truncated',
  not as spurious long decays.
- EDC_k = sum(tail[k:]) (Schroeder; suffix-sum, int64-safe);
  t20 = first k with EDC_k <= EDC_0 div REVERB_T20_DIV (-20 dB).
  Digital-silence tails hit EDC == 0 and resolve immediately (dry);
  exponential reverb tails resolve at t20 ~ 2.30 * tau frames.
- rt60_ms = 3 * t20 * REVERB_FRAME_MS (T20 -> T60 extrapolation:
  exact for exponential decay, where RT60 = 6.91 * tau).
- status: 'short' (< 1 frame), 'silent' (peak == 0), 'truncated'
  (EDC never reaches -20 dB inside the clip), else 'ok'.

Verdicts are JVM-side integer comparisons: reverb_detected = status ok
AND rt60_ms >= rules.REVERB_MAX_RT60_MS; keep = NOT reverb_detected.
Truncated/short/silent rows KEEP (deviation from the hum/snr
unmeasurable-is-not-a-pass convention, deliberate and documented in
rules.py: an unresolved decay is masked by ongoing content or noise
floor — the common case for every dry clip — not a certified defect).

Boundary contract: ONE ArrowEvalPython stage (nondeterministic pin so
CollapseProject cannot duplicate the decode), scalar witnesses out,
zero shuffles, bytes never cross Python->JVM.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import rules
from ..functions.audio import clip_udf

__all__ = ["reverb_of", "reverb_screen"]


def reverb_of(x: np.ndarray, sr: int):
    """int16 samples -> (status, n_frames, last_active_frame,
    tail_frames, t20_frames, rt60_ms). Pure function of (x, sr) and the
    rules constants; the pytest replica re-derives it with per-sample
    python-int loops."""
    frame_len = sr * rules.REVERB_FRAME_MS // 1000
    if frame_len <= 0 or len(x) < frame_len:
        return ("short", 0, None, None, None, None)
    n_f = len(x) // frame_len
    fx = x[: n_f * frame_len].astype(np.int64).reshape(n_f, frame_len)
    e = (fx * fx).sum(axis=1)
    peak = int(e.max())
    if peak == 0:
        return ("silent", n_f, None, None, None, None)
    thresh_a = max(peak // rules.REVERB_ACTIVE_DIV, 1)
    last = int(np.nonzero(e >= thresh_a)[0][-1])
    tail = e[last:]
    edc = np.cumsum(tail[::-1])[::-1]
    edc0 = int(edc[0])
    hit = np.nonzero(edc <= edc0 // rules.REVERB_T20_DIV)[0]
    if len(hit) == 0:
        return ("truncated", n_f, last, len(tail), None, None)
    t20 = int(hit[0])
    return (
        "ok",
        n_f,
        last,
        len(tail),
        t20,
        3 * t20 * rules.REVERB_FRAME_MS,
    )


_REVERB_T = T.StructType(
    [
        T.StructField("status", T.StringType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("last_active_frame", T.LongType()),
        T.StructField("tail_frames", T.LongType()),
        T.StructField("t20_frames", T.LongType()),
        T.StructField("rt60_ms", T.LongType()),
    ]
)


_reverb_udf = clip_udf(_REVERB_T, reverb_of, rate=True)


def reverb_screen(clips: DataFrame) -> DataFrame:
    """(clip_id, status, n_frames, last_active_frame, tail_frames,
    t20_frames, rt60_ms, reverb_detected, keep) — one row per decodable
    clip; verdicts are JVM-side integer comparisons against
    rules.REVERB_MAX_RT60_MS. Zero shuffles."""
    e = clips.select("clip_id", _reverb_udf().alias("r")).where(
        F.col("r").isNotNull()
    )
    rev = (F.col("r.status") == "ok") & (
        F.col("r.rt60_ms") >= rules.REVERB_MAX_RT60_MS
    )
    return e.select(
        "clip_id",
        "r.*",
        rev.alias("reverb_detected"),
        (~rev).alias("keep"),
    )
