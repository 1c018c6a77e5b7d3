"""Pitch / periodicity screen: integer autocorrelation F0 estimation.

The fifth audio-axis operator (QC trim -> acoustic near-dup -> VAD ->
canonical-form prep -> THIS): a speech-training corpus wants clips whose
dominant periodicity sits in the human-F0 band — steady tones, alarms and
music beds are strongly periodic OUTSIDE it, broadband noise is not
periodic at all. The reference's analog is its low-complexity screen
family (TRF tandem-repeat removal, trf_parallel.py): a tandem repeat is
TEXT periodicity detected and screened; this operator detects and screens
AUDIO periodicity.

Kernel (integer-exact; constants in rules.py — the single source of truth
the replica re-derives from): decode to int16 via the shared codec
registry, take a centered excerpt of W + max_lag samples where
W = min(PITCH_WIN, n - max_lag) and the lag band is
[sr div PITCH_MEAS_F0_MAX .. sr div PITCH_MEAS_F0_MIN]; autocorrelation
r(L) = sum_{i<W} x[s+i]*x[s+L+i] with int64 products (|x| <= 2^15, W <=
2^10 -> sums < 2^41, exact); best_lag = the SMALLEST LOCAL-MAXIMUM lag with
r(L)*1000 >= r_max*PITCH_PEAK_TOL_PERMILLE (the YIN/praat octave guard:
a periodic signal correlates at every multiple of its period and plain
argmax drifts to whichever multiple lands nearest an integer lag — the
smallest qualifying lag is the highest-frequency, i.e. fundamental-most,
reading); f0_centi_hz = sr*100 div best_lag;
periodicity_permille = max(r_best, 0) * 1000 div r0. Verdicts:
voiced = periodicity >= PITCH_VOICED_MIN_PERMILLE, speechlike = voiced
AND f0 in [PITCH_F0_MIN_HZ, PITCH_F0_MAX_HZ]. Clips with fewer than
PITCH_MIN_WIN usable window samples report status='short' (too little
signal to call either way — NOT a drop verdict).

Screen semantics, stated honestly: this reports the DOMINANT measurable
periodicity. A tone ABOVE the measurement band is read at its largest
in-band subharmonic (e.g. 880 Hz -> ~444 Hz at 16 kHz) — still outside
the speech band, so the verdict stands; a tone whose exact subharmonic
falls IN-band (600 Hz -> 300 Hz) is genuinely periodic there and passes
this screen — catching those is the spectral/VAD screens' job, the same
division of labor as the reference's separate TRF vs entropy screens.

The lag scan is ONE int64 matmul per clip (sliding_window_view strided
matrix x window vector — no per-lag python loop), cost bounded by
W * n_lags <= 1024 * (sr div 50) regardless of clip duration.

Boundary contract: bytes crosses JVM->Python once inside ONE
ArrowEvalPython stage (nondeterministic-pinned — the VAD/resample
lesson), only scalars return. Zero shuffles — fuses over the scan's
partitioning.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import rules
from ..functions.audio import clip_udf


def pitch_of(x: np.ndarray, sr: int):
    """int16 samples -> (status, best_lag, f0_centi_hz,
    periodicity_permille) per the module-docstring kernel; the pytest
    replica re-derives this with plain python loops."""
    if sr <= 0:
        return ("short", None, None, None)
    min_lag = sr // rules.PITCH_MEAS_F0_MAX
    max_lag = sr // rules.PITCH_MEAS_F0_MIN
    if min_lag < 1:
        min_lag = 1
    n = len(x)
    w = min(rules.PITCH_WIN, n - max_lag)
    if w < rules.PITCH_MIN_WIN or max_lag <= min_lag:
        return ("short", None, None, None)
    s = (n - (w + max_lag)) // 2
    xs = x[s : s + w + max_lag].astype(np.int64)
    base = xs[:w]
    r0 = int(np.dot(base, base))
    if r0 <= 0:
        return ("silent", None, None, 0)
    # all lags in one strided gemv: rows are xs[L : L+w] for each L
    lags = np.lib.stride_tricks.sliding_window_view(xs, w)[min_lag : max_lag + 1]
    r = lags @ base
    r_max = int(r.max())
    if r_max <= 0:
        best = int(np.argmax(r))
    else:
        # octave guard: smallest LOCAL-MAXIMUM lag within tolerance of the
        # global peak (local-max restriction keeps the shoulder of a peak
        # — e.g. r(P-5) = 0.951*r(P) for a pure sine — from outbidding the
        # peak itself; >= on both sides admits exact-tie plateaus)
        left = np.empty(len(r), dtype=bool)
        left[0] = True
        left[1:] = r[1:] >= r[:-1]
        right = np.empty(len(r), dtype=bool)
        right[-1] = True
        right[:-1] = r[:-1] >= r[1:]
        cand = left & right & (r * 1000 >= r_max * rules.PITCH_PEAK_TOL_PERMILLE)
        best = int(np.argmax(cand)) if cand.any() else int(np.argmax(r))
    best_lag = min_lag + best
    r_best = int(r[best])
    per = max(r_best, 0) * 1000 // r0
    return ("ok", best_lag, sr * 100 // best_lag, int(per))


_PITCH_T = T.StructType(
    [
        T.StructField("status", T.StringType()),
        T.StructField("best_lag", T.LongType()),
        T.StructField("f0_centi_hz", T.LongType()),
        T.StructField("periodicity_permille", T.LongType()),
    ]
)


_pitch_udf = clip_udf(_PITCH_T, pitch_of, rate=True)


def pitch_screen(clips: DataFrame) -> DataFrame:
    """(clip_id, status, best_lag, f0_centi_hz, periodicity_permille,
    voiced, speechlike) — one row per decodable clip; verdict columns are
    JVM-side integer comparisons against the rules constants (shared
    thresholds stay integer — the cast-truncation discipline). Zero
    shuffles."""
    e = clips.select("clip_id", _pitch_udf().alias("p")).where(
        F.col("p").isNotNull()
    )
    voiced = (F.col("p.status") == "ok") & (
        F.col("p.periodicity_permille") >= rules.PITCH_VOICED_MIN_PERMILLE
    )
    in_band = F.col("p.f0_centi_hz").between(
        100 * rules.PITCH_F0_MIN_HZ, 100 * rules.PITCH_F0_MAX_HZ
    )
    return e.select(
        "clip_id",
        "p.*",
        voiced.alias("voiced"),
        (voiced & in_band).alias("speechlike"),
    )
