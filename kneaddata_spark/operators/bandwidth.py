"""Bandwidth screen: effective-bandwidth estimation per clip.

The corpus defect no energy/pitch/SNR screen can see: audio whose
container says 16 kHz but whose CONTENT was upsampled from 8 kHz (or
worse) by a proper resampler — telephone recordings, transcoded voicemail,
low-band TTS — carries near-zero energy above the original Nyquist and
poisons any model trained to expect full-band speech. The classic audit
is a spectral-rolloff estimate; here it is reduced to a 3-level integer
halfband filterbank so the verdict is bit-reproducible (the SNR/pitch
integer discipline; reference lineage: another clip-level REPORTED
verdict in the stage_counts taxonomy, run.py:372-450 trim-stage
philosophy of measuring evidence instead of silently dropping).

Kernel (integer-exact; constants in rules.py):
- per level, convolve the level input y with rules.BW_KERNEL
  (-1,0,9,16,9,0,-1 — halfband: gain 32 at DC, 0 at Nyquist, 16 at the
  quarter band) over the VALID region k in [3, n-4]; the highband
  complement is h[k] = 32*y[k] - l[k] (no division — exact).
- e_lo = sum(l^2), e_hi = sum(h^2) in python ints (elementwise int64 by
  the renorm bound below; accumulation chunked at 2^18 terms so each
  numpy partial stays < 2^63).
- octN_permille = 1000 * e_hi // max(e_hi + e_lo, 1) — the fraction of
  the level's energy in its top half-band ([sr/4,sr/2], then [sr/8,sr/4],
  then [sr/16,sr/8]).
- next level input = l[::2] // 32 (decimate + floor renorm; keeps
  magnitudes ~36/32-bounded per level so squares never leave int64).
- est_nyquist_hz = band ceiling of the HIGHEST octave with permille >=
  rules.BW_ACTIVE_MIN_PERMILLE: sr//2, sr//4, sr//8, else sr//16.
- status: 'short' when n < rules.BW_MIN_SAMPLES (the 3rd level would
  have no valid region), 'silent' when sum(x^2) == 0, else 'ok'.

Calibration: full-band noise scores oct1 ~ 500 permille; a pure tone at
f <= half a split frequency leaks < 4 permille into that split's high
band. The 7-tap transition is wide (~0.7x..1.4x of each split), and
leakage is weighted by the energy NEAR the split — so flat spectra
band-limited to just under sr/4 still read oct1-active (measured: flat
noise to 3400 Hz at sr 16000 -> oct1 ~ 190 permille), while 1/f
speech-shaped content concentrates energy far below the split and reads
clean (flat noise to 2000 Hz -> oct1 = 0). Detection is therefore
GUARANTEED for >= 4x upsampling even in the flat worst case and typical
for 2x-upsampled speech; content within the top transition band is
deliberately read as full-band (false negatives are cheaper than
dropping real wideband audio). Verdict JVM-side: narrowband =
2*est_nyquist_hz < sr_hz, keep = status == 'ok' AND NOT narrowband
('short'/'silent' report keep = false — unmeasurable is not a pass; the
snr_screen convention).

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

__all__ = ["band_of", "bandwidth_screen"]

_CHUNK = 1 << 18


def _exact_sq_sum(a: np.ndarray) -> int:
    """Exact sum of a^2 for int64 a with |a| < 2^22: elementwise squares
    fit int64; chunked partials (< 2^18 terms * 2^44 < 2^63) summed as
    python ints."""
    sq = a * a
    return sum(int(sq[i : i + _CHUNK].sum()) for i in range(0, len(sq), _CHUNK))


def band_of(x: np.ndarray, sr: int):
    """int16 samples -> (status, n_samples, [oct1, oct2, oct3] permilles,
    est_nyquist_hz). Pure function of (x, sr) and the rules constants;
    the pytest replica re-derives it with per-sample python-int loops."""
    n = len(x)
    if n < rules.BW_MIN_SAMPLES:
        return ("short", n, [None, None, None], None)
    xi = x.astype(np.int64)
    if _exact_sq_sum(xi) == 0:
        return ("silent", n, [None, None, None], None)
    kern = np.array(rules.BW_KERNEL, dtype=np.int64)
    y = xi
    octs = []
    for _ in range(3):
        m = len(y)
        conv = np.convolve(y, kern)
        lo = conv[6:m]  # centered output for k in [3, m-4]
        hi = 32 * y[3 : m - 3] - lo
        e_hi = _exact_sq_sum(hi)
        e_lo = _exact_sq_sum(lo)
        octs.append(1000 * e_hi // max(e_hi + e_lo, 1))
        y = lo[::2] // 32
    for lvl in range(3):
        if octs[lvl] >= rules.BW_ACTIVE_MIN_PERMILLE:
            return ("ok", n, octs, sr >> (lvl + 1))
    return ("ok", n, octs, sr >> 4)


_BW_T = T.StructType(
    [
        T.StructField("status", T.StringType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("oct1_permille", T.LongType()),
        T.StructField("oct2_permille", T.LongType()),
        T.StructField("oct3_permille", T.LongType()),
        T.StructField("est_nyquist_hz", T.LongType()),
    ]
)


def _band_row(x: np.ndarray, sr: int) -> tuple:
    st, n, octs, est = band_of(x, sr)
    return (st, n, *octs, est)


_bw_udf = clip_udf(_BW_T, _band_row, rate=True)


def bandwidth_screen(clips: DataFrame) -> DataFrame:
    """(clip_id, sr_hz, status, n_samples, oct1_permille, oct2_permille,
    oct3_permille, est_nyquist_hz, narrowband, keep) — one row per
    decodable clip; narrowband/keep are JVM-side integer comparisons
    (2*est_nyquist_hz < sr_hz). Zero shuffles."""
    e = clips.select("clip_id", "sr_hz", _bw_udf().alias("b")).where(
        F.col("b").isNotNull()
    )
    narrow = F.coalesce(
        2 * F.col("b.est_nyquist_hz") < F.col("sr_hz"), F.lit(False)
    )
    keep = (F.col("b.status") == "ok") & ~narrow
    return e.select(
        "clip_id",
        "sr_hz",
        "b.*",
        narrow.alias("narrowband"),
        keep.alias("keep"),
    )
