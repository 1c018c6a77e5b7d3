"""Mains-hum + DC-offset screen: electrical-defect detection per clip.

The two recording-chain defects no existing screen catches: 50/60 Hz
mains hum (ground loops, unbalanced cables) and DC bias (broken coupling
capacitor / bad ADC offset). A clip can pass VAD, pitch, SNR and
clipping screens and still be training-poison if a third of its power is
hum. The classic single-channel detector is a Goertzel/DFT probe at the
mains fundamentals — here reduced to two integer dot products per
frequency so the verdict is bit-reproducible (the SNR/pitch integer
discipline; reference lineage: another clip-level REPORTED verdict in
the stage_counts taxonomy, like the reference's quality screens,
run.py:372-450 trim-stage philosophy).

Kernel (integer-exact; constants in rules.py):
- dc_offset = sum(x) // n  (floor division, int16 units; |dc| >=
  rules.DC_OFFSET_MAX ~ 0.5% FS -> dc defect)
- per f in rules.HUM_FREQS_HZ: Q15 basis c_k = round_half_even(
  cos(2*pi*f*k/sr) * 32767), s_k likewise (hum_basis below — pure
  function shared with the pytest replica, grown per-worker in a
  length cache); a = sum(x_k * c_k), b = sum(x_k * s_k) — int64-safe
  (|a| <= 32768 * 32767 * n < 2^63 for any clip this repo admits).
- hum_permille_f = (a^2 + b^2) * 2000 // (total * n * 32767^2) in
  PYTHON ints (a^2 overflows int64 by design; exact arbitrary
  precision). Calibration: a full-scale pure tone AT f scores ~1000
  (a^2+b^2 ~ (A*n/2*Q)^2, total ~ A^2*n/2 => ratio == 1000).
- status: 'short' when n < rules.HUM_MIN_CYCLES cycles of the lowest
  probe frequency (cannot resolve hum), 'silent' when total == 0,
  else 'ok'. hum_permille = max over probe freqs, hum_hz = argmax
  (first wins ties).

Verdicts are JVM-side integer comparisons: hum_detected =
hum_permille >= rules.HUM_MAX_PERMILLE, dc_detected = |dc_offset| >=
rules.DC_OFFSET_MAX, keep = status == 'ok' AND neither defect ('short'
and 'silent' rows report keep = false — unmeasurable is not a pass;
the snr_screen convention).

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

Q15 = 32767

__all__ = ["Q15", "hum_basis", "hum_of", "hum_screen"]

# per-worker basis cache: (sr, f) -> (c, s) int64 arrays, grown to the
# longest clip seen (elementwise values are length-independent, so a
# slice of a longer basis IS the shorter basis). Load-bearing: workers
# are long-lived (CLAUDE.md), and cos/sin over every sample of every
# clip would otherwise rival the decode cost.
_BASIS: dict = {}


def hum_basis(sr: int, f: int, n: int):
    """Q15 integer cos/sin probe basis of length n at f Hz — a pure
    function of (sr, f, n); np.round is half-even, pinned by pytest."""
    k = np.arange(n, dtype=np.float64)
    ph = (2.0 * np.pi * f / sr) * k
    c = np.round(np.cos(ph) * Q15).astype(np.int64)
    s = np.round(np.sin(ph) * Q15).astype(np.int64)
    return c, s


def _basis(sr: int, f: int, n: int):
    key = (sr, f)
    got = _BASIS.get(key)
    if got is None or len(got[0]) < n:
        got = hum_basis(sr, f, max(n, 1 << 14))
        _BASIS[key] = got
    return got[0][:n], got[1][:n]


def hum_of(x: np.ndarray, sr: int):
    """int16 samples -> (status, n_samples, dc_offset,
    [permille per rules.HUM_FREQS_HZ], hum_permille, hum_hz). Pure
    function of (x, sr) and the rules constants; the pytest replica
    re-derives it with per-sample python-int loops over hum_basis."""
    n = len(x)
    xi = x.astype(np.int64)
    dc = int(xi.sum()) // n if n else 0
    min_n = rules.HUM_MIN_CYCLES * sr // min(rules.HUM_FREQS_HZ)
    if n < max(min_n, 1):
        return ("short", n, dc, [None] * len(rules.HUM_FREQS_HZ), None, None)
    total = int((xi * xi).sum())
    if total == 0:
        return ("silent", n, dc, [None] * len(rules.HUM_FREQS_HZ), None, None)
    per = []
    den = total * n * Q15 * Q15  # python int — exact
    for f in rules.HUM_FREQS_HZ:
        c, s = _basis(sr, f, n)
        a = int(np.dot(xi, c))
        b = int(np.dot(xi, s))
        per.append((a * a + b * b) * 2000 // den)
    best = max(range(len(per)), key=lambda i: (per[i], -i))
    return ("ok", n, dc, per, per[best], rules.HUM_FREQS_HZ[best])


_HUM_T = T.StructType(
    [
        T.StructField("status", T.StringType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("dc_offset", T.LongType()),
        T.StructField("hum50_permille", T.LongType()),
        T.StructField("hum60_permille", T.LongType()),
        T.StructField("hum_permille", T.LongType()),
        T.StructField("hum_hz", T.LongType()),
    ]
)


def _hum_row(x: np.ndarray, sr: int) -> tuple:
    st, n, dc, per, hp, hz = hum_of(x, sr)
    return (st, n, dc, *per, hp, hz)


_hum_udf = clip_udf(_HUM_T, _hum_row, rate=True)


def hum_screen(clips: DataFrame) -> DataFrame:
    """(clip_id, status, n_samples, dc_offset, hum50_permille,
    hum60_permille, hum_permille, hum_hz, hum_detected, dc_detected,
    keep) — one row per decodable clip; verdicts are JVM-side integer
    comparisons against rules.HUM_MAX_PERMILLE / rules.DC_OFFSET_MAX.
    Zero shuffles."""
    e = clips.select("clip_id", _hum_udf().alias("h")).where(
        F.col("h").isNotNull()
    )
    hum = F.coalesce(
        F.col("h.hum_permille") >= rules.HUM_MAX_PERMILLE, F.lit(False)
    )
    dc = F.abs(F.col("h.dc_offset")) >= rules.DC_OFFSET_MAX
    keep = (F.col("h.status") == "ok") & ~hum & ~dc
    return e.select(
        "clip_id",
        "h.*",
        hum.alias("hum_detected"),
        dc.alias("dc_detected"),
        keep.alias("keep"),
    )
