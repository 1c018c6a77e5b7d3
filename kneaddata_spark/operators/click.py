"""Click / pop screen: impulsive-defect detection per clip.

Completes the impulsive-defect triad: declip catches RAIL values, the
dropout screen catches interior GAPS, this catches SPIKES — vinyl-style
clicks, digital pops, splice ticks. A click is a sample where the
waveform bends violently: the integer second difference
d2[i] = x[i-1] - 2*x[i] + x[i+1] spikes far above the clip's own d2
scale. Speech plosives ride that scale (the MAD-relative arm), and
near-silent clips don't flag quantization noise (the absolute floor).
Reference lineage: a clip-level REPORTED verdict in the stage_counts
taxonomy (run.py:372-450 trim-stage philosophy).

Kernel (integer-exact; constants in rules.py):
- d2[i] = x[i-1] - 2*x[i] + x[i+1], i in 1..n-2 (int64, exact).
- mad = sum(|d2|) // (n-2) — the clip's own impulsiveness scale.
- click sample: |d2[i]| >= max(CLICK_MIN_ABS, CLICK_MAD_MULT * mad);
  adjacent click samples merge into ONE event (a 2-3 sample pop is one
  click, not three).
- events_per_min = n_events * 60 * sr // n (floor, exact).
- status: 'short' when n < 3 (no second difference exists), 'silent'
  when all samples are zero, else 'ok' (unmeasurable is not a pass —
  the snr/hum/dropout convention).

Verdict is a JVM-side integer comparison against rules.CLICK_MAX_PER_MIN.

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

__all__ = ["click_of", "click_screen"]


def click_of(x: np.ndarray, sr: int):
    """int16 samples -> (status, n_samples, d2_mad, n_click_samples,
    n_click_events, max_abs_d2, clicks_per_min). Pure function of (x, sr)
    and the rules constants; the pytest replica re-derives it with a
    per-sample python walk."""
    n = len(x)
    if n < 3:
        return ("short", n, None, None, None, None, None)
    if not np.any(x):
        return ("silent", n, None, None, None, None, None)
    xi = x.astype(np.int64)
    d2 = xi[:-2] - 2 * xi[1:-1] + xi[2:]
    ad2 = np.abs(d2)
    mad = int(ad2.sum()) // (n - 2)
    thr = max(rules.CLICK_MIN_ABS, rules.CLICK_MAD_MULT * mad)
    hit = ad2 >= thr
    n_samples_hit = int(hit.sum())
    # merge adjacent hit samples into events: an event starts where a hit
    # is not preceded by a hit
    if n_samples_hit:
        starts = hit & ~np.concatenate(([False], hit[:-1]))
        n_events = int(starts.sum())
        max_d2 = int(ad2[hit].max())
    else:
        n_events = 0
        max_d2 = int(ad2.max()) if len(ad2) else 0
    return (
        "ok",
        n,
        mad,
        n_samples_hit,
        n_events,
        max_d2,
        n_events * 60 * sr // n,
    )


_CLICK_T = T.StructType(
    [T.StructField("status", T.StringType())]
    + [
        T.StructField(n, T.LongType())
        for n in (
            "n_samples",
            "d2_mad",
            "n_click_samples",
            "n_click_events",
            "max_abs_d2",
            "clicks_per_min",
        )
    ]
)


_click_udf = clip_udf(_CLICK_T, click_of, rate=True)


def click_screen(clips: DataFrame) -> DataFrame:
    """(clip_id, status, n_samples, d2_mad, n_click_samples,
    n_click_events, max_abs_d2, clicks_per_min, click_detected, keep) —
    one row per decodable clip; verdicts are JVM-side integer
    comparisons. Zero shuffles."""
    e = clips.select("clip_id", _click_udf().alias("c")).where(
        F.col("c").isNotNull()
    )
    det = F.coalesce(
        F.col("c.clicks_per_min") >= rules.CLICK_MAX_PER_MIN, F.lit(False)
    )
    keep = (F.col("c.status") == "ok") & ~det
    return e.select(
        "clip_id",
        "c.*",
        det.alias("click_detected"),
        keep.alias("keep"),
    )
