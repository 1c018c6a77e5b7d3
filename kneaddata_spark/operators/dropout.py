"""Dropout / stuck-sample screen: digital-defect detection per clip.

The ingestion defects no existing screen catches: interior ZERO runs
(packet-loss fill, buffer underruns, splice gaps) and interior CONSTANT
nonzero runs (stuck sample / DAC hold). A clip can pass VAD, SNR, hum,
clipping and dynamic-range screens with a hole punched through a word —
declip sees rail values only, VAD sees leading/trailing silence only.
Natural 16-bit audio never holds ONE exact value for milliseconds, so
run-length analysis is a high-precision detector. Reference lineage: a
clip-level REPORTED verdict in the stage_counts taxonomy, the
run.py:372-450 trim-stage philosophy of cutting/flagging defective
spans.

Kernel (integer-exact; constants in rules.py):
- active region = [first nonzero, last nonzero] — leading/trailing
  silence is trimming's business, not a defect.
- run-length encode x; intersect every run with the active region;
  a surviving run of length >= min_run = sr * DROPOUT_MIN_RUN_MS // 1000
  is a dropout (value == 0) or a stuck run (value != 0).
- dropout_permille / stuck_permille = defect samples * 1000 //
  active_n, floor division, exact.
- status: 'silent' when no nonzero sample exists (unmeasurable is not
  a pass — the snr/hum convention), else 'ok'.

Verdicts are JVM-side integer comparisons against
rules.DROPOUT_MAX_PERMILLE / rules.STUCK_MAX_PERMILLE.

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

__all__ = ["dropout_of", "dropout_screen"]


def dropout_of(x: np.ndarray, sr: int):
    """int16 samples -> (status, n_samples, active_n, n_dropouts,
    dropout_samples, max_dropout_run, n_stuck, stuck_samples,
    dropout_permille, stuck_permille). Pure function of (x, sr) and the
    rules constants; the pytest replica re-derives it with a per-sample
    python walk."""
    n = len(x)
    nz = np.flatnonzero(x)
    if len(nz) == 0:
        return ("silent", n, 0, None, None, None, None, None, None, None)
    first, last = int(nz[0]), int(nz[-1])
    active_n = last - first + 1
    min_run = max(1, sr * rules.DROPOUT_MIN_RUN_MS // 1000)
    # run-length encode, then clip every run to the active window: a
    # leading/trailing silence run contributes 0 effective length
    change = np.flatnonzero(x[1:] != x[:-1]) + 1
    starts = np.concatenate(([0], change))
    ends = np.concatenate((change, [n]))
    vals = x[starts]
    eff = np.minimum(ends, last + 1) - np.maximum(starts, first)
    long_run = eff >= min_run
    drop = long_run & (vals == 0)
    stuck = long_run & (vals != 0)
    n_drop = int(drop.sum())
    drop_samples = int(eff[drop].sum()) if n_drop else 0
    max_drop = int(eff[drop].max()) if n_drop else 0
    n_stuck = int(stuck.sum())
    stuck_samples = int(eff[stuck].sum()) if n_stuck else 0
    return (
        "ok",
        n,
        active_n,
        n_drop,
        drop_samples,
        max_drop,
        n_stuck,
        stuck_samples,
        drop_samples * 1000 // active_n,
        stuck_samples * 1000 // active_n,
    )


_DROP_T = T.StructType(
    [T.StructField("status", T.StringType())]
    + [
        T.StructField(n, T.LongType())
        for n in (
            "n_samples",
            "active_n",
            "n_dropouts",
            "dropout_samples",
            "max_dropout_run",
            "n_stuck",
            "stuck_samples",
            "dropout_permille",
            "stuck_permille",
        )
    ]
)


_dropout_udf = clip_udf(_DROP_T, dropout_of, rate=True)


def dropout_screen(clips: DataFrame) -> DataFrame:
    """(clip_id, status, n_samples, active_n, n_dropouts, dropout_samples,
    max_dropout_run, n_stuck, stuck_samples, dropout_permille,
    stuck_permille, dropout_detected, stuck_detected, keep) — one row per
    decodable clip; verdicts are JVM-side integer comparisons. Zero
    shuffles."""
    e = clips.select("clip_id", _dropout_udf().alias("d")).where(
        F.col("d").isNotNull()
    )
    drop = F.coalesce(
        F.col("d.dropout_permille") >= rules.DROPOUT_MAX_PERMILLE, F.lit(False)
    )
    stuck = F.coalesce(
        F.col("d.stuck_permille") >= rules.STUCK_MAX_PERMILLE, F.lit(False)
    )
    keep = (F.col("d.status") == "ok") & ~drop & ~stuck
    return e.select(
        "clip_id",
        "d.*",
        drop.alias("dropout_detected"),
        stuck.alias("stuck_detected"),
        keep.alias("keep"),
    )
