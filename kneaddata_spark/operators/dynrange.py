"""Dynamic-range / overcompression screen: loudness-range proxy per clip.

Limiter-crushed audio (broadcast processing, phone ads, "loudness-war"
masters) is the quality axis none of the existing screens sees: a
brick-walled clip passes VAD (speech present), SNR (no noise floor
left to measure against), pitch, hum, bandwidth and reverb — yet its
flattened envelope carries less acoustic information per second than
natural speech. The broadcast measure is EBU R128 loudness range (LRA:
gated percentile spread of short-term loudness); here reduced to an
integer percentile ratio over gated frame energies so the verdict is
bit-reproducible (the SNR/pitch integer discipline; reference lineage:
another clip-level REPORTED verdict in the stage_counts taxonomy,
run.py:372-450 trim-stage philosophy).

Kernel (integer-exact; constants in rules.py):
- frame energies e_j = sum(x_k^2) over non-overlapping frames of
  frame_len = sr * DR_FRAME_MS div 1000 samples (int64-safe).
- gate: ACTIVE frames have e_j >= max(peak div DR_GATE_DIV, 1)
  (~-30 dB of peak — the R128 absolute-gate idea: leading/trailing
  silence must not fake dynamics for a compressed clip).
- sort active energies ascending; p10/p95 at floor index
  (n_active - 1) * p div 100 (numpy sort == python sorted on int64 —
  total order, no float ties).
- dr_ratio_permille = p10 * 1000 div p95: ~1000 = brick-walled,
  ~0 = naturally dynamic (p95 >= p10 >= 1 by the gate, so the ratio
  is always defined for resolved clips).
- status: 'short' when n_active < rules.DR_MIN_FRAMES (a range needs
  frames to spread over), 'silent' when peak == 0, else 'ok'.

Verdicts are JVM-side integer comparisons: compressed = status ok AND
dr_ratio_permille >= rules.DR_COMPRESSED_MIN_PERMILLE; keep = NOT
compressed ('short'/'silent' rows keep — an unresolvable range is
masked evidence, not a certified defect; the reverb_screen convention,
documented in rules.py).

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

__all__ = ["dr_of", "dynrange_screen"]


def dr_of(x: np.ndarray, sr: int):
    """int16 samples -> (status, n_frames, n_active, p10_energy,
    p95_energy, dr_ratio_permille). Pure function of (x, sr) and the
    rules constants; the pytest replica re-derives it with per-sample
    python-int loops."""
    frame_len = sr * rules.DR_FRAME_MS // 1000
    if frame_len <= 0 or len(x) < frame_len:
        return ("short", 0, 0, None, None, None)
    n_f = len(x) // frame_len
    fx = x[: n_f * frame_len].astype(np.int64).reshape(n_f, frame_len)
    e = (fx * fx).sum(axis=1)
    peak = int(e.max())
    if peak == 0:
        return ("silent", n_f, 0, None, None, None)
    act = np.sort(e[e >= max(peak // rules.DR_GATE_DIV, 1)])
    n_a = len(act)
    if n_a < rules.DR_MIN_FRAMES:
        return ("short", n_f, n_a, None, None, None)
    p10 = int(act[(n_a - 1) * 10 // 100])
    p95 = int(act[(n_a - 1) * 95 // 100])
    return ("ok", n_f, n_a, p10, p95, p10 * 1000 // p95)


_DR_T = T.StructType(
    [
        T.StructField("status", T.StringType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("n_active", T.LongType()),
        T.StructField("p10_energy", T.LongType()),
        T.StructField("p95_energy", T.LongType()),
        T.StructField("dr_ratio_permille", T.LongType()),
    ]
)


_dr_udf = clip_udf(_DR_T, dr_of, rate=True)


def dynrange_screen(clips: DataFrame) -> DataFrame:
    """(clip_id, status, n_frames, n_active, p10_energy, p95_energy,
    dr_ratio_permille, compressed, keep) — one row per decodable clip;
    verdicts are JVM-side integer comparisons against
    rules.DR_COMPRESSED_MIN_PERMILLE. Zero shuffles."""
    e = clips.select("clip_id", _dr_udf().alias("d")).where(
        F.col("d").isNotNull()
    )
    comp = (F.col("d.status") == "ok") & (
        F.col("d.dr_ratio_permille") >= rules.DR_COMPRESSED_MIN_PERMILLE
    )
    return e.select(
        "clip_id",
        "d.*",
        comp.alias("compressed"),
        (~comp).alias("keep"),
    )
