"""Declip: repair clipped samples by integer interpolation (repair tier).

The QC pipeline DROPS clips whose clipped-sample fraction exceeds
rules.CLIP_FRAC_MAX (drop_clipping). This operator is the repair
alternative — the audio analog of the reference's span-trim philosophy
(trim stages cut the bad SPANS and keep the read, run.py:372-450, vs
dropping whole reads): samples pinned at the rails (|x| >= 32736, the
exact integer form of rules.CLIP_SAMPLE_THRESH — functions/audio.py:18)
are replaced by linear interpolation between the nearest unclipped
anchors, the standard declipping baseline (cf. Adler et al. 2012,
"audio declipping" — production systems fit AR/sparse models; the
baseline is deterministic and replica-verifiable, this repo's
discipline). Honest scope note: an int16 repair is bounded by the
rails, so for SATURATED peaks (true signal beyond the rail) no repair
can beat the clipped value itself — the measurable improvement is for
rail-STUCK defect runs (dropouts, wrap artifacts) inside otherwise
unclipped audio, which interpolation recovers almost exactly
(pytest-gated: >100x MSE reduction on planted defects).

INTEGER-DEFINED kernel (the VAD/clip-threshold discipline — bit-exact
python replica in pytest):
- clipped mask: |x| >= 32736 on int16 (never float on int16 — CLAUDE.md)
- for a clipped position p with nearest unclipped anchors l < p < r:
    v = x[l] + (x[r] - x[l]) * (p - l) // (r - l)   (floor division)
- clipped head (no left anchor): hold x[first unclipped]; clipped tail:
  hold x[last unclipped]; ENTIRELY clipped clip: unrecoverable — passes
  through unchanged with repaired = 0.

Vectorized across every clipped sample of a clip with two searchsorted
probes over the unclipped-anchor index array — no per-run python loop,
O(n log n) worst case, the same shape at any clip length.

Engine shape: ONE Arrow stage (shared codec registry decode, the
nondeterministic pin), scalar witnesses out (crc of the repaired PCM,
clipped/run accounting, residual clip fraction), repaired bytes stay
Python-side (the `bytes` boundary rule — an archival sink would rebuild
them like flacarchive does). Zero shuffles.
"""

from __future__ import annotations

import zlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.audio import clip_udf

CLIP_S16 = 32736  # |x| >= this == |x/32768| >= rules.CLIP_SAMPLE_THRESH

__all__ = ["CLIP_S16", "declip_samples", "declip_stats"]


def declip_samples(x: np.ndarray) -> tuple:
    """Repair one int16 clip. Returns (repaired int16 array, n_clipped,
    n_runs, repaired_flag). The input is never mutated."""
    xi = x.astype(np.int64)
    mask = np.abs(xi) >= CLIP_S16
    n_clipped = int(mask.sum())
    if n_clipped == 0:
        return x.astype(np.int16), 0, 0, 0
    # run count: rising edges of the mask
    n_runs = int(mask[0]) + int((mask[1:] & ~mask[:-1]).sum())
    anchors = np.flatnonzero(~mask)
    if len(anchors) == 0:
        return x.astype(np.int16), n_clipped, n_runs, 0
    out = xi.copy()
    pos = np.flatnonzero(mask)
    ri = np.searchsorted(anchors, pos)            # first anchor > pos
    li = ri - 1                                   # last anchor < pos
    has_l = li >= 0
    has_r = ri < len(anchors)
    inner = has_l & has_r
    l = anchors[np.clip(li, 0, None)]
    r = anchors[np.clip(ri, None, len(anchors) - 1)]
    lv = xi[l]
    rv = xi[r]
    den = np.where(inner, r - l, 1)  # edge rows discarded below; avoid /0
    interp = lv + (rv - lv) * (pos - l) // den
    out[pos[inner]] = interp[inner]
    out[pos[~has_l]] = xi[anchors[0]]             # clipped head: hold right
    out[pos[~has_r]] = xi[anchors[-1]]            # clipped tail: hold left
    return out.astype(np.int16), n_clipped, n_runs, 1


_DECLIP_T = T.StructType(
    [
        T.StructField("n_samples", T.LongType()),
        T.StructField("n_clipped", T.LongType()),
        T.StructField("n_runs", T.LongType()),
        T.StructField("repaired", T.IntegerType()),
        T.StructField("residual_clip_permille", T.LongType()),
        T.StructField("max_abs_change", T.LongType()),
        T.StructField("crc_raw", T.LongType()),
        T.StructField("crc_repaired", T.LongType()),
    ]
)


def declip_of(x: np.ndarray) -> tuple:
    """int16 samples -> the _DECLIP_T witnesses of one repair."""
    rep, n_clipped, n_runs, repaired = declip_samples(x)
    ri = rep.astype(np.int64)
    return (
        int(len(x)),
        int(n_clipped),
        int(n_runs),
        int(repaired),
        int((np.abs(ri) >= CLIP_S16).sum()) * 1000 // len(x),
        int(np.abs(ri - x.astype(np.int64)).max()),
        int(zlib.crc32(x.astype("<i2").tobytes())),
        int(zlib.crc32(rep.astype("<i2").tobytes())),
    )


_declip_udf = clip_udf(_DECLIP_T, declip_of)


def declip_stats(clips: DataFrame) -> DataFrame:
    """(clip_id, n_samples, n_clipped, n_runs, repaired,
    residual_clip_permille, max_abs_change, crc_raw, crc_repaired) —
    one row per decodable clip. Clean clips report n_clipped = 0 with
    crc_repaired == crc_raw; repaired clips report residual permille 0
    unless unrecoverable. One Arrow stage, zero shuffles."""
    ex = clips.select("clip_id", _declip_udf().alias("__d"))
    return ex.where(F.col("__d").isNotNull()).select("clip_id", "__d.*")
