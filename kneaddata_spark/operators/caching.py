"""Cache-lifetime policy for corpus-scale intra-operator intermediates
(bm25 postings, dedup shingle frames, rollup grain partials).

Two rules (VERDICT r3 #4 + ADVICE r3):

1. The storage level is EXPLICITLY ``MEMORY_AND_DISK``: a corpus-scale
   frame that outgrows executor memory must spill, not evict-thrash or
   OOM. (``DataFrame.cache()`` already defaults to MEMORY_AND_DISK —
   unlike RDD ``cache()`` — but the intent belongs in the code, not in a
   Spark default a reader has to know.)

2. Every persisted frame is TRACKED in a module registry and released
   when the NEXT tracked-cache query is built: an external harness that
   sweeps 60+ queries in one session (the driver) never accumulates more
   than one query's pinned storage, without relying on harness-side
   ``clearCache()`` (which this repo's bench/oracle harnesses do run,
   but the driver's sweep is not under our control). Releasing at
   BUILD time — not inside the operator — keeps the cache alive for the
   query's own action(s) and keeps the query builder job-free, so plan
   audits (tools/audit_plans.py) still see the real physical plan.

The contract this weakens: two tracked-cache queries built first and
acted on later recompute the first query's intermediates uncached —
correct, just slower. No harness in or around this repo does that.
A production deployment persists these artifacts as TABLES (postings,
shingle index, grain rollups) and none of this machinery is in the plan.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_LIVE: list[DataFrame] = []


def persist_tracked(df: DataFrame) -> DataFrame:
    """persist(MEMORY_AND_DISK) + register for release_tracked(). A frame
    that is already persisted — by an earlier call or by the caller, at
    any level — comes back unchanged and unregistered: whoever persisted
    it releases it, and a second persist at another level would throw."""
    if df.storageLevel != StorageLevel.NONE:
        return df
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    _LIVE.append(out)
    return out


def release_tracked() -> int:
    """Unpersist every tracked frame (idempotent; survives a stopped
    session — frames from a dead SparkContext are just dropped)."""
    n = 0
    while _LIVE:
        df = _LIVE.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n
