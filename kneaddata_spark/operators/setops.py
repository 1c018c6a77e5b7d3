"""Membership set operations — the reference's joins are ALL equi-semi/anti
joins on a record id (SURVEY.md §2.4): intersection of per-database clean
sets, anti-joins against hit lists. The key side is always broadcast
(hit sets << input), so every join plans as a broadcast-hash join.

Reference semantics:
 - intersect_kway: run.py:276-301 (`intersect_fastq`) — keep records of the
   base set whose id occurs in all k sets (fast path k=1: run.py:283-287).
 - combine_pair_outputs: run.py:303-344 — intersection applied per mate.
 - anti_join_ids: run.py:452-480 (TRF repeat hits), run.py:187-211
   (BMTagger: complement of the clean set).
 - union_distinct_aligned: db_preprocessing/mergesams.py:3-19.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def intersect_kway(
    base: DataFrame, others: list[DataFrame], key: str = "read_id"
) -> DataFrame:
    """Rows of ``base`` whose key appears in EVERY frame of ``others``.

    k=1 (no others) returns base unchanged — the reference's trivial-case
    elision (run.py:283-287) falls out of the plan for free.
    """
    out = base
    for o in others:
        out = out.join(F.broadcast(o.select(key).distinct()), key, "left_semi")
    return out


def combine_pair_outputs(
    per_db: list[DataFrame], key: str = "read_id", mate_col: str = "mate"
) -> DataFrame:
    """Per-mate k-way intersection (run.py:303-344): a (key, mate) pair
    survives only if present in every database's output."""
    if len(per_db) == 1:
        return per_db[0]
    base, rest = per_db[0], per_db[1:]
    out = base
    for o in rest:
        out = out.join(
            F.broadcast(o.select(key, mate_col).distinct()), [key, mate_col], "left_semi"
        )
    return out


def anti_join_ids(base: DataFrame, hits: DataFrame, key: str = "read_id") -> DataFrame:
    """Remove rows whose key is in ``hits`` (TRF repeat removal, J3)."""
    return base.join(F.broadcast(hits.select(key).distinct()), key, "left_anti")


def keep_only_clean(
    base: DataFrame, clean: DataFrame, key: str = "read_id"
) -> tuple[DataFrame, DataFrame]:
    """BMTagger extract-mode routing (run.py:187-211): rows whose key IS in
    the clean set are clean; the complement are contaminants."""
    c = F.broadcast(clean.select(key).distinct())
    return base.join(c, key, "left_semi"), base.join(c, key, "left_anti")


def union_distinct_aligned(
    sams: list[DataFrame], key: str = "read_id", ref_col: str = "ref"
) -> DataFrame:
    """Merge N SAM-like frames, distinct ids whose ref != '*'
    (mergesams.py:3-19)."""
    unioned = reduce(lambda a, b: a.unionByName(b), sams)
    return unioned.where(F.col(ref_col) != "*").select(key).distinct()


def serial_cascade(base: DataFrame, predicates: list) -> tuple[DataFrame, list]:
    """D7 serial mode: apply drop-predicates in sequence; DB k+1 sees only
    DB k's survivors (run.py:77-86; auto when processes==1,
    knead_data.py:308-310). Catalyst collapses the chained filters into one
    stage — the reference's N full re-scans disappear. Returns survivors +
    the list of per-stage filtered frames (for counter parity)."""
    stages = []
    out = base
    for pred in predicates:
        out = out.where(~pred)
        stages.append(out)
    return out, stages
