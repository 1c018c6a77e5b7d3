"""Scan width and cache internals: the per-core fixture layout that sets
every entry query's scan width (entry_queries._t / _synth_clips), the
hashed-shingle basis the pair screens share (dedup._hashed_shingles) and
the self-join input pins (caching.persist_tracked)."""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    import sys

    sys.path.insert(0, "/root/repo")
    from kneaddata_spark.session import get_spark

    s = get_spark(app="test_partitioning", cores=8)
    yield s


def test_hashed_shingles_guard_matches_string_guard(spark):
    """_hashed_shingles' df-guard over xxhash64 values keeps EXACTLY the
    (id, shingle) survivors of word_shingles' string guard — the hashed
    basis is the string basis, one xxhash64 away."""
    from kneaddata_spark.operators import dedup
    from kneaddata_spark.plans.entry_queries import _docs_with_dups

    d = _docs_with_dups(spark, SF_DIR)
    # force the guard to actually drop something at this tiny sf
    strings = dedup.word_shingles(d, "doc_id", "text", n=3, max_df=20)
    want = {
        (r["id"], r["h"])
        for r in strings.select(
            "id", F.xxhash64("shingle").alias("h")
        ).collect()
    }
    got = {
        (r["id"], r["h"])
        for r in dedup._hashed_shingles(
            d, "doc_id", "text", 3, 20, part_col="h"
        ).collect()
    }
    assert got == want and len(got) > 0
    from kneaddata_spark.operators.caching import release_tracked

    release_tracked()


def test_simhash_bitcount_signature_matches_pm1_definition(spark):
    """The r6 bit-count aggregate (b_i = 2*c_i - n) must reproduce the
    per-bit +/-1 sums sign-for-sign — checked via a direct python
    replica of the +/-1 definition over the same token hashes."""
    from collections import defaultdict

    from kneaddata_spark.operators import dedup

    rows = [(1, "alpha beta gamma alpha"), (2, "beta beta delta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {
        r["id"]: r["simhash"]
        for r in dedup.simhash_signatures(df, "doc_id", "text").collect()
    }
    toks = df.select(
        F.col("doc_id").alias("id"),
        F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"),
    ).where("tok != ''")
    hashes = defaultdict(list)
    for r in toks.select("id", F.xxhash64("tok").alias("h")).collect():
        hashes[r["id"]].append(r["h"])
    for i, hs in hashes.items():
        sig = 0
        for b in range(64):
            s = sum(1 if (h >> b) & 1 else -1 for h in hs)
            if s > 0:
                sig |= 1 << b
        # interpret as signed 64-bit like the engine column
        if sig >= 1 << 63:
            sig -= 1 << 64
        assert sigs[i] == sig


def test_clip_fixture_scan_width_matches_session(spark):
    """The shared audio fixture is written one ~1 MB file per core
    (floor 8), so the Python decode stage — which has NO exchange before
    it — plans a scan split per core instead of the old 4-8; _t splits
    the relational tables the same way. The file count must track the
    session's parallelism and the scan must not pack the files back
    together."""
    from kneaddata_spark.plans.entry_queries import _clip_parts, _synth_clips

    want = _clip_parts(spark)
    clips = _synth_clips(spark, 400)
    # one split per file: the decode stage inherits this width
    assert clips.rdd.getNumPartitions() >= want - 1  # openCost packing slack
    assert clips.count() == 400
    # the relational fixtures get the same layout from _t's split of the
    # single-row-group source file, with every source row kept
    import pyarrow.parquet as pq

    from kneaddata_spark.plans.entry_queries import _t

    docs = _t(spark, SF_DIR, "documents")
    assert docs.rdd.getNumPartitions() >= want - 1
    src = pq.read_table(f"{SF_DIR}/documents.parquet")
    assert sorted(tuple(r) for r in docs.collect()) == sorted(
        zip(*[src[c].to_pylist() for c in docs.columns])
    )


def _cached_relations(df) -> set:
    """Distinct cached relations (by the identity of each InMemoryRelation's
    cached data) read by the optimized plan's top level. A cache that several plan branches
    share is counted once, however many scans print for it."""
    jvm = df.sparkSession._jvm
    ids, stack = set(), [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "InMemoryRelation":
            ids.add(jvm.System.identityHashCode(node.cacheBuilder()))
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return ids


def test_dup_screens_pin_their_self_join_inputs(spark):
    """The signature/array frames feeding both self-join sides are
    persist_tracked — without the pin each side re-evaluates the
    corpus-wide aggregate (and, for images, the Python decode). Each pin
    is a distinct cached relation in the plan."""
    from tools.audit_plans import plan_of
    from kneaddata_spark.operators import dedup
    from kneaddata_spark.operators.caching import release_tracked

    rows = [(i, f"tok{i} alpha beta gamma delta epsilon zeta") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    release_tracked()
    # the signature AND array pins: the shingle cache both are built
    # from sits inside them, so it alone would count one
    assert len(_cached_relations(dedup.minhash_dedup_pairs(df, "doc_id", "text"))) >= 2
    release_tracked()
    sigs = dedup.simhash_signatures(df, "doc_id", "text")
    p = plan_of(dedup.simhash_near_dup_pairs(sigs))
    assert "InMemoryTableScan" in p
    release_tracked()


def test_persist_tracked_keeps_one_registration_per_frame(spark):
    """persist_tracked on an already-persisted frame returns it unchanged
    and does not register it again — neither its own earlier result nor a
    frame the caller persisted at another storage level."""
    from pyspark import StorageLevel

    from kneaddata_spark.operators import caching

    caching.release_tracked()
    once = caching.persist_tracked(spark.range(10))
    assert caching.persist_tracked(once) is once
    assert len(caching._LIVE) == 1
    mine = spark.range(20).persist(StorageLevel.MEMORY_ONLY)
    assert caching.persist_tracked(mine) is mine
    assert len(caching._LIVE) == 1
    assert caching.release_tracked() == 1
    assert once.storageLevel == StorageLevel.NONE
    assert mine.storageLevel == StorageLevel.MEMORY_ONLY
    mine.unpersist()
