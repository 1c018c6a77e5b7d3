"""Operator unit tests on tiny enumerated fixtures — the reference's
merge*.fastq pattern (/root/reference/kneaddata/tests/basic_tests.py:32-48,
expected sets in tests/cfg.py:20-21): row ids encode expected membership so
every expected result is hand-enumerable.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kneaddata_spark.operators import dedup, pairs, sampling, setops
from kneaddata_spark.operators.aggregates import overrepresented_ngrams, read_count_pivot


@pytest.fixture(scope="module")
def merge_frames(spark):
    """Three sources; ids encode membership (all_files_*, file1_*, ...)."""

    def mk(ids):
        return spark.createDataFrame([(i,) for i in ids], ["read_id"])

    f1 = mk(["all_files_1", "all_files_2", "file1_1", "file1_and_file2_1"])
    f2 = mk(["all_files_1", "all_files_2", "file2_1", "file1_and_file2_1"])
    f3 = mk(["all_files_1", "all_files_2", "file3_1"])
    return f1, f2, f3


def test_intersect_kway_expected_set(merge_frames):
    f1, f2, f3 = merge_frames
    got = sorted(r[0] for r in setops.intersect_kway(f1, [f2, f3]).collect())
    assert got == ["all_files_1", "all_files_2"]


def test_intersect_k1_identity(merge_frames):
    f1, _, _ = merge_frames
    assert setops.intersect_kway(f1, []).count() == 4


def test_anti_join_and_clean_routing(merge_frames, spark):
    f1, f2, _ = merge_frames
    removed = setops.anti_join_ids(f1, f2)
    assert sorted(r[0] for r in removed.collect()) == ["file1_1"]
    clean, contam = setops.keep_only_clean(f1, f2)
    assert sorted(r[0] for r in contam.collect()) == ["file1_1"]
    assert clean.count() == 3


def test_pair_policies(spark):
    # cases: both aligned / neither / only m1 / only m2
    rows = [
        ("both", 1, 1), ("both", 2, 1),
        ("none", 1, 0), ("none", 2, 0),
        ("m1", 1, 1), ("m1", 2, 0),
        ("m2", 1, 0), ("m2", 2, 1),
    ]
    df = spark.createDataFrame(rows, ["read_id", "mate", "aligned"])
    strict = {
        (r["read_id"], r["mate"]): r["pair_drop"]
        for r in pairs.pair_verdict(df, "strict").collect()
    }
    assert strict[("m1", 2)] is True and strict[("m2", 1)] is True
    assert strict[("none", 1)] is False and strict[("both", 1)] is True
    lenient = {
        (r["read_id"], r["mate"]): r["pair_drop"]
        for r in pairs.pair_verdict(df, "lenient").collect()
    }
    assert lenient[("m1", 1)] is False and lenient[("both", 2)] is True
    unpaired = {
        (r["read_id"], r["mate"]): r["pair_drop"]
        for r in pairs.pair_verdict(df, "unpaired").collect()
    }
    assert unpaired[("m1", 1)] is True and unpaired[("m1", 2)] is False


def test_classify_pairs_routes(spark):
    rows = [("p", 1, 1), ("p", 2, 0), ("o1", 1, 1)]
    df = spark.createDataFrame(rows, ["read_id", "mate", "aligned"])
    got = {r["read_id"]: r.asDict() for r in pairs.classify_pairs(df).collect()}
    assert got["p"]["m1_aligned"] == 1 and got["p"]["m2_aligned"] == 0
    assert got["o1"]["m2_n"] == 0  # orphan: no mate 2


def test_first_occurrence_dedup(spark):
    rows = [("a", 0, "first"), ("a", 1, "second"), ("b", 2, "only")]
    df = spark.createDataFrame(rows, ["read_id", "pos", "val"])
    got = {r["read_id"]: r["val"] for r in pairs.first_occurrence_dedup(df).collect()}
    assert got == {"a": "first", "b": "only"}


def test_deterministic_sampling_stability(spark):
    df = spark.createDataFrame([(i,) for i in range(1000)], ["k"])
    s1 = sorted(r[0] for r in sampling.bernoulli_deterministic(df, "k", 0.2).collect())
    s2 = sorted(
        r[0]
        for r in sampling.bernoulli_deterministic(df.repartition(7), "k", 0.2).collect()
    )
    assert s1 == s2 and 120 < len(s1) < 280
    top = sampling.reservoir_deterministic(df, "k", 50)
    assert top.count() == 50


def test_exact_dedup_and_groups(spark):
    rows = [(1, "xx"), (2, "xx"), (3, "yy"), (4, "xx")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = sorted(r["doc_id"] for r in dedup.dedup_exact(df, "doc_id", "text").collect())
    assert kept == [1, 3]
    groups = sorted(
        (r["canonical_id"], r["dup_id"])
        for r in dedup.exact_dup_groups(df, "doc_id", "text").collect()
    )
    assert groups == [(1, 2), (1, 4)]


def test_jaccard_and_minhash_agree(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base),
        (2, base + " extra"),        # near dup of 1
        (3, "one two three four five six seven eight nine ten"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5).collect()
    }
    assert set(exact) == {(1, 2)}
    mh = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_dedup_pairs(df, "doc_id", "text", threshold=0.5).collect()
    }
    assert mh == {(1, 2)}


def test_containment_catches_quote_inclusion(spark):
    # the case Jaccard structurally misses: a short doc quoted verbatim
    # inside a long one — J = |A|/|B| (tiny), C = 1.0
    quote = "alpha beta gamma delta epsilon zeta eta theta"
    long_doc = quote + " " + " ".join(f"tok{i}" for i in range(60))
    rows = [
        (1, long_doc),
        (2, quote),                  # fully contained in 1
        (3, "one two three four five six seven eight nine ten"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # Jaccard at 0.5 misses the pair (containment ratio ~8/68 shingles)
    j = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5).collect()
    }
    assert (1, 2) not in j
    got = {
        (r["id_a"], r["id_b"]): r
        for r in dedup.containment_pairs(df, "doc_id", "text", threshold=0.8).collect()
    }
    assert set(got) == {(1, 2)}
    r = got[(1, 2)]
    assert r["containment"] == 1.0
    assert r["contained_id"] == 2   # the smaller-shingle-set side
    # tie in shingle-set size -> contained_id = id_a
    tie = spark.createDataFrame([(7, quote), (9, quote)], ["doc_id", "text"])
    tr = dedup.containment_pairs(tie, "doc_id", "text", threshold=0.8).collect()
    assert len(tr) == 1 and tr[0]["contained_id"] == 7


def test_simhash_identical_distance_zero(spark):
    rows = [(1, "aaa bbb ccc ddd"), (2, "aaa bbb ccc ddd"), (3, "zzz yyy xxx www")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = dedup.simhash_signatures(df, "doc_id", "text")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_near_dup_pairs(sigs, max_hamming=3).collect()
    }
    assert got.get((1, 2)) == 0
    assert (1, 3) not in got and (2, 3) not in got


def test_cosine_topk_planted_neighbor(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    vecs = {i: rng.standard_normal(16).astype("float32") for i in range(20)}
    vecs[19] = vecs[0] + rng.standard_normal(16).astype("float32") * 0.01
    rows = [(i, [float(x) for x in v]) for i, v in vecs.items()]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    from kneaddata_spark.operators.similarity import cosine_topk_bruteforce

    out = cosine_topk_bruteforce(df, df.where("vec_id = 0"), k=1).collect()
    assert out[0]["nbr_id"] == 19 and out[0]["cos"] > 0.99


def test_overrepresented_ngrams(spark):
    rows = [("the cat sat",), ("the cat ran",), ("a dog",)]
    df = spark.createDataFrame(rows, ["text"])
    got = {r["ngram"]: r["n_occ"] for r in overrepresented_ngrams(df, "text", n=2, min_frac=0.5).collect()}
    assert got == {"the cat": 2}


def test_read_count_pivot_na_fill(spark):
    rows = [("s1", "raw", 10), ("s1", "final", 7), ("s2", "raw", 5)]
    df = spark.createDataFrame(rows, ["sample", "stage", "count"])
    p = read_count_pivot(df, stages=["raw", "trimmed", "final"]).na.fill("NA")
    got = {r["sample"]: (r["raw"], r["trimmed"], r["final"]) for r in p.collect()}
    assert got["s1"] == (10, None, 7) or got["s1"] == (10, "NA", 7)
    assert got["s2"][0] == 5


def test_fit_sample_cap_and_np_kmeans(spark):
    """_collect_fit_sample honors the cap branch (seeded Bernoulli, ~cap
    rows, deterministic across calls) and _np_kmeans centroids are
    deterministic, k-row, and assign a well-separated planted clustering
    perfectly regardless of restart count."""
    import numpy as np

    from kneaddata_spark.operators.similarity import (
        _collect_fit_sample,
        _np_kmeans,
    )

    df = spark.range(2000).selectExpr(
        "id", "array(cast(id % 7 as float), cast(id % 13 as float)) as v"
    )
    a = _collect_fit_sample(df, "v", cap=300, seed=5)
    b = _collect_fit_sample(df, "v", cap=300, seed=5)
    assert np.array_equal(a, b)                      # deterministic
    assert 150 <= a.shape[0] <= 600 and a.shape[1] == 2   # ~cap, sampled
    full = _collect_fit_sample(df, "v", cap=5000, seed=5)
    assert full.shape == (2000, 2)                   # no-sample branch

    rng = np.random.default_rng(3)
    centers = np.array([[0.0, 0.0], [100.0, 0.0], [0.0, 100.0]])
    X = np.vstack([c + rng.normal(0, 0.5, size=(50, 2)) for c in centers])
    C1 = _np_kmeans(X, 3, seed=9, max_iter=25)
    C2 = _np_kmeans(X, 3, seed=9, max_iter=25)
    assert np.array_equal(C1, C2) and C1.shape == (3, 2)
    # every planted center recovered to within the cluster noise
    for c in centers:
        assert np.abs(C1 - c).sum(axis=1).min() < 1.0


def test_np_kmeans_pq_matches_per_subspace_fits():
    """r6 batched PQ fit: _np_kmeans_pq over (n, m, sub) blocks equals m
    independent _np_kmeans(block_s, k, seed + s) fits on well-separated
    data (where float32-distance argmin cannot flip an assignment), is
    deterministic, and handles the all-points-identical degenerate
    branch. Random-data fixtures measured bit-identical too; the test
    pins the separable case so a BLAS rounding change can't flake it."""
    import numpy as np

    from kneaddata_spark.operators.similarity import _np_kmeans, _np_kmeans_pq

    rng = np.random.default_rng(11)
    # 3 planted centers per 2-d subspace, wide separation vs noise
    centers = np.array([[0.0, 0.0], [50.0, 0.0], [0.0, 50.0]])
    cols = []
    for s in range(4):
        lab = rng.integers(0, 3, 600)
        cols.append(centers[lab] + rng.normal(0, 0.3, size=(600, 2)))
    blocks = np.stack(cols, axis=1)  # (600, 4, 2)
    got = _np_kmeans_pq(blocks, 3, seed=9, max_iter=25)
    got2 = _np_kmeans_pq(blocks, 3, seed=9, max_iter=25)
    assert np.array_equal(got, got2) and got.shape == (4, 3, 2)
    for s in range(4):
        want = _np_kmeans(blocks[:, s, :], 3, seed=9 + s, max_iter=25)
        assert np.allclose(got[s], want), s

    flat = np.ones((40, 8))
    d = _np_kmeans_pq(flat.reshape(40, 2, 4), 4, seed=5, max_iter=10)
    assert d.shape == (2, 4, 4) and np.allclose(d, 1.0)


def test_ann_variants_recall(spark):
    """LSH and IVF ANN must recover most of the brute-force top-k for a
    clustered corpus (planted structure -> high recall expected)."""
    import numpy as np

    from kneaddata_spark.operators import similarity

    rng = np.random.default_rng(5)
    centers = rng.standard_normal((6, 64)).astype(np.float32) * 3
    rows = []
    for i in range(240):
        c = centers[i % 6]
        rows.append((i, (c + rng.standard_normal(64).astype(np.float32) * 0.3).tolist()))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    q = df.where("vec_id < 6")
    exact = {
        (r["query_id"], r["nbr_id"])
        for r in similarity.cosine_topk_bruteforce(df, q, k=5).collect()
    }
    for approx_df in (
        similarity.ann_lsh_topk(df, q, dim=64, k=5, n_planes=6),
        similarity.ann_ivf_topk(df, q, k=5, n_lists=6, n_probe=2),
    ):
        approx = {(r["query_id"], r["nbr_id"]) for r in approx_df.collect()}
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.7, recall


def test_cosine_pairs_bucketed_default_matches_exact(spark):
    """VERDICT r2 #7: the DEFAULT cosine_pairs_threshold path is banded
    sign-LSH candidates + exact verify; on the dup'd sf0.001 embeddings it
    must return the IDENTICAL pair set (and cos values) as the fenced
    small=True O(n^2) cross-join, and its plan must contain no cross/
    nested-loop join over the corpus."""
    from kneaddata_spark.operators import similarity
    from kneaddata_spark.plans.entry_queries import _emb_with_dups

    e = _emb_with_dups(spark, "/root/testdata/sf0.001")
    got_df = similarity.cosine_pairs_threshold(e, threshold=0.99)
    got = {(r["id_a"], r["id_b"], round(r["cos"], 6)) for r in got_df.collect()}
    want = {
        (r["id_a"], r["id_b"], round(r["cos"], 6))
        for r in similarity.cosine_pairs_threshold(e, threshold=0.99, small=True).collect()
    }
    assert got == want and len(got) == 20
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_global_rank_no_global_window(spark):
    """pairs.global_rank == row_number over a global sort, with NO
    empty-partition-spec Window in the plan (VERDICT r1 #2)."""
    from tools.audit_plans import global_window_lines

    rows = [(i % 17, i // 17, i) for i in range(201)]
    df = spark.createDataFrame(rows, ["a", "b", "payload"]).repartition(7)
    ranked = pairs.global_rank(df, ["a", "b"], num_partitions=5)
    assert global_window_lines(ranked) == []
    got = [(r["a"], r["b"], r["rank"]) for r in ranked.orderBy("rank").collect()]
    want = sorted([(a, b) for a, b, _ in rows])
    assert [(a, b) for a, b, _ in got] == want
    assert [r for _, _, r in got] == list(range(1, 202))


def test_global_rank_survives_divergent_pruning(spark):
    """r5 regression pin: global_rank's offsets and data subtrees must see
    ONE range partitioning even when downstream pruning differs between
    them (an aggregate over a payload column the count side never reads).
    Pre-fix, correctness hinged on ReuseExchange deduplicating the two
    range sorts; pruning divergence broke reuse and each exchange sampled
    its own boundaries (seeded per RDD id — session-dependent, which is
    why the bug surfaced only in the sf0.1 oracle sweep). The fix persists
    the ranged frame, so the structural assert is that BOTH consumers
    read the cache (>=2 InMemoryTableScan), alongside the behavioral
    rank check on a payload-carrying frame."""
    from pyspark.sql import functions as F

    df = spark.range(3000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("p" * 64), F.col("id").cast("string")).alias("payload"),
    )
    ranked = pairs.global_rank(df, ["k"], rank_col="__r")
    agg = ranked.groupBy(
        F.expr("cast((__r - 1) div 64 as bigint)").alias("shard")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.octet_length("payload")).alias("payload_bytes"),
        F.min("k").alias("lo"),
        F.max("k").alias("hi"),
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 2, plan
    rows = sorted(tuple(r) for r in agg.collect())
    for shard, n, _, lo, hi in rows:
        want_n = 64 if shard < 3000 // 64 else 3000 % 64
        assert (n, lo, hi) == (want_n, shard * 64, shard * 64 + n - 1), rows[:4]


def test_no_global_window_in_driver_queries(spark):
    """Sweep every driver query plan for single-partition Windows
    (scale-killer guard; streaming query excluded — building it executes)."""
    from kneaddata_spark.plans.entry_queries import QUERIES
    from tools.audit_plans import global_window_lines

    sf = "/root/testdata/sf0.001"
    bad = {}
    for name, fn in QUERIES.items():
        if name == "qc_stream_counts":
            continue
        gw = global_window_lines(fn(spark, sf))
        if gw:
            bad[name] = gw[0][:160]
    assert bad == {}, bad


def test_salted_topk_equals_single_window_and_bounds_skew(spark):
    """skew.salted_topk_per_group: identical answer to the one-window
    top-k on a 60%-skewed group key, AND no (group, salt) phase-1 window
    cell receives more than ~2x its fair share of the hot group's rows
    (VERDICT r2 #3 — bounded per-task fan-in under skew)."""
    from pyspark.sql import Window

    from kneaddata_spark.operators.skew import salted_topk_per_group

    n, k, n_salts = 2000, 25, 8
    rows = [(i, "hot" if i % 5 < 3 else f"g{i % 5}") for i in range(n)]
    df = spark.createDataFrame(rows, ["id", "grp"]).repartition(8)
    order_cols = [(F.col("id") * 2654435761) % 4294967296, F.col("id")]

    got = salted_topk_per_group(df, "grp", order_cols, k, salt_src="id", n_salts=n_salts)
    w = Window.partitionBy("grp").orderBy(*order_cols)
    want = (
        df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") <= k).drop("__rn")
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}

    cells = (
        df.withColumn("__salt", F.pmod(F.xxhash64("id"), F.lit(n_salts)))
        .groupBy("grp", "__salt")
        .count()
        .collect()
    )
    hot_total = sum(r["count"] for r in cells if r["grp"] == "hot")
    hot_max = max(r["count"] for r in cells if r["grp"] == "hot")
    assert hot_max <= 2 * hot_total / n_salts, (hot_max, hot_total)


def test_scalar_only_schemas_in_driver_queries(spark):
    """Every driver-checked query must emit a scalar-only schema: the
    driver's canonicalizer (pandas sort/factorize) crashes on list cells
    (CORRECTNESS_r02 event_sequences). Sequences must be serialized
    (array_join / string_agg) on both engine and oracle sides."""
    from kneaddata_spark.plans.entry_queries import QUERIES
    from tools.audit_plans import scalar_schema_problems

    sf = "/root/testdata/sf0.001"
    bad = {}
    for name, fn in QUERIES.items():
        if name == "qc_stream_counts":
            continue
        ns = scalar_schema_problems(fn(spark, sf))
        if ns:
            bad[name] = ns
    assert bad == {}, bad


def test_shingle_skew_guard_default_on(spark):
    """VERDICT r1 #3: a stop-shingle planted in half the corpus must be
    dropped by the DEFAULT max_df='auto' guard — the (id,shingle) frame
    stays linear in docs and the self-join stays sub-quadratic, instead of
    one hot key contributing O((n/2)^2) joined rows."""
    n = 600
    hot = "the quick fox"  # a full 3-gram planted in 50% of docs
    rows = [
        (i, (hot + f" unique{i} token{i} filler{i}") if i % 2 == 0
            else f"solo{i} words{i} here{i} more{i} stuff{i}")
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = dedup.word_shingles(df, "doc_id", "text", n=3)  # default guard
    shingles = {r["shingle"] for r in sh.select("shingle").distinct().collect()}
    assert hot not in shingles  # df=300 > max(5, 600 div 100)=6 -> dropped
    # shingle frame stays ~linear in docs (no hot-key blowup downstream)
    assert sh.count() <= 6 * n
    pairs = dedup.ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5)
    assert pairs.count() == 0  # unique fillers dominate once the stop-shingle is gone
    # guard OFF: the hot key alone would feed 300*299/2 (~45k) join rows
    sh_off = dedup.word_shingles(df, "doc_id", "text", n=3, max_df=None)
    hot_df = sh_off.groupBy("shingle").count().where(F.col("shingle") == hot).collect()
    assert hot_df and hot_df[0]["count"] == n // 2
    # VERDICT r2 #4: the df COUNT itself must not funnel the hot shingle
    # through one task — the salted phase-1 cells of the guard's count are
    # each bounded well below the hot shingle's total df
    n_salts = 16
    cells = (
        sh_off.groupBy("shingle", F.pmod(F.xxhash64("id"), F.lit(n_salts)).alias("s"))
        .count()
        .where(F.col("shingle") == hot)
        .collect()
    )
    assert max(r["count"] for r in cells) <= 2 * (n // 2) / n_salts


def test_dup_clusters_transitive_chain(spark):
    """dup_clusters: a chain a~b, b~c collapses into ONE component with
    cluster_id = min; isolated pair separate; convergence < max_iter."""
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (10, 11), (20, 21), (21, 22), (22, 23)],
        ["id_a", "id_b"],
    )
    got = {r["id"]: r["cluster_id"] for r in dedup.dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}


def test_dup_clusters_long_chain_pointer_jumping(spark):
    """ADVICE r2: a 60-node path (diameter 59) must converge well inside
    max_iter=10 — possible only with pointer jumping (naive min-label
    propagation needs ~59 rounds). Also: non-convergence must RAISE, not
    silently return unmerged clusters."""
    import pytest

    chain = [(i, i + 1) for i in range(59)]
    pairs = spark.createDataFrame(chain, ["id_a", "id_b"])
    got = {r["id"]: r["cluster_id"] for r in dedup.dup_clusters(pairs, max_iter=10).collect()}
    assert got == {i: 0 for i in range(60)}
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.dup_clusters(pairs, max_iter=2)


def test_dup_clusters_random_graph_matches_union_find(spark):
    """dup_clusters vs an independent python union-find on a seeded random
    graph (120 nodes, 90 edges — many multi-node components and chains)."""
    import numpy as np

    rng = np.random.default_rng(42)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 120, size=(90, 2)) if a != b]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {x: find(x) for x in parent}
    got = {r["id"]: r["cluster_id"] for r in dedup.dup_clusters(pairs).collect()}
    assert got == want


def test_decontaminate_against_planted(spark):
    """A corpus doc embedding a benchmark 5-gram verbatim is dropped;
    unrelated docs survive."""
    bench = spark.createDataFrame(
        [(0, "what is the capital of france paris obviously")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            (1, "intro text what is the capital of france he asked"),  # contaminated
            (2, "completely unrelated words about cooking pasta tonight"),
            (3, "short text"),  # < 5 tokens: no shingles, survives
        ],
        ["doc_id", "text"],
    )
    clean = dedup.decontaminate_against(corpus, bench, "doc_id", "text", n=5, max_df=None)
    assert sorted(r["doc_id"] for r in clean.collect()) == [2, 3]


def test_shingles_short_docs_no_crash(spark):
    """Regression: docs with fewer than n tokens must yield ZERO shingles —
    Spark's sequence(1, 0) is the descending [1, 0] (unlike SQL
    generate_series) and used to feed slice(tokens, 0, n), which throws."""
    df = spark.createDataFrame(
        [(1, "one two"), (2, ""), (3, "a b c d e f")], ["doc_id", "text"]
    )
    out = dedup.word_shingles(df, "doc_id", "text", n=5, max_df=None).collect()
    assert {r["id"] for r in out} == {3}
    from kneaddata_spark.operators.textstats import overrepresented_ngrams

    assert overrepresented_ngrams(df, "text", n=4, min_count=1).count() == 3


def test_bm25_classic_matches_numpy_reference(spark):
    """bm25_topk(classic_idf=True) vs an independent numpy/python BM25
    (Robertson idf, k1=1.2 b=0.75) on a small corpus: identical ranking
    and scores within quantization tolerance."""
    import math
    from collections import Counter

    from kneaddata_spark.operators.retrieval import QUANT, bm25_topk

    corpus = {
        1: "the cat sat on the mat",
        2: "dogs chase the cat around the yard",
        3: "quantum mechanics describes subatomic particles",
        4: "the yard has a mat for the dogs",
        5: "particles of dust on the yard mat",
    }
    docs = spark.createDataFrame(list(corpus.items()), ["doc_id", "text"])
    queries = spark.createDataFrame([(100, "cat mat"), (200, "particles yard")],
                                    ["query_id", "query_text"])
    got = bm25_topk(docs, queries, k=3, classic_idf=True).collect()

    toks = {d: t.split() for d, t in corpus.items()}
    n, avgdl = len(corpus), sum(len(t) for t in toks.values()) / len(corpus)
    df = Counter(term for t in toks.values() for term in set(t))

    def score(query, d):
        s = 0
        for term in set(query.split()):
            tf = toks[d].count(term)
            if not tf:
                continue
            idf = math.log(1 + (n - df[term] + 0.5) / (df[term] + 0.5))
            tfp = tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len(toks[d]) / avgdl))
            s += math.floor(idf * tfp * QUANT)  # same quantization
        return s / QUANT

    for q_id, q_text in ((100, "cat mat"), (200, "particles yard")):
        want = sorted(
            ((score(q_text, d), -d) for d in corpus if score(q_text, d) > 0),
            reverse=True,
        )[:3]
        got_q = sorted(
            (r for r in got if r["query_id"] == q_id), key=lambda r: r["rank"]
        )
        assert [-w[1] for w in want] == [r["doc_id"] for r in got_q]
        for w, r in zip(want, got_q):
            assert abs(w[0] - r["score"]) < 1e-3, (q_id, r["doc_id"])


def test_pack_contexts_stream_is_gapless_and_partition_invariant(spark):
    """pack_contexts: within every shard the doc start offsets tile the
    concatenated stream exactly (no gaps/overlaps); bin bookkeeping is
    consistent; and the output is IDENTICAL regardless of input
    partitioning (retry/cluster-size invariance)."""
    from kneaddata_spark.operators.corpus import pack_contexts
    from kneaddata_spark.operators.sampling import KNUTH, M32

    rows = [(i, 5 + (i * 37) % 90) for i in range(500)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tok"])
    cap = 256
    out = pack_contexts(df, "doc_id", "n_tok", capacity=cap, n_shards=4)
    got = out.collect()
    assert len(got) == 500
    ntok = dict(rows)
    by_shard: dict = {}
    for r in got:
        start = r["bin_id"] * cap + r["bin_offset"]
        by_shard.setdefault(r["shard"], []).append((start, ntok[r["id"]], r["id"]))
    for shard, entries in by_shard.items():
        entries.sort()
        pos = 0
        for start, ln, _id in entries:
            assert start == pos, (shard, _id, start, pos)
            pos += ln
        # and the order is the portable hash order the oracle replays
        hashes = [((i * KNUTH) % M32, i) for _, _, i in entries]
        assert hashes == sorted(hashes)
    got2 = pack_contexts(
        df.repartition(13), "doc_id", "n_tok", capacity=cap, n_shards=4
    ).collect()
    assert {tuple(r) for r in got2} == {tuple(r) for r in got}


def test_pack_contexts_default_shards_track_parallelism(spark):
    """VERDICT r3 #3: with n_shards unset, the shard count derives from
    the session's defaultParallelism — one sequential packing stream per
    core, scale-safe as-called — and the streams stay gapless."""
    from kneaddata_spark.operators.corpus import pack_contexts

    par = spark.sparkContext.defaultParallelism
    rows = [(i, 5 + (i * 37) % 90) for i in range(40 * par)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tok"])
    out = pack_contexts(df, "doc_id", "n_tok", capacity=256).collect()
    shards = {r["shard"] for r in out}
    # hash-uniform shard key: with 40 docs/shard expected, every one of the
    # defaultParallelism shards is populated (P(empty) ~ par * e^-40)
    assert shards == set(range(par))
    ntok = dict(rows)
    by_shard: dict = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(
            (r["bin_id"] * 256 + r["bin_offset"], ntok[r["id"]])
        )
    for entries in by_shard.values():
        pos = 0
        for start, ln in sorted(entries):
            assert start == pos
            pos += ln


def test_mixture_resample_targets_and_determinism(spark):
    """mixture_resample: under-target groups survive whole; over-target
    groups land near the target (hash-Bernoulli tolerance); output is
    identical across runs (no rand())."""
    from kneaddata_spark.operators.corpus import mixture_resample

    rows = [(i, "big" if i < 2000 else "small") for i in range(2060)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = mixture_resample(df, "lang", "doc_id", {"big": 200, "small": 500})
    got = out.collect()
    by = {}
    for r in got:
        by.setdefault(r["lang"], set()).add(r["doc_id"])
    assert len(by["small"]) == 60  # under target: kept whole
    assert 140 <= len(by["big"]) <= 260  # ~200 within binomial noise
    got2 = mixture_resample(df, "lang", "doc_id", {"big": 200, "small": 500}).collect()
    assert {(r["doc_id"], r["lang"]) for r in got2} == {(r["doc_id"], r["lang"]) for r in got}


def test_asof_join_backward_semantics(spark):
    """asof_join: latest right row at-or-before each left ts; equal-ts
    right rows match (largest seq wins among equal ts); no preceding right
    row -> NULL."""
    from kneaddata_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [("L1", "u", 5), ("L2", "u", 10), ("L3", "u", 2), ("L4", "v", 9)],
        ["event_id", "user_id", "ts"],
    )
    right = spark.createDataFrame(
        [("u", 3, 100, 3.0), ("u", 10, 101, 7.0), ("u", 10, 102, 9.0), ("w", 1, 103, 5.0)],
        ["user_id", "ts", "event_id", "value"],
    )
    out = asof_join(left, right, key="user_id", ts="ts", value_cols=["value"], seq="event_id")
    got = {r["event_id"]: r["value"] for r in out.collect()}
    assert got == {"L1": 3.0, "L2": 9.0, "L3": None, "L4": None}
    # L2: two right rows at ts=10 — seq 102 (value 9.0) wins; L3 precedes
    # every right row; L4's user has no right rows at all


def test_range_join_band_and_buckets(spark):
    """range_join: inclusive band boundary, matches that CROSS a bucket
    boundary, no duplicate pairs, and no pairs beyond the band."""
    from pyspark.sql import functions as F

    from kneaddata_spark.operators.temporal import range_join

    left = spark.createDataFrame(
        [("u", 1000, "a"), ("u", 95, "b")], ["user_id", "t", "click_id"]
    )
    right = spark.createDataFrame(
        [("u", 1100, "x"), ("u", 900, "y"), ("u", 1101, "z"), ("u", 105, "w"), ("v", 1000, "q")],
        ["user_id", "t", "error_id"],
    )
    out = range_join(
        left, right, key="user_id",
        left_ts=F.col("t"), right_ts=F.col("t"), delta=100,
        left_cols=["click_id"], right_cols=["error_id"],
    )
    got = {(r["click_id"], r["error_id"]): r["ts_diff"] for r in out.collect()}
    # a@1000: x@1100 (+100 inclusive), y@900 (-100 inclusive), NOT z@1101;
    # b@95: w@105 crosses the div-100 bucket boundary (0 vs 1); q is user v
    assert got == {("a", "x"): 100, ("a", "y"): -100, ("b", "w"): 10}
    assert out.count() == len(got)  # no duplicate pairs from multi-bucket probing


def test_rollup_lattice_reaggregation_and_scan_once(spark):
    """rollup_lattice: coarser grains re-aggregated from partials equal a
    direct aggregation of raw, and the physical plan scans the source ONCE
    (coarser branches read the cached finest partials)."""
    from datetime import datetime

    from kneaddata_spark.operators.aggregates import rollup_lattice

    rows = [
        ("a", datetime(2024, 1, 1, 10, 0, 5), 1.0),
        ("a", datetime(2024, 1, 1, 10, 0, 55), 2.0),
        ("a", datetime(2024, 1, 1, 10, 59, 0), 4.0),
        ("a", datetime(2024, 1, 1, 23, 30, 0), 8.0),
        ("b", datetime(2024, 1, 2, 0, 0, 1), 16.0),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "value"])
    out = rollup_lattice(df, "ts", ["k"], "value")
    got = {
        (r["grain"], str(r["bucket"]), r["k"]): (r["n"], r["v"])
        for r in out.collect()
    }
    assert got[("minute", "2024-01-01 10:00:00", "a")] == (2, 3.0)
    assert got[("hour", "2024-01-01 10:00:00", "a")] == (3, 7.0)
    assert got[("day", "2024-01-01 00:00:00", "a")] == (4, 15.0)
    assert got[("day", "2024-01-02 00:00:00", "b")] == (1, 16.0)
    assert len([k for k in got if k[0] == "minute"]) == 4
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 0  # in-memory source here; so:
    # coarser grains read the cached partials, never re-derive from source
    assert plan.count("InMemoryTableScan") >= 2


def test_mixture_upsample_epochs(spark):
    """allow_upsample=True: an over-target group repeats with epoch
    indexes (~target total copies, every base epoch complete); the
    downsampled group is unchanged vs the default path."""
    from kneaddata_spark.operators.corpus import mixture_resample

    rows = [(i, "big" if i < 2000 else "small") for i in range(2050)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = mixture_resample(
        df, "lang", "doc_id", {"big": 300, "small": 175}, allow_upsample=True
    ).collect()
    small = [r for r in out if r["lang"] == "small"]
    big = [r for r in out if r["lang"] == "big"]
    # small: 50 rows, target 175 -> base 3 copies each + 25 hash-chosen extras
    assert len(small) >= 150 and abs(len(small) - 175) <= 20
    per_doc = {}
    for r in small:
        per_doc.setdefault(r["doc_id"], []).append(r["epoch"])
    assert all(sorted(v) == list(range(len(v))) for v in per_doc.values())
    assert all(len(v) in (3, 4) for v in per_doc.values())
    # big: plain downsample regime, all epoch 0, ~300 of 2000
    assert all(r["epoch"] == 0 for r in big) and 200 <= len(big) <= 400
    # downsample result identical to the default (no-upsample) path
    plain = mixture_resample(df, "lang", "doc_id", {"big": 300, "small": 175})
    assert {r["doc_id"] for r in plain.collect() if r["lang"] == "big"} == {
        r["doc_id"] for r in big
    }


def test_incremental_dedup_exact(spark):
    """Batch dedups within itself, then against the stored hash table;
    returned hash delta covers exactly the surviving rows."""
    corpus = spark.createDataFrame(
        [(1, "seen one"), (2, "seen two")], ["doc_id", "text"]
    )
    seen = corpus.select(F.md5("text").alias("h")).distinct()
    batch = spark.createDataFrame(
        [
            (10, "brand new"),
            (11, "brand new"),      # within-batch dup of 10
            (12, "seen one"),       # resubmission of corpus content
            (13, "also fresh"),
        ],
        ["doc_id", "text"],
    )
    clean, new_h = dedup.incremental_dedup_exact(batch, "doc_id", "text", seen)
    assert sorted(r["doc_id"] for r in clean.collect()) == [10, 13]
    assert new_h.count() == 2
    # second wave against the UPDATED seen table: everything already known
    seen2 = seen.unionByName(new_h)
    clean2, _ = dedup.incremental_dedup_exact(batch, "doc_id", "text", seen2)
    assert clean2.count() == 0


def test_incremental_band_screen(spark):
    """A new doc near-identical to a corpus doc is flagged via the stored
    band table; an unrelated doc survives."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame([(1, base)], ["doc_id", "text"])
    bt = dedup.corpus_band_table(corpus, "doc_id", "text")
    batch = spark.createDataFrame(
        [(10, base + " tail"), (11, "one two three four five six seven eight nine ten")],
        ["doc_id", "text"],
    )
    survivors, flagged = dedup.incremental_band_screen(batch, "doc_id", "text", bt)
    assert [r["doc_id"] for r in flagged.collect()] == [10]
    assert [r["doc_id"] for r in survivors.collect()] == [11]


def test_asof_join_property_vs_pandas_merge_asof(spark):
    """VERDICT r3 #7: randomized property check of asof_join against
    pandas merge_asof(direction="backward") — keys, timestamps with heavy
    ties (left==right ts collisions, multiple right rows per (key, ts)),
    and shuffled seq tiebreakers. pandas keeps the LAST right row among
    equal on-values, so sorting the right frame by (ts, seq) makes its
    winner the largest seq — exactly the docstring's tie contract."""
    import numpy as np
    import pandas as pd

    from kneaddata_spark.operators.temporal import asof_join

    for seed in (0, 1, 2, 3, 4):
        rng = np.random.default_rng(seed)
        n_left, n_right, n_keys, ts_max = 120, 100, 5, 40
        left_pd = pd.DataFrame(
            {
                "left_id": np.arange(n_left),
                "k": rng.integers(0, n_keys, n_left),
                "ts": rng.integers(0, ts_max, n_left),
            }
        )
        right_pd = pd.DataFrame(
            {
                "k": rng.integers(0, n_keys, n_right),
                "ts": rng.integers(0, ts_max, n_right),
                "seq": rng.permutation(n_right),
                "v": np.round(rng.random(n_right), 6),
            }
        )
        got_rows = asof_join(
            spark.createDataFrame(left_pd),
            spark.createDataFrame(right_pd),
            key="k",
            ts="ts",
            value_cols=["v"],
            seq="seq",
        ).collect()
        got = {r["left_id"]: r["v"] for r in got_rows}
        assert len(got) == n_left, "asof_join must preserve left cardinality"

        want_pd = pd.merge_asof(
            left_pd.sort_values("ts", kind="stable"),
            right_pd.sort_values(["ts", "seq"], kind="stable"),
            on="ts",
            by="k",
            direction="backward",
            allow_exact_matches=True,
        )
        for _, row in want_pd.iterrows():
            w = None if pd.isna(row["v"]) else round(float(row["v"]), 6)
            g = got[int(row["left_id"])]
            g = None if g is None else round(float(g), 6)
            assert g == w, (seed, int(row["left_id"]), g, w)


def test_incremental_dedup_bucketed_seen_side_no_exchange(spark, tmp_path):
    """VERDICT r3 #8: prove (not just state) the docstring's scale claim —
    with the stored hash table written bucketBy(h), the anti-join probe
    plan has NO Exchange above the seen-side scan: only the new batch
    shuffles (one Exchange total under sort-merge), and the seen scan
    reads its buckets in place (`Bucketed: true`). Broadcast is disabled
    for the check: at corpus scale the seen table is the BIG side and
    would never broadcast."""
    import io
    from contextlib import redirect_stdout

    from kneaddata_spark.operators import dedup
    from pyspark.sql import functions as F

    corpus = spark.createDataFrame(
        [(i, f"stored document number {i}") for i in range(200)], ["doc_id", "text"]
    )
    # bucketBy requires saveAsTable (a catalog table); the default
    # warehouse dir (cwd/spark-warehouse) is used — warehouse.dir is a
    # STATIC conf that cannot be retargeted on a live session. The table
    # is dropped in the finally block.
    table = "seen_hashes_bucketed_t"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    (
        corpus.select(F.md5("text").alias("h"))
        .write.bucketBy(8, "h")
        .sortBy("h")
        .saveAsTable(table)
    )
    seen = spark.table(table)
    batch = spark.createDataFrame(
        [(1000 + i, f"stored document number {i}") for i in range(50)]
        + [(2000 + i, f"fresh document number {i}") for i in range(50)],
        ["doc_id", "text"],
    )
    # differential control: the SAME seen table written without buckets
    flat_table = "seen_hashes_flat_t"
    spark.sql(f"DROP TABLE IF EXISTS {flat_table}")
    corpus.select(F.md5("text").alias("h")).write.saveAsTable(flat_table)

    def probe_plan(seen_df) -> str:
        clean, _ = dedup.incremental_dedup_exact(batch, "doc_id", "text", seen_df)
        buf = io.StringIO()
        with redirect_stdout(buf):
            clean.explain("formatted")
        return buf.getvalue()

    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bucketed_plan = probe_plan(seen)
        flat_plan = probe_plan(spark.table(flat_table))
        # the bucketed scan is recognized and read in place
        assert bucketed_plan.count("Bucketed: true") == 1, bucketed_plan
        n_b = bucketed_plan.count(") Exchange")
        n_f = flat_plan.count(") Exchange")
        # the batch side pays its exchanges either way (dedup window +
        # join repartition); bucketing must remove EXACTLY the seen-side
        # shuffle — the docstring's "the seen side never shuffles"
        assert n_b == n_f - 1, (
            f"bucketed={n_b} flat={n_f} exchanges:\n{bucketed_plan}\n{flat_plan}"
        )
        # and correctness still holds on the bucketed probe
        clean, _ = dedup.incremental_dedup_exact(batch, "doc_id", "text", seen)
        assert sorted(r["doc_id"] for r in clean.collect()) == [
            2000 + i for i in range(50)
        ]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {flat_table}")


def test_gopher_rules_hand_enumerable(spark):
    """Gopher A1.1 gate on hand-built docs: each rule fired in isolation
    on a doc that passes every OTHER rule; flags and counters are exact
    integers."""
    from kneaddata_spark.operators.textstats import gopher_rules

    good = ("the quick brown fox jumps over that lazy dog and keeps "
            "running with steady pace be sure to watch of it")  # 21 words
    rows = [
        (1, good),
        (2, "the of and"),                       # wc_ok=0 (3 < 20 words)
        (3, good + " ########"),                 # 8 '#' > 0.1*22 -> sym_ok=0
        (4, good.replace(" ", "\n- ")),          # 21 lines, 20 bullets -> bullet_ok=0
        (5, "\n".join([good, "a...", "b...", "c..."])),  # 3/4 ellipsis lines
        (6, good + " 123 456 789 012 345 678"),  # 6 digit words of 27 -> alpha_ok=0
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in gopher_rules(df, "doc_id", "text",
                                                min_words=20).collect()}
    g = got[1]
    assert g["keep"] == 1 and g["n_words"] == 21 and g["n_stop"] >= 2
    assert got[2]["wc_ok"] == 0 and got[2]["stop_ok"] == 1 and got[2]["keep"] == 0
    assert got[3]["sym_ok"] == 0 and got[3]["n_sym"] == 8 and got[3]["wc_ok"] == 1
    b = got[4]
    assert b["n_lines"] == 21 and b["n_bullet_lines"] == 20 and b["bullet_ok"] == 0
    e = got[5]
    assert e["n_ellipsis_lines"] == 3 and e["n_lines"] == 4 and e["ellipsis_ok"] == 0
    assert e["n_sym"] == 3  # the three '...' count toward the symbol rule too
    a = got[6]
    assert a["n_words"] == 27 and a["n_alpha_words"] == 21 and a["alpha_ok"] == 0
    # mean-word-length flag: single-char words pull the mean under 3
    short = spark.createDataFrame(
        [(7, " ".join(["a"] * 25) + " the of")], ["doc_id", "text"])
    s = gopher_rules(short, "doc_id", "text", min_words=20).collect()[0]
    assert s["mwl_ok"] == 0 and s["wc_ok"] == 1 and s["keep"] == 0


def test_c4_line_filter_hand_enumerable(spark):
    """C4 §2.2 rules on a hand-built page: terminal-punct / min-words /
    javascript line rules, lorem-ipsum and brace page rules, kept lines
    re-joined in original order."""
    from kneaddata_spark.operators.textstats import c4_line_filter

    page = "\n".join([
        "this line ends properly.",        # kept
        "no terminal punctuation here",    # dropped: no . ! ? "
        "short.",                          # dropped: < 3 words
        "does it keep questions?",         # kept
        "inline javascript is banned.",    # dropped: javascript
        'a quoted line ends well."',       # kept
    ])
    rows = [
        (1, page),
        (2, page + "\nlorem ipsum dolor sit."),   # page dropped: lorem
        (3, page + "\nvar cfg = { a }."),          # page dropped: brace
        (4, "one good line here."),                # page dropped: n_kept < 2
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           c4_line_filter(df, "doc_id", "text", min_kept_lines=2).collect()}
    g = got[1]
    assert (g["n_lines"], g["n_kept"], g["page_keep"]) == (6, 3, 1)
    assert g["clean_text"].split("\n") == [
        "this line ends properly.", "does it keep questions?",
        'a quoted line ends well."']
    assert got[2]["has_lorem"] == 1 and got[2]["page_keep"] == 0
    assert got[2]["n_kept"] == 4  # the lorem line itself passes line rules
    assert got[3]["has_brace"] == 1 and got[3]["page_keep"] == 0
    assert got[4]["n_kept"] == 1 and got[4]["page_keep"] == 0


def test_speaking_rate_screen(spark, clips_path):
    """Hand-enumerable rate verdicts, then the real clips table against a
    pure-python integer replica (the operator is transcript+dur only — no
    decode — so the replica is exact)."""
    from kneaddata_spark import rules
    from kneaddata_spark.operators.rate import speaking_rate

    rows = [
        (1, "twenty chars of text", 2000),   # 20 ch / 2 s = 1000 centi: ok
        (2, "", 1000),                        # missing
        (3, "   ", 1000),                     # whitespace == missing
        (4, "abcd", 4000),                    # 100 centi < 200: too_slow
        (5, "x" * 400, 1000),                 # 40000 centi > 3500: too_fast
        (6, "text", 0),                       # bad_duration
    ]
    df = spark.createDataFrame(rows, ["clip_id", "transcript", "dur_ms"])
    got = {r["clip_id"]: r for r in speaking_rate(df).collect()}
    assert got[1]["rate_status"] == "ok" and got[1]["cps_centi"] == 1000
    assert got[1]["wpm"] == 120 and got[1]["keep"] == 1  # 4 words / 2 s
    assert got[2]["rate_status"] == "missing" and got[2]["cps_centi"] is None
    assert got[3]["rate_status"] == "missing" and got[3]["n_words"] == 0
    assert got[4]["rate_status"] == "too_slow" and got[4]["keep"] == 0
    assert got[5]["rate_status"] == "too_fast"
    assert got[6]["rate_status"] == "bad_duration" and got[6]["wpm"] is None

    import re

    clips = spark.read.parquet(clips_path).select("clip_id", "transcript", "dur_ms")
    eng = {r["clip_id"]: r for r in speaking_rate(clips).collect()}
    for row in clips.collect():
        t = (row["transcript"] or "").strip()
        n_chars, dur = len(t), row["dur_ms"]
        n_words = len(re.sub(r"\s+", " ", t).split(" ")) if n_chars else 0
        cps = (n_chars * 100000) // dur if n_chars and dur > 0 else None
        if n_chars == 0:
            st = "missing"
        elif dur <= 0:
            st = "bad_duration"
        elif cps < rules.RATE_MIN_CPS_CENTI:
            st = "too_slow"
        elif cps > rules.RATE_MAX_CPS_CENTI:
            st = "too_fast"
        else:
            st = "ok"
        g = eng[row["clip_id"]]
        assert (g["n_chars"], g["n_words"], g["cps_centi"], g["rate_status"]) == (
            n_chars, n_words, cps, st), row["clip_id"]


def test_cluster_balanced_sample(spark):
    """Per-cluster cap honored exactly (sampled = min(cap, occupancy)),
    pick ranks a 1..n permutation per cluster matching the python
    Fibonacci-hash rank, and a planted duplicate-heavy region contributes
    the cap, not its raw count."""
    from kneaddata_spark.operators.sampling import KNUTH, M32
    from kneaddata_spark.operators.similarity import cluster_balanced_sample

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = cluster_balanced_sample(emb, per_cluster=4).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], []).append(r)
    assert sum(len(v) for v in by_cluster.values()) == emb.count()
    for rows in by_cluster.values():
        n = len(rows)
        assert sorted(r["pick_rank"] for r in rows) == list(range(1, n + 1))
        assert sum(r["sampled"] for r in rows) == min(4, n)
        want = sorted(rows, key=lambda r: ((r["vec_id"] * KNUTH) % M32, r["vec_id"]))
        for rank, r in enumerate(want, 1):
            assert r["pick_rank"] == rank
    # duplicate-heavy region: 40 copies of one vector -> still 4 sampled
    one = emb.limit(1).collect()[0]["embedding"]
    import pyspark.sql.types as T
    skew = spark.createDataFrame(
        [(10_000 + i, one) for i in range(40)],
        T.StructType([T.StructField("vec_id", T.LongType()),
                      T.StructField("embedding", T.ArrayType(T.FloatType()))]))
    sk = cluster_balanced_sample(skew, per_cluster=4).collect()
    assert len({r["cluster"] for r in sk}) == 1
    assert sum(r["sampled"] for r in sk) == 4


def test_speech_rate_composition(spark, clips_path):
    """speech_rate == rate arithmetic over screen_audio's replica-gated
    speech_frames (python recompute per clip), all statuses reachable,
    and the composed plan keeps the decode-once contract: exactly ONE
    ArrowEvalPython, zero Exchange."""
    from kneaddata_spark import rules
    from kneaddata_spark.operators.audioscreen import screen_audio
    from kneaddata_spark.operators.rate import speech_rate

    clips = spark.read.parquet(clips_path)
    base = {r["clip_id"]: r for r in
            screen_audio(clips, passthrough=("transcript",))
            .select("clip_id", "transcript", "speech_frames").collect()}
    got = {r["clip_id"]: r for r in speech_rate(clips).collect()}
    assert set(got) == set(base)
    statuses = set()
    for cid, b in base.items():
        n_chars = len((b["transcript"] or "").strip())
        speech_ms = b["speech_frames"] * rules.VAD_FRAME_MS
        cps = (n_chars * 100000) // speech_ms if n_chars and speech_ms > 0 else None
        if n_chars == 0:
            st = "missing"
        elif speech_ms <= 0:
            st = "no_speech"
        elif cps < rules.RATE_MIN_CPS_CENTI:
            st = "too_slow"
        elif cps > rules.RATE_MAX_CPS_CENTI:
            st = "too_fast"
        else:
            st = "ok"
        g = got[cid]
        assert (g["n_chars"], g["speech_ms"], g["cps_speech_centi"],
                g["rate_status"], g["keep"]) == (
            n_chars, speech_ms, cps, st, int(st == "ok")), cid
        statuses.add(st)
    assert {"ok", "missing"} <= statuses
    plan = speech_rate(clips)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_transcript_cer_hand_enumerable(spark):
    """CER on hand pairs: classic kitten/sitting distance, case and
    punctuation invariance under the normalize-before-score contract,
    empty-ref null, integer permille."""
    from kneaddata_spark.operators.textstats import transcript_cer

    rows = [
        (1, "kitten", "sitting"),               # dist 3, cer 500
        (2, "Hello, World!", "hello world"),    # normalization: exact
        (3, "one two three", "one two"),        # 6 deletions incl. space
        (4, "", "something"),                    # empty ref: cer null
        (5, "same", "same"),                     # exact
    ]
    df = spark.createDataFrame(rows, ["doc_id", "ref", "hyp"])
    got = {r["doc_id"]: r for r in
           transcript_cer(df, "doc_id", "ref", "hyp").collect()}
    assert got[1]["dist"] == 3 and got[1]["cer_permille"] == 500
    assert got[2]["dist"] == 0 and got[2]["exact"] == 1
    assert got[3]["dist"] == 6 and got[3]["n_ref_chars"] == 13
    assert got[4]["n_ref_chars"] == 0 and got[4]["cer_permille"] is None
    assert got[4]["exact"] == 0 and got[4]["dist"] == 9
    assert got[5]["exact"] == 1 and got[5]["cer_permille"] == 0


def test_transcript_wer_hand_enumerable(spark):
    """Word-level WER via the vocab-to-char reduction: substitutions /
    deletions / insertions count ONE each regardless of word length;
    case/punct invariance; empty-ref and vocab-overflow fences."""
    from kneaddata_spark.operators.textstats import transcript_wer

    rows = [
        (1, "the quick brown fox", "the quick brown fox"),     # 0
        (2, "the quick brown fox", "the slow brown fox"),      # 1 sub
        (3, "the quick brown fox", "quick brown fox"),         # 1 del
        (4, "the quick brown fox", "the very quick brown fox"),  # 1 ins
        (5, "Transcription, PUNCTUATED!", "transcription punctuated"),  # 0
        (6, "", "anything here"),                               # empty_ref
        (7, "supercalifragilistic word", "tiny word"),          # 1 sub (len-free)
        (8, " ".join(f"w{i}" for i in range(60)),
            " ".join(f"v{i}" for i in range(60))),              # 120 vocab > 94
    ]
    df = spark.createDataFrame(rows, ["doc_id", "ref", "hyp"])
    got = {r["doc_id"]: r for r in
           transcript_wer(df, "doc_id", "ref", "hyp").collect()}
    assert got[1]["dist"] == 0 and got[1]["wer_permille"] == 0
    assert got[2]["dist"] == 1 and got[2]["wer_permille"] == 250
    assert got[3]["dist"] == 1 and got[3]["n_ref_words"] == 4
    assert got[4]["dist"] == 1 and got[4]["n_hyp_words"] == 5
    assert got[5]["dist"] == 0 and got[5]["wer_status"] == "ok"
    assert got[6]["wer_status"] == "empty_ref" and got[6]["wer_permille"] is None
    assert got[6]["dist"] == 2  # levenshtein('', hyp-map) = 2 word inserts
    assert got[7]["dist"] == 1 and got[7]["wer_permille"] == 500
    assert got[8]["wer_status"] == "vocab_overflow" and got[8]["dist"] is None


def test_repetition_screen_hand_enumerable(spark):
    """Gopher repetition rules on hand-built docs: a bigram-looped doc
    drops, diverse text keeps; overlapping occurrences can push the
    fraction past 1 ('a a a a' -> top2 1.5)."""
    from kneaddata_spark.operators.textstats import repetition_screen

    rows = [
        (1, "a a a a"),                                   # top2: 'a a' x3 -> 6/4
        # 20 distinct tokens: every bigram once -> top2 = 2/20 = 0.1
        (2, "the quick brown fox jumps over lazy dogs while rain "
            "falls on green hills near quiet rivers under bright skies"),
        (3, "go go go go go go stop"),                    # 'go go' x5 -> 10/7
        (4, "x"),                                         # no 2-grams at all
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in repetition_screen(df, "doc_id", "text").collect()}
    assert got[1]["top2_frac"] == 1.5 and got[1]["keep"] == 0
    assert got[2]["top2_frac"] == 0.1 and got[2]["keep"] == 1  # every bigram once
    assert got[3]["keep"] == 0 and got[3]["n_tokens"] == 7
    assert got[4]["top2_frac"] == 0.0 and got[4]["keep"] == 1
    assert abs(got[3]["distinct_frac"] - round(2 / 7, 6)) < 1e-12


def _winnow_reference(text: str, k: int = 4, window: int = 4):
    """Independent pure-python replica of the winnowing rule (min per
    window of k-gram polynomial hashes, ties to the rightmost position)."""
    import re

    from kneaddata_spark.operators.dedup import PORTABLE_HASH_COEFFS
    from kneaddata_spark.operators.textstats import (
        WINNOW_B,
        WINNOW_MAXPOS,
        WINNOW_P,
    )

    def a(s):
        return ord(s[0]) if s else 0

    def tokh(tok):
        feats = [len(tok), a(tok), a(tok[1:2]), a(tok[-1:]), a(tok[-2:-1])]
        lo = sum(f * c for f, c in zip(feats, PORTABLE_HASH_COEFFS["lo"])) % (1 << 32)
        hi = sum(f * c for f, c in zip(feats, PORTABLE_HASH_COEFFS["hi"])) % (1 << 31)
        return (hi * (1 << 32) + lo) % WINNOW_P

    toks = re.sub(r"\s+", " ", text.strip()).lower().split(" ")
    ths = [tokh(t) for t in toks]
    encs = []
    for i in range(len(ths) - k + 1):
        cur = ths[i]
        for j in range(1, k):
            cur = (cur * WINNOW_B + ths[i + j]) % WINNOW_P
        encs.append(cur * WINNOW_MAXPOS + (WINNOW_MAXPOS - 1 - i))
    sel = {min(encs[s : s + window]) for s in range(len(encs))}
    return {(WINNOW_MAXPOS - 1 - e % WINNOW_MAXPOS, e // WINNOW_MAXPOS) for e in sel}


def test_winnowing_fingerprints_match_reference_and_guarantee(spark):
    """Engine output == the independent python replica on docs with
    repeated tokens (hash ties exercise the rightmost-tie rule), and the
    winnowing guarantee holds: two docs sharing a >= k+window-1 token run
    share at least one fingerprint VALUE."""
    from kneaddata_spark.operators.textstats import winnowing_fingerprints

    shared = "uranium dioxide fuel pellets stacked in zirconium cladding"
    rows = [
        (1, "alpha beta gamma " + shared + " delta epsilon"),
        (2, shared + " unrelated suffix tokens here now"),
        (3, "go go go go go go go stop go go"),  # heavy ties
        (4, "one two three"),                    # < k tokens -> no prints
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got: dict = {}
    for r in winnowing_fingerprints(df, "doc_id", "text").collect():
        got.setdefault(r["doc_id"], set()).add((r["fp_pos"], r["fp"]))
    for doc_id, text in rows:
        assert got.get(doc_id, set()) == _winnow_reference(text), doc_id
    shared_fps = {f for _, f in got[1]} & {f for _, f in got[2]}
    assert shared_fps, "shared 8-token run must share a fingerprint"
    assert 4 not in got


def test_decontaminate_substrings_planted_and_edit_robust(spark):
    """Winnowing-based decontamination: a corpus doc embedding a benchmark
    passage drops; one embedding the passage WITH A TOKEN INSERTED
    mid-run still drops (each unbroken half >= k+window-1 tokens still
    guarantees a shared fingerprint — the edit-robustness exact shingles
    lack); short (< k) overlap and clean docs survive."""
    from kneaddata_spark.operators.dedup import decontaminate_substrings

    passage = (
        "the isotope separation cascade requires precisely machined "
        "rotor bearings spinning beyond fifty thousand revolutions "
        "under vacuum containment"
    )  # 18 tokens
    bench = spark.createDataFrame([(100, passage)], ["doc_id", "text"])
    p = passage.split(" ")
    edited = " ".join(p[:9] + ["NOVEL"] + p[9:])  # split into 9 + 9 halves
    corpus = spark.createDataFrame(
        [
            (1, "intro words here " + passage + " closing words"),
            (2, "completely unrelated sentences about garden vegetables "
                "growing slowly during a mild and rainy spring season"),
            (3, "prefix " + edited + " suffix"),
            (4, "the isotope separation onto different topic entirely now "
                "with more unrelated filler words following behind"),  # 3-token overlap
        ],
        ["doc_id", "text"],
    )
    clean = decontaminate_substrings(corpus, bench, "doc_id", "text")
    assert sorted(r["doc_id"] for r in clean.collect()) == [2, 4]


def _excise_reference(corpus_rows, bench_texts, k=4, window=4, merge_gap=None):
    """Independent python replica of excise_substrings (winnow both sides
    via _winnow_reference, merge witness k-grams gaps-and-islands style,
    cut covered tokens from the normalized stream)."""
    import re

    if merge_gap is None:
        merge_gap = window
    bfp = set()
    for t in bench_texts:
        bfp |= {fp for _, fp in _winnow_reference(t, k, window)}
    out = {}
    for doc_id, text in corpus_rows:
        wit = {pos for pos, fp in _winnow_reference(text, k, window) if fp in bfp}
        out[doc_id] = _cut_spans_reference(text, wit, k, window, merge_gap)
    return out


def _cut_spans_reference(text, witness_positions, k, window, merge_gap):
    """Shared replica tail: pad witness k-grams, merge, cut, account."""
    import re

    pad = window - 1
    toks = re.sub(r"\s+", " ", text.strip()).lower().split(" ")
    hits = sorted(
        {(max(p - pad, 0), p + k - 1 + pad) for p in witness_positions}
    )
    spans = []
    for s, e in hits:
        if spans and s <= spans[-1][1] + 1 + merge_gap:
            spans[-1][1] = max(spans[-1][1], e)
        else:
            spans.append([s, e])
    kept = [
        t for i, t in enumerate(toks) if not any(s <= i <= e for s, e in spans)
    ]
    return (" ".join(kept), len(toks), len(toks) - len(kept), len(spans))


def _excise_dup_reference(corpus_rows, k=4, window=4, merge_gap=None):
    """Python replica of excise_dup_substrings: per shared fingerprint
    value, the min-id doc keeps; every other occurrence is a witness."""
    from collections import defaultdict

    if merge_gap is None:
        merge_gap = window
    occ = defaultdict(list)
    for doc_id, text in corpus_rows:
        for pos, fp in _winnow_reference(text, k, window):
            occ[fp].append((doc_id, pos))
    wit = defaultdict(set)
    for fp, lst in occ.items():
        if len(lst) > 1:
            keep = min(d for d, _ in lst)
            for d, p in lst:
                if d != keep:
                    wit[d].add(p)
    return {
        doc_id: _cut_spans_reference(text, wit[doc_id], k, window, merge_gap)
        for doc_id, text in corpus_rows
    }


def test_excise_substrings_matches_reference_on_planted_passages(spark):
    """Span excision == the python replica on planted pasted passages:
    a doc with a benchmark passage pasted mid-text loses EXACTLY that
    span (prefix/suffix survive); a doc that IS the passage excises to
    empty; two pasted copies separated by unrelated text yield two
    spans; untouched docs pass through byte-identical with n_cut = 0."""
    from kneaddata_spark.operators.dedup import excise_substrings

    passage = (
        "the isotope separation cascade requires precisely machined "
        "rotor bearings spinning beyond fifty thousand revolutions"
    )  # 14 tokens
    filler = (
        "meanwhile the village bakery produced seventeen kinds of rye "
        "bread every morning before sunrise customers arrived early"
    )
    rows = [
        (1, "intro words here " + passage + " closing words follow"),
        (2, filler),
        (3, passage),
        (4, passage + " " + filler + " " + passage),
        (5, "Mixed   CASE and\twhitespace " + passage + " trailing bit"),
    ]
    bench = spark.createDataFrame([(100, passage)], ["doc_id", "text"])
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_cut"], r["n_spans"])
        for r in excise_substrings(corpus, bench, "doc_id", "text").collect()
    }
    want = _excise_reference(rows, [passage])
    assert got == want
    # semantic spot-checks on top of exact replica equality
    n_p = len(passage.split(" "))
    assert got[2] == (filler, len(filler.split(" ")), 0, 0)  # untouched
    assert got[3] == ("", n_p, n_p, 1)           # full excision -> empty
    assert got[4][3] == 2                        # two separated spans
    # pasted passage fully gone; over-cut bounded by pad per side
    assert "cascade" not in got[1][0] and "separation" not in got[1][0]
    assert n_p <= got[1][2] <= n_p + 2 * 3
    assert got[5][2] >= n_p and "cascade" not in got[5][0]


def test_excise_dup_substrings_keep_first(spark):
    """Intra-corpus duplicate-span excision == the python replica, and the
    keep-first contract holds: the min-id copy of a shared passage stays
    intact, later copies lose exactly the shared span (a near-dup keeps
    its unique suffix; an exact copy excises to empty)."""
    from kneaddata_spark.operators.dedup import excise_dup_substrings

    passage = (
        "quarterly filings must disclose material weaknesses in internal "
        "controls before the auditor signs the engagement letter"
    )
    rows = [
        (1, "opening remarks " + passage + " closing remarks"),
        (2, passage + " with five unique suffix tokens appended here"),
        (3, passage),                          # later exact body
        (4, "unrelated prose about migrating herons across the delta "
            "estuary wetlands during early autumn fog"),
    ]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_cut"], r["n_spans"])
        for r in excise_dup_substrings(corpus, "doc_id", "text").collect()
    }
    want = _excise_dup_reference(rows)
    assert got == want
    assert got[1][2] == 0 and "disclose" in got[1][0]  # first copy intact
    assert got[4][2] == 0                               # unrelated intact
    assert "disclose" not in got[2][0] and "disclose" not in got[3][0]
    # unique suffix survives beyond the <= pad(=3 tokens) over-cut
    assert got[2][0].endswith("appended here")
    assert got[3][0] == ""


def test_review_hardening_r4(spark, tmp_path):
    """Regressions for the r4 self-review findings: crafted nested-LIST
    AVI returns None (no RecursionError) and rides the stub fallback;
    winnowing truncates at WINNOW_MAXPOS tokens (no packed-int borrow);
    pack_contexts shards from the hash HIGH bits (strided ids spread);
    frame sampling validates its strides; rotation-order tolerates
    non-dict CORRECTNESS records."""
    import os
    import struct

    import numpy as np

    # 1. recursion bomb: thousands of nested LIST headers
    from kneaddata_spark.multimodal import decode_avi_frames, sample_frames

    bomb = b"LIST" + struct.pack("<I", 0xFFFFFF) + b"hdrl"
    payload = b"RIFF" + struct.pack("<I", 0xFFFFFF) + b"AVI " + bomb * 5000
    assert decode_avi_frames(payload) is None
    df = spark.createDataFrame(
        [("v1", payload, "video/avi", 0, 0)],
        "media_id string, bytes binary, mime string, width int, height int",
    )
    rows = sample_frames(df, every_n_bytes=10_000).collect()  # stub fallback
    assert len(rows) >= 1 and rows[0]["frame_mean"] is None

    # 2. stride validation fails at the call site
    import pytest as _pytest

    with _pytest.raises(ValueError, match="every_n_frames"):
        sample_frames(df, every_n_frames=0)

    # 3. winnowing MAXPOS truncation (constant patched small): positions
    # beyond the cap produce NO fingerprints, and the kept prints equal
    # the reference computed on the truncated prefix
    from kneaddata_spark.operators import textstats

    old = textstats.WINNOW_MAXPOS
    textstats.WINNOW_MAXPOS = 64
    try:
        toks = [f"tok{i}xy" for i in range(100)]
        d = spark.createDataFrame([(1, " ".join(toks))], ["doc_id", "text"])
        got = {
            (r["fp_pos"], r["fp"])
            for r in textstats.winnowing_fingerprints(d, "doc_id", "text").collect()
        }
        assert got and max(p for p, _ in got) < 64
        want = _winnow_reference(" ".join(toks[:64]))
        assert got == want
    finally:
        textstats.WINNOW_MAXPOS = old

    # 4. strided ids must not collapse into one packing shard (the old
    # h % 2^k sharding passed id low bits through: stride-64 ids -> all
    # shard 0)
    from kneaddata_spark.operators.corpus import pack_contexts

    ids = spark.createDataFrame(
        [(64 * i, 10) for i in range(400)], ["doc_id", "n_tok"]
    )
    shards = {
        r["shard"]
        for r in pack_contexts(ids, "doc_id", "n_tok", capacity=64, n_shards=8).collect()
    }
    assert len(shards) >= 6, shards

    # 5. a non-dict CORRECTNESS record must not brick the registry import
    from kneaddata_spark.plans import entry_queries as eq

    root = os.path.dirname(os.path.dirname(os.path.abspath(eq.__file__)))
    repo_root = os.path.dirname(root)
    fake = os.path.join(repo_root, "CORRECTNESS_r98.json")
    try:
        with open(fake, "w") as f:
            f.write('[{"query": "q1", "ok": true}]')
        order = eq._rotation_order(["a", "b"])
        assert sorted(order) == ["a", "b"]
    finally:
        os.remove(fake)


def _pth64_py(tok: str) -> int:
    """Pure-python replica of dedup.portable_token_hash64 (same feature
    tuple, same coefficients) for oracle-independent test verification."""
    first = ord(tok[0]) if tok else 0
    second = ord(tok[1]) if len(tok) > 1 else 0
    last = ord(tok[-1]) if tok else 0
    penult = ord(tok[-2]) if len(tok) > 1 else 0
    feats = (len(tok), first, second, last, penult)
    lo = sum(f * c for f, c in zip(feats, dedup.PORTABLE_HASH_COEFFS["lo"])) % (1 << 32)
    hi = sum(f * c for f, c in zip(feats, dedup.PORTABLE_HASH_COEFFS["hi"])) % (1 << 31)
    return hi * (1 << 32) + lo


def test_semantic_dedup_matches_integer_replica(spark):
    """semantic_dedup vs a pure-python replica of the whole contract:
    floor-quantized integer hyperplane clusters (int_planes), greedy
    lower-id drop at cos >= threshold within a cluster. Planted exact
    copies (cos = 1.0) must always be dropped in favour of the lowest id;
    everything else must match the replica bit-for-bit."""
    import math

    import numpy as np

    from kneaddata_spark.operators.similarity import int_planes, semantic_dedup

    rng = np.random.RandomState(11)
    vecs = {}
    for i in range(40):
        vecs[i] = rng.randn(64).astype(np.float32)
    for j, base in enumerate((0, 3, 7, 12)):  # exact copies, higher ids
        vecs[100 + j] = vecs[base].copy()
    rows = [(int(i), [float(x) for x in v]) for i, v in sorted(vecs.items())]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>").repartition(7)

    got = {
        r["vec_id"]: (r["cluster"], r["keep"])
        for r in semantic_dedup(df, threshold=0.99).collect()
    }

    planes = int_planes(64, 6)
    cluster = {}
    for i, v in vecs.items():
        xq = [math.floor(float(np.float64(x)) * 1048576) for x in v]
        c = 0
        for p, row in enumerate(planes):
            proj = 0
            for a, coef in zip(xq, row):
                proj += a * coef
            if proj >= 0:
                c += 1 << p
        cluster[i] = c

    def cos(u, w):
        # left-fold in array order like F.aggregate (values far from the
        # 0.99 boundary by construction, so ulp order cannot flip keep)
        d = n1 = n2 = 0.0
        for a, b in zip(u, w):
            d += float(np.float64(a)) * float(np.float64(b))
            n1 += float(np.float64(a)) ** 2
            n2 += float(np.float64(b)) ** 2
        return d / math.sqrt(n1 * n2)

    ids = sorted(vecs)
    dropped = set()
    for x in ids:
        for y in ids:
            if x < y and cluster[x] == cluster[y] and cos(vecs[x], vecs[y]) >= 0.99:
                dropped.add(y)
    want = {i: (cluster[i], 0 if i in dropped else 1) for i in ids}
    assert got == want
    # the planted exact copies always share the base's cluster and are dropped
    for j, base in enumerate((0, 3, 7, 12)):
        assert got[100 + j] == (cluster[base], 0)
    assert got[0][1] == 1 and got[3][1] == 1


def test_importance_weights_matches_integer_replica(spark):
    """importance_weights vs a pure-python replica of the DSIR integer
    math (hash buckets, add-one smoothing, Q-quantized probability
    difference): exact score equality, and the planted target-domain
    bigram must push target-like docs to keep=1."""
    from collections import Counter

    from kneaddata_spark.operators.textstats import (
        DSIR_HM,
        DSIR_K,
        DSIR_NB,
        DSIR_Q,
        importance_weights,
    )

    # REP scales bigram mass above DSIR_NB=1021: with add-one smoothing,
    # weights degenerate to (ct - cr)/NB <= 0 when bucket count dwarfs
    # corpus mass, so a handful of bigrams can never score positive —
    # the operator's contract assumes corpus bigrams >> n_buckets (true
    # at any real scale; docstring states it).
    REP = 40
    docs = {
        1: (("alpha beta gamma delta " * REP).strip(), 1),
        2: (("alpha beta epsilon zeta " * REP).strip(), 1),
        3: (("noise junk words here " * REP).strip(), 0),
        4: (("junk noise other words " * REP).strip(), 0),
        5: ("alpha beta gamma", 0),  # corpus doc that LOOKS target-like
        6: ("solo", 0),              # < 2 tokens -> omitted
        7: ("  alpha   beta\tgamma " * REP, 1),  # whitespace collapse
    }
    df = spark.createDataFrame(
        [(i, t, bool(g)) for i, (t, g) in docs.items()],
        "doc_id int, text string, is_tgt boolean",
    ).repartition(5)
    got = {
        r["doc_id"]: (r["n_bigrams"], r["score"], r["keep"])
        for r in importance_weights(df, "doc_id", "text", "is_tgt").collect()
    }

    def buckets(text):
        toks = " ".join(text.split()).lower().split(" ")
        return [
            ((_pth64_py(a) % DSIR_HM) * DSIR_K + _pth64_py(b) % DSIR_HM) % DSIR_NB
            for a, b in zip(toks, toks[1:])
        ]

    per_doc = {i: Counter(buckets(t)) for i, (t, g) in docs.items() if len(t.split()) > 1}
    cr, ct = Counter(), Counter()
    for i, cnt in per_doc.items():
        for b, c in cnt.items():
            cr[b] += c
            ct[b] += c * docs[i][1]
    tr, tt = sum(cr.values()), sum(ct.values())
    w = {
        b: (DSIR_Q * (ct[b] + 1)) // (tt + DSIR_NB)
        - (DSIR_Q * (cr[b] + 1)) // (tr + DSIR_NB)
        for b in cr
    }
    want = {}
    for i, cnt in per_doc.items():
        score = sum(c * w[b] for b, c in cnt.items())
        want[i] = (sum(cnt.values()), score, 1 if score > 0 else 0)
    assert got == want
    assert 6 not in got  # no bigram evidence
    assert got[1][2] == 1 and got[2][2] == 1 and got[7][2] == 1
    assert got[3][2] == 0 and got[4][2] == 0
    # DSIR selects by CONTENT, not label: the unlabeled doc whose text
    # matches the target distribution is kept
    assert got[5][2] == 1


def test_shard_shuffle_permutation_and_invariance(spark):
    """shard_shuffle: the (shard, pos) assignment equals the python-side
    hash order exactly, shard sizes differ by at most one, per-shard
    positions are contiguous from 0, and the output is invariant to the
    input's physical partitioning (retry/cluster-shape determinism)."""
    from collections import Counter

    from kneaddata_spark.operators.corpus import shard_shuffle
    from kneaddata_spark.operators.sampling import KNUTH, M32

    n, seed, shards = 500, 3, 8
    df = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    got = {
        r["doc_id"]: (r["shard"], r["pos"])
        for r in shard_shuffle(df, "doc_id", n_shards=shards, seed=seed).collect()
    }
    order = sorted(range(n), key=lambda i: (((i + seed) * KNUTH) % M32, i))
    want = {i: (r % shards, r // shards) for r, i in enumerate(order)}
    assert got == want
    sizes = Counter(s for s, _ in got.values())
    assert max(sizes.values()) - min(sizes.values()) <= 1
    for s in range(shards):
        poss = sorted(p for sh, p in got.values() if sh == s)
        assert poss == list(range(len(poss)))
    got2 = {
        r["doc_id"]: (r["shard"], r["pos"])
        for r in shard_shuffle(
            df.repartition(13), "doc_id", n_shards=shards, seed=seed
        ).collect()
    }
    assert got2 == got


def _fp_replica(raw: bytes, codec: str) -> "list[int] | None":
    """Pure-python replica of the audiodup fingerprint contract, built on
    the INDEPENDENT oracle.decode_pcm decoder (per-row float walk) rather
    than the engine's codec registry; the LCG band coefficients are
    re-derived inline so a drift in audiodup.band_coeffs fails here."""
    import numpy as np

    from kneaddata_spark import oracle

    f = oracle.decode_pcm(raw, codec)
    if f is None:
        return None
    if codec == "pcm_u8":
        xi = [int(round(float(v) * 128.0)) * 256 for v in f]
    else:
        xi = [int(round(float(v) * 32768.0)) for v in f]
    n_frames = len(xi) // 512
    if n_frames < 4:
        return None
    syms = []
    for fr in range(n_frames):
        fx = xi[fr * 512 : (fr + 1) * 512]
        e = sum(abs(v) for v in fx)
        q = (e // 512).bit_length()
        z = sum(1 for a, b in zip(fx, fx[1:]) if (a < 0) != (b < 0))
        syms.append(q * 1024 + z)
    shingles = set()
    for i in range(n_frames - 3):
        s = 0
        for k in range(4):
            s = s * (1 << 14) + syms[i + k]
        shingles.add(s % (1 << 31))
    x, sig = 9176, []
    for _ in range(16):
        x = (x * 1103515245 + 12345) % (1 << 31)
        a = (2 * x + 1) % (1 << 31)
        x = (x * 1103515245 + 12345) % (1 << 31)
        sig.append(min((a * s + x) % (1 << 31) for s in shingles))
    return sig


def test_audio_fingerprint_matches_replica(spark):
    """Engine fingerprints (Arrow UDF + registry decode) vs the pure-python
    replica over oracle.decode_pcm for every synth clip class (healthy,
    truncated, bad codec, silence, wav, u8): exact signature equality,
    including None for undecodable/too-short clips."""
    from kneaddata_spark.operators.audiodup import audio_fingerprint
    from kneaddata_spark.synth import gen_clips_pdf

    pdf = gen_clips_pdf(60)
    df = spark.createDataFrame(pdf[["clip_id", "bytes", "codec"]]).repartition(7)
    got = {
        r["id"]: (None if r["sig"] is None else list(r["sig"]))
        for r in audio_fingerprint(df).collect()
    }
    want = {
        row.clip_id: _fp_replica(bytes(row.bytes), row.codec)
        for row in pdf.itertuples()
    }
    assert got == want
    assert any(v is None for v in want.values())       # undecodables present
    assert sum(v is not None for v in want.values()) > 30


def test_audio_dup_pairs_planted_and_plan(spark):
    """Planted exact copies: every DECODABLE original's dup pair is
    recovered at 16/16 band matches; undecodable clips never pair. Plan:
    exactly one ArrowEvalPython, no row-at-a-time Python, no MapInPandas."""
    import pandas as pd

    from kneaddata_spark.operators.audiodup import audio_dup_pairs
    from kneaddata_spark.synth import gen_clips_pdf

    pdf = gen_clips_pdf(50)[["clip_id", "bytes", "codec"]]
    dup = pdf.iloc[:20].copy()
    dup["clip_id"] = "dup_" + dup["clip_id"]
    df = spark.createDataFrame(pd.concat([pdf, dup])).repartition(6)
    pairs = audio_dup_pairs(df, min_bands=12)

    # decode + fingerprint: exactly ONE Arrow stage in the whole pair
    # plan — the bucket-collect formulation scans the fingerprint once
    # (a self-join would print and execute the Arrow stage per branch)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan

    got = {(r["id_a"], r["id_b"]): r["n_match"] for r in pairs.collect()}
    decodable = {
        row.clip_id
        for row in pdf.iloc[:20].itertuples()
        if _fp_replica(bytes(row.bytes), row.codec) is not None
    }
    assert len(decodable) >= 10
    for cid in decodable:
        assert got.get((cid, "dup_" + cid)) == 16, cid
    undec = {
        row.clip_id
        for row in pdf.itertuples()
        if _fp_replica(bytes(row.bytes), row.codec) is None
    }
    for (a, b) in got:
        assert a not in undec and b not in undec


def test_paragraph_dedup_delim_mode(spark):
    """Planted boilerplate: the same banner paragraph appears in every doc
    (plus blank layout lines); keep-first retains it only in the lowest
    (id, pos) slot, unique paragraphs all survive, the all-boilerplate doc
    comes back with clean_text == '' (no outer-join loss), and blank
    paragraphs are layout — never deduped, never counted."""
    from kneaddata_spark.operators.dedup import paragraph_dedup

    banner = "accept our cookies to continue"
    rows = [
        (1, f"{banner}\n\nalpha beta gamma\n\n \n\ndelta epsilon"),
        (2, f"{banner}\n\nzeta eta theta"),
        (3, f"{banner}\n\n{banner}"),          # all boilerplate
        (4, "alpha beta gamma\n\niota kappa"),  # para dup of doc 1's
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(3)
    got = {
        r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_total"])
        for r in paragraph_dedup(df, delim="\n\n").collect()
    }
    assert got[1] == (f"{banner}\n\nalpha beta gamma\n\ndelta epsilon", 3, 3)
    assert got[2] == ("zeta eta theta", 1, 2)
    assert got[3] == ("", 0, 2)
    assert got[4] == ("iota kappa", 1, 2)
    assert set(got) == {1, 2, 3, 4}


def test_paragraph_dedup_token_mode_invariance(spark):
    """Token-window mode: results are a pure function of the data — same
    output at 1 and 7 input partitions; global paragraph conservation
    (sum n_kept == corpus-distinct paragraphs, n_kept <= n_total per doc);
    reassembled text at window=w is the original when nothing is dropped."""
    from kneaddata_spark.operators.dedup import paragraph_dedup

    vocab = ["red", "blue", "green", "gold"]
    rows = [
        (i, " ".join(vocab[(i * 7 + j) % 4] for j in range(11))) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    outs = []
    for n_part in (1, 7):
        got = {
            r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_total"])
            for r in paragraph_dedup(
                df.repartition(n_part), window=3
            ).collect()
        }
        outs.append(got)
    assert outs[0] == outs[1]
    got = outs[0]
    assert set(got) == set(range(40))
    n_distinct = len(
        {
            " ".join(t.split()[k : k + 3])
            for _, t in rows
            for k in range(0, 11, 3)
        }
    )
    assert sum(v[1] for v in got.values()) == n_distinct
    assert all(v[1] <= v[2] for v in got.values())
    # a corpus of all-unique paragraphs reassembles to the original text
    uniq = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "g h i j k l m")], "doc_id long, text string"
    )
    back = {
        r["doc_id"]: r["clean_text"]
        for r in paragraph_dedup(uniq, window=3).collect()
    }
    assert back == {1: "a b c d e f", 2: "g h i j k l m"}


def _vad_replica(raw: bytes, codec: str, sr: int) -> "list[tuple[int,int]] | None":
    """Pure-python replica of the VAD contract over the INDEPENDENT
    oracle.decode_pcm float decoder (rules.py constants are the shared
    single source of truth; the run-length/merge logic is re-derived from
    the docstring, not imported)."""
    from kneaddata_spark import oracle, rules

    f = oracle.decode_pcm(raw, codec)
    if f is None or sr <= 0:
        return None
    if codec == "pcm_u8":
        xi = [int(round(float(v) * 128.0)) * 256 for v in f]
    else:
        xi = [int(round(float(v) * 32768.0)) for v in f]
    fl = sr * rules.VAD_FRAME_MS // 1000
    if fl <= 0:
        return []
    nf = len(xi) // fl
    speech = [
        sum(abs(v) for v in xi[i * fl : (i + 1) * fl]) // fl >= rules.VAD_ENERGY_MIN
        for i in range(nf)
    ]
    runs, cur = [], None
    for i, s in enumerate(speech):
        if s and cur is None:
            cur = i
        elif not s and cur is not None:
            runs.append((cur, i))
            cur = None
    if cur is not None:
        runs.append((cur, nf))
    merged = []
    for s, e in runs:
        if merged and s - merged[-1][1] <= rules.VAD_MAX_GAP:
            merged[-1] = (merged[-1][0], e)
        else:
            merged.append((s, e))
    return [(s, e) for s, e in merged if e - s >= rules.VAD_MIN_FRAMES]


def test_vad_segments_structure_and_plan(spark):
    """Hand-built alternation (silence, speech, micro-gap, speech, long
    silence, 1-frame tick): the micro-gap merges (hangover), the tick is
    dropped (min length), ms boundaries are exact integer div at two
    sample rates, undecodable clips emit nothing. Plan: one
    ArrowEvalPython, ZERO exchanges, no row-at-a-time Python."""
    import numpy as np
    import pandas as pd

    from kneaddata_spark.operators.vad import vad_segments

    sr = 16000
    fl = sr * 25 // 1000

    def seg(n_frames, loud, f=440):
        amp = 8000 if loud else 10
        t = np.arange(n_frames * fl)
        return (amp * np.sin(2 * np.pi * f * t / sr)).astype(np.int16)

    pcm = np.concatenate(
        [seg(20, False), seg(40, True), seg(1, False), seg(20, True),
         seg(80, False), seg(1, True), seg(10, False)]
    )
    pcm2 = np.concatenate([seg(5, True), seg(10, False), seg(4, True)])
    pdf = pd.DataFrame(
        {
            "clip_id": ["a", "b", "bad"],
            "bytes": [pcm.tobytes(), pcm2.tobytes(), b"xx"],
            "codec": ["pcm_s16le", "pcm_s16le", "mp3"],
            "sr_hz": [sr, 8000, sr],
        }
    )
    out = vad_segments(spark.createDataFrame(pdf).repartition(3))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    # the only Exchange is the test input's own repartition(3); the
    # operator itself adds none (zero-shuffle contract)
    import re as _re

    assert [
        m for m in _re.findall(r"Exchange \w+", plan)
    ] == ["Exchange RoundRobinPartitioning"]
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    rows = sorted(
        (r["clip_id"], r["seg_idx"], r["start_ms"], r["end_ms"], r["n_frames"])
        for r in out.collect()
    )
    # clip a: frames 20..81 merged across the 1-frame gap; the tick at
    # frame 161 dies on min length. clip b at 8 kHz: fl=200, every frame
    # count doubles -> (0,10) and (30,38).
    assert rows == [
        ("a", 0, 500, 2025, 61),
        ("b", 0, 0, 250, 10),
        ("b", 1, 750, 950, 8),
    ]


def test_vad_segments_matches_replica(spark):
    """Engine segments vs the pure-python replica over oracle.decode_pcm
    for every synth clip class — exact (clip_id, seg_idx, start_ms,
    end_ms, n_frames) set equality, including absence for undecodables."""
    from kneaddata_spark.operators.vad import vad_segments
    from kneaddata_spark.synth import gen_clips_pdf

    pdf = gen_clips_pdf(80)
    df = spark.createDataFrame(
        pdf[["clip_id", "bytes", "codec", "sr_hz"]]
    ).repartition(5)
    got = sorted(
        (r["clip_id"], r["seg_idx"], r["start_ms"], r["end_ms"], r["n_frames"])
        for r in vad_segments(df).collect()
    )
    want = []
    for row in pdf.itertuples():
        segs = _vad_replica(bytes(row.bytes), row.codec, int(row.sr_hz))
        if segs is None:
            continue
        fl = int(row.sr_hz) * 25 // 1000
        for k, (s, e) in enumerate(segs):
            want.append(
                (row.clip_id, k, s * fl * 1000 // int(row.sr_hz),
                 e * fl * 1000 // int(row.sr_hz), e - s)
            )
    assert got == sorted(want)
    assert len(want) > 40  # synth corpus produces real segment structure


def test_incremental_audio_screen(spark):
    """Production ingest shape: corpus -> stored (band, v) index; a new
    batch (exact re-uploads of corpus clips + fresh clips) is screened
    with only the BATCH fingerprinted. The pure-python replica predicts
    the flagged set EXACTLY (signatures are deterministic), survivors and
    flagged partition the batch, and undecodable new clips survive (null
    signature never probes the index)."""
    import pandas as pd

    from kneaddata_spark.operators.audiodup import (
        audio_band_table,
        incremental_audio_screen,
    )
    from kneaddata_spark.synth import gen_clips_pdf

    corpus_pdf = gen_clips_pdf(40)[["clip_id", "bytes", "codec"]]
    corpus = spark.createDataFrame(corpus_pdf).repartition(4)
    index = audio_band_table(corpus)

    reup = corpus_pdf.iloc[:12].copy()
    reup["clip_id"] = "re_" + reup["clip_id"]
    fresh = gen_clips_pdf(25, start=500)[["clip_id", "bytes", "codec"]]
    batch_pdf = pd.concat([reup, fresh])
    batch = spark.createDataFrame(batch_pdf).repartition(3)

    survivors, flagged = incremental_audio_screen(batch, index, min_bands=12)
    got_flagged = {r["clip_id"] for r in flagged.select("clip_id").collect()}
    got_surv = {r["clip_id"] for r in survivors.select("clip_id").collect()}

    corpus_bands = set()
    for row in corpus_pdf.itertuples():
        sig = _fp_replica(bytes(row.bytes), row.codec)
        if sig is not None:
            corpus_bands |= {(b, v) for b, v in enumerate(sig)}
    want_flagged = set()
    for row in batch_pdf.itertuples():
        sig = _fp_replica(bytes(row.bytes), row.codec)
        if sig is not None:
            n = sum((b, v) in corpus_bands for b, v in enumerate(sig))
            if n >= 12:
                want_flagged.add(row.clip_id)
    assert got_flagged == want_flagged
    assert got_surv == set(batch_pdf["clip_id"]) - want_flagged
    # the screen has real work on both sides
    decodable_reups = {
        row.clip_id
        for row in reup.itertuples()
        if _fp_replica(bytes(row.bytes), row.codec) is not None
    }
    assert decodable_reups <= got_flagged and len(decodable_reups) >= 6
    assert len(got_surv) >= 15


def test_paragraph_dedup_random_corpora_vs_model(spark):
    """Randomized-model check (seeded — deterministic): eight corpora with
    vocab sizes tuned to force heavy/moderate/no paragraph collisions,
    compared against a 15-line pure-python keep-first model. Locks the
    exact (id, pos) tie order, empty-doc handling, and reassembly."""
    import numpy as np

    from kneaddata_spark.operators.dedup import paragraph_dedup

    rng = np.random.default_rng(4207)
    for case in range(8):
        vocab = [f"w{k}" for k in range(int(rng.integers(2, 30)))]
        n_docs = int(rng.integers(1, 25))
        w = int(rng.integers(2, 5))
        rows = []
        for d in range(n_docs):
            n_tok = int(rng.integers(1, 30))
            rows.append(
                (d, " ".join(vocab[int(rng.integers(0, len(vocab)))] for _ in range(n_tok)))
            )
        # python model
        seen, model = set(), {}
        for d, text in rows:
            toks = text.split(" ")
            paras = [
                " ".join(toks[i : i + w]) for i in range(0, len(toks), w)
            ]
            kept = [p for p in paras if p not in seen and not seen.add(p)]
            model[d] = (" ".join(kept), len(kept), len(paras))
        df = spark.createDataFrame(rows, "doc_id long, text string").repartition(3)
        got = {
            r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_total"])
            for r in paragraph_dedup(df, window=w).collect()
        }
        assert got == model, f"case {case} (vocab={len(vocab)}, w={w})"


def test_length_buckets_audio_batching(spark):
    """The audio-training use: batch clips by duration. Exact python-model
    parity (global (dur, id) sort, batches of 4, integer pad waste),
    partition invariance, and the sorted-batching guarantee that total pad
    waste is never worse than unsorted arrival-order batching."""
    import numpy as np

    from kneaddata_spark.operators.corpus import length_buckets

    rng = np.random.default_rng(77)
    rows = [(f"c{i:03d}", int(rng.integers(200, 40_000))) for i in range(103)]
    df = spark.createDataFrame(rows, "clip_id string, dur_ms long")

    order = sorted(rows, key=lambda r: (r[1], r[0]))
    model = {}
    for b in range(0, len(order), 4):
        batch = order[b : b + 4]
        durs = [d for _, d in batch]
        model[b // 4] = (
            len(batch),
            max(durs),
            sum(durs),
            len(batch) * max(durs) - sum(durs),
        )
    for n_part in (1, 6):
        got = {
            r["batch_id"]: (r["n_items"], r["max_len"], r["sum_len"], r["pad_waste"])
            for r in length_buckets(
                df.repartition(n_part), "clip_id", "dur_ms", 4
            ).collect()
        }
        assert got == model
    # sorted batching beats arrival-order batching on pad waste
    unsorted_waste = 0
    for b in range(0, len(rows), 4):
        durs = [d for _, d in rows[b : b + 4]]
        unsorted_waste += len(durs) * max(durs) - sum(durs)
    assert sum(v[3] for v in model.values()) < unsorted_waste


def test_leakage_safe_split(spark):
    """The leakage rule: exact copies land in the same split (by md5
    grouping); near-dups do too when a cluster mapping is supplied; split
    fractions track the 8/1/1 weights; assignment is stable under corpus
    growth (adding rows never moves an existing doc's split)."""
    from kneaddata_spark.operators.corpus import leakage_safe_split

    rows = [(i, f"unique text {i} {'x' * (i % 7)}") for i in range(300)]
    dups = [(i + 10_000, rows[i][1]) for i in range(60)]  # exact copies
    df = spark.createDataFrame(rows + dups, "doc_id long, text string")
    got = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_split(df, "doc_id").collect()
    }
    for i in range(60):
        assert got[i + 10_000] == got[i]
    frac = {s: sum(v == s for v in got.values()) / len(got) for s in set(got.values())}
    assert 0.65 < frac["train"] < 0.95 and frac.get("val", 0) > 0.02

    # near-dup closure via a cluster mapping
    clusters = spark.createDataFrame(
        [(0, 20_000), (1, 20_001)], "canonical_id long, dup_id long"
    )
    df2 = spark.createDataFrame(
        rows + [(20_000, "almost the same as doc 0"), (20_001, "near of doc 1")],
        "doc_id long, text string",
    )
    got2 = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_split(df2, "doc_id", clusters=clusters).collect()
    }
    assert got2[20_000] == got2[0] and got2[20_001] == got2[1]

    # growth stability: the original 300 docs keep their split in df (which
    # already contains extra rows) vs alone
    alone = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_split(
            spark.createDataFrame(rows, "doc_id long, text string"), "doc_id"
        ).collect()
    }
    assert all(alone[i] == got[i] for i in range(300))


def test_substring_dup_pairs_paste_and_boilerplate(spark):
    """The substring granularity MinHash misses: two long UNRELATED docs
    sharing one pasted 14-token passage pair up (winnowing guarantees a
    shared fingerprint for runs >= k + window - 1 = 7 tokens), while a
    short boilerplate phrase present in EVERY doc is df-guarded and pairs
    nothing. Engine pairs == a pure within-python expectation built from
    the engine's own fingerprint frame (the pair-expansion logic under
    test, not the hash)."""
    import numpy as np

    from kneaddata_spark.operators.dedup import substring_dup_pairs
    from kneaddata_spark.operators.textstats import winnowing_fingerprints

    rng = np.random.default_rng(11)
    vocab = [f"tok{i}" for i in range(500)]
    paste = " ".join(vocab[200 + i] for i in range(14))
    banner = "subscribe to our newsletter today"
    rows = []
    for i in range(30):
        body = " ".join(vocab[int(rng.integers(0, 200))] for _ in range(40))
        text = f"{banner} {body}"
        if i in (3, 17):  # the pasted passage lands in two unrelated docs
            text = f"{text} {paste}"
        rows.append((i, text))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in substring_dup_pairs(df, min_shared=2).collect()
    }
    assert (3, 17) in got and got[(3, 17)] >= 2

    # expectation from the fingerprint frame itself (df guard replicated)
    fps = winnowing_fingerprints(df, "doc_id", "text").select("doc_id", "fp").distinct().collect()
    from collections import Counter, defaultdict

    dfc = Counter(r["fp"] for r in fps)
    ceiling = max(5, len(rows) // 100)
    docs_by_fp = defaultdict(set)
    for r in fps:
        if dfc[r["fp"]] <= ceiling:
            docs_by_fp[r["fp"]].add(r["doc_id"])
    want = Counter()
    for ids in docs_by_fp.values():
        s = sorted(ids)
        for x in range(len(s)):
            for y in range(x + 1, len(s)):
                want[(s[x], s[y])] += 1
    assert got == {p: n for p, n in want.items() if n >= 2}


def test_snapshot_diff_classification(spark):
    """Every change kind classified; unchanged rows suppressed by
    default; multi-column payload hashes respect the column separator
    (a payload split ambiguity would alias ('ab','c') with ('a','bc'))."""
    from kneaddata_spark.operators.delta import snapshot_diff, snapshot_diff_counts

    old = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y"), (3, "c", "z"), (4, "ab", "c")],
        "doc_id long, t1 string, t2 string",
    )
    new = spark.createDataFrame(
        [(1, "a", "x"), (2, "B", "y"), (5, "n", "w"), (4, "a", "bc")],
        "doc_id long, t1 string, t2 string",
    )
    got = {
        r["doc_id"]: r["change"]
        for r in snapshot_diff(old, new, "doc_id", ("t1", "t2")).collect()
    }
    # id 4: ('ab','c') vs ('a','bc') MUST be changed, not unchanged
    assert got == {2: "changed", 3: "removed", 5: "added", 4: "changed"}
    counts = {
        r["change"]: r["n"]
        for r in snapshot_diff_counts(old, new, "doc_id", ("t1", "t2")).collect()
    }
    assert counts == {"added": 1, "removed": 1, "changed": 2, "unchanged": 1}


def test_speech_rate_screen_bounds(spark):
    """Keep iff cps_centi in [min,max] with integer truncation; zero/NULL
    duration drops with NULL cps. Bound edges: 60 chars in 20.0s = 300
    cps_centi keeps (inclusive); 60 chars in 20.001s truncates to 299 and
    drops."""
    from kneaddata_spark.operators.textstats import speech_rate_screen

    rows = [
        ("keep_mid", "x" * 140, 10_000),   # 14 cps -> 1400
        ("too_fast", "x" * 400, 2_000),    # 200 cps -> 20000
        ("too_slow", "x" * 4, 30_000),     # 0.13 cps -> 13
        ("edge_in", "x" * 60, 20_000),     # exactly 300
        ("edge_out", "x" * 60, 20_001),    # 299 (truncated)
        ("zero_dur", "x" * 50, 0),
    ]
    df = spark.createDataFrame(rows, "clip_id string, transcript string, dur_ms long")
    got = {r["clip_id"]: r for r in speech_rate_screen(df).collect()}
    assert {k: v["keep"] for k, v in got.items()} == {
        "keep_mid": 1, "too_fast": 0, "too_slow": 0,
        "edge_in": 1, "edge_out": 0, "zero_dur": 0,
    }
    assert got["edge_in"]["cps_centi"] == 300
    assert got["edge_out"]["cps_centi"] == 299
    assert got["zero_dur"]["cps_centi"] is None


def test_threshold_sweep_replica_and_guard(spark):
    """Sweep equals a python cumulative model on a skewed score set, and
    the distinct-score guard raises instead of going quadratic."""
    import pytest as _pytest

    from kneaddata_spark.operators.aggregates import threshold_sweep

    scores = [0] * 5 + [1] * 3 + [3] * 7 + [9] * 2
    df = spark.createDataFrame([(s,) for s in scores], "s long")
    got = {
        r["threshold"]: (r["n_kept"], r["keep_permille"])
        for r in threshold_sweep(df, "s").collect()
    }
    total = len(scores)
    want = {
        t: (
            sum(1 for s in scores if s >= t),
            sum(1 for s in scores if s >= t) * 1000 // total,
        )
        for t in set(scores)
    }
    assert got == want
    wide = spark.range(0, 500).selectExpr("id as s")
    # the guard is IN-PLAN (raise_error at execution — builders stay
    # job-free for the plan audit), so it surfaces as a Spark run error
    with _pytest.raises(Exception, match="distinct"):
        threshold_sweep(wide, "s", max_buckets=100).collect()


def test_normalized_dedup_variants_collapse(spark):
    """Case / punctuation / whitespace variants collapse onto the
    original (keep=0, canonical=original); distinct texts keep; raw
    dedup_exact misses every planted variant (the operator's reason to
    exist)."""
    from kneaddata_spark.operators.dedup import dedup_exact, normalized_dedup

    rows = [
        (1, "the quick brown fox"),
        (2, "THE QUICK BROWN FOX!!"),
        (3, "  the   quick brown... fox  "),
        (4, "a different document"),
        (5, "A different, document?"),
        (6, "entirely unrelated text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in normalized_dedup(df).collect()}
    assert [got[i]["keep"] for i in range(1, 7)] == [1, 0, 0, 1, 0, 1]
    assert got[2]["canonical_id"] == 1 and got[3]["canonical_id"] == 1
    assert got[5]["canonical_id"] == 4
    assert got[1]["n_copies"] == 3 and got[4]["n_copies"] == 2 and got[6]["n_copies"] == 1
    # raw exact dedup keeps all 6 — none of the variants are byte-equal
    assert dedup_exact(df, "doc_id", "text").count() == 6


def _resample_replica(x16, sr_src, sr_dst):
    """Per-sample pure-python replica derived from the resample module
    docstring (independent of the numpy kernel's vectorized code)."""
    if sr_src == sr_dst:
        return list(x16)
    n = len(x16)
    n_out = n * sr_dst // sr_src
    out = []
    for i in range(n_out):
        num = i * sr_src
        k = num // sr_dst
        rem = num - k * sr_dst
        k1 = min(k + 1, n - 1)
        out.append((x16[k] * (sr_dst - rem) + x16[k1] * rem) // sr_dst)
    return out


def test_resample_kernel_exactness():
    """Upsample-by-2 of a ramp hits exact midpoints; non-integer ratio
    obeys the length formula; floor semantics on negatives match the
    replica; identity at equal rates returns the same array object."""
    import numpy as np

    from kneaddata_spark.operators.resample import resample_linear

    ramp = np.arange(-5, 6, dtype=np.int16) * 1000
    up = resample_linear(ramp, 8000, 16000)
    assert len(up) == len(ramp) * 2
    assert list(up[0::2]) == list(ramp)
    mids = [(int(ramp[i]) + int(ramp[min(i + 1, len(ramp) - 1)])) // 2
            for i in range(len(ramp))]
    assert list(up[1::2]) == mids

    rng = np.random.default_rng(5)
    x = rng.integers(-32768, 32768, size=2205, dtype=np.int16)
    y = resample_linear(x, 22050, 16000)
    assert len(y) == 2205 * 16000 // 22050
    assert list(y) == _resample_replica([int(v) for v in x], 22050, 16000)
    assert resample_linear(x, 16000, 16000) is x


def test_resample_audio_matches_replica_and_plan(spark):
    """Engine (n_in, n_out, crc_out) per synth clip == the pure-python
    replica over the INDEPENDENT oracle.decode_pcm decoder; passthrough
    crc equals the crc of the original stream; undecodables absent.
    Plan: one ArrowEvalPython, zero operator-added exchanges."""
    import re as _re
    import zlib

    import numpy as np

    from kneaddata_spark import oracle
    from kneaddata_spark.operators.resample import resample_audio
    from kneaddata_spark.synth import gen_clips_pdf

    pdf = gen_clips_pdf(80)
    df = spark.createDataFrame(
        pdf[["clip_id", "bytes", "codec", "sr_hz"]]
    ).repartition(5)
    out = resample_audio(df, 16000)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert plan.count("BatchEvalPython") == 0
    assert [
        m for m in _re.findall(r"Exchange \w+", plan)
    ] == ["Exchange RoundRobinPartitioning"]

    got = {
        r["clip_id"]: (r["sr_src"], r["n_in"], r["n_out"], r["crc_out"], r["passthrough"])
        for r in out.collect()
    }
    want = {}
    for _, row in pdf.iterrows():
        f = oracle.decode_pcm(row["bytes"], row["codec"])
        sr = int(row["sr_hz"])
        if f is None or sr <= 0:
            continue
        x16 = [int(v) for v in (f.astype(np.float64) * 32768.0)]
        y = _resample_replica(x16, sr, 16000)
        crc = zlib.crc32(np.array(y, dtype="<i2").tobytes())
        want[row["clip_id"]] = (sr, len(x16), len(y), crc, int(sr == 16000))
    assert got == want
    assert any(v[4] == 1 for v in want.values())  # passthrough exercised
    assert any(v[0] > 16000 for v in want.values())  # downsample exercised
    assert any(v[0] < 16000 for v in want.values())  # upsample exercised


def test_bm25_hard_negatives_excludes_before_rank(spark):
    """The false-negative trap: the query's exact copy tops unexcluded
    BM25; with the positives closure it vanishes and the k negatives are
    the overlap-ordered true non-answers with CONTIGUOUS ranks (exclusion
    before ranking, not a post-filter that leaves holes)."""
    from kneaddata_spark.operators.retrieval import bm25_hard_negatives, bm25_topk

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta"),          # exact copy of the positive
        (3, "alpha beta gamma zz1 zz2"),        # 3 shared terms
        (4, "alpha beta yy1 yy2 yy3"),          # 2 shared
        (5, "alpha xx1 xx2 xx3 xx4"),           # 1 shared
        (6, "ww1 ww2 ww3 ww4 ww5"),             # none
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    qs = d.where("doc_id = 1").selectExpr(
        "doc_id as query_id", "text as query_text"
    )
    # unexcluded: the copy (or self) owns rank 1
    base = bm25_topk(d, qs, k=2).collect()
    assert {r["doc_id"] for r in base} == {1, 2}

    pos = spark.createDataFrame([(1, 1), (1, 2)], "query_id long, doc_id long")
    neg = sorted(
        bm25_hard_negatives(d, qs, pos, k=3).collect(), key=lambda r: r["rank"]
    )
    assert [r["doc_id"] for r in neg] == [3, 4, 5]
    assert [r["rank"] for r in neg] == [1, 2, 3]
    assert all(r["doc_id"] not in (1, 2) for r in neg)


def test_loudness_kernel_exactness():
    """Constant-amplitude signal lands exactly on the integer-RMS math;
    a lone spike over silence hits the gain cap and saturates at the
    int16 rails; empty input returns the documented (0, cap)."""
    import numpy as np

    from kneaddata_spark.operators.resample import apply_gain, loudness_gain

    sq = np.tile(np.array([1000, -1000], dtype=np.int16), 500)
    rms, gain = loudness_gain(sq, 4096, 1 << 18)
    assert rms == 1000
    assert gain == 4096 * 32768 // 1000
    y = apply_gain(sq, gain)
    # (1000 * gain) >> 15 for both signs, floor semantics on the negative
    assert int(y[0]) == (1000 * gain) >> 15
    assert int(y[1]) == (-1000 * gain) >> 15
    assert abs(int(y[0]) - 4096) <= 1

    spike = np.zeros(10_000, dtype=np.int16)
    spike[5000] = 32000
    rms_s, gain_s = loudness_gain(spike, 4096, 1 << 18)
    assert gain_s == 1 << 18  # silence-dominated rms -> cap
    ys = apply_gain(spike, gain_s)
    assert int(ys[5000]) == 32767 and int(ys.max()) == 32767  # saturated
    assert loudness_gain(np.empty(0, dtype=np.int16), 4096, 7) == (0, 7)


def test_loudness_normalize_matches_replica(spark):
    """Engine (n, rms_in, rms_out, gain_q15, crc_out) per synth clip ==
    a pure-python replica of the documented Q15 kernel over the
    INDEPENDENT oracle.decode_pcm; undecodables absent; plan is one
    ArrowEvalPython with no operator-added exchange."""
    import math
    import zlib

    import numpy as np

    from kneaddata_spark import oracle
    from kneaddata_spark.operators.resample import loudness_normalize
    from kneaddata_spark.synth import gen_clips_pdf

    pdf = gen_clips_pdf(60)
    df = spark.createDataFrame(pdf[["clip_id", "bytes", "codec"]]).repartition(4)
    out = loudness_normalize(df, 4096)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1 and plan.count("BatchEvalPython") == 0

    got = {
        r["clip_id"]: (r["n"], r["rms_in"], r["rms_out"], r["gain_q15"], r["crc_out"])
        for r in out.collect()
    }

    def rep_gain(xs):
        n = len(xs)
        if n == 0:
            return 0, 1 << 18
        rms = math.isqrt(sum(v * v for v in xs) // n)
        return rms, min(4096 * 32768 // max(rms, 1), 1 << 18)

    want = {}
    for _, row in pdf.iterrows():
        f = oracle.decode_pcm(row["bytes"], row["codec"])
        if f is None:
            continue
        xs = [int(v) for v in (f.astype(np.float64) * 32768.0)]
        rms_in, g = rep_gain(xs)
        ys = [max(-32768, min(32767, (v * g) >> 15)) for v in xs]
        rms_out, _ = rep_gain(ys)
        crc = zlib.crc32(np.array(ys, dtype="<i2").tobytes())
        want[row["clip_id"]] = (len(xs), rms_in, rms_out, g, crc)
    assert got == want and len(want) > 30


def test_pii_report_sequential_reconciliation(spark):
    """Report counts == an independent python-re replica applying the
    SAME sequential scrub order; in particular the credit-card digits
    consumed by CCNUM are not re-counted by PHONE (the reconciliation
    property the sequential contract exists for)."""
    import re

    from kneaddata_spark import rules
    from kneaddata_spark.operators.textstats import pii_report

    rows = [
        (0, "write a@b.co and c@d.org today"),          # 2 emails
        (1, "ssn 523-12-9876 and card 4111 1111 1111 1111"),
        (2, "call +1 (212) 555-0199 or ping 10.0.0.1"),
        (3, "nothing sensitive here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["rule_idx"]: (r["tag"], r["n_docs"], r["n_hits"])
        for r in pii_report(df, "text").collect()
    }

    per_rule = {i: [0, 0] for i in range(len(rules.SCRUB_PATTERNS))}
    for _, text in rows:
        cur = text
        for i, (pat, tag) in enumerate(rules.SCRUB_PATTERNS):
            hits = len(re.findall(pat, cur))
            per_rule[i][1] += hits
            per_rule[i][0] += 1 if hits else 0
            cur = re.sub(pat, tag, cur)
    want = {
        i: (rules.SCRUB_PATTERNS[i][1], per_rule[i][0], per_rule[i][1])
        for i in per_rule
    }
    assert got == want
    # the planted CC number is counted once, by CCNUM — not again by PHONE
    assert got[2][2] == 1 and got[3][2] == 1  # CCNUM=1 (doc 1), PHONE=1 (doc 2)


def test_confusion_matrix(spark):
    from kneaddata_spark.operators.aggregates import confusion_matrix

    rows = [("en", "en"), ("en", "en"), ("en", "es"), ("es", "es"), ("es", "und")]
    df = spark.createDataFrame(rows, "lang string, pred string")
    got = {
        (r["label"], r["pred"]): r["n"]
        for r in confusion_matrix(df, "lang", "pred").collect()
    }
    assert got == {("en", "en"): 2, ("en", "es"): 1, ("es", "es"): 1, ("es", "und"): 1}


def test_prep_audio_fusion_equals_staged_chain(spark):
    """The fused one-decode prep stage emits BIT-IDENTICAL results to
    running the per-stage kernels in sequence over the independent
    oracle decoder (resample THEN loudness on the resampled stream) —
    fusion changes the decode count, never the numbers. Plan: exactly
    one ArrowEvalPython for the whole chain."""
    import zlib

    import numpy as np

    from kneaddata_spark import oracle
    from kneaddata_spark.operators.audioprep import prep_audio
    from kneaddata_spark.operators.resample import (
        apply_gain,
        loudness_gain,
        resample_linear,
    )
    from kneaddata_spark.synth import gen_clips_pdf

    pdf = gen_clips_pdf(60)
    df = spark.createDataFrame(
        pdf[["clip_id", "bytes", "codec", "sr_hz"]]
    ).repartition(4)
    out = prep_audio(df, 16000, 4096)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1 and plan.count("BatchEvalPython") == 0

    got = {
        r["clip_id"]: (
            r["sr_src"], r["n_in"], r["n_out"], r["rms_in"], r["rms_out"],
            r["gain_q15"], r["crc_out"],
        )
        for r in out.collect()
    }
    want = {}
    for _, row in pdf.iterrows():
        f = oracle.decode_pcm(row["bytes"], row["codec"])
        sr = int(row["sr_hz"])
        if f is None or sr <= 0:
            continue
        x = (f.astype(np.float64) * 32768.0).astype(np.int16)
        y = resample_linear(x, sr, 16000)
        rms_in, g = loudness_gain(y, 4096, 1 << 18)
        z = apply_gain(y, g)
        rms_out, _ = loudness_gain(z, 4096, 1 << 18)
        want[row["clip_id"]] = (
            sr, len(x), len(z), rms_in, rms_out, g,
            zlib.crc32(z.astype("<i2").tobytes()),
        )
    assert got == want and len(want) > 30


def test_compact_small_files(spark, tmp_path):
    """Compaction reduces leaf-partition file counts to the byte-target
    number, preserves row multisets exactly, skips already-compact
    leaves, and leaves partition directory structure intact."""
    from kneaddata_spark.operators.maintenance import compact_small_files

    root = str(tmp_path / "tbl")
    df = spark.range(0, 20_000).selectExpr(
        "id", "cast(id % 3 as string) as part", "repeat('x', 50) as pad"
    )
    # 16 small files per partition — the accreted-appends shape
    df.repartition(16).write.partitionBy("part").mode("overwrite").parquet(root)

    import glob

    def leaf_counts():
        return {
            p: len(glob.glob(os.path.join(p, "*.parquet")))
            for p in glob.glob(os.path.join(root, "part=*"))
        }

    import os

    before_rows = sorted(
        (r["id"], r["part"]) for r in spark.read.parquet(root).collect()
    )
    before = leaf_counts()
    assert all(n == 16 for n in before.values())

    report = compact_small_files(spark, root, target_file_bytes=1 << 30)
    after = leaf_counts()
    assert set(report) == set(before)  # every leaf compacted
    assert all(n == 1 for n in after.values())  # 1 GiB target -> 1 file each
    after_rows = sorted(
        (r["id"], r["part"]) for r in spark.read.parquet(root).collect()
    )
    assert after_rows == before_rows

    # idempotent: second pass finds nothing to do
    assert compact_small_files(spark, root, target_file_bytes=1 << 30) == {}


def test_curriculum_order_properties(spark):
    """Every shard's position order is monotone in score (each shard sees
    the same easy->hard progression), shard sizes differ by <= 1, the
    within-score order is the seeded hash (not storage order), and
    descending=True reverses the curriculum."""
    from kneaddata_spark.operators.corpus import curriculum_order
    from kneaddata_spark.operators.sampling import KNUTH, M32

    rows = [(i, (i * 7919) % 5) for i in range(200)]  # scores 0..4 scattered
    df = spark.createDataFrame(rows, "doc_id long, score long")
    out = curriculum_order(df, "doc_id", "score", n_shards=8, seed=11).collect()
    score = dict(rows)
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append((r["pos"], r["doc_id"]))
    sizes = {s: len(v) for s, v in by_shard.items()}
    assert max(sizes.values()) - min(sizes.values()) <= 1 and len(sizes) == 8
    for s, items in by_shard.items():
        items.sort()
        scores = [score[d] for _, d in items]
        assert scores == sorted(scores)  # monotone curriculum per shard

    # full rank order == python model: (score, knuth_hash(id+seed), id)
    got_order = [r["doc_id"] for r in sorted(out, key=lambda r: (r["pos"], r["shard"]))]
    want_order = [
        d for d, _ in sorted(
            rows, key=lambda t: (t[1], ((t[0] + 11) * KNUTH) % M32, t[0])
        )
    ]
    assert got_order == want_order
    assert got_order != [d for d, _ in sorted(rows, key=lambda t: (t[1], t[0]))]

    rev = curriculum_order(df, "doc_id", "score", n_shards=8, seed=11,
                           descending=True).collect()
    first_rev = min(rev, key=lambda r: (r["pos"], r["shard"]))["doc_id"]
    assert score[first_rev] == 4  # hard-first


def test_train_ngram_counts_equals_python_trainer(spark):
    """Distributed LM training == the driver-side python trainer, bucket
    for bucket and count for count: (a) on the shipped training corpus,
    the full model arrays are EQUAL (a cluster-trained model scores
    clips identically to the shipped one); (b) on arbitrary messy docs
    (multi-space, empty, unicode-ish), counts match a direct python
    counting loop using the model's own hash functions."""
    import numpy as np

    from kneaddata_spark.models.perplexity import _h1, _h2, train_perplexity
    from kneaddata_spark.operators.lm import (
        train_ngram_counts,
        train_perplexity_distributed,
    )

    want = train_perplexity()
    got = train_perplexity_distributed(spark)
    assert np.array_equal(got.bigram, want.bigram)
    assert np.array_equal(got.unigram, want.unigram)

    docs = [
        ("hello  world  hello",),
        ("",),
        ("  single ",),
        ("a b a b a",),
    ]
    from collections import Counter

    cb, cu = Counter(), Counter()
    for (t,) in docs:
        toks = ["<s>"] + t.lower().split() + ["</s>"]
        for a, b in zip(toks, toks[1:]):
            cb[_h2(a, b)] += 1
            cu[_h1(a)] += 1
    rows = train_ngram_counts(
        spark.createDataFrame(docs, "text string"), "text"
    ).collect()
    got_b = {r["bucket"]: r["n"] for r in rows if r["kind"] == "bigram"}
    got_u = {r["bucket"]: r["n"] for r in rows if r["kind"] == "unigram"}
    assert got_b == dict(cb) and got_u == dict(cu)


def test_train_trigram_counts_equals_python_trainer(spark):
    """Distributed langid training == the driver-side python trainer:
    profiles bit-for-bit on the shipped corpus (so a cluster-trained
    model predicts identically), and raw trigram counts on unicode-bearing
    docs equal models/langid._trigram_hashes directly."""
    from collections import Counter

    import numpy as np

    from kneaddata_spark.models.langid import _trigram_hashes, train_langid
    from kneaddata_spark.operators.lm import (
        train_langid_distributed,
        train_trigram_counts,
    )

    want = train_langid()
    got = train_langid_distributed(spark)
    assert got.langs == want.langs
    assert np.array_equal(got.profiles, want.profiles)

    docs = [("xx", "héllo  wörld"), ("xx", ""), ("yy", "a"), ("yy", "qué tal")]
    cnt = Counter()
    for lang, t in docs:
        for h in _trigram_hashes(t):
            cnt[(lang, int(h))] += 1
    rows = train_trigram_counts(
        spark.createDataFrame(docs, "lang string, text string")
    ).collect()
    assert {(r["lang"], r["bucket"]): r["n"] for r in rows} == dict(cnt)


# ----------------------------------------------------------- BPE ----


def _bpe_replica_train(texts, n_merges, top_types=20_000):
    """Independent trainer: python Counter over the token stream, naive
    full-recount pair loop (no posting-map increments), same
    (count DESC, pair ASC) selection."""
    from collections import Counter

    wc = Counter()
    for t in texts:
        wc.update(w for w in t.lower().split() if w)
    top = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))[:top_types]
    words = {w: (tuple(w) + ("</w>",), n) for w, n in top}
    merges = []
    for _ in range(n_merges):
        pc = Counter()
        for sym, n in words.values():
            for i in range(len(sym) - 1):
                pc[(sym[i], sym[i + 1])] += n
        if not pc:
            break
        a, b = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append((a, b))
        nxt = {}
        for w, (sym, n) in words.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            if len(out) > 1:
                nxt[w] = (tuple(out), n)
        words = nxt
        if not words:
            break
    return merges


def _bpe_replica_encode(word, merges):
    """Independent encoder: replay merges IN TRAINING ORDER (the engine
    encodes greedy-by-min-rank; the two are provably equivalent)."""
    sym = tuple(word) + ("</w>",)
    for a, b in merges:
        out, i = [], 0
        while i < len(sym):
            if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = tuple(out)
    return list(sym)


def test_bpe_merge_loop_hand_example():
    """Unambiguous tiny corpus, merges hand-derivable."""
    from kneaddata_spark.operators.bpe import merge_loop

    # 'abab' x3: pairs (a,b)=6, (b,a)=3, (b,</w>)=3 -> first merge (a,b);
    # then (ab,ab)=3, (ab,</w>)=3 tie -> pair ASC picks ('ab','</w>');
    # then ('ab','ab</w>')=3 ... deterministic chain
    merges = merge_loop([("abab", 3)], 3)
    assert merges == [("a", "b"), ("ab", "</w>"), ("ab", "ab</w>")]


def test_bpe_train_distributed_equals_replica(spark):
    import random

    rng = random.Random(11)
    vocab = ["alpha", "beta", "gamma", "delta", "repeat", "repeating",
             "lowest", "newest", "widest", "low", "lower", "xy", "xyxy"]
    texts = [" ".join(rng.choices(vocab, k=rng.randint(3, 30))) for _ in range(300)]
    from kneaddata_spark.operators.bpe import train_bpe

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = train_bpe(df, n_merges=40, top_types=10)
    want = _bpe_replica_train(texts, 40, top_types=10)
    assert got == want and len(got) > 20


def test_bpe_encode_matches_replica_and_plan(spark):
    import random
    import zlib

    rng = random.Random(7)
    vocab = ["the", "quick", "brown", "fox", "jumps", "lowest", "newest",
             "slowest", "Mixed", "CASE", "tok-en", "ünïcode", "aaaa", "abab"]
    rows = [(i, " ".join(rng.choices(vocab, k=rng.randint(1, 25)))) for i in range(200)]
    rows.append((998, ""))
    rows.append((999, None))
    from kneaddata_spark.operators.bpe import bpe_encode, train_bpe

    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = train_bpe(df, n_merges=30)
    got = {r["doc_id"]: (r["n_words"], r["n_tokens"], r["tok_crc"])
           for r in bpe_encode(df, merges).collect()}
    for doc_id, t in rows:
        if t is None:
            assert got[doc_id] == (None, None, None)
            continue
        crc, n_tok, n_w = 0, 0, 0
        for w in t.lower().split():
            toks = _bpe_replica_encode(w, merges)
            n_w += 1
            n_tok += len(toks)
            for tok in toks:
                crc = zlib.crc32(tok.encode(), crc)
        assert got[doc_id] == (n_w, n_tok, crc), doc_id
    # plan: ONE Arrow stage, zero shuffles, no row-at-a-time python
    from tools.audit_plans import plan_of

    import re

    p = plan_of(bpe_encode(df, merges))
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", p)) == 1
    assert "BatchEvalPython" not in p
    assert not re.findall(r"\(\d+\) Exchange\b", p)


def test_bpe_encode_reconstruction():
    """Tokens of a word concatenate back to word + '</w>' (BPE is
    lossless segmentation)."""
    from kneaddata_spark.operators.bpe import encode_word, merge_loop

    merges = merge_loop([("banana", 4), ("bandana", 2), ("nan", 7)], 12)
    ranks = {p: i for i, p in enumerate(merges)}
    for w in ["banana", "bandana", "nan", "ban", "x", "nanana"]:
        toks = encode_word(w, ranks)
        assert "".join(toks) == w + "</w>"
        assert toks == _bpe_replica_encode(w, merges)


# ----------------------------------------------------- pitch screen ----


def _pitch_replica(x, sr):
    """Independent re-derivation of the rules.py pitch kernel: per-lag
    np.dot loop (the engine uses one strided matmul), plain-int verdicts."""
    import numpy as np

    from kneaddata_spark import rules

    if sr <= 0:
        return ("short", None, None, None)
    min_lag = max(1, sr // rules.PITCH_MEAS_F0_MAX)
    max_lag = sr // rules.PITCH_MEAS_F0_MIN
    w = min(rules.PITCH_WIN, len(x) - max_lag)
    if w < rules.PITCH_MIN_WIN or max_lag <= min_lag:
        return ("short", None, None, None)
    s = (len(x) - (w + max_lag)) // 2
    xs = x[s : s + w + max_lag].astype(np.int64)
    r0 = int(np.dot(xs[:w], xs[:w]))
    if r0 <= 0:
        return ("silent", None, None, 0)
    rs = [int(np.dot(xs[:w], xs[lag : lag + w])) for lag in range(min_lag, max_lag + 1)]
    r_max = max(rs)
    if r_max <= 0:
        best = rs.index(r_max)
    else:
        last = len(rs) - 1
        best = next(
            (
                i for i, r in enumerate(rs)
                if (i == 0 or r >= rs[i - 1])
                and (i == last or r >= rs[i + 1])
                and r * 1000 >= r_max * rules.PITCH_PEAK_TOL_PERMILLE
            ),
            rs.index(r_max),
        )
    best_lag = min_lag + best
    return ("ok", best_lag, sr * 100 // best_lag, max(rs[best], 0) * 1000 // r0)


def test_pitch_kernel_tones_and_noise():
    import numpy as np

    from kneaddata_spark.operators.pitch import pitch_of

    sr = 16000
    # exact integer period 100 (160 Hz, in the speech band): periodicity
    # is exactly 1000 and the octave tie resolves DOWN to lag 100
    t = np.arange(4000)
    x = np.round(20000 * np.sin(2 * np.pi * t / 100)).astype(np.int16)
    st, lag, f0, per = pitch_of(x, sr)
    assert (st, lag, f0, per) == ("ok", 100, 16000, 1000)

    # 880 Hz tone (lag ~18.18): voiced but out of the speech band
    x = np.round(18000 * np.sin(2 * np.pi * 880 * t / sr)).astype(np.int16)
    st, lag, f0, per = pitch_of(x, sr)
    assert st == "ok" and per >= 800
    assert f0 > 35000  # 350 Hz * 100

    # deterministic broadband noise: never clears the periodicity floor
    rng = np.random.default_rng(3)
    x = rng.integers(-15000, 15000, size=4000).astype(np.int16)
    st, lag, f0, per = pitch_of(x, sr)
    assert st == "ok" and per < 300

    # too short to measure
    st, lag, f0, per = pitch_of(x[:300], sr)
    assert st == "short" and lag is None

    # silence
    st, lag, f0, per = pitch_of(np.zeros(4000, dtype=np.int16), sr)
    assert st == "silent" and per == 0

    # replica agreement on all of the above shapes
    for sig in [
        np.round(20000 * np.sin(2 * np.pi * t / 100)).astype(np.int16),
        rng.integers(-15000, 15000, size=4000).astype(np.int16),
    ]:
        assert pitch_of(sig, sr) == _pitch_replica(sig, sr)


def test_pitch_screen_matches_replica_and_plan(spark):
    import re

    from kneaddata_spark import oracle, rules
    from kneaddata_spark.operators.pitch import pitch_screen
    from kneaddata_spark.synth import clips_spark_df, gen_clip
    from tools.audit_plans import plan_of

    n = 120
    got = {
        r["clip_id"]: r.asDict()
        for r in pitch_screen(clips_spark_df(spark, n, n_partitions=4)).collect()
    }
    n_checked = n_speechlike = 0
    import numpy as np

    for i in range(n):
        c = gen_clip(i)
        f = oracle.decode_pcm(c["bytes"], c["codec"])
        if f is None or c["sr_hz"] <= 0:
            assert c["clip_id"] not in got
            continue
        x = (f.astype(np.float64) * 32768.0).astype(np.int64)
        st, lag, f0, per = _pitch_replica(x, c["sr_hz"])
        r = got[c["clip_id"]]
        assert (r["status"], r["best_lag"], r["f0_centi_hz"],
                r["periodicity_permille"]) == (st, lag, f0, per), c["clip_id"]
        voiced = st == "ok" and per >= rules.PITCH_VOICED_MIN_PERMILLE
        speech = voiced and 100 * rules.PITCH_F0_MIN_HZ <= f0 <= 100 * rules.PITCH_F0_MAX_HZ
        assert (r["voiced"], r["speechlike"]) == (voiced, speech)
        n_checked += 1
        n_speechlike += speech
    # the synth corpus is harmonic tones: most decodable clips are voiced,
    # and the f0 ~ logU(80, 1200) draw puts a nontrivial subset in-band
    assert n_checked > 60 and 0 < n_speechlike < n_checked

    p = plan_of(pitch_screen(clips_spark_df(spark, 50, n_partitions=2)))
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", p)) == 1
    assert "BatchEvalPython" not in p
    assert not re.findall(r"\(\d+\) Exchange\b", p)


# ------------------------------------------------------- zone maps ----


def test_zone_map_pruned_scan_equals_filter(spark):
    from kneaddata_spark.operators.zonemap import pruned_scan, zone_maps

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    day = F.expr("unix_timestamp(ts) div 86400")
    stats = zone_maps(ev, day, ["event_id"])
    got = pruned_scan(ev, day, stats, "event_id", 200, 420).select("event_id")
    want = ev.where(F.col("event_id").between(200, 420)).select("event_id")
    assert sorted(r[0] for r in got.collect()) == sorted(r[0] for r in want.collect())
    # event_id is ts-monotone: the map must actually prune
    from kneaddata_spark.operators.zonemap import prune_slices

    kept = prune_slices(stats, "event_id", 200, 420).count()
    assert kept < stats.count()


def test_zone_map_physical_partition_pruning(spark, tmp_path):
    """The directory-skipping version: write a partitioned copy, read only
    the zone-map-qualifying partitions, equality + fewer partitions in
    the plan."""
    import re

    from kneaddata_spark.operators.zonemap import prune_slices, zone_maps
    from tools.audit_plans import plan_of

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    p = str(tmp_path / "ev_by_day")
    ev.withColumn("day", F.expr("unix_timestamp(ts) div 86400")).write.partitionBy(
        "day"
    ).parquet(p)
    t = spark.read.parquet(p)
    stats = zone_maps(t, F.col("day"), ["event_id"])
    days = [r["slice"] for r in prune_slices(stats, "event_id", 200, 420).collect()]
    n_days_total = t.select("day").distinct().count()
    assert 0 < len(days) < n_days_total
    pruned = t.where(F.col("day").isin(days)).where(F.col("event_id").between(200, 420))
    full = t.where(F.col("event_id").between(200, 420))
    assert sorted(r["event_id"] for r in pruned.collect()) == sorted(
        r["event_id"] for r in full.collect()
    )
    # formatted explain elides FileScan detail — read the executed plan
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[day#\d+ IN \(", plan)
    # behavioral proof: the pruned read touches at most the qualifying
    # partitions (event_id is day-contiguous here, so exactly those)
    files_pruned = pruned.select(F.input_file_name()).distinct().count()
    assert files_pruned == len(days) < n_days_total


def test_zone_map_null_slice_is_kept(spark):
    """No evidence is not exclusion: a slice whose column is all NULL has
    NULL min/max and must survive pruning."""
    from kneaddata_spark.operators.zonemap import prune_slices, zone_maps

    df = spark.createDataFrame(
        [(0, 1), (0, 2), (1, None), (2, 99)], "s int, v int"
    )
    stats = zone_maps(df, F.col("s"), ["v"])
    kept = {r["slice"] for r in prune_slices(stats, "v", 1, 3).collect()}
    assert kept == {0, 1}


# ------------------------------------------------------- SNR screen ----


def _snr_replica(x, sr):
    """Independent re-derivation of the rules.py SNR kernel: per-frame
    python loops, plain-int math."""
    from kneaddata_spark import rules

    frame_len = sr * rules.VAD_FRAME_MS // 1000
    if frame_len <= 0 or len(x) < frame_len:
        return ("short", 0, 0, None, None, None)
    sp_sq = nz_sq = n_sp = n_nz = 0
    for f in range(len(x) // frame_len):
        fr = [int(v) for v in x[f * frame_len : (f + 1) * frame_len]]
        e = sum(abs(v) for v in fr) // frame_len
        ssq = sum(v * v for v in fr)
        if e >= rules.VAD_ENERGY_MIN:
            n_sp += 1
            sp_sq += ssq
        else:
            n_nz += 1
            nz_sq += ssq
    sp_ms = sp_sq // (n_sp * frame_len) if n_sp else None
    nz_ms = nz_sq // (n_nz * frame_len) if n_nz else None
    if n_sp == 0:
        return ("no_speech", 0, n_nz, None, nz_ms, None)
    if n_nz == 0:
        return ("clean", n_sp, 0, sp_ms, None, None)
    return ("ok", n_sp, n_nz, sp_ms, nz_ms, sp_ms // max(nz_ms, 1))


def test_snr_kernel_hand_cases():
    import numpy as np

    from kneaddata_spark import rules
    from kneaddata_spark.operators.snr import snr_of

    sr = 16000
    fl = sr * rules.VAD_FRAME_MS // 1000  # 400
    t = np.arange(fl * 10)
    loud = np.round(16000 * np.sin(2 * np.pi * t / 100)).astype(np.int16)
    quiet = (np.round(50 * np.sin(2 * np.pi * t / 100))).astype(np.int16)

    st, nsp, nnz, spm, nzm, r = snr_of(np.concatenate([loud, quiet]), sr)
    assert (st, nsp, nnz) == ("ok", 10, 10)
    assert r == spm // nzm and r >= rules.SNR_MIN_RATIO

    assert snr_of(loud, sr)[0] == "clean"
    assert snr_of(quiet, sr)[0] == "no_speech"
    assert snr_of(loud[: fl - 1], sr)[0] == "short"
    assert snr_of(np.zeros(fl * 3, dtype=np.int16), sr)[0] == "no_speech"

    # noisy clip under the keep bar: noise floor ~8x below speech power
    noisy = np.concatenate([loud, (loud * 0.36).astype(np.int16)])
    st, *_ , r = snr_of(noisy, sr)
    # 0.36 amplitude is still above VAD energy -> all speech -> clean;
    # push the floor just under the VAD line instead
    sub = np.round(500 * np.sin(2 * np.pi * t / 100)).astype(np.int16)
    st, nsp, nnz, spm, nzm, r = snr_of(np.concatenate([loud, sub]), sr)
    assert st == "ok" and nnz == 10
    assert r == spm // nzm

    for sig in [np.concatenate([loud, quiet]), np.concatenate([loud, sub]), quiet]:
        assert snr_of(sig, sr) == _snr_replica(sig, sr)


def test_snr_screen_matches_replica_and_plan(spark):
    import re

    import numpy as np

    from kneaddata_spark import oracle, rules
    from kneaddata_spark.operators.snr import snr_screen
    from kneaddata_spark.synth import clips_spark_df, gen_clip
    from tools.audit_plans import plan_of

    n = 120
    got = {
        r["clip_id"]: r.asDict()
        for r in snr_screen(clips_spark_df(spark, n, n_partitions=4)).collect()
    }
    n_checked = n_keep = 0
    for i in range(n):
        c = gen_clip(i)
        f = oracle.decode_pcm(c["bytes"], c["codec"])
        if f is None or c["sr_hz"] <= 0:
            assert c["clip_id"] not in got
            continue
        x = (f.astype(np.float64) * 32768.0).astype(np.int64)
        st, nsp, nnz, spm, nzm, ratio = _snr_replica(x, c["sr_hz"])
        r = got[c["clip_id"]]
        assert (
            r["status"], r["n_speech_frames"], r["n_noise_frames"],
            r["speech_meansq"], r["noise_meansq"], r["snr_ratio"],
        ) == (st, nsp, nnz, spm, nzm, ratio), c["clip_id"]
        keep = st == "clean" or (st == "ok" and ratio >= rules.SNR_MIN_RATIO)
        assert r["keep"] == keep
        n_checked += 1
        n_keep += keep
    # the synth corpus has edge_silence/mostly_silence classes: both
    # verdicts must occur
    assert n_checked > 60 and 0 < n_keep < n_checked

    p = plan_of(snr_screen(clips_spark_df(spark, 50, n_partitions=2)))
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", p)) == 1
    assert "BatchEvalPython" not in p
    assert not re.findall(r"\(\d+\) Exchange\b", p)


# ------------------------------------------------- fused audio screen ----


def test_screen_audio_fusion_equals_standalones(spark):
    """Fusion contract: every fused column is bit-identical to the
    corresponding standalone operator's output (the prep_audio rule);
    plan is ONE Arrow stage, zero shuffles."""
    import re

    from kneaddata_spark.operators.audioscreen import screen_audio
    from kneaddata_spark.operators.bandwidth import bandwidth_screen
    from kneaddata_spark.operators.click import click_screen
    from kneaddata_spark.operators.dropout import dropout_screen
    from kneaddata_spark.operators.hum import hum_screen
    from kneaddata_spark.operators.dynrange import dynrange_screen
    from kneaddata_spark.operators.pitch import pitch_screen
    from kneaddata_spark.operators.reverb import reverb_screen
    from kneaddata_spark.operators.snr import snr_screen
    from kneaddata_spark.operators.vad import vad_segments
    from kneaddata_spark.synth import clips_spark_df
    from tools.audit_plans import plan_of

    clips = clips_spark_df(spark, 150, n_partitions=4)
    fused = {r["clip_id"]: r.asDict() for r in screen_audio(clips).collect()}
    snr = {r["clip_id"]: r.asDict() for r in snr_screen(clips).collect()}
    pit = {r["clip_id"]: r.asDict() for r in pitch_screen(clips).collect()}
    hum = {r["clip_id"]: r.asDict() for r in hum_screen(clips).collect()}
    bw = {r["clip_id"]: r.asDict() for r in bandwidth_screen(clips).collect()}
    rev = {r["clip_id"]: r.asDict() for r in reverb_screen(clips).collect()}
    dr = {r["clip_id"]: r.asDict() for r in dynrange_screen(clips).collect()}
    gp = {r["clip_id"]: r.asDict() for r in dropout_screen(clips).collect()}
    ck = {r["clip_id"]: r.asDict() for r in click_screen(clips).collect()}
    segs = {}
    for r in vad_segments(clips).collect():
        a = segs.setdefault(r["clip_id"], [0, 0])
        a[0] += 1
        a[1] += r["n_frames"]
    assert set(fused) == set(snr) == set(pit)
    for cid, f in fused.items():
        assert (f["snr_status"], f["snr_ratio"], f["snr_keep"]) == (
            snr[cid]["status"], snr[cid]["snr_ratio"], snr[cid]["keep"]
        ), cid
        assert (
            f["pitch_status"], f["f0_centi_hz"], f["periodicity_permille"],
            f["voiced"], f["speechlike"],
        ) == (
            pit[cid]["status"], pit[cid]["f0_centi_hz"],
            pit[cid]["periodicity_permille"], pit[cid]["voiced"],
            pit[cid]["speechlike"],
        ), cid
        n_seg, n_fr = segs.get(cid, [0, 0])
        assert (f["n_segments"], f["speech_frames"]) == (n_seg, n_fr), cid
        h = hum[cid]
        assert (
            f["hum_status"], f["dc_offset"], f["hum_permille"], f["hum_hz"],
            f["hum_detected"], f["dc_detected"], f["hum_keep"],
        ) == (
            h["status"], h["dc_offset"], h["hum_permille"], h["hum_hz"],
            h["hum_detected"], h["dc_detected"], h["keep"],
        ), cid
        w = bw[cid]
        assert (
            f["bw_status"], f["est_nyquist_hz"], f["narrowband"],
        ) == (w["status"], w["est_nyquist_hz"], w["narrowband"]), cid
        v = rev[cid]
        assert (
            f["rev_status"], f["rt60_ms"], f["reverb_detected"], f["rev_keep"],
        ) == (v["status"], v["rt60_ms"], v["reverb_detected"], v["keep"]), cid
        d = dr[cid]
        assert (
            f["dr_status"], f["dr_ratio_permille"], f["compressed"], f["dr_keep"],
        ) == (d["status"], d["dr_ratio_permille"], d["compressed"], d["keep"]), cid
        g = gp[cid]
        assert (
            f["drop_status"], f["dropout_permille"], f["stuck_permille"],
            f["dropout_detected"], f["stuck_detected"], f["drop_keep"],
        ) == (
            g["status"], g["dropout_permille"], g["stuck_permille"],
            g["dropout_detected"], g["stuck_detected"], g["keep"],
        ), cid
        c = ck[cid]
        assert (
            f["click_status"], f["clicks_per_min"],
            f["click_detected"], f["click_keep"],
        ) == (
            c["status"], c["clicks_per_min"], c["click_detected"], c["keep"],
        ), cid

    p = plan_of(screen_audio(clips_spark_df(spark, 50, n_partitions=2)))
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", p)) == 1
    assert "BatchEvalPython" not in p
    assert not re.findall(r"\(\d+\) Exchange\b", p)


# ------------------------------------------------- code-switch runs ----


def test_lang_segments_islands_and_invariance(spark):
    import re

    from kneaddata_spark.operators.textstats import lang_segments
    from tools.audit_plans import plan_of

    df = spark.createDataFrame(
        [
            (1, "the and of el la de the zz"),
            (2, ""),
            (3, "   "),
            (4, "zz zz zz"),
        ],
        "doc_id long, text string",
    )
    got = sorted(tuple(r) for r in lang_segments(df, "doc_id", "text").collect())
    assert got == [
        (1, 1, "en", 0, 2, 3),
        (1, 2, "es", 3, 5, 3),
        (1, 3, "en", 6, 6, 1),
        (1, 4, "und", 7, 7, 1),
        (4, 1, "und", 0, 2, 3),
    ]
    # partition invariance
    got8 = sorted(
        tuple(r) for r in lang_segments(df.repartition(8), "doc_id", "text").collect()
    )
    assert got8 == got
    # one doc-keyed shuffle end-to-end (window + running sum + groupBy all
    # reuse the doc_id clustering)
    p = plan_of(lang_segments(df, "doc_id", "text"))
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1
    from tools.audit_plans import global_window_lines

    assert not global_window_lines(lang_segments(df, "doc_id", "text"))


# ------------------------------------------- source overlap & drift ----


def test_source_overlap_hand_case(spark):
    from kneaddata_spark.operators.corpus import source_overlap

    df = spark.createDataFrame(
        [
            (1, "a", "x y"), (2, "a", "z"),
            (3, "b", "x y"), (4, "b", "q"),
            (5, "c", "x y"), (6, "c", "z"), (7, "c", "c only"),
            (8, "a", "x y"),  # intra-source duplicate: distinct-text set unchanged
        ],
        "doc_id long, source string, text string",
    )
    got = sorted(tuple(r) for r in source_overlap(df).collect())
    assert got == [
        ("a", "b", 1, 2, 2, 500),
        ("a", "c", 2, 2, 3, 1000),
        ("b", "c", 1, 2, 3, 500),
    ]


def test_distribution_drift_ks_properties(spark):
    from kneaddata_spark.operators.delta import distribution_drift

    a = spark.range(100).select((F.col("id") % 40).alias("v"))
    # identical snapshots: zero drift everywhere
    same = distribution_drift(a, a, "v", bucket_width=8, max_buckets=8).collect()
    assert same and all(r["abs_diff_permille"] == 0 for r in same)
    # shifted snapshot: python replica over the same buckets
    b = spark.range(100).select(((F.col("id") % 40) + 16).alias("v"))
    got = {
        r["bucket"]: (r["n_a"], r["n_b"], r["cum_a_permille"],
                      r["cum_b_permille"], r["abs_diff_permille"])
        for r in distribution_drift(a, b, "v", bucket_width=8, max_buckets=8).collect()
    }
    av = [min((i % 40) // 8, 7) for i in range(100)]
    bv = [min(((i % 40) + 16) // 8, 7) for i in range(100)]
    buckets = sorted(set(av) | set(bv))
    cum_a = cum_b = 0
    for k in buckets:
        na, nb = av.count(k), bv.count(k)
        cum_a += na
        cum_b += nb
        pa, pb = cum_a * 1000 // 100, cum_b * 1000 // 100
        assert got[k] == (na, nb, pa, pb, abs(pa - pb)), k
    assert max(r[4] for r in got.values()) == 480


def test_bloom_anti_join_exact_and_screens(spark):
    """bloom_anti_join == plain LEFT ANTI JOIN exactly (no false
    negatives is structural — both sides compute identical positions),
    and the Bloom pre-screen actually clears non-members map-side."""
    import random

    from kneaddata_spark.operators.membership import (
        bloom_anti_join,
        bloom_maybe_col,
        bloom_words,
    )

    rng = random.Random(11)
    keys = [f"key-{i:04d}" for i in range(300)]
    members = sorted(rng.sample(keys, 60))
    corpus = spark.createDataFrame(
        [(i, k) for i, k in enumerate(keys)] + [(999, None)],
        "rid long, key string",
    )
    # duplicate blocklist entries must not duplicate survivors
    block = spark.createDataFrame([(k,) for k in members * 2], "h string")

    out = bloom_anti_join(corpus, block, "key", "h", m_bits=1 << 12, k=4)
    got = sorted(r.rid for r in out.collect())
    want = sorted(i for i, k in enumerate(keys) if k not in set(members)) + [999]
    assert got == want  # null key never matches -> kept, like LEFT ANTI

    # the screen screens: false-positive rate of the probe over true
    # non-members stays under 5% at 4096 bits / 60 keys / k=4
    bw = bloom_words(block, "h", 1 << 12, 4)
    non = corpus.where(F.col("key").isNotNull() & ~F.col("key").isin(members))
    fp = (
        non.crossJoin(F.broadcast(bw))
        .where(bloom_maybe_col(F.col("key"), F.col("bloom_words"), 1 << 12, 4))
        .count()
    )
    assert fp <= non.count() * 0.05

    # JVM-only: no Python evaluator anywhere in the screen or the join
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "EvalPython" not in plan
    assert "MapInPandas" not in plan


def test_canonical_per_cluster_keep_best(spark):
    """Keep-best-per-cluster: highest score wins, min-id tiebreak,
    singletons keep themselves, chains keep exactly one member."""
    from kneaddata_spark.operators.dedup import canonical_per_cluster

    docs = spark.createDataFrame(
        [
            (1, 10),  # cluster A
            (2, 30),  # cluster A — best score
            (3, 30),  # cluster A — tie, loses on id
            (4, 5),   # singleton
            (5, 7),   # cluster B (chain 5~6~7)
            (6, 7),   # tie with 5 -> 5 wins on id
            (7, 3),
        ],
        "doc_id long, score long",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5), (7, 5)], "id long, cluster_id long"
    )
    got = sorted(
        (r.doc_id, r.cluster_id)
        for r in canonical_per_cluster(docs, clusters, "doc_id", F.col("score")).collect()
    )
    assert got == [(2, 1), (4, 4), (5, 5)]


def test_budget_cap_matches_prefix_model(spark):
    """budget_cap == the naive per-group hash-ordered prefix model, for
    random weights and budgets hitting the keep-all / boundary / exact-hit
    / keep-none branches; n_buckets=4 forces multi-bucket paths."""
    import random

    from kneaddata_spark.operators.corpus import budget_cap
    from kneaddata_spark.operators.sampling import KNUTH, M32

    rng = random.Random(5)
    rows = [
        (i, ["en", "es", "de"][i % 3], rng.randint(1, 50))
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, w long")

    def model(budget):
        out = {}
        for g in ("en", "es", "de"):
            grp = sorted(
                (r for r in rows if r[1] == g),
                key=lambda r: ((r[0] * KNUTH) % M32, r[0]),
            )
            cum = 0
            for i_, g_, w_ in grp:
                if cum < budget:
                    out[i_] = cum
                cum += w_
        return out

    totals = {}
    for _, g, w_ in rows:
        totals[g] = totals.get(g, 0) + w_
    for budget in (0, -5, 3, 57, 400, min(totals.values()), max(totals.values()) + 1):
        got = {
            r.doc_id: r.cum_before
            for r in budget_cap(df, "lang", "doc_id", "w", budget, n_buckets=4).collect()
        }
        assert got == model(budget), budget

    # no duplicate rows across the full/boundary union
    out = budget_cap(df, "lang", "doc_id", "w", 200, n_buckets=4)
    assert out.count() == out.select("doc_id").distinct().count()


def test_speech_only_clips_bit_exact(spark):
    """Silence removal rebuilds the speech-only payload JVM-side: for
    every decodable synth clip with speech, re-decoding speech_bytes
    yields EXACTLY the concatenation of the kernel's speech segments
    (bit-for-bit, per codec incl. rebuilt fake/wav headers); no-speech
    and undecodable clips emit NULL. Plan: one ArrowEvalPython, zero
    operator-added exchanges."""
    import re as _re

    import numpy as np

    from kneaddata_spark import rules
    from kneaddata_spark.operators.vad import segment_samples, speech_only_clips
    from kneaddata_spark.oracle import decode_pcm
    from kneaddata_spark.synth import gen_clips_pdf

    pdf = gen_clips_pdf(80)
    df = spark.createDataFrame(
        pdf[["clip_id", "bytes", "codec", "sr_hz"]]
    ).repartition(5)
    res = speech_only_clips(df)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert _re.findall(r"Exchange \w+", plan) == ["Exchange RoundRobinPartitioning"]

    out = {r["clip_id"]: r for r in res.collect()}
    n_checked = n_flac = 0
    for row in pdf.itertuples():
        r = out[row.clip_id]
        f = decode_pcm(bytes(row.bytes), row.codec)
        sr = int(row.sr_hz)
        if f is None or sr <= 0:
            assert r["speech_bytes"] is None and r["n_segments"] == 0
            continue
        # decode_pcm is the float oracle; map to the kernel's int16 domain
        # (the _vad_replica convention) before segmenting
        if row.codec == "pcm_u8":
            xi = np.round(f * 128.0).astype(np.int64) * 256
        else:
            xi = np.round(f * 32768.0).astype(np.int64)
        segs = segment_samples(xi, sr)
        fl = sr * rules.VAD_FRAME_MS // 1000
        if not segs:
            assert r["speech_bytes"] is None and r["n_segments"] == 0
            continue
        assert r["n_segments"] == len(segs)
        tot = sum(e - s for s, e in segs)
        assert r["speech_ms"] == fl * tot * 1000 // sr
        if row.codec == "flac":
            # real FLAC (r5): compressed, not JVM-sliceable -> NULL
            # payload by contract; segment accounting above stays exact
            assert r["speech_bytes"] is None, row.clip_id
            n_flac += 1
            continue
        want = np.concatenate([f[s * fl : e * fl] for s, e in segs])
        got = decode_pcm(bytes(r["speech_bytes"]), row.codec)
        assert got is not None and np.array_equal(got, want), row.clip_id
        n_checked += 1
    assert n_checked > 30  # the corpus exercises every codec branch
    assert n_flac > 2  # NULL-contract path covered


def test_clip_windows_decode_free_bit_exact(spark):
    """Fixed-stride window extraction is decode-free JVM byte slicing:
    engine windows == a pure-python replica over the raw payload ranges
    (bit-for-bit bytes, exact start_ms), structural gates (bad magic,
    plen mismatch, odd s16, short clips) emit nothing, and the plan has
    NO Python stage and no operator-added exchange."""
    import re as _re
    import struct as _struct

    from kneaddata_spark import rules
    from kneaddata_spark.operators.clipwindows import clip_windows
    from kneaddata_spark.synth import gen_clips_pdf

    pdf = gen_clips_pdf(80)
    df = spark.createDataFrame(
        pdf[["clip_id", "bytes", "codec", "sr_hz"]]
    ).repartition(5)
    out = clip_windows(df, win_ms=1500, stride_ms=700)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert _re.findall(r"Exchange \w+", plan) == ["Exchange RoundRobinPartitioning"]

    got = sorted(
        (r["clip_id"], r["win_idx"], r["start_ms"], r["n_samples"],
         r["pcm_codec"], bytes(r["win_bytes"]))
        for r in out.collect()
    )

    want = []
    for row in pdf.itertuples():
        raw, codec, sr = bytes(row.bytes), row.codec, int(row.sr_hz)
        if sr <= 0:
            continue
        if codec == "pcm_s16le" and len(raw) % 2 == 0 and raw:
            base, bps = 0, 2
        elif codec == "pcm_u8" and raw:
            base, bps = 0, 1
        elif codec == "wav":
            if (
                len(raw) > 44 and len(raw) % 2 == 0
                and raw[:4] == b"RIFF" and raw[12:16] == b"fmt "
                and raw[16:20] == b"\x10\x00\x00\x00" and raw[36:40] == b"data"
                and raw[40:44] == _struct.pack("<I", len(raw) - 44)
            ):
                base, bps = 44, 2
            else:
                continue
        elif codec in rules.FAKE_MAGIC:
            if (
                len(raw) > 8 and len(raw) % 2 == 0
                and raw[:4] == rules.FAKE_MAGIC[codec]
                and raw[4:8] == _struct.pack("<I", len(raw) - 8)
            ):
                base, bps = 8, 2
            else:
                continue
        else:
            continue
        n = (len(raw) - base) // bps
        w, s = sr * 1500 // 1000, sr * 700 // 1000
        if w <= 0 or n < w:
            continue
        for k in range((n - w) // s + 1):
            want.append(
                (row.clip_id, k, k * s * 1000 // sr, w,
                 "pcm_u8" if codec == "pcm_u8" else "pcm_s16le",
                 raw[base + k * s * bps : base + (k * s + w) * bps])
            )
    assert got == sorted(want)
    assert len({c for c, *_ in want}) > 20 and len(want) > len({c for c, *_ in want})


def test_speed_perturb_replica_and_identity(spark):
    """Speed perturbation: one decode drives all rates; per (clip, rate)
    the engine's (n_out, crc_out) equals the integer resample kernel
    replayed over the independent oracle decode, the identity rate is the
    byte-identical original stream, dur_out scales as den/num, and the
    plan is 1 Arrow stage / 0 operator exchanges."""
    import re as _re
    import zlib as _zlib

    import numpy as np

    from kneaddata_spark.operators.resample import resample_linear, speed_perturb
    from kneaddata_spark.oracle import decode_pcm
    from kneaddata_spark.synth import gen_clips_pdf

    pdf = gen_clips_pdf(60)
    df = spark.createDataFrame(
        pdf[["clip_id", "bytes", "codec", "sr_hz"]]
    ).repartition(4)
    rates = ((9, 10), (10, 10), (11, 10))
    res = speed_perturb(df, rates)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert _re.findall(r"Exchange \w+", plan) == ["Exchange RoundRobinPartitioning"]

    got = {
        (r["clip_id"], r["speed_permille"]): (r["n_out"], r["dur_out_ms"], r["crc_out"])
        for r in res.collect()
    }
    n_checked = 0
    for row in pdf.itertuples():
        f = decode_pcm(bytes(row.bytes), row.codec)
        sr = int(row.sr_hz)
        if f is None or sr <= 0:
            assert not any(k[0] == row.clip_id for k in got)
            continue
        if row.codec == "pcm_u8":
            x = (np.round(f * 128.0).astype(np.int64).astype(np.int16) * 256).astype(np.int16)
        else:
            x = np.round(f * 32768.0).astype(np.int64).clip(-32768, 32767).astype(np.int16)
        for num, den in rates:
            y = x if num == den else resample_linear(x, num, den)
            want = (len(y), len(y) * 1000 // sr, _zlib.crc32(y.astype("<i2").tobytes()))
            assert got[(row.clip_id, num * 1000 // den)] == want, (row.clip_id, num, den)
            n_checked += 1
    assert n_checked > 90  # 3 rates x >30 decodable clips


def test_crossmodal_dup_fusion_matrix(spark):
    """Evidence fusion demotes single-modality hits: identical
    audio+transcript is confirmed; identical transcript over different
    audio and identical audio under a different transcript are not."""
    from kneaddata_spark.operators.audiodup import audio_dup_pairs
    from kneaddata_spark.operators.dedup import exact_dup_groups
    from kneaddata_spark.synth import gen_clips_pdf

    pdf = gen_clips_pdf(40)
    # pick two decodable, acoustically distinct source clips
    import numpy as np

    from kneaddata_spark.oracle import decode_pcm

    srcs = [
        r for r in pdf.itertuples()
        if decode_pcm(bytes(r.bytes), r.codec) is not None
        and len(decode_pcm(bytes(r.bytes), r.codec)) > 16000
    ][:2]
    assert len(srcs) == 2
    a, b = srcs
    rows = [
        ("both_1", bytes(a.bytes), a.codec, "hello world"),
        ("both_2", bytes(a.bytes), a.codec, "hello world"),      # confirmed with both_1
        ("text_1", bytes(a.bytes), a.codec, "same words"),
        ("text_2", bytes(b.bytes), b.codec, "same words"),       # text-only: different audio
        ("audio_1", bytes(b.bytes), b.codec, "first transcript"),
        ("audio_2", bytes(b.bytes), b.codec, "second transcript"),  # audio-only
    ]
    clips = spark.createDataFrame(
        rows, "clip_id string, bytes binary, codec string, transcript string"
    )
    ap = audio_dup_pairs(clips, min_bands=12).select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
    )
    tp = exact_dup_groups(
        clips.selectExpr("clip_id as doc_id", "transcript as text"), "doc_id", "text"
    ).select(
        F.least("canonical_id", "dup_id").alias("id_a"),
        F.greatest("canonical_id", "dup_id").alias("id_b"),
    )
    apairs = {tuple(r) for r in ap.collect()}
    tpairs = {tuple(r) for r in tp.collect()}
    confirmed = apairs & tpairs
    # the audio screen sees both same-audio pairs; the text screen sees
    # both same-transcript pairs; ONLY the both-modality pair survives.
    # (both_* and text_1 share audio a; audio_* and text_2 share audio b —
    # those cross hits are audio-only and must be demoted too.)
    assert ("both_1", "both_2") in apairs and ("both_1", "both_2") in tpairs
    assert ("text_1", "text_2") in tpairs and ("text_1", "text_2") not in apairs
    assert ("audio_1", "audio_2") in apairs and ("audio_1", "audio_2") not in tpairs
    assert confirmed == {("both_1", "both_2")}


def test_merge_upsert_semantics_and_plan(spark):
    """merge_upsert: matched keys update, new keys insert, untouched rows
    pass through; output key cardinality == |target ∪ update keys|; the
    anti-join side is the (small) update key set, broadcastable."""
    from kneaddata_spark.operators.delta import merge_upsert

    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "id long, v string"
    )
    updates = spark.createDataFrame([(2, "B2"), (9, "I9")], "id long, v string")
    got = sorted(tuple(r) for r in merge_upsert(target, updates, "id").collect())
    assert got == [(1, "a"), (2, "B2"), (3, "c"), (4, "d"), (9, "I9")]
    plan = merge_upsert(target, updates, "id")._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_noise_mix_replica_and_snr(spark):
    """Noise-mix augmentation: per (clip, ratio) the engine's
    (gain_q15, meansq_x, crc_out) equals the kernel replayed over the
    independent oracle decode with the same Philox keying; the achieved
    noise power lands near meansq_x/ratio on a loud constant signal; a
    silent clip gets gain 0 (byte-identical copy)."""
    import zlib as _zlib

    import numpy as np

    from kneaddata_spark.operators.resample import mix_noise, noise_mix
    from kneaddata_spark.oracle import decode_pcm
    from kneaddata_spark.synth import gen_clips_pdf

    # kernel sanity on a constant signal: achieved ratio within 20%
    x = np.full(16000, 8000, dtype=np.int16)
    for ratio in (10, 100):
        y, g = mix_noise(x, 123, ratio)
        noise = y.astype(np.int64) - x.astype(np.int64)
        meansq_n = int((noise * noise).sum()) // len(x)
        meansq_x = 8000 * 8000
        want = meansq_x // ratio
        assert abs(meansq_n - want) <= want // 5, (ratio, meansq_n, want)
    silent = np.zeros(4000, dtype=np.int16)
    y, g = mix_noise(silent, 7, 10)
    assert g == 0 and np.array_equal(y, silent)

    pdf = gen_clips_pdf(50)
    df = spark.createDataFrame(
        pdf[["clip_id", "bytes", "codec"]]
    ).repartition(4)
    res = noise_mix(df, ratios=(10, 100))
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan

    got = {
        (r["clip_id"], r["snr_ratio"]): (r["gain_q15"], r["meansq_x"], r["crc_out"])
        for r in res.collect()
    }
    n_checked = 0
    for row in pdf.itertuples():
        f = decode_pcm(bytes(row.bytes), row.codec)
        if f is None:
            assert not any(k[0] == row.clip_id for k in got)
            continue
        if row.codec == "pcm_u8":
            xi = (np.round(f * 128.0).astype(np.int64) * 256).astype(np.int16)
        else:
            xi = np.round(f * 32768.0).astype(np.int64).clip(-32768, 32767).astype(np.int16)
        key = _zlib.crc32(str(row.clip_id).encode())
        xs = xi.astype(np.int64)
        meansq_x = int((xs * xs).sum()) // max(len(xi), 1)
        for ratio in (10, 100):
            y, g = mix_noise(xi, key, ratio)
            want = (g, meansq_x, _zlib.crc32(y.astype("<i2").tobytes()))
            assert got[(row.clip_id, ratio)] == want, (row.clip_id, ratio)
            n_checked += 1
    assert n_checked > 60


def test_quantized_topk_matches_numpy_replica(spark):
    """Int8 quantization + integer dot top-k == a numpy replica (floor
    semantics, tie -> smaller id), qvals bounded in [-127, 127], zero
    vectors dropped."""
    import numpy as np

    from kneaddata_spark.operators.similarity import quantize_embeddings, quantized_topk

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(40, 16)).astype(np.float32)
    vecs[7] = 0.0  # zero vector must drop
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    qdf = {r["id"]: (r["scale"], r["qvec"]) for r in quantize_embeddings(df).collect()}
    assert 7 not in qdf
    qmat = {}
    for i in range(40):
        if i == 7:
            continue
        v = vecs[i].astype(np.float64)
        s = float(np.abs(v).max())
        q = np.floor(v * 127.0 / s + 0.5).astype(np.int64)
        assert np.array_equal(np.array(qdf[i][1]), q), i
        assert q.min() >= -127 and q.max() <= 127
        qmat[i] = q

    got = {
        (r["query_id"], r["rank"]): (r["nbr_id"], r["qdot"])
        for r in quantized_topk(df, df.where("vec_id < 4"), k=3).collect()
    }
    for qid in range(4):
        scores = sorted(
            ((int(qmat[qid] @ qmat[n]), -n) for n in qmat if n != qid),
            key=lambda t: (-t[0], -t[1]),
        )
        for rank in range(1, 4):
            d, negn = scores[rank - 1]
            assert got[(qid, rank)] == (-negn, d), (qid, rank)


def test_hot_keys_threshold_semantics(spark):
    """hot_keys reports exactly the values at/above the permille
    threshold per column, with exact integer permille; a uniform column
    reports everything at min_permille=0 and nothing at 300."""
    from kneaddata_spark.operators.skew import hot_keys

    rows = [(i, "hot" if i < 60 else f"c{i % 4}", f"u{i % 10}") for i in range(100)]
    df = spark.createDataFrame(rows, "id long, skewed string, uniform string")
    got = {
        (r["col"], r["val"]): (r["n"], r["permille"])
        for r in hot_keys(df, ["skewed", "uniform"], min_permille=150).collect()
    }
    assert got == {("skewed", "hot"): (60, 600)}
    assert hot_keys(df, ["uniform"], min_permille=300).count() == 0
    all_rows = hot_keys(df, ["uniform"], min_permille=0).collect()
    assert len(all_rows) == 10 and all(r["permille"] == 100 for r in all_rows)


def _clip_windows_replica(raw, codec, sr, win_ms, stride_ms):
    """Independent re-derivation of clip_windows' gates + slices."""
    import struct as _struct

    from kneaddata_spark import rules

    if sr <= 0:
        return []
    if codec == "pcm_s16le" and raw and len(raw) % 2 == 0:
        base, bps = 0, 2
    elif codec == "pcm_u8" and raw:
        base, bps = 0, 1
    elif codec == "wav" and (
        len(raw) > 44 and len(raw) % 2 == 0
        and raw[:4] == b"RIFF" and raw[12:16] == b"fmt "
        and raw[16:20] == b"\x10\x00\x00\x00" and raw[36:40] == b"data"
        and raw[40:44] == _struct.pack("<I", len(raw) - 44)
    ):
        base, bps = 44, 2
    elif codec in rules.FAKE_MAGIC and (
        len(raw) > 8 and len(raw) % 2 == 0
        and raw[:4] == rules.FAKE_MAGIC[codec]
        and raw[4:8] == _struct.pack("<I", len(raw) - 8)
    ):
        base, bps = 8, 2
    else:
        return []
    n = (len(raw) - base) // bps
    w, s = sr * win_ms // 1000, sr * stride_ms // 1000
    if w <= 0 or n < w:
        return []
    return [
        (k, k * s * 1000 // sr, raw[base + k * s * bps : base + (k * s + w) * bps])
        for k in range((n - w) // s + 1)
    ]


def test_clip_windows_fuzz_gates(spark):
    """Adversarial payloads (junk with real magics, truncated wavs, plen
    off-by-one, odd lengths, zero/weird rates): the engine's window set
    equals the replica's on every one — gates never mis-slice, junk never
    crashes, and emitted bytes are exact."""
    import random
    import struct as _struct

    from kneaddata_spark import rules
    from kneaddata_spark.operators.clipwindows import clip_windows

    rng = random.Random(99)
    rows = []
    for i in range(200):
        codec = rng.choice(["pcm_s16le", "pcm_u8", "wav", "flac", "opus", "mp3", "bogus"])
        sr = rng.choice([0, -1, 7, 8000, 16000, 44100])
        kind = rng.choice(["junk", "magic_junk", "valid_shape", "truncated", "plen_off"])
        body = bytes(rng.getrandbits(8) for _ in range(rng.randrange(0, 5000)))
        if kind == "junk":
            raw = body
        elif kind == "magic_junk":
            raw = (rules.FAKE_MAGIC.get(codec, b"RIFF")) + body
        elif kind == "valid_shape":
            payload = body if len(body) % 2 == 0 else body + b"\x00"
            if codec in rules.FAKE_MAGIC:
                raw = rules.FAKE_MAGIC[codec] + _struct.pack("<I", len(payload)) + payload
            elif codec == "wav":
                raw = (b"RIFF" + _struct.pack("<I", 36 + len(payload)) + b"WAVE"
                       + b"fmt " + b"\x10\x00\x00\x00" + bytes(16)
                       + b"data" + _struct.pack("<I", len(payload)) + payload)
            else:
                raw = payload
        elif kind == "truncated":
            raw = (rules.FAKE_MAGIC.get(codec, b"RIFF") + _struct.pack("<I", 1000) + body)
        else:  # plen_off
            payload = body + b"\x00" if len(body) % 2 else body
            raw = (rules.FAKE_MAGIC.get(codec, b"RIFF")
                   + _struct.pack("<I", max(len(payload) - 1, 0)) + payload)
        rows.append((f"f{i:03d}", raw, codec, sr))

    df = spark.createDataFrame(rows, "clip_id string, bytes binary, codec string, sr_hz int")
    got = {}
    for r in clip_windows(df, win_ms=100, stride_ms=60).collect():
        got.setdefault(r["clip_id"], []).append(
            (r["win_idx"], r["start_ms"], bytes(r["win_bytes"]))
        )
    want = {}
    for cid, raw, codec, sr in rows:
        segs = _clip_windows_replica(raw, codec, sr, 100, 60)
        if segs:
            want[cid] = segs
    got = {k: sorted(v) for k, v in got.items()}
    assert got == want
    assert len(want) > 5  # some valid shapes long enough to window


def test_ann_pq_topk_planted_retrieval(spark):
    """PQ ANN: planted exact duplicates are ALWAYS the top-1 retrieval
    (recon(q) is the global PQ-distance minimum — codebook-independent),
    the emitted cos is full-precision 1.0, and a non-divisible subspace
    split raises."""
    import numpy as np

    import pytest as _pytest

    from kneaddata_spark.operators.similarity import ann_pq_topk

    rng = np.random.default_rng(21)
    vecs = rng.normal(size=(60, 16)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(60)]
    rows += [(100000 + i, [float(x) for x in vecs[i]]) for i in range(8)]  # dups
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["query_id"]: (r["nbr_id"], r["rank"], r["cos"])
        for r in ann_pq_topk(
            df, df.where("vec_id >= 100000"), k=1, m_subspaces=4, n_codes=8
        ).collect()
    }
    for i in range(8):
        nbr, rank, cos = out[100000 + i]
        assert nbr == i and rank == 1 and abs(cos - 1.0) < 1e-9, (i, out[100000 + i])

    with _pytest.raises(ValueError):
        ann_pq_topk(df, df.limit(1), m_subspaces=5)


def test_ann_lsh_multiprobe_supersets_and_retrieves(spark):
    """Hamming-1 multiprobe: candidate pairs are a superset of the
    single-probe pairs, planted exact dups are still retrieved at rank 1
    (identical code -> identical home bucket), and multiprobe>1 raises."""
    import numpy as np

    import pytest as _pytest

    from kneaddata_spark.operators.similarity import ann_lsh_topk

    rng = np.random.default_rng(31)
    vecs = rng.normal(size=(50, 64)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(50)]
    rows += [(100000 + i, [float(x) for x in vecs[i]]) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where("vec_id >= 100000")
    single = {
        (r["query_id"], r["nbr_id"])
        for r in ann_lsh_topk(df, q, k=50).collect()
    }
    multi = {
        (r["query_id"], r["nbr_id"])
        for r in ann_lsh_topk(df, q, k=50, multiprobe=1).collect()
    }
    assert single <= multi and len(multi) > len(single)
    top1 = {
        r["query_id"]: r["nbr_id"]
        for r in ann_lsh_topk(df, q, k=1, multiprobe=1).collect()
    }
    assert top1 == {100000 + i: i for i in range(5)}
    with _pytest.raises(ValueError):
        ann_lsh_topk(df, q, multiprobe=2)


# --- sketches (HLL / CMS) + weighted reservoir + collocations ------------


def test_hll_distinct_accuracy_and_merge_identity(spark):
    """Accuracy within ~3 sigma (1.04/sqrt(256) ~ 6.5% per sigma) on a
    known-cardinality integer stream, AND the mergeable-register
    property: sketching two disjoint halves and max-merging their
    register tables yields the identical fold to sketching the union —
    the identity that makes per-shard sketches safe to combine."""
    from kneaddata_spark.operators.sketches import HLL_M, hll_distinct

    n = 5000
    df = spark.createDataFrame([(i, "g") for i in range(n)], ["k", "grp"])
    out = hll_distinct(df, "k", ["grp"]).collect()[0]
    assert abs(out["est_distinct"] - n) / n < 0.20
    assert out["seen_buckets"] <= HLL_M

    # merge identity: union of halves == whole (same registers, same fold)
    a = spark.createDataFrame([(i, "g") for i in range(0, n, 2)], ["k", "grp"])
    b = spark.createDataFrame([(i, "g") for i in range(1, n, 2)], ["k", "grp"])
    merged = hll_distinct(a.unionByName(b), "k", ["grp"]).collect()[0]
    assert merged["zsum"] == out["zsum"]
    assert merged["est_distinct"] == out["est_distinct"]


def test_cms_one_sided_error(spark):
    """CMS point estimates NEVER underestimate, and with 4x1024 counters
    on a 6k-distinct stream the top-20 overestimates stay small."""
    from pyspark.sql import functions as F

    from kneaddata_spark.operators.sketches import cms_build, cms_estimate, mix32

    # 6000 distinct keys, zipf-ish: key i appears 1 + 6000//(i+1) times
    rows = [(i, 1 + 6000 // (i + 1)) for i in range(6000)]
    base = spark.createDataFrame(rows, ["k", "n"])
    stream = base.select(F.explode(F.sequence(F.lit(1), "n")).alias("_"), "k")
    hashed = stream.select(mix32(F.col("k") % F.lit(1 << 32)).alias("__h32"), "k")
    sketch = cms_build(hashed, "__h32")
    probes = (
        hashed.groupBy("k")
        .agg(F.count("*").alias("n_exact"), F.min("__h32").alias("__h32"))
        .orderBy(F.col("n_exact").desc(), F.col("k").asc())
        .limit(20)
    )
    got = cms_estimate(sketch, probes, "__h32").collect()
    assert len(got) == 20
    total = sum(r["n_exact"] for r in got)
    for r in got:
        assert r["cms_est"] >= r["n_exact"]
        # theoretical: overflow per cell ~ N/w; be loose (10x) to stay
        # deterministic-but-robust
        assert r["cms_est"] - r["n_exact"] <= max(200, total)


def test_weighted_reservoir_matches_numpy_replica(spark):
    """Engine selection == independent numpy replication of the same
    min-hash-over-copies procedure (no Spark machinery), proving the
    operator computes the documented function — and the weight column
    rides through intact."""
    import numpy as np

    from kneaddata_spark.operators.sampling import KNUTH, M32
    from kneaddata_spark.operators.sampling import (
        weighted_reservoir_deterministic,
    )
    from kneaddata_spark.operators.sketches import MIX_K1, MIX_K2

    keys = list(range(1, 201))
    weights = [(k % 13) + 1 for k in keys]
    df = spark.createDataFrame(list(zip(keys, weights)), ["k", "w"])
    got = weighted_reservoir_deterministic(df, "k", "w", k=25).collect()

    def mix32_np(x):
        x = np.asarray(x, dtype=np.uint64)
        h1 = (x * np.uint64(MIX_K1)) % np.uint64(1 << 32)
        h2 = ((h1 ^ (h1 >> np.uint64(16))) * np.uint64(MIX_K2)) % np.uint64(1 << 32)
        return h2 ^ (h2 >> np.uint64(15))

    best = {}
    for k, w in zip(keys, weights):
        copies = np.arange(1, w + 1, dtype=np.uint64)
        h = mix32_np((np.uint64(k) * np.uint64(KNUTH) + copies * np.uint64(97)) % np.uint64(M32))
        best[k] = int(h.min())
    want = sorted(best.items(), key=lambda kv: (kv[1], kv[0]))[:25]
    assert [(r["k"], r["priority"]) for r in got] == [(k, p) for k, p in want]
    for r in got:
        assert r["weight"] == (r["k"] % 13) + 1


def test_weighted_reservoir_partitioning_invariant(spark):
    """Same selected set under a different input partitioning (the
    retry/reshuffle stability the docstring promises)."""
    from kneaddata_spark.operators.sampling import weighted_reservoir_deterministic

    df = spark.createDataFrame([(i, (i % 7) + 1) for i in range(300)], ["k", "w"])
    a = weighted_reservoir_deterministic(df.repartition(1), "k", "w", 30).collect()
    b = weighted_reservoir_deterministic(df.repartition(16, "w"), "k", "w", 30).collect()
    assert sorted((r["k"], r["priority"]) for r in a) == sorted(
        (r["k"], r["priority"]) for r in b
    )


def test_pmi_collocations_planted_pair(spark):
    """A rare-but-always-adjacent pair must out-score common bigrams, and
    the integer score must equal the hand-computed formula."""
    from kneaddata_spark.operators.textstats import pmi_collocations

    common = "the cat sat on the mat"
    docs = [(i, common) for i in range(40)] + [
        (100 + i, "zyx qwv " + common) for i in range(4)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = pmi_collocations(df, "text", min_count=3, k=10).collect()
    top = out[0]
    assert (top["w1"], top["w2"]) == ("zyx", "qwv")
    # N = 44*6 + 4*2 tokens; c_ab=4, c_a=c_b=4
    n_total = 44 * 6 + 4 * 2
    assert top["score_ppm"] == (4 * n_total * 1000000) // (4 * 4)


def test_hll_register_merge_api_equals_full_sketch(spark):
    """Persisted-register shape: 3 ingest batches sketched separately,
    max-merged, folded — identical output to sketching everything."""
    from kneaddata_spark.operators.sketches import (
        hll_distinct,
        hll_fold,
        hll_merge_registers,
        hll_registers,
    )

    rows = [(i * 7 % 4001, "g") for i in range(9000)]
    df = spark.createDataFrame(rows, ["k", "grp"])
    full = hll_distinct(df, "k", ["grp"]).collect()[0]
    parts = [df.where(f"k % 3 = {r}") for r in range(3)]
    regs = hll_registers(parts[0], "k", ["grp"])
    for p in parts[1:]:
        regs = hll_merge_registers(regs, hll_registers(p, "k", ["grp"]), ["grp"])
    merged = hll_fold(regs, ["grp"]).collect()[0]
    assert (merged["zsum"], merged["est_distinct"]) == (full["zsum"], full["est_distinct"])


def test_zorder_key_matches_python_interleave(spark):
    """Engine z-value == independent python bit-interleave."""
    from kneaddata_spark.operators.zonemap import zorder_key

    def interleave(a, b):
        z = 0
        for i in range(16):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    pts = [(a * 131 % 65536, a * 9176 % 65536) for a in range(200)]
    df = spark.createDataFrame(pts, ["a", "b"])
    got = df.select("a", "b", zorder_key(F.col("a"), F.col("b")).alias("z")).collect()
    for r in got:
        assert r["z"] == interleave(r["a"], r["b"])


def test_zorder_layout_tightens_file_ranges_on_both_dims(spark):
    """The layout claim, quantified: range-partitioning by the z-key
    yields per-file uid spans FAR tighter than a time-sorted layout
    (which leaves every file spanning the whole uid domain) AND per-file
    time spans far tighter than a uid-sorted layout — multi-dimension
    pruning no single-column sort provides."""
    from pyspark.sql import functions as F

    from kneaddata_spark.operators.zonemap import zorder_key

    n = 20000
    rows = [(i, (i * 131) % 1024, i % 1024) for i in range(n)]  # uid uniform, day sequential-ish
    df = spark.createDataFrame(rows, ["event_id", "uid", "day"])
    z = df.select("*", zorder_key(F.col("uid"), F.col("day"), bits=10).alias("zval"))

    def span_sums(frame, order_col):
        parts = (
            frame.repartitionByRange(8, F.col(order_col))
            .withColumn("__f", F.spark_partition_id())
            .groupBy("__f")
            .agg(
                (F.max("uid") - F.min("uid")).alias("uid_span"),
                (F.max("day") - F.min("day")).alias("day_span"),
            )
            .collect()
        )
        return sum(r["uid_span"] for r in parts), sum(r["day_span"] for r in parts)

    # range boundaries from the WHOLE input, not a sample: the sampler's
    # seed is the RDD id, so with sampled boundaries the spans (and the
    # z_uid/day_uid ratio, 0.57-0.61) shifted with however many RDDs
    # earlier tests had created
    key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        z_uid, z_day = span_sums(z, "zval")
        day_uid, _ = span_sums(z, "day")   # time-sorted layout
        _, uid_day = span_sums(z, "uid")   # uid-sorted layout
    finally:
        spark.conf.set(key, old)
    assert z_uid < 0.6 * day_uid
    assert z_day < 0.6 * uid_day


def test_mulaw_kernel_anchors_bound_and_idempotency():
    """G.711 anchors (0 -> 0xFF, -32768 -> 0x00, +32767 -> 0x80),
    per-sample segment error bound |x - rt| < 2^(exp+3), and code-level
    idempotency encode(decode(mu)) == mu for all codes except the
    negative-zero code 0x7F (which canonicalizes to 0xFF)."""
    import numpy as np

    from kneaddata_spark.operators.companding import mulaw_decode, mulaw_encode

    assert mulaw_encode(np.array([0], dtype=np.int16))[0] == 0xFF
    assert mulaw_encode(np.array([-32768], dtype=np.int16))[0] == 0x00
    assert mulaw_encode(np.array([32767], dtype=np.int16))[0] == 0x80

    x = np.arange(-32768, 32768, dtype=np.int16)
    mu = mulaw_encode(x)
    rt = mulaw_decode(mu)
    err = np.abs(x.astype(np.int64) - rt.astype(np.int64))
    exponent = ((~mu.astype(np.int32)) >> 4) & 0x07
    assert (err < (1 << (exponent + 3))).all()
    assert err.max() < 1024

    codes = np.arange(256, dtype=np.uint8)
    re = mulaw_encode(mulaw_decode(codes))
    neg_zero = codes == 0x7F
    assert (re[~neg_zero] == codes[~neg_zero]).all()
    assert mulaw_decode(np.array([0x7F], dtype=np.uint8))[0] == 0
    assert re[neg_zero][0] == 0xFF


def test_mulaw_transcode_replica(spark):
    """Engine witnesses == kernel replay over the independent oracle
    decode; 1 Arrow stage, no operator exchanges."""
    import re as _re
    import zlib as _zlib

    import numpy as np

    from kneaddata_spark.operators.companding import (
        g711_transcode,
        mulaw_decode,
        mulaw_encode,
    )
    from kneaddata_spark.oracle import decode_pcm
    from kneaddata_spark.synth import gen_clips_pdf

    pdf = gen_clips_pdf(60)
    df = spark.createDataFrame(pdf[["clip_id", "bytes", "codec"]]).repartition(4)
    res = g711_transcode(df, ("mulaw",))
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert _re.findall(r"Exchange \w+", plan) == ["Exchange RoundRobinPartitioning"]

    got = {r["clip_id"]: r for r in res.collect()}
    n_checked = 0
    for row in pdf.itertuples():
        f = decode_pcm(bytes(row.bytes), row.codec)
        if f is None or len(f) == 0:
            assert row.clip_id not in got
            continue
        if row.codec == "pcm_u8":
            x = (np.round(f * 128.0).astype(np.int64).astype(np.int16) * 256).astype(np.int16)
        else:
            x = np.round(f * 32768.0).astype(np.int64).clip(-32768, 32767).astype(np.int16)
        mu = mulaw_encode(x)
        rt = mulaw_decode(mu)
        err = np.abs(x.astype(np.int64) - rt.astype(np.int64))
        msx = int((x.astype(np.int64) ** 2).sum() // len(x))
        mse = int((err**2).sum() // len(x))
        g = got[row.clip_id]
        assert (
            g["n_samples"],
            g["crc_code"],
            g["crc_rt"],
            g["max_abs_err"],
            g["meansq_x"],
            g["snr_q"],
        ) == (
            len(x),
            _zlib.crc32(mu.tobytes()),
            _zlib.crc32(rt.astype("<i2").tobytes()),
            int(err.max()),
            msx,
            msx // max(mse, 1),
        )
        n_checked += 1
    assert n_checked > 30


def test_quantile_sketch_envelope_and_merge(spark):
    """The true quantile (numpy, type='inverted_cdf' semantics: smallest
    x with rank >= ceil(q*n)) lies INSIDE the emitted [lo, hi] bucket
    envelope for every (group, q); the envelope is <= 25% relative; and
    histogram counts merge by sum: sketching two halves and summing
    counts equals sketching the whole (checked via identical output)."""
    import numpy as np

    from kneaddata_spark.operators.sketches import quantile_sketch

    rng = [(g, int(v)) for g in ("a", "b") for v in
           (np.arange(1, 3001) ** (1.3 if g == "a" else 1.0)).astype(np.int64)]
    df = spark.createDataFrame(rng, ["grp", "v"])
    qs = [500, 900, 990]
    out = quantile_sketch(df, "v", ["grp"], qs).collect()
    assert len(out) == 2 * len(qs)
    vals = {g: np.sort(np.array([v for gg, v in rng if gg == g])) for g in ("a", "b")}
    for r in out:
        arr = vals[r["grp"]]
        target = -(-r["q_permille"] * len(arr) // 1000)  # ceil
        true_q = int(arr[target - 1])
        assert r["lo"] <= true_q <= r["hi"], (r, true_q)
        if r["lo"] >= 8:
            assert (r["hi"] - r["lo"] + 1) * 4 <= r["lo"] + 3  # <=25% envelope

    # merge-by-sum: halves' histograms sum to the whole (same output)
    h1 = quantile_sketch(df.where("v % 2 = 0"), "v", ["grp"], qs)
    whole = {(r["grp"], r["q_permille"]): (r["bucket"], r["n_le"]) for r in out}
    got_union = {
        (r["grp"], r["q_permille"]): (r["bucket"], r["n_le"])
        for r in quantile_sketch(
            df.where("v % 2 = 0").unionByName(df.where("v % 2 = 1")), "v", ["grp"], qs
        ).collect()
    }
    assert got_union == whole
    assert h1.count() == 2 * len(qs)


def test_hll_overlap_planted_sets(spark):
    """Inclusion-exclusion overlap estimates on planted sets with known
    intersections: A=[0,3000), B=[2000,5000) (|A∩B|=1000),
    C=[10000,13000) (disjoint from both). Estimates within the combined
    3-sketch error budget; disjoint pair near zero."""
    from kneaddata_spark.operators.sketches import hll_overlap

    rows = (
        [(i, "A") for i in range(0, 3000)]
        + [(i, "B") for i in range(2000, 5000)]
        + [(i, "C") for i in range(10000, 13000)]
    )
    df = spark.createDataFrame(rows, ["uid", "s"])
    got = {(r["set_a"], r["set_b"]): r for r in hll_overlap(df, "uid", "s").collect()}
    ab = got[("A", "B")]
    assert abs(ab["est_inter"] - 1000) < 600  # 3 estimates x ~6.5% of 3-5k
    for pair in (("A", "C"), ("B", "C")):
        assert got[pair]["est_inter"] < 600
    # union estimate sanity: |A u B| = 5000
    assert abs(ab["est_union"] - 5000) / 5000 < 0.20


def test_alaw_kernel_anchors_bound_and_idempotency():
    """A-law spec anchors (0 -> 0xD5, +max -> 0xAA, -max -> 0x2A),
    round-trip error bound, and code-level idempotency for ALL 256
    codes (the CCITT pair is exactly idempotent, unlike mu-law's
    negative-zero canonicalization)."""
    import numpy as np

    from kneaddata_spark.operators.companding import alaw_decode, alaw_encode

    assert alaw_encode(np.array([0], dtype=np.int16))[0] == 0xD5
    assert alaw_encode(np.array([32767], dtype=np.int16))[0] == 0xAA
    assert alaw_encode(np.array([-32768], dtype=np.int16))[0] == 0x2A

    x = np.arange(-32768, 32768, dtype=np.int16)
    rt = alaw_decode(alaw_encode(x))
    err = np.abs(x.astype(np.int64) - rt.astype(np.int64))
    assert err.max() <= 512

    codes = np.arange(256, dtype=np.uint8)
    assert (alaw_encode(alaw_decode(codes)) == codes).all()


def test_g711_transcode_both_laws_replica(spark):
    """g711_transcode emits both laws from one decode; per (clip, law)
    witnesses equal the kernel replay over the oracle decode; 1 Arrow
    stage."""
    import zlib as _zlib

    import numpy as np

    from kneaddata_spark.operators.companding import (
        alaw_decode,
        alaw_encode,
        g711_transcode,
        mulaw_decode,
        mulaw_encode,
    )
    from kneaddata_spark.oracle import decode_pcm
    from kneaddata_spark.synth import gen_clips_pdf

    pdf = gen_clips_pdf(40)
    df = spark.createDataFrame(pdf[["clip_id", "bytes", "codec"]]).repartition(4)
    res = g711_transcode(df)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1

    got = {(r["clip_id"], r["law"]): r for r in res.collect()}
    kernels = {"mulaw": (mulaw_encode, mulaw_decode), "alaw": (alaw_encode, alaw_decode)}
    n_checked = 0
    for row in pdf.itertuples():
        f = decode_pcm(bytes(row.bytes), row.codec)
        if f is None or len(f) == 0:
            continue
        if row.codec == "pcm_u8":
            x = (np.round(f * 128.0).astype(np.int64).astype(np.int16) * 256).astype(np.int16)
        else:
            x = np.round(f * 32768.0).astype(np.int64).clip(-32768, 32767).astype(np.int16)
        for law, (enc, dec) in kernels.items():
            code = enc(x)
            rt = dec(code)
            g = got[(row.clip_id, law)]
            assert g["crc_code"] == _zlib.crc32(code.tobytes())
            assert g["crc_rt"] == _zlib.crc32(rt.astype("<i2").tobytes())
            n_checked += 1
    assert n_checked > 40


def test_funnel_steps_hand_case(spark):
    """Hand-enumerable funnel: interleaved events count (subsequence
    semantics), wrong-order does not, ties broken by event id."""
    from kneaddata_spark.operators.temporal import funnel_steps

    rows = [
        # u1: full funnel with interleave -> reaches 3
        (1, 1, 10, "view"), (1, 2, 20, "error"), (1, 3, 30, "click"),
        (1, 4, 40, "signup"), (1, 5, 50, "purchase"),
        # u2: purchase BEFORE click -> reaches only 'view' + later click = 2
        (2, 6, 10, "view"), (2, 7, 20, "purchase"), (2, 8, 30, "click"),
        # u3: no view -> 0
        (3, 9, 10, "click"), (3, 10, 20, "purchase"),
        # u4: view only -> 1
        (4, 11, 10, "view"),
    ]
    import datetime

    df = spark.createDataFrame(
        [(u, e, datetime.datetime(2024, 1, 1, 0, 0, t), ty) for u, e, t, ty in rows],
        ["user_id", "event_id", "ts", "event_type"],
    )
    got = {r["step_idx"]: (r["step"], r["n_users"]) for r in
           funnel_steps(df, ["view", "click", "purchase"]).collect()}
    assert got == {1: ("view", 3), 2: ("click", 2), 3: ("purchase", 1)}


def test_mojibake_screen_detects_and_repairs(spark):
    import hashlib

    from kneaddata_spark import rules
    from kneaddata_spark.operators.mojibake import mojibake_screen

    rows = [
        (1, "cafÃ© naÃ¯ve?"),                      # Ã© -> é (one artifact)
        (2, "itâ€™s â€œfineâ€“ish Â» ok Â\xa0end"),  # 5 artifacts
        (3, "plain ascii text"),                   # clean
        (4, "Ã¡Ã¡Ã¡"),                             # repeated artifact
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in mojibake_screen(df, "doc_id", "text").collect()}

    def repair(t):
        for a, b in rules.MOJIBAKE_MAP:
            t = t.replace(a, b)
        return t

    for doc_id, text in rows:
        r = got[doc_id]
        fixed = repair(text)
        n = sum(text.count(a) for a, _ in rules.MOJIBAKE_MAP)
        assert r["n_mojibake"] == n
        assert r["len_raw"] == len(text) and r["len_fixed"] == len(fixed)
        assert r["fixed_md5"] == hashlib.md5(fixed.encode()).hexdigest()
        assert r["is_mojibake"] == (1 if n else 0)
    assert got[1]["n_mojibake"] == 1          # Ã¯ is NOT in the map; only Ã©
    assert got[2]["n_mojibake"] == 5          # â€™ â€œ â€“ Â» Â+nbsp
    assert got[3]["n_mojibake"] == 0 and got[3]["len_raw"] == got[3]["len_fixed"]
    assert got[4]["n_mojibake"] == 3

    # idempotence: repaired text has no artifacts left
    fixed_df = spark.createDataFrame(
        [(i, repair(t)) for i, t in rows], ["doc_id", "text"]
    )
    again = {r["doc_id"]: r for r in mojibake_screen(fixed_df, "doc_id", "text").collect()}
    assert all(r["n_mojibake"] == 0 for r in again.values())

    # shuffle-free, python-free plan
    plan = (
        mojibake_screen(df, "doc_id", "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "EvalPython" not in plan


# ------------------------------------------------- distinctive terms ----


def test_distinctive_terms_planted_and_replica(spark):
    """A token concentrated in one group tops that group's list; values
    match a python replica of the integer-lift formula; ties break
    deterministically (lift desc, count desc, token asc)."""
    import re
    from collections import Counter

    from kneaddata_spark.operators.textstats import distinctive_terms
    from tools.audit_plans import plan_of

    rows = []
    for i in range(40):
        common = "the quick brown fox jumps over the lazy dog"
        rows.append((i, f"legalese hereinafter {common}" if i % 2 == 0 else common, "A" if i % 2 == 0 else "B"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = distinctive_terms(df, "text", "source", min_count=5, k=10).collect()

    # python replica
    per_g = Counter()
    per_gt = Counter()
    per_t = Counter()
    for _, text, g in rows:
        for tok in text.lower().strip().split(" "):
            if tok:
                per_gt[(g, tok)] += 1
                per_g[g] += 1
                per_t[tok] += 1
    N = sum(per_g.values())
    exp = {}
    for (g, tok), c in per_gt.items():
        if c < 5:
            continue
        inp = 1000 * c // per_g[g]
        rest = 1000 * (per_t[tok] - c) // max(N - per_g[g], 1)
        if inp > rest:
            exp[(g, tok)] = (c, inp, rest, 1000 * inp // max(rest, 1))
    ranked = {}
    for g in set(x for x, _ in exp):
        items = sorted(
            ((v[3], v[0], t) for (gg, t), v in exp.items() if gg == g),
            key=lambda x: (-x[0], -x[1], x[2]),
        )[:10]
        ranked[g] = [(t, i + 1) for i, (_, _, t) in enumerate(items)]

    got = {}
    for r in out:
        assert (r["source"], r["token"]) in exp
        c, inp, rest, lift = exp[(r["source"], r["token"])]
        assert (r["n_in"], r["in_permille"], r["rest_permille"], r["lift_permille"]) == (
            c, inp, rest, lift
        )
        got.setdefault(r["source"], []).append((r["token"], r["rk"]))
    for g, items in ranked.items():
        assert sorted(got.get(g, [])) == sorted(items), g

    # planted group-A tokens dominate A's list
    a_toks = [t for t, rk in got["A"] if rk <= 2]
    assert set(a_toks) <= {"legalese", "hereinafter"}

    # plan: no global (empty-key) window
    p = plan_of(distinctive_terms(df, "text", "source"))
    for line in p.splitlines():
        if "Window" in line and "partitionBy" not in line:
            assert not re.search(r"windowspecdefinition\(\s*(lift|token)", line)


# ------------------------------------------------- cohort retention ----


def test_cohort_retention_hand_grid(spark):
    """Hand-built event stream with a known retention grid; multiple
    events in a week count once; second cohort independent."""
    import datetime as dt

    from kneaddata_spark.operators.temporal import cohort_retention

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    # cohort week 0: u1 weeks {0,1,2}, u2 {0,2}, u3 {0}
    for u, weeks in ((1, [0, 1, 2]), (2, [0, 2]), (3, [0])):
        for wk in weeks:
            rows.append((u, base + dt.timedelta(days=7 * wk)))
            rows.append((u, base + dt.timedelta(days=7 * wk, hours=3)))  # dup in week
    # cohort week 2: u4 {2,3}
    for wk in (2, 3):
        rows.append((4, base + dt.timedelta(days=14 + 7 * (wk - 2))))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r["cohort_week"], r["offset_weeks"]): (
            r["n_users"], r["cohort_size"], r["retained_permille"]
        )
        for r in cohort_retention(df).collect()
    }
    assert got == {
        (0, 0): (3, 3, 1000),
        (0, 1): (1, 3, 333),
        (0, 2): (2, 3, 666),
        (2, 0): (1, 1, 1000),
        (2, 1): (1, 1, 1000),
    }


# ------------------------------------------------- token diversity -----


def test_token_diversity_replica_and_plan(spark):
    """TTR / Simpson / hapax match a python replica of the integer
    formulas; degenerate docs (empty, single-token) hit the null
    contracts; plan is shuffle-free and python-free."""
    from collections import Counter

    from kneaddata_spark.operators.textstats import token_diversity

    rows = [
        (1, "a a a b b c"),
        (2, "each token here is unique truly"),
        (3, "x"),
        (4, "   "),
        (5, "The the THE"),
        (6, "w w w w w w w w"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in token_diversity(df, "doc_id", "text").collect()}

    for doc_id, text in rows:
        toks = [t for t in text.lower().strip().split(" ") if t]
        c = Counter(toks)
        n, nt = len(toks), len(c)
        r = got[doc_id]
        assert (r["n_tokens"], r["n_types"]) == (n, nt)
        assert r["ttr_permille"] == (1000 * nt // n if n > 0 else None)
        s = sum(v * (v - 1) for v in c.values())
        assert r["simpson_ppm"] == (
            10**6 * s // (n * (n - 1)) if n >= 2 else None
        )
        hap = sum(1 for v in c.values() if v == 1)
        assert r["hapax_permille"] == (1000 * hap // nt if nt > 0 else None)

    # all-unique doc: TTR 1000, Simpson 0, hapax 1000
    assert (got[2]["ttr_permille"], got[2]["simpson_ppm"], got[2]["hapax_permille"]) == (
        1000, 0, 1000
    )
    # single repeated token: Simpson 10^6, hapax 0
    assert (got[6]["simpson_ppm"], got[6]["hapax_permille"]) == (10**6, 0)

    plan = (
        token_diversity(df, "doc_id", "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_source_dup_stats_replica(spark):
    """Per-source duplication card matches a hand-computed grid:
    internal copies and cross-source shared text counted per provider."""
    from kneaddata_spark.operators.textstats import source_dup_stats

    rows = (
        [(i, "shared body", "A") for i in range(3)]        # 3 copies, shared
        + [(10, "a only", "A"), (11, "a only", "A")]       # internal dup, A-only
        + [(20, "shared body", "B")]                        # B's copy of shared
        + [(21, "b unique 1", "B"), (22, "b unique 2", "B")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["source"]: r for r in source_dup_stats(df, "text", "source").collect()}

    a, b = got["A"], got["B"]
    # A: 5 docs over 2 texts -> 600 permille dup; 3 shared docs -> 600
    assert (a["n_docs"], a["n_texts"], a["dup_permille"]) == (5, 2, 600)
    assert (a["n_shared_docs"], a["shared_permille"]) == (3, 600)
    # B: 3 docs, 3 texts -> 0 dup; 1 shared doc -> 333
    assert (b["n_docs"], b["n_texts"], b["dup_permille"]) == (3, 3, 0)
    assert (b["n_shared_docs"], b["shared_permille"]) == (1, 333)


# ------------------------------------------------- reverb screen -------


def _reverb_replica(x, sr):
    """Per-sample python-int walk of the rules.py decay-tail spec."""
    from kneaddata_spark import rules

    fl = sr * rules.REVERB_FRAME_MS // 1000
    if fl <= 0 or len(x) < fl:
        return ("short", 0, None, None, None, None)
    n_f = len(x) // fl
    e = []
    for j in range(n_f):
        s = 0
        for k in range(j * fl, (j + 1) * fl):
            s += int(x[k]) * int(x[k])
        e.append(s)
    peak = max(e)
    if peak == 0:
        return ("silent", n_f, None, None, None, None)
    ta = max(peak // rules.REVERB_ACTIVE_DIV, 1)
    last = max(j for j in range(n_f) if e[j] >= ta)
    tail = e[last:]
    th = tail and sum(tail) // rules.REVERB_T20_DIV
    t20 = None
    for k in range(len(tail)):
        if sum(tail[k:]) <= th:
            t20 = k
            break
    if t20 is None:
        return ("truncated", n_f, last, len(tail), None, None)
    return ("ok", n_f, last, len(tail), t20, 3 * t20 * rules.REVERB_FRAME_MS)


def test_reverb_kernel_planted_tail_and_edges():
    """Planted exponential tail resolves to ~6.91*tau (the physical
    RT60); dry/steady/silent/short hit their statuses; every case is
    bit-equal to the per-sample python replica."""
    import numpy as np

    from kneaddata_spark import rules
    from kneaddata_spark.operators.reverb import reverb_of

    sr = 16000
    rng = np.random.default_rng(7)

    # burst 0.3 s at amplitude 8000, then exponential tail tau = 0.1 s:
    # physical RT60 = 6.91 * tau = 691 ms; T20 extrapolation should land
    # within one frame's granularity on each side.
    tau = 0.1
    n_b, n_t = int(0.3 * sr), int(1.2 * sr)
    burst = rng.uniform(-1, 1, n_b) * 8000
    t = np.arange(n_t) / sr
    tail = rng.uniform(-1, 1, n_t) * 8000 * np.exp(-t / tau)
    x = np.round(np.concatenate([burst, tail])).astype(np.int16)
    st, n_f, last, tf, t20, rt = reverb_of(x, sr)
    assert st == "ok" and 550 <= rt <= 850, (st, rt)
    assert rt >= rules.REVERB_MAX_RT60_MS  # this clip is reverberant

    # dry: same burst, digital-silence tail -> decay resolves immediately
    dry = np.concatenate([burst, np.zeros(n_t)]).round().astype(np.int16)
    st_d, _, _, _, t20_d, rt_d = reverb_of(dry, sr)
    assert st_d == "ok" and rt_d < rules.REVERB_MAX_RT60_MS and t20_d <= 2

    # steady tone to the last sample: decay unobservable -> truncated
    tone = np.round(
        12000 * np.sin(2 * np.pi * 440 * np.arange(sr) / sr)
    ).astype(np.int16)
    assert reverb_of(tone, sr)[0] == "truncated"

    assert reverb_of(np.zeros(sr, dtype=np.int16), sr)[0] == "silent"
    fl = sr * rules.REVERB_FRAME_MS // 1000
    assert reverb_of(tone[: fl - 1], sr)[0] == "short"

    for sig in [x, dry, tone, np.zeros(sr, dtype=np.int16), tone[: fl - 1]]:
        assert reverb_of(sig, sr) == _reverb_replica(sig, sr)


def test_reverb_screen_matches_replica_and_plan(spark):
    import re

    import numpy as np

    from kneaddata_spark import oracle, rules
    from kneaddata_spark.operators.reverb import reverb_screen
    from kneaddata_spark.synth import clips_spark_df, gen_clip
    from tools.audit_plans import plan_of

    n = 120
    got = {
        r["clip_id"]: r.asDict()
        for r in reverb_screen(clips_spark_df(spark, n, n_partitions=4)).collect()
    }
    n_checked = 0
    statuses = set()
    for i in range(n):
        c = gen_clip(i)
        f = oracle.decode_pcm(c["bytes"], c["codec"])
        if f is None or len(f) == 0 or c["sr_hz"] <= 0:
            assert c["clip_id"] not in got
            continue
        x = (f.astype(np.float64) * 32768.0).astype(np.int64)
        st, n_f, last, tf, t20, rt = _reverb_replica(x, c["sr_hz"])
        r = got[c["clip_id"]]
        assert (
            r["status"], r["n_frames"], r["last_active_frame"],
            r["tail_frames"], r["t20_frames"], r["rt60_ms"],
        ) == (st, n_f, last, tf, t20, rt), c["clip_id"]
        det = st == "ok" and rt >= rules.REVERB_MAX_RT60_MS
        assert (r["reverb_detected"], r["keep"]) == (det, not det)
        statuses.add(st)
        n_checked += 1
    assert n_checked > 60 and "ok" in statuses

    p = plan_of(reverb_screen(clips_spark_df(spark, 50, n_partitions=2)))
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", p)) == 1
    assert "BatchEvalPython" not in p
    assert not re.findall(r"\(\d+\) Exchange\b", p)


# ------------------------------------------------- dynamic range -------


def _dr_replica(x, sr):
    """Per-sample python-int walk of the rules.py loudness-range spec."""
    from kneaddata_spark import rules

    fl = sr * rules.DR_FRAME_MS // 1000
    if fl <= 0 or len(x) < fl:
        return ("short", 0, 0, None, None, None)
    n_f = len(x) // fl
    e = []
    for j in range(n_f):
        s = 0
        for k in range(j * fl, (j + 1) * fl):
            s += int(x[k]) * int(x[k])
        e.append(s)
    peak = max(e)
    if peak == 0:
        return ("silent", n_f, 0, None, None, None)
    act = sorted(v for v in e if v >= max(peak // rules.DR_GATE_DIV, 1))
    n_a = len(act)
    if n_a < rules.DR_MIN_FRAMES:
        return ("short", n_f, n_a, None, None, None)
    p10 = act[(n_a - 1) * 10 // 100]
    p95 = act[(n_a - 1) * 95 // 100]
    return ("ok", n_f, n_a, p10, p95, p10 * 1000 // p95)


def test_dynrange_kernel_planted_and_edges():
    """Brick-walled constant-envelope audio scores ~1000 permille and is
    flagged compressed; naturally dynamic (amplitude-modulated) audio
    scores low; leading silence cannot fake dynamics (the gate); every
    case is bit-equal to the per-sample python replica."""
    import numpy as np

    from kneaddata_spark import rules
    from kneaddata_spark.operators.dynrange import dr_of

    sr = 16000
    rng = np.random.default_rng(11)
    n = 2 * sr

    # brick-walled: constant-envelope noise
    flat = np.round(rng.uniform(-1, 1, n) * 12000).astype(np.int16)
    st, n_f, n_a, p10, p95, ratio = dr_of(flat, sr)
    assert st == "ok" and ratio >= rules.DR_COMPRESSED_MIN_PERMILLE

    # naturally dynamic: 2 Hz amplitude modulation sweeps the envelope
    # through >20 dB -> p10 far below p95
    t = np.arange(n) / sr
    env = 0.05 + 0.95 * (0.5 + 0.5 * np.sin(2 * np.pi * 2 * t)) ** 2
    dyn = np.round(rng.uniform(-1, 1, n) * 12000 * env).astype(np.int16)
    st_d, _, _, _, _, ratio_d = dr_of(dyn, sr)
    assert st_d == "ok" and ratio_d < rules.DR_COMPRESSED_MIN_PERMILLE

    # leading silence + compressed body: the gate drops silent frames,
    # verdict stays compressed
    padded = np.concatenate([np.zeros(sr, dtype=np.int16), flat])
    st_p, _, n_a_p, _, _, ratio_p = dr_of(padded, sr)
    assert st_p == "ok" and ratio_p >= rules.DR_COMPRESSED_MIN_PERMILLE
    assert n_a_p < len(padded) // (sr * rules.DR_FRAME_MS // 1000)

    assert dr_of(np.zeros(sr, dtype=np.int16), sr)[0] == "silent"
    fl = sr * rules.DR_FRAME_MS // 1000
    assert dr_of(flat[: fl - 1], sr)[0] == "short"
    # fewer active frames than DR_MIN_FRAMES -> short
    tiny = flat[: fl * (rules.DR_MIN_FRAMES - 1)]
    assert dr_of(tiny, sr)[0] == "short"

    for sig in [flat, dyn, padded, np.zeros(sr, dtype=np.int16), tiny]:
        assert dr_of(sig, sr) == _dr_replica(sig, sr)


def test_dynrange_screen_matches_replica_and_plan(spark):
    import re

    import numpy as np

    from kneaddata_spark import oracle, rules
    from kneaddata_spark.operators.dynrange import dynrange_screen
    from kneaddata_spark.synth import clips_spark_df, gen_clip
    from tools.audit_plans import plan_of

    n = 120
    got = {
        r["clip_id"]: r.asDict()
        for r in dynrange_screen(clips_spark_df(spark, n, n_partitions=4)).collect()
    }
    n_checked = 0
    statuses = set()
    for i in range(n):
        c = gen_clip(i)
        f = oracle.decode_pcm(c["bytes"], c["codec"])
        if f is None or len(f) == 0 or c["sr_hz"] <= 0:
            assert c["clip_id"] not in got
            continue
        x = (f.astype(np.float64) * 32768.0).astype(np.int64)
        st, n_f, n_a, p10, p95, ratio = _dr_replica(x, c["sr_hz"])
        r = got[c["clip_id"]]
        assert (
            r["status"], r["n_frames"], r["n_active"],
            r["p10_energy"], r["p95_energy"], r["dr_ratio_permille"],
        ) == (st, n_f, n_a, p10, p95, ratio), c["clip_id"]
        comp = st == "ok" and ratio >= rules.DR_COMPRESSED_MIN_PERMILLE
        assert (r["compressed"], r["keep"]) == (comp, not comp)
        statuses.add(st)
        n_checked += 1
    assert n_checked > 60 and "ok" in statuses

    p = plan_of(dynrange_screen(clips_spark_df(spark, 50, n_partitions=2)))
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", p)) == 1
    assert "BatchEvalPython" not in p
    assert not re.findall(r"\(\d+\) Exchange\b", p)


# ------------------------------------------- source concentration ------


def test_source_concentration_hand_grid(spark):
    """HHI and top-source match hand-computed values; monoculture scores
    10^6 ppm; ties break to the lexicographically smallest source."""
    from kneaddata_spark.operators.textstats import source_concentration

    rows = (
        [(i, "en", "web") for i in range(6)]        # en: web 6
        + [(10, "en", "books"), (11, "en", "books")]  # en: books 2
        + [(12, "en", "wiki"), (13, "en", "wiki")]    # en: wiki 2 (tie w/ books)
        + [(20, "fr", "web"), (21, "fr", "web")]      # fr: monoculture
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string, source string")
    got = {r["lang"]: r.asDict() for r in source_concentration(df, "lang", "source").collect()}

    en = got["en"]
    # en: N=10, shares 6/2/2 -> hhi = (36+4+4)*1e6 // 100 = 440000
    assert (en["n_docs"], en["n_sources"], en["hhi_ppm"]) == (10, 3, 440000)
    assert (en["top_source"], en["top_share_permille"]) == ("web", 600)
    fr = got["fr"]
    assert (fr["hhi_ppm"], fr["top_source"], fr["top_share_permille"]) == (
        10**6, "web", 1000
    )

    # tie on top: two sources at 2 -> drop web, books wins over wiki
    df2 = spark.createDataFrame(rows[6:10], "doc_id long, lang string, source string")
    t = source_concentration(df2, "lang", "source").collect()[0]
    assert (t["top_source"], t["top_share_permille"], t["hhi_ppm"]) == (
        "books", 500, 500000
    )


def test_embedding_health_hand_grid(spark):
    """Zero vectors, exact duplicates and mixed dims are counted right;
    NaN elements never count as zero."""
    from kneaddata_spark.operators.similarity import embedding_health

    rows = [
        (1, [1.0, 2.0]),
        (2, [1.0, 2.0]),        # dup of 1
        (3, [0.0, 0.0]),        # zero
        (4, [0.0, 0.0]),        # zero AND dup of 3
        (5, [3.0, 4.0]),
        (6, [float("nan"), 0.0]),  # NaN -> not zero
        (7, [1.0, 2.0, 3.0]),   # different dim
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["dim"]: r.asDict() for r in embedding_health(df).collect()}

    d2 = got[2]
    assert (d2["n_vecs"], d2["n_distinct"], d2["n_zero"]) == (6, 4, 2)
    assert (d2["n_dup_vecs"], d2["dup_permille"]) == (4, 666)
    d3 = got[3]
    assert (d3["n_vecs"], d3["n_distinct"], d3["n_zero"], d3["n_dup_vecs"]) == (
        1, 1, 0, 0
    )


def test_semantic_decontaminate_replica_and_plan(spark):
    """similarity.semantic_decontaminate vs a numpy brute-force replica on
    perturbed vectors: planted exact copies flag at cos~1.0, a scaled copy
    flags too (cosine is scale-invariant), near-misses below threshold do
    not, and the best-match tiebreak is (max cos, min bench_id). The plan
    must broadcast the benchmark side (no corpus-side shuffle)."""
    import numpy as np

    from kneaddata_spark.operators import similarity

    rng = np.random.RandomState(7)
    V = rng.randn(60, 16).astype(np.float32)
    corpus = [(i, [float(x) for x in V[i]]) for i in range(60)]
    # bench: exact copy of 3, scaled copy of 4, noisy copy of 5, random
    bench_vecs = {
        900: V[3],
        901: (V[4] * 2.5),
        902: V[5] + rng.randn(16).astype(np.float32) * 2.0,
        903: rng.randn(16).astype(np.float32),
    }
    bench = [(k, [float(x) for x in v]) for k, v in bench_vecs.items()]
    schema = "vec_id long, embedding array<float>"
    got = {
        (r["vec_id"], r["bench_id"])
        for r in similarity.semantic_decontaminate(
            spark.createDataFrame(corpus, schema),
            spark.createDataFrame(bench, schema),
            threshold=0.99,
        ).collect()
    }
    # numpy replica: same double math
    want = set()
    for i in range(60):
        best = None
        for k in sorted(bench_vecs):
            a = V[i].astype(np.float64)
            b = bench_vecs[k].astype(np.float64)
            cos = float(a @ b) / (np.sqrt(a @ a) * np.sqrt(b @ b))
            if cos >= 0.99 and (best is None or cos > best[1]):
                best = (k, cos)
        if best:
            want.add((i, best[0]))
    assert got == want == {(3, 900), (4, 901)}
    plan = (
        similarity.semantic_decontaminate(
            spark.createDataFrame(corpus, schema),
            spark.createDataFrame(bench, schema),
            threshold=0.99,
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" in plan


def test_boilerplate_screen_hand_grid(spark):
    """textstats.boilerplate_screen on a hand grid: a template opening 2/5
    of srcA's docs (400 permille) flags those docs; the same prefix in
    srcB at 1/5 (200 permille) stays under a 300 threshold; short docs
    (<n_words) never match; hot-list joins are broadcast."""
    from kneaddata_spark.operators import textstats

    rows = [
        (0, "srcA", "click here now body zero"),
        (1, "srcA", "click here now body one"),
        (2, "srcA", "organic text body two"),
        (3, "srcA", "another organic doc three"),
        (4, "srcA", "fifth doc entirely distinct"),
        (10, "srcB", "click here now body ten"),
        (11, "srcB", "srcB organic body eleven"),
        (12, "srcB", "srcB second organic twelve"),
        (13, "srcB", "srcB third organic thirteen"),
        (14, "srcB", "tiny"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = textstats.boilerplate_screen(
        d, "doc_id", "text", "source", n_words=3, min_permille=300
    )
    got = {(r["doc_id"], r["prefix"], r["df_permille"]) for r in out.collect()}
    assert got == {
        (0, "click here now", 400),
        (1, "click here now", 400),
    }
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_embedding_drift_negative_means_floor_semantics(spark):
    """embedding_drift on a hand grid with NEGATIVE per-dim means: the
    +2^23 offset must yield true floor division (Spark div truncates
    toward zero — without the offset, dim sums of -3/2 would disagree
    with the DuckDB oracle's floor), and delta_micro/drifted must equal
    an exact python integer replica."""
    import math

    from kneaddata_spark.operators import similarity

    A = [[-1.5, 0.25], [-0.25, 0.75], [-1.0, 0.5]]
    B = [[-1.5, 0.25], [-0.25, 0.75]]
    da = spark.createDataFrame(
        [(i, v) for i, v in enumerate(A)], "vec_id long, embedding array<float>"
    )
    db = spark.createDataFrame(
        [(i, v) for i, v in enumerate(B)], "vec_id long, embedding array<float>"
    )
    got = {
        r["dim"]: (r["n_a"], r["n_b"], r["mean_a_q"], r["mean_b_q"],
                   r["delta_micro"], r["drifted"])
        for r in similarity.embedding_drift(da, db, quant=1 << 20,
                                            min_delta_micro=50_000).collect()
    }
    Q, OFF = 1 << 20, 1 << 23
    want = {}
    for dim in range(2):
        sa = [math.floor(float(str(v[dim])) * Q) for v in A]  # float32 round-trip
        sb = [math.floor(float(str(v[dim])) * Q) for v in B]
        ma = (sum(x + OFF for x in sa)) // len(sa) - OFF
        mb = (sum(x + OFF for x in sb)) // len(sb) - OFF
        delta = abs(ma - mb) * 1_000_000 // Q
        want[dim] = (len(sa), len(sb), ma, mb, delta, 1 if delta >= 50_000 else 0)
    assert got == want
    # dim 0: means -11/12 vs -7/8 -> floor matters (negative values)
    assert got[0][2] < 0 and got[0][3] < 0


def test_embedding_pca_replica_and_planted_axis(spark):
    """embedding_pca_fit vs a full numpy replica over the SAME quantized
    moments (exact-integer Gram -> identical covariance -> same eigh),
    on data with a planted principal axis; pca_project must be
    bit-identical to an in-order python float64 fold using the engine's
    own components."""
    import numpy as np

    from kneaddata_spark.operators import similarity

    rng = np.random.RandomState(11)
    u = np.array([3.0, 1.0, -2.0, 0.5, 0.0, 1.5]) / np.sqrt(16.5)
    X = (rng.randn(200, 1) * 2.0) @ u[None, :] + rng.randn(200, 6) * 0.05
    X = X.astype(np.float32)
    d = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    comps, eigvals, mean, n, total_var = similarity.embedding_pca_fit(
        d, k=2, quant=1 << 20
    )
    # numpy replica: exact python-int moments over the same quantization
    Q = np.floor(X.astype(np.float64) * (1 << 20)).astype(object)
    G = np.zeros((6, 6), dtype=object)
    for r in Q:
        G += np.outer(r, r)
    S = Q.sum(axis=0)
    Gf = G.astype(np.float64) / 200
    mq = S.astype(np.float64) / 200
    cov = (Gf - np.outer(mq, mq)) / float(1 << 20) ** 2
    w, V = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:2]
    rcomps = V[:, order].T.copy()
    for i in range(2):
        j = int(np.argmax(np.abs(rcomps[i])))
        if rcomps[i, j] < 0:
            rcomps[i] = -rcomps[i]
    assert n == 200
    assert np.allclose(comps, rcomps) and np.allclose(eigvals, w[order][:2])
    assert abs(total_var - w.sum()) < 1e-12
    assert abs(float(np.dot(comps[0], u))) > 0.999  # planted axis recovered
    assert eigvals[0] > 50 * eigvals[1]
    # projection: engine == in-order float64 fold with the engine's basis
    got = {
        r["vec_id"]: list(r["proj"])
        for r in similarity.pca_project(d, comps, mean).collect()
    }
    for i in range(200):
        for c in range(2):
            s = 0.0
            for a, mn, cc in zip(X[i], mean, comps[c]):
                s = s + (float(a) - mn) * cc
            assert got[i][c] == s, (i, c)


def test_readability_score_hand_docs(spark):
    """textstats.readability_score on hand-built docs: known Flesch
    values (exact integer replica), sentence floor at 1 for unpunctuated
    text, empty-doc verdict, and the 90/70/50/30 bucket edges."""
    rows = [
        (0, "The cat sat."),                       # 3 words, 1 sent, 3 syll
        (1, "no punctuation here at all"),         # 5 words, sent floor 1
        (2, ""),                                   # empty
        (3, "Incomprehensibility characterizes bureaucratization. Yes."),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    from kneaddata_spark.operators import textstats

    got = {r["doc_id"]: r.asDict() for r in
           textstats.readability_score(d, "doc_id", "text").collect()}

    def replica(text):
        import re
        tw = text.strip()
        W = 0 if not tw else len(re.split(r"\s+", tw))
        S = max(1, len(re.findall(r"[.!?]+", text)))
        Y = len(re.findall(r"[aeiouy]+", text.lower()))
        if W == 0:
            return (W, S, Y, None, None, "empty")
        fre = 206835 - (1015 * W) // S - (84600 * Y) // W
        fkg = (390 * W) // S + (11800 * Y) // W - 15590
        v = ("very_easy" if fre >= 90000 else "easy" if fre >= 70000 else
             "medium" if fre >= 50000 else "difficult" if fre >= 30000
             else "very_difficult")
        return (W, S, Y, fre, fkg, v)

    for i, text in rows:
        W, S, Y, fre, fkg, v = replica(text)
        g = got[i]
        assert (g["n_words"], g["n_sentences"], g["n_syllables"]) == (W, S, Y), i
        assert (g["fre_milli"], g["fkg_milli"], g["readability"]) == (fre, fkg, v), i
    assert got[0]["readability"] == "very_easy"
    assert got[3]["readability"] == "very_difficult"
    assert got[2]["readability"] == "empty" and got[2]["fre_milli"] is None


def test_chunk_overlap_hand_doc(spark):
    """corpus.chunk_overlap on a hand doc: start grid 0/stride/2*stride,
    end clamp, overlap content, empty-doc emits nothing, bad params
    raise."""
    import pytest

    from kneaddata_spark.operators.corpus import chunk_overlap

    d = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, ""), (3, "   "), (4, "x")],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["chunk_id"]): (r["start_tok"], r["n_in_chunk"], r["chunk_text"])
        for r in chunk_overlap(d, "doc_id", "text", chunk_tokens=4, stride=3).collect()
    }
    assert got == {
        (1, 0): (0, 4, "a b c d"),
        (1, 1): (3, 4, "d e f g"),
        (1, 2): (6, 4, "g h i j"),
        (1, 3): (9, 1, "j"),
        (4, 0): (0, 1, "x"),
    }
    with pytest.raises(ValueError):
        chunk_overlap(d, "doc_id", "text", chunk_tokens=0)


def test_truncation_report_hand_grid(spark):
    """corpus.truncation_report: exact integer replica on a hand grid
    including an empty doc (counts as 0 tokens, never divides by zero
    within a non-empty group)."""
    from kneaddata_spark.operators.corpus import truncation_report

    rows = [
        ("en", "one two three four five"),  # 5 toks
        ("en", "one two"),  # 2
        ("en", ""),  # 0
        ("de", " ".join(["w"] * 10)),  # 10
    ]
    d = spark.createDataFrame(rows, "lang string, text string")
    got = {r["grp"]: r.asDict() for r in
           truncation_report(d, "lang", "text", limits=(3, 8)).collect()}
    en, de = got["en"], got["de"]
    assert (en["n_docs"], en["n_toks"]) == (3, 7)
    assert (en["docs_over_3"], en["toks_beyond_3"]) == (1, 2)
    assert en["cut_permille_3"] == (2 * 1000) // 7
    assert (en["docs_over_8"], en["toks_beyond_8"]) == (0, 0)
    assert (de["docs_over_8"], de["toks_beyond_8"], de["cut_permille_8"]) == (1, 2, 200)


def test_script_mix_hand_docs(spark):
    """textstats.script_mix: counts per script, dominance switching,
    fixed-priority tiebreak, 'none' for scriptless text, empty doc."""
    from kneaddata_spark.operators import textstats

    rows = [
        (0, "hello world"),            # latin 10
        (1, "Привет мир hi"),          # cyr 9 > latin 2
        (2, "你好"),                    # han only
        (3, "ab яб"),                  # tie latin 2 == cyr 2 -> latin (priority)
        (4, "123 .!?"),                # no script
        (5, ""),                       # empty
        (6, "γ م"),                    # tie arabic 1 == greek 1 -> arabic (priority)
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in
           textstats.script_mix(d, "doc_id", "text").collect()}
    assert (got[0]["latin"], got[0]["dominant"]) == (10, "latin")
    assert (got[1]["cyrillic"], got[1]["latin"], got[1]["dominant"]) == (9, 2, "cyrillic")
    assert got[1]["dominant_permille"] == (9 * 1000) // 13
    assert (got[2]["han"], got[2]["dominant"], got[2]["dominant_permille"]) == (2, "han", 1000)
    assert got[3]["dominant"] == "latin"          # tie -> priority order
    assert got[4]["dominant"] == "none" and got[4]["dominant_permille"] is None
    assert got[5]["dominant"] == "none" and got[5]["n_chars"] == 0
    assert got[6]["dominant"] == "arabic"


def test_text_gate_every_verdict_reachable(spark):
    """textstats.text_gate: one hand doc per verdict, first-failing order
    proven (a doc failing several rules reports the FIRST), thresholds
    from rules.py."""
    from kneaddata_spark import rules
    from kneaddata_spark.operators import textstats

    ok_doc = ("the quick brown fox jumps over the lazy dog and then "
              "rests. it was a fine day to be out with friends. ") * 3
    rows = [
        (0, ""),                                            # empty
        (1, "too few words here"),                          # too_short
        (2, " ".join(["ab"] * 60)),                         # word_len (mwl 2)
        (3, " ".join(["word"] * 60) + " ### ### ... ..."),  # symbol (8 > 6.2)
        (4, " ".join(["word"] * 30) + " " + "你好数据 " * 100),  # non_latin
        (5, " ".join(["zap", "zop"] * 30)),                 # stopword
        (6, " ".join(["the", "of", "incomprehensibility"] * 40)),  # unreadable
        (7, ok_doc),                                        # ok
        (8, "# " * 60),                                     # word_len BEFORE symbol
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in
           textstats.text_gate(d, "doc_id", "text").collect()}
    want = ["empty", "too_short", "word_len", "symbol", "non_latin",
            "stopword", "unreadable", "ok", "word_len"]
    for i, v in enumerate(want):
        assert got[i]["verdict"] == v, (i, got[i])
    assert got[0]["fre_milli"] is None
    assert got[7]["fre_milli"] is not None and got[7]["fre_milli"] > 0
    # evidence replica for the symbol doc
    g3 = got[3]
    assert (g3["n_words"], g3["n_sym"]) == (64, 8)
    assert rules.GOPHER_MIN_WORDS == 50  # gate thresholds come from rules


def test_dedup_eval_confusion_counts(spark):
    """dedup_eval arithmetic on a tiny planted corpus: recall/precision
    permille match an exact python replica of the same confusion."""
    from kneaddata_spark.operators import dedup
    from pyspark.sql import functions as F

    base = [(i, f"alpha beta gamma delta epsilon zeta doc{i} eta theta iota kappa")
            for i in range(6)]
    near = [(i + 100000, t + " tail extra") for i, t in base[:4]]
    d = spark.createDataFrame(base + near, "doc_id long, text string")
    pred = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_dedup_pairs(d, "doc_id", "text", n=3, threshold=0.5)
        .where("id_b >= 100000").collect()
    }
    truth = {(i, i + 100000) for i in range(4)}
    tp = len(pred & truth)
    assert tp == 4  # every planted twin found
    assert (tp * 1000) // len(truth) == 1000


def test_perplexity_tiers_with_real_model_matches_python_ntile(spark):
    """CCNet tiers driven by the REAL broadcast n-gram perplexity model
    over 200 synth clips: engine NTILE == a python replica (equal cuts,
    remainder to the first tiers, (score, id) order), per language."""
    from kneaddata_spark.models.perplexity import train_perplexity
    from kneaddata_spark.operators.corpus import perplexity_tiers
    from kneaddata_spark.synth import gen_clip

    clips = [gen_clip(i) for i in range(200)]
    model = train_perplexity()
    rows = [
        (c["clip_id"], c["_lang"],
         int(model.ppl_one(c["transcript"]) * 1000))  # integer milli-ppl:
        for c in clips                                 # float order, exact cmp
    ]
    df = spark.createDataFrame(rows, "clip_id string, lang string, score long")
    got = {
        r["clip_id"]: (r["tier"], r["tier_label"])
        for r in perplexity_tiers(df, "lang", "score", "clip_id").collect()
    }

    by_lang: dict[str, list] = {}
    for cid, lang, score in rows:
        by_lang.setdefault(lang, []).append((score, cid))
    for lang, items in by_lang.items():
        items.sort()
        n = len(items)
        base, rem = divmod(n, 3)
        sizes = [base + (1 if t < rem else 0) for t in range(3)]
        pos = 0
        for t, sz in enumerate(sizes, start=1):
            for _ in range(sz):
                cid = items[pos][1]
                want_label = {1: "head", 3: "tail"}.get(t, "middle")
                assert got[cid] == (t, want_label), (lang, cid, got[cid], t)
                pos += 1
