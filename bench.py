"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
the session get_spark builds (local[session.default_cores()]) and prints
ONE JSON line.

Includes the domain QC pipeline over a deterministic synthetic clip table
sized by sf (generated once, cached in /tmp) — the clip throughput is the
BASELINE.json headline; relational operator timings cover the SURVEY.md §2
surface. Scaling-efficiency evidence (local[8] vs local[32]) lives in
tools/bench_scaling.py -> BENCH_SCALING.json / BASELINE.md.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# headline operator queries (from the driver surface). R3_SET is the
# round-3 headline — kept as a named subset so round-over-round totals
# stay comparable after the r4 expansion (VERDICT r3 #6: every driver
# query FAMILY now has a recorded wall — temporal joins, rollup, mixture
# resampling, incremental dedup, decontamination, ANN, skew salting,
# multimodal — so a perf regression in any family is visible in BENCH).
R3_SET = [
    "q1_pricing_summary",
    "pair_policy_strict",
    "anti_join_repeats",
    "intersect_kway",
    "overrepresented_ngrams",
    "window_rolling",
    "sessionize",
    "dedup_exact",
    "ngram_jaccard_pairs",
    "minhash_dedup_pairs",
    "simhash_near_dups",
    "dup_clusters",
    "cosine_topk",
    "bm25_topk",
    "pack_contexts",
    "token_stats",
    "doc_fingerprint",
    "scrub_pii",
    "adaptive_scrub",
]
HEADLINE = R3_SET + [
    "asof_join_events",
    "range_join_events",
    "rollup_lattice",
    "mixture_resample",
    "mixture_epochs",
    "incremental_dedup",
    "decontaminate",
    "cosine_dup_pairs",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "stratified_cap",
    "event_sequences",
    "multimodal_features",
    "salted_join_skew",
    "salted_group_count",
    "repetition_screen",
    "winnowing_fingerprints",
    "decontaminate_substrings",
    "semantic_dedup",
    "importance_weights",
    "shard_shuffle",
    "audio_dup_pairs",
    "paragraph_dedup",
    "vad_segments",
    "length_buckets",
    "leakage_safe_split",
    "substring_dup_pairs",
    "snapshot_diff",
    "speech_rate_screen",
    "threshold_sweep",
    "normalized_dedup",
    "audio_resample",
    "bm25_hard_negatives",
    "vocab_build",
    "audio_loudnorm",
    "pii_report",
    "langid_confusion",
    "audio_prep",
    "curriculum_order",
    "bpe_tokenize",
    "pitch_screen",
    "zone_map_stats",
    "zone_map_pruned_scan",
    "snr_screen",
    "corpus_card",
    "audio_screens",
    "lang_segments",
    "source_overlap",
    "length_drift",
    "blocklist_filter",
    "canonical_select",
    "token_budget_cap",
    "speech_only_trim",
    "audio_windows",
    "speed_perturb",
    "crossmodal_dup_pairs",
    "corpus_build",
    "merge_upsert",
    "noise_mix",
    "quantized_topk",
    "hot_keys",
    "ann_pq_topk",
    "hll_distinct",
    "cms_heavy_hitters",
    "weighted_sample",
    "pmi_collocations",
    "incremental_distinct",
    "zorder_layout",
    "audio_g711",
    "quantile_sketch",
    "hll_overlap",
    "funnel_steps",
    "excise_spans",
    "excise_dup_spans",
    "dup_token_report",
    "audio_flac",
    "webdataset_manifest",
    "fbank_stats",
    "audio_adpcm",
    "specaugment",
    "containment_pairs",
    "mfcc_stats",
    "cmvn_stats",
    "mojibake_screen",
    "bloom_decontaminate",
    "declip_stats",
    "hum_screen",
    "bandwidth_screen",
    "media_probe",
    "distinctive_terms",
    "cohort_retention",
    "token_diversity",
    "source_dup_stats",
    "reverb_screen",
    "dynrange_screen",
    "source_concentration",
    "embedding_health",
    "gopher_rules",
    "c4_line_filter",
    "speaking_rate",
    "cluster_balanced_sample",
    "speech_rate",
    "transcript_cer",
    "transcript_wer",
    "semantic_decontaminate",
    "boilerplate_screen",
    "embedding_drift",
    "embedding_pca",
    "readability_score",
    "image_dup_pairs",
    "video_dup_pairs",
    "chunk_overlap",
    "truncation_report",
    "incremental_image_screen",
    "audio_opus",
    "audio_mp3",
    "script_mix",
    "text_gate",
    "dedup_eval",
    "ann_eval",
    "html_extract",
    "link_domains",
    "url_canonical",
    "main_content",
    "dropout_screen",
    "link_pagerank",
    "click_screen",
    "qc_eval",
    "html_meta",
    "lang_meta_screen",
    "soft404_screen",
    "robots_filter",
    "domain_quality_card",
    "warc_manifest",
    "robots_parse",
    "warc_audio_qc",
    "cdx_index",
    "frontier_schedule",
    "cdx_revisits",
    "web_corpus_build",
    "sitemap_parse",
    "perplexity_tiers",
    "url_quality_screen",
    "anchor_text_harvest",
    "template_lines",
    "wet_shards",
    "crawl_funnel",
    "outlink_profile",
    "meta_robots_screen",
]


def _sf_of(path: str) -> float:
    import re

    m = re.search(r"sf([0-9.]+)", path)
    return float(m.group(1)) if m else 0.1


def ensure_clips(spark, n: int) -> str:
    from kneaddata_spark.plans.entry_queries import cached, clip_sources
    from kneaddata_spark.synth import clips_spark_df

    parts = max(spark.sparkContext.defaultParallelism, 8)
    return cached(
        "spark_clips",
        lambda d: clips_spark_df(spark, n, n_partitions=parts).write.mode(
            "overwrite"
        ).parquet(d),
        n, parts, *clip_sources(),
    )


def bench_qc_pipeline(spark, n_clips: int, reps: int = 5) -> tuple[float, list, dict]:
    """Best-of-reps: this VM shows 2-4x run-to-run variance under
    noisy-neighbor steal; best-of is the stable engine-speed signal.
    Per-rep walls are returned so the noise is VISIBLE in BENCH output
    (VERDICT r1 next-round #7). reps=5 (r5): after the ~98-query sweep
    the first QC reps absorb session churn (GC + page-cache turnover) —
    a measured 3-rep tail was still descending [52.5, 36.6, 18.7] while
    the same build isolated on the same box reads 10.9 s; five reps let
    the recorded best converge to engine speed."""
    from kneaddata_spark.pipeline import broadcast_models, run_qc

    path = ensure_clips(spark, n_clips)
    models = broadcast_models(spark)
    clips = spark.read.parquet(path)
    walls, metrics_best = [], {}
    for _ in range(reps):
        t0 = time.time()
        res = run_qc(spark, clips, "/tmp/kneaddata_bench/qc_out", *models)
        el = time.time() - t0
        if not walls or el < min(walls):
            metrics_best = res.metrics
        walls.append(round(el, 3))
    return min(walls), walls, metrics_best


def _previous_keys(repo: str) -> list[str]:
    """The compact query keys of the newest committed BENCH_rNN.json."""
    records = sorted(glob.glob(os.path.join(repo, "BENCH_r[0-9][0-9].json")))
    if not records:
        return []
    with open(records[-1]) as f:
        return list((json.load(f).get("parsed") or {}).get("queries") or {})


def main() -> None:
    from kneaddata_spark.plans.entry_queries import QUERIES
    from kneaddata_spark.session import get_spark

    from pyspark.sql import functions as F

    sf = _sf_of(SF_DIR)
    spark = get_spark(app="bench")
    cpus = spark.sparkContext.defaultParallelism
    # warm the session (JVM JIT, python worker fleet, parquet footers) so
    # the first timed query doesn't absorb startup costs
    spark.range(1_000_000).select(F.sum("id")).collect()
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").limit(1).collect()

    # best-of-2 per query with BOTH walls recorded (VERDICT r2 #8): this
    # VM's 2-4x run-to-run noise made round-over-round query deltas
    # unattributable (plan change vs noise) from a single wall
    timings: dict[str, float] = {}
    query_rep_walls: dict[str, list[float]] = {}
    for name in HEADLINE:
        fn = QUERIES[name]
        walls = []
        for _ in range(2):
            # clear BETWEEN reps too (ADVICE r3): rep 2 must not read rep
            # 1's intra-query persisted intermediates (postings, grains,
            # shingles) or min(walls) records a warm-cache wall and the
            # headline understates cold per-query cost. (Query builders
            # also self-release via operators/caching.release_tracked at
            # build time, so this is belt-and-braces for the recorded
            # number.) JVM JIT + OS page cache stay warm — deliberately:
            # that is machine warmup, not query state.
            spark.catalog.clearCache()
            t0 = time.time()
            n = fn(spark, SF_DIR).count()
            walls.append(round(time.time() - t0, 3))
        timings[name] = min(walls)
        query_rep_walls[name] = walls
        print(f"# {name}: {n} rows, reps {walls} -> {timings[name]}s", file=sys.stderr)
    spark.catalog.clearCache()

    # scale-path counterpart of cosine_dup_pairs: the REGISTERED query runs
    # the fenced exact O(n^2) path (its DuckDB oracle is exact — ADVICE r3),
    # so its wall above prices the small-corpus contract, not the engine
    # default. The default — banded sign-LSH candidates + exact verify — is
    # what a 100TB run executes; record its wall separately (kept OUT of the
    # headline total: it is an operator timing, not a driver query).
    from kneaddata_spark.operators.similarity import cosine_pairs_threshold
    from kneaddata_spark.plans.entry_queries import _emb_with_dups

    lsh_walls = []
    for _ in range(2):
        spark.catalog.clearCache()
        t0 = time.time()
        n = cosine_pairs_threshold(_emb_with_dups(spark, SF_DIR), threshold=0.99).count()
        lsh_walls.append(round(time.time() - t0, 3))
    print(
        f"# cosine_dup_pairs scale path (banded LSH): {n} rows, reps {lsh_walls}",
        file=sys.stderr,
    )

    # clip count matches tools/bench_scaling.py at sf0.1 (40k) so driver
    # BENCH numbers are comparable round-over-round and to BENCH_SCALING
    n_clips = max(2000, int(400_000 * sf))
    qc_sec, qc_walls, metrics = bench_qc_pipeline(spark, n_clips)
    timings["qc_pipeline_clips"] = round(qc_sec, 3)
    clips_per_sec = round(n_clips / qc_sec, 1)
    print(
        f"# qc_pipeline: {n_clips} clips best {qc_sec:.1f}s of reps {qc_walls} "
        f"= {clips_per_sec} clips/s (kept {metrics.get('n_kept')})",
        file=sys.stderr,
    )

    total = round(sum(timings.values()), 3)

    # the r3 headline was 19 queries + qc; r4 grew it to ~90. This
    # subtotal is the r3-comparable number (same query set as BENCH_r03's
    # "value" minus qc, which is reported separately).
    r3_subset = round(
        sum(timings[n] for n in R3_SET) + timings["qc_pipeline_clips"], 3
    )

    # Full per-query detail goes to a SIDECAR file (VERDICT r4 #2): the
    # driver captures only the last ~2000 chars of stdout, and the r4
    # 91-query JSON line outgrew that window (BENCH_r04 parsed:null). The
    # final stdout line must stay compact enough to parse.
    detail = {
        "queries": timings,
        "query_rep_walls_sec": query_rep_walls,
        "scale_path_walls_sec": {"cosine_pairs_threshold_lsh": min(lsh_walls)},
        "scale_path_rep_walls_sec": {"cosine_pairs_threshold_lsh": lsh_walls},
        "qc_rep_walls_sec": qc_walls,
        "sf": sf,
        "cpus": cpus,
    }
    repo = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(repo, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)

    out = {
        "metric": "total_headline_sec",
        "value": total,
        "unit": "sec",
        # compact queries dict: qc + the slowest N walls; the complete
        # per-query map (all headline queries + rep walls) is in
        # BENCH_DETAIL.json. Slowest-first so the driver record shows
        # where the time goes even in truncated form.
        "queries": {},
        "value_r3_subset_sec": r3_subset,
        "n_headline_queries": len(HEADLINE),
        "sf": sf,
        "clips_per_sec": clips_per_sec,
        "n_clips": n_clips,
        "qc_sec": timings["qc_pipeline_clips"],
        "cpus": cpus,
        "detail_file": "BENCH_DETAIL.json",
    }
    # attach the (separately measured) N vs 4N scaling evidence if present
    scaling_path = os.path.join(repo, "BENCH_SCALING.json")
    if os.path.exists(scaling_path):
        with open(scaling_path) as f:
            s = json.load(f)
        out["scaling"] = {
            "pair": s.get("headline", {}).get("pair"),
            "speedup_N_to_4N": s.get("headline", {}).get("speedup"),
            "scaling_efficiency": s.get("headline", {}).get("scaling_efficiency"),
        }
        # min-wall efficiency can nominally exceed 1.0 on this shared box
        # (long t_N windows absorb more neighbor steal); ship the
        # conservative pairing alongside so the record is self-explaining
        cons = s.get("headline", {}).get("conservative_efficiency")
        if cons is not None:
            out["scaling"]["conservative_efficiency"] = cons
    # fill "queries" with the keys of the newest committed round record
    # first (a query that got faster must not drop out of the record),
    # then the slowest walls, keeping the WHOLE line within the budget of
    # the recorded stdout tail (self-truncating: never regress to r4's
    # parsed:null regardless of how many queries future rounds add); no
    # spaces after separators, ~2 chars per key of room
    budget = 1800
    compact = {name: round(sec, 2) for name, sec in timings.items()}
    previous = [name for name in _previous_keys(repo) if name in compact]
    for name in previous + sorted(compact, key=compact.get, reverse=True):
        if name in out["queries"]:
            continue
        out["queries"][name] = compact[name]
        if len(json.dumps(out, separators=(",", ":"))) > budget:
            del out["queries"][name]
            break
    out["queries"] = dict(sorted(out["queries"].items(), key=lambda kv: -kv[1]))
    line = json.dumps(out, separators=(",", ":"))
    assert len(line) <= 2000, f"bench line {len(line)} chars exceeds driver tail window"
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
