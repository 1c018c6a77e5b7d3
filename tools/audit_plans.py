"""Physical-plan audit: dump .explain(formatted) for representative queries
and flag anti-patterns (row-at-a-time Python, missing pushdown, unexpected
shuffle counts), then build every driver query to sweep for global Windows
and non-scalar outputs. Writes PLANS.md with the run-to-run ids of each
plan (expression ids, plan ids, RDD numbers, fixture-cache keys)
normalized, so a second run leaves it unchanged and a diff of it shows
only plan changes; the checks read the raw plans.

No query is executed, but some builders run Spark jobs to produce a value
their plan embeds: `dup_clusters` and `canonical_select` iterate their
clustering rounds to convergence (38 jobs each at sf0.01),
`adaptive_scrub` collects its over-represented n-grams, `bpe_tokenize`
fits its merges, `embedding_pca` its components, and `ann_ivf_topk` /
`ann_pq_topk` their codebooks (1-2 jobs each).

    python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDIT = [
    # name -> expectations
    ("q1_pricing_summary", {"max_exchanges": 2, "pushed_filter": True}),
    ("anti_join_repeats", {"broadcast_join": True}),
    ("intersect_kway", {"broadcast_join": True}),
    ("pair_policy_strict", {"max_exchanges": 2}),
    ("dedup_exact", {}),
    ("minhash_dedup_pairs", {}),
    ("cosine_topk", {"broadcast_join": True}),
    ("token_stats", {"max_exchanges": 0}),
    ("scrub_pii", {"max_exchanges": 0, "no_python": True}),
    ("doc_chunks", {"max_exchanges": 0, "no_python": True}),
    ("decontaminate", {"broadcast_join": True}),
    ("simhash_near_dups", {"max_exchanges": 4}),
    # two-phase salted top-k: one exchange per window phase ((lang,salt)
    # then lang over the <= n_salts*k survivors)
    ("stratified_cap", {"max_exchanges": 2, "no_python": True}),
    ("bm25_topk", {"broadcast_join": True}),
    # union + one keyed window pass: exactly one shuffle
    ("asof_join_events", {"max_exchanges": 1, "no_python": True}),
    ("range_join_events", {"no_python": True}),
    ("pack_contexts", {"max_exchanges": 1, "no_python": True}),
    ("mixture_resample", {"broadcast_join": True, "no_python": True}),
    # r4: one tagged explode + two map-side-combined aggs (+ AQE broadcast
    # of the per-doc base for the final join)
    ("repetition_screen", {"max_exchanges": 2, "no_python": True}),
    # r4: token hash + k-gram leads + window-min + distinct all reuse ONE
    # doc-keyed partitioning — a single shuffle end-to-end
    ("winnowing_fingerprints", {"max_exchanges": 1, "no_python": True}),
    # r4: two winnow pipelines (1 shuffle each) + matched-fp threshold agg;
    # benchmark fp side broadcasts
    ("decontaminate_substrings", {"max_exchanges": 3, "broadcast_join": True, "no_python": True}),
    # r4b: integer sign-partition clusters are pure Column algebra; only
    # shuffle is the within-cluster self-equi-join + dropped-id distinct,
    # dropped ids broadcast back for the keep flag
    ("semantic_dedup", {"max_exchanges": 2, "broadcast_join": True, "no_python": True}),
    # r4b: bigram partials persist once (InMemoryTableScan in-plan; the
    # printed exchange count re-counts the cached subplan per scan, so no
    # max_exchanges cap — the weight table rides a BroadcastExchange)
    ("importance_weights", {"broadcast_join": True, "no_python": True}),
    # r4b: global_rank = range sort + per-partition offset counts (three
    # passes over the (id,key) projection — the no-global-window price)
    ("shard_shuffle", {"broadcast_join": True, "no_python": True}),
    # r4b: acoustic near-dup — ONE Arrow decode stage (bucket-collect pair
    # expansion scans the fingerprints once; a self-join would run decode
    # per branch); bucket agg + final pair agg = 2 shuffles
    ("audio_dup_pairs", {"max_exchanges": 2, "arrow_only": True}),
    # r4c: paragraph keep-first dedup — min(struct) per paragraph (map-side
    # combinable, no join-back), reassembly + totals co-partitioned on id:
    # 3 data distributions total, zero Python
    ("paragraph_dedup", {"max_exchanges": 3, "no_python": True}),
    # r4c: VAD — one Arrow decode stage, ZERO shuffles (embarrassingly
    # parallel segment explode); same nondeterministic-UDF pin as audiodup
    ("vad_segments", {"max_exchanges": 0, "arrow_only": True}),
    # r4c: length-bucketed batching — global_rank (range sort + offsets,
    # no single-partition window: the scalar/global-window sweeps enforce
    # that) + one batch-keyed agg, pure JVM
    ("length_buckets", {"no_python": True, "broadcast_join": True}),
    # r4c: leakage-safe split — one keyed window over md5(text) (dup-group
    # bounded), integer hash split, pure JVM
    ("leakage_safe_split", {"no_python": True, "max_exchanges": 1}),
    # r4c: substring dup pairs — fp frame persisted once, broadcast df
    # guard, bucket-collect pair expansion; pure JVM
    ("substring_dup_pairs", {"no_python": True, "broadcast_join": True}),
    # r4d: snapshot diff — both sides reduce to (id, md5) pre-join, so
    # the full-outer SMJ shuffles ids+hashes only (one exchange per side;
    # bucketed snapshots would drop both)
    ("snapshot_diff", {"no_python": True, "max_exchanges": 2}),
    # r4d: speech-rate screen — row-local integer projection, no shuffle
    ("speech_rate_screen", {"no_python": True, "max_exchanges": 0}),
    # r4d: threshold sweep — one combinable bucket agg, then a broadcast
    # >=-self-join over the tiny bucket frame (no global running-total
    # window; cached frame re-prints its subplan so no exchange cap)
    ("threshold_sweep", {"no_python": True, "broadcast_join": True}),
    # r4d: normalization-keyed dedup — same single-window shape as
    # dedup_exact, key = md5(normalize); zero Python
    ("normalized_dedup", {"no_python": True, "max_exchanges": 1}),
    # r4d: sample-rate normalization — ONE Arrow decode+resample stage,
    # scalars out, zero shuffles (same nondeterministic pin as VAD)
    ("audio_resample", {"max_exchanges": 0, "arrow_only": True}),
    # r4d: hard negatives = bm25_topk + broadcast anti-join of the
    # positives closure on the pre-rank aggregate; postings broadcast
    # shape unchanged
    ("bm25_hard_negatives", {"broadcast_join": True, "no_python": True}),
    # r4d: vocab build — TakeOrderedAndProject top-n (no global Window)
    # + triangular broadcast self-join over the tiny top-n frame
    ("vocab_build", {"no_python": True, "broadcast_join": True}),
    # r4d: loudness normalization — ONE Arrow decode+gain stage, zero
    # shuffles (same pin as resample/VAD)
    ("audio_loudnorm", {"max_exchanges": 0, "arrow_only": True}),
    # r4d: PII report — row-local regex projection exploded to |rules|
    # tagged rows + ONE combinable agg; zero Python
    ("pii_report", {"no_python": True, "max_exchanges": 1}),
    # r4d: confusion matrix — co-keyed join + one combinable agg
    ("langid_confusion", {"no_python": True}),
    # r4d: fused prep — the whole resample+loudness chain in ONE Arrow
    # stage (decode-once fusion), zero shuffles
    ("audio_prep", {"max_exchanges": 0, "arrow_only": True}),
    # r4d: curriculum order — global_rank (range sort + offsets, no
    # global Window) over (score, hash, id)
    ("curriculum_order", {"no_python": True, "broadcast_join": True}),
    # r4e: BPE encode — ONE Arrow stage over the scan, zero shuffles
    # (training runs at build time: one combinable count agg + a bounded
    # top_types collect; the returned plan is encode only)
    ("bpe_tokenize", {"max_exchanges": 0, "arrow_only": True}),
    # r4e: pitch screen — ONE Arrow decode+autocorr stage, zero shuffles
    # (same pin as VAD/resample); verdicts are JVM integer compares
    ("pitch_screen", {"max_exchanges": 0, "arrow_only": True}),
    # r5: log-mel filterbank witnesses — ONE Arrow decode+FFT stage,
    # zero shuffles (same pin); scalars out, frame matrices stay Python
    ("fbank_stats", {"max_exchanges": 0, "arrow_only": True}),
    # r5: IMA ADPCM transcode — ONE Arrow decode+block-codec stage,
    # zero shuffles (same pin); packed bytes stay Python-side
    ("audio_adpcm", {"max_exchanges": 0, "arrow_only": True}),
    # r5: SpecAugment — the one Arrow fbank stage + JVM-only masking
    # (transform/zip_with/aggregate HOFs); zero shuffles
    ("specaugment", {"max_exchanges": 0, "arrow_only": True}),
    # r5: MFCC — one Arrow fbank stage + JVM-only DCT (zip_with dot
    # products against literal weight rows); zero shuffles
    ("mfcc_stats", {"max_exchanges": 0, "arrow_only": True}),
    # r5: per-clip CMVN — one Arrow fbank stage + JVM-only fold/normalize
    # algebra; zero shuffles
    ("cmvn_stats", {"max_exchanges": 0, "arrow_only": True}),
    # r5: mojibake screen — replace-fold string algebra, map-only
    ("mojibake_screen", {"max_exchanges": 0, "no_python": True}),
    # r5: bloom decontamination — corpus probed map-side in ONE pass;
    # the only shuffles are the tiny bit-table build (word agg), its
    # one-row map collapse, and the exact-set distinct
    ("bloom_decontaminate", {"max_exchanges": 3, "no_python": True}),
    # r4e: zone-map stats — one combinable agg; the two count_distincts
    # plan as one expand + two-phase agg (2 shuffles)
    ("zone_map_stats", {"max_exchanges": 2, "no_python": True}),
    # r4e: pruned range scan — stats agg feeds a BROADCAST semi-join on
    # the slice id; the probe side never shuffles
    ("zone_map_pruned_scan", {"broadcast_join": True, "no_python": True}),
    # r4e: SNR screen — ONE Arrow decode stage, zero shuffles
    ("snr_screen", {"max_exchanges": 0, "arrow_only": True}),
    # r4e: corpus card — one combinable agg (count_distinct expand = 2
    # shuffles), zero Python
    ("corpus_card", {"max_exchanges": 2, "no_python": True}),
    # r4e: fused audio screen — VAD+SNR+pitch from ONE decode stage
    ("audio_screens", {"max_exchanges": 0, "arrow_only": True}),
    # r4e: gaps-and-islands code-switch runs — ONE doc-keyed shuffle
    # (windows + running sum + groupBy all reuse the doc_id clustering)
    ("lang_segments", {"max_exchanges": 1, "no_python": True}),
    # r4e: source overlap — ONE corpus groupBy(md5) + in-set pair
    # expansion; totals re-aggregate the persisted frame; broadcasts back
    ("source_overlap", {"broadcast_join": True, "no_python": True}),
    # r4e: drift monitor — one histogram agg per snapshot, triangular
    # broadcast self-join over the <=64-row bucket frame
    ("length_drift", {"broadcast_join": True, "no_python": True}),
    # r4f: Bloom blocklist screen — the bit array rides a broadcast
    # one-row frame (BNLJ), non-members clear map-side, candidates'
    # exact anti-join broadcasts; pure JVM shift/mask algebra
    ("blocklist_filter", {"broadcast_join": True, "no_python": True}),
    # r4f: budget cap — bucket-sum agg + triangular broadcast cumulatives;
    # windows are (group,bucket)- and boundary-bucket-keyed, never a
    # per-group corpus window (global-window sweep enforces); pure JVM
    ("token_budget_cap", {"broadcast_join": True, "no_python": True}),
    # r4f: silence removal — ONE Arrow VAD stage; speech payload refolded
    # JVM-side (aggregate over binary substring/concat), zero shuffles
    ("speech_only_trim", {"max_exchanges": 0, "arrow_only": True}),
    # r4f: window extraction — DECODE-FREE: the operator adds no Python
    # stage (pure JVM byte slicing + posexplode); the only Python in the
    # plan is the in-plan clip synthesis generator; zero shuffles
    ("audio_windows", {"max_exchanges": 0, "synth_only": True}),
    # r4f: speed perturbation — ONE Arrow decode drives all rates
    # (decode-once fusion), zero shuffles
    ("speed_perturb", {"max_exchanges": 0, "arrow_only": True}),
    # r4f: cross-modal fusion — the persisted clip frame feeds BOTH
    # modality branches, so the synthesis generator and the ONE Arrow
    # fingerprint stage each appear once; confirmation is an equi-join
    ("crossmodal_dup_pairs", {"arrow_only": True}),
    # r4f: end-to-end corpus build — dedup window + broadcast decontam
    # screen + budget-cap bucket phases + shard-keyed pack window; every
    # join a broadcast, zero Python end to end
    ("corpus_build", {"broadcast_join": True, "no_python": True}),
    # r4f: MERGE INTO semantics — one left_anti equi-join (update keys
    # broadcast under AQE; corpus never shuffles) + union; zero Python
    ("merge_upsert", {"broadcast_join": True, "no_python": True}),
    # r4f: noise mix — ONE Arrow decode drives all ratios, zero shuffles
    ("noise_mix", {"max_exchanges": 0, "arrow_only": True}),
    # r4f: quantized ANN — broadcast-nested-loop like cosine_topk but
    # int64 scoring; quantization is pure Column HOF algebra, no Python
    ("quantized_topk", {"broadcast_join": True, "no_python": True}),
    # r4f: hot-key report — one tag explode + ONE combinable count agg;
    # totals re-aggregate the small frame and ride a broadcast back (the
    # count subtree feeds both sides, so its exchange PRINTS twice — no
    # exchange cap, the importance_weights precedent)
    ("hot_keys", {"broadcast_join": True, "no_python": True}),
    # r4f: PQ ANN — encode + query LUT are Arrow-batched matmuls; ADC
    # scoring is a JVM fold over the code array on the broadcast-NL side
    ("ann_pq_topk", {"broadcast_join": True}),
    # per-clip audio screens and transcodes — each is ONE Arrow decode
    # stage (the functions/audio.clip_udf pin), zero shuffles
    ("hum_screen", {"max_exchanges": 0, "arrow_only": True}),
    ("bandwidth_screen", {"max_exchanges": 0, "arrow_only": True}),
    ("reverb_screen", {"max_exchanges": 0, "arrow_only": True}),
    ("dynrange_screen", {"max_exchanges": 0, "arrow_only": True}),
    ("dropout_screen", {"max_exchanges": 0, "arrow_only": True}),
    ("click_screen", {"max_exchanges": 0, "arrow_only": True}),
    ("declip_stats", {"max_exchanges": 0, "arrow_only": True}),
    ("audio_g711", {"max_exchanges": 0, "arrow_only": True}),
    ("audio_flac", {"max_exchanges": 0, "arrow_only": True}),
    ("speech_rate", {"max_exchanges": 0, "arrow_only": True}),
]


# ids that differ between runs of the same plan, and what PLANS.md prints
# for them: expression ids (`#123`, `#45L`), exchange plan ids, RDD
# numbers, and the key hash of each `entry_queries.cached` directory
VOLATILE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(kneaddata_bench/\w+?)_[0-9a-f]{16}\b"), r"\1_KEY"),
]


def normalized(plan: str) -> str:
    for pat, repl in VOLATILE:
        plan = pat.sub(repl, plan)
    return plan


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def arrow_stages(plan: str) -> int:
    """ArrowEvalPython nodes in a formatted plan (detail headers, one per
    node id)."""
    return len(re.findall(r"\(\d+\) ArrowEvalPython", plan))


def global_window_lines(df) -> list[str]:
    """Lines of the optimized plan containing a Window with an EMPTY
    partition spec (single-partition global window — a scale-killer: every
    row flows through one task). A partitioned Window prints three
    top-level bracket groups `[exprs], [partSpec], [orderSpec]`; a global
    one prints only two."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    bad = []
    for line in plan.splitlines():
        m = re.search(r"\bWindow (\[.*)$", line)
        if not m:
            continue
        groups, depth, cur = [], 0, []
        for ch in m.group(1):
            if ch == "[":
                if depth == 0:
                    cur = []
                depth += 1
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append("".join(cur))
            if depth > 0 and not (depth == 1 and ch == "["):
                cur.append(ch)
        # three groups = [exprs], [partSpec], [orderSpec] -> partitioned.
        # two groups whose LAST is a sort spec (ASC/DESC) = ordered window
        # with NO partition spec -> global. Two groups ending in a plain
        # column list = partitionBy with no orderBy -> fine.
        if len(groups) < 3 and groups and re.search(r" (ASC|DESC)\b", groups[-1]):
            bad.append(line.strip())
    return bad


def scalar_schema_problems(df) -> list[str]:
    """Non-scalar output columns (Array/Map/Struct) of a driver-checked
    query. The driver's correctness canonicalizer (pandas sort_values +
    factorize over object cells) cannot hash list values — an array column
    crashed the `event_sequences` gate in r2 even though the local replica
    handled it. Driver queries must serialize sequences (array_join /
    string_agg) on BOTH engine and oracle sides."""
    from pyspark.sql import types as T

    return [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from kneaddata_spark.pipeline import annotate, broadcast_models
    from kneaddata_spark.plans.entry_queries import QUERIES
    from kneaddata_spark.session import get_spark

    spark = get_spark(app="planaudit")
    sections, problems = [], []

    # the flagship QC pipeline plan
    from kneaddata_spark.synth import clips_spark_df

    clips = clips_spark_df(spark, 100, n_partitions=4)
    qc_plan = plan_of(annotate(clips, *broadcast_models(spark)))
    checks = []
    if "BatchEvalPython" in qc_plan:
        problems.append("qc_pipeline: BatchEvalPython (row-at-a-time python!)")
    checks.append(f"ArrowEvalPython nodes: {qc_plan.count('ArrowEvalPython (')} (want 1)")
    checks.append(f"Exchange nodes: {qc_plan.count('Exchange (')} (want 0 — map-only)")
    sections.append(("qc_pipeline (annotate)", qc_plan, checks))

    for name, exp in AUDIT:
        df = QUERIES[name](spark, sf)
        p = plan_of(df)
        checks = []
        # shuffles only — BroadcastExchange is the cheap path, not a shuffle
        n_ex = len(re.findall(r"\(\d+\) Exchange\b", p))
        checks.append(f"Shuffle exchanges: {n_ex}  (broadcast exchanges: "
                      f"{len(re.findall(r'BroadcastExchange', p)) // 2})")
        if "max_exchanges" in exp and n_ex > exp["max_exchanges"]:
            problems.append(f"{name}: {n_ex} exchanges > {exp['max_exchanges']}")
        if exp.get("pushed_filter"):
            ok = "PushedFilters: [" in p and not re.search(r"PushedFilters: \[\]", p)
            checks.append(f"PushedFilters present: {ok}")
            if not ok:
                problems.append(f"{name}: no pushed filters")
        if exp.get("broadcast_join"):
            ok = "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
            checks.append(f"Broadcast join: {ok}")
            if not ok:
                problems.append(f"{name}: expected broadcast join")
        if exp.get("no_python") and ("EvalPython" in p or "MapInPandas" in p):
            problems.append(f"{name}: python in plan")
        if exp.get("arrow_only"):
            # Arrow-batched Python is the sanctioned boundary (audio
            # decode); row-at-a-time Python never is. Exactly ONE Arrow
            # stage: the bucket-collect pair expansion must scan the
            # fingerprint frame once (a self-join prints/executes the
            # decode per branch). MapInPandas is allowed ONLY for the
            # synth input generator (Arguments: gen(id#N)) — compare
            # DETAIL headers (deduped per node id) to generator lines.
            n_arrow = arrow_stages(p)
            n_mip = len(re.findall(r"\(\d+\) MapInPandas", p))
            n_gen = len(re.findall(r"Arguments: gen\(id#\d+L?\)", p))
            checks.append(f"ArrowEvalPython stages: {n_arrow} (want 1); "
                          f"MapInPandas prints: {n_mip} (all synth-gen: {n_mip == n_gen})")
            if "BatchEvalPython" in p:
                problems.append(f"{name}: row-at-a-time python in plan")
            if n_arrow != 1:
                problems.append(f"{name}: {n_arrow} Arrow stages (want 1)")
            if n_mip != n_gen:
                problems.append(f"{name}: non-generator MapInPandas in plan")
        if exp.get("synth_only"):
            # decode-FREE audio op: the only Python allowed is the synth
            # input generator itself — zero Arrow stages, zero
            # BatchEvalPython, MapInPandas prints all generator lines
            n_arrow = arrow_stages(p)
            n_mip = len(re.findall(r"\(\d+\) MapInPandas", p))
            n_gen = len(re.findall(r"Arguments: gen\(id#\d+L?\)", p))
            checks.append(f"ArrowEvalPython stages: {n_arrow} (want 0); "
                          f"MapInPandas prints: {n_mip} (all synth-gen: {n_mip == n_gen})")
            if "BatchEvalPython" in p:
                problems.append(f"{name}: row-at-a-time python in plan")
            if n_arrow != 0:
                problems.append(f"{name}: {n_arrow} Arrow stages (want 0 — decode-free)")
            if n_mip != n_gen:
                problems.append(f"{name}: non-generator MapInPandas in plan")
        codegen_ids = {m for m in re.findall(r"codegen id : (\d+)", p)}
        checks.append(f"WholeStageCodegen spans: {len(codegen_ids)}")
        sections.append((name, p, checks))

    # every driver query: no single-partition global Window anywhere, and
    # a scalar-only output schema (the driver canonicalizer cannot hash
    # list cells — r2 event_sequences lesson)
    # (qc_stream_counts excluded — building it executes a streaming query)
    n_gw = n_ns = 0
    for name, fn in QUERIES.items():
        if name == "qc_stream_counts":
            continue
        df = fn(spark, sf)
        gw = global_window_lines(df)
        if gw:
            n_gw += 1
            problems.append(f"{name}: global (empty-partition-spec) Window: {gw[0][:120]}")
        ns = scalar_schema_problems(df)
        if ns:
            n_ns += 1
            problems.append(f"{name}: non-scalar output column(s): {ns}")
    sections.insert(0, (
        "global-window + scalar-schema sweep",
        f"scanned {len(QUERIES) - 1} driver queries "
        f"(qc_stream_counts excluded: building it executes a streaming "
        f"query); {n_gw} with a global Window; "
        f"{n_ns} with non-scalar output columns",
        ["want 0 global Windows — no PARTITION BY funnels every row through one task",
         "want 0 non-scalar outputs — the driver canonicalizer cannot hash list cells"],
    ))

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.write("# Physical plan audit (`tools/audit_plans.py`)\n\n")
        f.write("Checks: no `BatchEvalPython` anywhere; the QC hot path is one "
                "`ArrowEvalPython` and zero `Exchange`; scans show `PushedFilters`/"
                "pruned `ReadSchema`; membership joins broadcast.\n\n")
        if problems:
            f.write("## PROBLEMS\n\n" + "\n".join(f"- {p}" for p in problems) + "\n\n")
        else:
            f.write("All expectations hold.\n\n")
        for name, p, checks in sections:
            f.write(f"## {name}\n\n" + "".join(f"- {c}\n" for c in checks))
            f.write("\n```\n" + normalized(p).strip()[:4000] + "\n```\n\n")
    print("PROBLEMS:" if problems else "all plan expectations hold")
    for p in problems:
        print(" -", p)
    spark.stop()


if __name__ == "__main__":
    main()
