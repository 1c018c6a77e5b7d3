"""End-to-end run_qc + checkpointed resume behavior."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F


def test_run_qc_single_pass(spark, clips_path, tmp_path, oracle_labels):
    from kneaddata_spark.pipeline import run_qc

    df = spark.read.parquet(clips_path)
    res = run_qc(spark, df, str(tmp_path / "out"))
    m = res.metrics
    assert m["n_rows"] == df.count()
    n_dropped = sum(v for k, v in m.items() if k.startswith("drop_"))
    assert m["n_kept"] + n_dropped == m["n_rows"]
    # metrics agree with the oracle's label distribution
    expect_kept = int(oracle_labels["expect_keep"].sum())
    assert abs(m["n_kept"] - expect_kept) <= 0.01 * m["n_rows"]

    out = spark.read.parquet(res.out_path)
    assert out.count() == m["n_rows"]
    kept = out.where(F.col("status") == "kept")
    assert kept.count() == m["n_kept"]
    # kept rows must have scrubbed transcript + trimmed bytes + lang
    assert kept.where(F.col("bytes").isNull() | F.col("lang").isNull()).count() == 0
    # partition layout: one dir per status value
    dirs = {d for d in os.listdir(res.out_path) if d.startswith("status=")}
    assert "status=kept" in dirs and len(dirs) >= 5


def test_checkpoint_resume_idempotent(spark, clips_path, tmp_path):
    from kneaddata_spark.checkpoint import load_manifest, run_checkpointed

    df = spark.read.parquet(clips_path)
    out = str(tmp_path / "ckpt")
    manifest = run_checkpointed(spark, df, out, n_buckets=4)
    assert [r["bucket"] for r in manifest] == [0, 1, 2, 3]
    total = sum(r["metrics"]["n_rows"] for r in manifest)
    assert total == df.count()

    # simulate a crash after bucket 1: drop manifest lines for buckets 2,3
    mpath = os.path.join(out, "_manifest.jsonl")
    lines = open(mpath).read().strip().split("\n")
    with open(mpath, "w") as f:
        f.write("\n".join(lines[:2]) + "\n")
    ts_before = {r["bucket"]: r["ts"] for r in manifest}

    manifest2 = run_checkpointed(spark, df, out, n_buckets=4)
    after = load_manifest(out)
    # buckets 0,1 were NOT reprocessed (same ts), 2,3 were redone
    assert after[0]["ts"] == ts_before[0] and after[1]["ts"] == ts_before[1]
    assert after[2]["ts"] != ts_before[2] and after[3]["ts"] != ts_before[3]
    # and the redone buckets produced identical metrics (idempotent)
    for b in (2, 3):
        assert after[b]["metrics"] == next(r for r in manifest if r["bucket"] == b)["metrics"]
    assert sum(r["metrics"]["n_rows"] for r in manifest2) == df.count()


def test_staging_fingerprint_sees_content_changes(spark, tmp_path):
    """ADVICE r2: the staging fingerprint must change when (a) a source
    file is REWRITTEN at the same path, or (b) an in-memory corpus is
    regenerated with the same cardinality but different rows — both cases
    previously resumed against stale staged parquet."""
    from kneaddata_spark.checkpoint import _staging_fingerprint
    from kneaddata_spark.synth import write_clips_parquet

    p = str(tmp_path / "c.parquet")
    write_clips_parquet(p, 30)
    df = spark.read.parquet(p)
    fp1 = _staging_fingerprint(df, 4)
    assert _staging_fingerprint(df, 8) != fp1  # bucket-count change
    # no sleep needed: the fingerprint stats st_mtime_ns (ADVICE r3) —
    # even a same-second rewrite produces a distinct nanosecond mtime
    write_clips_parquet(p, 30)  # rewrite same path, same row count
    fp2 = _staging_fingerprint(spark.read.parquet(p), 4)
    assert fp2 != fp1

    mem1 = spark.createDataFrame([(f"a{i}", i) for i in range(20)], ["clip_id", "x"])
    mem2 = spark.createDataFrame([(f"b{i}", i) for i in range(20)], ["clip_id", "x"])
    assert _staging_fingerprint(mem1, 4) != _staging_fingerprint(mem2, 4)
    assert _staging_fingerprint(mem1, 4) == _staging_fingerprint(mem1, 4)


def test_no_row_at_a_time_python_in_plan(spark, clips_path):
    """input_hint: no per-row Python — plan must contain no BatchEvalPython
    (row-at-a-time UDF) nodes; only ArrowEvalPython / MapInPandas."""
    from kneaddata_spark.pipeline import annotate, broadcast_models

    df = spark.read.parquet(clips_path)
    ann = annotate(df, *broadcast_models(spark))
    plan = ann._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    # exactly ONE python stage: both scalar pandas UDFs (audio + text) are
    # planned into a single ArrowEvalPython node — one Arrow round trip,
    # and the `bytes` column never travels Python->JVM (no MapInPandas echo)
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "MapInPandas" not in plan


def test_distributed_generator_matches_local(spark):
    from kneaddata_spark.synth import clips_spark_df, gen_clips_pdf

    got = clips_spark_df(spark, 50, n_partitions=7).orderBy("clip_id").toPandas()
    want = gen_clips_pdf(50)
    assert list(got["clip_id"]) == list(want["clip_id"])
    assert list(got["transcript"]) == list(want["transcript"])
    assert [bytes(b) for b in got["bytes"]] == [bytes(b) for b in want["bytes"]]


def test_training_pipeline_end_to_end(spark, tmp_path):
    """QC -> exact dedup -> near-dup screen: planted duplicates must fall
    out at the right stages."""
    from pyspark.sql import functions as F

    from kneaddata_spark.pipeline import run_training_pipeline
    from kneaddata_spark.synth import write_clips_parquet

    p = str(tmp_path / "clips.parquet")
    write_clips_parquet(p, 400)
    clips = spark.read.parquet(p)
    # plant exact dups: 10 kept-looking clips re-appear under new ids
    dupes = clips.limit(10).withColumn(
        "clip_id", F.concat(F.lit("dup_"), F.col("clip_id"))
    )
    stats = run_training_pipeline(
        spark, clips.unionByName(dupes), str(tmp_path / "tp")
    )
    assert stats["n_rows"] == 410
    assert stats["n_exact_dups_removed"] >= 5      # kept dups collapse
    assert stats["n_final"] <= stats["n_exact_unique"]
    assert spark.read.parquet(stats["final_path"]).count() == stats["n_final"]
    uniq_path = str(tmp_path / "tp" / "clips_unique")
    assert spark.read.parquet(uniq_path).count() == stats["n_exact_unique"]


def test_lang_parity_all_rows(spark, clips_path, oracle_labels):
    """Model-score columns match the oracle's first-failing-rule semantics
    on EVERY row (ADVICE r1): lang equals oracle expect_lang everywhere
    (scored value when the row reaches the langid stage, 'und' otherwise);
    ppl is NaN before the perplexity stage. The cheap metadata scoring
    gate (pipeline.scoring_gate_col) must never suppress scoring on a row
    that reaches langid."""
    import math

    from kneaddata_spark.pipeline import annotate, broadcast_models, scoring_gate_col

    df = spark.read.parquet(clips_path)
    ann = annotate(df, *broadcast_models(spark)).withColumn(
        "gate", scoring_gate_col()
    )
    got = {r["clip_id"]: r for r in ann.select("clip_id", "lang", "ppl", "drop_rule", "gate").collect()}
    mismatches = []
    for _, o in oracle_labels.iterrows():
        g = got[o["clip_id"]]
        if g["lang"] != o["expect_lang"]:
            mismatches.append((o["clip_id"], g["lang"], o["expect_lang"], g["drop_rule"]))
    assert mismatches == [], mismatches[:10]
    # ppl masked to NaN unless the row reached the perplexity stage
    for cid, g in got.items():
        if g["drop_rule"] not in (None, "perplexity"):
            assert math.isnan(g["ppl"]), (cid, g)
        # the gate is a superset of "reaches langid"
        if g["drop_rule"] in (None, "langid", "perplexity"):
            assert g["gate"], (cid, g)


def test_write_repartition_balance(spark, clips_path):
    """north_rule salting evidence: repartitioning on uniform
    xxhash64(clip_id) keeps the deliberately skewed codec corpus balanced,
    while keying by the skewed codec column (pcm_s16le ~52%) funnels most
    rows into few partitions."""
    df = spark.read.parquet(clips_path)

    def sizes(rep):
        rows = (
            rep.select(F.spark_partition_id().alias("pid"))
            .groupBy("pid")
            .count()
            .collect()
        )
        return [r["count"] for r in rows]

    by_hash = sizes(df.repartition(8, F.xxhash64("clip_id")))
    mean = sum(by_hash) / 8
    assert len(by_hash) == 8 and max(by_hash) <= 1.5 * mean, by_hash
    by_codec = sizes(df.repartition(8, "codec"))
    assert max(by_codec) >= 2 * mean, by_codec  # the skew the salt avoids


def test_audio_training_pipeline_composition(spark, clips_path, tmp_path):
    """The audio-axis assembly line end-to-end: QC (keep/trim) -> VAD
    segmentation of the KEPT clips -> length-bucketed batching of the
    segments -> leakage-safe split keyed by segment text identity. Checks
    the contracts compose: every segment comes from a kept clip, batches
    partition the segments exactly, dur accounting is consistent, and the
    split never separates clips sharing a transcript (the dup axis the
    split guards)."""
    from pyspark.sql import functions as F

    from kneaddata_spark.operators.corpus import leakage_safe_split, length_buckets
    from kneaddata_spark.operators.vad import vad_segments
    from kneaddata_spark.pipeline import run_qc

    res = run_qc(spark, spark.read.parquet(clips_path), str(tmp_path / "qc"))
    kept = spark.read.parquet(res.out_path).where("status = 'kept'")
    n_kept = kept.count()
    assert n_kept > 50

    segs = vad_segments(kept)
    seg_rows = segs.collect()
    assert len(seg_rows) >= n_kept // 2
    kept_ids = {r["clip_id"] for r in kept.select("clip_id").collect()}
    assert {r["clip_id"] for r in seg_rows} <= kept_ids

    seg_tbl = segs.withColumn(
        "seg_id", F.concat_ws("#", "clip_id", F.col("seg_idx").cast("string"))
    ).withColumn("dur", F.col("end_ms") - F.col("start_ms"))
    batches = length_buckets(seg_tbl, "seg_id", "dur", 8).collect()
    assert sum(r["n_items"] for r in batches) == len(seg_rows)
    assert all(r["pad_waste"] >= 0 for r in batches)

    split = leakage_safe_split(
        kept.select("clip_id", "transcript"), "clip_id", "transcript"
    )
    per_transcript = (
        split.groupBy("transcript")
        .agg(F.countDistinct("split").alias("k"))
        .agg(F.max("k"))
        .collect()[0][0]
    )
    assert per_transcript == 1
