"""Streaming QC: availableNow micro-batch run must match the batch verdict
exactly, and the sink checkpoint must make re-triggering idempotent
(no duplicate rows when the same files are seen again)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def stream_dirs(spark, clips_path, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    src = str(base / "in")
    # stage the fixture clips as a multi-file directory source
    spark.read.parquet(clips_path).repartition(4).write.mode("overwrite").parquet(src)
    return src, str(base / "out"), str(base / "ckpt")


def test_stream_matches_batch(spark, stream_dirs, clips_path, tmp_path):
    from kneaddata_spark.pipeline import run_qc
    from kneaddata_spark.streaming import stream_qc
    from kneaddata_spark.streaming.qc_stream import status_counts

    src, out, ckpt = stream_dirs
    q = stream_qc(spark, src, out, ckpt)
    q.awaitTermination(300)

    batch = run_qc(spark, spark.read.parquet(clips_path), str(tmp_path / "batch"))
    got = {r["status"]: r["n"] for r in status_counts(spark, out).collect()}
    want = {r["status"]: r["n"] for r in (
        spark.read.parquet(batch.out_path).groupBy("status").agg(F.count("*").alias("n")).collect()
    )}
    assert got == want
    # kept rows carry scrubbed transcript + trimmed bytes, like the batch path
    kept = spark.read.parquet(out).where("status = 'kept'")
    assert kept.where(F.col("bytes").isNull() | F.col("transcript").isNull()).count() == 0


def test_stream_retrigger_idempotent(spark, stream_dirs):
    from kneaddata_spark.streaming import stream_qc

    src, out, ckpt = stream_dirs
    n_before = spark.read.parquet(out).count()
    q = stream_qc(spark, src, out, ckpt)  # same checkpoint: no new files
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == n_before


def test_stream_vad_matches_batch(spark, clips_path, tmp_path):
    """vad_segments is stateless per clip, so it composes directly into a
    Structured Streaming micro-batch plan: readStream over the same files
    must emit exactly the batch segment set (the stream==batch contract
    the QC pipeline holds, extended to the audio segmentation operator)."""
    from kneaddata_spark.operators.vad import vad_segments

    src = str(tmp_path / "vad_in")
    spark.read.parquet(clips_path).repartition(3).write.mode("overwrite").parquet(src)
    batch_df = spark.read.parquet(src)
    want = sorted(
        (r["clip_id"], r["seg_idx"], r["start_ms"], r["end_ms"], r["n_frames"])
        for r in vad_segments(batch_df).collect()
    )
    out = str(tmp_path / "vad_out")
    q = (
        vad_segments(spark.readStream.schema(batch_df.schema).parquet(src))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "vad_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = sorted(
        (r["clip_id"], r["seg_idx"], r["start_ms"], r["end_ms"], r["n_frames"])
        for r in spark.read.parquet(out).collect()
    )
    assert got == want and len(want) > 50


def test_stream_excise_equals_batch_and_idempotent(spark, tmp_path):
    """Streaming span excision == the batch operator over the union: two
    files, one with planted benchmark passages; per-doc outputs from the
    stream must equal excise_substrings run in batch on all docs, the
    per-batch metric rows must sum to the batch accounting, and
    re-triggering with the same checkpoint must change nothing."""
    from kneaddata_spark.operators.dedup import excise_substrings
    from kneaddata_spark.streaming.excise_stream import stream_excise

    passage = (
        "the benchmark answer key states that mitochondria are the "
        "powerhouse of the cell in every textbook"
    )
    bench = spark.createDataFrame([("q1", passage)], "doc_id string, text string")
    f0 = [("a0", "plain prose about rivers flowing gently through quiet "
                  "valleys beneath old stone bridges"),
          ("a1", "intro words " + passage + " outro words here")]
    f1 = [("b0", passage),
          ("b1", "another clean document describing careful bread baking "
                 "methods in small village kitchens")]

    src, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    import glob
    import os
    import shutil

    def stage(rows, name):
        tmp = src + "_stage_" + name
        spark.createDataFrame(rows, "doc_id string, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(tmp)
        os.makedirs(src, exist_ok=True)
        shutil.copy(glob.glob(tmp + "/part-*.parquet")[0], os.path.join(src, name))

    stage(f0, "f0.parquet")
    stage(f1, "f1.parquet")
    q = stream_excise(spark, src, out, ckpt, bench, max_files_per_trigger=1)
    q.awaitTermination(180)

    got = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_cut"], r["n_spans"])
        for r in spark.read.parquet(out + "/docs").collect()
    }
    both = spark.createDataFrame(f0 + f1, "doc_id string, text string")
    want = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_cut"], r["n_spans"])
        for r in excise_substrings(both, bench, "doc_id", "text").collect()
    }
    assert got == want
    assert got["a0"][2] == 0 and got["b1"][2] == 0     # clean docs intact
    assert got["b0"][0] == "" and got["a1"][2] > 0     # passages cut

    m = spark.read.parquet(out + "/metrics")
    agg = m.groupBy().sum("n_docs", "docs_touched", "toks", "cut").collect()[0]
    assert agg[0] == 4 and agg[1] == 2
    assert agg[2] == sum(v[1] for v in want.values())
    assert agg[3] == sum(v[2] for v in want.values())

    q2 = stream_excise(spark, src, out, ckpt, bench, max_files_per_trigger=1)
    q2.awaitTermination(120)
    got2 = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_cut"], r["n_spans"])
        for r in spark.read.parquet(out + "/docs").collect()
    }
    assert got2 == want


def test_stream_dedup_incremental_and_idempotent(spark, tmp_path):
    """Streaming ingest dedup == the sequential batch composition:
    two files processed one-per-trigger; file B repeats content from
    file A (cross-batch dup) and within itself (in-batch dup). The
    survivor set must equal running incremental_dedup_exact file-by-file
    in batch mode, the seen table must hold each content hash once, and
    re-triggering on the same checkpoint must change nothing."""
    import time

    from kneaddata_spark.streaming.dedup_stream import stream_dedup

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    seen = str(tmp_path / "seen")
    ckpt = str(tmp_path / "ckpt")

    a = [(f"a{i}", f"text number {i}") for i in range(10)]
    b = (
        [(f"b{i}", f"text number {i}") for i in range(5)]      # cross-batch dups
        + [(f"b{i}", f"fresh content {i}") for i in range(5)]  # new
        + [("b_dup1", "fresh content 0"), ("b_dup2", "fresh content 0")]  # in-batch
    )
    import glob
    import os
    import shutil

    def stage(rows, name):
        tmp = src + "_stage_" + name
        spark.createDataFrame(rows, "doc_id string, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(tmp)
        os.makedirs(src, exist_ok=True)
        shutil.copy(glob.glob(tmp + "/part-*.parquet")[0], os.path.join(src, name))

    stage(a, "f0.parquet")
    q0 = stream_dedup(spark, src, out, seen, ckpt, max_files_per_trigger=1)
    q0.awaitTermination(180)
    stage(b, "f1.parquet")
    # small settle so the directory listing sees the new file set
    time.sleep(0.2)
    q1 = stream_dedup(spark, src, out, seen, ckpt, max_files_per_trigger=1)
    q1.awaitTermination(180)

    got_ids = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    # batch replay of the same two-file sequence
    want_ids = {f"a{i}" for i in range(10)}
    # from b: the 5 "text number" rows are cross-batch dups (dropped);
    # "fresh content i" keeps one row each — b_dup1/b_dup2 lose to b0 on
    # min-id? ids are strings: "b0" < "b_dup1" (ord('0')=48 < ord('_')=95)
    want_ids |= {f"b{i}" for i in range(5)}
    assert got_ids == want_ids

    hashes = [r["h"] for r in spark.read.parquet(seen).collect()]
    assert len(hashes) == len(set(hashes)) == 15  # 10 + 5, each once
    # one trigger per staged file, each reporting that file's rows
    progress = q0.recentProgress + q1.recentProgress
    assert [p["numInputRows"] for p in progress] == [len(a), len(b)]

    n_before = spark.read.parquet(out).count()
    q2 = stream_dedup(spark, src, out, seen, ckpt, max_files_per_trigger=1)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == n_before
    hashes2 = [r["h"] for r in spark.read.parquet(seen).collect()]
    assert sorted(hashes2) == sorted(hashes)


def test_stream_distinct_registers_equal_batch_sketch(spark, tmp_path):
    """Streamed per-batch HLL register tables, max-merged at read time,
    must be REGISTER-IDENTICAL (zsum, est) to the batch sketch of the
    full union — and re-triggering with no new files changes nothing."""
    from kneaddata_spark.operators.sketches import hll_distinct
    from kneaddata_spark.streaming.distinct_stream import (
        distinct_estimate,
        stream_distinct,
    )

    src = str(tmp_path / "in")
    rows = [(i % 4000, ["a", "b"][i % 2]) for i in range(12000)]
    df = spark.createDataFrame(rows, ["uid", "grp"])
    df.repartition(3).write.mode("overwrite").parquet(src)

    regs_dir, ckpt = str(tmp_path / "regs"), str(tmp_path / "ckpt")
    q = stream_distinct(
        spark, src, regs_dir, ckpt, "uid bigint, grp string", "uid", ["grp"]
    )
    q.awaitTermination(300)

    got = {
        r["grp"]: (r["zsum"], r["est_distinct"])
        for r in distinct_estimate(spark, regs_dir, ["grp"]).collect()
    }
    want = {
        r["grp"]: (r["zsum"], r["est_distinct"])
        for r in hll_distinct(df, "uid", ["grp"]).collect()
    }
    assert got == want
    # 2000 distinct uids per group; raw HLL within 20%
    for z, est in got.values():
        assert abs(est - 2000) / 2000 < 0.20

    q2 = stream_distinct(
        spark, src, regs_dir, ckpt, "uid bigint, grp string", "uid", ["grp"]
    )
    q2.awaitTermination(120)
    got2 = {
        r["grp"]: (r["zsum"], r["est_distinct"])
        for r in distinct_estimate(spark, regs_dir, ["grp"]).collect()
    }
    assert got2 == got


def test_stream_cms_counters_equal_batch_sketch(spark, tmp_path):
    """Streamed per-batch CMS counter tables, sum-merged at read time,
    must be COUNTER-IDENTICAL to the batch sketch of the union; point
    estimates through the merged sketch match the batch path; replay
    with no new files changes nothing."""
    from pyspark.sql import functions as F

    from kneaddata_spark.operators.sketches import (
        cms_build,
        cms_estimate,
        mix32,
    )
    from kneaddata_spark.streaming.cms_stream import merged_sketch, stream_cms

    src = str(tmp_path / "in")
    rows = [(i % 900,) for i in range(8000)]
    df = spark.createDataFrame(rows, ["k"]).select(
        "k", mix32(F.col("k") % F.lit(1 << 32)).alias("__h32")
    )
    df.repartition(3).write.mode("overwrite").parquet(src)

    sk_dir, ckpt = str(tmp_path / "cms"), str(tmp_path / "ckpt")
    q = stream_cms(spark, src, sk_dir, ckpt, "k bigint, __h32 bigint", "__h32")
    q.awaitTermination(300)

    streamed = {
        (r["row"], r["col"]): r["cnt"] for r in merged_sketch(spark, sk_dir).collect()
    }
    batch = {
        (r["row"], r["col"]): r["cnt"]
        for r in cms_build(spark.read.parquet(src), "__h32").collect()
    }
    assert streamed == batch

    probes = (
        spark.read.parquet(src)
        .groupBy("k")
        .agg(F.count("*").alias("n_exact"), F.min("__h32").alias("__h32"))
        .orderBy(F.col("n_exact").desc(), F.col("k").asc())
        .limit(10)
    )
    got = cms_estimate(merged_sketch(spark, sk_dir), probes, "__h32").collect()
    for r in got:
        assert r["cms_est"] >= r["n_exact"]

    q2 = stream_cms(spark, src, sk_dir, ckpt, "k bigint, __h32 bigint", "__h32")
    q2.awaitTermination(120)
    streamed2 = {
        (r["row"], r["col"]): r["cnt"] for r in merged_sketch(spark, sk_dir).collect()
    }
    assert streamed2 == streamed


def test_stream_quantiles_equal_batch_sketch(spark, tmp_path):
    """Streamed per-batch log-histograms, sum-merged + rank-selected at
    read time, equal the batch quantile_sketch of the union exactly."""
    from kneaddata_spark.operators.sketches import quantile_sketch
    from kneaddata_spark.streaming.distinct_stream import (
        quantile_estimate,
        stream_quantiles,
    )

    src = str(tmp_path / "in")
    rows = [((i * 37) % 5000 + 1, ["x", "y"][i % 2]) for i in range(9000)]
    df = spark.createDataFrame(rows, ["v", "grp"])
    df.repartition(3).write.mode("overwrite").parquet(src)

    hist, ckpt = str(tmp_path / "hist"), str(tmp_path / "ckpt")
    q = stream_quantiles(
        spark, src, hist, ckpt, "v bigint, grp string", "v", ["grp"]
    )
    q.awaitTermination(300)

    key = lambda r: (r["grp"], r["q_permille"])
    got = {key(r): (r["bucket"], r["lo"], r["hi"], r["n_le"], r["n_total"])
           for r in quantile_estimate(spark, hist, ["grp"]).collect()}
    want = {key(r): (r["bucket"], r["lo"], r["hi"], r["n_le"], r["n_total"])
            for r in quantile_sketch(df, "v", ["grp"]).collect()}
    assert got == want and len(got) == 6


def test_stream_screen_matches_batch_and_idempotent(spark, clips_path, tmp_path):
    """The fused seven-verdict screen is stateless per clip, so the SAME
    plan under readStream must emit exactly the batch verdict rows
    (stream==batch, the qc_stream contract extended to the screen
    family), and re-triggering on the same checkpoint appends nothing."""
    from kneaddata_spark.operators.audioscreen import screen_audio
    from kneaddata_spark.streaming import stream_screen

    src = str(tmp_path / "scr_in")
    spark.read.parquet(clips_path).repartition(3).write.mode("overwrite").parquet(src)
    batch = {r["clip_id"]: r.asDict() for r in screen_audio(spark.read.parquet(src)).collect()}

    out, ckpt = str(tmp_path / "scr_out"), str(tmp_path / "scr_ckpt")
    q = stream_screen(spark, src, out, ckpt)
    q.awaitTermination(300)
    got = {r["clip_id"]: r.asDict() for r in spark.read.parquet(out).collect()}
    assert got == batch and len(batch) > 50
    # verdict columns from every screen family made it through the sink
    some = next(iter(got.values()))
    for col in ("snr_keep", "speechlike", "hum_keep", "narrowband",
                "rev_keep", "dr_keep", "rt60_ms", "dr_ratio_permille"):
        assert col in some

    n_before = spark.read.parquet(out).count()
    q2 = stream_screen(spark, src, out, ckpt)  # same checkpoint: no new files
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == n_before


def test_stream_drift_equal_batch_and_replay_safe(spark, tmp_path):
    """Streamed per-batch moment cells, merged at read time and joined
    against a pinned reference, must be ROW-IDENTICAL to the batch
    embedding_drift of the same snapshots (exact integers end-to-end);
    replay with no new files changes nothing."""
    import numpy as np
    from pyspark.sql import functions as F

    from kneaddata_spark.operators.similarity import (
        embedding_drift,
        quantized_dim_moments,
    )
    from kneaddata_spark.streaming.drift_stream import (
        drift_estimate,
        merged_moments,
        stream_drift_moments,
    )

    rng = np.random.RandomState(17)
    mk = lambda n, shift: [
        (i, [float(x) for x in (rng.randn(8) + shift)]) for i in range(n)
    ]
    ref = spark.createDataFrame(mk(300, 0.0), "vec_id long, embedding array<float>")
    cur = spark.createDataFrame(mk(500, 0.05), "vec_id long, embedding array<float>")

    src = str(tmp_path / "in")
    cur.repartition(4).write.mode("overwrite").parquet(src)
    mdir, ckpt = str(tmp_path / "moments"), str(tmp_path / "ckpt")
    q = stream_drift_moments(spark, src, mdir, ckpt)
    q.awaitTermination(300)

    ref_m = quantized_dim_moments(ref)
    got = {
        r["dim"]: tuple(r)[1:]
        for r in drift_estimate(spark, mdir, ref_m, min_delta_micro=10_000).collect()
    }
    want = {
        r["dim"]: tuple(r)[1:]
        for r in embedding_drift(ref, spark.read.parquet(src)).collect()
    }
    assert got == want and len(got) == 8
    assert any(v[-1] == 1 for v in got.values())  # the planted shift trips

    # replay: restart with no new input files -> merged cells unchanged
    before = {tuple(r) for r in merged_moments(spark, mdir).collect()}
    q2 = stream_drift_moments(spark, src, mdir, ckpt)
    q2.awaitTermination(300)
    after = {tuple(r) for r in merged_moments(spark, mdir).collect()}
    assert after == before


def test_stream_image_screen_cross_batch_and_replay(spark, tmp_path):
    """Streaming image ingest vs a GROWING perceptual index: one stream,
    one checkpoint, two triggers — batch 2's re-upload and near-dup of a
    batch-1 survivor are flagged, fresh images kept and indexed, replay
    with no new files idempotent."""
    import os

    import numpy as np

    from kneaddata_spark.multimodal import encode_bmp
    from kneaddata_spark.operators import caching
    from kneaddata_spark.streaming.image_stream import stream_image_screen

    caching.release_tracked()
    rng = np.random.RandomState(53)
    A = rng.randint(0, 256, (16, 16, 3), dtype=np.uint8)
    B = rng.randint(0, 256, (16, 16, 3), dtype=np.uint8)
    A1 = A.copy()
    A1[0, 0] = 255 - A1[0, 0]
    src = str(tmp_path / "in")
    os.makedirs(src)
    schema = "media_id string, bytes binary, mime string"
    spark.createDataFrame(
        [("orig_a", encode_bmp(A), "image/bmp"),
         ("orig_b", encode_bmp(B), "image/bmp")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    out, idx, ckpt = str(tmp_path / "out"), str(tmp_path / "idx"), str(tmp_path / "ck")
    q = stream_image_screen(spark, src, out, idx, ckpt)
    q.awaitTermination(300)
    spark.createDataFrame(
        [
            ("re_up_a", encode_bmp(A), "image/bmp"),
            ("near_a", encode_bmp(A1), "image/bmp"),
            ("fresh_c", encode_bmp(
                rng.randint(0, 256, (16, 16, 3), dtype=np.uint8)), "image/bmp"),
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    q2 = stream_image_screen(spark, src, out, idx, ckpt)
    q2.awaitTermination(300)

    verdicts = {
        r["media_id"]: r["status"] for r in spark.read.parquet(out).collect()
    }
    assert verdicts == {
        "orig_a": "kept",
        "orig_b": "kept",
        "re_up_a": "flagged",
        "near_a": "flagged",
        "fresh_c": "kept",
    }
    # index holds exactly the survivors' band rows (3 images x 4 bands)
    assert spark.read.parquet(idx).count() == 12
    # replay with the same checkpoint and no new files: nothing changes
    q3 = stream_image_screen(spark, src, out, idx, ckpt)
    q3.awaitTermination(300)
    after = {
        r["media_id"]: r["status"] for r in spark.read.parquet(out).collect()
    }
    assert after == verdicts
    # every micro-batch's tracked pins were released when the batch ended
    assert caching._LIVE == []


def test_only_the_runner_starts_streams():
    """Every stream in kneaddata_spark/streaming/ is read, triggered and
    written through runner.py; no other module there touches the
    readStream/writeStream API, and no function takes an available_now
    switch (the runner always uses availableNow)."""
    import ast
    import glob
    import os

    import kneaddata_spark.streaming as pkg

    api = {"readStream", "writeStream", "trigger", "foreachBatch"}
    touched, switches, rate_caps = set(), [], set()
    for path in glob.glob(os.path.join(os.path.dirname(pkg.__file__), "*.py")):
        name = os.path.basename(path)
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if (isinstance(node, ast.Attribute) and node.attr in api) or (
                isinstance(node, ast.Name) and node.id in api
            ):
                touched.add(name)
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                params = a.posonlyargs + a.args + a.kwonlyargs
                if any(p.arg == "available_now" for p in params):
                    switches.append(f"{name}:{node.name}")
                if any(p.arg == "max_files_per_trigger" for p in params):
                    rate_caps.add(f"{name}:{node.name}")
    assert touched == {"runner.py"}
    assert switches == []
    # the rate cap stays only where a cross-batch test needs one file
    # per micro-batch
    assert rate_caps == {
        "runner.py:source",
        "dedup_stream.py:stream_dedup",
        "excise_stream.py:stream_excise",
        "shard_stream.py:stream_webdataset",
    }
