"""The one fixture cache (entry_queries.cached): a directory per key,
published by one atomic rename, and no Spark job behind any fixture a
query build reads."""

from __future__ import annotations

import importlib.util
import os

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture
def root(tmp_path, monkeypatch):
    from kneaddata_spark.plans import entry_queries

    monkeypatch.setattr(entry_queries, "_FIXTURE_ROOT", str(tmp_path))
    return tmp_path


def _counting_build(calls):
    def build(d):
        calls.append(d)
        with open(os.path.join(d, "part-0.txt"), "w") as f:
            f.write("x")

    return build


def test_same_key_builds_once(root):
    from kneaddata_spark.plans.entry_queries import cached

    calls = []
    first = cached("t", _counting_build(calls), 400, 8)
    assert cached("t", _counting_build(calls), 400, 8) == first
    assert len(calls) == 1
    assert os.listdir(first) == ["part-0.txt"]
    assert os.listdir(root) == [os.path.basename(first)]  # no temp left


def test_key_parameters_and_generator_source_name_the_directory(root, tmp_path):
    from kneaddata_spark.plans.entry_queries import cached, generator_sources

    gen = tmp_path / "gen_mod.py"
    gen.write_text("def row(i):\n    return i\n")
    spec = importlib.util.spec_from_file_location("gen_mod", gen)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    calls = []
    a = cached("t", _counting_build(calls), 400, 8, *generator_sources(mod))
    assert cached("t", _counting_build(calls), 300, 8, *generator_sources(mod)) != a
    assert cached("t", _counting_build(calls), 400, 4, *generator_sources(mod)) != a
    gen.write_text("def row(i):\n    return i + 1\n")  # a generator edit
    edited = cached("t", _counting_build(calls), 400, 8, *generator_sources(mod))
    assert edited != a
    assert len(calls) == 4


def test_failed_build_publishes_nothing(root):
    from kneaddata_spark.plans.entry_queries import cached

    def broken(d):
        with open(os.path.join(d, "part-0.txt"), "w") as f:
            f.write("half")
        raise RuntimeError("generator failed")

    with pytest.raises(RuntimeError):
        cached("t", broken, 1)
    assert os.listdir(root) == []
    calls = []
    path = cached("t", _counting_build(calls), 1)
    assert len(calls) == 1 and os.listdir(path) == ["part-0.txt"]


def test_concurrent_builders_publish_one_directory(root):
    """Writers racing on one key all get the one published directory,
    holding exactly one writer's complete files; the losers' copies go."""
    import threading

    from kneaddata_spark.plans.entry_queries import cached

    n = 8
    start, in_build, got = threading.Barrier(n), threading.Barrier(n), []

    def build(d):
        in_build.wait(timeout=10)  # every writer missed: all of them build
        for i in range(3):
            with open(os.path.join(d, f"part-{i}.txt"), "w") as f:
                f.write(threading.current_thread().name)

    def worker():
        start.wait(timeout=10)
        got.append(cached("t", build, 1))

    threads = [threading.Thread(target=worker, name=f"w{i}") for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert not any(t.is_alive() for t in threads)
    assert len(got) == n and len(set(got)) == 1
    assert os.listdir(root) == [os.path.basename(got[0])]
    writers = {open(os.path.join(got[0], f)).read() for f in os.listdir(got[0])}
    assert len(writers) == 1 and len(os.listdir(got[0])) == 3


def test_query_builds_run_no_fixture_job(spark, root):
    """From an empty fixture root, building the 400-clip, 300-clip,
    crawled-audio and documents (`_t` split) queries writes their fixtures
    and reads every table without a Spark job."""
    from kneaddata_spark.plans.entry_queries import QUERIES

    sc = spark.sparkContext
    group = "fixture-cache-test"
    sc.setJobGroup(group, "query builds from a cold fixture cache")
    try:
        for name in ("hum_screen", "audio_dup_pairs", "warc_audio_qc", "dedup_exact"):
            QUERIES[name](spark, SF_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    built = sorted(p.split("_")[0] for p in os.listdir(root))
    assert built == ["clips", "clips", "split", "warc"], built


def test_t_schema_is_the_inferred_schema(spark, root):
    """_t derives each table's schema from its parquet footer; it equals
    the schema Spark infers, timestamp_ntz columns included."""
    from kneaddata_spark.plans.entry_queries import _t

    names = sorted(f[: -len(".parquet")] for f in os.listdir(SF_DIR))
    assert {"documents", "events", "lineitem", "orders"} <= set(names)
    for name in names:
        inferred = spark.read.parquet(f"{SF_DIR}/{name}.parquet").schema
        assert _t(spark, SF_DIR, name).schema == inferred, name

