"""Session factory defaults that depend on the host."""

from __future__ import annotations

import ast
import os
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _mem_total_bytes(meminfo: str = "/proc/meminfo") -> int:
    with open(meminfo) as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise AssertionError("no MemTotal line")


def _gib(spec: str) -> int:
    assert spec.endswith("g"), spec
    return int(spec[:-1]) << 30


def test_default_heap_never_exceeds_memtotal(spark, tmp_path):
    """The default driver heap is half of MemTotal in whole GB (at least
    1g), so it never asks for more memory than the host has; the session
    requests it unless SPARK_GRAFT_DRIVER_MEM overrides."""
    from kneaddata_spark.session import default_driver_memory

    heap = default_driver_memory()
    assert 1 << 30 <= _gib(heap) <= _mem_total_bytes()
    if not os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        assert spark.sparkContext.getConf().get("spark.driver.memory") == heap

    for total_kb, want in [
        (1 << 20, "1g"),  # 1 GiB host: the 1g floor, still <= MemTotal
        (15_999_000, "7g"),  # a "16 GB" VM rounds down
        (64 << 20, "32g"),
    ]:
        f = tmp_path / "meminfo"
        f.write_text(f"MemFree:         1000 kB\nMemTotal:       {total_kb} kB\n")
        got = default_driver_memory(str(f))
        assert got == want
        assert _gib(got) <= _mem_total_bytes(str(f))


def test_default_cores_reads_affinity_unless_env_overrides(monkeypatch):
    """Task slots are the CPUs this process may run on (the affinity mask,
    here a 3-CPU stand-in), and SPARK_GRAFT_CPUS overrides them."""
    from kneaddata_spark.session import default_cores

    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5})
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cores() == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert default_cores() == 6


def _engine_sources():
    files = [REPO / "bench.py", *sorted((REPO / "tools").glob("*.py"))]
    return files + sorted((REPO / "kneaddata_spark").rglob("*.py"))


def test_only_the_session_reads_the_box():
    """session.py alone decides the session's shape: no other engine,
    tool or bench file reads SPARK_GRAFT_CPUS or passes get_spark a
    literal core count (bench_scaling's levels pass variables), and the
    session names no tmpfs spill dir of its own."""
    session = REPO / "kneaddata_spark" / "session.py"
    bad = []
    for path in _engine_sources():
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            where = f"{path.relative_to(REPO)}:{getattr(node, 'lineno', 0)}"
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                if path != session and node.value == "SPARK_GRAFT_CPUS":
                    bad.append(f"{where} reads SPARK_GRAFT_CPUS")
                if path == session and "/dev/shm" in node.value:
                    bad.append(f"{where} names /dev/shm")
            if isinstance(node, ast.Call) and "get_spark" in (
                getattr(node.func, "id", None), getattr(node.func, "attr", None)
            ):
                if any(k.arg == "cores" and isinstance(k.value, ast.Constant) for k in node.keywords):
                    bad.append(f"{where} passes get_spark a literal cores=")
    assert not bad, bad


def test_spill_dir_is_spark_default_unless_env_names_one(spark):
    """spark.local.dir is set only from SPARK_GRAFT_LOCAL_DIR; otherwise
    Spark's own default (SPARK_LOCAL_DIRS, else java.io.tmpdir) applies."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.local.dir", None) == (os.environ.get("SPARK_GRAFT_LOCAL_DIR") or None)


# benchmarked document queries whose rebuilds reuse every compiled class.
# dup_clusters and distinctive_terms are left out: AQE numbers their
# codegen stages in the order concurrent query stages finish, and the
# number is part of the generated class, so some rebuilds compile a few.
_REBUILT = (
    "minhash_dedup_pairs", "simhash_near_dups", "substring_dup_pairs",
    "paragraph_dedup", "pmi_collocations", "rollup_lattice",
)


def test_rebuilt_queries_reuse_compiled_classes(spark):
    """Rebuilding a query reuses its generated classes: the codegen cache
    holds a working set larger than Spark's default 100 entries, so a
    second pass over these queries compiles nothing. The first pass must
    compile more than 100 classes, or this would not tell the sizes apart."""
    from kneaddata_spark.plans.entry_queries import QUERIES
    from kneaddata_spark.session import codegen_compiles
    from test_partitioning import SF_DIR

    # the cache is JVM-wide, and earlier tests leave classes these queries
    # share in it; Spark has no public call to empty it, so go through
    # reflection, and the first pass compiles the whole working set
    module = spark.sparkContext._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    field = module.getDeclaredField("cache")
    field.setAccessible(True)
    field.get(None).loadingCache().invalidateAll()

    compiled = []
    for _ in range(2):
        before, _ms = codegen_compiles(spark)
        for name in _REBUILT:
            QUERIES[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
        compiled.append(codegen_compiles(spark)[0] - before)
    assert compiled[0] > 100, compiled
    assert compiled[1] == 0, compiled
