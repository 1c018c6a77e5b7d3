"""Session factory defaults that depend on the host."""

from __future__ import annotations

import os


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
