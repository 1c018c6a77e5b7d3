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
