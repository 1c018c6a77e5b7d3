"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01; compare row count,
column names, and an order-insensitive value hash. At the end it prints the
generated classes the sweep compiled and the JVM's used Metaspace and code
heaps, the memory that the session's codegen cache costs. Usage:

    python tools/check_oracles.py [sf_dir] [name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def frame_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    import __spark_entry__ as entry

    from kneaddata_spark.session import codegen_compiles, get_spark

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
            spark.catalog.clearCache()  # release per-query cached intermediates
        except Exception as ex:
            print(f"FAIL {name}: spark error {str(ex)[:300]}")
            n_fail += 1
            continue
        el = time.time() - t0
        if name not in oracles:
            print(f"ok(rows-only) {name}: {len(rows)} rows  {el:.1f}s")
            n_pass += 1
            continue
        try:
            o = con.sql(oracles[name])
            ocols = [c for c in o.columns]
            orows = o.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error {str(ex)[:300]}")
            n_fail += 1
            continue
        problems = []
        if len(rows) != len(orows):
            problems.append(f"rows {len(rows)} vs {len(orows)}")
        if sorted(cols) != sorted(ocols):
            problems.append(f"cols {sorted(cols)} vs {sorted(ocols)}")
        if not problems:
            h1, h2 = frame_hash(cols, rows), frame_hash(ocols, orows)
            if h1 != h2:
                problems.append(f"value hash {h1} vs {h2}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"ok {name}: {len(rows)} rows  {el:.1f}s")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    n_classes, compile_ms = codegen_compiles(spark)
    print(f"codegen: {n_classes} classes compiled in {compile_ms / 1000:.1f} s")
    for pool in spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if pool.getName() == "Metaspace" or pool.getName().startswith("CodeHeap"):
            usage = pool.getUsage()
            cap = f" of {usage.getMax() / 2**20:.0f} MB" if usage.getMax() > 0 else ""
            print(f"jvm {pool.getName()}: {usage.getUsed() / 2**20:.1f} MB used{cap}")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
