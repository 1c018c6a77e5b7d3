"""Profile one or more driver queries: wall time (noop-count methodology
matching bench.py) + .explain('formatted') dumps.

Usage: python tools/profile_query.py <sf_dir> <name> [<name> ...]
       [--reps N] [--plans-dir DIR]

Times fn(spark, sf).count() like bench.py (best-of-reps, clearCache
between reps) and writes the formatted plan to <plans-dir>/<name>.txt.
Next to each rep's wall it prints the generated classes that rep compiled
and the milliseconds spent compiling them: a rebuild that finds its classes
in the session's codegen cache reads 0 from rep 2 on.
This is the round-6 optimization measurement harness (guide §1) — kept
OUT of bench.py, which is frozen for driver measurement.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    reps = 2
    plans_dir = None
    argv = sys.argv[1:]
    for i, a in enumerate(argv):
        if a == "--reps":
            reps = int(argv[i + 1])
            args.remove(argv[i + 1])
        elif a == "--plans-dir":
            plans_dir = argv[i + 1]
            args.remove(plans_dir)
    sf_dir, names = args[0], args[1:]

    from kneaddata_spark.plans.entry_queries import QUERIES
    from kneaddata_spark.session import codegen_compiles, get_spark

    from pyspark.sql import functions as F

    spark = get_spark(app="profile")
    spark.range(1_000_000).select(F.sum("id")).collect()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).collect()

    for name in names:
        fn = QUERIES[name]
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            import contextlib
            import io

            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(plans_dir, f"{name}.txt"), "w") as f:
                f.write(buf.getvalue())
            spark.catalog.clearCache()
        walls = []
        for rep in range(1, reps + 1):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"profile:{name}")
            c0, ms0 = codegen_compiles(spark)
            t0 = time.time()
            n = fn(spark, sf_dir).count()
            walls.append(round(time.time() - t0, 3))
            c1, ms1 = codegen_compiles(spark)
            print(f"{name} rep {rep}: {walls[-1]}s, compiled {c1 - c0} classes in {ms1 - ms0:.0f} ms", flush=True)
        print(f"{name}: {n} rows, reps {walls} -> best {min(walls)}s", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
