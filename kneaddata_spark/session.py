"""SparkSession factory tuned for this engine (local-mode test harness;
the same conf block is what a spark-submit --py-files cluster launch uses,
minus master/driver-memory)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half of the host's MemTotal in whole GB, at least 1g. A local-mode
    driver heap larger than the box lets the JVM grow until the kernel
    OOM-kills it mid-sweep; half leaves room for the python workers and
    the page cache."""
    with open(meminfo) as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{max(1, kb // (2 * 1024 * 1024))}g"


def default_cores() -> int:
    """Task slots: $SPARK_GRAFT_CPUS, else the CPUs this process may run
    on. The affinity mask, not os.cpu_count(), so a container or taskset
    limit is honoured; and not `nproc`, which also honours
    OMP_NUM_THREADS (set to 1 below for the python workers)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(app: str = "kneaddata_spark", cores: int | None = None) -> SparkSession:
    # one python worker per core is the parallelism unit; BLAS/OpenMP fan-out
    # inside numpy would oversubscribe and wreck N->4N scaling
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(v, "1")
    cores = cores or default_cores()
    shuffle_parts = max(8, cores)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config(
            # vectorized parquet batches are sized in ROWS (default 4096);
            # audio rows carry ~100 KB binary payloads, so a 4096-row
            # column vector asks for ~100+ MB of contiguous heap PER TASK
            # and 32 concurrent scan tasks OOM any reasonable driver heap
            # (observed reading the 40k-clip table after a 90-query
            # session). 1024 rows keeps fat-binary scans at ~tens of MB
            # per task; measured neutral for thin relational scans (512
            # cost dup_clusters ~15%).
            "spark.sql.parquet.columnarReaderBatchSize",
            "1024",
        )
        .config(
            # small corpora must still split into >= cores tasks; at real
            # scale the default 128m is right
            "spark.sql.files.maxPartitionBytes",
            "32m",
        )
        .config("spark.ui.enabled", "false")
        .config(
            # the JVM-wide cache of Janino-compiled generated classes,
            # keyed by the generated source. Spark's default of 100 is
            # below what this engine repeats: one sf0.001 sweep of the
            # 195 entry queries compiles ~2,200 distinct classes, and
            # the 10 benchmarked document queries ~300. At 100 the LRU
            # evicts every class before its query comes round again, so
            # each rebuild pays Janino (and the JIT) afresh: a second
            # sweep compiled ~3,000 classes. 4096 holds the whole surface
            # with headroom, for ~11 MB more Metaspace and ~17 MB more
            # code heap after two sweeps. Static conf: read at JVM start.
            # Re-measure (tools/profile_query.py prints per-rep compiles)
            # before lowering it.
            "spark.sql.codegen.cache.maxEntries",
            "4096",
        )
        .config(
            # r6 sweep-churn fix (guide §5): a 150+-query sweep in ONE
            # session accumulates unreferenced localCheckpoint blocks
            # (dup_clusters rounds), broadcast relations and shuffle
            # files until a driver GC lets ContextCleaner reap them —
            # the default 30min periodic GC means they pile up for the
            # whole sweep, inflating storage/execution memory pressure
            # for every later query. 2min bounds the backlog at any
            # scale (long-running production drivers want this too).
            "spark.cleaner.periodicGC.interval",
            "2min",
        )
        # r6: bound the in-memory status store (kept even with the UI
        # off). Defaults retain 1000 SQL executions with full plan-graph
        # strings + 100k task rows; this repo's generated plans are huge
        # (64-aggregate SimHash, unrolled PageRank), so a long sweep
        # holds hundreds of MB of dead metadata in old-gen. Caps are
        # scale-independent driver hygiene.
        .config("spark.sql.ui.retainedExecutions", "50")
        .config("spark.ui.retainedJobs", "200")
        .config("spark.ui.retainedStages", "400")
        .config("spark.ui.retainedTasks", "20000")
        .config("spark.ui.retainedDeadExecutors", "10")
    )
    # shuffle files, spills and broadcast temp go to Spark's default dir
    # (SPARK_LOCAL_DIRS, else java.io.tmpdir) unless SPARK_GRAFT_LOCAL_DIR
    # names one; not to a tmpfs, whose pages come out of the same RAM as
    # the heap and the python workers
    if local_dir := os.environ.get("SPARK_GRAFT_LOCAL_DIR"):
        b = b.config("spark.local.dir", local_dir)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """(generated classes compiled, milliseconds spent compiling them)
    since this JVM started. A cache hit compiles nothing, so the
    difference across a rebuilt query counts its codegen cache misses."""
    jvm = spark.sparkContext._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return n, ns / 1e6
