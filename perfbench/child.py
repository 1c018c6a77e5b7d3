"""One benchmark workload in one process and one Spark session.

``run.py`` starts this module in its own session and process group with the
box-safe environment already set; see ``run.py`` for the command line. Modes:

* ``prepare``: build the seeded input pool, its oracle labels and the
  document-query oracle answers (``inputs.build``).
* ``run``: set up Spark (JVM launch, model broadcast, warm-up), run the
  workload closed-loop and single-client for ``--seconds``, check the
  outputs against the oracles outside the timed region, and write the
  result JSON. With ``--trace 1``
  the run also makes one traced pass that times the calls into each module
  from outside (spans kept in memory, written at the end) and reports the
  per-layer metrics of ``metrics.PER_LAYER``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import time
from contextlib import contextmanager, nullcontext

from . import inputs
from .metrics import CODECS, DOC_QUERIES, DROP_RULES, PER_LAYER

T = time.perf_counter
# run_qc passes: untimed warm-up ones, then at least this many timed ones;
# run_qc keeps speeding up over its first few passes in a fresh JVM
BATCH_WARM, BATCH_REPS = 3, 4
PROBE_CLIPS = 24         # clips per codec for the audio kernel probe
PROBE_REPS = 3


class Tracer:
    """In-memory spans: name, start, end and parent span id."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": T(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = T()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"trace_id": self.trace_id, "spans": self.spans}, fh)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def fresh(path: str) -> str:
    """Remove a previous output and flush dirty pages (never timed)."""
    shutil.rmtree(path, ignore_errors=True)
    os.sync()
    return path


def session_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this session's processes:
    this interpreter, the JVM, the Python workers, and the exited children
    they waited for. Unlike the wall, it does not grow when other tenants
    of the machine take the CPU."""
    sid, total = os.getsid(0), 0
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(f[3]) == sid:  # stat fields 6 (session) and 14-17 (times)
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / os.sysconf("SC_CLK_TCK")


class Timer:
    """Wall and session CPU time of a ``with`` block."""

    def __enter__(self):
        self.cpu, self.wall = session_cpu_s(), T()
        return self

    def __exit__(self, *exc):
        self.wall = T() - self.wall
        self.cpu = session_cpu_s() - self.cpu


def timed_reps(seconds: float, min_reps: int, unit, warm: int = 0):
    """Closed loop: call ``unit()`` (which returns the Timer of its timed
    part and a result) ``warm`` times untimed, then until ``seconds`` have
    passed and at least ``min_reps`` ran. Returns the timers and the last
    result."""
    for _ in range(warm):
        unit()
    timers, result = [], None
    end = T() + seconds
    while len(timers) < min_reps or T() < end:
        timer, result = unit()
        timers.append(timer)
    return timers, result


# -------------------------------------------------------------- set-up ----


def set_up(tr: Tracer, workload: str, warm):
    """get_spark (which launches the JVM) + broadcast_models + a warm-up
    job that starts a Python worker per core."""
    from kneaddata_spark.pipeline import broadcast_models
    from kneaddata_spark.session import get_spark

    with tr.span("setup"):
        with tr.span("session.get_spark"):
            spark = get_spark(app=f"perfbench-{workload}")
        with tr.span("models.broadcast"):
            bc = broadcast_models(spark)
        with tr.span("setup.warm_up"):
            warm(spark, bc)
    return spark, bc


def warm_qc(cache: str):
    from kneaddata_spark.pipeline import annotate, qc_output_select

    def warm(spark, bc):
        n = min(spark.sparkContext.defaultParallelism, inputs.POOL_CHUNKS)
        files = [inputs.chunk_path(cache, c) for c in range(n)]
        noop(qc_output_select(annotate(spark.read.parquet(*files), *bc)))

    return warm


def warm_docs(sf: str):
    from kneaddata_spark.plans.entry_queries import QUERIES

    def warm(spark, bc):
        noop(QUERIES["dedup_exact"](spark, sf))
        spark.catalog.clearCache()

    return warm


# --------------------------------------------------------- correctness ----


def check_clips(spark, out_path: str, labels) -> dict:
    """Compare a QC output table with the oracle labels, clip by clip. A
    clip fails if it is missing, repeated, or its status (kept or drop
    rule) or scrubbed transcript differs from the oracle's."""
    got = spark.read.parquet(out_path).select("clip_id", "status", "transcript").toPandas()
    repeated = set(got.loc[got["clip_id"].duplicated(), "clip_id"])
    got = got.drop_duplicates("clip_id")
    exp = labels.assign(expect_status=labels["expect_drop_rule"].fillna("kept"))
    m = exp.merge(got, on="clip_id", how="left")
    same_text = (m["transcript"] == m["expect_transcript_scrubbed"]) | (
        m["transcript"].isna() & m["expect_transcript_scrubbed"].isna()
    )
    bad = m["status"].isna() | (m["status"] != m["expect_status"]) | ~same_text
    bad |= m["clip_id"].isin(repeated)
    extra = int((~got["clip_id"].isin(exp["clip_id"])).sum())
    kept, exp_kept = m["status"] == "kept", m["expect_status"] == "kept"
    tp = int((kept & exp_kept).sum())
    fp, fn = int((kept & ~exp_kept).sum()), int((~kept & exp_kept).sum())
    return {
        "attempted": len(exp) + extra,
        "failed": int(bad.sum()) + extra,
        "keep_f1": 2 * tp / (2 * tp + fp + fn) if tp + fp + fn else 1.0,
        "status_counts": {k: int(v) for k, v in got["status"].value_counts().items()},
    }


# -------------------------------------------------------------- qc_batch --


def qc_iteration(spark, bc, inp: str, out: str):
    from kneaddata_spark.pipeline import run_qc

    fresh(out)
    with Timer() as t:
        res = run_qc(spark, spark.read.parquet(inp), out, *bc)
    return t, res


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def probe_kernels(tr: Tracer, inp: str, bc) -> dict:
    """Per-clip cost of the Python kernels, called directly on the
    workload's clips in this process (outside Spark)."""
    import pandas as pd

    from kneaddata_spark.functions.audio import audio_features_batch
    from kneaddata_spark.functions.text import text_features_batch

    pdf = pd.read_parquet(inp)
    lid, ppl = bc[0].value, bc[1].value

    def per_item(name, n, fn):
        for _ in range(PROBE_REPS):
            with tr.span(name):
                fn()
        return 1e6 * statistics.median(tr.durations(name)) / n if n else 0.0

    out = {}
    for codec in CODECS:
        sub = pdf[pdf["codec"] == codec].head(PROBE_CLIPS)
        args = (
            sub["bytes"].to_numpy(), sub["codec"].to_numpy(),
            sub["sr_hz"].to_numpy(), sub["dur_ms"].to_numpy(),
        )
        out[f"audio.us_per_clip.{codec}"] = per_item(
            f"audio.{codec}", len(sub), lambda: audio_features_batch(*args)
        )
    texts = pdf["transcript"]
    out["text.us_per_clip"] = per_item(
        "text.features", len(texts), lambda: text_features_batch(texts, lid, ppl)
    )
    scored = [t for t in texts if t and t.strip()]
    out["models.langid_us_per_text"] = per_item(
        "models.langid", len(scored), lambda: lid.score_batch(scored)
    )
    out["models.ppl_us_per_text"] = per_item(
        "models.ppl", len(scored), lambda: ppl.ppl_batch(scored)
    )
    return out


def scan_probe(tr: Tracer, spark, inp: str) -> float:
    with tr.span("scan.clips_noop"):
        noop(spark.read.parquet(inp).select(
            "clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"))
    return tr.total("scan.clips_noop")


def run_qc_batch(ctx) -> dict:
    spark, bc, tr = ctx["spark"], ctx["bc"], ctx["tracer"]
    inp, out, labels = ctx["qc_input"], ctx["out"], ctx["qc_labels"]
    timers, res = timed_reps(
        ctx["seconds"], BATCH_REPS, lambda: qc_iteration(spark, bc, inp, out), warm=BATCH_WARM
    )
    walls = [t.wall for t in timers]
    check = check_clips(spark, res.out_path, labels)
    result = {"walls": walls, "cpus": [t.cpu for t in timers], "items": len(labels), "check": check}
    if ctx["trace"]:
        from kneaddata_spark.pipeline import annotate, qc_output_select, run_qc

        layers = probe_kernels(tr, inp, bc)
        layers["scan.clips_noop_s"] = scan_probe(tr, spark, inp)
        with tr.span("pipeline.annotate_noop"):
            noop(qc_output_select(annotate(spark.read.parquet(inp), *bc)))
        fresh(out)
        with tr.span("pipeline.run_qc"):
            res = run_qc(spark, spark.read.parquet(inp), out, *bc)
        run_qc_s = tr.total("pipeline.run_qc")
        layers["pipeline.n_kept"] = res.metrics["n_kept"]
        layers.update({f"pipeline.drop.{r}": res.metrics[f"drop_{r}"] for r in DROP_RULES})
        layers.update({
            "pipeline.annotate_noop_s": tr.total("pipeline.annotate_noop"),
            "pipeline.run_qc_s": run_qc_s,
            "pipeline.sink_s": run_qc_s - tr.total("pipeline.annotate_noop"),
            "pipeline.out_bytes_per_in_byte": dir_bytes(res.out_path) / dir_bytes(inp),
            "trace.overhead_s": run_qc_s - statistics.median(walls),
        })
        result["layers"] = layers
    return result


# ---------------------------------------------------------- doc queries ---


def check_queries(spark, root: str, order: list[str], oracles: dict) -> set:
    """The warm-up pass, untimed: collect every query and compare its row
    count, columns and value hash with the cached DuckDB answer. Returns
    the names of the queries that raised or disagreed."""
    from kneaddata_spark.plans.entry_queries import QUERIES

    sf, frame_hash = inputs.data_dir(root), inputs.check_oracles(root).frame_hash
    failed = set()
    for name in order:
        try:
            df = QUERIES[name](spark, sf)
            cols, rows = df.columns, [tuple(r) for r in df.collect()]
        except Exception as ex:  # a query that raises is a failed operation
            print(f"perfbench: query {name} raised: {str(ex)[:300]}", flush=True)
            failed.add(name)
            continue
        finally:
            spark.catalog.clearCache()
        want = oracles[name]
        if (len(rows), sorted(cols), frame_hash(cols, rows)) != (
            want["rows"], want["cols"], want["hash"]
        ):
            print(f"perfbench: query {name} differs from its oracle", flush=True)
            failed.add(name)
    return failed


def query_pass(spark, root: str, order: list[str], tr: Tracer | None = None):
    """One timed pass: each query is built and written to the noop sink
    (every column materialised, so Catalyst prunes nothing), then the cache
    is cleared, untimed. Returns the per-query walls and, on a traced pass,
    the per-query completed task counts."""
    from kneaddata_spark.plans.entry_queries import QUERIES

    sf, sc = inputs.data_dir(root), spark.sparkContext
    walls, tasks = {}, {}
    for name in order:
        if tr is not None:
            sc.setJobGroup(f"perfbench:{name}", name)
        with tr.span(f"q.{name}") if tr is not None else nullcontext():
            t0 = T()
            noop(QUERIES[name](spark, sf))
            walls[name] = T() - t0
        if tr is not None:  # read now: the status store keeps few jobs
            tasks[name] = group_tasks(spark, f"perfbench:{name}")
        spark.catalog.clearCache()
    if tr is not None:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return walls, tasks


def group_tasks(spark, group: str) -> int:
    st = spark.sparkContext.statusTracker()
    n = 0
    for job in st.getJobIdsForGroup(group):
        info = st.getJobInfo(job)
        for stage in info.stageIds if info else ():
            si = st.getStageInfo(stage)
            n += si.numCompletedTasks if si else 0
    return n


def run_doc_queries(ctx) -> dict:
    spark, tr, root = ctx["spark"], ctx["tracer"], ctx["root"]
    order = list(DOC_QUERIES)
    random.Random(ctx["seed"]).shuffle(order)
    failed = check_queries(spark, root, order, inputs.oracle_answers(ctx["cache"]))

    def one_pass():
        with Timer() as t:
            walls, _ = query_pass(spark, root, order)
        t.wall = sum(walls.values())  # the suite wall: without the clearCache calls
        print("perfbench: query walls s " + json.dumps({k: round(v, 3) for k, v in walls.items()}), flush=True)
        return t, walls

    timers, _ = timed_reps(ctx["seconds"], 1, one_pass)
    walls = [t.wall for t in timers]
    result = {
        "walls": walls,
        "cpus": [t.cpu for t in timers],
        "items": len(order),
        "check": {"attempted": len(order), "failed": len(failed)},
    }
    if ctx["trace"]:
        per_query, tasks = query_pass(spark, root, order, tr)
        layers = {f"q.{n}_s": s for n, s in per_query.items()}
        layers.update({f"q.{n}_tasks": k for n, k in tasks.items()})
        layers["trace.overhead_s"] = sum(per_query.values()) - statistics.median(walls)
        result["layers"] = layers
    return result


WORKLOADS = {
    "qc_batch": run_qc_batch,
    "doc_queries": run_doc_queries,
}


# ---------------------------------------------------------------- main ----


def prepare(root: str, work: str) -> None:
    from kneaddata_spark.session import get_spark

    spark = get_spark(app="perfbench-prepare")
    try:
        inputs.build(spark, root, inputs.cache_dir(root, work))
    finally:
        spark.stop()


def run(args) -> dict:
    root, work = os.getcwd(), args.work
    cache = inputs.cache_dir(root, work)
    tr = Tracer(f"{args.workload}-{args.seed}")
    ctx = {
        "root": root, "work": work, "cache": cache, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "tracer": tr,
        "out": os.path.join(work, "out", args.workload),
    }
    if args.workload == "doc_queries":
        warm = warm_docs(inputs.data_dir(root))
    else:
        warm = warm_qc(cache)
        ctx["qc_input"], ctx["qc_labels"] = inputs.window(cache, args.seed)
    t0 = T()
    spark, bc = set_up(tr, args.workload, warm)
    try:
        ctx.update(spark=spark, bc=bc)
        t1 = T()
        res = WORKLOADS[args.workload](ctx)
        t2 = T()
    finally:
        spark.stop()
    phases = {"setup": t1 - t0, "workload": t2 - t1, "stop": T() - t2}
    out = {
        "walls": res["walls"],
        "cpus": res["cpus"],
        "items": res["items"],
        "unit": "queries" if args.workload == "doc_queries" else "clips",
        "check": res["check"],
        "setup_s": tr.total("setup"),
        "phases": phases,
    }
    if args.trace:
        layers = dict.fromkeys(PER_LAYER, 0)
        layers.update({
            "session.get_spark_s": tr.total("session.get_spark"),
            "models.broadcast_s": tr.total("models.broadcast"),
        })
        layers.update(res["layers"])
        unknown = set(layers) - set(PER_LAYER)
        if unknown:
            raise RuntimeError(f"metrics missing from the catalogue: {sorted(unknown)}")
        out["layers"] = layers
        tr.dump(os.path.join(work, f"trace-{args.workload}-{args.seed}.json"))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["prepare", "run"])
    ap.add_argument("--work", required=True)
    ap.add_argument("--result")
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.mode == "prepare":
        prepare(os.getcwd(), args.work)
        return
    out = run(args)
    tmp = args.result + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(out, fh)
    os.replace(tmp, args.result)


if __name__ == "__main__":
    main()
