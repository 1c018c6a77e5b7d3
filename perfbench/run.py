"""Benchmark of the kneaddata_spark engine: QC batch and document queries,
end to end and per module.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (closed loop, one client, one Spark session on local[nproc]):

* ``qc_batch``: ``pipeline.run_qc`` over 120 MB (about 1,700) synth clips
  into the status-partitioned parquet sink.
* ``doc_queries``: 10 oracle-checked ``plans.entry_queries`` queries over
  the sf0.01 tables in ``perfbench/data``, each written to the noop sink.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics, or with
``--trace 1`` the per-layer metrics); ``perfbench/metrics.py`` lists them
with their units and what each should move. Lines before it record the box,
the engine settings chosen for it, the keep/drop F1 and the raw samples.

This script only manages processes. Each workload runs in
``perfbench/child.py``, in a new session whose every process (the Python
driver, the JVM, the Python workers) is waited for or killed before the
script exits; a survivor fails the run. The script configures the engine
only through its ``SPARK_GRAFT_*`` environment overrides, and keeps
everything it writes under ``.perfbench_work/`` in the checkout. The first
run in a checkout first builds the seeded input pool (about a minute).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")
RUN_TIMEOUT_S = 150       # the run must end within 180 s
PREPARE_TIMEOUT_S = 700   # the first run in a checkout may take 900 s
REAP_TIMEOUT_S = 15
MEM_PERIOD_S = 0.2


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def box() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024}


def engine_env(b: dict) -> dict:
    """Box-safe engine settings, through the engine's env overrides only:
    a heap of a quarter of RAM in whole GB, at most 4g (the 24g default is
    OOM-killed on a 15 GB box), shuffle/spill space on disk under the work
    directory (not /dev/shm, which is the same RAM), one task slot per
    core, and the checkout on PYTHONPATH so the Python workers can import
    the engine."""
    heap_gb = max(1, min(4, b["mem_total_mb"] // 4096))
    return {
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(WORK, "spark-local"),
        "SPARK_GRAFT_CPUS": str(b["nproc"]),
        "PYTHONPATH": ROOT,
    }


def session_pids(sid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:  # field 6 of stat: session id
            pids.append(int(d))
    return pids


def pss_mb(pids: list[int]) -> float:
    """Summed proportional set size: pages the forked Python workers share
    are counted once, not once per worker as a sum of RSS would."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                total_kb += next(int(l.split()[1]) for l in fh if l.startswith("Pss:"))
        except (OSError, StopIteration):
            pass
    return total_kb / 1024


def kill_session(sid: int) -> None:
    for pid in session_pids(sid):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run_child(args: list[str], env: dict, log: str, timeout_s: float) -> tuple[int, float]:
    """Run ``perfbench.child`` in a new session; sample the memory of every
    process of that session except the child's own interpreter (that is,
    the JVM and the Python workers); wait for all of them to exit. Returns
    the exit code and the peak memory in MB; raises if a process survives."""
    with open(log, "a") as fh:
        child = subprocess.Popen(
            [sys.executable, "-m", "perfbench.child", *args],
            cwd=ROOT, env=env, stdout=fh, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
    sid, peak, deadline, code = child.pid, 0.0, time.monotonic() + timeout_s, None
    try:
        while code is None:
            peak = max(peak, pss_mb([p for p in session_pids(sid) if p != sid]))
            try:
                code = child.wait(timeout=MEM_PERIOD_S)
            except subprocess.TimeoutExpired:
                if time.monotonic() > deadline:
                    kill_session(sid)
                    child.wait()
                    raise RuntimeError(f"timed out after {timeout_s:.0f} s; see {log}")
    finally:
        # the JVM and its Python workers can outlive the child briefly
        reap_by = time.monotonic() + REAP_TIMEOUT_S
        while session_pids(sid) and time.monotonic() < reap_by:
            time.sleep(0.1)
        left = session_pids(sid)
        if left:
            kill_session(sid)
            raise RuntimeError(f"processes {left} outlived the workload; killed them")
    return code, peak


def load_benchmark() -> dict:
    """BENCHMARK.json, checked against perfbench/metrics.py: both must list
    the same metrics with the same units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for key, catalogue in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        listed = {m["name"]: m["unit"] for m in bench[key]}
        if listed != {k: v[0] for k, v in catalogue.items()}:
            fail(f"BENCHMARK.json {key} disagrees with perfbench/metrics.py", 1)
    return bench


def main() -> None:
    bench = load_benchmark()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    for need in ("kneaddata_spark/pipeline.py", "tools/check_oracles.py", "perfbench/child.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            fail(f"{need} is missing: run from the root of a kneaddata_spark checkout")
    b = box()
    # Python temporary files go under the work directory too, and Spark's
    # own SPARK_LOCAL_DIRS would override the engine's local-dir setting
    env = dict(os.environ, **engine_env(b), TMPDIR=os.path.join(WORK, "tmp"))
    env.pop("SPARK_LOCAL_DIRS", None)
    os.makedirs(env["TMPDIR"], exist_ok=True)
    log = os.path.join(WORK, f"{args.workload}-{args.seed}.log")
    open(log, "w").close()
    result = os.path.join(WORK, f"result-{args.workload}-{args.seed}.json")
    if os.path.exists(result):
        os.remove(result)
    try:
        if not inputs.is_ready(inputs.cache_dir(ROOT, WORK)):
            prep, _ = run_child(["prepare", "--work", WORK], env, log, PREPARE_TIMEOUT_S)
            if prep != 0:
                fail(f"input preparation failed (exit {prep}); see {log}", 1)
        code, peak = run_child(
            ["run", "--work", WORK, "--result", result, "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            env, log, RUN_TIMEOUT_S,
        )
    except RuntimeError as ex:
        fail(str(ex), 1)
    if code != 0 or not os.path.exists(result):
        fail(f"workload failed (exit {code}); see {log}", 1)
    with open(result) as fh:
        res = json.load(fh)
    chk = res["check"]
    walls = res["walls"]
    print("perfbench: box " + json.dumps(b))
    print("perfbench: engine env " + json.dumps({k: v for k, v in engine_env(b).items() if k != "PYTHONPATH"}))
    print(f"perfbench: {args.workload} seed={args.seed} unit walls s={[round(w, 4) for w in walls]} "
          f"cpu s={[round(c, 2) for c in res['cpus']]} "
          f"setup s={res['setup_s']:.4f} peak_pss_mb={peak:.1f} phases s={json.dumps({k: round(v, 2) for k, v in res['phases'].items()})}")
    print(f"perfbench: {res['items']} {res['unit']} per unit: "
          f"{res['items'] / statistics.median(walls):.3f} {res['unit']}/s")
    if "keep_f1" in chk:
        print(f"perfbench: keep_f1={chk['keep_f1']:.6f} status_counts={json.dumps(chk['status_counts'])}")
    if args.trace:
        values = dict(res["layers"], **{"mem.peak_pss_mb": peak})
        metrics = {k: {"value": v, "unit": PER_LAYER[k][0]} for k, v in values.items()}
    else:
        values = {
            "wall_s": min(walls),
            "cpu_s": statistics.median(res["cpus"]),
            "setup_s": res["setup_s"],
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k][0]} for k, v in values.items()}
    print(json.dumps({
        "correct": chk["failed"] == 0,
        "attempted": chk["attempted"],
        "failed": chk["failed"],
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
