"""Benchmark of the valentinus_spark collection API: one workload, one run.

    python3 perfbench/run.py --workload churn --seed 1 --seconds 18 --trace 0

Run it from the root of a checkout (the directory holding
``valentinus_spark/``). It builds a fresh warehouse and Spark scratch space
under ``.perfbench_run/``, generates its inputs from ``--seed``, sets the
collection up, measures for ``--seconds``, checks every answer against a
numpy oracle and prints one JSON object as the last line of stdout:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
The run record (sizes, load before and after, sample counts) and, for a
traced run, the spans go to ``.perfbench_out/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shlex
import shutil
import signal
import sys
import time
from collections import Counter

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("scan_search", "churn")
HEAP = "2g"  # the Spark JVM heap, initial = maximum


def cpu_probe() -> float:
    """Seconds for a fixed pure-Python hashing loop (best of 3): a marker of
    how loaded the machine is, independent of the program."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        for i in range(50_000):
            hashlib.sha256(b"%d" % i).digest()
        best = min(best, time.perf_counter() - t0)
    return best


def cpu_ticks() -> list[int]:
    """Machine-wide ``cpu`` line of /proc/stat: user nice system idle
    iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def load_marker() -> dict:
    return {"loadavg": list(os.getloadavg()), "cpu_probe_s": cpu_probe(), "ticks": cpu_ticks()}


def hygiene(run_dir: str) -> None:
    """Fresh scratch space inside the checkout; everything Spark, the JVM
    and Python write goes under ``run_dir``."""
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("local", "tmp", "sql"):
        os.makedirs(os.path.join(run_dir, sub))
    tmp = os.path.join(run_dir, "tmp")
    # a fixed heap (initial = max) keeps GC sizing, and so latency and
    # resident memory, from drifting between runs
    java_opts = f"-Xms{HEAP} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
    os.environ.update(
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=tmp,
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=HEAP,
        PYSPARK_SUBMIT_ARGS=shlex.join([
            "--driver-java-options", java_opts,
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(run_dir, 'sql')}",
            "pyspark-shell",
        ]),
    )


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        tree.setdefault(ppid, []).append(int(name))
    return tree


def descendants(pid: int) -> list[int]:
    tree, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(tree.get(p, []))
    return out


def _status(pid: int, field: str) -> str | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return line.split()[1]
    except OSError:
        pass
    return None


def peak_rss_mb(jvm_pid: int) -> dict[str, float]:
    """``VmHWM`` of this process, the Spark JVM and its Python workers."""
    hwm = {p: int(_status(p, "VmHWM") or 0) / 1024.0 for p in [os.getpid()] + descendants(jvm_pid)}
    return {"client": hwm.pop(os.getpid()), "jvm": hwm.pop(jvm_pid, 0.0), "workers": sum(hwm.values())}


def _alive(pid: int) -> bool:
    state = _status(pid, "State")
    return state is not None and not state.startswith("Z")


def stop_spark(spark) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes) and
    wait until it and every Python worker it started are gone."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    pids = descendants(proc.pid) if proc else []
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        while any(_alive(p) for p in pids) and time.time() < deadline:
            time.sleep(0.1)
        for p in pids:
            if _alive(p):
                os.kill(p, signal.SIGKILL)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "valentinus_spark", "collection.py")):
        print("perfbench: run from the root of a checkout holding valentinus_spark/", file=sys.stderr)
        return 2

    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(ROOT, ".perfbench_run", tag)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    hygiene(run_dir)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import E2E_METRICS, LAYER_METRICS, Run

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    run.record["load_before"] = load_marker()
    spark = None
    phases = run.record["phase_s"] = {}
    t0 = time.perf_counter()

    def mark(name):
        phases[name] = time.perf_counter() - t0 - sum(phases.values())

    try:
        run.generate()
        run.start_session()
        spark = run.spark
        mark("start")
        run.setup()
        mark("setup")
        run.timed_phase()
        mark("timed")
        # before the checks, which allocate in this process too
        rss = run.record["peak_rss_mb"] = peak_rss_mb(spark.sparkContext._gateway.proc.pid)
        errors = run.check()
        mark("check")
        if args.trace:
            metrics = run.per_layer(run.probe_layers())
        else:
            metrics = run.end_to_end(sum(rss.values()))
        mark("metrics")
        want = LAYER_METRICS if args.trace else E2E_METRICS
        if set(metrics) != set(want):
            raise RuntimeError(f"metric set {sorted(metrics)} != {sorted(want)}")
        bad = [k for k, (v, _u) in metrics.items() if not math.isfinite(v)]
        if bad:
            raise RuntimeError(f"metrics without a finite value: {bad}")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        mark("stop")
    run.record["load_after"] = load_marker()
    busy = [b - a for a, b in zip(run.record["load_before"]["ticks"], run.record["load_after"]["ticks"])]
    run.record["steal_share"] = busy[7] / max(1, sum(busy))
    failed = sum(not op["ok"] for op in run.ops)
    run.record.update(
        setup_times_s=run.setup_times,
        samples=Counter(op["kind"] for op in run.ops),
        errors=errors[:50],
        ops=[(op["kind"], round(op["ms"], 3), op["ok"]) for op in run.ops],
        metrics=metrics,
    )
    with open(os.path.join(out_dir, tag + ".json"), "w") as f:
        json.dump(run.record, f, indent=1, default=str)
    if args.trace:
        run.tracer.dump(os.path.join(out_dir, tag + ".spans.json"), {"workload": args.workload, "seed": args.seed})
    for e in errors[:20]:
        print("perfbench: wrong answer:", e, file=sys.stderr)
    print(f"perfbench: {json.dumps(run.record['samples'])} load {run.record['load_before']} -> "
          f"{run.record['load_after']}", file=sys.stderr)
    # the host's share of CPU time taken by other VMs during the run: when two
    # sets of runs disagree, this line tells a slow host from a slow program
    print(f"perfbench: steal_share {run.record['steal_share']:.4f} loadavg "
          f"{run.record['load_before']['loadavg'][0]:.2f} -> {run.record['load_after']['loadavg'][0]:.2f}")
    result = {
        "correct": not errors and failed == 0,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
