#!/usr/bin/env python3
"""dp3_spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 10 --trace 0

Run from the repository root.  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` wraps each layer's public functions in spans, turns
on Spark's event log and prints the per-layer metrics instead, writing the
spans, the per-layer figures and the tracing overhead (traced end-to-end
minus the last untraced run of the same workload) to
``perfbench/.work/results/``.  The last stdout line is always the result:
``{"correct", "attempted", "failed", "metrics"}``.  Workloads, sizes and
metric definitions are in ``perfbench/spec.py``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# import the benchmark's modules as perfbench.*, never as top-level names
# (perfbench/trace.py would shadow the standard library's trace)
sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != HERE]


def pin_env(work: str) -> dict:
    """Pin the run environment before Spark starts; Python workers inherit
    it through the JVM, so they import dp3_spark from this checkout even
    when the benchmark is launched from elsewhere."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    # the session default (48g) exceeds small hosts; a quarter of RAM,
    # capped at 4g, is ample for these sizes
    driver_gb = max(1, min(4, mem_kb // (4 << 20)))
    tmp = os.path.join(work, "tmp")
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{driver_gb}g",
        "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
    }
    os.environ.update(env)
    sys.path.insert(0, ROOT)
    return env


def host_stamp() -> dict:
    import numpy as np

    def cpu_times():
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]

    # single-thread CPU canary: a fixed numpy loop, best of 3
    x = np.arange(1_000_000, dtype=np.float64) * 1e-6
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        y = x
        for _ in range(4):
            y = np.sin(y) + np.cos(x)
        best = min(best, time.perf_counter() - t0)
    return {"load1": os.getloadavg()[0], "canary_1t_s": best, "cpu_times": cpu_times()}


def steal_pct(t0: list[int], t1: list[int]) -> float:
    d = [b - a for a, b in zip(t0, t1)]
    return 100.0 * d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for ln in f:
            if ln.startswith("VmHWM:"):
                return int(ln.split()[1]) / 1024.0
    return 0.0


def _processes() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, state) of every process, from /proc."""
    table = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            table[int(d)] = (int(fields[1]), fields[0])
    return table


def descendants(root: int) -> set[int]:
    table = _processes()
    found, todo = set(), [root]
    while todo:
        parent = todo.pop()
        for pid, (ppid, _) in table.items():
            if ppid == parent and pid not in found:
                found.add(pid)
                todo.append(pid)
    return found


def live(pids) -> set[int]:
    table = _processes()
    return {p for p in pids if p in table and table[p][1] not in "ZX"}


def end_processes(grace_s: float = 30.0) -> None:
    """End the Spark JVM and every process started under this one, and wait
    until each has ended.  The JVM exits when its stdin closes and takes
    its Python workers with it; whatever is left after ``grace_s`` is
    killed."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    if gateway is not None:
        with contextlib.suppress(Exception):
            gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()
            try:
                proc.wait(timeout=grace_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + grace_s
    while live(pids) and time.monotonic() < deadline:
        time.sleep(0.05)
    for pid in live(pids):
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)
    deadline = time.monotonic() + 10
    while live(pids) and time.monotonic() < deadline:
        time.sleep(0.05)


def start_session(extra_conf: dict):
    """Cold session start, timed until the first job has run."""
    from dp3_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=extra_conf)
    spark.range(1).write.format("noop").mode("overwrite").save()
    return spark, time.perf_counter() - t0


def end_to_end(o, session_s: float) -> dict:
    from perfbench import spec

    busy = o.busy_s or 1e-9
    values = {
        "setup_s": o.setup_s(session_s),
        "ops_per_s": len(o.op_ms) / busy,
        "items_per_s": o.items / busy,
        "op_p50_ms": statistics.median(o.op_ms) if o.op_ms else 0.0,
    }
    return {n: {"value": values[n], "unit": u} for n, u, *_ in spec.END_TO_END}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--wrong", action="store_true",
                    help="self-test: check against deliberately wrong expected answers")
    args = ap.parse_args()

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    env = pin_env(work)
    import dp3_spark  # noqa: F401  fail fast (exit 1) outside a dp3_spark checkout

    os.makedirs(env["TMPDIR"], exist_ok=True)

    from perfbench import layers, spec
    from perfbench.workloads import WORKLOADS, Ctx, pct

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    stamp0 = host_stamp()
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env['TMPDIR']}",
    }
    eventlog = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(eventlog)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": eventlog,
            "spark.eventLog.compress": "false",
        })
    spark = None
    try:
        spark, session_s = start_session(extra)
        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark.sparkContext)
            tracer.install()
        ctx = Ctx(spark, work, args.seed, args.seconds, wrong=args.wrong, tracer=tracer)
        outcome = WORKLOADS[args.workload](ctx)
        jvm = spark._jvm
        hwm = {"jvm": vm_hwm_mb(jvm.java.lang.ProcessHandle.current().pid()), "python": vm_hwm_mb("self")}
        run_figures = {
            "session.start_ms": session_s * 1e3,
            "session.peak_rss_mb": sum(hwm.values()),
            "spark.gc_ms": sum(
                b.getCollectionTime()
                for b in jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
            ),
        }
        versions = {
            "spark": spark.version,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
        }
        if tracer is not None:
            tracer.uninstall()
        spark.stop()
        spark = None
        end_processes()
        e2e = end_to_end(outcome, session_s)
        q = spec.TAIL_PERCENTILE[args.workload]
        outcome.details["op_tail"] = {"percentile": q, "ms": pct(outcome.op_ms, q), "samples": len(outcome.op_ms)}
        stamp1 = host_stamp()
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "env": env, "versions": versions,
            "host": {
                "load1_start": stamp0["load1"], "load1_end": stamp1["load1"],
                "steal_pct": steal_pct(stamp0["cpu_times"], stamp1["cpu_times"]),
                "canary_1t_s": min(stamp0["canary_1t_s"], stamp1["canary_1t_s"]),
            },
            "session_s": session_s, "setup_reps_s": outcome.setup_reps, "vm_hwm_mb": hwm,
            "ops": len(outcome.op_ms), "op_ms": outcome.op_ms, "errors": outcome.errors, "details": outcome.details,
            "end_to_end": e2e,
        }
        metrics = e2e
        results = os.path.join(WORK, "results")
        os.makedirs(results, exist_ok=True)
        if args.trace:
            per_layer = layers.compute(args.workload, outcome, tracer, eventlog, run_figures)
            metrics = {n: {"value": per_layer[n], "unit": u} for n, u, *_ in spec.PER_LAYER}
            record["per_layer"] = per_layer
            record["tracing_overhead"] = layers.overhead(e2e, os.path.join(results, f"{args.workload}-untraced.json"))
            with open(os.path.join(results, f"{args.workload}-spans.json"), "w") as f:
                json.dump([s.as_dict() for s in tracer.spans], f)
        with open(os.path.join(results, f"{args.workload}-{'traced' if args.trace else 'untraced'}.json"), "w") as f:
            json.dump(record, f, indent=1)
        print("perfbench:", json.dumps({k: record[k] for k in ("versions", "host", "details", "errors")}, default=str))
        print(json.dumps({
            "correct": outcome.failed == 0,
            "attempted": outcome.attempted,
            "failed": outcome.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            spark.stop()
        end_processes()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
