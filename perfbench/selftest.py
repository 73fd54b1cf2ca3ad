#!/usr/bin/env python3
"""Self-test of the benchmark.

    python3 perfbench/selftest.py               # generators + BENCHMARK.json, no Spark
    python3 perfbench/selftest.py --runs        # also 1-second runs of every workload
    python3 perfbench/selftest.py --write-json  # re-render BENCHMARK.json from spec.py

Checks that each generator is deterministic per seed, that BENCHMARK.json
matches spec.py, and (with ``--runs``) that every workload prints exactly
the metric names of BENCHMARK.json, passes its checks, and reports a
deliberately wrong expected answer as a failed operation.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]

from perfbench import spec, truth  # noqa: E402
from perfbench.gen_corpus import generate  # noqa: E402
from perfbench.gen_fleet import Fleet, write_segment  # noqa: E402

BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")


def _mcap_digest(seed: int, work: str) -> str:
    fleet = Fleet(seed, 2, 3)
    h = hashlib.sha256()
    for i, p in enumerate(fleet.producers):
        path = os.path.join(work, f"{seed}-{i}.mcap")
        write_segment(path, fleet.segment(p, 1))
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def check_generators() -> None:
    work = os.path.join(HERE, ".work", "selftest")
    os.makedirs(work, exist_ok=True)
    assert _mcap_digest(7, work) == _mcap_digest(7, work), "fleet MCAP differs for one seed"
    assert _mcap_digest(7, work) != _mcap_digest(8, work), "fleet MCAP ignores the seed"
    kw = {k: spec.CORPUS[k] for k in ("cluster_share", "hot_clusters", "hot_size", "max_size")}
    a, b, c = (generate(s, docs=300, **kw) for s in (7, 7, 8))
    assert a == b, "corpus differs for one seed"
    assert a.docs != c.docs, "corpus ignores the seed"
    assert len(a.docs) == 300 and any(len(m) == spec.CORPUS["hot_size"] for m in a.clusters)
    print("ok  generators are deterministic per seed")


def check_truth() -> None:
    rows = [  # (topic, log_time, sequence, values)
        ("/l", 10, 0, ()), ("/r", 12, 0, ()), ("/r", 13, 1, ()),
        ("/l", 20, 1, ()), ("/r", 40, 2, ()),
    ]
    got = truth.asof(rows, "/l", "/r", 0, 100, 5, immediate=False)
    assert got == [("/l", 10, 0), ("/r", 12, 0), ("/r", 13, 1)], got
    got = truth.asof(rows, "/l", "/r", 0, 100, 5, immediate=True)
    assert got == [("/l", 10, 0), ("/r", 12, 0)], got
    assert truth.clusters_match([(1, 1), (2, 1), (3, 3)], [frozenset({1, 2})])
    assert not truth.clusters_match([(1, 1), (2, 2), (3, 3)], [frozenset({1, 2})])
    print("ok  as-of and cluster oracles")


def check_json() -> None:
    with open(BENCHMARK_JSON) as f:
        have = json.load(f)
    assert have == spec.benchmark_json(), "BENCHMARK.json differs from perfbench/spec.py"
    print("ok  BENCHMARK.json matches spec.py")


def _run(workload: str, trace: int, wrong: bool = False) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace)] + (["--wrong"] if wrong else [])
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, f"{cmd} exited {p.returncode}: {p.stderr[-2000:]}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_runs() -> None:
    e2e = [m["name"] for m in spec.benchmark_json()["end_to_end"]]
    layer = [m["name"] for m in spec.benchmark_json()["per_layer"]]
    for w in spec.WORKLOADS + spec.EXTRA_WORKLOADS:
        name = w["name"]
        for trace, names in ((0, e2e), (1, layer)):
            r = _run(name, trace)
            assert set(r) == {"correct", "attempted", "failed", "metrics"}, r.keys()
            assert list(r["metrics"]) == names, f"{name} trace={trace} metric names differ"
            assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1, r
        r = _run(name, 0, wrong=True)
        assert not r["correct"] and r["failed"] >= 1, f"{name}: a wrong expected answer was not counted"
        print(f"ok  {name}: metric names, checks, and a wrong answer counted as failed")


def main() -> int:
    if "--write-json" in sys.argv:
        with open(BENCHMARK_JSON, "w") as f:
            json.dump(spec.benchmark_json(), f, indent=2)
            f.write("\n")
        print("wrote", BENCHMARK_JSON)
        return 0
    check_generators()
    check_truth()
    check_json()
    if "--runs" in sys.argv:
        check_runs()
    return 0


if __name__ == "__main__":
    sys.exit(main())
