"""The benchmark's definition: workloads, sizes, metrics.

``BENCHMARK.json`` at the repository root is rendered from this module
(``python3 perfbench/selftest.py --write-json``) and the self-test checks
that the two agree.  Each per-layer metric names the workload that
exercises it and the end-to-end metric it should move; on the other
workloads it reads 0, which is the prediction "no change".  The import
and layout metrics are measured on serve_mixed's per-robot imports.
ingest_follow's own figures (tail poll, re-sent rows dropped) go to its
result file only, since BENCHMARK.json does not list it.
"""

from __future__ import annotations

RUN_SECONDS = 15
COMMAND = ["python3", "perfbench/run.py"]
PATHS = ["perfbench"]

# Sizes for nproc=4, Spark local[nproc].
SERVE = {
    "producers": 3,  # one import per robot: the repeated set-up step
    "db_seconds": 120,  # /imu 50 Hz, /odom 20 Hz, /fix 5 Hz: 75 msgs/s per robot
    "clients": 2,
}
INGEST = {
    "producers": 3,
    "segment_seconds": 10,  # 750 messages per imported file
    "resend_every": 4,  # every 4th import sends its file twice in one request
    "compact_every": 3,
    "setup_reps": 3,
}
CORPUS = {
    "docs": 1500,
    "cluster_share": 0.3,
    "hot_clusters": 3,
    "hot_size": 30,
    "max_size": 6,
    "threshold": 0.7,
    "setup_reps": 3,
}
# The op latency tail, reported with its sample count on the ``perfbench:``
# line and in the result file: the highest percentile with at least ten
# samples beyond it at the sample count a run of RUN_SECONDS yields on a
# 4-core host (about 40 serve_mixed requests, a third of them slow as-of
# joins: p75 leaves 10 beyond it and sits inside the as-of mode).  A dedup
# pass or an ingest step takes seconds, so no percentile of theirs has ten
# samples beyond it; p75 of their few samples is reported instead.  It is
# not a bounded metric: over ten seeds its quartile spread on serve_mixed
# reached 26% of the median, above the widest allowed bound (0.25).
TAIL_PERCENTILE = {"serve_mixed": 75, "ingest_follow": 75, "corpus_dedup": 75}

# The workloads BENCHMARK.json lists.  Each run pays a cold JVM and a set-up
# (serve_mixed: ~45 s) before it measures, and a round of 4 + 22 runs per
# workload must finish within 57 minutes: that fits two workloads at
# RUN_SECONDS.  ingest_follow below runs by hand with the same command.
WORKLOADS = [
    {
        "name": "serve_mixed",
        "why": "read path via HTTP: 2 closed-loop clients, playback/as-of/statrange 1:1:1 (1 in 4 statrange off-grid) "
        "over 3 robots x 120 s of ros1 MCAP (27k msgs), imported per robot",
    },
    {
        "name": "corpus_dedup",
        "why": "minhash LSH (capped) + components over 1500 docs, 30% in planted near-dup clusters (3 hot of 30); "
        "Python crossings and shuffle, no service/QL/lifecycle/mcap",
    },
]
EXTRA_WORKLOADS = [
    {
        "name": "ingest_follow",
        "why": "write path: one writer imports a 750-message MCAP file per step, polls the tail route, "
        "compacts every 3rd step; 1 in 4 imports sends its file twice in one request",
    },
]

# Bounds: the run-to-run quartile spread of these metrics over ten seeds on
# a shared 4-vCPU host is 9-18% (a single-thread canary swings by up to 45%
# between runs), so every bound sits near the 0.25 ceiling;
# setup_s, whose spread is not checked, keeps the largest.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25,
     "session start + set-up with its repeated step at its median: serve 3 robot imports "
     "(3 x median) then compaction and summary build; dedup median of 3 corpus loads"),
    ("ops_per_s", "1/s", "higher", 0.24,
     "serve: requests/s (serve_rps); ingest: import+follow steps/s; dedup: passes/s"),
    ("items_per_s", "1/s", "higher", 0.24,
     "serve: result rows/s; ingest: messages offered/s (ingest_msgs_per_s); dedup: docs/s (dedup_docs_per_s)"),
    ("op_p50_ms", "ms", "lower", 0.24,
     "median latency of one op: request / import-until-followed step / dedup pass"),
]

KINDS = ("playback", "asof", "statrange")
_S = "serve_mixed"
_I = "serve_mixed set-up, ingest_follow"
_D = "corpus_dedup"
_ALL = "all"
_SERVE_MOVES = "op_p50_ms, ops_per_s on serve_mixed; nothing on the others"

PER_LAYER: list[tuple[str, str, str, str, str]] = [
    # (name, unit, better, workload, end-to-end metric it should move)
    ("service.self_ms", "ms", "lower", _S, _SERVE_MOVES),
    ("ql.parse_ms", "ms", "lower", _S, _SERVE_MOVES),
    ("plans.compile_ms", "ms", "lower", _S, _SERVE_MOVES),
    ("lifecycle.log_store_ms", "ms", "lower", _S, _SERVE_MOVES),
    ("output.drain_ms", "ms", "lower", _S, _SERVE_MOVES + " (includes Spark execution)"),
]
for _what, _unit, _better in (("jobs", "count", "lower"), ("stages", "count", "lower"), ("tasks", "count", "lower")):
    PER_LAYER += [(f"spark.{_what}_per_req.{k}", _unit, _better, _S, _SERVE_MOVES) for k in KINDS]
for _what in ("executor_run", "executor_cpu", "outside_jobs"):
    PER_LAYER += [(f"spark.{_what}_ms_per_req.{k}", "ms", "lower", _S, _SERVE_MOVES) for k in KINDS]
PER_LAYER += [(f"output.rows_per_req.{k}", "count", "higher", _S, "items_per_s on serve_mixed") for k in KINDS]
PER_LAYER += [(f"output.bytes_per_req.{k}", "bytes", "lower", _S, _SERVE_MOVES) for k in KINDS]
_INGEST_MOVES = "setup_s on serve_mixed (per robot import); items_per_s, op_p50_ms on ingest_follow"
_LAYOUT_MOVES = "setup_s on serve_mixed; op_p50_ms on ingest_follow (compaction steps)"
PER_LAYER += [
    ("stats.summary_served_frac", "frac", "higher", _S, "op_p50_ms on serve_mixed (statrange share)"),
    ("mcap.plan_units_ms", "ms", "lower", _I, _INGEST_MOVES),
    ("mcap.units_per_import", "count", "higher", _I, _INGEST_MOVES),
    ("python.worker_ms_per_import", "ms", "lower", _I, _INGEST_MOVES),
    ("lifecycle.append_ms", "ms", "lower", _I, _INGEST_MOVES),
    ("lifecycle.jobs_per_append", "count", "lower", _I, _INGEST_MOVES),
    ("lifecycle.trigram_index_ms", "ms", "lower", _I, _INGEST_MOVES),
    ("spark.shuffle_write_bytes_per_import", "bytes", "lower", _I, _INGEST_MOVES),
    ("lifecycle.files_per_append", "count", "lower", _I, _LAYOUT_MOVES),
    ("lifecycle.live_files", "count", "lower", _I, _LAYOUT_MOVES),
    ("lifecycle.compact_ms", "ms", "lower", _I, _LAYOUT_MOVES),
    ("dedup.candidate_rows", "count", "lower", _D, "ops_per_s, items_per_s on corpus_dedup"),
    ("dedup.verified_pairs", "count", "higher", _D, "ops_per_s, items_per_s on corpus_dedup"),
    ("dedup.verify_yield", "frac", "higher", _D, "ops_per_s, items_per_s on corpus_dedup"),
]
for _what, _unit in (("stages", "count"), ("tasks", "count"), ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes")):
    PER_LAYER.append((f"spark.{_what}_per_pass", _unit, "lower", _D, "ops_per_s, op_p50_ms on corpus_dedup"))
PER_LAYER += [
    ("spark.executor_cpu_ms_per_pass", "ms", "lower", _D, "ops_per_s, op_p50_ms on corpus_dedup"),
    ("spark.outside_jobs_ms_per_pass", "ms", "lower", _D, "ops_per_s, op_p50_ms on corpus_dedup"),
    ("python.worker_ms_per_pass", "ms", "lower", _D, "ops_per_s, op_p50_ms on corpus_dedup"),
    ("spark.gc_ms", "ms", "lower", _ALL, "setup_s, session.peak_rss_mb on every workload"),
    ("session.start_ms", "ms", "lower", _ALL, "setup_s on every workload"),
    # VmHWM of the driver JVM plus the Python driver.  Not an end-to-end
    # metric: G1 grows the heap in ~250 MB steps, so on corpus_dedup the
    # peak is bimodal across runs (quartile spread 24% of the median over
    # ten seeds) and a bound on it would reject changes at random.
    ("session.peak_rss_mb", "MB", "lower", _ALL, "nothing bounded; memory regressions show here"),
]


def benchmark_json() -> dict:
    return {
        "command": COMMAND,
        "paths": PATHS,
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": w["name"], "why": w["why"]} for w in WORKLOADS],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound, _ in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b, _, _ in PER_LAYER],
    }
