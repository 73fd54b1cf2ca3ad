"""Per-layer metrics of a traced run: spans joined with Spark's event log.

A job belongs to the innermost span that was its thread's job group; a
span belongs to the timed operation (request, ingest step, dedup pass)
whose request id it carries.  Jobs issued under a ``trace.*`` span (the
tracer's own counting) are left out.
"""

from __future__ import annotations

import json
import os
import statistics

from perfbench import eventlog, spec
from perfbench.trace import self_times, union_length


def compute(workload: str, outcome, tracer, log_dir: str, run_figures: dict) -> dict:
    """Every per-layer figure of one traced run; ``run_figures`` holds the
    ones measured for the whole process (session start, peak RSS, GC)."""
    spans = [s.as_dict() for s in tracer.spans]
    by_id = {s["id"]: s for s in spans}
    selfs = self_times(spans)
    jobs, stages = eventlog.parse(log_dir)
    owner = eventlog.stage_owner(jobs)

    def chain(sid):
        while sid is not None:
            yield by_id[sid]
            sid = by_id[sid]["parent"]

    # job key -> its span chain (innermost first); untagged jobs dropped
    job_chain = {}
    for key, j in jobs.items():
        if j.group and j.group.startswith("pb") and int(j.group[2:]) in by_id:
            names = list(chain(int(j.group[2:])))
            if not any(s["name"].startswith("trace.") for s in names):
                job_chain[key] = names
    job_stages: dict = {}
    for skey, jkey in owner.items():
        if skey in stages and stages[skey].tasks:
            job_stages.setdefault(jkey, []).append(stages[skey])

    def jobs_of(rids: set, under: str | None = None) -> list:
        return [
            k for k, ch in job_chain.items()
            if ch[0]["rid"] in rids and (under is None or any(s["name"] == under for s in ch))
        ]

    def stage_sum(keys, attr) -> float:
        return sum(getattr(st, attr) for k in keys for st in job_stages.get(k, []))

    def py_ms(keys) -> float:
        return sum(st.run_ms - st.cpu_ms for k in keys for st in job_stages.get(k, []) if st.python)

    def spans_named(name: str, rids: set) -> list:
        return [s for s in spans if s["name"] == name and s["rid"] in rids]

    def mean_ms(name: str, rids: set, per: int) -> float:
        return sum(s["end"] - s["start"] for s in spans_named(name, rids)) * 1e3 / per if per else 0.0

    def outside_ms(root: dict, keys) -> float:
        covered = [(jobs[k].submit, jobs[k].end) for k in keys]
        covered += [(s["start"], s["end"]) for s in spans if s["name"].startswith("trace.") and s["rid"] == root["rid"]]
        clipped = [(max(a, root["start"]), min(b, root["end"])) for a, b in covered]
        return (root["end"] - root["start"] - union_length(clipped)) * 1e3

    def count(key: str, rids: set) -> float:
        return sum(v for (rid, k), v in tracer.counts.items() if k == key and rid in rids)

    # every printed metric, plus ingest_follow's tail and re-send figures
    out = {n: 0.0 for n, *_ in spec.PER_LAYER}
    out.update(run_figures)
    rids = set(outcome.rids)
    n_ops = max(1, len(rids))

    if workload == "serve_mixed":
        roots = [s for s in spans if s["name"] == "service" and s["rid"] in rids]
        out["service.self_ms"] = sum(selfs[s["id"]] for s in roots) * 1e3 / n_ops
        for metric, name in (
            ("ql.parse_ms", "ql.parse"),
            ("plans.compile_ms", "plans.compile"),
            ("lifecycle.log_store_ms", "lifecycle.log_store"),
            ("output.drain_ms", "output.drain"),
        ):
            out[metric] = mean_ms(name, rids, n_ops)
        for kind in spec.KINDS:
            kroots = [s for s in roots if s["rid"].startswith(kind + ":")]
            if not kroots:
                continue
            n = len(kroots)
            per_root = [(r, jobs_of({r["rid"]})) for r in kroots]
            keys = [k for _, ks in per_root for k in ks]
            out[f"spark.jobs_per_req.{kind}"] = len(keys) / n
            out[f"spark.stages_per_req.{kind}"] = sum(len(job_stages.get(k, [])) for k in keys) / n
            out[f"spark.tasks_per_req.{kind}"] = stage_sum(keys, "tasks") / n
            out[f"spark.executor_run_ms_per_req.{kind}"] = stage_sum(keys, "run_ms") / n
            out[f"spark.executor_cpu_ms_per_req.{kind}"] = stage_sum(keys, "cpu_ms") / n
            out[f"spark.outside_jobs_ms_per_req.{kind}"] = statistics.fmean(outside_ms(r, ks) for r, ks in per_root)
        stat = len(spans_named("stats.stat_range", rids))
        out["stats.summary_served_frac"] = len(spans_named("stats.summary_serve", rids)) / stat if stat else 0.0

    if outcome.rids_import:
        # MCAP imports: the per-robot imports of serve_mixed's set-up, or
        # ingest_follow's steps
        irids = set(outcome.rids_import)
        imports = len(irids)
        appends = max(1, len(spans_named("lifecycle.append", irids)))
        import_jobs = jobs_of(irids)
        out["mcap.plan_units_ms"] = mean_ms("mcap.plan_units", irids, imports)
        out["mcap.units_per_import"] = count("mcap.units", irids) / imports
        out["python.worker_ms_per_import"] = py_ms(import_jobs) / imports
        out["lifecycle.append_ms"] = mean_ms("lifecycle.append", irids, appends)
        out["lifecycle.jobs_per_append"] = len(jobs_of(irids, "lifecycle.append")) / appends
        out["lifecycle.trigram_index_ms"] = mean_ms("lifecycle.trigram_index", irids, appends)
        out["spark.shuffle_write_bytes_per_import"] = stage_sum(import_jobs, "shuffle_write_bytes") / imports
        crids = irids | {"compact:0"}
        out["lifecycle.compact_ms"] = mean_ms("lifecycle.compact", crids, len(spans_named("lifecycle.compact", crids)))

    if workload == "ingest_follow":
        polls = len(spans_named("lifecycle.tail_counts", rids))
        out["lifecycle.tail_counts_ms"] = mean_ms("lifecycle.tail_counts", rids, polls)
        out["lifecycle.tail_slice_ms"] = mean_ms("lifecycle.tail_slice", rids, polls)

    elif workload == "corpus_dedup":
        keys = jobs_of(rids)
        roots = [s for s in spans if s["name"] == "op.pass" and s["rid"] in rids]
        cand = count("dedup.candidate_rows", rids) / n_ops
        ver = count("dedup.verified_pairs", rids) / n_ops
        out["dedup.candidate_rows"] = cand
        out["dedup.verified_pairs"] = ver
        out["dedup.verify_yield"] = ver / cand if cand else 0.0
        out["spark.stages_per_pass"] = sum(len(job_stages.get(k, [])) for k in keys) / n_ops
        out["spark.tasks_per_pass"] = stage_sum(keys, "tasks") / n_ops
        out["spark.shuffle_write_bytes_per_pass"] = stage_sum(keys, "shuffle_write_bytes") / n_ops
        out["spark.spill_bytes_per_pass"] = stage_sum(keys, "spill_bytes") / n_ops
        out["spark.executor_cpu_ms_per_pass"] = stage_sum(keys, "cpu_ms") / n_ops
        out["spark.outside_jobs_ms_per_pass"] = statistics.fmean(
            outside_ms(r, jobs_of({r["rid"]})) for r in roots
        ) if roots else 0.0
        out["python.worker_ms_per_pass"] = py_ms(keys) / n_ops

    out.update(outcome.layer)
    return out


def overhead(traced: dict, untraced_path: str) -> dict:
    """Traced end-to-end metrics minus the last untraced run's."""
    if not os.path.exists(untraced_path):
        return {"note": "no untraced run of this workload recorded yet"}
    with open(untraced_path) as f:
        base = json.load(f)
    out = {"against_seed": base["seed"]}
    for name, m in traced.items():
        b = base["end_to_end"][name]["value"]
        out[name] = {"traced": m["value"], "untraced": b, "delta": m["value"] - b}
    return out
