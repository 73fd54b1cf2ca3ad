"""Parser for Spark's JSON event log (written uncompressed).

Yields one record per job (group, submit/end time, stage ids) and per
stage (task count, executor run/CPU/GC time, shuffle write, spill, and
whether it runs Python workers).  Times are epoch seconds so they line up
with the tracer's spans.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

# operator names whose stages run Python workers (Arrow/pickled UDFs)
PYTHON_OPS = (
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "PythonRDD",
)


@dataclass
class Stage:
    id: int
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python: bool = False


@dataclass
class Job:
    id: int
    group: str | None
    submit: float
    end: float = 0.0
    stage_ids: list[int] = field(default_factory=list)


def _files(root: str) -> list[str]:
    out = []
    for d, _, names in os.walk(root):
        out += [os.path.join(d, n) for n in names if not n.startswith(".") and not n.endswith(".crc")]
    return sorted(out)


def parse(root: str) -> tuple[dict[tuple[str, int], Job], dict[tuple[str, int], Stage]]:
    """Jobs and stages of every application log under ``root``, keyed by
    (log file, id) so several sessions in one run never collide."""
    jobs: dict[tuple[str, int], Job] = {}
    stages: dict[tuple[str, int], Stage] = {}
    for path in _files(root):
        app = os.path.dirname(path) if "eventlog_v2_" in path else path
        with open(path, encoding="utf-8") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # a torn last line of a still-open log
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[app, ev["Job ID"]] = Job(
                        ev["Job ID"],
                        props.get("spark.jobGroup.id"),
                        ev["Submission Time"] / 1000.0,
                        stage_ids=list(ev.get("Stage IDs", [])),
                    )
                elif kind == "SparkListenerJobEnd":
                    j = jobs.get((app, ev["Job ID"]))
                    if j is not None:
                        j.end = ev["Completion Time"] / 1000.0
                elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
                    info = ev["Stage Info"]
                    st = stages.setdefault((app, info["Stage ID"]), Stage(info["Stage ID"]))
                    text = json.dumps(info.get("RDD Info", [])) + info.get("Stage Name", "")
                    st.python = st.python or any(op in text for op in PYTHON_OPS)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault((app, ev["Stage ID"]), Stage(ev["Stage ID"]))
                    st.tasks += 1
                    st.run_ms += m.get("Executor Run Time", 0)
                    st.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
                    st.gc_ms += m.get("JVM GC Time", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return jobs, stages


def stage_owner(jobs: dict[tuple[str, int], Job]) -> dict[tuple[str, int], tuple[str, int]]:
    """Stage -> the first job that lists it (later jobs list it again only
    when they reuse its shuffle output, running no tasks for it)."""
    owner: dict[tuple[str, int], tuple[str, int]] = {}
    for key in sorted(jobs, key=lambda k: (k[0], k[1])):
        for sid in jobs[key].stage_ids:
            owner.setdefault((key[0], sid), key)
    return owner
