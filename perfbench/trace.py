"""Spans for the traced run, recorded from the benchmark's side.

``Tracer.install()`` wraps the public functions of each layer at the name
its callers bind (``dp3_spark.engine.parse``, not ``dp3_spark.ql.parse``),
so nothing under ``dp3_spark/`` changes.  A span records its name, start,
end, parent and request id; spans stay in memory and are written once at
the end.  Every span also becomes the Spark job group of its thread, so
the event log attributes each job to the innermost span that issued it.
"""

from __future__ import annotations

import contextlib
import importlib
import threading
import time
from dataclasses import dataclass

# (module, attribute path, span name): the names callers bind
PATCHES = [
    ("dp3_spark.service", "DP3Service._dispatch", "service"),
    ("dp3_spark.service", "_rows", "output.drain"),
    ("dp3_spark.engine", "parse", "ql.parse"),
    ("dp3_spark.plans.compiler", "Compiler.compile_query", "plans.compile"),
    ("dp3_spark.plans.compiler", "Compiler._compile_merge", "merge.plan"),
    ("dp3_spark.plans.compiler", "dp3_asof_join", "asof.plan"),
    ("dp3_spark.output", "to_json_lines", "output.to_json_lines"),
    ("dp3_spark.engine", "DP3Engine.stat_range", "stats.stat_range"),
    ("dp3_spark.engine", "DP3Engine.tail_version_counts", "lifecycle.tail_counts"),
    ("dp3_spark.engine", "DP3Engine.tail_slice", "lifecycle.tail_slice"),
    ("dp3_spark.engine", "DP3Engine.build_summary_store", "stats.build_summary"),
    ("dp3_spark.engine", "DP3Engine.import_mcap", "engine.import_mcap"),
    ("dp3_spark.operators.stats", "SummaryStore.stat_range", "stats.summary_serve"),
    ("dp3_spark.operators.stats", "stat_range", "stats.raw"),
    ("dp3_spark.streaming.lifecycle", "VersionedLogTable.log_store", "lifecycle.log_store"),
    ("dp3_spark.streaming.lifecycle", "VersionedLogTable.append", "lifecycle.append"),
    ("dp3_spark.streaming.lifecycle", "VersionedLogTable.compact", "lifecycle.compact"),
    (
        "dp3_spark.streaming.lifecycle",
        "VersionedLogTable.update_trigram_index",
        "lifecycle.trigram_index",
    ),
    ("dp3_spark.sources.mcap", "plan_mcap_units", "mcap.plan_units"),
    ("dp3_spark.sources.mcap", "read_mcap", "mcap.read"),
    ("dp3_spark.sources.mcap", "decode_tables", "mcap.decode_tables"),
    ("dp3_spark.operators.dedup", "minhash_lsh_pairs", "dedup.minhash_lsh_pairs"),
    ("dp3_spark.operators.dedup", "minhash_signatures", "dedup.signatures"),
    ("dp3_spark.operators.dedup", "_verify_broadcast", "dedup.verify"),
    ("dp3_spark.operators.components", "dedup_clusters", "components.dedup_clusters"),
    (
        "dp3_spark.operators.components",
        "connected_components",
        "components.connected_components",
    ),
]


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    rid: str | None
    start: float  # epoch seconds, comparable with Spark event-log times
    end: float = 0.0

    def as_dict(self) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "parent": self.parent,
            "rid": self.rid,
            "start": self.start,
            "end": self.end,
        }


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.counts: dict[tuple[str | None, str], float] = {}  # (rid, key)
        self._ids = iter(range(1, 1 << 62))
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, rid: str | None = None):
        st = self._stack()
        parent = st[-1] if st else None
        with self._lock:
            s = Span(next(self._ids), name, parent.id if parent else None,
                     rid or (parent.rid if parent else None), time.time())
            self.spans.append(s)
        st.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = time.time()
            st.pop()
            if st:
                self._tag(st[-1])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _tag(self, s: Span) -> None:
        # group id: the span; description: its request and name
        self.sc.setJobGroup(f"pb{s.id}", f"{s.rid} {s.name}")

    def count(self, key: str, value: float) -> None:
        """Add to a counter of the current thread's request."""
        st = self._stack()
        k = (st[-1].rid if st else None, key)
        with self._lock:
            self.counts[k] = self.counts.get(k, 0) + value

    # ---------------------------------------------------------- patches

    def install(self) -> None:
        for module, path, name in PATCHES:
            owner = importlib.import_module(module)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            setattr(owner, attr, self._wrapper(name, orig))
            self._undo.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def _wrapper(self, name: str, fn):
        tracer = self
        special = _SPECIAL.get(name)

        def wrapped(*args, **kwargs):
            rid = None
            if name == "service":
                # DP3Service._dispatch(self, handler, method): the load
                # generator names each request in a header
                rid = args[1].headers.get("X-Bench-Req")
            with tracer.span(name, rid):
                out = fn(*args, **kwargs)
                if special is not None:
                    out = special(tracer, args, kwargs, out)
                return out

        wrapped.__wrapped__ = fn
        return wrapped


# ------------------------------------------------ per-span extra counters
# Counts that need a look at a call's arguments or result.  A count that
# launches Spark work runs under a ``trace.*`` span, whose jobs are left
# out of every layer figure; it is part of the measured tracing overhead.


def _drain_proxy(tracer: Tracer, args, kwargs, out):
    # to_json_lines is lazy: the rows are produced while the service
    # iterates them, so time that iteration as the output drain
    return _DrainTimed(tracer, out)


class _DrainTimed:
    def __init__(self, tracer: Tracer, rdd):
        self._tracer = tracer
        self._rdd = rdd

    def toLocalIterator(self, *a, **k):
        with self._tracer.span("output.drain"):
            yield from self._rdd.toLocalIterator(*a, **k)

    def __getattr__(self, item):
        return getattr(self._rdd, item)


def _count_units(tracer: Tracer, args, kwargs, out):
    tracer.count("mcap.units", len(out))
    return out


def _count_candidates(tracer: Tracer, args, kwargs, out):
    with tracer.span("trace.count"):
        tracer.count("dedup.candidate_rows", args[0].count())
    return out


def _count_verified(tracer: Tracer, args, kwargs, out):
    with tracer.span("trace.count"):
        tracer.count("dedup.verified_pairs", args[1].count())
    return out


_SPECIAL = {
    "output.to_json_lines": _drain_proxy,
    "mcap.plan_units": _count_units,
    "dedup.verify": _count_candidates,
    "components.dedup_clusters": _count_verified,
}


# ------------------------------------------------------------- analysis


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self seconds: its duration minus the part of that
    interval its child spans cover (children of one span may overlap only
    when they run on other threads, so the union is taken)."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            [(max(c["start"], s["start"]), min(c["end"], s["end"])) for c in kids.get(s["id"], [])]
        )
        out[s["id"]] = max(0.0, s["end"] - s["start"] - covered)
    return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
