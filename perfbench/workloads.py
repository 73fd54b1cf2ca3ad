"""The workloads.  Each repeats its set-up step (``setup_s`` takes the
median), then measures its closed loop for ``ctx.seconds`` seconds,
checking every answer against the generators' truth.  A failed check counts
as a failed operation."""

from __future__ import annotations

import contextlib
import http.client
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field
from functools import reduce

from perfbench import spec, truth
from perfbench.gen_corpus import generate
from perfbench.gen_fleet import STAT_FIELDS, Fleet, write_segment

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Outcome:
    setup_reps: list[float] = field(default_factory=list)
    op_ms: list[float] = field(default_factory=list)
    busy_s: float = 0.0  # the time the throughput figures divide by
    items: int = 0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    setup_parts: int = 1  # repeated steps that make up one set-up
    setup_once: float = 0.0  # set-up work done once, after the repeated steps
    rids: list[str] = field(default_factory=list)  # timed ops, for the trace
    rids_import: list[str] = field(default_factory=list)  # MCAP imports, for the trace
    details: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)  # per-layer figures measured here

    def setup_s(self, session_s: float) -> float:
        return session_s + self.setup_parts * statistics.median(self.setup_reps) + self.setup_once

    def op(self, ms: float, ok: bool, error: str = "") -> None:
        self.attempted += 1
        self.op_ms.append(ms)
        if not ok:
            self.failed += 1
            if len(self.errors) < 5:
                self.errors.append(error or "wrong answer")

    def check(self, ok: bool, what: str) -> None:
        """A check outside the timed ops: counts as one operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 5:
                self.errors.append(what)


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    wrong: bool = False
    tracer: object = None

    def span(self, name: str, rid: str | None = None):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, rid)


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, n)) for d, _, ns in os.walk(path) for n in ns)


def _parquet_files(path: str) -> int:
    return sum(
        n.endswith(".parquet")
        for d, _, ns in os.walk(path)
        if "_meta" not in d.split(os.sep)
        for n in ns
    )


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, -(-len(s) * q // 100) - 1))] if s else 0.0


# ------------------------------------------------------------ serve_mixed


def serve_mixed(ctx: Ctx) -> Outcome:
    from dp3_spark.engine import DP3Engine
    from dp3_spark.service import DP3Service
    from dp3_spark.sources import mcap as M
    from dp3_spark.streaming.lifecycle import VersionedLogTable

    cfg, out = spec.SERVE, Outcome()
    fleet = Fleet(ctx.seed, cfg["producers"], cfg["db_seconds"])
    table = VersionedLogTable(ctx.spark, os.path.join(ctx.work, "table"))
    eng = DP3Engine(ctx.spark, table=table)
    mcap_bytes, files_added = 0, []
    out.setup_parts = len(fleet.producers)
    # the set-up repeats once per robot: each robot's recording is its own
    # import (decode_tables -> append), the step setup_s takes the median of
    for i, p in enumerate(fleet.producers):
        path = os.path.join(ctx.work, f"{p}.mcap")
        rid = f"import:{i}"

        def load():
            nonlocal mcap_bytes
            mcap_bytes += write_segment(path, fleet.segment(p, 0))
            tables = M.decode_tables(ctx.spark, [(path, p)])
            table.append(reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), tables.values()))

        before = _parquet_files(table.root)
        with ctx.span("setup.import", rid):
            out.setup_reps.append(_timed(load))
        out.rids_import.append(rid)
        files_added.append(_parquet_files(table.root) - before)

    def prepare():
        # compact the per-robot appends, then build the summary store the
        # statrange route serves from
        with ctx.span("setup.compact", "compact:0"):
            table.compact()
        eng.build_summary_store(
            os.path.join(ctx.work, "summary"), numeric_fields=list(STAT_FIELDS), group_by_producer=True
        )

    out.setup_once = _timed(prepare)
    out.details["stored_bytes_per_mcap_byte"] = _tree_bytes(table.root) / mcap_bytes
    out.layer["lifecycle.files_per_append"] = statistics.fmean(files_added)
    out.layer["lifecycle.live_files"] = _parquet_files(table.root)
    expected = sum(len(fleet.segment(p, 0).rows) for p in fleet.producers)
    out.check(table.read().count() == expected, "table row count after the base imports")

    svc = DP3Service({"fleet": eng})
    host, port = svc.start()
    res_path = os.path.join(ctx.work, "loadgen.json")
    cmd = [
        sys.executable, os.path.join(HERE, "loadgen.py"), "--port", str(port), "--db", "fleet",
        "--seed", str(ctx.seed), "--producers", str(cfg["producers"]),
        "--db-seconds", str(cfg["db_seconds"]), "--clients", str(cfg["clients"]),
        "--seconds", str(ctx.seconds), "--out", res_path,
    ] + (["--wrong"] if ctx.wrong else [])
    try:
        subprocess.run(cmd, check=True, timeout=ctx.seconds + 150)
    finally:
        svc.stop()
    with open(res_path) as f:
        res = json.load(f)
    by_kind: dict[str, list[dict]] = {}
    for r in res["records"]:
        out.op(r["ms"], r["ok"], f"{r['rid']}: {r.get('error', 'wrong answer')}")
        out.rids.append(r["rid"])
        by_kind.setdefault(r["kind"], []).append(r)
        out.items += r.get("rows", 0)
    out.busy_s = res["wall_s"]
    for kind, rs in sorted(by_kind.items()):
        ms = [r["ms"] for r in rs]
        out.details[f"{kind}_n"] = len(ms)
        out.details[f"{kind}_p50_ms"] = statistics.median(ms)
        out.details[f"{kind}_max_ms"] = max(ms)
        out.details[f"{kind}_ttfb_p50_ms"] = statistics.median(r.get("ttfb_ms", r["ms"]) for r in rs)
        out.layer[f"output.rows_per_req.{kind}"] = statistics.fmean(r.get("rows", 0) for r in rs)
        out.layer[f"output.bytes_per_req.{kind}"] = statistics.fmean(r.get("bytes", 0) for r in rs)
    return out


# ---------------------------------------------------------- ingest_follow


def _tail(conn: http.client.HTTPConnection, cursor: int, rid: str) -> tuple[int, set]:
    conn.request("GET", f"/databases/ingest/tail?from={cursor}&limit=1000000", headers={"X-Bench-Req": rid})
    resp = conn.getresponse()
    body = resp.read()
    if resp.status != 200:
        raise RuntimeError(f"tail: HTTP {resp.status}: {body[:200]!r}")
    lines = body.splitlines()
    version = json.loads(lines[0])["version"]
    rows = [json.loads(ln) for ln in lines[1:] if ln]
    keys = {(r["producer"], r["topic"], r["log_time"], r["sequence"]) for r in rows}
    if len(keys) != len(rows):
        keys.add(("duplicate rows",))
    return version, keys


def _keys(seg) -> set:
    return {(seg.producer, topic, t, seq) for topic, t, seq, _ in seg.rows}


def ingest_follow(ctx: Ctx) -> Outcome:
    from dp3_spark.engine import DP3Engine
    from dp3_spark.service import DP3Service
    from dp3_spark.streaming.lifecycle import VersionedLogTable

    cfg, out = spec.INGEST, Outcome()
    fleet = Fleet(ctx.seed, cfg["producers"], cfg["segment_seconds"])
    for rep in range(cfg["setup_reps"]):
        d = os.path.join(ctx.work, f"ingest{rep}")
        os.makedirs(d)
        box = {}

        def build():
            files = []
            for p in fleet.producers:
                path = os.path.join(d, f"{p}-0.mcap")
                write_segment(path, fleet.segment(p, 0))
                files.append((path, p))
            table = VersionedLogTable(ctx.spark, os.path.join(d, "table"), gc_grace_sec=0.0)
            eng = DP3Engine(ctx.spark, table=table)
            eng.import_mcap(files)
            box.update(table=table, eng=eng, files=files)

        with ctx.span("setup", f"setup:{rep}"):
            out.setup_reps.append(_timed(build))
        if rep:
            shutil.rmtree(os.path.join(ctx.work, f"ingest{rep - 1}"))
    table, eng = box["table"], box["eng"]
    offered = set().union(*(_keys(fleet.segment(p, 0)) for p in fleet.producers))
    out.check(table.read().count() == len(offered), "base import row count")

    svc = DP3Service({"ingest": eng})
    host, port = svc.start()
    conn = http.client.HTTPConnection(host, port, timeout=120)
    cursor = eng.version()
    mcap_bytes = sum(os.path.getsize(f) for f, _ in box["files"])
    sent_rows = dropped = 0
    files_added: list[int] = []
    import_ms, poll_ms, compact_ms = [], [], []
    deadline = time.perf_counter() + ctx.seconds
    step = 0
    try:
        while time.perf_counter() < deadline:
            p = fleet.producers[step % len(fleet.producers)]
            seg = fleet.segment(p, 1 + step // len(fleet.producers))
            path = os.path.join(d, f"{p}-{step}.mcap")
            mcap_bytes += write_segment(path, seg)
            copies = 2 if step % cfg["resend_every"] == cfg["resend_every"] - 1 else 1
            new = _keys(seg) - offered
            want = new if not ctx.wrong else new | {("missing",)}
            files_before = _parquet_files(table.root)
            rid = f"step:{step}"
            ok, err = True, ""
            t0 = time.perf_counter()
            try:
                with ctx.span("op.step", rid):
                    eng.import_mcap([(path, p)] * copies)
                    t1 = time.perf_counter()
                    files_added.append(_parquet_files(table.root) - files_before)  # ~1 ms
                    version, got = _tail(conn, cursor, rid)
                    t2 = time.perf_counter()
                    if step % cfg["compact_every"] == cfg["compact_every"] - 1:
                        table.compact()
                        compact_ms.append((time.perf_counter() - t2) * 1e3)
                import_ms.append((t1 - t0) * 1e3)
                poll_ms.append((t2 - t1) * 1e3)
                if got != want:
                    ok, err = False, f"{rid}: tail returned {len(got)} rows, expected {len(want)}"
                cursor = version
            except Exception as e:
                ok, err = False, f"{rid}: {type(e).__name__}: {e}"
            ms = (time.perf_counter() - t0) * 1e3
            out.op(ms, ok, err)
            out.rids.append(rid)
            out.rids_import.append(rid)
            out.busy_s += ms / 1e3
            offered |= new
            sent_rows += copies * len(seg.rows)
            dropped += copies * len(seg.rows) - len(new)
            out.items += copies * len(seg.rows)
            out.check(table.read().count() == len(offered), f"{rid}: table row count")
            step += 1
    finally:
        conn.close()
        svc.stop()
    out.details.update(
        import_p50_ms=statistics.median(import_ms) if import_ms else 0.0,
        tail_poll_p50_ms=statistics.median(poll_ms) if poll_ms else 0.0,
        compact_ms=compact_ms,
        stored_bytes_per_mcap_byte=_tree_bytes(table.root) / mcap_bytes,
    )
    out.layer.update({
        "lifecycle.dedup_dropped_frac": dropped / sent_rows if sent_rows else 0.0,
        "lifecycle.files_per_append": statistics.fmean(files_added) if files_added else 0.0,
        "lifecycle.live_files": _parquet_files(table.root),
    })
    return out


# ----------------------------------------------------------- corpus_dedup


def corpus_dedup(ctx: Ctx) -> Outcome:
    from dp3_spark.operators import components as C
    from dp3_spark.operators import dedup as D

    cfg, out = spec.CORPUS, Outcome()
    kw = {k: cfg[k] for k in ("docs", "cluster_share", "hot_clusters", "hot_size", "max_size")}
    box = {}
    for rep in range(cfg["setup_reps"]):

        def build():
            if "df" in box:
                box["df"].unpersist()
            corpus = generate(ctx.seed, **kw)
            df = ctx.spark.createDataFrame(corpus.docs, "doc_id long, text string").cache()
            df.count()
            box.update(df=df, corpus=corpus)

        with ctx.span("setup", f"setup:{rep}"):
            out.setup_reps.append(_timed(build))
    df, corpus = box["df"], box["corpus"]

    def one_pass(docs):
        pairs = D.minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=cfg["threshold"], candidates="capped"
        )
        return C.dedup_clusters(docs, pairs)

    planted = corpus.clusters
    if ctx.wrong:
        planted = [frozenset(sorted(planted[0])[1:])] + planted[1:]
    # the first pass starts the Python workers and compiles the plans; the
    # second still runs ~25% slow while the JVM's JIT warms up
    out.details["warmup_s"] = []
    for w in range(2):
        with ctx.span("warmup", f"warmup:{w}"):
            out.details["warmup_s"].append(_timed(lambda: one_pass(df).collect()))
    deadline = time.perf_counter() + ctx.seconds
    i = 0
    while time.perf_counter() < deadline:
        rid = f"pass:{i}"
        ok, err, rows = False, f"{rid}: clusters differ from the planted ones", []
        t0 = time.perf_counter()
        try:
            with ctx.span("op.pass", rid):
                # the drain: one (doc_id, component) pair per document
                rows = one_pass(df).select("doc_id", "component").collect()
        except Exception as e:
            err = f"{rid}: {type(e).__name__}: {e}"
        ms = (time.perf_counter() - t0) * 1e3
        if rows:
            ok = truth.clusters_match([(r[0], r[1]) for r in rows], planted)
        out.op(ms, ok, err)
        out.rids.append(rid)
        out.busy_s += ms / 1e3
        out.items += len(corpus.docs)
        i += 1
    df.unpersist()
    return out


WORKLOADS = {"serve_mixed": serve_mixed, "ingest_follow": ingest_follow, "corpus_dedup": corpus_dedup}
