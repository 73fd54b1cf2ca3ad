"""Closed-loop load generator for the ``serve_mixed`` workload.

A separate process: ``--clients`` threads, each with its own persistent
HTTP/1.1 connection, send a seeded mix of QL playback, QL as-of and
``/statrange`` requests to one DP3Service, each waiting for its reply
before the next.  The generator rebuilds the database's truth from the
seed and checks every answer; a wrong answer counts as a failed request.

Writes one JSON file with a record per timed request.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import random
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:] = [os.path.dirname(HERE)] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]

from perfbench import truth  # noqa: E402
from perfbench.gen_fleet import EPOCH_NS, FIELDS, NS, TOPICS, Fleet  # noqa: E402

# The shape of the mix is fixed; the seed picks producers, windows and the
# order within each block.  Request k of a kind takes variant k % len(...).
# equal shares: as-of requests take ~3x the others, and with a third of the
# requests slow, both the median and p75 fall inside a mode of the latency
# distribution rather than on the edge between the two
KINDS = ("playback", "asof", "statrange")  # one block of the mix
PLAYBACK_SECONDS = 20
PLAYBACK_LIMIT = 500
ASOF_SECONDS = 40
# (left, right, threshold ms, immediate)
ASOF_VARIANTS = (
    ("/fix", "/odom", 20, False),
    ("/odom", "/imu", 5, True),
    ("/fix", "/odom", 50, True),
    ("/odom", "/imu", 10, False),
)
STAT_BASE_NS = 60 * NS  # the summary store's base bucket
STAT_BUCKETS = (1, 2)  # granularity in base buckets
UNALIGNED_EVERY = 4  # every 4th statrange request is off the bucket grid
WARMUP_REQUESTS = 4  # per client, untimed: the first of each query shape compiles


def _ns(text: str) -> int:
    sec, _, frac = text.partition(".")
    return int(sec) * NS + int(frac.ljust(9, "0"))


class Client:
    def __init__(self, args, index: int, rows: dict, wrong: bool):
        self.args = args
        self.rows = rows
        self.wrong = wrong
        self.rng = random.Random(f"{args.seed}/client/{index}")
        self.name = index
        self.counts = {k: 0 for k in KINDS}
        self.conn = http.client.HTTPConnection(args.host, args.port, timeout=120)

    def requests(self):
        while True:
            block = list(KINDS)
            self.rng.shuffle(block)
            for kind in block:
                self.counts[kind] += 1
                yield getattr(self, "_" + kind)(self.counts[kind] - 1)

    # each request maker returns (kind, path, body, checker)
    def _playback(self, k: int):
        rng, a = self.rng, self.args
        p = rng.choice(sorted(self.rows))
        length = PLAYBACK_SECONDS * NS
        start = EPOCH_NS + rng.randrange(a.db_seconds * NS - length)
        topics = tuple(TOPICS)
        q = f"from {p} between {start} and {start + length} {', '.join(topics)} limit {PLAYBACK_LIMIT};"
        want = truth.playback(self.rows[p], topics, start, start + length, PLAYBACK_LIMIT)
        return "playback", f"/databases/{a.db}/query", {"query": q}, self._keys_check(want, ordered=True)

    def _asof(self, k: int):
        rng, a = self.rng, self.args
        p = rng.choice(sorted(self.rows))
        left, right, thr, immediate = ASOF_VARIANTS[k % len(ASOF_VARIANTS)]
        length = ASOF_SECONDS * NS
        start = EPOCH_NS + rng.randrange(a.db_seconds * NS - length)
        imm = " immediate" if immediate else ""
        q = (
            f"from {p} between {start} and {start + length} "
            f"{left} precedes{imm} {right} by less than {thr} milliseconds;"
        )
        want = truth.asof(self.rows[p], left, right, start, start + length, thr * 1_000_000, immediate)
        return "asof", f"/databases/{a.db}/query", {"query": q}, self._keys_check(want, ordered=False)

    def _statrange(self, k: int):
        rng, a = self.rng, self.args
        topic = sorted(TOPICS)[k % len(TOPICS)]
        fld = TOPICS[topic][3]
        gran = STAT_BASE_NS * STAT_BUCKETS[k % len(STAT_BUCKETS)]
        first = -(-EPOCH_NS // STAT_BASE_NS) * STAT_BASE_NS
        last = (EPOCH_NS + a.db_seconds * NS) // STAT_BASE_NS * STAT_BASE_NS
        start = first + rng.randrange(max(1, (last - first - gran) // STAT_BASE_NS + 1)) * STAT_BASE_NS
        end = start + gran
        if k % UNALIGNED_EVERY == UNALIGNED_EVERY - 1:
            start += rng.randint(1, 59) * NS  # raw fallback
        producer = rng.choice(sorted(self.rows)) if k % 2 else None
        body = {
            "database": a.db, "topic": topic, "start": start, "end": end,
            "granularity": gran, "fields": [fld],
        }
        if producer:
            body["producer"] = producer
        idx = FIELDS[topic].index(fld)
        want: dict = {}
        for p in [producer] if producer else sorted(self.rows):
            for b, (mc, fc, sm, lo, hi) in truth.stat_bins(self.rows[p], topic, idx, start, end, gran).items():
                w = want.setdefault(b, [0, 0, 0.0, lo, hi])
                w[0] += mc
                w[1] += fc
                w[2] += sm
                w[3], w[4] = min(w[3], lo), max(w[4], hi)
        if self.wrong:
            for w in want.values():
                w[0] += 1

        def check(body_bytes: bytes):
            got = json.loads(body_bytes)
            have = {
                r["bucket_start"]: [r["message_count"], r[f"{fld}_count"], r[f"{fld}_sum"], r[f"{fld}_min"], r[f"{fld}_max"]]
                for r in got
            }
            ok = have.keys() == want.keys() and all(
                have[b][:2] == want[b][:2]
                and abs(have[b][2] - want[b][2]) < 1e-6
                and have[b][3:] == want[b][3:]
                for b in want
            )
            return ok, len(got)

        return "statrange", "/statrange", body, check

    def _keys_check(self, want: list, *, ordered: bool):
        if self.wrong:
            want = want[:-1]

        def check(body_bytes: bytes):
            lines = [json.loads(ln) for ln in body_bytes.splitlines() if ln]
            keys = [(r["topic"], _ns(r["log_time"]), r["sequence"]) for r in lines]
            times = [k[1] for k in keys]
            ok = times == sorted(times) and (
                keys == want if ordered else sorted(keys, key=lambda k: (k[1], k[0], k[2])) == want
            )
            return ok, len(lines)

        return check

    def send(self, kind: str, path: str, body: dict, check, rid: str) -> dict:
        data = json.dumps(body).encode()
        rec = {"kind": kind, "rid": rid}
        t0 = time.perf_counter()
        try:
            self.conn.request("POST", path, body=data, headers={
                "Content-Type": "application/json", "X-Bench-Req": rid,
            })
            resp = self.conn.getresponse()
            t1 = time.perf_counter()
            out = resp.read()
            t2 = time.perf_counter()
            ok, rows = check(out) if resp.status == 200 else (False, 0)
            rec.update(ok=ok, status=resp.status, rows=rows, bytes=len(out),
                       ttfb_ms=(t1 - t0) * 1e3, ms=(t2 - t0) * 1e3)
            if resp.status != 200:
                rec["error"] = out[:300].decode("utf-8", "replace")
        except Exception as e:  # a dropped connection is a failed request
            self.conn.close()
            self.conn = http.client.HTTPConnection(self.args.host, self.args.port, timeout=120)
            rec.update(ok=False, error=f"{type(e).__name__}: {e}", ms=(time.perf_counter() - t0) * 1e3)
        rec["end"] = time.perf_counter()
        return rec

    def run(self, barrier: threading.Barrier, deadline_box: list, out: list) -> None:
        gen = self.requests()
        for i in range(WARMUP_REQUESTS):
            self.send(*next(gen), rid=f"warmup:{self.name}-{i}")
        barrier.wait()
        i = 0
        while time.perf_counter() < deadline_box[0]:
            kind, path, body, check = next(gen)
            out.append(self.send(kind, path, body, check, rid=f"{kind}:{self.name}-{i}"))
            i += 1
        self.conn.close()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--db", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--producers", type=int, required=True)
    ap.add_argument("--db-seconds", type=int, required=True)
    ap.add_argument("--clients", type=int, default=2)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--wrong", action="store_true", help="expect deliberately wrong answers")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    fleet = Fleet(args.seed, args.producers, args.db_seconds)
    rows = {p: fleet.segment(p, 0).rows for p in fleet.producers}
    deadline = [0.0]

    def start_clock():
        deadline[0] = time.perf_counter() + args.seconds
        box["t0"] = time.perf_counter()

    box: dict = {}
    barrier = threading.Barrier(args.clients, action=start_clock)
    records: list = []
    threads = [
        threading.Thread(target=Client(args, c, rows, args.wrong).run, args=(barrier, deadline, records))
        for c in range(args.clients)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = max(r["end"] for r in records) - box["t0"] if records else args.seconds
    with open(args.out, "w") as f:
        json.dump({"wall_s": wall, "records": records}, f)


if __name__ == "__main__":
    main()
