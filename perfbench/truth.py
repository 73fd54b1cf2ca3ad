"""Expected answers, computed in pure Python from the generators' truth.

Each function takes the generated rows of one producer, already sorted
by (log_time, topic, sequence), as (topic, log_time, sequence, values).
"""

from __future__ import annotations

import bisect


def window(rows: list, start: int, end: int) -> list:
    """Rows with start <= log_time < end (the QL ``between`` bounds)."""
    times = [r[1] for r in rows]
    return rows[bisect.bisect_left(times, start):bisect.bisect_left(times, end)]


def playback(rows: list, topics: tuple[str, ...], start: int, end: int, limit: int) -> list:
    """Multi-topic playback: the first ``limit`` (topic, log_time,
    sequence) keys of the topics in time order."""
    out = [(r[0], r[1], r[2]) for r in window(rows, start, end) if r[0] in topics]
    return out[:limit]


def asof(
    rows: list,
    left: str,
    right: str,
    start: int,
    end: int,
    threshold_ns: int,
    immediate: bool,
) -> list:
    """dp3 ``left precedes right by less than t``: both sides merged in
    (log_time, side) order with the left side first on ties; a right row
    matches the latest left row at or before it when left.log_time + t >
    right.log_time.  A matched left and its matched rights are emitted
    (only the first right when ``immediate``).  Returns sorted keys."""
    merged = sorted(
        [(r[1], 0, r) for r in window(rows, start, end) if r[0] == left]
        + [(r[1], 1, r) for r in window(rows, start, end) if r[0] == right],
        key=lambda x: (x[0], x[1]),
    )
    out = []
    cur = None  # the as-of left row
    emitted_left = False
    for t, side, r in merged:
        if side == 0:
            cur, emitted_left = r, False
            continue
        if cur is None or not (threshold_ns == 0 or cur[1] + threshold_ns > t):
            continue
        if not emitted_left:
            out.append((cur[0], cur[1], cur[2]))
            emitted_left = True
        elif immediate:
            continue
        out.append((r[0], r[1], r[2]))
    return sorted(out, key=lambda k: (k[1], k[0], k[2]))


def stat_bins(rows: list, topic: str, field_index: int, start: int, end: int, granularity: int) -> dict:
    """bucket_start -> (message_count, field_count, sum, min, max)."""
    bins: dict[int, list] = {}
    for r in window(rows, start, end):
        if r[0] != topic:
            continue
        v = r[3][field_index]
        b = bins.setdefault(r[1] - r[1] % granularity, [0, 0, 0.0, v, v])
        b[0] += 1
        b[1] += 1
        b[2] += v
        b[3] = min(b[3], v)
        b[4] = max(b[4], v)
    return {k: tuple(v) for k, v in bins.items()}


def clusters_match(assignments: list[tuple[int, int]], planted: list[frozenset[int]]) -> bool:
    """(doc_id, component) rows form exactly the planted clusters (every
    other document alone in its component)."""
    comps: dict[int, set[int]] = {}
    for doc, comp in assignments:
        comps.setdefault(comp, set()).add(doc)
    found = {frozenset(m) for m in comps.values() if len(m) > 1}
    return found == set(planted)
