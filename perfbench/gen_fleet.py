"""Seeded robot-fleet MCAP generator.

Each producer is a robot publishing three ros1msg topics at fixed rates
(``/imu``, ``/odom``, ``/fix``) with a seeded per-message jitter, written
as chunked zstd MCAP through the package's own writer.  The generator
keeps the ground truth the benchmark checks answers against: every
message as a ``(producer, topic, log_time, sequence, field values)`` row.

Same seed, same bytes: every segment draws from its own ``random.Random``
keyed by (seed, producer, index).  The truth side needs no Spark and no
``dp3_spark`` import, so the load generator can rebuild it from the seed.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

NS = 1_000_000_000
# 2020-09-13T12:26:40Z: a round epoch so windows are easy to read in logs
EPOCH_NS = 1_600_000_000 * NS

# topic -> (schema name, msgdef, rate Hz, stats field)
TOPICS = {
    "/imu": ("bench_msgs/Imu", "float64 ax\nfloat64 ay\nfloat64 az\nfloat64 gz\n", 50, "ax"),
    "/odom": ("bench_msgs/Odom", "float64 x\nfloat64 y\nfloat64 vx\nfloat64 wz\n", 20, "vx"),
    "/fix": ("bench_msgs/Fix", "float64 lat\nfloat64 lon\nfloat64 alt\nuint8 status\n", 5, "alt"),
}
FIELDS = {t: [ln.split()[1] for ln in spec[1].splitlines()] for t, spec in TOPICS.items()}
STAT_FIELDS = tuple(spec[3] for spec in TOPICS.values())


@dataclass
class Segment:
    """One MCAP file's worth of one producer: its messages in log-time
    order as (topic, log_time, sequence, values)."""

    producer: str
    rows: list[tuple[str, int, int, tuple]] = field(default_factory=list)


def _value(rng: random.Random) -> float:
    # multiples of 1/64 in [-64, 64): exact in float64 and in the summary
    # store's decimal(25,6) sums, so served and raw statistics compare
    # exactly
    return rng.randrange(-4096, 4096) / 64.0


def _message(topic: str, rng: random.Random) -> tuple:
    if topic == "/fix":
        return (_value(rng), _value(rng), _value(rng), rng.randrange(3))
    return tuple(_value(rng) for _ in FIELDS[topic])


class Fleet:
    """Deterministic per-producer message streams.  ``segment(p, i)`` is
    the i-th ``seconds``-long slice of producer ``p``'s recording; the same
    (seed, producer, index) always yields the same messages."""

    def __init__(self, seed: int, producers: int, seconds: int):
        self.seed = seed
        self.producers = [f"robot-{i:02d}" for i in range(producers)]
        self.seconds = seconds

    def segment(self, producer: str, index: int) -> Segment:
        rng = random.Random(f"{self.seed}/{producer}/{index}")
        start = EPOCH_NS + index * self.seconds * NS
        seg = Segment(producer)
        for topic, (_, _, hz, _) in TOPICS.items():
            period = NS // hz
            # per-producer phase, constant across segments
            phase = random.Random(f"{self.seed}/{producer}/{topic}").randrange(period)
            n = self.seconds * hz
            for i in range(n):
                jitter = rng.randrange(period // 4)
                t = start + phase + i * period + jitter
                seg.rows.append((topic, t, index * n + i, _message(topic, rng)))
        seg.rows.sort(key=lambda r: (r[1], r[0], r[2]))
        return seg


CHUNK_SIZE = 64 << 10  # several chunks per file, so imports split into units


def write_segment(path: str, seg: Segment) -> int:
    """Write one segment as chunked zstd MCAP; returns the file size."""
    from dp3_spark.sources.mcap_codec import (
        McapChannel,
        McapMessage,
        McapSchema,
        McapStreamWriter,
    )
    from dp3_spark.sources.msgdef import parse_schema
    from dp3_spark.sources.rosdecode import ros1_encode

    schemas = {t: parse_schema(spec[0], "ros1msg", spec[1]) for t, spec in TOPICS.items()}
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        w = McapStreamWriter(f, chunked=True, compression="zstd", chunk_size=CHUNK_SIZE)
        for cid, (topic, (name, text, _, _)) in enumerate(TOPICS.items(), start=1):
            w.add_schema(McapSchema(cid, name, "ros1msg", text.encode()))
            w.add_channel(McapChannel(cid, cid, topic, "ros1"))
        cids = {t: i for i, t in enumerate(TOPICS, start=1)}
        for topic, t, seq, vals in seg.rows:
            data = ros1_encode(schemas[topic], dict(zip(FIELDS[topic], vals)))
            w.write_message(McapMessage(cids[topic], seq, t, t, data))
        w.close()
    os.replace(tmp, path)
    return os.path.getsize(path)
