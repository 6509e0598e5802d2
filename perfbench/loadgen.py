"""Seeded change-log segments for the cdc workloads.

Every segment is built by the library's own ``ChangeLogGenerator`` (one
generator per segment, seeded from the run seed and the segment index,
so its live-user set stays small and generation stays linear). A share
of the transactions is relabelled to another database, so the pipe's
``include-event-condition`` filter has work to reject.

Segments are written with pyarrow before the set-up clock starts, into
a staging directory outside the watched one. ``land`` moves one into
the watched directory atomically: it stamps a strictly increasing mtime
first (the file source replays in mtime order -- the contract of
``changelog.stamp_increasing_mtimes``) and then renames.
"""

from __future__ import annotations

import hashlib
import os
import multiprocessing
import random
from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from mypipe_spark.changelog import ChangeLogGenerator

KEPT_DB = "mypipe"
OTHER_DB = "mypipe_archive"
OTHER_DB_SHARE = 0.2
MUTATION_OPS = ("insert", "update", "delete")

# Canary: the event count and content hash of one fixed generator call.
# A change to ChangeLogGenerator changes the workload of every seed; this
# check makes that change fail the benchmark loudly instead.
CANARY = {"seed": 7, "num_tx": 50, "events": 266,
          "sha256": "6b2927f5862a7119c3460ab636bc345ff170ce6bae24125d0709f5c9f70116a9"}


_PAYLOAD = [("bytes", pa.binary()), ("integers", pa.int32()),
            ("strings", pa.string()), ("longs", pa.int64())]

ARROW_SCHEMA = pa.schema(
    [
        pa.field("seq", pa.int64(), nullable=False),
        pa.field("op", pa.string(), nullable=False),
        pa.field("database", pa.string()),
        pa.field("table", pa.string()),
        pa.field("table_id", pa.int64()),
        pa.field("txid", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field("sql", pa.string()),
    ]
    + [pa.field(f"{p}{k}", pa.map_(pa.string(), t)) for p in ("old_", "new_") for k, t in _PAYLOAD]
)


def events_sha256(events: list[dict]) -> str:
    """Content hash of an event list, independent of dict order."""
    h = hashlib.sha256()
    for ev in events:
        h.update(repr(sorted((k, sorted(v.items()) if isinstance(v, dict) else v)
                             for k, v in ev.items())).encode())
    return h.hexdigest()


def check_canary() -> None:
    gen = ChangeLogGenerator(seed=CANARY["seed"])
    events = gen.generate(CANARY["num_tx"])
    got = (len(events), events_sha256(events))
    want = (CANARY["events"], CANARY["sha256"])
    if got != want:
        raise RuntimeError(
            f"ChangeLogGenerator output changed: (events, sha256) = {got}, "
            f"recorded {want}; the cdc workloads are no longer the same"
        )


def canonical(ev: dict) -> str:
    """One mutation as a string, built so that ``cdc.canonical_col``
    builds the same string in Spark from the decoded wire rows. The
    wire envelope carries no seq/ts/sql, so those are left out; an empty
    map and an absent one encode alike on the wire."""
    parts = [ev["op"], ev["database"] or "", ev["table"] or "",
             "" if ev["table_id"] is None else str(ev["table_id"]), ev["txid"] or ""]
    for prefix in ("old_", "new_"):
        for kind, _ in _PAYLOAD:
            image = ev[f"{prefix}{kind}"] or {}
            parts.append(",".join(sorted(
                f"{k}={v.hex().upper() if kind == 'bytes' else v}" for k, v in image.items())))
    return "|".join(parts)


def digest(text: str) -> bytes:
    return hashlib.blake2b(text.encode(), digest_size=16).digest()


@dataclass
class Segment:
    index: int
    path: str  # staged file, outside the watched directory
    events: int
    sha256: str  # of the staged file
    # digests of the mutation keys the pipe must emit, and the txids that
    # carry them (the wire keeps txids, so output rows map back here)
    expected: Counter = field(repr=False)
    txids: frozenset = field(repr=False)

    @property
    def mutations(self) -> int:
        return sum(self.expected.values())


def _segment_events(seed: int, index: int, num_tx: int) -> list[dict]:
    gen = ChangeLogGenerator(seed=seed * 1_000_003 + index,
                             seq_start=index * num_tx * 16)  # > events per segment
    relabel = random.Random(seed * 7_919 + index)
    events: list[dict] = []
    for _ in range(num_tx):
        tx = gen.transaction()
        if relabel.random() < OTHER_DB_SHARE:
            for ev in tx:
                ev["database"] = OTHER_DB
        events.extend(tx)
    return events


def _table(events: list[dict]) -> pa.Table:
    # map columns take (key, value) pair lists
    cols = {
        f.name: [ev[f.name] for ev in events] if not pa.types.is_map(f.type)
        else [None if ev[f.name] is None else list(ev[f.name].items()) for ev in events]
        for f in ARROW_SCHEMA
    }
    return pa.Table.from_pydict(cols, schema=ARROW_SCHEMA)


def make_segment(seed: int, index: int, num_tx: int, stage_dir: str) -> Segment:
    events = _segment_events(seed, index, num_tx)
    path = os.path.join(stage_dir, f"part-{index:06d}.parquet")
    pq.write_table(_table(events), path)
    with open(path, "rb") as f:
        sha = hashlib.sha256(f.read()).hexdigest()
    kept = [ev for ev in events if ev["database"] == KEPT_DB]
    return Segment(
        index, path, len(events), sha,
        Counter(digest(canonical(ev)) for ev in kept if ev["op"] in MUTATION_OPS),
        frozenset(ev["txid"] for ev in kept),
    )


def make_segments(seed: int, specs: list[tuple[int, int]], stage_dir: str,
                  processes: int) -> list[Segment]:
    """Build one segment per ``(index, num_tx)`` spec in a pool of spawned
    processes; the result keeps the order of ``specs``."""
    os.makedirs(stage_dir, exist_ok=True)
    args = [(seed, i, n, stage_dir) for i, n in specs]
    with multiprocessing.get_context("spawn").Pool(processes) as pool:
        segs = pool.starmap(make_segment, args, chunksize=1)
        pool.close()
        pool.join()  # the workers exit before the clock starts
    return segs


class Lander:
    """Moves staged segments into the watched directory, one rename
    each, with strictly increasing mtimes."""

    def __init__(self, watch_dir: str):
        self.watch_dir = watch_dir
        os.makedirs(watch_dir, exist_ok=True)
        self._last_mtime = 0.0

    def land(self, seg: Segment, now: float) -> str:
        # the stamp goes on BEFORE the rename: a listing that sees the
        # file must already see its final mtime
        mtime = max(now, self._last_mtime + 0.001)
        self._last_mtime = mtime
        os.utime(seg.path, (mtime, mtime))
        dest = os.path.join(self.watch_dir, os.path.basename(seg.path))
        os.rename(seg.path, dest)
        return dest


def combined_sha256(segs: list[Segment]) -> str:
    """One content hash over a run's segments: two runs of a seed must
    print the same value."""
    h = hashlib.sha256()
    for s in sorted(segs, key=lambda s: s.index):
        h.update(s.sha256.encode())
    return h.hexdigest()
