"""Deterministic synthetic change-log generator.

Replaces the reference's live-MySQL test harness (the canonical
`mypipe.user` workload, mypipe-api/src/test/scala/mypipe/package.scala:80-152)
with a seeded generator that emits the same kinds of events —
INSERT / UPDATE / DELETE mutations, BEGIN/COMMIT/ROLLBACK transaction
markers, and ALTER — as canonical change-event rows
(:mod:`mypipe_spark.model.CHANGE_EVENT_SCHEMA`).

The output is plain rows; write them to parquet/JSON and feed them to
either the batch decode path or a Structured Streaming file source.
Determinism (seeded RNG, fixed epoch) is what lets tests assert exact
row sets without a database.
"""

from __future__ import annotations

import random
import uuid
from datetime import datetime, timedelta, timezone
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .model import CHANGE_EVENT_SCHEMA

_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

# The fixture table mirrors mypipe's canonical `user` table
# (mypipe-api/src/main/resources/test.conf:7): id int PK,
# username/password varchar(32), login_count int, bio text(→bytes).
USER_DB = "mypipe"
USER_TABLE = "user"
USER_TABLE_ID = 66


def _uuid(rng: random.Random) -> str:
    return str(uuid.UUID(int=rng.getrandbits(128), version=4))


def _user_payload(user_id: int, version: int) -> dict[str, Any]:
    return {
        "integers": {"id": user_id, "login_count": version},
        "strings": {"username": f"username{version}", "password": f"password{version}"},
        "bytes": {"bio": f"bio{version}".encode()},
        "longs": {},
    }


class ChangeLogGenerator:
    """Seeded generator of canonical change-event rows.

    Emits transactions over a virtual `mypipe.user` table: each tx is
    BEGIN, then 1..max_tx_size mutations, then COMMIT (or ROLLBACK with
    probability ``rollback_prob``). Every event carries a monotonically
    increasing ``seq`` (the binlog (file,pos) analog) and an event-time
    ``ts`` advancing 1s per event — so ordering, tx-gating and
    commit-restamping semantics are all testable.
    """

    def __init__(
        self,
        seed: int = 42,
        rollback_prob: float = 0.1,
        max_tx_size: int = 5,
        seq_start: int = 0,
    ):
        self.rng = random.Random(seed)
        self.rollback_prob = rollback_prob
        self.max_tx_size = max_tx_size
        self.seq = seq_start
        self.next_user_id = 1
        self.live_users: dict[int, int] = {}  # user_id -> version

    # -- event constructors -------------------------------------------------

    def _base(self, op: str, txid: str | None) -> dict[str, Any]:
        self.seq += 1
        return {
            "seq": self.seq,
            "op": op,
            "database": USER_DB,
            "table": USER_TABLE,
            "table_id": USER_TABLE_ID,
            "txid": txid,
            "ts": _EPOCH + timedelta(seconds=self.seq),
            "sql": None,
            "old_bytes": None, "old_integers": None, "old_strings": None, "old_longs": None,
            "new_bytes": None, "new_integers": None, "new_strings": None, "new_longs": None,
        }

    def _control(self, op: str, txid: str | None, sql: str) -> dict[str, Any]:
        ev = self._base(op, txid)
        ev["table"] = None
        ev["table_id"] = None
        ev["sql"] = sql
        return ev

    def insert(self, txid: str | None = None) -> dict[str, Any]:
        uid = self.next_user_id
        self.next_user_id += 1
        self.live_users[uid] = 0
        ev = self._base("insert", txid)
        p = _user_payload(uid, 0)
        ev.update(
            new_integers=p["integers"], new_strings=p["strings"],
            new_bytes=p["bytes"], new_longs=p["longs"],
        )
        return ev

    def update(self, txid: str | None = None) -> dict[str, Any] | None:
        if not self.live_users:
            return None
        uid = self.rng.choice(sorted(self.live_users))
        old_v = self.live_users[uid]
        self.live_users[uid] = old_v + 1
        ev = self._base("update", txid)
        old, new = _user_payload(uid, old_v), _user_payload(uid, old_v + 1)
        ev.update(
            old_integers=old["integers"], old_strings=old["strings"],
            old_bytes=old["bytes"], old_longs=old["longs"],
            new_integers=new["integers"], new_strings=new["strings"],
            new_bytes=new["bytes"], new_longs=new["longs"],
        )
        return ev

    def delete(self, txid: str | None = None) -> dict[str, Any] | None:
        if not self.live_users:
            return None
        uid = self.rng.choice(sorted(self.live_users))
        old_v = self.live_users.pop(uid)
        ev = self._base("delete", txid)
        old = _user_payload(uid, old_v)
        ev.update(
            old_integers=old["integers"], old_strings=old["strings"],
            old_bytes=old["bytes"], old_longs=old["longs"],
        )
        return ev

    def alter(self, sql: str = "ALTER TABLE mypipe.user ADD COLUMN email varchar(128)") -> dict[str, Any]:
        return self._control("alter", None, sql)

    # -- workload -----------------------------------------------------------

    def transaction(self) -> list[dict[str, Any]]:
        """One BEGIN..COMMIT/ROLLBACK block of 1..max_tx_size mutations.

        A rollback reverts the generator's table state (live_users /
        next_user_id) to the pre-transaction snapshot — MySQL semantics:
        a later committed tx must never update/delete a row whose
        INSERT was rolled back (a strict CDC MERGE apply would fail on
        the phantom row, and replayed latest-state would diverge from
        the generator's own bookkeeping)."""
        txid = _uuid(self.rng)
        saved_users = dict(self.live_users)
        saved_next_id = self.next_user_id
        events = [self._control("begin", txid, "BEGIN")]
        n = self.rng.randint(1, self.max_tx_size)
        for _ in range(n):
            kind = self.rng.random()
            ev = None
            if kind < 0.6:
                ev = self.insert(txid)
            elif kind < 0.85:
                ev = self.update(txid)
            else:
                ev = self.delete(txid)
            if ev is None:  # nothing live to update/delete yet
                ev = self.insert(txid)
            events.append(ev)
        if self.rng.random() < self.rollback_prob:
            self.live_users = saved_users
            self.next_user_id = saved_next_id
            events.append(self._control("rollback", txid, "ROLLBACK"))
        else:
            events.append(self._control("commit", txid, "COMMIT"))
        return events

    def generate(self, num_transactions: int = 50, alter_every: int = 0) -> list[dict[str, Any]]:
        out: list[dict[str, Any]] = []
        for i in range(num_transactions):
            out.extend(self.transaction())
            if alter_every and (i + 1) % alter_every == 0:
                out.append(self.alter())
        return out


def changelog_df(
    spark: SparkSession,
    num_transactions: int = 50,
    seed: int = 42,
    rollback_prob: float = 0.1,
    alter_every: int = 0,
    seq_start: int = 0,
) -> DataFrame:
    """Materialize a deterministic change-log as a DataFrame."""
    gen = ChangeLogGenerator(seed=seed, rollback_prob=rollback_prob, seq_start=seq_start)
    rows = gen.generate(num_transactions, alter_every=alter_every)
    return spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA)


def write_changelog(
    spark: SparkSession,
    path: str,
    num_transactions: int = 50,
    seed: int = 42,
    rollback_prob: float = 0.1,
    num_files: int = 4,
    seq_start: int = 0,
) -> None:
    """Write a change-log as parquet split into several files, so a
    Structured Streaming file source can replay it file-by-file
    (``maxFilesPerTrigger=1``) as if events were arriving live.

    The file source replays in modification-time order, so the part
    files (range-partitioned by seq — file k holds the k-th seq range)
    get strictly increasing mtimes, exactly like a live tap appending
    segment files. This preserves the binlog-order precondition the
    tx-grouping state machine shares with the reference (a commit must
    not be seen before its transaction's mutations)."""
    df = changelog_df(spark, num_transactions, seed, rollback_prob, seq_start=seq_start)
    df.repartitionByRange(num_files, "seq").write.mode("overwrite").parquet(path)
    stamp_increasing_mtimes(path)


def stamp_increasing_mtimes(path: str, files: list[str] | None = None) -> None:
    """Stamp the directory's part files with strictly increasing
    mtimes in filename (= seq-range) order — the delivery-order
    contract behind every changelog replay: a single write job gives
    all part files ~the same mtime, the file stream source replays
    equal-mtime files in NONDETERMINISTIC order, and a COMMIT
    delivered before its transaction's mutations is silently dropped
    by the tx state machine (observed as a nondeterministic ~15-row
    loss at file boundaries before replays used this). Called by
    write_changelog; a caller that appends part files to a watched
    directory passes them as ``files`` to stamp only those."""
    import glob as _glob
    import os as _os
    import time as _time

    all_parts = _glob.glob(path + "/part-*.parquet")
    targets = sorted(files) if files is not None else sorted(all_parts)
    if not targets:
        return
    # Monotonic baseline (round-8 review): files stamp up to N-1
    # seconds into the FUTURE, so a later segment stamped into the
    # same watched directory would otherwise start BELOW the previous
    # segment's tail and replay out of order — the exact
    # commit-before-mutations loss this function exists to prevent.
    # The new stamps therefore start ABOVE every file this call does
    # not touch. For multi-segment directories pass the NEW segment's
    # files via ``files`` (restamping everything by name would
    # interleave segments, since part names don't encode segment
    # order); the default stamps the whole directory, the
    # single-segment contract.
    others = set(all_parts) - set(targets)
    floor = max((_os.path.getmtime(f) for f in others), default=0.0)
    base = max(_time.time(), floor + 1)
    for i, f in enumerate(targets):
        _os.utime(f, (base + i, base + i))
