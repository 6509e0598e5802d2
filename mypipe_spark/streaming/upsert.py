"""Incremental keyed-state materialization — the per-microbatch MERGE
form of the batch CDC materializations (plans/cdc.py: cdc_latest_state
keep-last compaction, cdc_scd2_history versioned intervals).

The reference's downstream consumers rebuild these tables by replaying
the whole compacted log (README.md:12 points users at Kafka log
compaction); the Spark-native form maintains them per microbatch so a
100 TB history is never rescanned: each merge step touches the previous
state (keys-sized, not history-sized) plus one microbatch.

Both merge cores are pure DataFrame -> DataFrame functions so the SAME
code runs under a batch recompute (the registered cdc_latest_state and
cdc_scd2_history queries are one merge step from empty state) and
under ``foreachBatch`` (the ``latest_state`` / ``scd2`` producers,
sinks/producers.py) — the stream==batch equivalence is pinned in
tests/test_windows.py.

State storage: ``foreachBatch`` cannot overwrite the parquet directory
it is reading state from (Spark reads lazily; overwriting mid-job robs
the scan). ``KeyedStateDir`` therefore writes one versioned snapshot
per microbatch (``v<batch_id>``) and reads the latest complete one —
the plain-filesystem analog of a MERGE into a table format with
snapshot isolation (Delta/Iceberg); swap in a real table format in
production and ``merge step`` semantics stay identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# the events-table shape: keep-last key, per-key order, columns —
# the defaults of latest_state_merge and the latest_state producer
EVENT_KEYS = ("user_id",)
EVENT_ORDER = ("ts", "event_id")
EVENT_COLS = ("user_id", "event_id", "event_type", "value", "ts")


def latest_state_merge_for(
    key_cols: list[str], order_cols: list[str], cols: list[str]
):
    """Build a keep-last MERGE step for any (keys, ordering, columns)
    triple: per key keep the ``order_cols``-max row. The step is
    associative and order-insensitive (max of maxes), so folding it
    over any chunking of the log reproduces the batch recompute
    exactly — PROVIDED ``order_cols`` is a strict total order per key
    (include a unique tiebreak, as the default (ts, event_id) is on
    real feeds): on a FULL tie row_number picks arbitrarily, and which
    payload survives can then differ between chunkings and from the
    batch recompute (the same precondition every NTILE/top-k operator
    in the catalog states). Shuffles |state| +
    |batch| rows on the key, never the history. This is what makes
    the compaction config-expressible (the ``latest_state`` producer
    in sinks/producers.py)."""

    def merge(state: DataFrame | None, batch: DataFrame) -> DataFrame:
        ev = batch.select(*cols)
        allr = ev if state is None else state.select(*cols).unionByName(ev)
        w = Window.partitionBy(*key_cols).orderBy(
            *[F.desc(c) for c in order_cols]
        )
        return (
            allr.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    return merge


def latest_state_merge(state: DataFrame | None, batch: DataFrame) -> DataFrame:
    """One MERGE step of keep-last compaction: previous keyed state
    (one row per user_id, or None on the first batch) + a microbatch of
    change events -> the new state. Per key keep the (ts, event_id)-max
    row; from empty state this IS cdc_latest_state, and folding the
    merge over any partition of the event log reproduces it exactly
    (the step is associative and order-insensitive: max of maxes).
    Shuffles |state| + |batch| rows on the key, never the history."""
    return latest_state_merge_for(
        list(EVENT_KEYS), list(EVENT_ORDER), list(EVENT_COLS)
    )(state, batch)


_SCD2_COLS = (
    "user_id", "event_id", "event_type", "value",
    "valid_from", "valid_to", "is_current",
)


def scd2_merge(history: DataFrame | None, batch: DataFrame) -> DataFrame:
    """One MERGE step of SCD2 interval maintenance: previous history
    (or None) + a microbatch of change events -> the new history.
    Closed intervals are immutable; each key's OPEN row re-enters the
    LEAD window together with the new events, which closes it if a
    newer version arrived. From empty history this IS
    cdc_scd2_history.

    Equals the batch recompute when arrivals are per-key monotonic
    against CLOSED intervals — i.e. a new event may interleave with the
    open row but not predate an already-closed interval. That is the
    commit-order delivery the reference's binlog replay guarantees
    (events are emitted in commit order per row); under out-of-order
    feeds put a watermarked sort in front, and put
    :func:`scd2_late_split` in front of the merge so an event that DOES
    predate a closed interval is dead-lettered instead of silently
    splicing a wrong interval (the ``scd2`` producer does this when
    its ``dead-letter-path`` is set).

    Scale shape: the merge shuffles |open rows for affected keys| +
    |batch| — history stays on disk untouched except the open slice.

    Timeless events (NULL ts) are EXCLUDED: NULL ordering flips
    between engines (the DuckDB oracle filters ts IS NOT NULL too),
    and a NULL ts would become an immutable [NULL, T) interval
    persisted in every future snapshot. Put :func:`scd2_late_split`
    in front to PRESERVE such rows in the DLQ instead of dropping
    them here."""
    ev = batch.filter(F.col("ts").isNotNull()).select(
        "user_id", "event_id", "event_type", "value",
        F.col("ts").alias("valid_from"),
    )
    if history is not None:
        open_ = history.filter(F.col("is_current") == 1).select(
            "user_id", "event_id", "event_type", "value", "valid_from"
        )
        ev = open_.unionByName(ev)
    w = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    nxt = F.lead("valid_from").over(w)
    recomputed = ev.select(
        "user_id", "event_id", "event_type", "value", "valid_from",
        nxt.alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
    )
    if history is None:
        return recomputed
    closed = history.filter(F.col("is_current") == 0).select(*_SCD2_COLS)
    return closed.unionByName(recomputed.select(*_SCD2_COLS))


def scd2_late_split(
    history: DataFrame | None, batch: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Out-of-order guard for :func:`scd2_merge`: split a microbatch
    into ``(mergeable, late)``.

    An event is *late* when its ``ts`` predates the key's newest
    CLOSED interval — i.e. ``ts < max(valid_to)`` over the key's
    ``is_current=0`` rows. Merging it anyway would splice a wrong
    interval: the closed rows are immutable, so the event would pair
    with the open row in the LEAD window and produce an interval that
    overlaps history (the closed interval it belongs inside can no
    longer be re-cut). Events interleaving at or after that frontier —
    including ones before the OPEN row's start when no closed interval
    exists yet — recompute correctly and pass through.

    Timeless events (NULL ts) divert too — ``scd2_timeless_event`` —
    since an interval cannot be ordered by a NULL boundary (the merge
    excludes them; diverting PRESERVES them, the DLQ discipline).

    Scale shape: the frontier aggregate is keys-sized (one row per key
    with closed history) and the guard join shuffles |batch| +
    |frontier| on the key — the same profile as the merge step itself;
    nothing history-sized moves. Late rows come back with the
    :mod:`.errors` ``dlq_reason`` convention."""
    if history is None:
        marked = batch.withColumn(
            "_closed_until", F.lit(None).cast(batch.schema["ts"].dataType)
        )
    else:
        frontier = (
            history.filter(F.col("is_current") == 0)
            .groupBy("user_id")
            .agg(F.max("valid_to").alias("_closed_until"))
        )
        marked = batch.join(frontier, "user_id", "left")
    is_late = F.col("ts") < F.col("_closed_until")  # NULL frontier → NULL → not late
    reason = F.when(
        F.col("ts").isNull(),
        "scd2_timeless_event: NULL ts cannot order an interval",
    ).when(
        F.coalesce(is_late, F.lit(False)),
        "scd2_late_event: ts predates a closed interval",
    )
    marked = marked.withColumn("dlq_reason", reason)
    ok = marked.filter(F.col("dlq_reason").isNull()).drop(
        "_closed_until", "dlq_reason"
    )
    dead = marked.filter(F.col("dlq_reason").isNotNull()).drop("_closed_until")
    return ok, dead


class KeyedStateDir:
    """Versioned parquet snapshots of a keyed state table, one per
    applied microbatch: ``<root>/v<batch_id>/`` + a ``_LATEST`` marker
    written AFTER the snapshot commits.

    Replay safety (foreachBatch is at-least-once, so batch N can run
    again after a crash anywhere around the checkpoint commit): a merge
    step for batch N always reads the newest COMPLETE snapshot with id
    STRICTLY BELOW N (``latest_before``/``read_version``), never the
    marker. Following the marker would re-merge batch N into its own
    output when the crash landed between marker update and checkpoint
    commit — scd2_merge is not idempotent under self-application (the
    replayed events would pair with their already-merged copies in the
    LEAD window) — and would lazily read ``v<N>`` while the same job
    overwrites it. Completeness is Spark's own per-directory
    ``_SUCCESS`` commit marker, so a torn ``v<N>`` from a crash
    mid-write is skipped until the replay rewrites it. The ``_LATEST``
    marker remains the atomicity point for EXTERNAL readers: before a
    replay overwrites the snapshot the marker currently points at,
    ``write`` rewinds the marker to the newest older committed
    snapshot, so the marker never names a directory under rewrite —
    readers see state at most one batch behind until recovery
    re-commits. Retention pruning honors the same readers: the newest
    ``retain`` committed snapshots always survive, so a reader holding
    a just-resolved marker has ``retain`` batch intervals to finish
    its lazy scan before its directory can be pruned (a slower reader
    — or one racing the rewind instant — is the inherent plain-FS gap
    a real table format's snapshot isolation closes)."""

    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _marker(self) -> str:
        return os.path.join(self.root, "_LATEST")

    def _point_marker(self, version: str) -> None:
        tmp = self._marker() + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(version)
        os.replace(tmp, self._marker())

    def complete_versions(self) -> list[int]:
        out = []
        for name in os.listdir(self.root):
            if (
                name.startswith("v")
                and name[1:].isdigit()
                and os.path.exists(os.path.join(self.root, name, "_SUCCESS"))
            ):
                out.append(int(name[1:]))
        return sorted(out)

    def latest_before(self, batch_id: int) -> int | None:
        prior = [v for v in self.complete_versions() if v < batch_id]
        return max(prior) if prior else None

    def read_version(self, spark: SparkSession, version: int) -> DataFrame:
        return spark.read.parquet(os.path.join(self.root, f"v{version}"))

    def read(self, spark: SparkSession) -> DataFrame | None:
        try:
            with open(self._marker()) as fh:
                current = fh.read().strip()
        except FileNotFoundError:
            return None
        return spark.read.parquet(os.path.join(self.root, current))

    def write(
        self,
        df: DataFrame,
        batch_id: int,
        prune_below: int | None = None,
        retain: int = 2,
    ) -> None:
        version = f"v{batch_id}"
        # Replay case: the marker may already point at v<batch_id>
        # (crash landed between marker update and checkpoint commit).
        # Rewind it to the newest older committed snapshot BEFORE the
        # overwrite clobbers the directory, so an external read() never
        # follows the marker into files being rewritten — it just sees
        # state one batch older until recovery re-commits. (A reader
        # that resolved the marker in the instant before the rewind can
        # still lazily scan mid-rewrite — the inherent plain-FS gap a
        # real table format's snapshot isolation closes.)
        try:
            with open(self._marker()) as fh:
                current = fh.read().strip()
        except FileNotFoundError:
            current = None
        if current == version:
            prior = self.latest_before(batch_id)
            if prior is None:
                os.remove(self._marker())
            else:
                self._point_marker(f"v{prior}")
        df.write.mode("overwrite").parquet(os.path.join(self.root, version))
        self._point_marker(version)
        if prune_below is not None:
            # retention: the merge for any future batch M > batch_id
            # reads at most latest_before(M) >= prune_below, and
            # foreachBatch never replays batches at or before the one
            # whose checkpoint committed — snapshots below the one this
            # merge consumed are unreachable BY MERGES. External
            # readers are the reason for ``retain``: a reader that
            # resolved _LATEST just before two further batches land
            # would otherwise have its snapshot rmtree'd mid-scan
            # (lazy parquet reads). Keeping the newest ``retain``
            # committed snapshots in addition to the consumed one
            # widens the safe window to ``retain`` batch intervals; a
            # reader slower than that needs a real table format's
            # snapshot isolation (module docstring). Disk stays at
            # ~retain+1 snapshots instead of one per microbatch.
            import shutil

            keep = set(self.complete_versions()[-retain:])
            for v in self.complete_versions():
                if v < prune_below and v not in keep:
                    shutil.rmtree(
                        os.path.join(self.root, f"v{v}"), ignore_errors=True
                    )


def merge_apply_batch(
    store: KeyedStateDir,
    merge_fn,
    split_fn=None,
    dead_letter_path: str | None = None,
):
    """The ``foreachBatch`` body of a keyed-state merge, run by the
    ``latest_state`` / ``scd2`` producers (sinks/producers.py): fold
    ``merge_fn(previous_state, batch)`` into a new ``KeyedStateDir``
    snapshot.

    With ``split_fn`` (e.g. :func:`scd2_late_split`), each batch is
    first split into ``(mergeable, dead)`` against the previous state;
    dead rows append to ``dead_letter_path`` as parquet (required when
    ``split_fn`` is given — diverted rows are preserved, never
    dropped) and only the mergeable slice enters the merge. The DLQ
    append lands BEFORE the state snapshot commits, so a crash between
    them replays the batch and re-appends: at-least-once on the DLQ
    side, while the state stays exactly-once via the versioned
    snapshots."""
    if split_fn is not None and not dead_letter_path:
        raise ValueError(
            "keyed-state merge: split_fn requires a dead_letter_path "
            "(diverted rows must be preserved, not dropped)"
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prior = store.latest_before(batch_id)
        prev = None if prior is None else store.read_version(spark, prior)
        if split_fn is not None:
            batch_df, dead = split_fn(prev, batch_df)
            dead.write.mode("append").parquet(dead_letter_path)
        store.write(merge_fn(prev, batch_df), batch_id, prune_below=prior)

    return apply_batch
