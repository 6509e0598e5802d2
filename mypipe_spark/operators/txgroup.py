"""Transaction grouping (SURVEY §2.9 T1-T3) — emit-on-commit semantics.

The reference buffers mutations per open transaction and, on
COMMIT/XID, stamps them all with the commit timestamp and emits them
(optionally as one group); on ROLLBACK it discards the buffer
(reference: AbstractBinaryLogConsumer.scala:15-21 state,
handleBegin :124-129, handleRollback :131-134, commit :152-177;
config ``group-mutations-by-tx`` reference.conf:14-21).

Two implementations with identical semantics:

* :func:`committed_mutations` — **batch/relational form**: a join of
  mutations against commit markers on ``txid``. Declarative, fully
  SQL-expressible (this is what the DuckDB oracle checks), and at
  scale it is one shuffle on txid — skew-safe because a txid's row
  count is bounded by transaction size, not data size.
* :func:`tx_group_stream` — **streaming stateful form** on
  ``applyInPandasWithState``: state = the buffered events of each open
  transaction, keyed by txid, spilled to the state store (the
  reference keeps this buffer unbounded in heap — its known scale
  limit; Spark's state store removes it).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .decode import is_mutation


def committed_mutations(df: DataFrame, group_by_tx: bool = False) -> DataFrame:
    """Mutations of committed transactions, restamped with commit time.

    SEQUENCE-AWARE, exactly like the stateful twin: a mutation is
    emitted iff its NEXT control marker (commit or rollback, by binlog
    ``seq`` within the txid) is a commit — the batch statement of
    "buffer per tx; rollback clears the buffer; commit flushes it". An
    order-insensitive inner join against commit markers would emit
    ROLLED-BACK mutations whenever their txid later commits again.
    Implemented as ONE window over txid (a first-non-null forward scan
    of control markers), a single exchange on txid.

    - commit-time restamping (T3): ``ts`` becomes THAT commit's
      timestamp (a txid with several commit markers restamps each
      flush group with its own commit, matching the stream's
      flush-per-commit), the original event time is kept as
      ``event_ts``;
    - ``group_by_tx=True`` emits one row per FLUSH (per commit — the
      stream's grouped emission unit) with the mutations collected in
      order, sorted by binlog sequence.

    Mutations with a NULL ``txid`` — snapshot preloads from
    :func:`..sources.snapshot.to_insert_mutations`, which are committed
    by construction — pass through instead of silently vanishing into
    the control scan: per-mutation mode keeps them as-is (their ts IS
    their commit time); grouped mode emits each as its own
    single-mutation group (grouping a 100 TB preload into one NULL-key
    row would be both wrong and a straggler)."""
    from pyspark.sql import Window

    mutations = df.filter(is_mutation())
    preload = mutations.filter(F.col("txid").isNull())
    evs = df.filter(
        (is_mutation() | F.col("op").isin("commit", "rollback"))
        & F.col("txid").isNotNull()
    )
    w = (
        Window.partitionBy("txid")
        .orderBy(F.col("seq").asc())
        .rowsBetween(1, Window.unboundedFollowing)
    )
    ctl = F.when(
        F.col("op").isin("commit", "rollback"),
        F.struct(F.col("seq").alias("c_seq"), F.col("op").alias("c_op"),
                 F.col("ts").alias("c_ts")),
    )
    scanned = evs.withColumn("_next_ctl", F.first(ctl, ignorenulls=True).over(w))
    stamped = (
        scanned.filter(is_mutation() & (F.col("_next_ctl.c_op") == "commit"))
        .withColumn("event_ts", F.col("ts"))
        .withColumn("ts", F.col("_next_ctl.c_ts"))
        .withColumn("_flush_seq", F.col("_next_ctl.c_seq"))
        .drop("_next_ctl")
    )
    if not group_by_tx:
        return stamped.drop("_flush_seq").unionByName(
            preload.withColumn("event_ts", F.col("ts"))
        )
    grouped = (
        stamped.groupBy("txid", "_flush_seq")
        .agg(
            F.min("ts").alias("ts"),
            F.count("*").alias("n_mutations"),
            F.array_sort(
                F.collect_list(F.struct("seq", "op", "database", "table"))
            ).alias("mutations"),
        )
        .drop("_flush_seq")
    )
    singles = preload.select(
        "txid",
        "ts",
        F.lit(1).cast("long").alias("n_mutations"),
        F.array(F.struct("seq", "op", "database", "table")).alias("mutations"),
    )
    return grouped.unionByName(singles)


# ---------------------------------------------------------------------------
# streaming stateful form
# ---------------------------------------------------------------------------

# Events cross the stateful operator as JSON strings: the state layout
# stays a flat (count, payload) pair regardless of the table schema,
# exactly like the reference's type-agnostic per-tx buffer. Timestamps
# cross as exact integer MICROSECONDS (unix_micros/timestamp_micros):
# an epoch-seconds double round-trip truncates sub-second commit times
# one microsecond low (8.7 s → 8.699999… → .699999), silently breaking
# stream==batch parity.
TX_OUTPUT_SCHEMA = (
    "txid string, seq long, op string, commit_ts_us long, event_json string"
)
# Grouped emission (`group-mutations-by-tx`, reference.conf:14-21;
# AbstractBinaryLogConsumer.scala:152-177): one row per committed tx.
# The mutation list crosses the state boundary as JSON so the operator
# schema stays flat; tx_group_stream re-expands it to array<struct>.
TX_GROUPED_OUTPUT_SCHEMA = (
    "txid string, commit_ts_us long, n_mutations long, mutations_json string"
)
_TX_MUTATION_STRUCT = (
    "array<struct<seq:bigint, op:string, database:string, table:string>>"
)
_TX_STATE_SCHEMA = "events string"


def _make_tx_state_fn(group_by_tx: bool = False):
    def _tx_state_fn(
        key: tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Per-txid state machine: buffer mutations; flush on commit
        with the commit timestamp; discard on rollback.

        The batch's rows are replayed in GLOBAL binlog (seq) order and
        the control ops are applied sequentially — a rollback clears
        exactly the mutations buffered before it, a commit flushes
        exactly the ones before it. Folding the controls into a single
        last-winner outcome would make [m1, m2, rollback, m3, commit]
        within one microbatch emit the rolled-back m1/m2, and the
        result would change with microbatch chunking."""
        import json

        (buffered,) = state.get if state.exists else ("[]",)
        events: list[dict] = json.loads(buffered)

        rows = [r for pdf in pdfs for r in pdf.itertuples(index=False)]
        rows.sort(key=lambda r: int(r.seq))
        flushes: list[tuple[list[dict], int]] = []
        for row in rows:
            if row.op in ("insert", "update", "delete"):
                events.append(
                    {"seq": int(row.seq), "op": row.op, "event_json": row.event_json}
                )
            elif row.op == "commit":
                if events:
                    # Buffered state events may interleave with this
                    # batch's — restore binlog order at flush time.
                    events.sort(key=lambda e: e["seq"])
                    flushes.append((events, int(row.ts_us)))
                events = []
            elif row.op == "rollback":
                events = []

        if events:
            state.update((json.dumps(events),))
        else:
            state.remove()

        for flushed, commit_us in flushes:
            if group_by_tx:
                muts = []
                for e in flushed:
                    ej = json.loads(e["event_json"])
                    muts.append(
                        {
                            "seq": e["seq"],
                            "op": e["op"],
                            "database": ej.get("database"),
                            "table": ej.get("table"),
                        }
                    )
                yield pd.DataFrame(
                    {
                        "txid": [key[0]],
                        "commit_ts_us": [commit_us],
                        "n_mutations": [len(muts)],
                        "mutations_json": [json.dumps(muts)],
                    }
                )
            else:
                out = pd.DataFrame(flushed)
                out.insert(0, "txid", key[0])
                out["commit_ts_us"] = commit_us
                yield out[["txid", "seq", "op", "commit_ts_us", "event_json"]]

    return _tx_state_fn


def tx_group_stream(df: DataFrame, group_by_tx: bool = False) -> DataFrame:
    """Streaming transaction grouping over the canonical change stream.

    Input: a STREAMING DataFrame with CHANGE_EVENT_SCHEMA columns —
    ``applyInPandasWithState`` is streaming-only in Spark (a batch
    input fails at planning with an unrelated-looking "unsupported in
    batch query" error); batch callers use :func:`committed_mutations`,
    whose output this function matches row-for-row (the stream==batch
    parity pins).
    Output: committed mutations only, with ``ts`` restamped to
    the commit time, in original binlog order per transaction.

    ``group_by_tx=True`` emits ONE row per committed transaction —
    ``(txid, ts, n_mutations, mutations array<struct>)`` — matching
    :func:`committed_mutations(group_by_tx=True)` column-for-column
    (the reference's ``group-mutations-by-tx`` flag, reference.conf:14-21;
    AbstractBinaryLogConsumer.scala:152-177).

    The full event row rides through the state machine as JSON so the
    state store layout is schema-agnostic; callers re-expand with
    ``from_json`` + CHANGE_EVENT_SCHEMA.

    A transaction left open stays buffered until its commit or
    rollback arrives, as in the reference
    (AbstractBinaryLogConsumer.scala:17)."""
    tagged = df.select(
        "txid",
        "seq",
        "op",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.to_json(F.struct(*df.columns)).alias("event_json"),
    )
    keyed = tagged.filter(F.col("txid").isNotNull())
    # Snapshot preloads (txid NULL, committed by construction) bypass
    # the per-tx state machine — mirroring committed_mutations' pass-
    # through: per-mutation rows as-is, or single-mutation groups.
    preload = tagged.filter(F.col("txid").isNull() & is_mutation())

    grouped = keyed.groupBy("txid").applyInPandasWithState(
        _make_tx_state_fn(group_by_tx=group_by_tx),
        outputStructType=(
            TX_GROUPED_OUTPUT_SCHEMA if group_by_tx else TX_OUTPUT_SCHEMA
        ),
        stateStructType=_TX_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    if group_by_tx:
        grouped = grouped.unionByName(
            preload.select(
                "txid",
                F.col("ts_us").alias("commit_ts_us"),
                F.lit(1).cast("long").alias("n_mutations"),
                F.to_json(
                    F.array(
                        F.struct(
                            "seq",
                            "op",
                            F.get_json_object("event_json", "$.database").alias(
                                "database"
                            ),
                            F.get_json_object("event_json", "$.table").alias(
                                "table"
                            ),
                        )
                    )
                ).alias("mutations_json"),
            )
        )
    else:
        grouped = grouped.unionByName(
            preload.select(
                "txid", "seq", "op",
                F.col("ts_us").alias("commit_ts_us"),
                "event_json",
            )
        )
    stamped = grouped.withColumn(
        "ts", F.timestamp_micros(F.col("commit_ts_us"))
    ).drop("commit_ts_us")
    if group_by_tx:
        stamped = stamped.select(
            "txid",
            "ts",
            "n_mutations",
            F.from_json("mutations_json", _TX_MUTATION_STRUCT).alias("mutations"),
        )
    return stamped
