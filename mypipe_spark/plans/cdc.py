"""CDC operators re-expressed as oracle-checkable queries.

The reference's data-plane stages (SURVEY.md §2.2, §2.9) — predicate
event filtering (F1), per-type demux (F3), topic routing (X7), and
latest-state materialization (the Kafka-compaction analog,
README.md:12) — exercised over the driver's ``events`` stream table so
the DuckDB oracle can verify them. The same transforms run unchanged on
a streaming DataFrame (see mypipe_spark.operators / streaming.pipe and
tests/test_pipe.py for the streaming form).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..streaming.upsert import latest_state_merge, scd2_merge
from .catalog import (
    count_of_sql,
    load_tables,
    money_sum_col,
    register,
    round4_frac_sql,
)


@register(
    "cdc_filter_route",
    oracle="""
    SELECT event_id, user_id, event_type,
           CONCAT('app_', event_type, '_generic') AS topic
    FROM events
    WHERE event_type <> 'error' AND user_id % 2 = 0
    """,
    tags=("cdc", "filter", "route"),
)
def cdc_filter_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 include-event predicate + X7 topic templating. The reference
    runtime-compiles a Scala predicate and an interpolated topic string
    (binaryLogConsumerTraits.scala:41-55, KafkaUtil.scala:7-27); here
    both are Catalyst expressions — same dynamism (strings from
    config), compiled by codegen instead of the Scala compiler."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .filter(F.expr("event_type <> 'error' AND user_id % 2 = 0"))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.concat(F.lit("app_"), F.col("event_type"), F.lit("_generic")).alias("topic"),
        )
    )


@register(
    "cdc_type_demux_counts",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    """,
    tags=("cdc", "demux", "agg"),
)
def cdc_type_demux_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 per-mutation-type demux as a typed aggregate — the
    insert/update/delete dispatch (event/package.scala:163-191) is a
    groupBy on the discriminator column."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            # round 11: long-split micro sum (catalog.money_sum_col) —
            # bit-identical to SUM(DECIMAL(38,6)), BIGINT buffers
            money_sum_col(F.col("value"), "total_value"),
        )
    )


@register(
    "cdc_latest_state",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, event_type, value,
             CAST(ts AS TIMESTAMP) AS ts
      FROM events)
    SELECT user_id, event_id, event_type, value, ts
    FROM (
      SELECT user_id, event_id, event_type, value, ts,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM ev)
    WHERE rn = 1
    """,
    tags=("cdc", "window", "compaction"),
    bench=True,
)
def cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-state materialization: change stream → current table,
    the engine-side analog of mypipe's Kafka log-compaction guidance
    (README.md:12): one keep-last merge step (streaming/upsert.py)
    from empty state, the same core the ``latest_state`` producer folds
    per microbatch. One shuffle on the key; at 100 TB this is the
    standard CDC-merge pattern and AQE splits skewed hot keys."""
    return latest_state_merge(None, load_tables(spark, sf_dir)["events"])


@register(
    "cdc_sessionize",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
      WHERE ts IS NOT NULL
    ), marked AS (
      SELECT user_id, event_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts,
             CAST(SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM marked)
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM numbered
    GROUP BY user_id, session_id
    """,
    tags=("cdc", "window", "session"),
    bench=True,
)
def cdc_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization (30-min inactivity gap) — the
    batch twin of Structured Streaming's session_window (T14 notes the
    reference has no windowing at all; this engine adds it). A single
    shuffle on user_id serves both window passes and the final agg —
    Catalyst reuses the child partitioning across all three."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # timeless-event contract: NULL ts sorts NULLS FIRST here but
    # NULLS LAST in DuckDB, silently splitting sessions differently —
    # excluded identically on both sides
    marked = t["events"].filter(F.col("ts").isNotNull()).select(
        "user_id",
        "event_id",
        "ts",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.col("ts") > F.lag("ts").over(w) + F.expr("INTERVAL 30 MINUTES")),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    numbered = marked.select(
        "user_id",
        "ts",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("session_id"),
    )
    return numbered.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@register(
    "cdc_event_funnel",
    oracle=f"""
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
           CAST(ROUND(SUM(CASE WHEN event_type = 'purchase'
                    THEN CAST(value AS DECIMAL(38,6)) ELSE 0 END), 2) AS DOUBLE)
             AS purchase_value
    FROM events
    GROUP BY user_id
    """,
    tags=("cdc", "pivot", "agg"),
)
def cdc_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregate pivot (funnel counts per user) — the
    many-sinks fan-out (T12) expressed as one pass with N conditional
    measures instead of N filtered scans."""
    t = load_tables(spark, sf_dir)

    def n_of(ev: str, alias: str) -> F.Column:
        return count_of_sql("event_type", ev, alias)

    return (
        t["events"]
        .groupBy("user_id")
        .agg(
            n_of("signup", "n_signup"),
            n_of("view", "n_view"),
            n_of("click", "n_click"),
            n_of("purchase", "n_purchase"),
            # round 11: long-split micro sum of the conditional value —
            # same NULL/ELSE-0 semantics, BIGINT buffers (see
            # catalog.money_sum_col)
            money_sum_col(
                F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                    F.lit(0)
                ),
                "purchase_value",
            ),
        )
    )


@register(
    "cdc_props_json_extract",
    oracle="""
    SELECT CAST(CASE WHEN json_valid(props)
                 THEN json_extract_string(props, '$.k') END AS BIGINT) % 10
             AS k_bucket,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1
    """,
    tags=("cdc", "json"),
)
def cdc_props_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload extraction — the generic-envelope
    map-lookup pattern (F4/K5: typed maps carry any table's columns)
    applied to a JSON props column; get_json_object stays JVM-side.
    Malformed props bucket to NULL on BOTH engines: Spark's
    get_json_object is NULL-on-garbage by construction, and the
    oracle guards with json_valid (DuckDB's json_extract otherwise
    RAISES on the first dirty row)."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy(
            (F.get_json_object("props", "$.k").cast("bigint") % 10).alias("k_bucket")
        )
        .agg(
            F.count("*").alias("n_events"),
            money_sum_col(F.col("value"), "total_value"),
        )
    )


@register(
    "cdc_snapshot_bootstrap",
    oracle="""
    SELECT 'insert' AS op, 'tpch' AS database, 'customer' AS "table",
           c_custkey, c_name, c_mktsegment,
           CAST(c_custkey AS VARCHAR) AS pk
    FROM customer
    """,
    tags=("cdc", "snapshot"),
)
def cdc_snapshot_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8-S12: parallel snapshot scan of a table re-shaped into
    canonical insert mutations (generic envelope), then projected back
    out of the typed maps — the full bootstrap path (split-partitioned
    scan → InsertMutation(ts=0) → envelope) exercised end-to-end.
    ``pk`` is the reference's PK-as-string rendering (F7,
    event/package.scala:66-74)."""
    from ..sources.snapshot import snapshot_table, to_insert_mutations

    t = load_tables(spark, sf_dir)
    snap = to_insert_mutations(
        snapshot_table(t["customer"], "c_custkey", num_splits=5),
        database="tpch",
        table="customer",
        table_id=1,
    )
    return snap.select(
        "op",
        "database",
        "table",
        F.element_at("new_longs", "c_custkey").alias("c_custkey"),
        F.element_at("new_strings", "c_name").alias("c_name"),
        F.element_at("new_strings", "c_mktsegment").alias("c_mktsegment"),
        F.element_at("new_longs", "c_custkey").cast("string").alias("pk"),
    )


def _wire_insert_schema_id() -> int:
    from ..model import generic_subject
    from ..registry import in_memory_repo

    latest = in_memory_repo().get_latest(generic_subject("insert"))
    return latest[0] if latest else 0


@register(
    "cdc_wire_roundtrip",
    oracle=f"""
    SELECT c_custkey, c_name, 'insert' AS op,
           1 AS mtype, TRUE AS magic_ok,
           {_wire_insert_schema_id()} AS schema_id
    FROM customer
    """,
    tags=("cdc", "wire", "serde"),
    bench=True,
)
def cdc_wire_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5/K7/K9 end-to-end: snapshot rows → generic envelope → framed
    wire bytes ``[0x0][mtype][schema_id BE][payload]`` → unframe +
    decode → typed columns again. The oracle is the identity check:
    decode(encode(x)) must reproduce the source table exactly, plus the
    header constants (mtype=0x1 for insert, magic ok, registry schema
    id). All pure binary/JSON column expressions — no UDFs, no
    shuffle beyond the snapshot repartition."""
    from ..registry import in_memory_repo
    from ..sinks.wire import decode_generic, encode_generic
    from ..sources.snapshot import snapshot_table, to_insert_mutations

    t = load_tables(spark, sf_dir)
    muts = to_insert_mutations(
        snapshot_table(t["customer"], "c_custkey", num_splits=4),
        database="tpch",
        table="customer",
        table_id=1,
    )
    encoded = encode_generic(muts, in_memory_repo()).select("value")
    decoded = decode_generic(encoded)
    return decoded.select(
        F.element_at("payload.longs", "c_custkey").alias("c_custkey"),
        F.element_at("payload.strings", "c_name").alias("c_name"),
        "op",
        "mtype",
        "magic_ok",
        "schema_id",
    )


# ---------------------------------------------------------------------------
# SCD2 history: validity intervals from the change stream
# ---------------------------------------------------------------------------

@register(
    "cdc_scd2_history",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, event_type, value,
             CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE ts IS NOT NULL)
    SELECT user_id, event_id, event_type, value,
           ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS valid_to,
           CASE WHEN LEAD(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS is_current
    FROM ev
    """,
    tags=("cdc", "window", "scd2"),
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history: every change event
    becomes a versioned row with a [valid_from, valid_to) interval,
    the open interval marking the current version — the standard
    downstream materialization of a CDC stream (the complement of
    cdc_latest_state's keep-last compaction): one SCD2 merge step
    (streaming/upsert.py) from empty history, the same core the
    ``scd2`` producer folds per microbatch. One LEAD window per key
    partition — a single shuffle on the key, linear within partition;
    (ts, event_id) ordering makes interval boundaries deterministic
    under same-timestamp updates. Timeless (NULL-ts) changes are
    excluded on both sides: the engines' opposite NULL ordering would
    otherwise version them as the OLDEST (Spark, NULLS FIRST) vs the
    CURRENT (DuckDB, NULLS LAST) row — opposite histories."""
    return scd2_merge(None, load_tables(spark, sf_dir)["events"])


# ---------------------------------------------------------------------------
# incremental view maintenance: merge partial aggregates
# ---------------------------------------------------------------------------

_IVM_CUTOFF = "2024-01-20"


@register(
    "cdc_incremental_refresh",
    oracle="""
    SELECT user_id, event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE)
             AS total_value,
           MAX(CAST(ts AS TIMESTAMP)) AS last_ts
    FROM events
    GROUP BY user_id, event_type
    """,
    tags=("cdc", "agg", "incremental"),
)
def cdc_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: the materialized aggregate of the
    OLD partition (ts < cutoff) merged with the DELTA partition's
    aggregate (ts >= cutoff) — never rescanning history. The oracle is
    the full recompute, so the check proves merge(old, delta) ==
    recompute(all): counts add, exact-decimal sums add (this is why
    the money discipline uses decimal — double partials would drift
    under re-aggregation), MAX is max. At 100 TB this is the nightly
    refresh pattern: the delta scan is day-sized and the merge
    shuffles only aggregated rows. (Here both halves read one table
    split by a filter; in production the old half IS the stored
    materialization.)"""
    t = load_tables(spark, sf_dir)
    cutoff = F.lit(_IVM_CUTOFF).cast("timestamp_ntz")

    def partial(df: DataFrame) -> DataFrame:
        # round 11: the mergeable money partial is the long-split pair
        # (hi, lo) of exact BIGINT micro-unit sums instead of one
        # DECIMAL(38,6) sum — longs ADD exactly under re-aggregation
        # just like the decimal partials they replace (that exactness
        # is the whole point of this query), with BIGINT aggregation
        # buffers instead of per-row BigDecimal boxing (bounds and
        # equivalence: catalog.py round-11 note).
        from .catalog import micro_long_col, micro_split_sum_cols

        hi, lo = micro_split_sum_cols(micro_long_col(F.col("value")))
        return df.groupBy("user_id", "event_type").agg(
            F.count("*").alias("n_events"),
            hi.alias("sum_hi"),
            lo.alias("sum_lo"),
            F.max("ts").alias("last_ts"),
        )

    # NULL event times can satisfy neither side of a two-way filter
    # split and would silently vanish from the merge while the full
    # recompute counts them — route them with the delta (they never
    # graduate to the frozen old materialization).
    old = partial(t["events"].filter(F.col("ts") < cutoff))
    delta = partial(
        t["events"].filter((F.col("ts") >= cutoff) | F.col("ts").isNull())
    )
    from .catalog import micro_split_total_col

    merged = (
        old.unionByName(delta)
        .groupBy("user_id", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_hi").alias("sum_hi"),
            F.sum("sum_lo").alias("sum_lo"),
            F.max("last_ts").alias("last_ts"),
        )
    )
    # NULL-group edge: a (user, type) group whose values are all NULL
    # summed to a NULL decimal before and must still surface as NULL —
    # the split sums are NULL in exactly the same case (both halves
    # skip the same NULL micros), so the recombine propagates it.
    total = micro_split_total_col(F.col("sum_hi"), F.col("sum_lo"))
    return merged.select(
        "user_id",
        "event_type",
        "n_events",
        F.round(total.cast("decimal(38,6)") / 1000000, 2)
        .cast("double")
        .alias("total_value"),
        "last_ts",
    )


# ---------------------------------------------------------------------------
# snapshot diff: reconcile two corpus versions
# ---------------------------------------------------------------------------

# The two "snapshots" are deterministic slices of the documents table
# (the driver provides one corpus version, so the diff inputs are
# derived identically on both engines): rows with doc_id % 11 == 3 are
# missing from the OLD snapshot (added since), rows with
# doc_id % 19 == 7 are missing from the NEW one (deleted since), and
# rows with doc_id % 13 == 2 carry a different OLD text (changed
# since). In production the two sides are separate table versions.
_DIFF_OLD_PRED = "doc_id % 11 <> 3"
_DIFF_NEW_PRED = "doc_id % 19 <> 7"
_DIFF_CHG_PRED = "doc_id % 13 = 2"


@register(
    "cdc_snapshot_diff",
    oracle=f"""
    WITH old AS (
      SELECT doc_id,
             md5(CASE WHEN {_DIFF_CHG_PRED} THEN text || ' [v1]'
                      ELSE text END) AS h,
             source
      FROM documents WHERE {_DIFF_OLD_PRED}
    ), new AS (
      SELECT doc_id, md5(text) AS h, source
      FROM documents WHERE {_DIFF_NEW_PRED}
    )
    SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'deleted'
                WHEN o.h IS DISTINCT FROM n.h THEN 'changed'
                ELSE 'unchanged' END AS status,
           COALESCE(n.source, o.source) AS source,
           COUNT(*) AS n_docs
    FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    GROUP BY 1, 2
    """,
    tags=("cdc", "diff", "join"),
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation — the table-diff behind CDC backfill
    audits (did the replicated table drift from the source?): full
    outer join of two corpus versions on the primary key comparing
    CONTENT DIGESTS, classifying every key as added / deleted /
    changed / unchanged with per-source counts.

    Scale shape: each side projects to (pk, md5, source) BEFORE the
    join, so the shuffle carries ~50-byte digests instead of document
    blobs; the join is a PK-keyed sort-merge that co-locates for free
    when both versions are bucketed by PK (sinks/shards.py writes
    exactly that layout). NULL content hashes to NULL and NULL IS
    DISTINCT FROM NULL is false, so a document whose text is missing
    in BOTH versions classifies as unchanged rather than diverging on
    engine NULL-equality rules."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    old = docs.filter(F.expr(_DIFF_OLD_PRED)).select(
        F.col("doc_id").alias("o_id"),
        F.md5(
            F.when(
                F.expr(_DIFF_CHG_PRED), F.concat(F.col("text"), F.lit(" [v1]"))
            ).otherwise(F.col("text"))
        ).alias("o_h"),
        F.col("source").alias("o_src"),
    )
    new = docs.filter(F.expr(_DIFF_NEW_PRED)).select(
        F.col("doc_id").alias("n_id"),
        F.md5("text").alias("n_h"),
        F.col("source").alias("n_src"),
    )
    j = old.join(new, F.col("o_id") == F.col("n_id"), "full_outer")
    status = (
        F.when(F.col("o_id").isNull(), "added")
        .when(F.col("n_id").isNull(), "deleted")
        .when(~F.col("o_h").eqNullSafe(F.col("n_h")), "changed")
        .otherwise("unchanged")
    )
    return (
        j.select(
            status.alias("status"),
            F.coalesce("n_src", "o_src").alias("source"),
        )
        .groupBy("status", "source")
        .agg(F.count("*").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# ordered funnel: stage progression in event-time order
# ---------------------------------------------------------------------------

_FUNNEL_STAGES = ("signup", "view", "click", "purchase")


_FUNNEL_OUT_COLS = ("stage", "stage_name", "n_users", "pct_of_prev",
                    "pct_of_start")


def _ordered_funnel_rows(intdiv: str) -> list[list[str]]:
    """Per output row, the five BARE column expressions (over the
    one-row ``totals`` relation), shared across dialects; a zero
    denominator yields NULL explicitly — DuckDB raises on integer
    division by zero where non-ANSI Spark returns NULL, so the guard
    must be in the SQL. The Spark side feeds these into ONE stack()
    over totals — a 4-way UNION of selects was measured re-running
    the entire window pipeline once per branch (no cross-branch
    exchange reuse: 4x fact scans for a 4-row result)."""

    def pct(num: str, den: str) -> str:
        return (
            f"(CASE WHEN {den} = 0 THEN NULL"
            f" ELSE {round4_frac_sql(num, den, intdiv)} END)"
        )

    rows = []
    for k in range(1, 5):
        prev = f"n{k - 1}" if k > 1 else "n1"
        rows.append([
            str(k),
            f"'{_FUNNEL_STAGES[k - 1]}'",
            f"n{k}",
            pct(f"n{k}", prev),
            pct(f"n{k}", "n1"),
        ])
    return rows


@register(
    "events_funnel_ordered",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ), m1 AS (
      SELECT user_id, event_type, ts, event_id,
             MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
               OVER w AS s1
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)
    ), m2 AS (
      SELECT user_id, event_type, ts, event_id, s1,
             MAX(CASE WHEN event_type = 'view' AND s1 = 1
                      THEN 1 ELSE 0 END) OVER w AS s2
      FROM m1
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)
    ), m3 AS (
      SELECT user_id, event_type, s1, s2,
             MAX(CASE WHEN event_type = 'click' AND s2 = 1
                      THEN 1 ELSE 0 END) OVER w AS s3
      FROM m2
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)
    ), per_user AS (
      SELECT user_id, MAX(s1) AS f1, MAX(s2) AS f2, MAX(s3) AS f3,
             MAX(CASE WHEN event_type = 'purchase' AND s3 = 1
                      THEN 1 ELSE 0 END) AS f4
      FROM m3 GROUP BY user_id
    ), totals AS (
      SELECT CAST(COALESCE(SUM(f1), 0) AS BIGINT) AS n1,
             CAST(COALESCE(SUM(f2), 0) AS BIGINT) AS n2,
             CAST(COALESCE(SUM(f3), 0) AS BIGINT) AS n3,
             CAST(COALESCE(SUM(f4), 0) AS BIGINT) AS n4
      FROM per_user)
    {" UNION ALL ".join(
        "SELECT " + ", ".join(f"{e} AS {c}"
                              for e, c in zip(r, _FUNNEL_OUT_COLS))
        + " FROM totals"
        for r in _ordered_funnel_rows("//"))}
    """,
    tags=("cdc", "window", "funnel"),
)
def events_funnel_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED funnel — signup → view → click → purchase must occur in
    event-time order (cdc_event_funnel's pivot counts stages in any
    order; product analytics wants the sequential version). Per user,
    a chain of cumulative-max windows marks "stage k-1 already seen at
    this row", so stage k only counts when it happens at-or-after the
    (ts, event_id)-ordered completion of the chain prefix; per-user
    flags then aggregate to the 4-row conversion table (counts, pct of
    previous stage, pct of start).

    Scale shape: ONE shuffle + ONE sort on user_id serve all three
    window passes and the per-user aggregate (same-partition,
    same-order windows — Catalyst stacks them on a single exchange;
    the events_retention exchange-reuse shape). The final table is 4
    rows built from one driver-sized total. Timeless and anonymous
    events are excluded by the standing contract on both engines;
    zero-user corpora yield NULL percentages, never a division error
    (DuckDB raises on x/0 where Spark returns NULL — guarded in the
    shared expression)."""
    t = load_tables(spark, sf_dir)
    ev = t["events"].filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    def is_(stage: str) -> F.Column:
        return F.when(F.col("event_type") == stage, 1).otherwise(0)

    m = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.max(is_("signup")).over(w).alias("s1"),
    )
    m = m.withColumn(
        "s2",
        F.max(F.when((F.col("event_type") == "view") & (F.col("s1") == 1), 1)
              .otherwise(0)).over(w),
    )
    m = m.withColumn(
        "s3",
        F.max(F.when((F.col("event_type") == "click") & (F.col("s2") == 1), 1)
              .otherwise(0)).over(w),
    )
    per_user = m.groupBy("user_id").agg(
        F.max("s1").alias("f1"),
        F.max("s2").alias("f2"),
        F.max("s3").alias("f3"),
        F.max(
            F.when((F.col("event_type") == "purchase") & (F.col("s3") == 1), 1)
            .otherwise(0)
        ).alias("f4"),
    )
    totals = per_user.agg(
        *[
            F.coalesce(F.sum(f"f{k}"), F.lit(0)).cast("bigint").alias(f"n{k}")
            for k in range(1, 5)
        ]
    )
    args = ", ".join(", ".join(r) for r in _ordered_funnel_rows("div"))
    return totals.selectExpr(
        f"stack(4, {args}) AS ({', '.join(_FUNNEL_OUT_COLS)})"
    )
