"""TPC-H-analog relational suite (SURVEY.md §7 Stage 8 widening).

The reference has no relational surface (SURVEY.md §2.3-2.8: no joins,
no aggregations, no subqueries) — these queries exercise the shapes a
user gains by switching to this engine: selective scan aggregates,
semi-join existence tests, grouped top-k over multi-way joins,
conditional (pivot) aggregation, correlated-aggregate comparisons,
HAVING pushback, disjunctive join predicates, global-scalar subqueries,
exact interpolated percentiles, arg-max selection, and an as-of join.

Numbered queries follow their TPC-H inspiration (q4/q6/q10/q14/q17/
q18/q19/q22) adapted to the driver's slimmer star schema (TESTDATA.md:
no partsupp, no ship/commit/receipt-date triple, single-type parts).

Determinism rules match plans.analytics: exact decimal sums for money,
unique-column tiebreaks on every top-k, comparisons only between
identically-computed doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .analytics import _money, _sql_money
from .catalog import (
    MICRO_SPLIT_MASK,
    MICRO_SPLIT_SHIFT,
    PCTL_ACCURACY,
    count_of_sql,
    load_tables,
    micro_long_col,
    micro_split_sum_cols,
    micro_split_total_col,
    micro_sum_spark_sql,
    micro_sum_sql,
    money_sum_col,
    register,
    round_double_sql,
    round_micro_ratio_sql,
)

_DEC = "decimal(38,6)"


# ---------------------------------------------------------------------------
# q6: forecasting revenue change — the canonical pushdown scan
# ---------------------------------------------------------------------------

@register(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {_sql_money('l_extendedprice * l_discount', 'revenue')}
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("agg", "scan", "pushdown"),
    bench=True,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: single-table selective aggregate. All three predicates
    and the 3-column projection reach the Parquet reader (PushedFilters
    + ReadSchema); the aggregate reduces every scan partition to one
    row before a single-row exchange. At 100 TB this query is pure
    scan bandwidth — no shuffle of any consequence."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(_money(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))
    )


# ---------------------------------------------------------------------------
# q4: order-priority checking — EXISTS via left-semi join
# ---------------------------------------------------------------------------

@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o_orderpriority
    """,
    tags=("join", "semi", "agg"),
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 adapted (returned-item existence instead of the
    commit/receipt-date pair the fixture lacks). The EXISTS becomes a
    left-semi join; Catalyst reduces the probe side to distinct
    orderkeys, so no row multiplication is possible and the semi join
    co-shuffles on orderkey once."""
    t = load_tables(spark, sf_dir)
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    returned = t["lineitem"].filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# q10: returned-item revenue by customer — 4-way join + grouped top-k
# ---------------------------------------------------------------------------

@register(
    "q10_returned_revenue",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {_sql_money('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("join", "agg", "topk"),
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: who returned the most revenue. lineitem⋈orders
    co-shuffles on orderkey (both filtered first); nation is broadcast;
    customer joins on the already-aggregable custkey side. Top-20 runs
    on aggregated rows only (TakeOrderedAndProject)."""
    t = load_tables(spark, sf_dir)
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp_ntz"))
    )
    returned = t["lineitem"].filter(F.col("l_returnflag") == "R")
    return (
        returned.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_money(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q14: promotion effect — conditional aggregation over a join
# ---------------------------------------------------------------------------

_Q14_DISC = "l_extendedprice * (1 - l_discount)"
_Q14_PROMO = (
    f"CASE WHEN p_type = 'PROMO' THEN {_Q14_DISC} ELSE CAST(0 AS DOUBLE) END"
)


def _q14_pct_sql(intdiv: str) -> str:
    """ROUND(100·promo/total, 4) with both sums as exact micro-unit
    integers — ROUND over the double quotient diverges between engines
    at .5-repr boundaries (the q2/centroid failure class, observed live
    at sf0.1), so no double quotient is allowed to exist."""
    # round 11: the Spark side sums micros via the long split
    # (catalog.micro_sum_spark_sql) — same exact integral value,
    # BIGINT buffers; the DuckDB side keeps the decimal form
    ms = micro_sum_spark_sql if intdiv == "div" else micro_sum_sql
    return round_micro_ratio_sql(
        ms(_Q14_PROMO), ms(_Q14_DISC), 100, 4, intdiv
    )


@register(
    "q14_promo_revenue",
    oracle=f"""
    SELECT {_q14_pct_sql("//")} AS promo_revenue_pct
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
      AND l.l_shipdate <  TIMESTAMP '1997-10-01'
    """,
    tags=("join", "agg", "conditional"),
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: share of revenue from promo parts in one month. The
    shipdate filter prunes lineitem before the join; part joins on
    partkey (AQE broadcasts it while it fits, shuffle-hash beyond).
    Both sums ride one aggregate — a single pass, no self-join — and
    the display rounding runs in exact integer arithmetic
    (catalog.round_micro_ratio_sql)."""
    t = load_tables(spark, sf_dir)
    month = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp_ntz"))
    )
    return (
        month.join(t["part"], F.col("l_partkey") == F.col("p_partkey"))
        .agg(F.expr(_q14_pct_sql("div")).alias("promo_revenue_pct"))
    )


# ---------------------------------------------------------------------------
# q17: small-quantity-order revenue — per-group average comparison
# ---------------------------------------------------------------------------

# ROUND(revenue/7, 2) in exact integer arithmetic (micro-unit sum over
# the constant 7 in micro-units) — no double quotient, see _q14_pct_sql
_Q17_AVG_YEARLY = {
    intdiv: round_micro_ratio_sql(
        (micro_sum_spark_sql if intdiv == "div" else micro_sum_sql)(col),
        "7000000",
        1,
        2,
        intdiv,
    )
    for intdiv, col in (("div", "l_extendedprice"), ("//", "li.l_extendedprice"))
}


@register(
    "q17_small_quantity_revenue",
    oracle=f"""
    WITH li AS (
      SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_brand = 'Brand#13'),
    pa AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
               AS avg_qty
      FROM li GROUP BY l_partkey)
    SELECT {_Q17_AVG_YEARLY["//"]} AS avg_yearly
    FROM li JOIN pa ON li.l_partkey = pa.l_partkey
    WHERE li.l_quantity < 0.2 * pa.avg_qty
    """,
    tags=("join", "agg", "correlated"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue lost if small orders (below 20% of the part's
    average quantity) were dropped. The correlated scalar subquery
    becomes a whole-partition window average: ONE exchange on partkey
    serves both the per-part average and the row-level comparison
    (the aggregate-then-rejoin form costs a second shuffle plus a
    sort-merge join — plan-asserted in tests). The brand filter
    broadcast-prunes lineitem before the exchange."""
    t = load_tables(spark, sf_dir)
    brand_parts = t["part"].filter(F.col("p_brand") == "Brand#13").select("p_partkey")
    li = (
        t["lineitem"]
        .join(F.broadcast(brand_parts), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_quantity", "l_extendedprice")
    )
    w = Window.partitionBy("l_partkey")
    # round 11: the per-part exact quantity sum as the long-split pair
    # of window sums (catalog.py round-11 note) — same exact rational,
    # same double, BIGINT window buffers instead of BigDecimal
    m = micro_long_col(F.col("l_quantity"))
    tot = micro_split_total_col(
        F.sum(F.shiftright(m, MICRO_SPLIT_SHIFT)).over(w),
        F.sum(m.bitwiseAND(F.lit(MICRO_SPLIT_MASK))).over(w),
    )
    avg_qty = (tot.cast("decimal(38,6)") / 1000000).cast("double") / F.count(
        "*"
    ).over(w)
    return (
        li.withColumn("avg_qty", avg_qty)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(F.expr(_Q17_AVG_YEARLY["div"]).alias("avg_yearly"))
    )


# ---------------------------------------------------------------------------
# q18: large-volume orders — HAVING over a grouped fact, then enrich
# ---------------------------------------------------------------------------

@register(
    "q18_large_orders",
    oracle=f"""
    SELECT c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           {_sql_money('t.sum_qty_raw', 'sum_qty')}
    FROM (
      SELECT l_orderkey, SUM(l_quantity) AS sum_qty_raw
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 300) t
    JOIN orders o   ON o.o_orderkey = t.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 20
    """,
    tags=("join", "agg", "having", "topk"),
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: customers who placed very large orders. The HAVING
    aggregate collapses lineitem to one row per qualifying order
    *before* any join — at 100 TB the join input is thousands of rows,
    not billions, and AQE broadcasts it into orders. Quantities are
    integral doubles, so the HAVING comparison is exact in both
    engines regardless of summation order."""
    t = load_tables(spark, sf_dir)
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty_raw"))
        .filter(F.col("sum_qty_raw") > 300)
    )
    return (
        big.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(_money(F.col("sum_qty_raw"), "sum_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q19: discounted revenue — disjunctive multi-column join predicates
# ---------------------------------------------------------------------------

@register(
    "q19_disjunctive_revenue",
    oracle=f"""
    SELECT {_sql_money('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_type = 'PROMO'    AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_type = 'SMALL'    AND p.p_size BETWEEN 1 AND 20
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_type = 'STANDARD' AND p.p_size BETWEEN 1 AND 30
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    tags=("join", "agg", "disjunctive"),
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: OR-of-ANDs across both join sides. Catalyst extracts
    the common join key (partkey) and pushes the single-side conjuncts
    it can derive (p_type IN (...), p_size <= 30, l_quantity <= 30)
    below the join; the residual disjunction evaluates post-join in
    whole-stage codegen. No Cartesian anywhere."""
    t = load_tables(spark, sf_dir)
    j = t["lineitem"].join(t["part"], F.col("p_partkey") == F.col("l_partkey"))
    q, sz, ty = F.col("l_quantity"), F.col("p_size"), F.col("p_type")
    cond = (
        ((ty == "PROMO") & sz.between(1, 10) & q.between(1, 11))
        | ((ty == "SMALL") & sz.between(1, 20) & q.between(10, 20))
        | ((ty == "STANDARD") & sz.between(1, 30) & q.between(20, 30))
    )
    return j.filter(cond).agg(
        _money(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue")
    )


# ---------------------------------------------------------------------------
# q22: global-ratio customers — scalar subquery + anti join
# ---------------------------------------------------------------------------

@register(
    "q22_idle_rich_customers",
    oracle=f"""
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS v
      FROM customer WHERE c_acctbal > 0)
    SELECT c.c_nationkey, COUNT(*) AS n_customers,
           {_sql_money('c.c_acctbal', 'total_bal')}
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.v
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_nationkey
    """,
    tags=("join", "anti", "subquery", "agg"),
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22: above-average-balance customers with no urgent
    orders. The global average is a one-row aggregate broadcast into
    the filter (scalar-subquery decorrelation — the customer scan is
    planned once per branch, the q11/q15 trade); the NOT EXISTS is a
    left-anti join whose orders side is filtered first and reduced to
    distinct custkeys by Catalyst."""
    t = load_tables(spark, sf_dir)
    c = t["customer"]
    # round 11: long-split exact balance sum (catalog.py note) — the
    # customer scan is fact-scaled, so the global average's aggregate
    # buffers matter; same exact rational, same double
    bal_hi, bal_lo = micro_split_sum_cols(micro_long_col(F.col("c_acctbal")))
    avg_bal = F.broadcast(
        c.filter(F.col("c_acctbal") > 0).agg(
            (
                (
                    micro_split_total_col(bal_hi, bal_lo).cast("decimal(38,6)")
                    / 1000000
                ).cast("double")
                / F.count("*")
            ).alias("v")
        )
    )
    urgent = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.crossJoin(avg_bal)
        .filter(F.col("c_acctbal") > F.col("v"))
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_customers"),
            _money(F.col("c_acctbal"), "total_bal"),
        )
    )


# ---------------------------------------------------------------------------
# pivot: per-day event-type matrix — conditional aggregation
# ---------------------------------------------------------------------------

@register(
    "q_pivot_events_daily",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
           CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
           CAST(SUM(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
           CAST(SUM(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
           CAST(ROUND(SUM(CASE WHEN event_type = 'purchase'
                               THEN CAST(value AS DECIMAL(38,6)) END), 2) AS DOUBLE)
             AS purchase_value
    FROM events
    GROUP BY 1
    """,
    tags=("agg", "pivot"),
)
def q_pivot_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-format daily event matrix — the pivot shape as conditional
    aggregation (a fixed column set keeps the plan static; Spark's
    .pivot() would scan once extra to discover values). One map-side
    combinable aggregate, one tiny shuffle on day."""
    t = load_tables(spark, sf_dir)

    def n_of(ev: str, alias: str) -> F.Column:
        return count_of_sql("event_type", ev, alias)

    return (
        t["events"]
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            n_of("view", "n_view"),
            n_of("click", "n_click"),
            n_of("purchase", "n_purchase"),
            n_of("signup", "n_signup"),
            n_of("error", "n_error"),
            # round 11: long-split conditional money sum — no
            # ``otherwise``, so an all-non-purchase day still sums to
            # NULL exactly as the decimal form did
            money_sum_col(
                F.when(F.col("event_type") == "purchase", F.col("value")),
                "purchase_value",
            ),
        )
    )


# ---------------------------------------------------------------------------
# arg-max selection: top customer per nation via max_by
# ---------------------------------------------------------------------------

@register(
    "q_top_customer_per_nation",
    oracle=f"""
    SELECT c_nationkey, c_name AS top_customer,
           {round_double_sql('c_acctbal', 2)} AS top_acctbal
    FROM (
      SELECT c_nationkey, c_name, c_acctbal,
             ROW_NUMBER() OVER (
               PARTITION BY c_nationkey
               ORDER BY c_acctbal DESC, c_custkey DESC) AS rn
      FROM customer)
    WHERE rn = 1
    """,
    tags=("agg", "argmax"),
)
def q_top_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg-max as a single aggregate (max_by over a (value, tiebreak)
    struct) — unlike the window-function form this allows map-side
    partial aggregation: each partition reduces to ≤25 rows before the
    shuffle, where ROW_NUMBER would shuffle every row. The oracle
    states the same semantics in window form."""
    t = load_tables(spark, sf_dir)
    return (
        t["customer"]
        .groupBy("c_nationkey")
        .agg(
            F.expr("max_by(c_name, struct(c_acctbal, c_custkey))").alias(
                "top_customer"
            ),
            # exact quantize rounding (catalog.round_double_sql): safe
            # today only because acctbals happen to be 2-decimal — a
            # regenerated full-precision column would hit the
            # ROUND(double) repr divergence
            F.expr(round_double_sql('max(c_acctbal)', 2)).alias("top_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# exact interpolated percentiles
# ---------------------------------------------------------------------------

@register(
    "q_quantity_quartiles",
    oracle="""
    SELECT l_returnflag,
           CAST(quantile_cont(l_quantity, 0.25) AS DOUBLE) AS q25,
           CAST(quantile_cont(l_quantity, 0.50) AS DOUBLE) AS q50,
           CAST(quantile_cont(l_quantity, 0.75) AS DOUBLE) AS q75,
           COUNT(*) AS n_items
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "percentile"),
)
def q_quantity_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PERCENTILE_CONT quartiles per return flag. Quantities are
    integral, so linear interpolation lands on exact quarter values in
    both engines (deterministic despite float math). At 100 TB swap to
    approx_percentile (mergeable t-digest-style sketch) — exact
    percentile must collect each group's values."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.expr("CAST(percentile(l_quantity, 0.25) AS DOUBLE)").alias("q25"),
            F.expr("CAST(percentile(l_quantity, 0.50) AS DOUBLE)").alias("q50"),
            F.expr("CAST(percentile(l_quantity, 0.75) AS DOUBLE)").alias("q75"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "q_quantity_quartiles_approx",
    tags=("agg", "percentile", "sketch"),
    driver=False,  # external contract: q_quantity_quartiles_check
)
def q_quantity_quartiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile quartiles — the 100 TB-safe form of
    q_quantity_quartiles. The sketch (Greenwald-Khanna) is mergeable,
    so the aggregation is map-side-combinable with bounded memory per
    group, where exact percentile must collect every group value into
    the aggregation buffer. No oracle: sketch estimates are
    engine-specific; the error bound vs the exact form is pinned by
    pytest (test_oracle_parity.py)."""
    t = load_tables(spark, sf_dir)
    acc = PCTL_ACCURACY  # shared with q_quantity_quartiles_check (catalog.py)
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.expr(
                f"CAST(approx_percentile(l_quantity, 0.25, {acc}) AS DOUBLE)"
            ).alias("q25"),
            F.expr(
                f"CAST(approx_percentile(l_quantity, 0.50, {acc}) AS DOUBLE)"
            ).alias("q50"),
            F.expr(
                f"CAST(approx_percentile(l_quantity, 0.75, {acc}) AS DOUBLE)"
            ).alias("q75"),
            F.count("*").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# as-of join: latest click at-or-before each purchase
# ---------------------------------------------------------------------------


def _asof_sides(spark: SparkSession, sf_dir: str):
    """The (purchases, clicks) pair both as-of queries join — ONE
    construction so the timeless-event exclusion and the tie-collapse
    can never diverge between the plain and tolerance-bounded twins.

    Timeless-event contract (see events_gapfill_1h): a NULL-ts click
    would sort NULLS FIRST in Spark's carry-forward and match every
    purchase as "before everything" while DuckDB's ASOF matches
    nothing — excluded identically on both sides. Clicks are
    pre-collapsed per (user, ts) with MAX(event_id) so at-or-before
    ties resolve identically in both engines."""
    t = load_tables(spark, sf_dir)
    ev = t["events"].filter(F.col("ts").isNotNull())
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return purchases, clicks


@register(
    "q_asof_last_click",
    oracle="""
    SELECT p.event_id, p.user_id, c.click_id AS last_click_id
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase' AND ts IS NOT NULL) p
    ASOF LEFT JOIN (SELECT user_id, ts, MAX(event_id) AS click_id
                    FROM events
                    WHERE event_type = 'click' AND ts IS NOT NULL
                    GROUP BY user_id, ts) c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    tags=("join", "asof", "window"),
    bench=True,
)
def q_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join — an operator Spark lacks natively (SURVEY.md §2.3:
    the reference has no joins at all), provided by
    :func:`mypipe_spark.operators.asof.asof_join`: union both sides
    tagged, one sort within user partitions, and a running
    last-non-null carry-forward. This is the scalable form — one
    shuffle on the key, linear within partition — versus the naive
    inequality join (quadratic per key) that range-join rewrites
    produce. Sides come from :func:`_asof_sides` (NULL-ts exclusion +
    tie-collapse shared with the tolerance twin)."""
    from ..operators.asof import asof_join

    purchases, clicks = _asof_sides(spark, sf_dir)
    return asof_join(purchases, clicks, on="user_id").select(
        "event_id", "user_id", F.col("click_id").alias("last_click_id")
    )


@register(
    "q_asof_last_click_1h",
    oracle="""
    SELECT p.event_id, p.user_id,
           CASE WHEN c.ts >= p.ts - INTERVAL 1 HOUR THEN c.click_id
                END AS last_click_id_1h
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase' AND ts IS NOT NULL) p
    ASOF LEFT JOIN (SELECT user_id, ts, MAX(event_id) AS click_id
                    FROM events
                    WHERE event_type = 'click' AND ts IS NOT NULL
                    GROUP BY user_id, ts) c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    tags=("join", "asof", "window", "tolerance"),
)
def q_asof_last_click_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-bounded as-of join — pandas ``merge_asof``'s
    ``tolerance`` semantics through the same carry-forward operator as
    q_asof_last_click: the latest click at-or-before each purchase
    counts only if it is at most ONE HOUR stale (inclusive boundary on
    both engines: the operator nulls matches strictly older than the
    tolerance; the oracle keeps ``c.ts >= p.ts - INTERVAL 1 HOUR``).
    The purchase row is kept with a NULL click when the match is too
    old — a row-preserving staleness filter, not a join-shrinking one.
    This registers the operator's tolerance path (previously
    pytest-only) under the external oracle gate.

    Scale: identical plan shape to q_asof_last_click — one exchange on
    user_id, one sort, linear carry-forward; the staleness test is a
    row-local INTEGER-microsecond comparison on the carried struct's
    own timestamp (exact at the boundary — a float epoch-second test
    could round a pair exactly 1h apart past the tolerance and
    hash-mismatch the oracle)."""
    from ..operators.asof import asof_join

    purchases, clicks = _asof_sides(spark, sf_dir)
    return asof_join(
        purchases, clicks, on="user_id", tolerance_seconds=3600.0
    ).select("event_id", "user_id", F.col("click_id").alias("last_click_id_1h"))


# ---------------------------------------------------------------------------
# range join: clicks inside the 2-hour window after each purchase
# ---------------------------------------------------------------------------

@register(
    "q_range_clicks_after_purchase",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, c.user_id
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') p
    JOIN (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts
     AND c.ts <  p.ts + INTERVAL 2 HOUR
    """,
    tags=("join", "range"),
)
def q_range_clicks_after_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment join via
    :func:`mypipe_spark.operators.asof.range_join`: each purchase opens
    a [ts, ts+2h) attribution window; clicks landing inside pair up.
    The operator rewrites the inequality as an equi-join on
    (user, hour-bucket) + residual filter — shuffle-partitioned, never
    the nested-loop plan the naive formulation produces (the oracle
    states the naive form; results are identical)."""
    from ..operators.asof import range_join

    t = load_tables(spark, sf_dir)
    ev = t["events"]
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    return range_join(
        clicks, purchases, "ts", "start_ts", "end_ts",
        on="user_id", bucket_seconds=3600,
    ).select("purchase_id", "click_id", "user_id")


# ---------------------------------------------------------------------------
# q7: volume shipping between two nations
# ---------------------------------------------------------------------------

@register(
    "q7_nation_volume",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           {_sql_money('volume', 'revenue')}
    FROM (
      SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
             CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INT) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
      JOIN nation nc  ON nc.n_nationkey = c.c_nationkey
      WHERE ((ns.n_name = 'NATION_3' AND nc.n_name = 'NATION_7')
          OR (ns.n_name = 'NATION_7' AND nc.n_name = 'NATION_3'))
        AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate <  TIMESTAMP '1998-01-01')
    GROUP BY supp_nation, cust_nation, l_year
    """,
    tags=("join", "agg", "multiway"),
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: trade volume between two nations by direction and
    year. supplier⋈nation and customer⋈nation are broadcast prunes
    (only two nations survive); the residual OR over the two
    directions evaluates post-join. The only real shuffle is
    lineitem⋈orders on orderkey."""
    t = load_tables(spark, sf_dir)
    ns = t["nation"].select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    nc = t["nation"].select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    sup = (
        t["supplier"]
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nk"))
        .filter(F.col("supp_nation").isin("NATION_3", "NATION_7"))
        .select("s_suppkey", "supp_nation")
    )
    cust = (
        t["customer"]
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("cust_nation").isin("NATION_3", "NATION_7"))
        .select("c_custkey", "cust_nation")
    )
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    pair = (
        ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
        | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    )
    return (
        li.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(_money(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


# ---------------------------------------------------------------------------
# q13: customer order-count distribution (zero-inclusive)
# ---------------------------------------------------------------------------

@register(
    "q13_order_count_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey)
    GROUP BY c_count
    """,
    tags=("join", "outer", "agg", "distribution"),
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: how many customers placed N (non-urgent) orders —
    zero included, which is why the outer join is load-bearing (an
    inner join would silently drop order-less customers). Double
    aggregation: per-customer counts, then the histogram; both
    map-side-combinable, second input is tiny.

    Round 12 (guide §2.3 aggregate before you shuffle): orders are
    counted per custkey BEFORE the outer join, so the custkey
    exchange carries map-side-combined partial counts instead of
    every order row, and the join probes |customers| x |custkeys with
    orders| instead of row-for-row orders. Provably identical:
    COUNT(o_orderkey) over a join group equals the pre-aggregated
    COUNT(*) for matching custkeys (o_orderkey is never NULL), and
    the same LEFT join supplies the zero-order customers (NULL count
    -> 0). A wash at sf0.1 (med 1.135 vs 1.056 s, bit-identical);
    kept for the shuffle byte term: at 100 TB orders is ~10x customers
    and the pre-agg bounds that exchange at one partial count per
    (task, custkey)."""
    t = load_tables(spark, sf_dir)
    cnt = (
        t["orders"]
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        t["customer"]
        .join(cnt, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(
            F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("c_count")
        )
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


# ---------------------------------------------------------------------------
# q15: top supplier(s) by quarterly revenue — scalar-max subquery
# ---------------------------------------------------------------------------

@register(
    "q15_top_supplier",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey,
             {_sql_money('l_extendedprice * (1 - l_discount)', 'total_revenue')}
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM rev r
    JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
    tags=("join", "agg", "subquery", "argmax"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) achieving the maximum quarterly revenue
    (ties all surface — no arbitrary pick). The scalar MAX is a
    one-row broadcast joined back as a filter. The rev subtree was
    planned twice through round 11 (no cross-branch exchange reuse —
    round-8 plan audit; the global-window alternative was rejected
    because it serializes a supplier-cardinality relation through one
    task). Round 12 (guide §3.3 materializing an intermediate
    truncates the plan): rev — |suppliers| rows, KB-scale — is
    materialized with an eager in-query localCheckpoint, so the max
    branch and the join branch read the SAME materialized rows and
    lineitem is scanned once per invocation, not twice. No
    cross-invocation cache (the checkpoint dies with the DataFrame).
    A wash at sf0.1 (med 0.646 vs 0.644 s, bit-identical); kept for
    the scan term: at 100 TB lineitem is the biggest table and this
    halves its passes. The trade: building this query runs a job
    (the eager checkpoint), and the checkpointed blocks live only on
    executors, so losing one fails the query (no lineage to recompute
    them from). Revenue is the exact-decimal rounded money value, so the
    equality comparison is deterministic across engines."""
    t = load_tables(spark, sf_dir)
    rev = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
        )
        .groupBy("l_suppkey")
        .agg(_money(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_revenue"))
        .localCheckpoint(eager=True)
    )
    mx = F.broadcast(rev.agg(F.max("total_revenue").alias("mx")))
    return (
        rev.crossJoin(mx)
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# ---------------------------------------------------------------------------
# q2: minimum-cost supplier per part — correlated-min + join-back
# ---------------------------------------------------------------------------

@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH li AS (
      SELECT l.l_partkey, l.l_suppkey,
             l.l_extendedprice / l.l_quantity AS unit,
             -- display rounding in EXACT integer arithmetic: micro-money
             -- numerator over quantity*100, half-up via (2a+b)//(2b) —
             -- ROUND(double, 4) lands on .5 boundaries where the two
             -- engines disagree (seen live at sf0.1)
             (2 * CAST(CAST(l.l_extendedprice AS DECIMAL(38,6)) * 1000000 AS BIGINT)
                + CAST(l.l_quantity AS BIGINT) * 100)
               // (2 * CAST(l.l_quantity AS BIGINT) * 100) AS u4
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_size BETWEEN 10 AND 15 AND p.p_type = 'SMALL'),
    mn AS (SELECT l_partkey, MIN(unit) AS mn_unit FROM li GROUP BY l_partkey)
    SELECT DISTINCT li.l_partkey AS p_partkey, p.p_name, s.s_name, n.n_name,
           CAST(li.u4 AS DOUBLE) / 10000 AS min_unit_price
    FROM li
    JOIN mn ON mn.l_partkey = li.l_partkey AND li.unit = mn.mn_unit
    JOIN part p     ON p.p_partkey = li.l_partkey
    JOIN supplier s ON s.s_suppkey = li.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    """,
    tags=("join", "correlated", "argmin"),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 adapted to the slim schema (no partsupp — the observed
    unit price l_extendedprice/l_quantity on lineitem stands in for
    ps_supplycost). The correlated MIN becomes a window over ONE
    partkey exchange (the aggregate-rejoin form would shuffle twice);
    ties keep every minimal supplier, exactly like Q2. supplier and
    nation are broadcast; the part filter prunes before the exchange.
    Unit price is a single IEEE division in both engines, so the
    equality-to-min compare is deterministic (equal rationals divide
    to the same double; distinct unit prices differ by ≥ 1/(q_a·q_b)).
    The DISPLAY rounding is integer-exact (micro-money half-up via
    (2a+b) div (2b)) — ROUND(double, 4) diverges between engines at
    .5 boundaries, observed live at sf0.1."""
    t = load_tables(spark, sf_dir)
    small = t["part"].filter(
        F.col("p_size").between(10, 15) & (F.col("p_type") == "SMALL")
    )
    li = (
        t["lineitem"]
        .join(F.broadcast(small.select("p_partkey", "p_name")),
              F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "p_partkey", "p_name", "l_suppkey",
            (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit"),
            F.expr(
                "(2 * CAST(CAST(l_extendedprice AS DECIMAL(38,6)) * 1000000 AS BIGINT)"
                " + CAST(l_quantity AS BIGINT) * 100)"
                " div (2 * CAST(l_quantity AS BIGINT) * 100)"
            ).alias("u4"),
        )
    )
    w = Window.partitionBy("p_partkey")
    best = li.withColumn("mn_unit", F.min("unit").over(w)).filter(
        F.col("unit") == F.col("mn_unit")
    )
    sup = t["supplier"].join(
        F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name", "n_name")
    return (
        best.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "p_partkey", "p_name", "s_name", "n_name",
            (F.col("u4").cast("double") / 10000).alias("min_unit_price"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# q8: nation market share within a region by year
# ---------------------------------------------------------------------------

def _q8_share_sql(nation_col: str, intdiv: str) -> str:
    """ROUND(nation volume / total volume, 4) in exact integer
    arithmetic — same rationale as :func:`_q14_pct_sql`."""
    vol = "l_extendedprice * (1 - l_discount)"
    nation_vol = (
        f"CASE WHEN {nation_col} = 'NATION_3' THEN {vol}"
        " ELSE CAST(0 AS DOUBLE) END"
    )
    ms = micro_sum_spark_sql if intdiv == "div" else micro_sum_sql
    return round_micro_ratio_sql(
        ms(nation_vol), ms(vol), 1, 4, intdiv
    )


@register(
    "q8_market_share",
    oracle=f"""
    SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS o_year,
           {_q8_share_sql("ns.n_name", "//")} AS mkt_share
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation nc  ON nc.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = nc.n_regionkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
    tags=("join", "agg", "conditional", "multiway"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's share of a region's purchase volume per
    year. Numerator and denominator ride ONE conditional aggregate
    (never two passes); all four dimension joins broadcast, so the
    only real shuffle is lineitem⋈orders on orderkey. The share
    rounds in exact integer arithmetic (no double quotient)."""
    t = load_tables(spark, sf_dir)
    asia_cust = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]),
              (F.col("n_regionkey") == F.col("r_regionkey"))
              & (F.col("r_name") == "ASIA"))
        .select("c_custkey")
    )
    supp_nation = (
        t["supplier"]
        .join(
            F.broadcast(t["nation"].select(
                F.col("n_nationkey").alias("sn_key"),
                F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("sn_key"))
        .select("s_suppkey", "supp_nation")
    )
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    return (
        t["lineitem"]
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(asia_cust), F.col("o_custkey") == F.col("c_custkey"),
              "left_semi")
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(F.expr(_q8_share_sql("supp_nation", "div")).alias("mkt_share"))
    )


# ---------------------------------------------------------------------------
# q9: product-line profit by supplier nation and year
# ---------------------------------------------------------------------------

@register(
    "q9_product_profit",
    oracle=f"""
    SELECT ns.n_name AS nation,
           CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS o_year,
           {_sql_money(
               'l.l_extendedprice * (1 - l.l_discount)'
               ' - 0.5 * p.p_retailprice * l.l_quantity', 'profit')}
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY 1, 2
    """,
    tags=("join", "agg", "multiway"),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 adapted (no partsupp: half the retail price stands in
    for ps_supplycost). The p_name LIKE filter broadcast-prunes
    lineitem FIRST, so the orderkey co-shuffle with orders moves only
    matching rows; supplier and nation broadcast. Profit sums in
    exact decimal."""
    t = load_tables(spark, sf_dir)
    gear = t["part"].filter(F.col("p_name").like("%gear%")).select(
        "p_partkey", "p_retailprice"
    )
    supp_nation = (
        t["supplier"]
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        t["lineitem"]
        .join(F.broadcast(gear), F.col("l_partkey") == F.col("p_partkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("nation", F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(_money(profit, "profit"))
    )


# ---------------------------------------------------------------------------
# q11: important parts — value share vs a global scalar
# ---------------------------------------------------------------------------

_Q11_AVG_MULTIPLE = 1.5


@register(
    "q11_important_parts",
    oracle=f"""
    WITH val AS (
      SELECT l.l_partkey,
             {_sql_money('l.l_extendedprice', 'value')}
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_3'
      GROUP BY l.l_partkey)
    SELECT l_partkey AS p_partkey, value
    FROM val
    WHERE value > (SELECT {_Q11_AVG_MULTIPLE}
                          * CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                          / COUNT(*)
                   FROM val)
    """,
    tags=("join", "agg", "subquery", "having"),
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11: parts representing a significant share of one
    nation's stock value (lineitem extended price stands in for
    availqty·supplycost). The threshold is a one-row aggregate OVER
    the per-part values, broadcast into the filter. Physically the
    val subtree is planned twice (Spark does not reuse exchanges
    across branches — round-8 plan audit), and that is the RIGHT
    100 TB trade: the alternative single pass (a global window over
    the per-part relation) serializes a corpus-growing relation
    through one task, while the re-planned branch parallelizes like
    any scan. Value is the rounded money double in both engines, so
    the threshold compare is deterministic."""
    t = load_tables(spark, sf_dir)
    nation3 = (
        t["supplier"]
        .join(
            F.broadcast(
                t["nation"].filter(F.col("n_name") == "NATION_3")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    val = (
        t["lineitem"]
        .join(F.broadcast(nation3), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(_money(F.col("l_extendedprice"), "value"))
    )
    # Scale-free threshold (TPC-H scales Q11's FRACTION by 1/SF for the
    # same reason): a multiple of the average per-part value. Exact
    # decimal sum, one double division — deterministic across engines.
    # round 11: long-split exact sum of the per-part values (catalog.py
    # note) — same exact rational, same double threshold
    val_hi, val_lo = micro_split_sum_cols(micro_long_col(F.col("value")))
    total = F.broadcast(
        val.agg(
            (
                _Q11_AVG_MULTIPLE
                * (
                    micro_split_total_col(val_hi, val_lo).cast("decimal(38,6)")
                    / 1000000
                ).cast("double")
                / F.count("*")
            ).alias("threshold")
        )
    )
    return (
        val.crossJoin(total)
        .filter(F.col("value") > F.col("threshold"))
        .select("p_partkey", "value")
    )


# ---------------------------------------------------------------------------
# q12: late-shipment counts by order-priority class
# ---------------------------------------------------------------------------

@register(
    "q12_late_shipments",
    oracle="""
    SELECT CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 'high' ELSE 'low' END AS priority_class,
           CAST(SUM(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           CAST(SUM(CASE WHEN l.l_shipdate <= o.o_orderdate + INTERVAL 60 DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_ontime
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY 1
    """,
    tags=("join", "agg", "conditional"),
)
def q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 adapted (shipdate lag vs orderdate stands in for the
    commit/receipt pair): did low-priority orders ship late more often?
    Both counters ride one conditional aggregate after the single
    orderkey co-shuffle; the shipdate filter prunes the scan."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    ontime = F.col("l_shipdate") <= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    return (
        t["orders"]
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high"
            ).otherwise("low").alias("priority_class")
        )
        .agg(
            F.sum(F.when(late, 1).otherwise(0)).alias("n_late"),
            # each counter states ITS OWN predicate, mirroring the
            # oracle's two CASE forms: `when(late, 0).otherwise(1)`
            # would count a NULL o_orderdate row (late = NULL) as
            # on-time where the oracle counts it as neither — the
            # q12 twin of the count_of_sql NULL-asymmetry class
            F.sum(F.when(ontime, 1).otherwise(0)).alias("n_ontime"),
        )
    )


# ---------------------------------------------------------------------------
# q16: supplier diversity per part attribute combination
# ---------------------------------------------------------------------------

@register(
    "q16_supplier_diversity",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM part p
    JOIN lineitem l ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#13'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
    GROUP BY 1, 2, 3
    """,
    tags=("join", "agg", "distinct"),
)
def q16_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16: how many distinct suppliers ship each surviving
    (brand, type, size) combination. The part-side filters prune
    before the broadcast join; countDistinct expands to Spark's
    two-phase distinct aggregation (partial dedup map-side, exact
    count after one shuffle on the group keys)."""
    t = load_tables(spark, sf_dir)
    parts = t["part"].filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        t["lineitem"]
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# q20: suppliers shipping excess volume of a product line
# ---------------------------------------------------------------------------

_Q20_QTY_THRESHOLD = 50


@register(
    "q20_excess_suppliers",
    oracle=f"""
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_type = 'PROMO'
        AND l.l_shipdate >= TIMESTAMP '1997-01-01'
        AND l.l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY l.l_suppkey
      HAVING SUM(l.l_quantity) > {_Q20_QTY_THRESHOLD})
    """,
    tags=("join", "semi", "agg", "having"),
)
def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 adapted (shipped quantity stands in for availqty):
    suppliers who moved more than a threshold of PROMO parts in 1997.
    The IN-subquery decorrelates to aggregate-then-left-semi: lineitem
    collapses to ≤ |suppliers| rows BEFORE touching the supplier
    table, and the semi join broadcasts those few rows. Quantities are
    integral doubles — the HAVING compare is exact in both engines."""
    t = load_tables(spark, sf_dir)
    promo = t["part"].filter(F.col("p_type") == "PROMO").select("p_partkey")
    movers = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
        .join(F.broadcast(promo), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > _Q20_QTY_THRESHOLD)
        .select("l_suppkey")
    )
    return (
        t["supplier"]
        .join(F.broadcast(movers), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )


# ---------------------------------------------------------------------------
# q21: sole failing supplier per broken order
# ---------------------------------------------------------------------------

@register(
    "q21_sole_failing_supplier",
    oracle="""
    WITH r AS (
      SELECT DISTINCT l.l_orderkey, l.l_suppkey
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F' AND l.l_returnflag = 'R')
    SELECT s.s_name, COUNT(*) AS numwait
    FROM r r1
    JOIN supplier s ON s.s_suppkey = r1.l_suppkey
    WHERE NOT EXISTS (
      SELECT 1 FROM r r2
      WHERE r2.l_orderkey = r1.l_orderkey
        AND r2.l_suppkey <> r1.l_suppkey)
    GROUP BY s.s_name
    """,
    tags=("join", "anti", "agg", "window"),
)
def q21_sole_failing_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 adapted: on failed ('F') orders with returned items,
    count per supplier the orders where it was the ONLY supplier with
    a return — the classic exists/not-exists pair. The NOT EXISTS
    ("no other failing supplier on this order") is answered by a
    count-over-order window on the deduped (order, supplier) set —
    ONE exchange on orderkey instead of the self-anti-join's second
    shuffle plus inequality condition; the oracle states the textbook
    NOT EXISTS form."""
    t = load_tables(spark, sf_dir)
    failed = t["orders"].filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    r = (
        t["lineitem"]
        .filter(F.col("l_returnflag") == "R")
        .join(F.broadcast(failed), F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    sole = (
        r.withColumn(
            "n_supp", F.count("*").over(Window.partitionBy("l_orderkey"))
        )
        .filter(F.col("n_supp") == 1)
    )
    return (
        sole.join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )
