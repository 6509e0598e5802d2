"""Relational analytics surface (SURVEY.md §7 Stage 8).

The reference performs no joins/aggregations (SURVEY.md §2.3-2.4) — a
user switching to this engine gets them from Spark. Each query here is
a declarative DataFrame plan with an exact DuckDB-oracle twin.

Cross-engine determinism rules used throughout (Spark vs DuckDB must
hash-match value-for-value):
- money sums: per-value cast to DECIMAL(38,6) (deterministic), exact
  decimal SUM, ROUND(...,2) in decimal, cast back to DOUBLE;
- averages/ratios: NEVER round a double quotient (the engines disagree
  at .5-repr boundaries) — round4(S/n) runs in exact integer
  arithmetic over the micro-unit sum (see _avg_sql_text /
  catalog.round_div_sql), and never engine-native AVG (decimal scale
  rules differ);
- top-k: ORDER BY carries a unique tiebreak column so the selected SET
  is identical even under ties.

Scale notes (100 TB): dims (region/nation/supplier) are broadcast so
fact scans never shuffle for them; all aggregates allow map-side
partial aggregation; filters and projections sit directly on the scan
so Parquet pushdown/pruning applies (verified via explain in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from .catalog import (
    APPROX_RSD,
    MICRO_SPLIT_MASK,
    MICRO_SPLIT_SHIFT,
    PCTL_ACCURACY,
    load_tables,
    micro_long_col,
    micro_quant_sql,
    micro_quant_spark_sql,
    micro_split_sum_cols,
    micro_split_total_col,
    register,
    round4_double_sql,
    round4_frac_sql,
    round_div_sql,
    round_micro_ratio_sql,
    scale_out,
)

_DEC = "decimal(38,6)"


def _money(col: F.Column, alias: str, scale: int = 2) -> F.Column:
    """Exact money sum rounded to ``scale`` — see module docstring.

    Why the split (guide §2.3 "narrower types"): the plain
    ``SUM(CAST(x AS DECIMAL(38,6)))`` forces a >18-digit Decimal
    aggregation buffer, which Spark stores as BigDecimal bytes and
    re-boxes on every row update — measured 1.59/1.83 s (min/med)
    for q1's four money sums at sf0.1 vs 0.17/0.23 s for the bare
    scan+group. Equivalent long form: quantize each value to exact
    integer micro-units (``CAST(x AS DECIMAL(25,6))`` — value-identical
    to the DECIMAL(38,6) cast up to the ~9.2·10¹² BIGINT micro
    ceiling, and measured as cheap as the long-backed (18,6) cast:
    the decimal tax was always the SUM buffer, never the per-row
    quantization),
    then sum the micro-units as TWO plain BIGINT sums — an arithmetic
    shift splits each micro into hi = micro >> 20 and lo = micro &
    (2²⁰−1), an identity that holds for either sign — and recombine
    hi·2²⁰ + lo in the decimal domain ONCE per group. Same exact
    rational, same HALF_UP rounding, bit-identical output (verified
    value-for-value and by the full two-SF oracle preflight);
    measured 0.91/1.06 s for the same four sums.

    Scale bounds (both ANSI-loud on breach, never silent): per row
    |x| ≤ ~9.2·10¹² (BIGINT micro ceiling); per group Σ|x| < 9.2·10¹⁸
    base units and < 8.8·10¹² rows — TPC-H q1 at ~100 TB (SF 10⁵) has
    Σx ≈ 5.7·10¹⁵ per group, three orders of magnitude of headroom.
    Thin wrapper over catalog.money_sum_col so the split-sum formula
    lives in exactly one place."""
    from .catalog import money_sum_col

    return money_sum_col(col, alias, scale)


def _avg_sql_text(expr: str, intdiv: str) -> str:
    """round(AVG(expr), 4) in exact integer arithmetic: per-row
    quantize to scale 6 (micro-units, exact), sum the integral
    micro-units in the DECIMAL domain, so round4(S/n) =
    half-up(T / (100·n)) / 10⁴ with T = S·10⁶ — no double quotient
    ever exists, so the two engines cannot disagree at .5 boundaries
    (ROUND over a double quotient does — observed live at sf0.1).

    The DuckDB side sums DECIMAL micro-units cast to HUGEINT for
    ``//`` — a BIGINT T would overflow once a group's base-unit sum
    exceeds ~4.6e12 (TPC-H avg_price crosses that around sf~100),
    far below the 100 TB design point; the decimal form is exact to a
    10³² base-unit group sum.

    Round 11, Spark branch only: the same exact micro-unit sum is
    assembled from TWO plain BIGINT sums (hi = micro >> 20, lo =
    micro & (2²⁰−1); recombined hi·2²⁰ + lo in decimal once per
    group) instead of SUM(DECIMAL(32,0)), whose >18-digit buffer
    forces BigDecimal boxing per row (measured ~2× on q1's aggregate
    stage — see _money). Identical value, checked by the unchanged
    DuckDB twin through the two-SF preflight. Bounds (ANSI-loud):
    per row |x| ≤ ~9.2·10¹² (the BIGINT micro ceiling — the
    DECIMAL(25,6) quantization is value-identical to the
    DECIMAL(24,6) form below that bound, preserving the round-3
    pinned 5·10¹² per-row contract); per group
    Σ|x| < 9.2·10¹⁸ base units and < 8.8·10¹² rows."""
    if intdiv == "div":  # Spark: IntegralDivide takes decimals, yields BIGINT
        from .catalog import micro_sum_spark_sql

        num = micro_sum_spark_sql(expr)
    else:  # DuckDB: // needs HUGEINT (2·T must also fit: |T| < 8.5e37)
        q = f"CAST(CAST({expr} AS DECIMAL(38,6)) AS DECIMAL(24,6))"
        micro = f"CAST({q} * 1000000 AS DECIMAL(32,0))"
        num = f"CAST(SUM({micro}) AS HUGEINT)"
    den = f"100 * COUNT({expr})"
    return f"(CAST({round_div_sql(num, den, intdiv)} AS DOUBLE) / 10000)"


def _avg(col_sql: str, alias: str) -> F.Column:
    return F.expr(_avg_sql_text(col_sql, "div")).alias(alias)


def _sql_money(expr: str, alias: str, scale: int = 2) -> str:
    return f"CAST(ROUND(SUM(CAST({expr} AS DECIMAL(38,6))), {scale}) AS DOUBLE) AS {alias}"


def _sql_avg(expr: str, alias: str) -> str:
    return f"{_avg_sql_text(expr, '//')} AS {alias}"


# ---------------------------------------------------------------------------
# q1: pricing summary (TPC-H Q1 analog) — full-scan groupBy aggregate
# ---------------------------------------------------------------------------

@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {_sql_money('l_quantity', 'sum_qty')},
           {_sql_money('l_extendedprice', 'sum_base_price')},
           {_sql_money('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
           {_sql_money('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
           {_sql_avg('l_quantity', 'avg_qty')},
           {_sql_avg('l_extendedprice', 'avg_price')},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "scan"),
    bench=True,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-heavy aggregate: 6 measures over ~4 groups. At 100 TB this
    is the canonical map-side-combine query — partial aggregation
    reduces each scan partition to ≤4 rows before the single tiny
    shuffle; the shipdate filter and 7-column projection push into the
    Parquet reader (PushedFilters/ReadSchema verified in tests)."""
    t = load_tables(spark, sf_dir)
    l = t["lineitem"]
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _money(F.col("l_quantity"), "sum_qty"),
            _money(F.col("l_extendedprice"), "sum_base_price"),
            _money(disc_price, "sum_disc_price"),
            _money(disc_price * (1 + F.col("l_tax")), "sum_charge"),
            _avg("l_quantity", "avg_qty"),
            _avg("l_extendedprice", "avg_price"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# q3: top unshipped-revenue orders (TPC-H Q3 analog) — join + agg + top-k
# ---------------------------------------------------------------------------

@register(
    "q3_top_revenue_orders",
    oracle=f"""
    SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
           {_sql_money('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
    tags=("join", "agg", "topk"),
    bench=True,
)
def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + aggregate + deterministic top-10. The customer side
    is filtered to one segment then broadcast (a ~1/5 slice of the
    second-smallest fact table); orders⋈lineitem co-shuffles on
    orderkey once, and AQE picks broadcast automatically when the
    filtered side fits. Top-k uses a global sort of the ~aggregated~
    rows only (TakeOrderedAndProject), never of the fact table."""
    t = load_tables(spark, sf_dir)
    cutoff = F.lit("1998-03-15").cast("timestamp_ntz")
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = t["orders"].filter(F.col("o_orderdate") < cutoff)
    line = t["lineitem"].filter(F.col("l_shipdate") > cutoff)
    return (
        line.join(orders, line.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == F.col("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_money(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q5: revenue by nation (TPC-H Q5 analog) — star join over broadcast dims
# ---------------------------------------------------------------------------

@register(
    "q5_nation_revenue",
    oracle=f"""
    SELECT n.n_name,
           {_sql_money('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN supplier s  ON l.l_suppkey = s.s_suppkey
                    AND c.c_nationkey = s.s_nationkey
    JOIN nation n    ON s.s_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
    tags=("join", "agg", "broadcast"),
    bench=True,
)
def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: one big fact (lineitem) against orders plus four
    dimensions. region/nation/supplier are broadcast explicitly — at
    100 TB the only shuffle is lineitem⋈orders on orderkey; every
    dimension lookup is map-side. customer is the one dim that grows
    with SF, so it stays a shuffle join and AQE downgrades it to
    broadcast when the region filter makes it small."""
    t = load_tables(spark, sf_dir)
    nr = (
        t["nation"]
        .join(F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    sup = (
        t["supplier"]
        .join(F.broadcast(nr), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    return (
        t["lineitem"]
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(sup),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(_money(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


# ---------------------------------------------------------------------------
# window functions
# ---------------------------------------------------------------------------

@register(
    "q_top_order_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
    WHERE rn = 1
    """,
    tags=("window",),
    bench=True,
)
def q_top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1-per-group via ROW_NUMBER — the 'latest state per key'
    pattern (the Kafka-log-compaction analog, SURVEY.md §2.5). One
    shuffle on the partition key; at 100 TB AQE handles hot customers
    (skew) by splitting oversized partitions."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        t["orders"]
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@register(
    "q_customer_order_rank_stats",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_first_orders,
           {_sql_money('o_totalprice', 'first_order_revenue')}
    FROM (
      SELECT o_orderpriority, o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders)
    WHERE rn = 1
    GROUP BY o_orderpriority
    """,
    tags=("window", "agg"),
)
def q_customer_order_rank_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each customer's chronologically-first order, aggregated by
    priority — window + reaggregation in one plan (the shuffle on
    o_custkey is reused by nothing downstream; the second agg is tiny)."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        t["orders"]
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_first_orders"),
            _money(F.col("o_totalprice"), "first_order_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# semi / anti joins
# ---------------------------------------------------------------------------

@register(
    "q_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("join", "anti"),
)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS). At scale the orders side reduces to
    distinct custkeys before the join — Catalyst rewrites the anti join
    to aggregate-then-join; no row explosion is possible."""
    t = load_tables(spark, sf_dir)
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    )


@register(
    "q_customers_with_open_orders",
    oracle="""
    SELECT c_custkey, c_acctbal
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
    """,
    tags=("join", "semi"),
)
def q_customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS) with the filter pushed below the join."""
    t = load_tables(spark, sf_dir)
    open_orders = t["orders"].filter(F.col("o_orderstatus") == "O")
    return (
        t["customer"]
        .join(open_orders, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_acctbal")
    )


# ---------------------------------------------------------------------------
# set operations
# ---------------------------------------------------------------------------

@register(
    "q_setop_fulfilled_not_open",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    tags=("setop",),
)
def q_setop_fulfilled_not_open(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) — customers with fulfilled but no open orders."""
    t = load_tables(spark, sf_dir)
    o = t["orders"]
    return (
        o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
        .subtract(o.filter(F.col("o_orderstatus") == "O").select("o_custkey"))
    )


@register(
    "q_setop_both_segments_nations",
    oracle="""
    SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    """,
    tags=("setop",),
)
def q_setop_both_segments_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT — nations present in both market segments."""
    t = load_tables(spark, sf_dir)
    c = t["customer"]
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
        .intersect(c.filter(F.col("c_mktsegment") == "MACHINERY").select("c_nationkey"))
    )


# ---------------------------------------------------------------------------
# scalar functions
# ---------------------------------------------------------------------------

@register(
    "q_part_scalar_functions",
    oracle=f"""
    SELECT p_partkey,
           UPPER(p_brand) AS brand_u,
           LENGTH(p_name) AS name_len,
           SUBSTR(p_type, 1, 5) AS type_pfx,
           CONCAT_WS('|', p_brand, p_type) AS brand_type,
           -- price * 1.1 at 2 decimals in EXACT integer arithmetic:
           -- cents*11 over 10 — the double product lands on a .xx5
           -- midpoint whenever the cents digit is 5, where the two
           -- engines' ROUND(double) can disagree
           (CAST({round_div_sql('CAST(CAST(p_retailprice AS DECIMAL(38,6)) * 100 AS BIGINT) * 11', '10', '//')}
             AS DOUBLE) / 100) AS price_infl,
           p_size % 7 AS size_mod,
           CASE WHEN p_size > 25 THEN 'L'
                WHEN p_size > 10 THEN 'M'
                ELSE 'S' END AS size_class,
           ABS(p_size - 25) AS size_dist
    FROM part
    WHERE p_name LIKE '%ol%'
    """,
    tags=("scalar", "project"),
)
def q_part_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/math/conditional scalar surface (SURVEY.md §2.8 analog of
    X1-X3) — all JVM-side whole-stage-codegen expressions, zero UDFs."""
    t = load_tables(spark, sf_dir)
    return (
        t["part"]
        .filter(F.col("p_name").like("%ol%"))
        .select(
            "p_partkey",
            F.upper("p_brand").alias("brand_u"),
            F.length("p_name").alias("name_len"),
            F.substring("p_type", 1, 5).alias("type_pfx"),
            F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
            (
                F.expr(
                    round_div_sql(
                        "CAST(CAST(p_retailprice AS DECIMAL(38,6)) * 100 AS BIGINT) * 11",
                        "10",
                        "div",
                    )
                ).cast("double")
                / 100
            ).alias("price_infl"),
            (F.col("p_size") % 7).alias("size_mod"),
            F.when(F.col("p_size") > 25, "L")
            .when(F.col("p_size") > 10, "M")
            .otherwise("S")
            .alias("size_class"),
            F.abs(F.col("p_size") - 25).alias("size_dist"),
        )
    )


@register(
    "q_orders_date_functions",
    oracle=f"""
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
           CAST(EXTRACT(QUARTER FROM o_orderdate) AS INT) AS order_quarter,
           COUNT(*) AS n_orders,
           {_sql_money('o_totalprice', 'revenue')}
    FROM orders
    GROUP BY 1, 2
    """,
    tags=("scalar", "date", "agg"),
)
def q_orders_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction + aggregate; at 100 TB this benefits from
    partition pruning when orders is date-partitioned."""
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .groupBy(
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.quarter("o_orderdate").cast("int").alias("order_quarter"),
        )
        .agg(F.count("*").alias("n_orders"), _money(F.col("o_totalprice"), "revenue"))
    )


# ---------------------------------------------------------------------------
# grouping sets / distinct aggregates
# ---------------------------------------------------------------------------

@register(
    "q_rollup_returns",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
           {_sql_money('l_quantity', 'sum_qty')}
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("agg", "rollup"),
)
def q_rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals — Catalyst expands to a single Expand +
    hash aggregate (one pass over the fact table, no self-union)."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n_items"), _money(F.col("l_quantity"), "sum_qty"))
    )


@register(
    "q_distinct_customers_per_status",
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("agg", "distinct"),
)
def q_distinct_customers_per_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) — Catalyst plans partial-distinct expansion; at
    100 TB prefer approx_count_distinct when 2% error is acceptable
    (exposed separately as q_approx below, rows-only check)."""
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .groupBy("o_orderstatus")
        .agg(
            F.count_distinct("o_custkey").alias("n_customers"),
            F.count("*").alias("n_orders"),
        )
    )


@register(
    "q_approx_distinct_parts",
    oracle=None,  # HLL sketch — engine-specific estimate, no SQL oracle
    tags=("agg", "approx"),
    driver=False,  # external contract carried by q_approx_distinct_parts_check
)
def q_approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the 100 TB substitute
    for exact distinct counts: mergeable sketch, no distinct-expansion
    shuffle. Estimates are engine-specific, so no SQL oracle; pytest
    pins the estimate within 3×rsd of the exact count
    (tests/test_oracle_parity.py::test_approx_distinct_within_rsd_of_exact)."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_partkey", APPROX_RSD).alias("approx_parts"))
    )


# ---------------------------------------------------------------------------
# array / higher-order functions
# ---------------------------------------------------------------------------

@register(
    "q_array_functions",
    oracle=f"""
    SELECT vec_id,
           len(embedding) AS dim,
           {round4_double_sql("CAST(list_aggregate(embedding, 'max') AS DOUBLE)")}
             AS max_val,
           {round4_double_sql("CAST(list_aggregate(embedding, 'min') AS DOUBLE)")}
             AS min_val,
           len(list_filter(embedding, x -> x > 0)) AS n_positive,
           {round4_double_sql("CAST(embedding[1] AS DOUBLE)")} AS first_val
    FROM embeddings
    WHERE vec_id < 100
    """,
    tags=("scalar", "array"),
)
def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/higher-order function surface over the embedding column —
    size, extrema, lambda filter, element access, all JVM expressions
    (the building blocks the similarity/dedup plans compose). Extrema
    compare exact float32 values; only display rounding at the end."""
    t = load_tables(spark, sf_dir)

    def r4(expr: str, alias: str) -> F.Column:
        return F.expr(round4_double_sql(expr)).alias(alias)

    return (
        t["embeddings"]
        .filter(F.col("vec_id") < 100)
        .select(
            "vec_id",
            F.size("embedding").alias("dim"),
            r4("CAST(array_max(embedding) AS DOUBLE)", "max_val"),
            r4("CAST(array_min(embedding) AS DOUBLE)", "min_val"),
            F.size(F.expr("filter(embedding, x -> x > 0)")).alias("n_positive"),
            r4("CAST(element_at(embedding, 1) AS DOUBLE)", "first_val"),
        )
    )


# ---------------------------------------------------------------------------
# time-series rollup: 15-minute OHLC bars (the hypertable-rollup shape)
# ---------------------------------------------------------------------------

@register(
    "events_ohlc_15m",
    oracle="""
    SELECT event_type,
           time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP)) AS bucket,
           first(value ORDER BY ts, event_id) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           last(value ORDER BY ts, event_id) AS close,
           COUNT(*) AS n_events
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
    tags=("agg", "timeseries", "rollup"),
)
def events_ohlc_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series downsampling to 15-minute OHLC bars per event type —
    the hypertable-rollup/continuous-aggregate shape. Bucketing is an
    epoch-aligned floor (Spark's window() start == DuckDB's
    time_bucket grid); open/close are min_by/max_by over the unique
    (ts, event_id) order, so bars are deterministic even with
    same-timestamp events. ONE map-side-combinable aggregate: at
    100 TB this is the classic streaming-compatible downsample (the
    same expressions run under a watermarked groupBy window)."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        # same timeless-event contract as the gapfill/trailing pair:
        # unfiltered, DuckDB's time_bucket(NULL) emits a NULL-bucket
        # group that Spark's F.window silently drops
        .filter(F.col("ts").isNotNull())
        .groupBy(
            "event_type",
            F.window("ts", "15 minutes").start.alias("bucket"),
        )
        .agg(
            F.expr("min_by(value, struct(ts, event_id))").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.expr("max_by(value, struct(ts, event_id))").alias("close"),
            F.count("*").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# gap-filled downsample (LOCF)
# ---------------------------------------------------------------------------

@register(
    "events_gapfill_1h",
    oracle="""
    WITH closes AS (
      SELECT event_type,
             time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS bucket,
             last(value ORDER BY ts, event_id) AS close
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
    nxt AS (
      SELECT event_type, bucket, close,
             LEAD(bucket) OVER (PARTITION BY event_type ORDER BY bucket)
               AS next_b
      FROM closes),
    g AS (
      SELECT event_type, close, bucket AS obs_bucket,
             UNNEST(generate_series(
               bucket, COALESCE(next_b - INTERVAL 1 HOUR, bucket),
               INTERVAL 1 HOUR)) AS bucket
      FROM nxt)
    SELECT event_type, bucket, close AS value,
           CASE WHEN bucket = obs_bucket THEN 0 ELSE 1 END AS is_gap
    FROM g
    """,
    tags=("agg", "timeseries", "gapfill"),
)
def events_gapfill_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly downsample with last-observation-carried-
    forward — the hypertable ``time_bucket_gapfill`` + ``locf`` shape:
    every hour between a series' first and last observation gets a
    row, empty hours inheriting the previous hour's closing value and
    an is_gap marker.

    Implementation is the SINGLE-PASS form: one map-side-combinable
    downsample (deterministic max_by close per bucket), one lead()
    window per series, then each observed bar explodes into itself
    plus the empty hours before the next bar (sequence → explode).
    No spine self-join, no second scan of the fact table, and no
    branch that would re-run the aggregate subtree (Spark does not
    reuse exchanges across DataFrame branches); the carried value
    travels WITH the generating row, so no second LOCF window is
    needed either. Output is bounded by series×buckets regardless of
    event volume."""
    t = load_tables(spark, sf_dir)
    # Timeless (NULL-ts) events are not bucketable — excluded by
    # explicit contract ON BOTH SIDES: unfiltered, DuckDB's
    # time_bucket(NULL) yields a NULL-bucket row while Spark's
    # explode(sequence(NULL, …)) silently drops it, a latent parity
    # break the NULL-free driver corpus never exercises.
    closes = (
        t["events"]
        .filter(F.col("ts").isNotNull())
        .groupBy("event_type", F.window("ts", "1 hour").start.alias("bucket"))
        .agg(F.expr("max_by(value, struct(ts, event_id))").alias("close"))
    )
    w = Window.partitionBy("event_type").orderBy("bucket")
    nxt = closes.withColumn("next_b", F.lead("bucket").over(w))
    return (
        nxt.select(
            "event_type",
            "close",
            F.col("bucket").alias("obs_bucket"),
            F.explode(
                F.expr(
                    "sequence(bucket,"
                    " coalesce(next_b - interval 1 hour, bucket),"
                    " interval 1 hour)"
                )
            ).alias("bucket"),
        )
        .select(
            "event_type",
            "bucket",
            F.col("close").alias("value"),
            F.when(F.col("bucket") == F.col("obs_bucket"), 0)
            .otherwise(1)
            .alias("is_gap"),
        )
    )


# ---------------------------------------------------------------------------
# fixed-width histogram
# ---------------------------------------------------------------------------

_HIST_BIN_WIDTH = 50


@register(
    "events_value_histogram",
    oracle=f"""
    SELECT event_type,
           CAST(FLOOR(value / {_HIST_BIN_WIDTH}) AS INT) AS bin,
           COUNT(*) AS n,
           CAST(MIN(value) AS DOUBLE) AS bin_min,
           CAST(MAX(value) AS DOUBLE) AS bin_max
    FROM events
    GROUP BY 1, 2
    """,
    tags=("agg", "histogram"),
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type — the profiling
    primitive behind data-quality dashboards. The bin id is a single
    IEEE divide+floor (identical in both engines); the whole query is
    one map-side-combinable aggregate whose output is bounded by
    bins×types regardless of corpus size."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy(
            "event_type",
            F.floor(F.col("value") / _HIST_BIN_WIDTH).cast("int").alias("bin"),
        )
        .agg(
            F.count("*").alias("n"),
            F.min("value").cast("double").alias("bin_min"),
            F.max("value").cast("double").alias("bin_max"),
        )
    )


# ---------------------------------------------------------------------------
# explicit GROUPING SETS with grouping_id
# ---------------------------------------------------------------------------

@register(
    "q_grouping_sets_orders",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                AS BIGINT) AS gid,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    tags=("agg", "grouping-sets"),
)
def q_grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (two independent dimensions + grand
    total in one pass) with grouping_id disambiguating the NULL-key
    rows — the general form of which rollup/cube are specializations.
    Spark plans ONE Expand + one aggregate: the scan is read once for
    all three groupings, each map-side-combinable."""
    t = load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                    AS BIGINT) AS gid,
               COUNT(*) AS n_orders,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,6))), 2)
                    AS DOUBLE) AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# ---------------------------------------------------------------------------
# ntile deciles
# ---------------------------------------------------------------------------

@register(
    "q_customer_balance_deciles",
    oracle="""
    WITH d AS (
      SELECT c_custkey, c_acctbal,
             NTILE(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
      FROM customer)
    SELECT decile,
           COUNT(*) AS n_customers,
           CAST(MIN(c_acctbal) AS DOUBLE) AS lo,
           CAST(MAX(c_acctbal) AS DOUBLE) AS hi
    FROM d GROUP BY decile
    """,
    tags=("window", "ntile", "agg"),
)
def q_customer_balance_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Account-balance deciles with EXACT NTILE semantics (unique
    c_custkey tiebreak makes bucket boundaries deterministic) —
    computed by operators.scale.exact_ntile_multi instead of
    ``ntile().over(Window.orderBy(...))``: frozen-boundary coarse
    buckets replace the single-partition global sort, each bucket
    windows only its own key range in parallel, and the global rank
    comes from in-plan prefix-sum offsets broadcast back (a ~P-row
    relation — index metadata). Bit-identical buckets to the window
    function (the oracle hash-checks that), but the plan survives a
    100x scale-up; the approx_percentile twin remains the cheapest
    form when sketch cutpoints suffice.

    BUILD NOTE: one small boundary-sketch collect runs when this
    function is CALLED (the round-6 form paid exact_ntile's
    localCheckpoint + count collect — two jobs and an eager
    materialization; the migration retires the catalog's last
    checkpoint-eager builder)."""
    t = load_tables(spark, sf_dir)
    from ..operators.scale import exact_ntile_multi

    return (
        exact_ntile_multi(
            t["customer"].select("c_custkey", "c_acctbal"),
            10,
            [("decile", ["c_acctbal", "c_custkey"])],
        )
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.min("c_acctbal").cast("double").alias("lo"),
            F.max("c_acctbal").cast("double").alias("hi"),
        )
    )


@register(
    "q_customer_balance_deciles_approx",
    tags=("agg", "percentile", "sketch"),
    driver=False,  # external contract: q_customer_balance_deciles_check
)
def q_customer_balance_deciles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Account-balance deciles via approx_percentile cutpoints — the
    100 TB-safe twin of q_customer_balance_deciles. The global NTILE
    serializes the whole table through one single-partition window
    task; here the 9 cutpoints come from ONE mergeable-sketch
    aggregation (map-side combinable, only 9 doubles cross the
    shuffle), are broadcast back as a 1-row side, and each customer is
    bucketed by array comparison — no Window, no Sort anywhere in the
    plan (pinned by test_plan_quality.py::
    test_deciles_approx_plan_has_no_window_or_sort). Same output
    schema as the exact form. Sketch cutpoints are engine-specific →
    no SQL oracle; agreement with the exact NTILE deciles is pinned by
    pytest (test_oracle_parity.py::test_approx_deciles_track_exact).

    Semantic note: comparison bucketing sends ALL ties on a cutpoint
    value to the same decile, where NTILE splits them by the c_custkey
    tiebreak — at scale the tie mass per boundary is O(duplicates of
    one value), which is the correct quantile-bucket contract."""
    t = load_tables(spark, sf_dir)
    c = t["customer"].select("c_acctbal")
    fracs = ", ".join(str(i / 10) for i in range(1, 10))
    cuts = c.agg(
        F.expr(f"approx_percentile(c_acctbal, array({fracs}), {PCTL_ACCURACY})").alias("cuts")
    )
    return (
        c.crossJoin(F.broadcast(cuts))
        .select(
            "c_acctbal",
            (1 + F.expr("size(filter(cuts, x -> x < c_acctbal))")).alias("decile"),
        )
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.min("c_acctbal").cast("double").alias("lo"),
            F.max("c_acctbal").cast("double").alias("hi"),
        )
    )


@register(
    "q_setop_priority_mix_all",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    tags=("setop", "multiset"),
)
def q_setop_priority_mix_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — the multiset form (each low-priority order of a
    customer survives only if not cancelled out by an urgent one;
    duplicates carry counts, unlike the distinct EXCEPT above). Spark
    plans this as a counted aggregation + generate, one shuffle on
    the key — no join."""
    t = load_tables(spark, sf_dir)
    o = t["orders"]
    return (
        o.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
        .exceptAll(o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey"))
    )


@register(
    "q_nation_customer_supplier_balance",
    oracle="""
    WITH c AS (
      SELECT c_nationkey AS nationkey,
             CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(38,6))), 2) AS DOUBLE)
               AS cust_bal,
             COUNT(*) AS n_cust
      FROM customer GROUP BY 1),
    s AS (
      SELECT s_nationkey AS nationkey,
             CAST(ROUND(SUM(CAST(s_acctbal AS DECIMAL(38,6))), 2) AS DOUBLE)
               AS supp_bal,
             COUNT(*) AS n_supp
      FROM supplier GROUP BY 1)
    SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
           c.cust_bal, c.n_cust, s.supp_bal, s.n_supp
    FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
    """,
    tags=("join", "outer", "agg"),
)
def q_nation_customer_supplier_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two aggregated sides — nations appearing on
    either side survive with NULLs on the missing one (the
    reconciliation-report shape). Both inputs aggregate BEFORE the
    join, so the outer join touches ≤ |nations| rows per side no
    matter the fact-table size."""
    t = load_tables(spark, sf_dir)
    c = (
        t["customer"].groupBy(F.col("c_nationkey").alias("c_nk"))
        .agg(_money(F.col("c_acctbal"), "cust_bal"), F.count("*").alias("n_cust"))
    )
    s = (
        t["supplier"].groupBy(F.col("s_nationkey").alias("s_nk"))
        .agg(_money(F.col("s_acctbal"), "supp_bal"), F.count("*").alias("n_supp"))
    )
    return c.join(s, c.c_nk == s.s_nk, "full_outer").select(
        F.coalesce("c_nk", "s_nk").alias("nationkey"),
        "cust_bal", "n_cust", "supp_bal", "n_supp",
    )


# ---------------------------------------------------------------------------
# Sketch tolerance twins (round-6): oracle-checkable accuracy claims
# for the engine-specific sketches. The sketch queries themselves
# (q_approx_distinct_parts, q_quantity_quartiles_approx,
# q_customer_balance_deciles_approx) have no SQL oracle — DuckDB
# cannot twin HLL++/Greenwald-Khanna internals — so the external gate
# could only row-count them. These _check twins restate each sketch's
# DOCUMENTED accuracy contract as a BOOLEAN column beside the
# SQL-expressible exact side: the oracle asserts the claim holds
# (TRUE) and cross-checks the exact values; a sketch drifting out of
# its contract turns the Spark side FALSE and the driver row red.
# They are VERIFICATION queries — the exact side is deliberately
# computed (a distinct-expansion / full-group pass a production plan
# would avoid; that is what the sketch originals are for).


@register(
    "q_approx_distinct_parts_check",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS within_tol
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "approx", "check"),
)
def q_approx_distinct_parts_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ accuracy claim, oracle-checked: per group, the
    approx_count_distinct(rsd=catalog.APPROX_RSD) estimate must sit
    within 3·rsd of the exact distinct count (the same bound the
    pytest pin uses).
    The exact side is SQL — DuckDB verifies it value-for-value, and
    verifies the claim column is TRUE."""
    t = load_tables(spark, sf_dir)
    g = t["lineitem"].groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", APPROX_RSD).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    return g.select(
        "l_returnflag",
        "exact_parts",
        hll_within_tol(F.col("exact_parts"), F.col("approx_parts")).alias(
            "within_tol"
        ),
    )


def _within_rel_tol(exact: F.Column, est: F.Column, tol: float) -> F.Column:
    """|est − exact| ≤ tol·exact — the ONE relative-tolerance
    expression behind every sketch _check twin (hll_within_tol,
    hll_rollup_within_tol), so the twins and their falsifiability
    pins all exercise the same production arithmetic and cannot
    drift on e.g. a NULL guard added to one copy."""
    return F.abs(est - exact) <= F.lit(tol) * exact


def hll_within_tol(exact: F.Column, approx: F.Column) -> F.Column:
    """The HLL accuracy claim itself — |approx − exact| ≤
    3·APPROX_RSD·exact — as ONE expression shared by the _check twin
    and its falsifiability pin (tests/test_oracle_parity.py), so the
    pin exercises the production arithmetic, not a local copy."""
    return _within_rel_tol(exact, approx, 3 * APPROX_RSD)


def _rank_bound_checks(fracs: list[float], eps: float) -> list[F.Column]:
    """Greenwald-Khanna rank-contract columns over a relation carrying
    ``n`` plus ``lt{i}``/``le{i}`` counts: the sketch's returned value
    for quantile p occupies ranks (cnt_lt, cnt_le]; GK guarantees that
    interval intersects [n(p-eps), n(p+eps)]. One rank of rounding
    slack on each side keeps integer-boundary ties out of the
    claim."""
    out = []
    for i, p in enumerate(fracs):
        out.append(
            (
                F.col(f"lt{i}")
                <= F.ceil(F.lit(p + eps) * F.col("n")) + F.lit(1)
            )
            & (
                F.col(f"le{i}")
                >= F.floor(F.lit(p - eps) * F.col("n")) - F.lit(1)
            )
        )
    return out


@register(
    "q_quantity_quartiles_check",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           TRUE AS q25_ok, TRUE AS q50_ok, TRUE AS q75_ok
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "percentile", "sketch", "check"),
)
def q_quantity_quartiles_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna rank contract for q_quantity_quartiles_approx,
    oracle-checked: each returned quartile's rank interval must
    intersect [n(p-eps), n(p+eps)], eps = 1/accuracy. The group sizes
    are SQL — DuckDB verifies them value-for-value and the claims as
    TRUE."""
    acc = PCTL_ACCURACY
    eps = 1.0 / acc
    fracs = [0.25, 0.50, 0.75]
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].select("l_returnflag", "l_quantity")
    arr = ", ".join(str(p) for p in fracs)
    sk = li.groupBy("l_returnflag").agg(
        F.expr(f"approx_percentile(l_quantity, array({arr}), {acc})").alias("qs")
    )
    j = li.join(F.broadcast(sk), "l_returnflag")
    g = j.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        *[
            F.sum(
                (F.col("l_quantity") < F.element_at("qs", i + 1)).cast("long")
            ).alias(f"lt{i}")
            for i in range(len(fracs))
        ],
        *[
            F.sum(
                (F.col("l_quantity") <= F.element_at("qs", i + 1)).cast("long")
            ).alias(f"le{i}")
            for i in range(len(fracs))
        ],
    )
    checks = _rank_bound_checks(fracs, eps)
    return g.select(
        "l_returnflag",
        F.col("n").alias("n_items"),
        checks[0].alias("q25_ok"),
        checks[1].alias("q50_ok"),
        checks[2].alias("q75_ok"),
    )


@register(
    "q_customer_balance_deciles_check",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_customers, TRUE AS all_cuts_ok
    FROM customer
    """,
    tags=("agg", "percentile", "sketch", "check"),
)
def q_customer_balance_deciles_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank contract for the 9 approx_percentile decile cutpoints
    behind q_customer_balance_deciles_approx: every cutpoint's rank
    interval must intersect [n(i/10 - eps), n(i/10 + eps)]. Collapsed
    to one (n_customers, all_cuts_ok) row the oracle verifies."""
    acc = PCTL_ACCURACY
    eps = 1.0 / acc
    fracs = [i / 10 for i in range(1, 10)]
    t = load_tables(spark, sf_dir)
    c = t["customer"].select("c_acctbal")
    arr = ", ".join(str(p) for p in fracs)
    cuts = c.agg(
        F.expr(f"approx_percentile(c_acctbal, array({arr}), {acc})").alias("qs")
    )
    g = c.crossJoin(F.broadcast(cuts)).agg(
        F.count("*").alias("n"),
        *[
            F.sum(
                (F.col("c_acctbal") < F.element_at("qs", i + 1)).cast("long")
            ).alias(f"lt{i}")
            for i in range(len(fracs))
        ],
        *[
            F.sum(
                (F.col("c_acctbal") <= F.element_at("qs", i + 1)).cast("long")
            ).alias(f"le{i}")
            for i in range(len(fracs))
        ],
    )
    checks = _rank_bound_checks(fracs, eps)
    all_ok = checks[0]
    for ck in checks[1:]:
        all_ok = all_ok & ck
    return g.select(F.col("n").alias("n_customers"), all_ok.alias("all_cuts_ok"))


# ---------------------------------------------------------------------------
# interval RANGE window frame (trailing moving aggregate)
# ---------------------------------------------------------------------------

_TRAIL_US = 3_600_000_000  # 1 hour in microseconds


@register(
    "events_trailing_1h",
    oracle=f"""
    WITH e AS (
      SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             value
      FROM events WHERE ts IS NOT NULL),
    win AS (
      SELECT event_id, user_id, us,
             COUNT(*) OVER w AS n_1h,
             CAST(SUM({micro_quant_sql('value')}) OVER w AS BIGINT)
               AS sum_micro_1h
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY us
                   RANGE BETWEEN {_TRAIL_US} PRECEDING AND CURRENT ROW))
    SELECT event_id, user_id, n_1h, sum_micro_1h,
           {round_micro_ratio_sql('sum_micro_1h', '(n_1h * 1000000)', 1, 4, '//')}
             AS avg_1h
    FROM win
    """,
    tags=("window", "range-frame", "timeseries"),
)
def events_trailing_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour moving aggregate per user via an interval RANGE
    window frame — the event-time sliding metric (rate limiting,
    rolling spend, anomaly baselines) that ROWS frames cannot express
    because it must follow the clock, not the row count. The frame
    orders on integer epoch-microseconds so both engines resolve
    identical bounds (RANGE peers — equal timestamps — are included
    by both by definition); the moving SUM runs over exact micro-unit
    decimals (shared micro_quant_sql quantization) so no
    order-dependent double accumulation ever exists, and the average
    renders through the exact integer rounding helpers.

    Scale shape: one exchange on user_id (uniform key), then a linear
    per-partition frame scan; output is one row per event, never
    materializing per-window row sets."""
    t = load_tables(spark, sf_dir)
    # Timeless events have no trailing window — excluded by explicit
    # contract on both sides (a NULL order key would otherwise land in
    # engine-specific NULL-ordering frames: Spark sorts NULLS FIRST,
    # DuckDB NULLS LAST).
    e = t["events"].filter(F.col("ts").isNotNull()).select(
        "event_id",
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-_TRAIL_US, 0)
    )
    # round 11: the RANGE-frame money sum as the long-split pair of
    # window sums (catalog.py note) — Spark re-evaluates a sliding
    # frame's aggregate row by row, so per-element BigDecimal boxing
    # compounds with frame width; the split keeps the frame work on
    # BIGINT and recombines to the SAME integral decimal once per row.
    # A single BIGINT micro sum was (rightly) rejected here — it
    # ANSI-overflows once a frame's base-unit sum passes ~9.2e12; the
    # split's per-frame bound is Σ|value| < 9.2e18 base units, six
    # orders above it, and still ANSI-loud beyond.
    m1h = micro_long_col(F.col("value"))
    win = e.select(
        "event_id",
        "user_id",
        "us",
        F.count("*").over(w).alias("n_1h"),
        micro_split_total_col(
            F.sum(F.shiftright(m1h, MICRO_SPLIT_SHIFT)).over(w),
            F.sum(m1h.bitwiseAND(F.lit(MICRO_SPLIT_MASK))).over(w),
        ).alias("sum_micro_dec"),
    )
    return win.select(
        "event_id",
        "user_id",
        "n_1h",
        F.col("sum_micro_dec").cast("bigint").alias("sum_micro_1h"),
        F.expr(
            round_micro_ratio_sql(
                "sum_micro_dec", "(n_1h * 1000000)", 1, 4, "div"
            )
        ).alias("avg_1h"),
    )


# ---------------------------------------------------------------------------
# unpivot (melt) — the inverse of q_pivot_events_daily
# ---------------------------------------------------------------------------

_MELT_MEASURES = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@register(
    "q_unpivot_lineitem_measures",
    oracle=f"""
    WITH m AS (
      {" UNION ALL ".join(
          f"SELECT '{c}' AS measure, {c} AS v FROM lineitem"
          for c in _MELT_MEASURES)})
    SELECT measure, COUNT(*) AS n, {_sql_money('v', 'total')}
    FROM m GROUP BY measure
    """,
    tags=("unpivot", "agg"),
)
def q_unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot of the lineitem measures plus a per-measure
    rollup — the melt step feeding generic profiling/metric sinks
    (the inverse shape of the pivot query). Spark's ``stack``
    unpivots in ONE scan of the fact table where the relational
    UNION-ALL form (the oracle) reads it once per measure — at 100 TB
    that is a 4x scan saving for identical results; the aggregate
    stays map-side combinable with exact decimal money sums."""
    t = load_tables(spark, sf_dir)
    n = len(_MELT_MEASURES)
    args = ", ".join(f"'{c}', {c}" for c in _MELT_MEASURES)
    return (
        t["lineitem"]
        .selectExpr(f"stack({n}, {args}) AS (measure, v)")
        .groupBy("measure")
        .agg(
            F.count("*").alias("n"),
            _money(F.col("v"), "total"),
        )
    )


@register(
    "q_cube_order_mix",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
           {_sql_money('o_totalprice', 'total_price')}
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "cube"),
)
def q_cube_order_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority) — every subtotal combination in
    one pass, completing the grouping family beside ROLLUP and
    GROUPING SETS. Catalyst expands to a single Expand + hash
    aggregate (4 grouping sets, one fact scan, map-side combinable);
    never a self-union of per-set aggregates."""
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            _money(F.col("o_totalprice"), "total_price"),
        )
    )


# ---------------------------------------------------------------------------
# cohort retention: weekly activity matrix
# ---------------------------------------------------------------------------

# ONE cohort definition for the whole cohort family
# (events_retention_cohorts and events_cohort_ltv): timed+identified
# events, first-event week as the cohort, integral day-diff div 7 as
# the offset. Extracted so a spelling fix in one twin cannot silently
# de-align the other (the _sig_agree_sql lesson). The CAST is
# load-bearing: DuckDB's date_trunc('week') yields DATE where Spark's
# yields TIMESTAMP; uncast, the cohort column types diverge.
_SQL_COHORT_EV = """
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
"""

_SQL_COHORT_FIRSTS = """firsts AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP)
               AS cohort_w
      FROM ev GROUP BY user_id)"""


def _sql_week_offset(cohort: str, later: str) -> str:
    return f"CAST(date_diff('day', {cohort}, {later}) // 7 AS INT)"


def cohort_ev(events: DataFrame) -> DataFrame:
    """Timed, identified events — the cohort family's shared input
    contract (the Spark twin of _SQL_COHORT_EV)."""
    return events.filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )


def cohort_firsts(ev: DataFrame) -> DataFrame:
    """(user_id, cohort_w) — each user's first-event week (the Spark
    twin of _SQL_COHORT_FIRSTS)."""
    return ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_w")
    )


def _week_offset_col(cohort: str, later: str):
    return F.expr(f"cast(datediff({later}, {cohort}) div 7 as int)")


@register(
    "events_retention_cohorts",
    oracle=f"""
    WITH ev AS ({_SQL_COHORT_EV}),
    {_SQL_COHORT_FIRSTS},
    weeks AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS TIMESTAMP) AS act_w FROM ev
    ), per AS (
      SELECT f.cohort_w AS cohort_week,
             {_sql_week_offset("f.cohort_w", "w.act_w")} AS week_offset,
             COUNT(*) AS n_active
      FROM weeks w JOIN firsts f USING (user_id)
      GROUP BY 1, 2
    ), sized AS (
      SELECT cohort_week, week_offset, n_active,
             FIRST_VALUE(n_active) OVER (
               PARTITION BY cohort_week ORDER BY week_offset) AS cohort_n
      FROM per)
    SELECT cohort_week, week_offset, n_active,
           {round4_frac_sql("n_active", "cohort_n", "//")} AS retention
    FROM sized
    """,
    tags=("events", "window", "cohort"),
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix: users are cohorted by the week
    of their FIRST event; each (cohort_week, week_offset) cell counts
    users from that cohort active that many weeks later, with the
    retention ratio against the cohort size (= the offset-0 cell,
    which every cohort has by construction: a user's first week is an
    active week).

    Shape (measured, not assumed — plan audited this round): the
    distinct exchanges on its full key (user_id, act_w) and the
    first-touch aggregate on user_id — different partitionings, so no
    exchange is shared between them; the equi-join then costs nothing
    extra because the firsts side is |users|-sized and AQE broadcasts
    it. The final (cohort, offset) aggregate and its ordered window
    each exchange over cohort-sized data (weeks², not events) — four
    hash exchanges total, every one over a post-scan relation bounded
    by user-days or smaller. Timeless
    (NULL-ts) events are unbucketable and anonymous (NULL user_id)
    events uncohortable — both excluded by the SAME explicit contract
    on both engines (the events-plane NULL-ordering and equi-join
    lessons; see the dirty-corpus sweep). Retention is rounded through
    the exact integer helper so the .5-boundary reprs cannot diverge.
    """
    ev = cohort_ev(load_tables(spark, sf_dir)["events"])
    firsts = cohort_firsts(ev)
    weeks = ev.select("user_id", F.date_trunc("week", "ts").alias("act_w")).distinct()
    per = (
        weeks.join(firsts, "user_id")
        .select(
            F.col("cohort_w").alias("cohort_week"),
            _week_offset_col("cohort_w", "act_w").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_active"))
    )
    w = Window.partitionBy("cohort_week").orderBy("week_offset")
    return per.select(
        "cohort_week",
        "week_offset",
        "n_active",
        F.first("n_active").over(w).alias("cohort_n"),
    ).select(
        "cohort_week",
        "week_offset",
        "n_active",
        F.expr(round4_frac_sql("n_active", "cohort_n", "div")).alias("retention"),
    )


# ---------------------------------------------------------------------------
# referential-integrity audit
# ---------------------------------------------------------------------------

_FK_CHECKS = (
    # (label, child table, fk column, parent table, pk column)
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
)


def _fk_audit_sql(label: str, child: str, fk: str, parent: str, pk: str) -> str:
    return f"""
    SELECT '{label}' AS fk,
           CAST(SUM(cnt) AS BIGINT) AS n_child,
           CAST(COALESCE(SUM(CASE WHEN ck IS NOT NULL AND pk IS NULL
                                  THEN cnt ELSE 0 END), 0) AS BIGINT)
             AS n_orphan_rows,
           CAST(COALESCE(SUM(CASE WHEN ck IS NOT NULL AND pk IS NULL
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS n_orphan_keys,
           CAST(COALESCE(SUM(CASE WHEN ck IS NULL THEN cnt ELSE 0 END), 0)
                AS BIGINT) AS n_null_fk
    FROM (SELECT {fk} AS ck, COUNT(*) AS cnt FROM {child} GROUP BY {fk}) c
    LEFT JOIN (SELECT {pk} AS pk FROM {parent}) p ON c.ck = p.pk
    """


@register(
    "q_integrity_orphans",
    oracle="\nUNION ALL\n".join(_fk_audit_sql(*chk) for chk in _FK_CHECKS),
    tags=("audit", "join", "quality"),
)
def q_integrity_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over the star schema's four FK
    edges: rows and distinct keys in each child with no matching
    parent, plus NULL-FK rows counted separately (a NULL FK is "no
    parent", not a violation — the equi-join would otherwise silently
    blend it into the orphan count, the funnel NULL-source lesson).

    Scale shape: each child AGGREGATES TO ITS DISTINCT FK KEYS first
    (map-side combinable; keys ≪ rows), so the probe join carries
    (key, count) pairs, never child rows, and orphan ROW counts come
    from summing the carried counts. Parent side prunes to the key
    column only. At 100 TB this is the standard reconciliation audit:
    four independent small joins, unioned driver-side into one result.
    """
    t = load_tables(spark, sf_dir)
    parts = []
    for label, child, fk, parent, pk in _FK_CHECKS:
        g = t[child].groupBy(F.col(fk).alias("ck")).agg(F.count("*").alias("cnt"))
        p = t[parent].select(F.col(pk).alias("pk"))
        j = g.join(p, F.col("ck") == F.col("pk"), "left")
        orphan = F.col("ck").isNotNull() & F.col("pk").isNull()
        parts.append(
            j.agg(
                F.sum("cnt").alias("n_child"),
                F.coalesce(
                    F.sum(F.when(orphan, F.col("cnt")).otherwise(0)), F.lit(0)
                ).alias("n_orphan_rows"),
                F.coalesce(
                    F.sum(F.when(orphan, 1).otherwise(0)), F.lit(0)
                ).alias("n_orphan_keys"),
                F.coalesce(
                    F.sum(F.when(F.col("ck").isNull(), F.col("cnt")).otherwise(0)),
                    F.lit(0),
                ).alias("n_null_fk"),
            ).select(
                F.lit(label).alias("fk"),
                "n_child",
                "n_orphan_rows",
                "n_orphan_keys",
                "n_null_fk",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# exact-integer anomaly detection (3-sigma) per event type
# ---------------------------------------------------------------------------

def _anomaly_displays(intdiv: str, itype: str) -> tuple[str, str]:
    """The mean/variance display fragments, built ONCE and shared by
    the Spark plan and the DuckDB oracle (only the dialect tokens
    differ) so an arithmetic fix can never land on one twin only.
    Every operand of both divisions is promoted to the dialect's wide
    integral type FIRST: the variance denominator n²·10¹² crosses
    2⁶³ at n ≈ 2148 valued rows per group — BIGINT arithmetic there
    RAISES in DuckDB and silently wraps in non-ANSI Spark (sf0.01's
    2006-row groups passed by 8e17 of headroom; sf0.1's would not —
    caught in review before the two-scale-factor preflight)."""
    n = f"CAST(n_valued AS {itype})"
    mean4 = (
        "CASE WHEN n_valued = 0 THEN NULL ELSE "
        f"(CAST({round_div_sql('s1 * 10000', f'{n} * 1000000', intdiv)}"
        " AS DOUBLE) / 10000) END"
    )
    var4 = (
        "CASE WHEN n_valued = 0 THEN NULL ELSE "
        f"(CAST({round_div_sql(f'({n} * s2 - s1 * s1) * 10000', f'{n} * {n} * 1000000000000', intdiv)}"
        " AS DOUBLE) / 10000) END"
    )
    return mean4, var4


def _anomaly_sql(intdiv: str, itype: str) -> str:
    """The 3σ query in one dialect. All moments are exact integers
    over micro-quantized values, so the anomaly VERDICT is an integer
    comparison both engines evaluate identically — a double
    stddev/z-score would disagree in the last ulp and flip boundary
    rows. The test (x−μ)² > 9σ² is cleared of denominators:
    (x·n − S)² > 9·(n·Q − S²) with S = Σx, Q = Σx² in micro-units.
    Exact while the verdict product n·Q < 10³⁸ (≈3·10⁹ rows/group at
    |x|≤10³; at larger group cardinalities quantize coarser)."""
    # The quantized value must live in an INTEGRAL type end-to-end:
    # DuckDB's ``//`` over DECIMAL operands divides at decimal scale
    # (15000.5 survives!) — only HUGEINT operands floor-divide. The
    # events dirty-corpus sweep caught exactly that (+5e-5 on every
    # mean) after an earlier draft left the sums as DECIMAL.
    x = f"CAST({micro_quant_sql('value')} AS {itype})"
    mean4, var4 = _anomaly_displays(intdiv, itype)
    return f"""
    WITH q AS (
      SELECT event_type, {x} AS x FROM events
    ), s AS (
      SELECT event_type, COUNT(*) AS n_events, COUNT(x) AS n_valued,
             SUM(x) AS s1, SUM(x * x) AS s2
      FROM q GROUP BY event_type
    ), flagged AS (
      SELECT s.event_type, s.n_events, s.n_valued, s.s1, s.s2,
             CASE WHEN q.x IS NULL OR s.n_valued < 2 THEN 0
                  WHEN (q.x * s.n_valued - s.s1) * (q.x * s.n_valued - s.s1)
                       > 9 * (s.n_valued * s.s2 - s.s1 * s.s1)
                  THEN 1 ELSE 0 END AS is_anom
      FROM q JOIN s ON q.event_type IS NOT DISTINCT FROM s.event_type
    )
    SELECT event_type, n_events, n_valued,
           {mean4} AS mean_value,
           {var4} AS var_value,
           CAST(SUM(is_anom) AS BIGINT) AS n_anomalies
    FROM flagged
    GROUP BY event_type, n_events, n_valued, s1, s2
    """


def quantize_values(events: DataFrame) -> DataFrame:
    """``events`` plus ``_xq``, the micro-quantized integral value
    (the money-discipline quantization; DECIMAL(38,0) so every
    downstream product stays exact). One definition shared by the
    registered query, the moment cores and the streaming path — the
    anomaly verdict is only engine-stable if every consumer quantizes
    identically. The underscore name is reserved: a caller column
    named plainly ``x`` survives flag_anomalies untouched (an earlier
    draft silently overwrote-and-dropped it)."""
    return events.withColumn(
        "_xq", F.expr(micro_quant_sql("value")).cast("decimal(38,0)")
    )


def moment_partials(events: DataFrame) -> DataFrame:
    """Per-type exact moment partials (n_events, n_valued, S=Σx,
    Q=Σx²) over micro-quantized values — one map-side-combinable
    pass. The partials form a commutative monoid (counts and sums
    ADD), which is the whole scaling story: shards/days/microbatches
    aggregate independently and merge losslessly, so a 100 TB history
    never rescans (cdc_incremental_refresh's pattern, extended to
    second moments — pinned by test_moment_partials_merge_lossless)."""
    return quantize_values(events).groupBy(
        F.col("event_type").alias("s_type")
    ).agg(
        F.count("*").alias("n_events"),
        F.count("_xq").alias("n_valued"),
        F.sum("_xq").alias("s1"),
        F.sum(F.col("_xq") * F.col("_xq")).alias("s2"),
    )


def merge_moment_partials(parts: DataFrame) -> DataFrame:
    """Fold a union of moment-partial tables back into one table per
    type — the merge half of the monoid. Output schema equals
    moment_partials' (sums of DECIMAL(38,0) stay DECIMAL(38,0)), so
    merges compose arbitrarily deep (day→month→corpus)."""
    return parts.groupBy("s_type").agg(
        F.sum("n_events").alias("n_events"),
        F.sum("n_valued").alias("n_valued"),
        F.sum("s1").alias("s1"),
        F.sum("s2").alias("s2"),
    )


def _is_anom_col() -> F.Column:
    """The denominator-cleared integer 3σ verdict over a row joined
    with its type's moments — shared by the registered query and
    flag_anomalies so the two paths cannot drift."""
    dev = F.col("_xq") * F.col("n_valued") - F.col("s1")
    return (
        F.when(F.col("_xq").isNull() | (F.col("n_valued") < 2), 0)
        .when(
            dev * dev
            > 9 * (F.col("n_valued") * F.col("s2") - F.col("s1") * F.col("s1")),
            1,
        )
        .otherwise(0)
    )


def flag_anomalies(events: DataFrame, moments: DataFrame) -> DataFrame:
    """Per-row 3σ verdicts against a (possibly merged, possibly
    historical) moment table: ``events`` columns plus ``is_anom``.
    This is the monitoring deployment shape — moments come from the
    maintained history (merge_moment_partials over stored partials),
    new rows are scored row-local against the broadcast table, so the
    scorer runs on a live stream too (stateless projection after the
    broadcast join; stream==batch pinned). The join is NULL-SAFE on
    event_type: rows of an unseen-in-history type keep is_anom NULL
    (left join) rather than silently vanishing."""
    m = moments.select("s_type", "n_valued", "s1", "s2")
    return (
        quantize_values(events)
        .join(F.broadcast(m), F.col("event_type").eqNullSafe(F.col("s_type")), "left")
        .withColumn(
            "is_anom",
            F.when(F.col("n_valued").isNull(), F.lit(None).cast("int")).otherwise(
                _is_anom_col()
            ),
        )
        .drop("s_type", "n_valued", "s1", "s2", "_xq")
    )


@register(
    "events_anomaly_3sigma",
    oracle=_anomaly_sql("//", "HUGEINT"),
    tags=("events", "stats", "anomaly"),
)
def events_anomaly_3sigma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type 3σ outlier counts with EXACT distributed second
    moments: one map-side-combinable pass computes (n, Σx, Σx²) in
    micro-unit integers, the tiny per-type moment table broadcasts
    back onto the stream, and each row's verdict is the
    denominator-cleared integer test (x·n − S)² > 9·(n·Q − S²) — so
    the flagged SET is engine-identical (a double z-score pipeline
    flips boundary rows per-engine; the mean/variance displays go
    through the exact-integer rounding helpers for the same reason).
    NULL values are counted (n_events vs n_valued) but never flagged,
    and NULL event types survive the moment join — it is null-safe on
    BOTH engines (the funnel equi-join lesson). At 100 TB: partial
    aggregation reduces the scan to ~types rows, the join back is a
    broadcast, and no window ever sorts the fact table."""
    t = load_tables(spark, sf_dir)
    q = quantize_values(t["events"]).select("event_type", "_xq")
    s = moment_partials(t["events"])
    is_anom = _is_anom_col()
    mean_frag, var_frag = _anomaly_displays("div", "DECIMAL(38,0)")
    mean4, var4 = F.expr(mean_frag), F.expr(var_frag)
    return (
        q.join(F.broadcast(s), F.col("event_type").eqNullSafe(F.col("s_type")))
        .groupBy("s_type", "n_events", "n_valued", "s1", "s2")
        .agg(F.sum(is_anom).alias("n_anomalies"))
        .select(
            F.col("s_type").alias("event_type"),
            "n_events",
            "n_valued",
            mean4.alias("mean_value"),
            var4.alias("var_value"),
            "n_anomalies",
        )
    )


# ---------------------------------------------------------------------------
# rolling active users: DAU / trailing-7-day WAU / stickiness
# ---------------------------------------------------------------------------

_WAU_DAYS = 7


@register(
    "events_dau_wau",
    oracle=f"""
    WITH daily AS (
      -- day stays TIMESTAMP on both engines (like the cohort weeks):
      -- Spark DATE surfaces in pandas as datetime.date objects while
      -- DuckDB DATE surfaces as datetime64 (measured on the cohort
      -- query) — a dtype split the value-comparison layer should
      -- never be asked to paper over
      SELECT DISTINCT user_id, CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
             AS TIMESTAMP) AS day
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ), bounds AS (
      SELECT MAX(day) AS hi FROM daily
    ), contrib AS (
      -- each active (user, day) contributes to the trailing window of
      -- the next {_WAU_DAYS} days
      SELECT DISTINCT d.user_id, d.day + INTERVAL (o.i) DAY AS day
      FROM daily d, range(0, {_WAU_DAYS}) o(i)
    ), wau AS (
      SELECT c.day, COUNT(*) AS wau FROM contrib c, bounds b
      WHERE c.day <= b.hi GROUP BY c.day
    ), dau AS (
      SELECT day, COUNT(*) AS dau FROM daily GROUP BY day
    )
    SELECT w.day, COALESCE(d.dau, 0) AS dau, w.wau,
           (CASE WHEN w.wau = 0 THEN NULL ELSE
            {round4_frac_sql("COALESCE(d.dau, 0)", "w.wau", "//")} END)
             AS stickiness
    FROM wau w LEFT JOIN dau d ON w.day = d.day
    """,
    tags=("events", "window", "distinct"),
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    f"""Rolling engagement: daily active users, trailing-{_WAU_DAYS}-day
    weekly actives, and DAU/WAU stickiness per day. A sliding DISTINCT
    cannot ride a window frame (distinct does not decompose over
    frames); the exact scalable form is the explode-into-buckets
    trick: each active (user, day) pair — already collapsed to at most
    one row per user-day — fans out to the {_WAU_DAYS} trailing days
    it supports, and a plain distinct count per target day replaces
    the sliding distinct. Shuffle volume is {_WAU_DAYS}x the user-day
    pairs (bounded, independent of raw event volume); the alternative
    HLL-merge sketch trades exactness for a 1x shuffle — this is the
    exact baseline. Days beyond the corpus horizon are clipped; days
    with a window but no same-day activity keep dau = 0 through the
    LEFT join (never silently dropped). Timeless and anonymous events
    are excluded by the standing contract on both sides."""
    t = load_tables(spark, sf_dir)
    daily = (
        t["events"]
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", F.date_trunc("day", "ts").alias("day"))
        .distinct()
    )
    # ONE pass derives dau, wau AND the stream head (round-8 plan
    # audit: the hi-aggregate / contrib / dau branches each re-planned
    # the corpus distinct — 3 scans per action; no cross-branch
    # reuse). posexplode keeps each contribution's OFFSET, so after
    # collapsing to (user, target day, min offset): a user counts
    # toward dau exactly when some offset-0 contribution exists
    # (min = 0 ⟺ active ON the day), wau is the group count, and the
    # stream head is the latest day with dau > 0 — recovered from the
    # day-cardinality aggregate through one trivial global window,
    # never a second corpus pass.
    contrib = daily.select(
        "user_id",
        F.posexplode(
            F.expr(
                f"sequence(day, day + interval {_WAU_DAYS - 1} day,"
                " interval 1 day)"
            )
        ).alias("pos", "day"),
    )
    g = contrib.groupBy("user_id", "day").agg(F.min("pos").alias("mp"))
    per_day = g.groupBy("day").agg(
        F.count(F.lit(1)).alias("wau"),
        F.sum((F.col("mp") == 0).cast("int")).cast("long").alias("dau"),
    )
    w_all = Window.partitionBy()  # day-cardinality aggregated rows
    return (
        per_day.withColumn(
            "hi", F.max(F.when(F.col("dau") > 0, F.col("day"))).over(w_all)
        )
        .filter(F.col("day") <= F.col("hi"))
        .select(
            "day",
            "dau",
            "wau",
            F.expr(
                "CASE WHEN wau = 0 THEN NULL ELSE "
                + round4_frac_sql("dau", "wau", "div")
                + " END"
            ).alias("stickiness"),
        )
    )


# ---------------------------------------------------------------------------
# burst suppression (debounce / gap-thinning)
# ---------------------------------------------------------------------------

_DEBOUNCE_US = 3_600_000_000  # same-(user,type) events within 1h form a burst


def burst_flag_stage(events: DataFrame, threshold_us: int = _DEBOUNCE_US) -> DataFrame:
    """(user_id, event_type, ts, us, event_id, is_start) — each timed
    event flagged 1 iff it STARTS a burst (gap > threshold from the
    previous RAW same-key event; LAG over exact epoch-microseconds,
    explicit NULLS LAST tiebreak). Shared by the registered
    events_debounce aggregate and :func:`debounce_starters`, the
    batch twin the streaming thinner is pinned against.

    The input projection matches streaming/gate.py's canonical_events
    norms, so the twins agree on dirty input, not just the typed
    fixtures: the timeless filter is try_cast-based
    (an unparseable string ts is excluded like a NULL instead of
    throwing under ANSI / sorting NULLS-FIRST non-ANSI), and ids
    normalize to bigint so the tiebreak is numeric, never
    lexicographic. On the typed events table every one of these is a
    no-op (ts is already ntz, ids already bigint) — fixture plans and
    oracle parity are unchanged."""
    e = events.filter(
        F.col("ts").try_cast("timestamp_ntz").isNotNull()
    ).select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
        "event_type",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
    )
    order = [F.col("us").asc(), F.col("event_id").asc_nulls_last()]
    w = Window.partitionBy("user_id", "event_type").orderBy(*order)
    lag_us = F.lag("us").over(w)
    return e.select(
        "user_id",
        "event_type",
        "ts",
        "us",
        "event_id",
        (lag_us.isNull() | (F.col("us") - lag_us > threshold_us))
        .cast("long")
        .alias("is_start"),
    )


def debounce_starters(events: DataFrame, threshold_us: int = _DEBOUNCE_US) -> DataFrame:
    """The kept (burst-starting) events themselves — what a thinning
    stage forwards downstream. Batch twin of streaming/gate.py's
    debounce_stream (stream==batch pinned on an ordered replay in
    tests/test_thin.py)."""
    return (
        burst_flag_stage(events, threshold_us)
        .filter(F.col("is_start") == 1)
        .select("event_id", "user_id", "event_type", "ts")
    )


@register(
    "events_debounce",
    oracle=f"""
    WITH e AS (
      SELECT event_id, user_id, event_type,
             CAST(ts AS TIMESTAMP) AS ts,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events WHERE ts IS NOT NULL),
    s AS (
      SELECT user_id, event_type, ts, us, event_id,
             CASE WHEN LAG(us) OVER w IS NULL
                    OR us - LAG(us) OVER w > {_DEBOUNCE_US}
                  THEN 1 ELSE 0 END AS is_start
      FROM e
      WINDOW w AS (PARTITION BY user_id, event_type
                   ORDER BY us ASC, event_id ASC NULLS LAST)),
    b AS (
      SELECT user_id, event_type, ts,
             CAST(SUM(is_start) OVER (
               PARTITION BY user_id, event_type
               ORDER BY us ASC, event_id ASC NULLS LAST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS burst_seq
      FROM s)
    SELECT user_id, event_type, burst_seq,
           MIN(ts) AS burst_start,
           CAST(COUNT(*) AS BIGINT) AS burst_n,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_suppressed
    FROM b
    GROUP BY user_id, event_type, burst_seq
    """,
    tags=("events", "window", "dedup", "timeseries"),
)
def events_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst suppression (telemetry debounce): collapse each maximal
    chain of same-(user, type) events with inter-arrival <= 1h into
    one row carrying the burst's start and its suppressed-event count
    — the retry-storm / double-click / sensor-chatter thinning stage
    every event pipeline runs before rate metrics.

    A burst BOUNDARY is a gap > threshold from the PREVIOUS RAW event
    (LAG over exact epoch-microsecond integers); the running sum of
    boundary flags numbers the bursts, and a per-burst aggregate
    folds each chain. Timeless events are excluded by the ts IS NOT
    NULL contract on BOTH sides (a NULL order key would land in
    engine-specific NULL-ordering frames), and the intra-burst order
    tiebreak (event_id ASC NULLS LAST) is explicit because the
    engines default ASC NULL placement differently.

    Scale shape: ONE exchange on (user_id, event_type) serves the two
    stacked window passes AND the burst aggregate (the group keys
    refine the partition keys, so EnsureRequirements adds no second
    shuffle — plan-pinned); everything after the shuffle is a linear
    per-partition scan. At 100 TB this is the minimal topology for
    any per-entity sequential pass."""
    t = load_tables(spark, sf_dir)
    s = burst_flag_stage(t["events"])
    order = [F.col("us").asc(), F.col("event_id").asc_nulls_last()]
    w = Window.partitionBy("user_id", "event_type").orderBy(*order)
    b = s.select(
        "user_id",
        "event_type",
        "ts",
        F.sum("is_start")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("burst_seq"),
    )
    return b.groupBy("user_id", "event_type", "burst_seq").agg(
        F.min("ts").alias("burst_start"),
        F.count("*").alias("burst_n"),
        (F.count("*") - 1).alias("n_suppressed"),
    )


# ---------------------------------------------------------------------------
# heavy hitters (Misra-Gries mergeable summary, oracle-checked claim)
# ---------------------------------------------------------------------------

_MG_K = 4  # counters — fewer than the distinct event types, so
# partition-local evictions really happen; threshold = n/(k+1)


@register(
    "events_heavy_hitters",
    oracle=f"""
    WITH c AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM events GROUP BY event_type),
    t AS (SELECT COUNT(*) AS n FROM events)
    SELECT event_type, exact_cnt, TRUE AS in_summary
    FROM c, t WHERE {_MG_K + 1} * exact_cnt > n
    """,
    tags=("events", "sketch", "heavy-hitters", "check"),
)
def events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters over event_type through a Misra-Gries summary
    (operators/heavyhitters.py), stated as an oracle-checkable claim:
    every type with true count > n/(k+1) MUST appear in the merged
    k-counter summary — the PODS'12 mergeable-summary deficit bound,
    which holds for every partitioning Spark picks, so ``in_summary``
    is deterministically TRUE even though the summary's full contents
    are not deterministic. The exact side (counts, total, threshold)
    is plain SQL both engines verify value-for-value; a BUGGY sketch
    (lost counter, broken merge) surfaces as in_summary=false and a
    hash mismatch. k=4 sits BELOW the corpus's 5 distinct types, so
    real evictions occur inside partitions and the bound is earned,
    not vacuous.

    Scale shape: the sketch pass is one mapInPandas emitting k rows
    per partition + a few-KB constant-group merge; the exact side is
    one groupBy on a low-cardinality key plus a broadcast one-row
    total. The membership probe broadcasts the <=k summary rows and
    joins NULL-safely (a NULL event type is a legal heavy item)."""
    from ..operators.heavyhitters import mg_summary

    ev = load_tables(spark, sf_dir)["events"]
    summ = mg_summary(scale_out(ev), "event_type", _MG_K).select(
        F.col("event_type").alias("mg_item"), F.lit(True).alias("in_mg")
    )
    exact = ev.groupBy("event_type").agg(F.count("*").alias("exact_cnt"))
    total = ev.agg(F.count("*").alias("n"))
    heavy = exact.crossJoin(F.broadcast(total)).filter(
        F.col("exact_cnt") * (_MG_K + 1) > F.col("n")
    )
    return (
        heavy.join(
            F.broadcast(summ),
            F.col("event_type").eqNullSafe(F.col("mg_item")),
            "left",
        )
        .select(
            "event_type",
            "exact_cnt",
            F.coalesce(F.col("in_mg"), F.lit(False)).alias("in_summary"),
        )
    )


@register(
    "q_supplier_balance_rank_profile",
    oracle="""
    SELECT n.n_name, s.s_suppkey, s.s_acctbal,
           CAST(rank() OVER w AS BIGINT) AS bal_rank,
           CAST(dense_rank() OVER w AS BIGINT) AS bal_dense_rank,
           percent_rank() OVER w AS bal_pct_rank,
           cume_dist() OVER w AS bal_cume_dist
    FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
    WINDOW w AS (PARTITION BY n.n_name ORDER BY s.s_acctbal DESC)
    """,
    tags=("window", "rank"),
)
def q_supplier_balance_rank_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation supplier balance profile through the full ranking
    family — rank, dense_rank, percent_rank, cume_dist — the four
    rank-based window functions no other catalog query exercises.
    All four are TIE-INVARIANT (they depend on the order KEY, not
    the physical row order), so the output is deterministic without
    a tiebreak column, and both engines define the edges identically
    (single-row partition: percent_rank 0.0, cume_dist 1.0; the
    percent_rank quotient divides the same integers, so the doubles
    are bit-identical). DESC ordering keeps any NULL balance in the
    engines' SHARED NULL position (both place NULLS LAST on DESC).

    Scale shape: nation broadcast onto the supplier scan, one
    exchange on the partition key, one sort, four functions in ONE
    Window node."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("n_name").orderBy(F.col("s_acctbal").desc())
    return (
        t["supplier"]
        .join(
            F.broadcast(t["nation"]),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .select(
            "n_name",
            "s_suppkey",
            "s_acctbal",
            F.rank().over(w).cast("bigint").alias("bal_rank"),
            F.dense_rank().over(w).cast("bigint").alias("bal_dense_rank"),
            F.percent_rank().over(w).alias("bal_pct_rank"),
            F.cume_dist().over(w).alias("bal_cume_dist"),
        )
    )


# ---------------------------------------------------------------------------
# declarative data-quality audit (Deequ-style, one pass per table)
# ---------------------------------------------------------------------------

def _audit_checks():
    """The constraint sets for the catalog audit, built once so the
    Spark plan and the DuckDB oracle derive from the SAME Check lists
    (operators/audit.py shares each violation expression verbatim
    across the dialects). Two constraints fail on the synthetic data
    by design — (l_orderkey, l_linenumber) is NOT unique in the
    fixture, and orders extend past the 1998 freshness bound — so the
    audit's pass AND fail paths are both driver-verified."""
    from ..operators.audit import Check, in_range, in_set, not_null, unique_key

    li = [
        unique_key("l_orderkey", "l_linenumber"),
        not_null("l_shipdate"),
        in_range("l_quantity", 1, 50),
        in_range("l_discount", 0, 0.1),
        in_range("l_tax", 0, 0.08),
        in_set("l_returnflag", ("A", "N", "R")),
        in_set("l_linestatus", ("F", "O")),
        Check(
            "positive(l_extendedprice)",
            "(l_extendedprice IS NULL OR l_extendedprice <= 0)",
        ),
    ]
    od = [
        unique_key("o_orderkey"),
        not_null("o_custkey"),
        in_set("o_orderstatus", ("F", "O", "P")),
        Check(
            "positive(o_totalprice)",
            "(o_totalprice IS NULL OR o_totalprice <= 0)",
        ),
        # bare STRING bounds, not TIMESTAMP literals: Spark coerces a
        # string against the TIMESTAMP_NTZ parquet column with no
        # session-zone shift (a TIMESTAMP literal is LTZ and would
        # move the bound with the zone), and DuckDB casts the varchar
        # to its naive TIMESTAMP — the one spelling both engines read
        # zone-independently (probed; review pass 1)
        in_range(
            "o_orderdate",
            "'1995-01-01 00:00:00'",
            "'1998-12-31 23:59:59'",
        ),
    ]
    return li, od


def _audit_oracle() -> str:
    from ..operators.audit import audit_oracle_sql

    li, od = _audit_checks()
    # each side is a full WITH...SELECT — parenthesize into derived
    # tables so the UNION ALL parses (a bare `SELECT ... UNION ALL
    # WITH ...` is a syntax error)
    return (
        f"SELECT * FROM ({audit_oracle_sql('lineitem', li)}) AS li_audit"
        "\n    UNION ALL\n"
        f"SELECT * FROM ({audit_oracle_sql('orders', od)}) AS od_audit"
    )


@register(
    "q_data_quality_audit",
    oracle=_audit_oracle(),
    tags=("audit", "quality", "constraints"),
)
def q_data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint audit over lineitem + orders: thirteen
    completeness / uniqueness / range / domain rules evaluated as ONE
    aggregate per table (operators/audit.py — every row rule is a
    conditional count in the same agg; uniqueness rides the same pass
    as a distinct-struct count; per-rule rows come from ``stack``
    over the single aggregate row, never a per-rule UNION re-scan).

    The reference has no audit plane; this is the ingest-trust gate a
    100 TB pipeline runs before a snapshot is promoted — cost is one
    scan per table regardless of rule count, all counts map-side
    combinable."""
    from ..operators.audit import audit

    t = load_tables(spark, sf_dir)
    li, od = _audit_checks()
    return audit(t["lineitem"], "lineitem", li).unionByName(
        audit(t["orders"], "orders", od)
    )


# ---------------------------------------------------------------------------
# frame-based navigation window functions
# ---------------------------------------------------------------------------

@register(
    "q_order_price_navigation",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           first_value(o_totalprice) OVER w AS first_price,
           last_value(o_totalprice) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS last_price,
           nth_value(o_totalprice, 2) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS second_price,
           lag(o_totalprice) OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           CAST((epoch_us(o_orderdate)
                 - lag(epoch_us(o_orderdate)) OVER w) // 86400000000
                AS BIGINT) AS days_since_prev
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("window", "navigation"),
)
def q_order_price_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation/frame window functions over each customer's order
    history: first / last / second order price (full-partition ROWS
    frame — last_value under the DEFAULT frame would be the running
    row itself, a classic frame bug both engines share, so the frame
    is explicit), previous/next price, and whole days since the
    previous order (integer epoch arithmetic — no calendar-boundary
    semantics to disagree on). (o_orderdate, o_orderkey) is a total
    order per partition (o_orderkey unique), so every value is
    deterministic; prices are COPIED doubles (no arithmetic), hence
    bit-identical across engines.

    Covers first_value / last_value / nth_value — the navigation
    family no other catalog query exercises. One exchange on
    o_custkey, one sort, all functions in one Window node."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    # parquet timestamps load as TIMESTAMP_NTZ; unix_micros wants
    # TIMESTAMP — the cast is the house idiom (events_trailing_1h),
    # and any session-zone offset it introduces cancels in the diff
    ep = F.expr("unix_micros(cast(o_orderdate as timestamp))")
    return (
        t["orders"]
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.first("o_totalprice").over(wf).alias("first_price"),
            F.last("o_totalprice").over(wf).alias("last_price"),
            F.nth_value("o_totalprice", 2).over(wf).alias("second_price"),
            F.lag("o_totalprice").over(w).alias("prev_price"),
            F.lead("o_totalprice").over(w).alias("next_price"),
            # INTEGRAL division below (`div`), not double-divide-and-
            # cast: a double quotient a hair under an integer can
            # round UP to it, while DuckDB's `//` floors — the two
            # would disagree exactly on near-boundary diffs.
            (ep - F.lag(ep).over(w)).alias("_diff_us"),
        )
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            "first_price",
            "last_price",
            "second_price",
            "prev_price",
            "next_price",
            F.expr("_diff_us div 86400000000")
            .cast("bigint")
            .alias("days_since_prev"),
        )
    )


# ---------------------------------------------------------------------------
# click -> purchase conversion lag
# ---------------------------------------------------------------------------

@register(
    "events_conversion_lag",
    oracle="""
    WITH ev AS (
      SELECT event_id, user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
        AND event_type IN ('click', 'purchase')),
    lagged AS (
      SELECT event_type, us,
             MAX(CASE WHEN event_type = 'click' THEN us END)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS UNBOUNDED PRECEDING) AS last_click_us
      FROM ev),
    scored AS (
      SELECT event_type,
             CASE WHEN event_type = 'purchase'
                   AND last_click_us IS NOT NULL
                  THEN (us - last_click_us) // 1000000 END AS lag_s
      FROM lagged)
    SELECT CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchases,
           CAST(COUNT(lag_s) AS BIGINT) AS n_converted,
           CAST(quantile_cont(lag_s, 0.25) AS DOUBLE) AS lag_p25_s,
           CAST(quantile_cont(lag_s, 0.50) AS DOUBLE) AS lag_p50_s,
           CAST(quantile_cont(lag_s, 0.75) AS DOUBLE) AS lag_p75_s,
           CAST(MAX(lag_s) AS BIGINT) AS lag_max_s
    FROM scored
    """,
    tags=("events", "funnel", "asof", "percentile"),
)
def events_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click-to-purchase conversion latency: for every purchase, the
    lag to that user's most recent PRECEDING click (as-of semantics
    via one running MAX over the per-user timeline — no join), then
    the exact lag quartiles in whole seconds. "Preceding" means
    earlier in the total (ts, event_id) order, so ties are
    deterministic; the timeless-event contract applies uniformly
    (NULL ts or NULL user_id rows join nothing on EITHER side — the
    divergence class the dirty-events campaign found in asof/
    sessionize). Lag seconds are integral (floor-divided micros), so
    interpolated quartiles land on exact .25 steps in both engines
    (same argument as q_quantity_quartiles).

    Scale shape: one filtered scan, one user-keyed exchange for the
    window, then a single global aggregate over purchase rows only.
    The exact global percentile collects the converted-lag multiset
    into one buffer — at 100 TB swap to approx_percentile, the same
    trade q_quantity_quartiles documents."""
    ev = (
        load_tables(spark, sf_dir)["events"]
        .filter(
            F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_type").isin("click", "purchase")
        )
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lagged = ev.select(
        "event_type",
        "us",
        F.max(
            F.when(F.col("event_type") == "click", F.col("us"))
        ).over(w).alias("last_click_us"),
    )
    scored = lagged.select(
        "event_type",
        F.when(
            (F.col("event_type") == "purchase")
            & F.col("last_click_us").isNotNull(),
            F.expr("(us - last_click_us) div 1000000"),
        ).alias("lag_s"),
    )
    return scored.agg(
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("long")
        .alias("n_purchases"),
        F.count("lag_s").cast("long").alias("n_converted"),
        F.expr("CAST(percentile(lag_s, 0.25) AS DOUBLE)").alias("lag_p25_s"),
        F.expr("CAST(percentile(lag_s, 0.50) AS DOUBLE)").alias("lag_p50_s"),
        F.expr("CAST(percentile(lag_s, 0.75) AS DOUBLE)").alias("lag_p75_s"),
        F.max("lag_s").cast("long").alias("lag_max_s"),
    )


# ---------------------------------------------------------------------------
# event-type transition matrix
# ---------------------------------------------------------------------------

@register(
    "events_markov_transitions",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
        AND event_type IS NOT NULL),
    seq AS (
      SELECT event_type AS src,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY us, event_id) AS dst
      FROM ev),
    counts AS (
      SELECT src, dst, COUNT(*) AS n_transitions
      FROM seq WHERE dst IS NOT NULL GROUP BY src, dst),
    tot AS (
      SELECT src, dst, n_transitions,
             SUM(n_transitions) OVER (PARTITION BY src) AS n_from_src
      FROM counts)
    SELECT src, dst, CAST(n_transitions AS BIGINT) AS n_transitions,
           {round4_frac_sql('n_transitions', 'n_from_src', '//')} AS share
    FROM tot
    """,
    tags=("events", "window", "markov"),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral transition matrix: for each user's
    event stream in (ts, event_id) order, count src -> dst event-type
    bigrams and each destination's share of all transitions OUT of
    src (the empirical Markov row, exactly rounded integer ratio —
    round4_frac never lets a raw double cross the engine boundary).
    The timeless/anonymous/untyped contract applies up front: a row
    missing ts, user_id, or event_type neither emits nor receives a
    transition on either engine.

    Scale shape: one user-keyed exchange for the LEAD window, then
    (src, dst) counts map-side combine into at most |types|^2 rows;
    the share window runs over that tiny matrix. The per-user
    sequence never materializes beyond the window sort."""
    ev = (
        load_tables(spark, sf_dir)["events"]
        .filter(
            F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select(
            "user_id",
            "event_id",
            F.col("event_type").alias("src"),
            F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seq = ev.select("src", F.lead("src").over(w).alias("dst"))
    counts = (
        seq.filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
    )
    tot = counts.withColumn(
        "n_from_src", F.sum("n_transitions").over(Window.partitionBy("src"))
    )
    return tot.select(
        "src",
        "dst",
        "n_transitions",
        F.expr(round4_frac_sql("n_transitions", "n_from_src", "div")).alias(
            "share"
        ),
    )


# ---------------------------------------------------------------------------
# event-mix drift between stream halves
# ---------------------------------------------------------------------------

@register(
    "events_type_drift",
    oracle=f"""
    WITH ev AS (
      SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events WHERE ts IS NOT NULL),
    b AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM ev),
    counts AS (
      SELECT event_type,
             SUM(CASE WHEN us < (SELECT mid FROM b) THEN 1 ELSE 0 END)
               AS n_first,
             SUM(CASE WHEN us >= (SELECT mid FROM b) THEN 1 ELSE 0 END)
               AS n_second
      FROM ev GROUP BY event_type),
    tot AS (
      SELECT event_type, n_first, n_second,
             SUM(n_first) OVER () AS na, SUM(n_second) OVER () AS nb
      FROM counts)
    SELECT event_type,
           CAST(n_first AS BIGINT) AS n_first,
           CAST(n_second AS BIGINT) AS n_second,
           CASE WHEN na = 0 THEN NULL
                ELSE {round4_frac_sql('n_first', 'na', '//')} END
             AS share_first,
           CASE WHEN nb = 0 THEN NULL
                ELSE {round4_frac_sql('n_second', 'nb', '//')} END
             AS share_second,
           CAST(CASE WHEN ABS(CAST(n_first AS HUGEINT) * nb
                              - CAST(n_second AS HUGEINT) * na) * 100
                          > CAST(na AS HUGEINT) * nb
                     THEN 1 ELSE 0 END AS INT) AS drifted
    FROM tot
    """,
    tags=("events", "drift", "monitoring"),
)
def events_type_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between the first and second half of the
    stream (split at the midpoint of the observed time range): per
    event type, the count and share in each half plus a drift flag
    for |share_first - share_second| > 1%. The inequality is decided
    by exact integer cross-multiplication (|n_first*nb - n_second*na|
    * 100 > na*nb) — no division, no epsilon, engines cannot disagree
    at the boundary. Timeless rows are excluded up front; an untyped
    event drifts as its own NULL category rather than vanishing.

    The monitoring twin of events_anomaly_3sigma: that one scores
    points against a global baseline, this one compares two
    distributions — the check a training pipeline runs between
    ingest snapshots before mixing them.

    Scale shape: one scan for the (min, max) bounds (2-value
    broadcast), one scan into map-side-combinable per-type halves
    counts, and the share/drift window runs over the <=|types| row
    matrix in a single trivial partition."""
    ev = (
        load_tables(spark, sf_dir)["events"]
        .filter(F.col("ts").isNotNull())
        .select(
            "event_type",
            F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        )
    )
    bounds = ev.agg(
        F.expr("(min(us) + max(us)) div 2").alias("mid")
    )
    counts = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("event_type")
        .agg(
            F.sum((F.col("us") < F.col("mid")).cast("int"))
            .cast("long")
            .alias("n_first"),
            F.sum((F.col("us") >= F.col("mid")).cast("int"))
            .cast("long")
            .alias("n_second"),
        )
    )
    w_all = Window.partitionBy()  # <=|types| aggregated rows
    tot = counts.select(
        "event_type",
        "n_first",
        "n_second",
        F.sum("n_first").over(w_all).alias("na"),
        F.sum("n_second").over(w_all).alias("nb"),
    )
    return tot.select(
        "event_type",
        "n_first",
        "n_second",
        F.when(
            F.col("na") == 0, F.lit(None).cast("double")
        ).otherwise(
            F.expr(round4_frac_sql("n_first", "na", "div"))
        ).alias("share_first"),
        F.when(
            F.col("nb") == 0, F.lit(None).cast("double")
        ).otherwise(
            F.expr(round4_frac_sql("n_second", "nb", "div"))
        ).alias("share_second"),
        # cross-products in the WIDE integer domain (HUGEINT / capped
        # DECIMAL(38,0)): count*count overflows BIGINT near 2^32 rows
        # per half — exactly the 100 TB posture — where ANSI Spark
        # would throw and non-ANSI would silently wrap (review pass 2)
        F.when(
            F.expr(
                "abs(cast(n_first as decimal(38,0)) * nb"
                " - cast(n_second as decimal(38,0)) * na) * 100"
                " > cast(na as decimal(38,0)) * nb"
            ),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("drifted"),
    )


# ---------------------------------------------------------------------------
# interval-overlap join: error blast radius
# ---------------------------------------------------------------------------

_ERR_WINDOW_US = 3_600_000_000  # 1 h impact window per error
_DAY_US = 86_400_000_000


@register(
    "events_error_impact",
    oracle=f"""
    WITH ev AS (
      SELECT event_id, user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        AND event_id IS NOT NULL),
    act AS (
      SELECT user_id, MIN(us) AS a_start, MAX(us) AS a_end
      FROM ev GROUP BY user_id, us // {_DAY_US}),
    err AS (
      SELECT event_id AS error_id, user_id AS err_user, us AS w_start,
             us + {_ERR_WINDOW_US} AS w_end
      FROM ev WHERE event_type = 'error')
    SELECT error_id,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_affected_users
    FROM err LEFT JOIN act
      ON a_start <= w_end AND w_start <= a_end AND user_id <> err_user
    GROUP BY error_id
    """,
    tags=("events", "interval", "join"),
)
def events_error_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error blast radius: for each error's 1-hour impact window,
    the count of DISTINCT other users whose per-day activity span
    [first event, last event] overlaps the window (errors with no
    overlap report 0). The DuckDB oracle states the naive theta-join
    semantics, so the gate verifies this plan computes exactly that.

    Round 11 replaced the pair-enumerating interval join with
    ENDPOINT COUNTING (guide §1.1 first-principles): the old form
    materialized every (error, overlapping-span) pair — 10.2M rows at
    sf0.1, Ω(answer size) at any scale — only to count_distinct them
    away (2.65 s of the query's 2.9 s). But a distinct-user COUNT
    needs no pairs: activity spans lie inside single days, a 1-hour
    window [ws, we] touches at most days d1 = day(ws) and
    d2 = day(we), and with the window a divisor of the day every
    boundary count splits into a dense per-hour prefix (the 24-row
    per-active-day grid) plus a one-hour refinement join:

      A2 = |{spans on d2: a_start <= we}|  (hour prefix + refine)
      E  = |{spans on d1: a_end  <  ws}|   (hour prefix + refine)
      same-day:  n = A2 - E - 1            (the self span always
                                            overlaps; the oracle's
                                            user_id <> err_user
                                            removes exactly one
                                            distinct user)
      midnight:  n = (N_d1 - E) + A2 - B - 1, with B = users counted
                 on BOTH days — exactly the spans ending in d1's last
                 hour whose user also starts in d2's first hour.

    Every shuffle is equi-keyed and tiny (hour ids, error ids); the
    only pair-like work is the in-hour refinement, whose fanout is
    (spans per hour) x (errors per hour) feeding a map-side count —
    never the full overlap set. Interleaved A/B at sf0.1: 0.85/1.02 s
    vs 2.90/3.21 s (min/med), outputs bit-identical for all 19,810
    errors including midnight-crossing (~4.2%) and lonely-error edges.

    Per-event counting is per-ERROR-ID counting only while each id
    maps to one (window, user) — true of the corpus (event_id is the
    generator PK) but not of adversarial inputs, and the declared
    contract (planted-semantics pin) keeps the oracle's GROUP BY
    union for duplicated ids. Ids with >1 distinct (window, user)
    are therefore routed to the original bucketed-interval-join pair
    path (operators/intervals — still a real equi-join, no
    CartesianProduct/BNLJ) whose count_distinct IS set union; that
    branch is empty at every real SF, costing one empty-side join
    that AQE collapses. Timeless/anonymous/NULL-id rows participate
    on NEITHER side (the asof/sessionize dirty-corpus contract).
    Self-impact is excluded by user identity on both branches.

    Scale shape, disclosed: Spark plans each counting branch as its
    own subtree, so the declarative form re-derives act/err per
    branch — 21 narrow projected scans of events in the static plan
    (each feeds a map-side aggregate; every shuffle stays KB-sized;
    the duplicated-id branch's aggregation/explode/exchange inputs
    are day-prefiltered to the dup set, i.e. empty on real corpora)
    versus 3 scans + the Ω(pairs) exchange before. Persisting the two
    proxies was implemented and MEASURED SLOWER same-session (2.99 s
    vs 1.70 s min — the in-memory-columnar read/build tax exceeds
    re-deriving tiny aggregates from parquet; same lesson as the
    round-11 quantized-embeddings cache revert). At true 100 TB the
    production form writes act/err out once and counts over the
    materialized proxies (guide §8 step 1) — a deployment choice the
    bench contract (compute-from-parquet per run) deliberately does
    not exercise."""
    from ..operators.intervals import bucketed_interval_join

    ev = (
        load_tables(spark, sf_dir)["events"]
        .filter(
            F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_id").isNotNull()
        )
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        )
    )
    act = ev.groupBy(
        "user_id", F.expr(f"us div {_DAY_US}").alias("day")
    ).agg(F.min("us").alias("a_start"), F.max("us").alias("a_end"))
    w_us = _ERR_WINDOW_US
    # distinct error EVENTS (identical (id, user, window) rows are
    # one), with the derived day/hour keys. The composite key
    # (error_id, err_user, ws) identifies an event even when ids are
    # duplicated, so the counting machinery below never needs the
    # dup test — only the final split does, via one tiny broadcast.
    err = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("err_user"),
            F.col("us").alias("ws"),
        )
        .distinct()
        .select(
            "error_id",
            "err_user",
            "ws",
            (F.col("ws") + w_us).alias("we"),
            F.expr(f"ws div {_DAY_US}").alias("d1"),
            F.expr(f"(ws + {w_us}) div {_DAY_US}").alias("d2"),
            F.expr(f"ws div {w_us}").alias("hws"),
            F.expr(f"(ws + {w_us}) div {w_us}").alias("hwe"),
        )
    )
    _KEY = ["error_id", "err_user", "ws"]
    dup_ids = (
        err.groupBy("error_id")
        .agg(F.count(F.lit(1)).alias("n_ev"))
        .filter(F.col("n_ev") > 1)
        .select("error_id")
    )

    # --- counting branch (all real data) -------------------------------
    # dense per-active-day 24-hour grid with exclusive within-day
    # prefix sums of span-start / span-end counts per hour (H = global
    # hour id); a day with no activity has no spans to count.
    grid = (
        act.select("day")
        .distinct()
        .select("day", F.explode(F.expr("sequence(0, 23)")).alias("h"))
        .select("day", (F.col("day") * 24 + F.col("h")).alias("H"))
    )
    cnt_s = act.groupBy(F.expr(f"a_start div {w_us}").alias("H")).agg(
        F.count(F.lit(1)).alias("cs")
    )
    cnt_e = act.groupBy(F.expr(f"a_end div {w_us}").alias("H")).agg(
        F.count(F.lit(1)).alias("ce")
    )
    w_day = (
        Window.partitionBy("day")
        .orderBy("H")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = (
        grid.join(cnt_s, "H", "left")
        .join(cnt_e, "H", "left")
        .select(
            "H",
            F.coalesce(F.sum("cs").over(w_day), F.lit(0)).alias("off_s"),
            F.coalesce(F.sum("ce").over(w_day), F.lit(0)).alias("off_e"),
        )
    )
    n_day = act.groupBy("day").agg(F.count(F.lit(1)).alias("nd"))

    # in-hour refinements: the only span×error contact, bounded per hour
    refine_s = (
        act.select(F.expr(f"a_start div {w_us}").alias("hs"), "a_start")
        .join(
            err.select(*_KEY, "hwe", "we"), F.col("hs") == F.col("hwe")
        )
        .filter(F.col("a_start") <= F.col("we"))
        .groupBy(*_KEY)
        .agg(F.count(F.lit(1)).alias("rs"))
    )
    refine_e = (
        act.select(F.expr(f"a_end div {w_us}").alias("he"), "a_end")
        .join(
            err.select(*_KEY, "hws"), F.col("he") == F.col("hws")
        )
        .filter(F.col("a_end") < F.col("ws"))
        .groupBy(*_KEY)
        .agg(F.count(F.lit(1)).alias("re"))
    )

    # B: users active on both sides of the midnight a window crosses —
    # necessarily ending in d1's last hour and starting in d2's first
    last_h = act.filter(
        F.expr(f"a_end div {w_us} = (day + 1) * 24 - 1")
    ).select("user_id", "day", "a_end")
    first_h = act.filter(F.expr(f"a_start div {w_us} = day * 24")).select(
        F.col("user_id").alias("user2"),
        (F.col("day") - 1).alias("dprev"),
        F.col("a_start").alias("s2"),
    )
    both = last_h.join(
        first_h,
        (F.col("user_id") == F.col("user2")) & (F.col("day") == F.col("dprev")),
    ).select("day", F.col("a_end").alias("e1"), "s2")
    b_cnt = (
        both.join(
            err.filter(F.col("d2") > F.col("d1")).select(
                *_KEY, F.col("d1").alias("bd"), "we"
            ),
            F.col("day") == F.col("bd"),
        )
        .filter((F.col("e1") >= F.col("ws")) & (F.col("s2") <= F.col("we")))
        .groupBy(*_KEY)
        .agg(F.count(F.lit(1)).alias("b"))
    )

    joined = (
        err.join(
            F.broadcast(offs.select(F.col("H").alias("hwe"), "off_s")),
            "hwe",
            "left",
        )
        .join(
            F.broadcast(offs.select(F.col("H").alias("hws"), "off_e")),
            "hws",
            "left",
        )
        .join(refine_s, _KEY, "left")
        .join(refine_e, _KEY, "left")
        .join(F.broadcast(n_day.withColumnRenamed("day", "d1")), "d1", "left")
        .join(b_cnt, _KEY, "left")
    )
    a2 = F.coalesce("off_s", F.lit(0)) + F.coalesce("rs", F.lit(0))
    e_ = F.coalesce("off_e", F.lit(0)) + F.coalesce("re", F.lit(0))
    n = (
        a2
        - e_
        - 1
        + F.when(
            F.col("d2") > F.col("d1"),
            F.coalesce("nd", F.lit(0)) - F.coalesce("b", F.lit(0)),
        ).otherwise(F.lit(0))
    )
    out_simple = joined.select(
        "error_id", n.cast("long").alias("n_affected_users")
    ).join(F.broadcast(dup_ids), "error_id", "left_anti")

    # --- duplicated-id branch (empty on real corpora) ------------------
    err_d = err.join(F.broadcast(dup_ids), "error_id", "left_semi").select(
        "error_id", "err_user", F.col("ws").alias("w_start"),
        F.col("we").alias("w_end"), "d1", "d2",
    )
    # The pair path only needs spans on a day some DUPLICATED window
    # touches (spans lie within days; a window touches d1/d2 only), so
    # its activity side rebuilds from events prefiltered by that tiny
    # broadcast day set: with zero duplicated ids (every real corpus)
    # the groupBy + bucket-explode + exchange under the interval join
    # run on ZERO rows instead of the full corpus. Lossless for real
    # duplicates — any span pairable with a window lies on that
    # window's d1 or d2, hence in dup_days.
    dup_days = err_d.select(
        F.explode(F.array("d1", "d2")).alias("day")
    ).distinct()
    act_d = (
        ev.join(
            F.broadcast(dup_days),
            F.expr(f"us div {_DAY_US}") == F.col("day"),
            "left_semi",
        )
        .groupBy("user_id", F.expr(f"us div {_DAY_US}").alias("day"))
        .agg(F.min("us").alias("a_start"), F.max("us").alias("a_end"))
    )
    pairs = bucketed_interval_join(
        act_d.select("user_id", "a_start", "a_end"),
        err_d.drop("d1", "d2"),
        "a_start",
        "a_end",
        "w_start",
        "w_end",
        w_us,
    ).filter(F.col("user_id") != F.col("err_user"))
    impact_d = pairs.groupBy("error_id").agg(
        F.count_distinct("user_id").cast("long").alias("n_affected_users")
    )
    out_dup = (
        err_d.select("error_id")
        .distinct()
        .join(impact_d, "error_id", "left")
        .select(
            "error_id",
            F.coalesce("n_affected_users", F.lit(0))
            .cast("long")
            .alias("n_affected_users"),
        )
    )
    return out_simple.unionByName(out_dup)


# ---------------------------------------------------------------------------
# mergeable HLL sketch artifacts: daily rollup -> union -> estimate
# ---------------------------------------------------------------------------

# Tolerances of the rollup's oracle-checkable claims. Default
# hll_sketch_agg precision (lgConfigK=12) has ~1.6% rsd; 5% is ~3
# standard errors — same posture as hll_within_tol above. Shared with
# the falsifiability pin (tests/test_oracle_parity.py) so the pin
# exercises these constants, not copies.
HLL_ROLLUP_TOL = 0.05
# Merged-vs-global consistency: the union sees the same coupons, but
# DataSketches estimates through REPRESENTATION-dependent estimators
# (a union materializes HLL_8 while the direct aggregate stays HLL_4),
# so past the sparse regime the two estimates are near-equal, not
# bit-equal — measured 0.73% apart at 1 500 true uniques (sf0.1),
# exactly equal below the sparse threshold. 2% bounds that with
# headroom while still falsifying a union that actually lost coupons.
HLL_MERGE_TOL = 0.02


def hll_rollup_within_tol(exact: F.Column, est: F.Column) -> F.Column:
    """|est − exact| ≤ HLL_ROLLUP_TOL·exact, the rollup claim as ONE
    shared expression (delegates to _within_rel_tol, like
    hll_within_tol)."""
    return _within_rel_tol(exact, est, HLL_ROLLUP_TOL)


@register(
    "events_hll_rollup_check",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // {86_400_000_000} AS day
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL)
    SELECT CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS merge_consistent,
           TRUE AS within_tol
    FROM ev
    """,
    tags=("agg", "sketch", "check", "mergeable"),
)
def events_hll_rollup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable-sketch ARTIFACT story, oracle-checked: build one
    DataSketches HLL per day (hll_sketch_agg — the binary a 100 TB
    pipeline stores per partition/day), union-merge the dailies
    (hll_union_agg), and claim (a) the merged estimate agrees with
    one global sketch over the same rows within HLL_MERGE_TOL —
    register insertion is order-independent and union takes
    register-wise max, but the library estimates through
    representation-dependent estimators (HLL_8 union vs HLL_4
    direct), so past the sparse regime the estimates are near-equal,
    not bit-equal (the exact-equality first draft failed preflight at
    sf0.1: 1488 vs 1499 on 1500 true) — and (b) the merged estimate
    sits within HLL_ROLLUP_TOL of the exact count. DuckDB cannot
    build the sketch, but it verifies n_days, the exact count, and
    that both claim columns are TRUE — the same _check-twin shape as
    q_approx_distinct_parts_check.

    Scale shape: daily sketches are a map-side-combinable aggregate
    (each executor folds its rows into fixed-size registers); the
    union is a second tiny aggregate over |days| sketch blobs. The
    exact count (for the claim only) is the one expensive distinct —
    in production you store the sketches and never pay it."""
    ev = (
        load_tables(spark, sf_dir)["events"]
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.expr(
                "unix_micros(cast(ts as timestamp)) div 86400000000"
            ).alias("day"),
        )
    )
    daily = ev.groupBy("day").agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk")
    )
    merged = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.expr(
            "hll_sketch_estimate(hll_union_agg(sk))"
        ).alias("est_merged"),
    )
    global_ = ev.agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(user_id))").alias(
            "est_global"
        ),
        F.count_distinct("user_id").cast("long").alias("exact_users"),
    )
    # COALESCE guards the degenerate stream: zero valid rows leave
    # both estimates NULL (sketch aggs over nothing), where the
    # claims hold vacuously — the oracle's constant TRUE must match
    # (NULL == NULL is NULL, not TRUE; review pass 3)
    empty = F.col("exact_users") == 0
    return merged.crossJoin(global_).select(
        "n_days",
        "exact_users",
        F.coalesce(
            _within_rel_tol(
                F.col("est_global"), F.col("est_merged"), HLL_MERGE_TOL
            ),
            empty,
        ).alias("merge_consistent"),
        F.coalesce(
            hll_rollup_within_tol(F.col("exact_users"), F.col("est_merged")),
            empty,
        ).alias("within_tol"),
    )


# ---------------------------------------------------------------------------
# skew-salted join, driver-verified
# ---------------------------------------------------------------------------

@register(
    "events_salted_type_stats",
    oracle="""
    WITH dim AS (
      SELECT event_type,
             SUM(CAST(value AS DECIMAL(18,6))) AS s,
             COUNT(value) AS nn
      FROM events GROUP BY event_type)
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN e.value IS NOT NULL
                          AND CAST(e.value AS DECIMAL(18,6))
                              * CAST(d.nn AS DECIMAL(18,0)) > d.s
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_above_avg
    FROM events e JOIN dim d
      ON e.event_type IS NOT DISTINCT FROM d.event_type
    GROUP BY e.event_type
    """,
    tags=("events", "join", "skew"),
)
def events_salted_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-salting technique (operators/scale.salted_join),
    driver-verified end-to-end: the event stream (a handful of hot
    event_type keys — the classic skewed fact) joins its per-type
    aggregate dim through a salted equi-join (dim replicated per
    salt, fact salted uniformly), then counts events strictly above
    their type's mean. The oracle is the PLAIN join — the gate proves
    salting is semantics-preserving (which salt a row draws can never
    change the result: every salt of a key meets every replica).

    Above-mean is decided without division: value·n > sum in the
    exact DECIMAL domain (18,6 × 18,0 = precision 37, inside 38 on
    both engines with no Spark scale reduction; a 12-digit count
    operand would overflow-to-NULL past 10^12 rows per type — exactly
    the 100 TB posture — and the identical oracle cast would hide it). The NULL-type stratum survives via a NULL-SAFE join
    on both engines (the funnel equi-join-on-NULL lesson); NULL
    values are never above the mean and never in it.

    At 100 TB: the dim is tiny here (AQE will broadcast it — fine),
    but the same spelling holds when the dim is a few million rows ×
    salt and one key carries half the fact: the salt splits that
    key's shuffle partition n_salt ways (perf pin with broadcast
    disabled: tests/test_scale.py)."""
    from ..operators.scale import salted_join

    ev = load_tables(spark, sf_dir)["events"]
    dim = ev.groupBy(F.col("event_type").alias("d_type")).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).alias("s"),
        F.count("value").alias("nn"),
    )
    # salted_join takes plain equi-keys, so NULL-safety comes from a
    # coalesced SHADOW key both sides derive identically (a NUL-byte
    # sentinel no real event_type starts with); the true columns ride
    # along untouched for the output.
    fact = ev.withColumn("jt", F.coalesce("event_type", F.lit("\x00NULL")))
    dim2 = dim.withColumn("jt", F.coalesce("d_type", F.lit("\x00NULL")))
    joined = salted_join(fact, dim2, "jt", n_salt=8)
    above = (
        F.col("value").isNotNull()
        & (
            F.col("value").cast("decimal(18,6)")
            * F.col("nn").cast("decimal(18,0)")
            > F.col("s")
        )
    ).cast("int")
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(above).cast("long").alias("n_above_avg"),
    )


# ---------------------------------------------------------------------------
# year-over-year revenue growth
# ---------------------------------------------------------------------------

@register(
    "q_nation_yoy_growth",
    oracle=f"""
    WITH rev AS (
      SELECT n.n_name,
             CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS o_year,
             CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                                 AS DECIMAL(38,6))), 2) * 100
                  AS HUGEINT) AS cents
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n   ON n.n_nationkey = c.c_nationkey
      GROUP BY n.n_name, CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT)),
    seq AS (
      SELECT n_name, o_year, cents,
             LAG(cents) OVER (PARTITION BY n_name ORDER BY o_year)
               AS prev_cents,
             LAG(o_year) OVER (PARTITION BY n_name ORDER BY o_year)
               AS prev_year
      FROM rev)
    SELECT n_name, o_year,
           CAST(cents AS DOUBLE) / 100 AS revenue,
           CASE WHEN prev_year = o_year - 1 THEN
             {round4_frac_sql(
                 "CAST(cents - prev_cents AS HUGEINT)", "prev_cents", "//"
             )} END AS yoy_growth
    FROM seq
    """,
    tags=("window", "growth", "money"),
)
def q_nation_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per customer nation: exact-
    decimal revenue (the house money domain) per (nation, year), LAG
    over the per-nation year sequence, and the growth fraction as an
    exactly-rounded integer ratio over CENTS in the HUGEINT/
    DECIMAL(38,0) domain (the signed round_div form — growth is
    negative in shrinking years, and diff*10000 would leave BIGINT
    range around 10^5 the fixture scale). Growth is NULL both for a
    nation's first year (LAG over nothing) AND after a gap year —
    LAG pairs with the last PRESENT year, which would silently label
    a multi-year ratio "year-over-year" (review pass 3), so the
    previous year is carried and must be exactly o_year - 1.

    Scale shape: dims broadcast onto the fact scan, one (nation,
    year) aggregate (map-side combinable), and the LAG window runs
    over the tiny aggregated matrix — |nations| x |years| rows."""
    t = load_tables(spark, sf_dir)
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    rev = (
        t["lineitem"]
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(
            F.broadcast(t["nation"]),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .groupBy("n_name", F.year("o_orderdate").alias("o_year"))
        .agg(
            # round 11: long-split micro sum (catalog.py note) — same
            # exact rational into the same ROUND/scale chain
            (
                F.round(
                    micro_split_total_col(
                        *micro_split_sum_cols(micro_long_col(vol))
                    ).cast("decimal(38,6)")
                    / 1000000,
                    2,
                )
                * 100
            )
            .cast("decimal(38,0)")
            .alias("cents")
        )
    )
    w = Window.partitionBy("n_name").orderBy("o_year")
    seq = rev.withColumn("prev_cents", F.lag("cents").over(w)).withColumn(
        "prev_year", F.lag("o_year").over(w)
    )
    growth = F.expr(
        round4_frac_sql("CAST(cents - prev_cents AS DECIMAL(38,0))",
                        "prev_cents", "div")
    )
    return seq.select(
        "n_name",
        "o_year",
        (F.col("cents").cast("double") / 100).alias("revenue"),
        F.when(F.col("prev_year") == F.col("o_year") - 1, growth).alias(
            "yoy_growth"
        ),
    )


# ---------------------------------------------------------------------------
# per-type ingest freshness
# ---------------------------------------------------------------------------

_STALE_AFTER_S = 86_400  # a type a full day behind the stream head is stale


@register(
    "events_freshness_report",
    oracle=f"""
    WITH ev AS (
      SELECT event_type, ts, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events WHERE ts IS NOT NULL),
    agg AS (
      SELECT event_type, COUNT(*) AS n_events,
             MAX(ts) AS last_ts, MAX(us) AS last_us
      FROM ev GROUP BY event_type),
    tot AS (
      SELECT *, MAX(last_us) OVER () AS head_us FROM agg)
    SELECT event_type,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(last_ts AS TIMESTAMP) AS last_ts,
           CAST((head_us - last_us) // 1000000 AS BIGINT) AS lag_s,
           CAST(CASE WHEN (head_us - last_us) // 1000000 > {_STALE_AFTER_S}
                     THEN 1 ELSE 0 END AS INT) AS stale
    FROM tot
    """,
    tags=("events", "monitoring", "freshness"),
)
def events_freshness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-freshness monitoring: per event type, how far its most
    recent event lags the stream head (whole seconds, floor-divided
    micros) and a staleness flag at one day — the "is a producer
    wedged" report an operator reads before trusting a snapshot.
    Timeless rows are invisible; an untyped producer reports as its
    own NULL row rather than vanishing.

    Scale shape: one scan into a map-side-combinable per-type MAX/
    COUNT, then the head-of-stream window over the <=|types| row
    aggregate in one trivial partition."""
    ev = (
        load_tables(spark, sf_dir)["events"]
        .filter(F.col("ts").isNotNull())
        .select(
            "event_type",
            "ts",
            F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        )
    )
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.max("ts").alias("last_ts"),
        F.max("us").alias("last_us"),
    )
    tot = agg.withColumn(
        "head_us", F.max("last_us").over(Window.partitionBy())
    )
    lag_s = F.expr("(head_us - last_us) div 1000000")
    return tot.select(
        "event_type",
        "n_events",
        "last_ts",
        lag_s.cast("long").alias("lag_s"),
        (lag_s > _STALE_AFTER_S).cast("int").alias("stale"),
    )


# ---------------------------------------------------------------------------
# activity streaks (gaps-and-islands)
# ---------------------------------------------------------------------------

_US_PER_DAY = 86_400_000_000


def streak_table(events: DataFrame) -> DataFrame:
    """(user_id, island, len, start) — one row per maximal run of
    CONSECUTIVE active days per user, via the gaps-and-islands
    identity: over each user's distinct active days in ascending
    order, ``day_number - row_number`` is constant exactly along a
    gap-free run. Day numbers are exact integer epoch-day quotients
    (micros div 86.4e9 — the corpus is post-epoch, so truncating and
    flooring division agree), never double date arithmetic.

    Exposed separately from the registered query so tests can pin the
    island algebra on constructed corpora (single-day users, runs
    split by exactly one missing day, month boundaries)."""
    daily = (
        events.filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", F.date_trunc("day", "ts").alias("day"))
        .distinct()
        .withColumn(
            "dayn",
            F.expr(f"unix_micros(cast(day as timestamp)) div {_US_PER_DAY}"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("dayn")
    isl = daily.withColumn("island", F.col("dayn") - F.row_number().over(w))
    return isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len"), F.min("day").alias("start")
    )


@register(
    "events_streaks",
    oracle=f"""
    WITH daily AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
    isl AS (
      SELECT user_id, day,
             epoch_us(day) // {_US_PER_DAY}
               - ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(day)) AS island
      FROM daily),
    streaks AS (
      SELECT user_id, island, COUNT(*) AS len, MIN(day) AS start
      FROM isl GROUP BY user_id, island),
    best AS (
      SELECT user_id, MAX(len) AS best_streak,
             CAST(SUM(len) AS BIGINT) AS n_active_days
      FROM streaks GROUP BY user_id)
    SELECT b.user_id, b.n_active_days,
           CAST(b.best_streak AS BIGINT) AS best_streak,
           MIN(s.start) AS streak_start
    FROM best b JOIN streaks s
      ON s.user_id = b.user_id AND s.len = b.best_streak
    GROUP BY b.user_id, b.n_active_days, b.best_streak
    """,
    tags=("events", "window", "gaps-islands"),
)
def events_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (plus total
    active days and the streak's first day) — the classic
    gaps-and-islands engagement metric. The streak START is reported
    for the EARLIEST maximal run when several tie at the best length,
    so the selected row set is deterministic on both engines.
    Timeless and anonymous events are invisible under the standing
    contract (they have no day / no user to streak over).

    Scale shape: the raw stream collapses to distinct user-days in
    one map-side-combinable exchange; the row-number window and both
    follow-up aggregates run over user-day rows (bounded by
    users x horizon, independent of event volume), and the best/streak
    self-join joins two sub-user-cardinality relations AQE can
    broadcast. No window ever sorts the raw fact table."""
    streaks = streak_table(load_tables(spark, sf_dir)["events"])
    best = streaks.groupBy("user_id").agg(
        F.max("len").alias("best_streak"),
        F.sum("len").cast("long").alias("n_active_days"),
    )
    s = streaks.select(
        F.col("user_id").alias("s_user"), "len", "start"
    )
    return (
        best.join(
            s,
            (F.col("user_id") == F.col("s_user"))
            & (F.col("len") == F.col("best_streak")),
        )
        .groupBy("user_id", "n_active_days", "best_streak")
        .agg(F.min("start").alias("streak_start"))
        .select(
            "user_id",
            "n_active_days",
            F.col("best_streak").cast("long").alias("best_streak"),
            "streak_start",
        )
    )


# ---------------------------------------------------------------------------
# linear multi-touch attribution
# ---------------------------------------------------------------------------

_ATTR_WINDOW_US = 3 * _US_PER_DAY  # clicks within 3 days before a purchase


def attribution_credits(events: DataFrame) -> DataFrame:
    """(p_id, vm, day, n_win, credit_micro) — one row per (purchase,
    in-window click) with the purchase's micro-unit value, the
    click's day, the purchase's in-window click count, and the
    exactly rounded per-click credit. The composable core of
    events_attribution_linear, exposed (like streak_table) so tests
    can pin the band-join semantics and credit conservation on
    constructed corpora — the registered query only rolls these rows
    up by day.

    ``vm``/``credit_micro`` are BIGINT micro-units (round 12): the
    credit arithmetic previously ran on DECIMAL(32,0), paying the
    BigDecimal re-boxing buffer the round-11 long-split conversion
    removed everywhere else. round_div_sql doubles its numerator, so
    the BIGINT bound here is |value| ≤ ~4.6·10¹² (half the usual
    micro ceiling) — ANSI-loud on breach, and three orders above any
    per-purchase value at the 100 TB design point."""
    p = events.filter(
        (F.col("event_type") == "purchase")
        & F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
        & F.col("event_id").isNotNull()
    ).select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.expr("unix_micros(cast(ts as timestamp))").alias("pus"),
        F.expr(micro_quant_spark_sql("value")).alias("vm"),
    )
    c = events.filter(
        (F.col("event_type") == "click")
        & F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
    ).select(
        F.col("user_id").alias("c_user"),
        F.date_trunc("day", "ts").alias("day"),
        F.expr("unix_micros(cast(ts as timestamp))").alias("cus"),
    )
    j = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("cus") < F.col("pus"))
        & (F.col("cus") >= F.col("pus") - _ATTR_WINDOW_US),
    )
    return (
        j.withColumn(
            "n_win", F.count(F.lit(1)).over(Window.partitionBy("p_id"))
        )
        .withColumn(
            "credit_micro", F.expr(round_div_sql("vm", "n_win", "div"))
        )
        .select("p_id", "vm", "day", "n_win", "credit_micro")
    )


@register(
    "events_attribution_linear",
    oracle=f"""
    WITH p AS (
      SELECT event_id AS p_id, user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS pus,
             CAST({micro_quant_sql("value")} AS HUGEINT) AS vm
      FROM events
      WHERE event_type = 'purchase' AND ts IS NOT NULL
        AND user_id IS NOT NULL AND value IS NOT NULL
        AND event_id IS NOT NULL),
    c AS (
      SELECT user_id,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
               AS day,
             epoch_us(CAST(ts AS TIMESTAMP)) AS cus
      FROM events
      WHERE event_type = 'click' AND ts IS NOT NULL
        AND user_id IS NOT NULL),
    j AS (
      SELECT p.p_id, p.vm, c.day,
             COUNT(*) OVER (PARTITION BY p.p_id) AS n_win
      FROM p JOIN c ON p.user_id = c.user_id
        AND c.cus < p.pus AND c.cus >= p.pus - {_ATTR_WINDOW_US}),
    cred AS (
      SELECT p_id, day,
             {round_div_sql("vm", "n_win", "//")} AS credit_micro
      FROM j)
    SELECT day,
           COUNT(DISTINCT p_id) AS n_purchases,
           CAST(COUNT(*) AS BIGINT) AS n_credits,
           CAST(SUM(credit_micro) AS DOUBLE) / 1000000 AS credit
    FROM cred GROUP BY day
    """,
    tags=("events", "attribution", "range-join"),
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (equal-split) multi-touch attribution: each purchase's
    value is divided equally across that user's clicks in the
    3-day (_ATTR_WINDOW_US) window STRICTLY before the purchase, and the credit
    is reported per click-day — the batch complement of
    q_asof_last_click (last-touch). Per-click credit is the exactly
    rounded integer division of the purchase's micro-unit value by
    its in-window click count, so the day sums are exact-integer and
    engine-identical; the one double appears at display. ``n_credits``
    counts CREDIT ROWS (purchase × in-window click pairs) — a click
    inside two purchases' windows on the same day contributes twice,
    once per credit it carries; it is deliberately not a distinct
    click count (the round-6 advisory's misreadable ``n_clicks`` name
    is retired). Purchases
    with no in-window click earn no credit rows (an unattributed
    purchase has no touch to credit); purchases need identity,
    timestamp, user and value to participate, clicks need timestamp
    and user. Same-microsecond clicks are NOT credited (strictly
    before), so the credited set is deterministic under ties.

    Scale shape: both sides are pushed-down scans of one event type;
    the band join is an equi-join on user_id with the time band as a
    residual (per-user click/purchase histories are bounded); the
    per-purchase count is a window over p_id (one exchange on
    purchase identity); the final day rollup is map-side combinable.
    At 100 TB the band join takes the as-of operator's time-bucketing
    treatment (operators/asof.py) rather than a wider shuffle."""
    cred = attribution_credits(load_tables(spark, sf_dir)["events"])
    # credit_micro is BIGINT (round 12) — the day rollup sums through
    # the hi/lo long split like every other money sum since round 11:
    # two plain BIGINT buffers, one decimal recombine per day. The
    # DuckDB oracle stays on the HUGEINT path, so the preflight hash
    # gate re-proves value identity.
    hi, lo = micro_split_sum_cols(F.col("credit_micro"))
    return cred.groupBy("day").agg(
        F.countDistinct("p_id").alias("n_purchases"),
        F.count(F.lit(1)).cast("long").alias("n_credits"),
        (micro_split_total_col(hi, lo).cast("double") / F.lit(1000000.0)).alias(
            "credit"
        ),
    )


# ---------------------------------------------------------------------------
# top user journeys (ordered event-type trigrams)
# ---------------------------------------------------------------------------

_TOP_PATHS = 20


@register(
    "events_top_paths",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_type, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
        AND event_id IS NOT NULL),
    seq AS (
      SELECT event_type AS t1,
             LEAD(event_type, 1) OVER w AS t2,
             LEAD(event_type, 2) OVER w AS t3,
             LEAD(event_id, 2) OVER w AS id3
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    paths AS (
      SELECT t1, t2, t3, COUNT(*) AS cnt
      FROM seq WHERE id3 IS NOT NULL
      GROUP BY t1, t2, t3),
    r AS (
      SELECT t1, t2, t3, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC,
                                t1 ASC NULLS LAST, t2 ASC NULLS LAST,
                                t3 ASC NULLS LAST) AS rk
      FROM paths)
    SELECT CAST(rk AS INT) AS rk, t1, t2, t3, CAST(cnt AS BIGINT) AS cnt
    FROM r WHERE rk <= {_TOP_PATHS}
    """,
    tags=("events", "sequence", "paths"),
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The _TOP_PATHS (20) most frequent length-3 event-type journeys across
    all users — the path-analysis extension of the order-2
    events_markov_transitions (a funnel you did not have to specify
    up front). Steps are CONSECUTIVE events of one user in (time,
    event_id) order; the trigram window never crosses users. A
    journey's third step is detected by the LEAD of the non-null
    event_id — not of the type — so a genuine NULL event TYPE is a
    visible journey step while running off a user's history is not.
    Identity is required (NULL event_ids have no deterministic
    position under timestamp ties); the rank tie-break is total
    (count, then the three steps, NULLS LAST on both engines), so
    the reported top-k set is engine-identical.

    Scale shape: one exchange on user_id for the sequence window
    (per-user histories are bounded), then a map-side-combinable
    trigram count whose cardinality is |types|³, and the final
    top-k is a TakeOrdered over that tiny relation — the full
    journey stream is never globally sorted."""
    e = (
        load_tables(spark, sf_dir)["events"]
        .filter(
            F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_id").isNotNull()
        )
        .select(
            "user_id",
            "event_type",
            "event_id",
            F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seq = e.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
        F.lead("event_id", 2).over(w).alias("id3"),
    )
    paths = (
        seq.filter(F.col("id3").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    rk = F.row_number().over(
        Window.orderBy(
            F.desc("cnt"),
            F.asc_nulls_last("t1"),
            F.asc_nulls_last("t2"),
            F.asc_nulls_last("t3"),
        )
    )
    return (
        paths.withColumn("rk", rk)
        .filter(F.col("rk") <= _TOP_PATHS)
        .select(
            F.col("rk").cast("int").alias("rk"),
            "t1",
            "t2",
            "t3",
            F.col("cnt").cast("long").alias("cnt"),
        )
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation
# ---------------------------------------------------------------------------

_RFM_TILES = 4


@register(
    "events_rfm_segments",
    oracle=f"""
    WITH p AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             {micro_quant_sql("value")} AS vm
      FROM events
      WHERE event_type = 'purchase' AND ts IS NOT NULL
        AND user_id IS NOT NULL AND value IS NOT NULL),
    u AS (
      SELECT user_id, MAX(us) AS last_us, COUNT(*) AS freq,
             SUM(vm) AS mon
      FROM p GROUP BY user_id),
    h AS (SELECT MAX(last_us) AS head_us FROM u),
    u2 AS (
      SELECT user_id, (head_us - last_us) // {_US_PER_DAY} AS recency_days,
             freq, mon
      FROM u, h),
    q AS (
      SELECT recency_days, freq, mon,
             NTILE({_RFM_TILES}) OVER (ORDER BY recency_days, user_id) AS r_q,
             NTILE({_RFM_TILES}) OVER (ORDER BY freq, user_id) AS f_q,
             NTILE({_RFM_TILES}) OVER (ORDER BY mon, user_id) AS m_q
      FROM u2)
    SELECT CAST(r_q * 100 + f_q * 10 + m_q AS INT) AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST({round_div_sql("CAST(SUM(recency_days) AS HUGEINT)",
                               "COUNT(*)", "//")} AS BIGINT)
             AS avg_recency_days,
           CAST(SUM(mon) AS DOUBLE) / 1000000 AS total_monetary
    FROM q GROUP BY r_q, f_q, m_q
    """,
    tags=("events", "segmentation", "ntile"),
)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per purchasing user, recency (whole
    days behind the newest purchase), frequency (purchase count) and
    monetary (exact micro-unit value sum) quartiles — each an
    ascending NTILE(4) with the user id as tiebreak, so quartile 1 is
    the most-recent / least-frequent / lowest-spend end of each axis
    and every assignment is engine-deterministic — rolled up to the
    classic three-digit segment code (r*100 + f*10 + m). Purchases
    need timestamp, user and value; other event types are invisible.

    Scale honesty: the three quartile axes run through ONE
    operators.scale.exact_ntile_multi pass — a single boundary-sketch
    aggregate at build (one driver job, pinned by
    tests/test_scale.py) freezes per-axis coarse-bucket boundaries
    into the plan, then each axis is an in-plan
    offset-plus-row_number ranking partitioned by its coarse buckets,
    NOT a single-partition ntile window — the per-user relation is
    corpus-sized at 100 TB and a global-sort window there is the one
    shape that cannot scale (the deciles lesson). The round-6 form
    paid exact_ntile's two eager jobs per axis (six at build); the
    multi-axis operator retires that. The oracle states the identical
    buckets through window NTILE — bit-equality between the two forms
    is exactly what the hash comparison checks."""
    from ..operators.scale import exact_ntile_multi

    p = load_tables(spark, sf_dir)["events"].filter(
        (F.col("event_type") == "purchase")
        & F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
    ).select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        # round 11: BIGINT micro-units (same integers as the decimal
        # quantization; catalog.py note). Per-user money sums stay
        # plain long sums — the ANSI-loud bound is Σ|value| < 9.2e12
        # base units per user, absurd for one user's purchases — and
        # the corpus-scale segment rollup below uses the hi/lo split.
        micro_long_col(F.col("value")).alias("vm"),
    )
    u = p.groupBy("user_id").agg(
        F.max("us").alias("last_us"),
        F.count(F.lit(1)).alias("freq"),
        F.sum("vm").alias("mon"),
    )
    # The recency anchor is MAX(us) over p (identical to the max of
    # per-user maxes): a map-side 1-row aggregate instead of three
    # corpus groupBy-user exchanges, since exact_ntile_multi plans its
    # input three times per action (bit-identical, OPTIMIZATION_r11.md).
    head = p.agg(F.max("us").alias("head_us"))
    u2 = u.crossJoin(F.broadcast(head)).select(
        "user_id",
        F.expr(f"(head_us - last_us) div {_US_PER_DAY}").alias("recency_days"),
        "freq",
        "mon",
    )
    q = exact_ntile_multi(
        u2,
        _RFM_TILES,
        [
            ("r_q", ["recency_days", "user_id"]),
            ("f_q", ["freq", "user_id"]),
            ("m_q", ["mon", "user_id"]),
        ],
    )
    return q.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.expr(
            round_div_sql(
                "CAST(SUM(recency_days) AS DECIMAL(38,0))", "COUNT(*)", "div"
            )
        )
        .cast("long")
        .alias("avg_recency_days"),
        # corpus-scale rollup of per-user micro longs: hi/lo split
        # (Σ per segment can pass the single-long bound at ~100 TB)
        (
            micro_split_total_col(
                F.sum(F.shiftright(F.col("mon"), MICRO_SPLIT_SHIFT)),
                F.sum(F.col("mon").bitwiseAND(F.lit(MICRO_SPLIT_MASK))),
            ).cast("double")
            / F.lit(1000000.0)
        ).alias("total_monetary"),
    ).select(
        (F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q"))
        .cast("int")
        .alias("segment"),
        "n_users",
        "avg_recency_days",
        "total_monetary",
    )


# ---------------------------------------------------------------------------
# cohort lifetime value
# ---------------------------------------------------------------------------


@register(
    "events_cohort_ltv",
    oracle=f"""
    WITH ev AS ({_SQL_COHORT_EV}),
    {_SQL_COHORT_FIRSTS},
    buys AS (
      SELECT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS buy_w,
             CAST({micro_quant_sql("value")} AS HUGEINT) AS vm
      FROM ev
      WHERE event_type = 'purchase' AND value IS NOT NULL
    ), cells AS (
      SELECT f.cohort_w AS cohort_week,
             {_sql_week_offset("f.cohort_w", "b.buy_w")} AS week_offset,
             COUNT(*) AS n_purchases,
             COUNT(DISTINCT b.user_id) AS n_buyers,
             SUM(b.vm) AS rev_micro
      FROM buys b JOIN firsts f USING (user_id)
      GROUP BY 1, 2
    ), run AS (
      SELECT cohort_week, week_offset,
             CAST(n_purchases AS BIGINT) AS n_purchases,
             CAST(n_buyers AS BIGINT) AS n_buyers,
             CAST(rev_micro AS HUGEINT) AS rev_micro,
             SUM(CAST(rev_micro AS HUGEINT)) OVER (
               PARTITION BY cohort_week ORDER BY week_offset)
               AS cum_micro
      FROM cells)
    SELECT cohort_week, week_offset, n_purchases, n_buyers,
           CAST(rev_micro AS DOUBLE) / 1000000 AS revenue,
           CAST(cum_micro AS DOUBLE) / 1000000 AS cum_revenue
    FROM run
    """,
    tags=("events", "cohort", "ltv"),
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort lifetime value — the money companion of
    events_retention_cohorts, sharing its cohort definition verbatim
    (first-event week, week offsets as floor day-diff / 7): per
    (cohort, offset) cell, purchase count, distinct buyers, the
    cell's exact micro-unit revenue, and the running cumulative
    revenue along the cohort's life (the LTV curve an acquisition
    decision reads). Revenue sums are exact integers end to end; the
    two doubles appear at display. Only timed, identified purchases
    with a value earn cells; a cohort with no purchasing week has no
    row (LTV is a purchase-side report — the activity denominator
    lives in the retention twin).

    Shape: first-touch groupBy(user) and the purchase projection both
    shuffle on user_id (one exchange reused through the join); the
    cell aggregate and the cumulative window run over cohort-sized
    data (weeks², not events)."""
    ev = cohort_ev(load_tables(spark, sf_dir)["events"])
    firsts = cohort_firsts(ev)
    buys = ev.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        "user_id",
        F.date_trunc("week", "ts").alias("buy_w"),
        # round 11: BIGINT micros (catalog.py note); per-cell sums are
        # plain long sums (bound Σ|value| < 9.2e12 base units per
        # cohort-week cell), the cumulative rollup below splits
        micro_long_col(F.col("value")).alias("vm"),
    )
    cells = (
        buys.join(firsts, "user_id")
        .groupBy(
            F.col("cohort_w").alias("cohort_week"),
            _week_offset_col("cohort_w", "buy_w").alias("week_offset"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.countDistinct("user_id").alias("n_buyers"),
            F.sum("vm").alias("rev_micro"),
        )
    )
    w = Window.partitionBy("cohort_week").orderBy("week_offset")
    # cumulative rollup crosses cell bounds → hi/lo split window sums
    # (a cohort's lifetime micro sum can pass the single-long bound)
    return cells.withColumn(
        "cum_micro",
        micro_split_total_col(
            F.sum(F.shiftright(F.col("rev_micro"), MICRO_SPLIT_SHIFT)).over(w),
            F.sum(F.col("rev_micro").bitwiseAND(F.lit(MICRO_SPLIT_MASK))).over(w),
        ),
    ).select(
        "cohort_week",
        "week_offset",
        "n_purchases",
        "n_buyers",
        (F.col("rev_micro").cast("double") / 1000000).alias("revenue"),
        (F.col("cum_micro").cast("double") / 1000000).alias("cum_revenue"),
    )


# ---------------------------------------------------------------------------
# power-user concentration (Pareto/Lorenz deciles over per-user activity)
# ---------------------------------------------------------------------------


@register(
    "events_power_users_share",
    oracle=f"""
    WITH u AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_ev
      FROM events WHERE user_id IS NOT NULL
      GROUP BY user_id),
    d AS (
      SELECT user_id, n_ev,
             NTILE(10) OVER (ORDER BY n_ev, user_id) AS decile
      FROM u),
    per AS (
      SELECT CAST(decile AS INT) AS decile,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(n_ev) AS BIGINT) AS n_events
      FROM d GROUP BY decile)
    SELECT decile, n_users, n_events,
           {round4_frac_sql(
               "CAST(n_events AS HUGEINT)",
               "SUM(CAST(n_events AS HUGEINT)) OVER ()",
               "//",
           )} AS event_share
    FROM per
    """,
    tags=("events", "segmentation", "ntile", "pareto"),
)
def events_power_users_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity-concentration (Pareto) report: users bucketed into
    activity deciles (ascending event count, user id tiebreak —
    decile 10 is the heaviest users), with each decile's share of all
    events — the "what fraction of the corpus do power users
    generate" readout a training-data pipeline checks before
    per-user capping. The share is the house exact-integer rounded
    ratio (numerator widened before the ×10000 — the INT32 overflow
    lesson).

    Scale: the per-user rollup is one map-side-combinable aggregate;
    the global deciles run through operators.scale.exact_ntile_multi
    (in-plan offset ranking partitioned by frozen boundary buckets —
    never a single-partition NTILE window over the user relation,
    which is corpus-sized at 100 TB); the total is a broadcast
    one-row cross join."""
    from ..operators.scale import exact_ntile_multi

    # No scale_out: the keyed groupBy(user_id) exchange redistributes
    # anyway, so a round-robin repartition is a redundant exchange,
    # paid three times by exact_ntile_multi (min 3.15 → 1.79 s at
    # sf0.1, bit-identical; a no-op at 100 TB by its own guard).
    u = (
        load_tables(spark, sf_dir)["events"]
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ev"))
    )
    d = exact_ntile_multi(u, 10, [("decile", ["n_ev", "user_id"])])
    per = d.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n_ev").cast("long").alias("n_events"),
    )
    # the corpus total is derivable from the ≤10 decile rows — a
    # window over index metadata, never a second pass over events
    # (the round-7 review's efficiency note)
    return per.select(
        F.col("decile").cast("int").alias("decile"),
        "n_users",
        "n_events",
        F.expr(
            round4_frac_sql(
                "CAST(n_events AS DECIMAL(38,0))",
                "SUM(CAST(n_events AS DECIMAL(38,0))) OVER ()",
                "div",
            )
        ).alias("event_share"),
    )


# ---------------------------------------------------------------------------
# sustained-rate burst detection (bot filtering)
# ---------------------------------------------------------------------------

_BURST_WINDOW_US = 3_600_000_000  # 1 hour
_BURST_THRESHOLD = 3  # peak events within one window to flag


@register(
    "events_burst_rate",
    oracle=f"""
    WITH e AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    w AS (
      SELECT user_id,
             COUNT(*) OVER (PARTITION BY user_id ORDER BY us
               RANGE BETWEEN {_BURST_WINDOW_US - 1} PRECEDING
                 AND CURRENT ROW) AS in_window
      FROM e),
    p AS (
      SELECT user_id, CAST(MAX(in_window) AS BIGINT) AS peak_1h,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM w GROUP BY user_id)
    SELECT user_id, peak_1h, n_events
    FROM p WHERE peak_1h >= {_BURST_THRESHOLD}
    """,
    tags=("events", "rate", "bot-detection"),
)
def events_burst_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sustained-rate detector — the bot/scraper filter of an events
    ingest pipeline: each user's PEAK event count inside any sliding
    1-hour window (trailing RANGE frame on the microsecond timestamp,
    so simultaneous events are window peers in both engines — no
    row-frame tie ambiguity), reporting users whose peak reaches
    ``_BURST_THRESHOLD`` (3). A curation pipeline drops or
    down-weights flagged users' traffic before training.

    Scale: one exchange on user_id shared by the RANGE window and the
    per-user rollup (the group key equals the partition key, the
    debounce lesson); per-user histories are bounded, so frames never
    blow up a task."""
    # No scale_out: the user_id window exchange below redistributes
    # anyway (min 0.98 → 0.38 s at sf0.1, bit-identical; a no-op at
    # 100 TB by the guard).
    e = (
        load_tables(spark, sf_dir)["events"]
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            "user_id",
            F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("us").rangeBetween(
        -(_BURST_WINDOW_US - 1), 0
    )
    return (
        e.withColumn("in_window", F.count(F.lit(1)).over(w))
        .groupBy("user_id")
        .agg(
            F.max("in_window").cast("long").alias("peak_1h"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .filter(F.col("peak_1h") >= _BURST_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# join-key skew diagnostics (the decision input for salted_join / AQE)
# ---------------------------------------------------------------------------


@register(
    "events_key_skew_report",
    oracle=f"""
    WITH per_key AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE user_id IS NOT NULL
      GROUP BY user_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(MAX(n) AS BIGINT) AS max_per_key,
           CAST(MIN(n) AS BIGINT) AS min_per_key,
           {round4_frac_sql("CAST(SUM(n) AS HUGEINT)", "COUNT(*)", "//")}
             AS avg_per_key,
           {round4_frac_sql(
               "CAST(MAX(n) AS HUGEINT) * COUNT(*)", "SUM(n)", "//"
           )} AS skew_ratio,
           CAST(CASE WHEN CAST(MAX(n) AS HUGEINT) * COUNT(*)
                          > 10 * CAST(SUM(n) AS HUGEINT)
                     THEN 1 ELSE 0 END AS INT) AS skew_flag
    FROM per_key
    """,
    tags=("events", "skew", "diagnostics"),
)
def events_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics for the events stream's user_id — the
    decision input for operators.scale.salted_join / AQE skew-join
    before a 100 TB shuffle: key cardinality, max/min/avg rows per
    key, the hottest key's multiple of the mean (``skew_ratio``,
    exactly rounded), and an integer-cross-multiplied flag that fires
    when any key exceeds 10× the mean row count — no double ever
    crosses the engine boundary.

    Scale: one map-side-combinable per-key count, then a one-row
    rollup — the whole report is two aggregates over the shuffle key
    it diagnoses, the same pass a pipeline would piggyback on its
    first groupBy."""
    # No scale_out: the keyed groupBy exchange redistributes anyway
    # (min 0.93 → 0.42 s at sf0.1, bit-identical; a no-op at 100 TB by
    # the guard).
    per_key = (
        load_tables(spark, sf_dir)["events"]
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return per_key.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("n").cast("long").alias("n_rows"),
        F.max("n").cast("long").alias("max_per_key"),
        F.min("n").cast("long").alias("min_per_key"),
        F.expr(
            round4_frac_sql("CAST(SUM(n) AS DECIMAL(38,0))", "COUNT(*)", "div")
        ).alias("avg_per_key"),
        F.expr(
            round4_frac_sql(
                "CAST(MAX(n) AS DECIMAL(38,0)) * COUNT(*)", "SUM(n)", "div"
            )
        ).alias("skew_ratio"),
        # flag: hottest key > 10x mean  <=>  max*n_keys > 10*total
        F.expr(
            "CAST(CASE WHEN CAST(MAX(n) AS DECIMAL(38,0)) * COUNT(*)"
            " > 10 * CAST(SUM(n) AS DECIMAL(38,0)) THEN 1 ELSE 0 END AS INT)"
        ).alias("skew_flag"),
    )


# ---------------------------------------------------------------------------
# rate-limit gate (the acting half of events_burst_rate)
# ---------------------------------------------------------------------------

# Raw-arrival rate gate shared by the batch audit and the streaming
# twin (streaming/gate.py): an event is KEPT iff fewer than
# _RATE_LIMIT same-user events (kept or dropped — raw arrivals)
# precede it inside the trailing _BURST_WINDOW_US window. Sequential
# semantics via LAG over the (us, event_id) total order — the
# event at lag _RATE_LIMIT being strictly inside (us - W, us] means
# this arrival is the (limit+1)-th in window. Deliberately NOT the
# RANGE-frame count: RANGE counts same-timestamp peers that sort
# AFTER the row, which a stream processing events in arrival order
# can never see — LAG is the exact semantics a stateful gate can
# reproduce, so stream==batch parity is achievable and pinned.
_RATE_LIMIT = 2  # bites at both driver scale factors


def rate_limit_keep_flag() -> F.Column:
    """The keep flag over columns (user_id, us, event_id) — ONE
    definition for the batch audit, the batch kept-set, and the
    parity test's expectations."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("us").asc(), F.col("event_id").asc_nulls_last()
    )
    lag_t = F.lag("us", _RATE_LIMIT).over(w)
    return lag_t.isNull() | (lag_t <= F.col("us") - _BURST_WINDOW_US)


def rate_limited_events(events: DataFrame) -> DataFrame:
    """Kept events of a BATCH events DataFrame under the raw-arrival
    rate gate — column-for-column what streaming/gate.py's
    ratelimit_stream emits (parity pinned in tests/test_ratelimit.py).
    The projection IS streaming/gate.py's canonical_events — one
    definition, so the NULL-ts exclusion and id/ts normalization can
    never drift between the batch and streaming halves of the
    parity contract."""
    from ..streaming.gate import canonical_events

    e = canonical_events(events)
    return e.withColumn("_keep", rate_limit_keep_flag()).filter("_keep").select(
        "event_id", "user_id", "event_type", "ts"
    )


@register(
    "events_rate_limit_audit",
    oracle=f"""
    WITH e AS (
      SELECT event_id, user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events WHERE ts IS NOT NULL),
    flagged AS (
      SELECT user_id,
             CASE WHEN LAG(us, {_RATE_LIMIT}) OVER (
                    PARTITION BY user_id
                    ORDER BY us ASC, event_id ASC NULLS LAST) IS NULL
                  OR LAG(us, {_RATE_LIMIT}) OVER (
                    PARTITION BY user_id
                    ORDER BY us ASC, event_id ASC NULLS LAST)
                     <= us - {_BURST_WINDOW_US}
                  THEN 1 ELSE 0 END AS keep
      FROM e)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(keep) AS BIGINT) AS n_kept,
           CAST(COUNT(*) - SUM(keep) AS BIGINT) AS n_dropped
    FROM flagged GROUP BY user_id
    HAVING COUNT(*) - SUM(keep) > 0
    """,
    tags=("events", "rate", "streaming-twin"),
)
def events_rate_limit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user drop audit of the raw-arrival rate gate (keep at most
    ``_RATE_LIMIT`` events per user per trailing hour): users who
    would LOSE events, with kept/dropped counts — the report a
    pipeline reads before enabling the gate, and the batch statement
    of exactly what streaming/gate.py's ratelimit_stream enforces
    live (sequential LAG semantics, see rate_limit_keep_flag — parity
    is achievable and pinned precisely because the gate never counts
    a same-timestamp peer the stream has not yet seen).

    Scale: one exchange on user_id shared by the LAG window and the
    rollup; state-free in batch (the window IS the history)."""
    # No scale_out: the keep-flag window's user_id exchange
    # redistributes anyway (min 1.02 → 0.72 s at sf0.1, bit-identical;
    # a no-op at 100 TB by the guard).
    e = (
        load_tables(spark, sf_dir)["events"]
        .filter(F.col("ts").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        )
    )
    flagged = e.withColumn("keep", rate_limit_keep_flag().cast("int"))
    return (
        flagged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("keep").cast("long").alias("n_kept"),
            (F.count(F.lit(1)) - F.sum("keep")).cast("long").alias("n_dropped"),
        )
        .filter(F.col("n_dropped") > 0)
    )
