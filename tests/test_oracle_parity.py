"""Pytest twin of the driver's correctness gate: every registered
query runs on Spark AND through its DuckDB oracle at sf0.001; row
count, column set, and order-insensitive values must agree.

(tools/check_oracle.py is the same comparison as a CLI, usable at any
SF; this test keeps the gate inside `pytest tests/`.)
"""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from mypipe_spark.plans.catalog import TABLE_NAMES, all_queries

_QUERIES = all_queries()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


def _normalize(rows):
    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else round(v, 6)
        return v

    return sorted(
        (tuple(norm(v) for v in r) for r in rows),
        key=lambda r: tuple((x is None, str(x)) for x in r),
    )


def test_approx_quartiles_within_error_of_exact(spark, sf_dir):
    """The sketch twin of q_quantity_quartiles must sit within the GK
    sketch's relative rank error of the exact quartiles. With accuracy
    10000 the rank error is 1/10000, which on the integral 1..50
    quantity domain means the approx value can differ from the exact
    interpolated value by at most one quantity step."""
    exact = {
        r["l_returnflag"]: (r["q25"], r["q50"], r["q75"])
        for r in _QUERIES["q_quantity_quartiles"].fn(spark, sf_dir).collect()
    }
    approx = {
        r["l_returnflag"]: (r["q25"], r["q50"], r["q75"])
        for r in _QUERIES["q_quantity_quartiles_approx"].fn(spark, sf_dir).collect()
    }
    assert exact.keys() == approx.keys()
    for flag, (e25, e50, e75) in exact.items():
        a25, a50, a75 = approx[flag]
        for e, a in ((e25, a25), (e50, a50), (e75, a75)):
            assert abs(e - a) <= 1.0, (flag, e, a)


def test_approx_distinct_within_rsd_of_exact(spark, sf_dir):
    """q_approx_distinct_parts' HLL++ estimate must sit within its
    configured rsd of the exact distinct count: the query is built with
    rsd=0.02, so per-group relative error ≤ 6% (3σ) — the accuracy pin
    its docstring promises (the rows-only oracle contract below only
    proves it executes)."""
    exact = {
        r["l_returnflag"]: r["n"]
        for r in spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(F.count_distinct("l_partkey").alias("n"))
        .collect()
    }
    approx = {
        r["l_returnflag"]: r["approx_parts"]
        for r in _QUERIES["q_approx_distinct_parts"].fn(spark, sf_dir).collect()
    }
    assert exact.keys() == approx.keys()
    for flag, e in exact.items():
        a = approx[flag]
        assert abs(a - e) / e <= 0.06, (flag, e, a)


def test_approx_deciles_track_exact(spark, sf_dir):
    """q_customer_balance_deciles_approx must reproduce the exact NTILE
    decile structure: all 10 buckets present, every customer in exactly
    one bucket, bucket ranges strictly ordered and non-overlapping, and
    each bucket's population within 10% of the table (=n/10 up to
    cutpoint-tie slack — at test scale approx_percentile's accuracy
    exceeds the row count, so cutpoints are exact discrete quantiles
    and only boundary ties can move mass between adjacent buckets)."""
    rows = sorted(
        _QUERIES["q_customer_balance_deciles_approx"].fn(spark, sf_dir).collect(),
        key=lambda r: r["decile"],
    )
    total = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert [r["decile"] for r in rows] == list(range(1, 11))
    assert sum(r["n_customers"] for r in rows) == total
    for prev, cur in zip(rows, rows[1:]):
        assert prev["hi"] <= cur["lo"]
    for r in rows:
        assert r["lo"] <= r["hi"]
        assert abs(r["n_customers"] - total / 10) <= 0.10 * total


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, duck):
    qd = _QUERIES[name]
    sdf = qd.fn(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    if qd.oracle is None:
        # rows-only contract: it must at least execute and be stable
        assert isinstance(srows, list)
        return
    res = duck.execute(qd.oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(sdf.columns) == sorted(ocols)
    sidx = [sdf.columns.index(c) for c in sorted(sdf.columns)]
    oidx = [ocols.index(c) for c in sorted(ocols)]
    s_n = _normalize(tuple(r[i] for i in sidx) for r in srows)
    o_n = _normalize(tuple(r[i] for i in oidx) for r in orows)
    assert len(s_n) == len(o_n)
    assert s_n == o_n


def test_quantization_is_engine_exact_at_float_boundaries(spark, tmp_path):
    """The embedding quantizer must produce IDENTICAL integers in Spark
    and DuckDB even for float values whose scaled form sits on a .5
    boundary. Without the explicit CAST(x AS DOUBLE), DuckDB ran
    float*10000 in FLOAT arithmetic (rounding -0.20535f*10000 to
    exactly -2053.5 → -2054) while Spark promoted to double
    (-2053.49997 → -2053) — found live at sf0.1. Planted boundary
    values pin the fix.

    The same contract holds for the Arrow kernel (functions.vector.
    _quantize_batch), and on array<double> input whose double product
    x*10000 is exactly k+0.5 (5e-05, 2.5e-04, 3.5e-04: half away from
    zero, not banker's) or a hair below it (1.5e-04 → 1.4999999999999998)."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mypipe_spark.functions.vector import (
        QUANTIZE_DUCKDB,
        _quantize_batch,
        quantize,
    )

    f32_vals = [
        -0.20534999668598175,  # the live sf0.1 culprit
        0.20534999668598175,
        0.00005, -0.00005, 0.00015, -0.00015,  # exact .5 scaled decimals
        0.12345, -0.54321, 1.0, -1.0, 0.0,
    ]
    f64_vals = [5e-05, -5e-05, 1.5e-04, -1.5e-04, 2.5e-04, -2.5e-04, 3.5e-04, -3.5e-04]
    con = duckdb.connect()
    got = {}
    for name, vals, dtype, pa_type in (
        ("float", f32_vals, np.float32, pa.float32()),
        ("double", f64_vals, np.float64, pa.float64()),
    ):
        emb = np.array(vals, dtype=dtype)
        path = str(tmp_path / f"emb_{name}.parquet")
        pq.write_table(
            pa.table({"embedding": pa.array([emb.tolist()], pa.list_(pa_type))}),
            path,
        )
        got_spark = spark.read.parquet(path).select(quantize().alias("qv")).collect()[0]["qv"]
        got_duck = con.execute(
            f"SELECT {QUANTIZE_DUCKDB} FROM read_parquet('{path}')"
        ).fetchone()[0]
        got_arrow = _quantize_batch(pd.Series([emb]))[0].tolist()
        assert list(got_spark) == list(got_duck) == got_arrow, name
        got[name] = got_arrow
    con.close()
    assert got["double"] == [1, -1, 1, -1, 3, -3, 4, -4]


def test_round_mean_sql_is_exact_half_away_rounding(spark):
    """round_div_sql must equal exact rational round-half-away-from-
    zero in BOTH engines for any integer sum / positive count — the
    property that makes centroid means portable. Randomized integer
    grid including every residue around .5 boundaries."""
    import random
    from fractions import Fraction

    from mypipe_spark.plans.catalog import round_div_sql

    rng = random.Random(11)
    cases = [(s, c) for s in (-7, -6, -5, -3, -1, 0, 1, 3, 5, 6, 7) for c in (1, 2, 3, 4)]
    cases += [(rng.randint(-10**9, 10**9), rng.randint(1, 10**6)) for _ in range(200)]

    def expected(s, c):
        q = Fraction(abs(s), c)
        r = int(q) + (1 if q - int(q) >= Fraction(1, 2) else 0)
        return r if s >= 0 else -r

    values = ", ".join(f"({s}, {c})" for s, c in cases)
    duck_sql = (
        f"SELECT {round_div_sql('s', 'c', '//')} FROM (VALUES {values}) AS t(s, c)"
    )
    con = duckdb.connect()
    got_duck = [r[0] for r in con.execute(duck_sql).fetchall()]
    con.close()
    spark_df = spark.createDataFrame(cases, "s long, c long")
    got_spark = [
        r["r"]
        for r in spark_df.select(
            F.expr(round_div_sql("s", "c", "div")).alias("r"), "s", "c"
        ).orderBy("s", "c").collect()
    ]
    exp_sorted = [expected(s, c) for s, c in sorted(cases)]
    assert got_spark == exp_sorted
    assert sorted(got_duck) == sorted(exp_sorted)


def test_avg_sql_text_no_bigint_ceiling(spark):
    """_avg_sql_text must stay exact and engine-agreeing when a group's
    base-unit sum exceeds the old BIGINT micro-unit ceiling (~4.6e12):
    the sum is kept in the DECIMAL domain (Spark) / HUGEINT (DuckDB)
    instead of int64 micro-units. Regression for the sf~100 overflow
    (TPC-H avg_price) flagged in round-3 advice."""
    from fractions import Fraction

    from mypipe_spark.plans.analytics import _avg_sql_text

    # 3 rows summing to 1.50000000000005e13 base units — the old form
    # cast S*1e6 to BIGINT and threw CAST_OVERFLOW in both engines.
    vals = [(5_000_000_000_000.25,), (5_000_000_000_000.25,), (5_000_000_000_000.0,)]
    micro = sum(int(Fraction(str(v[0])) * 1_000_000) for v in vals)
    q = Fraction(micro, 100 * len(vals))
    half_up = int(q) + (1 if q - int(q) >= Fraction(1, 2) else 0)
    # mirror the engine pipeline: int → double cast, THEN /1e4 (two
    # roundings; a single correctly-rounded int/int division differs
    # in the last ulp at this magnitude)
    expected = float(half_up) / 10_000

    got_spark = (
        spark.createDataFrame(vals, "v double")
        .selectExpr(f"{_avg_sql_text('v', 'div')} AS a")
        .collect()[0]["a"]
    )
    values = ", ".join(f"({v[0]!r})" for v in vals)
    con = duckdb.connect()
    got_duck = con.execute(
        f"SELECT {_avg_sql_text('v', '//')} AS a FROM (VALUES {values}) t(v)"
    ).fetchone()[0]
    con.close()
    assert got_spark == expected
    assert got_duck == expected


def test_round_micro_ratio_sql_is_exact_half_up(spark):
    """round_micro_ratio_sql must equal exact rational half-up rounding
    in BOTH engines, including on .5-repr boundaries where ROUND over
    the double quotient diverges (0.54375 → Spark's shortest-repr
    HALF_UP says 0.5438, DuckDB's binary value says 0.5437 — the q14/
    q8/q17 ratio displays ran exactly that double ROUND before) and
    beyond the int64 micro-unit ceiling."""
    from fractions import Fraction

    from mypipe_spark.plans.catalog import micro_sum_sql, round_micro_ratio_sql

    # (numerator rows, denominator rows, mult, digits)
    cases = [
        ([0.54375], [100.0], 100, 4),          # .5-repr boundary at 1e-4
        ([0.000087], [0.00016], 1, 4),         # 87/160 = 0.54375 again
        ([12.25, 3.75], [7.0], 1, 2),          # plain q17 shape
        ([5_000_000_000_000.25], [7.0], 1, 2),  # micro sum ·100 > int64
        ([1.5, 2.25, 3.125], [2.0, 1.5], 100, 4),
    ]

    for nums, dens, mult, digits in cases:
        width = max(len(nums), len(dens))
        rows = [
            (
                nums[i] if i < len(nums) else 0.0,
                dens[i] if i < len(dens) else 0.0,
            )
            for i in range(width)
        ]
        t1 = sum(round(Fraction(str(a)) * 1_000_000) for a, _ in rows)
        t2 = sum(round(Fraction(str(b)) * 1_000_000) for _, b in rows)
        q = Fraction(t1 * mult * 10**digits, t2)
        half_up = int(q) + (1 if q - int(q) >= Fraction(1, 2) else 0)
        expected = float(half_up) / 10**digits

        spark_expr = round_micro_ratio_sql(
            micro_sum_sql("a"), micro_sum_sql("b"), mult, digits, "div"
        )
        got_spark = (
            spark.createDataFrame(rows, "a double, b double")
            .selectExpr(f"{spark_expr} AS r")
            .collect()[0]["r"]
        )
        duck_expr = round_micro_ratio_sql(
            micro_sum_sql("a"), micro_sum_sql("b"), mult, digits, "//"
        )
        values = ", ".join(f"({a!r}, {b!r})" for a, b in rows)
        con = duckdb.connect()
        got_duck = con.execute(
            f"SELECT {duck_expr} AS r FROM (VALUES {values}) t(a, b)"
        ).fetchone()[0]
        con.close()
        assert got_spark == expected, (nums, dens, mult, digits)
        assert got_duck == expected, (nums, dens, mult, digits)


def test_round4_double_sql_is_portable_on_boundary_reprs(spark):
    """round4_double_sql must agree between engines exactly where
    plain ROUND(d, 4) does not: k/10^5 boundary reprs (0.54375) and
    binary-exact halves (0.03125)."""
    from mypipe_spark.plans.catalog import round4_double_sql

    vals = [0.54375, -0.54375, 0.03125, -0.03125, 0.99995, 0.123456789, 0.0]
    expr_s = round4_double_sql("v")
    got_spark = [
        r["r"]
        for r in spark.createDataFrame([(v,) for v in vals], "v double")
        .selectExpr(f"{expr_s} AS r")
        .collect()
    ]
    con = duckdb.connect()
    values = ", ".join(f"({v!r})" for v in vals)
    got_duck = [
        r[0]
        for r in con.execute(
            f"SELECT {round4_double_sql('v')} AS r FROM (VALUES {values}) t(v)"
        ).fetchall()
    ]
    con.close()
    assert got_spark == got_duck
    # the binary-exact half rounds away from zero in both engines
    assert got_spark[vals.index(0.03125)] == 0.0313
    assert got_spark[vals.index(-0.03125)] == -0.0313


def test_zero_norm_vectors_agree_with_oracles(spark, tmp_path):
    """All-zero embeddings (or vectors quantizing to zero) must score
    0.0 in BOTH engines. The Spark plans guard the division
    (functions.vector.cosine); the oracles used to compute 0/0 = NaN,
    which DuckDB orders ABOVE every number — the zero vector would top
    the oracle's top-k and pass similarity thresholds while Spark
    excluded it. Replay the oracle comparison over a corpus with a
    planted zero vector."""
    import os
    import shutil
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    import check_oracle

    src = "/root/testdata/sf0.001"
    dst = str(tmp_path / "sfz")
    os.mkdir(dst)
    for t in TABLE_NAMES:
        if t != "embeddings":
            shutil.copy(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")
    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    label = emb.select("label").first()[0]
    fields = dict(emb.dtypes)
    zero = spark.createDataFrame(
        [(999_999, label, [0.0] * dim)],
        f"vec_id {fields['vec_id']}, label {fields['label']},"
        f" embedding {fields['embedding']}",
    )
    # DuckDB reads the fixture layout (one plain file per table), so
    # land the part file at <dst>/embeddings.parquet, not a directory
    scratch = str(tmp_path / "emb_scratch")
    emb.unionByName(zero).coalesce(1).write.parquet(scratch)
    part = next(
        f for f in os.listdir(scratch)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    os.rename(os.path.join(scratch, part), f"{dst}/embeddings.parquet")

    failures = check_oracle.run(
        dst,
        {
            "ann_topk_bruteforce", "ann_topk_ivf", "ann_topk_lsh",
            "ann_topk_pandas", "ann_topk_batch", "ann_topk_batch_lsh",
            "dedup_embedding_cosine",
        },
    )
    assert failures == []


def test_q12_null_orderdate_counts_as_neither_late_nor_ontime(spark, tmp_path):
    """q12's two counters must each state their OWN predicate: a NULL
    o_orderdate makes both date comparisons NULL, and the oracle's two
    explicit CASE forms count such a row in NEITHER column. The
    complement form ``when(late, 0).otherwise(1)`` silently counted it
    as on-time (late = NULL falls to otherwise) — the q12 twin of the
    count_of_sql NULL-asymmetry class. The fixture has no NULL
    orderdates, so driver parity alone can never catch a regression;
    this replays the driver comparison over a corpus with a planted
    NULL-orderdate order that owns an in-window lineitem.

    Scope note: the relational plane sits behind the declared
    ingest-trust gate — q_data_quality_audit flags exactly this corpus
    (in_range(o_orderdate) counts NULL as a violation, and
    not_null(l_shipdate) covers the other q12 input), so the fix is
    defense-in-depth: the query must agree with its oracle even on
    input the gate would have rejected. The TPC-H columns are NOT NULL
    by spec, which is why (unlike the events/documents planes, which
    carry standing dirty-corpus sweeps) the relational suite's NULL
    posture is gate-then-query rather than per-query NULL contracts."""
    import os
    import shutil
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    import check_oracle

    src = "/root/testdata/sf0.001"
    dst = str(tmp_path / "sfnod")
    os.mkdir(dst)
    for t in TABLE_NAMES:
        if t not in ("orders", "lineitem"):
            shutil.copy(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")

    def land_single_parquet(df, out_path, scratch):
        # DuckDB reads the fixture layout (one plain file per table)
        df.coalesce(1).write.parquet(scratch)
        part = next(
            f for f in os.listdir(scratch)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        os.rename(os.path.join(scratch, part), out_path)

    orders = spark.read.parquet(f"{src}/orders.parquet")
    li = spark.read.parquet(f"{src}/lineitem.parquet")
    ot, lt = dict(orders.dtypes), dict(li.dtypes)
    extra_o = orders.limit(1).select(
        F.lit(999_999).cast(ot["o_orderkey"]).alias("o_orderkey"),
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.lit(None).cast(ot["o_orderdate"]).alias("o_orderdate"),
        F.lit("1-URGENT").cast(ot["o_orderpriority"]).alias("o_orderpriority"),
    )
    # the planted order owns a lineitem INSIDE q12's shipdate window,
    # so the NULL-date row actually reaches both counters
    extra_li = li.limit(1).select(
        F.lit(999_999).cast(lt["l_orderkey"]).alias("l_orderkey"),
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        F.lit("1996-06-01").cast(lt["l_shipdate"]).alias("l_shipdate"),
    )
    land_single_parquet(
        orders.unionByName(extra_o),
        f"{dst}/orders.parquet",
        str(tmp_path / "o_scratch"),
    )
    land_single_parquet(
        li.unionByName(extra_li),
        f"{dst}/lineitem.parquet",
        str(tmp_path / "li_scratch"),
    )

    assert check_oracle.run(dst, {"q12_late_shipments"}) == []
    # and the planted row is in NEITHER column: totals off by exactly 1
    from mypipe_spark.plans.tpch import q12_late_shipments

    base = q12_late_shipments(spark, src).collect()
    planted = q12_late_shipments(spark, dst).collect()
    tot = lambda rows: sum(r["n_late"] + r["n_ontime"] for r in rows)  # noqa: E731
    n_rows = lambda d: sum(  # noqa: E731
        r["cnt"]
        for r in spark.sql(
            f"SELECT COUNT(*) AS cnt FROM parquet.`{d}/lineitem.parquet` l"
            f" JOIN parquet.`{d}/orders.parquet` o"
            " ON o.o_orderkey = l.l_orderkey"
            " WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'"
            "   AND l.l_shipdate <  TIMESTAMP '1997-01-01'"
        ).collect()
    )
    assert n_rows(dst) == n_rows(src) + 1  # the planted row joined
    assert tot(planted) == tot(base)  # ...but counted in neither bucket


def test_sketch_check_twins_can_go_red(spark):
    """The _check twins' claims must be FALSIFIABLE, not vacuous: feed
    each check's core an out-of-contract input and pin that the
    boolean flips. (The driver only proves the twins stay green on
    healthy sketches; this proves a broken sketch would turn them
    red.)"""
    from pyspark.sql import functions as F

    from mypipe_spark.plans.analytics import _rank_bound_checks

    # GK rank contract: a "cutpoint" whose rank interval sits far from
    # the requested quantile must fail the bound
    rows = [(100, 10, 12)]  # n=100, lt=10, le=12 claimed as the p=0.75 cut
    g = spark.createDataFrame(rows, "n long, lt0 long, le0 long")
    bad = g.select(_rank_bound_checks([0.75], 1e-4)[0].alias("ok")).collect()[0]["ok"]
    assert bad is False
    ok = spark.createDataFrame([(100, 74, 76)], "n long, lt0 long, le0 long")
    assert ok.select(_rank_bound_checks([0.75], 1e-4)[0].alias("ok")).collect()[0]["ok"] is True

    # HLL tolerance: drive the PRODUCTION claim expression (not a
    # local copy of the arithmetic) and verify it flips outside 3*rsd
    from mypipe_spark.plans.analytics import hll_within_tol
    from mypipe_spark.plans.catalog import APPROX_RSD

    tol = 3 * APPROX_RSD
    df = spark.createDataFrame(
        [(1000, int(1000 * (1 + tol) + 2)), (1000, int(1000 * (1 + tol) - 2))],
        "exact long, approx long",
    )
    got = [
        r[0]
        for r in df.select(
            hll_within_tol(F.col("exact"), F.col("approx"))
        ).collect()
    ]
    assert got == [False, True]


def test_hll_rollup_claims_are_falsifiable_and_hold(spark, sf_dir):
    """events_hll_rollup_check's two claim columns, pinned: (1) the
    tolerance expression is the PRODUCTION one and flips outside
    HLL_ROLLUP_TOL; (2) on the fixture, union-of-daily-sketches
    estimates EQUAL the one global sketch's estimate (register-wise
    max is order/partition independent) and sit within tolerance of
    the exact count."""
    from pyspark.sql import functions as F

    from mypipe_spark.plans.analytics import (
        HLL_ROLLUP_TOL,
        hll_rollup_within_tol,
    )
    from mypipe_spark.plans.catalog import QUERIES, all_queries

    all_queries()
    df = spark.createDataFrame(
        [
            (1000, float(int(1000 * (1 + HLL_ROLLUP_TOL)) + 2)),
            (1000, float(int(1000 * (1 + HLL_ROLLUP_TOL)) - 2)),
        ],
        "exact long, est double",
    )
    got = [
        r[0]
        for r in df.select(
            hll_rollup_within_tol(F.col("exact"), F.col("est"))
        ).collect()
    ]
    assert got == [False, True]

    row = QUERIES["events_hll_rollup_check"].fn(spark, sf_dir).collect()[0]
    assert row["merge_consistent"] is True
    assert row["within_tol"] is True
    assert row["n_days"] > 1 and row["exact_users"] > 0
