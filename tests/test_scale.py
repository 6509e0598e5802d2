"""Scale-toolkit proofs: bucketing removes the join shuffle; salting
rewrites the shuffle key; both preserve exact join semantics."""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from mypipe_spark.operators.scale import salted_join, write_bucketed


def _plan(df, mode: str = "formatted") -> str:
    jm = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        mode
    )
    return df._jdf.queryExecution().explainString(jm)


def _n_exchanges(plan: str) -> int:
    return len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.MULTILINE))


@pytest.fixture()
def no_broadcast(spark):
    """Force real shuffle joins so the assertions see the exchanges."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_eliminates_both_exchanges(
    spark, sf_dir, tmp_path, no_broadcast
):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    od = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )

    # unbucketed baseline: the join shuffles both sides
    base = li.join(od, li.l_orderkey == od.o_orderkey)
    assert _n_exchanges(_plan(base)) == 2

    write_bucketed(li, "li_b", "l_orderkey", 4, str(tmp_path / "li_b"))
    write_bucketed(od, "od_b", "o_orderkey", 4, str(tmp_path / "od_b"))
    try:
        lb, ob = spark.table("li_b"), spark.table("od_b")
        bucketed = lb.join(ob, lb.l_orderkey == ob.o_orderkey)
        # co-located: the bucketed scans ARE the partitioning — no
        # exchange on either side
        assert _n_exchanges(_plan(bucketed)) == 0
        assert bucketed.count() == base.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS od_b")


def test_salted_join_matches_plain_join(spark, sf_dir, no_broadcast):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    od = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_totalprice")
    )
    plain = li.join(od, "l_orderkey")
    salted = salted_join(li, od, "l_orderkey", n_salt=8)
    assert salted.count() == plain.count()
    assert sorted(salted.columns) == sorted(plain.columns)
    # spot-check a per-key aggregate is unchanged
    agg = lambda df: sorted(  # noqa: E731
        tuple(r)
        for r in df.groupBy("l_orderkey")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("q"))
        .collect()
    )
    assert agg(salted) == agg(plain)


def test_salted_join_shuffles_on_salted_key(spark, sf_dir, no_broadcast):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    od = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    plan = _plan(salted_join(li, od, "l_orderkey", n_salt=8))
    # the exchange hashes (key, salt), not the bare hot key
    assert "__salt" in plan
    m = re.search(r"hashpartitioning\(([^)]*)\)", plan)
    assert m and "__salt" in m.group(1)


def test_salted_left_and_semi_joins(spark, sf_dir, no_broadcast):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    half = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderkey") % 2 == 0)
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    for how in ("left", "left_semi", "left_anti"):
        s = salted_join(li, half, "l_orderkey", n_salt=4, how=how)
        p = li.join(half, "l_orderkey", how)
        assert s.count() == p.count(), how

    with pytest.raises(ValueError):
        salted_join(li, half, "l_orderkey", how="full")


def test_partitioned_write_prunes_at_scan(spark, sf_dir, tmp_path):
    """Date-partitioned layout: a day filter must prune partitions at
    planning time (PartitionFilters), reading only that day's files —
    the on-disk analog of predicate pushdown, and the layout the
    catalog queries assume at 100 TB."""
    from mypipe_spark.plans.catalog import load_tables

    ev = load_tables(spark, sf_dir)["events"]
    out = str(tmp_path / "events_by_day")
    ev.withColumn("day", F.to_date("ts")).write.partitionBy("day").parquet(out)

    part = spark.read.parquet(out)
    one_day = part.filter(F.col("day") == "2024-01-05")
    plan = _plan(one_day)
    # the day predicate lands in PartitionFilters (directory pruning),
    # NOT as a row-level PushedFilter — planning skips other days' files
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "day" in pf and "=" in pf
    # ~1/30 of the layout remains: the one matching partition directory
    from pathlib import Path

    day_dirs = [p for p in Path(out).iterdir() if p.name.startswith("day=")]
    assert len(day_dirs) == 30
    n = one_day.count()
    assert 0 < n == ev.filter(F.to_date("ts") == "2024-01-05").count()


def test_every_query_is_total_on_empty_tables(spark, sf_dir, tmp_path):
    """Empty inputs are routine at ingest time (a fresh partition, a
    quiet hour, a new tenant) — every registered query must return an
    empty/degenerate result on 0-row tables, never crash. This sweep
    found two real bugs on first run: the Arrow ANN query indexed
    collect()[0] for its query vector and k-means built
    array_min(array()) from an empty centroid list."""
    import os

    from mypipe_spark.plans.catalog import all_queries

    dst = str(tmp_path / "empty_sf")
    for f in os.listdir(sf_dir):
        if f.endswith(".parquet"):
            spark.read.parquet(f"{sf_dir}/{f}").limit(0).write.mode(
                "overwrite"
            ).parquet(f"{dst}/{f}")
    failures = []
    # measured round 12: an 8-thread overlap of these probes changes
    # nothing (54.5 vs 55.6 s) — per-query cost here is planning plus
    # DAGScheduler event-loop work, both effectively single-threaded
    # on the driver, so the sweep stays sequential-simple
    for name, qd in sorted(all_queries().items()):
        try:
            qd.fn(spark, dst).count()
        except Exception as ex:  # noqa: BLE001 — collecting the full list
            failures.append(f"{name}: {str(ex).splitlines()[0][:90]}")
    assert not failures, failures


def test_scale_smoke_amplify_preserves_structure(spark, sf_dir, tmp_path):
    """The K-fold amplifier behind tools/scale_smoke.py must preserve
    the structural invariants its scaling argument rests on: fact
    tables grow exactly K-fold with replica-disjoint keys, dims stay
    single-copy, foreign keys stay valid (both sides offset together),
    the catalog's user_id%2 routing is unchanged, and document
    replicas share zero words (so shingle work replicates
    independently instead of exploding quadratically)."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    import scale_smoke

    out = str(tmp_path / "amp")
    scale_smoke.amplify(spark, sf_dir, 3, out)

    base_orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    amp_orders = spark.read.parquet(f"{out}/orders.parquet")
    assert amp_orders.count() == 3 * base_orders.count()
    assert (
        spark.read.parquet(f"{out}/nation.parquet").count()
        == spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    )

    # FK integrity after offsetting: every o_custkey resolves
    cust = spark.read.parquet(f"{out}/customer.parquet")
    dangling = amp_orders.join(
        cust, amp_orders.o_custkey == cust.c_custkey, "left_anti"
    )
    assert dangling.count() == 0

    # user_id parity routing preserved replica-by-replica
    base_even = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter("user_id % 2 = 0")
        .count()
    )
    amp_even = (
        spark.read.parquet(f"{out}/events.parquet")
        .filter("user_id % 2 = 0")
        .count()
    )
    assert amp_even == 3 * base_even

    # document replicas are word-disjoint (hence shingle-disjoint)
    docs = spark.read.parquet(f"{out}/documents.parquet")
    words = docs.select(
        (F.col("doc_id") / 1_000_000_000).cast("long").alias("replica"),
        F.explode(F.split("text", " ")).alias("w"),
    ).distinct()
    cross = (
        words.groupBy("w")
        .agg(F.countDistinct("replica").alias("n_rep"))
        .filter("n_rep > 1")
    )
    assert cross.count() == 0
    # and n_chars matches the rewritten text
    assert docs.filter(F.length("text") != F.col("n_chars")).count() == 0

    # embedding replicas are ROTATED copies: norms (hence every
    # intra-replica similarity) are preserved exactly, but the raw
    # vectors differ so replicas do not systematically share LSH
    # buckets (identical copies would inflate bucketed-ANN candidate
    # volume K^2-fold and invalidate the linear-work premise)
    norm = F.expr("aggregate(embedding, cast(0 as double), (a, x) -> a + x*x)")
    emb = spark.read.parquet(f"{out}/embeddings.parquet")
    base_norms = sorted(
        r[0] for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select(norm).collect()
    )
    rep1 = emb.filter(
        (F.col("vec_id") >= 1_000_000_000) & (F.col("vec_id") < 2_000_000_000)
    )
    assert sorted(r[0] for r in rep1.select(norm).collect()) == base_norms
    first_base = spark.read.parquet(f"{sf_dir}/embeddings.parquet").orderBy(
        "vec_id"
    ).first()
    first_rep1 = rep1.orderBy("vec_id").first()
    assert first_rep1["embedding"] != first_base["embedding"]
    assert sorted(first_rep1["embedding"]) == sorted(first_base["embedding"])


def test_scale_smoke_amplify_rejects_rotation_overflow(spark, sf_dir, tmp_path):
    """factor > 64 exceeds the embedding rotation period: replica 64
    would be bit-identical to replica 0 and quadratically inflate the
    LSH/near-dup planes — the amplifier must refuse instead of
    producing a corpus that measures itself."""
    import os
    import sys

    import pytest as _pytest

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    import scale_smoke

    with _pytest.raises(ValueError, match="rotation period"):
        scale_smoke.amplify(spark, sf_dir, 65, str(tmp_path / "amp_overflow"))


def test_keyed_state_retention_spares_reader_window(spark, sf_dir, tmp_path):
    """Pruning must keep the newest `retain` committed snapshots even
    when they sit below prune_below — the window an external reader
    that just resolved _LATEST needs to finish a lazy scan."""
    from mypipe_spark.streaming.upsert import KeyedStateDir, latest_state_merge

    events = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .orderBy("ts", "event_id")
        .limit(300)
    )
    store = KeyedStateDir(str(tmp_path / "retention"))
    state = None
    for b in range(4):
        chunk = events.limit((b + 1) * 75).subtract(events.limit(b * 75))
        state = latest_state_merge(state, chunk)
        prior = store.latest_before(b)
        store.write(state, b, prune_below=prior)
        state = store.read_version(spark, b)
    # prune_below at batch 3 was 2; without the retain window v0 and v1
    # would both be gone — retain=2 keeps {2, 3} plus nothing older
    assert store.complete_versions() == [2, 3]
    # and a tighter retain still never deletes the consumed snapshot
    assert store.read(spark).count() > 0


def test_exact_ntile_matches_window_ntile(spark):
    """exact_ntile's two-pass distributed ranking must reproduce
    ntile().over(Window.orderBy(...)) bit-for-bit — including tie
    handling via the unique tiebreak, uneven bucket sizes (first
    n mod k buckets one row larger), and the n < k edge."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mypipe_spark.operators.scale import exact_ntile

    rng = random.Random(11)
    rows = [(i, rng.randrange(40)) for i in range(997)]  # heavy ties
    df = spark.createDataFrame(rows, "id int, v int")
    for k in (3, 10, 64):
        got = {
            r["id"]: r["nt"]
            for r in exact_ntile(df, k, ["v", "id"], out_col="nt").collect()
        }
        w = Window.orderBy("v", "id")
        want = {
            r["id"]: r["nt"]
            for r in df.select("id", F.ntile(k).over(w).alias("nt")).collect()
        }
        assert got == want, f"k={k}"
    # n < k: every row is its own bucket, numbered by rank
    tiny = spark.createDataFrame([(1, 5), (2, 3), (3, 9)], "id int, v int")
    got = {
        r["id"]: r["nt"]
        for r in exact_ntile(tiny, 10, ["v", "id"], out_col="nt").collect()
    }
    assert got == {2: 1, 1: 2, 3: 3}
    # NULLs in the ordering column: both the range partitioner and the
    # window sort NULLS FIRST — buckets must still agree exactly
    withnulls = spark.createDataFrame(
        [(i, None if i % 7 == 0 else i % 13) for i in range(200)],
        "id int, v int",
    )
    got = {
        r["id"]: r["nt"]
        for r in exact_ntile(withnulls, 5, ["v", "id"], out_col="nt").collect()
    }
    w = Window.orderBy("v", "id")
    want = {
        r["id"]: r["nt"]
        for r in withnulls.select("id", F.ntile(5).over(w).alias("nt")).collect()
    }
    assert got == want


def test_exact_ntile_fn_defers_jobs_to_invocation(spark):
    """exact_ntile is EAGER at call time (range-partition materialize +
    P-scalar collect — documented); exact_ntile_fn is the composition-
    safe form: BUILDING the closure must run zero Spark jobs, and the
    two-job cost lands only when the closure is applied to a concrete
    DataFrame (the foreachBatch contract). Pinned by counting jobs per
    job group."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mypipe_spark.operators.scale import exact_ntile_fn

    sc = spark.sparkContext
    df = spark.createDataFrame([(i, i % 17) for i in range(500)], "id int, v int")

    sc.setJobGroup("ntile_build", "closure construction must be lazy")
    bucketize = exact_ntile_fn(4, ["v", "id"], out_col="nt")
    assert list(sc.statusTracker().getJobIdsForGroup("ntile_build")) == []

    sc.setJobGroup("ntile_apply", "eager offsets land here")
    out = bucketize(df)
    # the eager prelude (localCheckpoint + per-partition counts) ran
    assert len(sc.statusTracker().getJobIdsForGroup("ntile_apply")) >= 2
    sc.setJobGroup("ntile_result", "")
    got = {r["id"]: r["nt"] for r in out.collect()}
    w = Window.orderBy("v", "id")
    want = {
        r["id"]: r["nt"]
        for r in df.select("id", F.ntile(4).over(w).alias("nt")).collect()
    }
    assert got == want
    sc.setJobGroup("", "")


def test_exact_ntile_multi_matches_window_ntile_and_builds_in_one_job(spark):
    """exact_ntile_multi's contract, both halves:

    1. CORRECTNESS — every axis's buckets are bit-identical to the
       single-partition window NTILE over that axis's ordering,
       including the skewed-key case (many ties straddling a coarse
       boundary) and n not divisible by k.
    2. BUILD COST — constructing the plan runs ONE collect action (the
       shared boundary sketch; AQE may stage it as up to 3 tiny jobs),
       and the job count is INVARIANT in the number of axes — not the
       two eager jobs per axis the chained exact_ntile form paid (the
       round-6 events_rfm_segments verdict item)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mypipe_spark.operators.scale import exact_ntile_multi

    sc = spark.sparkContext
    # skewed v (ties), distinct w, n=503 (not divisible by 4)
    df = spark.createDataFrame(
        [(i, i % 7, (i * 31) % 503) for i in range(503)],
        "id int, v int, w int",
    ).repartition(8)

    sc.setJobGroup("ntile_multi_build_one", "single-axis build")
    exact_ntile_multi(df, 4, [("v_q", ["v", "id"])])
    one = len(sc.statusTracker().getJobIdsForGroup("ntile_multi_build_one"))

    sc.setJobGroup("ntile_multi_build", "one boundary collect only")
    out = exact_ntile_multi(
        df, 4, [("v_q", ["v", "id"]), ("w_q", ["w", "id"])]
    )
    both = len(sc.statusTracker().getJobIdsForGroup("ntile_multi_build"))
    assert both == one <= 3, (one, both)
    sc.setJobGroup("ntile_multi_check", "")
    got = {r["id"]: (r["v_q"], r["w_q"]) for r in out.collect()}
    want = {
        r["id"]: (r["v_q"], r["w_q"])
        for r in df.select(
            "id",
            F.ntile(4).over(Window.orderBy("v", "id")).alias("v_q"),
            F.ntile(4).over(Window.orderBy("w", "id")).alias("w_q"),
        ).collect()
    }
    assert got == want
    # tiny input: n < k leaves empty high buckets, exactly like NTILE
    tiny = spark.createDataFrame([(1, 10), (2, 5)], "id int, v int")
    got_t = {
        r["id"]: r["q"]
        for r in exact_ntile_multi(tiny, 4, [("q", ["v", "id"])]).collect()
    }
    assert got_t == {2: 1, 1: 2}


def test_exact_ntile_multi_null_keys_rank_first(spark):
    """Documented NULL contract: NULL ranking keys land in the lowest
    coarse bucket and rank FIRST, matching Spark's ascending
    NULLS FIRST window order — bit-equal to the window NTILE."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mypipe_spark.operators.scale import exact_ntile_multi

    rows = [(i, None if i % 5 == 0 else i * 3 % 97) for i in range(60)]
    df = spark.createDataFrame(rows, "id int, v int").repartition(6)
    got = {
        r["id"]: r["q"]
        for r in exact_ntile_multi(df, 4, [("q", ["v", "id"])]).collect()
    }
    want = {
        r["id"]: r["q"]
        for r in df.select(
            "id", F.ntile(4).over(Window.orderBy("v", "id")).alias("q")
        ).collect()
    }
    assert got == want
    # the NULL-key rows all landed in bucket 1 (the lowest)
    assert {got[i] for i in range(0, 60, 5)} == {1}


def test_exact_ntile_multi_single_partition_short_circuits(spark):
    """partitions=1 (the defaultParallelism==1 single-core session
    shape) has NO interior boundaries to sketch: the builder must skip
    the boundary collect entirely — zero build jobs, no
    percentile_approx over an empty F.array() (an untyped array<null>
    aggregate) — and the lit(0) single-bucket path must still be
    bit-equal to the window NTILE."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mypipe_spark.operators.scale import exact_ntile_multi

    sc = spark.sparkContext
    df = spark.createDataFrame(
        [(i, (i * 13) % 41) for i in range(83)], "id int, v int"
    ).repartition(4)
    sc.setJobGroup("ntile_multi_p1_build", "must be job-free")
    out = exact_ntile_multi(df, 4, [("q", ["v", "id"])], partitions=1)
    assert len(sc.statusTracker().getJobIdsForGroup("ntile_multi_p1_build")) == 0
    sc.setJobGroup("ntile_multi_p1_check", "")
    got = {r["id"]: r["q"] for r in out.collect()}
    want = {
        r["id"]: r["q"]
        for r in df.select(
            "id", F.ntile(4).over(Window.orderBy("v", "id")).alias("q")
        ).collect()
    }
    assert got == want


def test_exact_ntile_multi_sketch_accuracy_cannot_move_results(spark, monkeypatch):
    """Round-11 pin for the NTILE_SKETCH_ACCURACY knob: the boundary
    sketch only BALANCES the coarse buckets — the rank arithmetic is
    exact for any monotone bucketing applied consistently to both plan
    sides — so changing the accuracy (even to a degenerate 10, which
    visibly moves the frozen boundaries) must leave every bucket
    bit-identical to the window NTILE. Guards the round-11 default
    drop 10_000 → 1_000 and any future retune."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mypipe_spark.operators import scale as S

    df = spark.createDataFrame(
        [(i, i % 11, (i * 29) % 251) for i in range(251)],
        "id int, v int, w int",
    ).repartition(8)
    want = {
        r["id"]: (r["v_q"], r["w_q"])
        for r in df.select(
            "id",
            F.ntile(4).over(Window.orderBy("v", "id")).alias("v_q"),
            F.ntile(4).over(Window.orderBy("w", "id")).alias("w_q"),
        ).collect()
    }
    # sweep BOTH knobs: the effective accuracy is
    # max(NTILE_SKETCH_ACCURACY, NTILE_SKETCH_MIN_PER_BUCKET · P), so
    # the factor must drop to 0 for the degenerate accuracy-10 case to
    # actually reach percentile_approx (round-12: the factor exists so
    # a production-scale P keeps accuracy >> P; see scale.py)
    for acc, factor in ((10, 0), (1_000, 10), (10_000, 10)):
        monkeypatch.setattr(S, "NTILE_SKETCH_ACCURACY", acc)
        monkeypatch.setattr(S, "NTILE_SKETCH_MIN_PER_BUCKET", factor)
        got = {
            r["id"]: (r["v_q"], r["w_q"])
            for r in S.exact_ntile_multi(
                df, 4, [("v_q", ["v", "id"]), ("w_q", ["w", "id"])]
            ).collect()
        }
        assert got == want, f"accuracy {acc} moved ntile buckets"
