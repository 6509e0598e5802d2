"""Streaming rate-limit gate (streaming/gate.py) — stream==batch
parity with plans.analytics.rate_limited_events under the
ordered-replay contract, bounded-state semantics across microbatch
boundaries, and NULL-id Arrow-boundary integrity."""

from __future__ import annotations

import datetime as dt
import glob
import os
import time

from pyspark.sql import functions as F

from conftest import drain_stream
from mypipe_spark.plans.analytics import rate_limited_events
from mypipe_spark.streaming.gate import ratelimit_stream

_EV_SCHEMA = (
    "event_id bigint, user_id bigint, event_type string, ts timestamp_ntz"
)


def _run_stream(spark, src, tmp_path, name, **kw):
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        ratelimit_stream(stream, **kw)
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .outputMode("append")
        .start()
    )
    drain_stream(q)
    return spark.sql(f"SELECT * FROM {name}")


def test_stream_equals_batch_on_ordered_replay(spark, tmp_path):
    """Full-corpus parity: sf0.001 events replayed in (us, event_id)
    range order, one file per microbatch — the streaming kept-set
    must equal the batch LAG gate's row-for-row."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "src")
    (
        ev.filter(F.col("ts").isNotNull())
        .withColumn("us", F.expr("unix_micros(cast(ts as timestamp))"))
        .repartitionByRange(5, "us", "event_id")
        .drop("us")
        .write.parquet(src)
    )
    from mypipe_spark.changelog import stamp_increasing_mtimes

    stamp_increasing_mtimes(src)
    got = sorted(
        tuple(r)
        for r in _run_stream(spark, src, tmp_path, "rl_parity").collect()
    )
    want = sorted(
        tuple(r)
        for r in rate_limited_events(ev)
        .select("event_id", "user_id", "event_type", "ts")
        .collect()
    )
    assert got == want
    assert 0 < len(got) < ev.filter(F.col("ts").isNotNull()).count()


def test_bounded_state_gates_across_microbatch_boundary(spark, tmp_path):
    """The window history must survive a microbatch boundary with
    only `limit` timestamps of state: with limit=2 / window=1h, two
    arrivals in file 1 exhaust user 1's budget; a third 10 minutes
    later in file 2 is DROPPED (the 2nd-last arrival is still in
    window), and a fourth 2h later is kept (window drained)."""
    t0 = dt.datetime(2024, 1, 1)
    m = dt.timedelta(minutes=1)
    src = str(tmp_path / "src")
    f1 = spark.createDataFrame(
        [(1, 1, "click", t0), (2, 1, "click", t0 + 5 * m)], _EV_SCHEMA
    )
    f2 = spark.createDataFrame(
        [(3, 1, "click", t0 + 15 * m), (4, 1, "click", t0 + 135 * m),
         (5, 2, "click", t0 + 16 * m)],
        _EV_SCHEMA,
    )
    f1.coalesce(1).write.parquet(src)
    f2.coalesce(1).write.mode("append").parquet(src)
    parts = sorted(
        (os.path.getmtime(p), p) for p in glob.glob(src + "/part-*.parquet")
    )
    now = time.time()
    for i, (_, p) in enumerate(parts):
        os.utime(p, (now + i, now + i))
    kept = sorted(
        r["event_id"]
        for r in _run_stream(
            spark, src, tmp_path, "rl_state", limit=2, window_us=3_600_000_000
        ).collect()
    )
    # 1, 2 fill the budget; 3 dropped (event 1's t0 still in window);
    # 4 kept (both state times < t0+135m - 1h); 5 is another key
    assert kept == [1, 2, 4, 5]


def test_null_ids_survive_the_arrow_boundary(spark, tmp_path):
    """A kept row with NULL event_id and a NULL user_id key must come
    back as true NULLs through the Arrow state boundary."""
    t0 = dt.datetime(2024, 1, 1)
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(None, 1, "click", t0), (9, None, "click", t0)], _EV_SCHEMA
    ).coalesce(1).write.parquet(src)
    rows = sorted(
        ((r["event_id"], r["user_id"]) for r in
         _run_stream(spark, src, tmp_path, "rl_nulls").collect()),
        key=str,
    )
    assert rows == sorted([(None, 1), (9, None)], key=str)


def test_huge_ids_survive_null_peers_exactly(spark, tmp_path):
    """The gate.py string-copy contract: an event_id beyond float64's
    53-bit mantissa must round-trip EXACTLY even when a NULL id shares
    its key and microbatch (Arrow→pandas promotes the null-bearing
    bigint column to float64 — the pre-round-7 pattern silently
    emitted 2^53+1 as 2^53)."""
    t0 = dt.datetime(2024, 1, 1)
    big = (1 << 53) + 1
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(None, 1, "click", t0), (big, 1, "click", t0 + dt.timedelta(hours=3))],
        _EV_SCHEMA,
    ).coalesce(1).write.parquet(src)
    got = {
        r["event_id"]
        for r in _run_stream(spark, src, tmp_path, "rl_bigid").collect()
    }
    assert big in got and None in got


def test_same_microsecond_mantissa_tie_orders_exactly(spark, tmp_path):
    """The gate's in-batch sort tiebreak must be EXACT, not float64:
    two same-microsecond events whose ids differ only beyond the
    53-bit mantissa (2^53 vs 2^53+1), with a NULL id in the same key
    group forcing the Arrow→pandas float64 promotion, arrive in
    DESCENDING id order — with limit=1 the gate must keep the LOWER id
    (ORDER BY us, event_id ASC NULLS LAST), exactly like the batch LAG
    twin. The pre-round-8 numeric-column sort saw both ids as 2^53.0
    and kept whichever arrived first (the ADVICE residual)."""
    t0 = dt.datetime(2024, 1, 1)
    big = 1 << 53
    src = str(tmp_path / "src")
    ev = spark.createDataFrame(
        [(big + 1, 1, "click", t0), (big, 1, "click", t0),
         (None, 1, "click", t0)],
        _EV_SCHEMA,
    )
    ev.coalesce(1).write.parquet(src)
    kept_stream = [
        r["event_id"]
        for r in _run_stream(
            spark, src, tmp_path, "rl_tie", limit=1,
            window_us=3_600_000_000,
        ).collect()
    ]
    assert kept_stream == [big]


def test_limit_below_one_rejected_at_construction(spark):
    """limit=0 / negative must fail fast with a clear ValueError, not
    an executor-side IndexError on the first event."""
    import pytest

    df = spark.readStream.format("rate").load()
    for bad in (0, -3):
        with pytest.raises(ValueError, match="rate limit"):
            ratelimit_stream(df, limit=bad)


def test_unparseable_ts_is_excluded_not_a_crash(spark, tmp_path):
    """canonical_events filters on the CAST ts (round-8 review): an
    untyped source row whose string ts fails to parse must be
    excluded exactly like a NULL-ts row — on both the stream (where
    it previously reached the pandas gate as us=NaN and killed the
    query on int()) and the shared-projection batch twin."""
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [
            (1, 1, "click", "2024-01-01 00:00:00"),
            (2, 1, "click", "garbage"),
            (3, 1, "click", None),
            (4, 1, "click", "2024-01-01 03:00:00"),
        ],
        "event_id bigint, user_id bigint, event_type string, ts string",
    ).coalesce(1).write.parquet(src)
    kept_stream = sorted(
        r["event_id"]
        for r in _run_stream(
            spark, src, tmp_path, "rl_badts", limit=1,
            window_us=3_600_000_000,
        ).collect()
    )
    ev = spark.read.parquet(src)
    kept_batch = sorted(
        r["event_id"] for r in rate_limited_events(ev).collect()
    )
    # events 2 (unparseable) and 3 (NULL) are excluded on both sides;
    # 1 and 4 are 3h apart so both clear the 1h window
    assert kept_stream == [1, 4]
    assert set(kept_batch) >= {1, 4} and 2 not in kept_batch and 3 not in kept_batch
