"""Streaming debounce (streaming/gate.py) — stream==batch parity with
plans.analytics.debounce_starters under the ordered-replay contract,
and state persistence across microbatch boundaries."""

from __future__ import annotations

import datetime as dt
import os
import time

from pyspark.sql import functions as F

from conftest import drain_stream
from mypipe_spark.plans.analytics import debounce_starters
from mypipe_spark.streaming.gate import debounce_stream

_EV_SCHEMA = (
    "event_id bigint, user_id bigint, event_type string, ts timestamp_ntz"
)


def _run_stream(spark, src, tmp_path, name):
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        debounce_stream(stream)
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
    must equal the batch window's row-for-row."""
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
        for r in _run_stream(spark, src, tmp_path, "thin_parity").collect()
    )
    want = sorted(
        tuple(r)
        for r in debounce_starters(ev)
        .select("event_id", "user_id", "event_type", "ts")
        .collect()
    )
    assert got == want
    assert 0 < len(got) < ev.count()


def test_state_suppresses_across_microbatch_boundary(spark, tmp_path):
    """The burst chain must survive a microbatch boundary: a 30-min
    follow-up arriving in the NEXT file is suppressed by the carried
    arrival time in the gate's state, and a 2h-later event reopens."""
    t0 = dt.datetime(2024, 1, 1)
    m = dt.timedelta(minutes=1)
    src = str(tmp_path / "src")
    f1 = spark.createDataFrame([(1, 1, "click", t0)], _EV_SCHEMA)
    f2 = spark.createDataFrame(
        [(2, 1, "click", t0 + 30 * m), (3, 1, "click", t0 + 151 * m),
         (4, 2, "click", t0 + 31 * m)],
        _EV_SCHEMA,
    )
    f1.coalesce(1).write.parquet(src)
    f2.coalesce(1).write.mode("append").parquet(src)
    # two write jobs -> stamp BOTH files with increasing mtimes in
    # write order so replay order is deterministic
    parts = sorted(
        (os.path.getmtime(p), p)
        for p in __import__("glob").glob(src + "/part-*.parquet")
    )
    now = time.time()
    for i, (_, p) in enumerate(parts):
        os.utime(p, (now + i, now + i))
    kept = sorted(
        r["event_id"]
        for r in _run_stream(spark, src, tmp_path, "thin_state").collect()
    )
    # 1 starts; 2 is 30min after the stored arrival (suppressed); 3 is
    # 121min after raw-last (2's time) -> keeps; 4 is another key
    assert kept == [1, 3, 4]


def test_null_ids_survive_the_arrow_boundary(spark, tmp_path):
    """A kept row with NULL event_id and a NULL user_id key must come
    back as true NULLs (pandas float-promotion would otherwise crash
    or corrupt the bigint output schema)."""
    t0 = dt.datetime(2024, 1, 1)
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(None, 1, "click", t0), (9, None, "click", t0)], _EV_SCHEMA
    ).coalesce(1).write.parquet(src)
    rows = sorted(
        ((r["event_id"], r["user_id"]) for r in
         _run_stream(spark, src, tmp_path, "thin_nulls").collect()),
        key=str,
    )
    assert rows == [(9, None), (None, 1)]


def test_debounce_stream_equals_batch_on_dirty_typed_input(spark, tmp_path):
    """The batch twin shares canonical_events' input norms (round-8
    review): a string-ts corpus with one unparseable value must yield
    the SAME kept set from debounce_starters and debounce_stream —
    previously the batch side threw under ANSI (or mis-sorted the
    NULL us) while the stream excluded the row."""
    from mypipe_spark.plans.analytics import debounce_starters
    from mypipe_spark.streaming.gate import debounce_stream

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [
            (1, 1, "click", "2024-01-01 00:00:00"),
            (2, 1, "click", "garbage"),
            (3, 1, "click", "2024-01-01 00:10:00"),
            (4, 1, "click", "2024-01-01 03:00:00"),
        ],
        "event_id bigint, user_id bigint, event_type string, ts string",
    ).coalesce(1).write.parquet(src)
    ev = spark.read.parquet(src)
    want = sorted(r["event_id"] for r in debounce_starters(ev).collect())
    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = (
        debounce_stream(stream)
        .writeStream.format("memory")
        .queryName("thin_dirty")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        r["event_id"]
        for r in spark.sql("select event_id from thin_dirty").collect()
    )
    assert got == want == [1, 4]
