from __future__ import annotations

from pyspark.sql import functions as F

from mypipe_spark.changelog import write_changelog
from mypipe_spark.sources.stream import changelog_batch, changelog_stream
from mypipe_spark.streaming.windows import (
    session_mutation_windows,
    throughput_per_trigger,
    windowed_mutation_counts,
)


def _drain(q):
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_windowed_counts_match_batch(spark, tmp_path):
    src = str(tmp_path / "cl")
    write_changelog(spark, src, num_transactions=30, num_files=3)

    q = (
        windowed_mutation_counts(changelog_stream(spark, src), "1 minute", "2 minutes")
        .writeStream.format("memory").queryName("winagg")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("complete")
        .start()
    )
    _drain(q)
    got = {
        (r["window_start"], r["op"]): r["n_mutations"]
        for r in spark.sql("select * from winagg").collect()
    }
    batch = changelog_batch(spark, src).filter(
        F.col("op").isin("insert", "update", "delete")
    )
    expected = {
        (r["w"]["start"], r["op"]): r["n"]
        for r in batch.groupBy(F.window("ts", "1 minute").alias("w"), "op")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == expected
    # windows are aligned minute boundaries
    assert all(ws.second == 0 for ws, _ in got)


def test_session_windows_per_txid(spark, tmp_path):
    src = str(tmp_path / "cl")
    write_changelog(spark, src, num_transactions=10, num_files=1)
    q = (
        session_mutation_windows(changelog_stream(spark, src), gap="5 minutes")
        .writeStream.format("memory").queryName("sesswin")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("complete")
        .start()
    )
    _drain(q)
    rows = spark.sql("select * from sesswin").collect()
    # every event of a txid is within one session (1s spacing << 5m gap);
    # sessions count MUTATIONS only — begin/commit/rollback carry the
    # same txid but are control rows, not events
    batch = changelog_batch(spark, src).filter(
        F.col("txid").isNotNull()
        & F.col("op").isin("insert", "update", "delete")
    )
    per_tx = {r["txid"]: r["n"] for r in batch.groupBy("txid").agg(F.count("*").alias("n")).collect()}
    assert {r["txid"]: r["n_events"] for r in rows} == per_tx
    assert all(r["session_end"] > r["session_start"] for r in rows)


def test_throughput_probe(spark, tmp_path):
    src = str(tmp_path / "cl")
    write_changelog(spark, src, num_transactions=10, num_files=1)
    q = (
        throughput_per_trigger(changelog_stream(spark, src))
        .writeStream.format("memory").queryName("tput")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("complete")
        .start()
    )
    _drain(q)
    got = {r["op"]: r["n"] for r in spark.sql("select * from tput").collect()}
    batch = changelog_batch(spark, src)
    for op in got:
        assert got[op] == batch.filter(F.col("op") == op).count()


def test_effectively_once_drops_redelivered_duplicates(spark, tmp_path):
    """Replay the same change-log twice (the at-least-once crash-replay
    scenario): the deduped stream must emit each seq exactly once,
    the raw stream exactly twice."""
    import shutil
    from pathlib import Path

    from mypipe_spark.streaming.windows import effectively_once

    src = str(tmp_path / "cl")
    write_changelog(spark, src, num_transactions=20, num_files=2)
    # simulate redelivery: every segment appears a second time
    for f in list(Path(src).glob("*.parquet")):
        shutil.copy(f, f.with_name(f"redeliver_{f.name}"))

    q = (
        effectively_once(changelog_stream(spark, src))
        .writeStream.format("memory").queryName("eo")
        .option("checkpointLocation", str(tmp_path / "ckpt_eo"))
        .outputMode("append")
        .start()
    )
    _drain(q)
    got = spark.sql("select seq, count(*) n from eo group by seq").collect()
    n_unique = changelog_batch(spark, src).select("seq").distinct().count()
    assert len(got) == n_unique
    assert all(r["n"] == 1 for r in got)
    # sanity: the raw (non-deduped) log really contains each seq twice
    raw = changelog_batch(spark, src).groupBy("seq").count().collect()
    assert all(r["count"] == 2 for r in raw)


def test_text_quality_expressions_run_in_streams(spark, tmp_path, sf_dir):
    """The text-plane operators are pure column expressions, so the
    SAME projection drives batch tables and Structured Streaming
    micro-batches — stream output must equal the batch query
    row-for-row (the LLM-pipeline ingest shape: readStream → quality
    gate → sink)."""
    import os

    batch_docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # the file stream source wants a directory to watch
    src_dir = tmp_path / "docs"
    src_dir.mkdir()
    os.symlink(f"{sf_dir}/documents.parquet", src_dir / "documents.parquet")
    stream_docs = (
        spark.readStream.schema(batch_docs.schema).parquet(str(src_dir))
    )

    def quality(df):
        toks = F.split("text", " ")
        n_tokens = F.size(toks)
        return df.select(
            "doc_id",
            n_tokens.alias("n_tokens"),
            F.when(n_tokens >= 20, 1).otherwise(0).alias("keep"),
        )

    q = (
        quality(stream_docs)
        .writeStream.format("memory").queryName("txtq")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    _drain(q)
    got = sorted(map(tuple, spark.sql("select * from txtq").collect()))
    expected = sorted(map(tuple, quality(batch_docs).collect()))
    assert got == expected and len(got) > 0


def test_ohlc_rollup_runs_streaming_with_watermark(spark, tmp_path, sf_dir):
    """events_ohlc_15m's docstring claims streaming compatibility —
    prove it: the same min_by/max_by window aggregate under a
    watermark, fed the same events as a stream, produces exactly the
    batch bars."""
    import os

    # events.parquet ts precision varies by driver generation
    # (TIMESTAMP(NANOS) reads as INT64 under nanosAsLong; MICROS reads
    # as timestamp_ntz directly) — mirror load_tables' conditional so
    # BOTH sides see identical micro-precision timestamps either way.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    src_dir = tmp_path / "ev"
    src_dir.mkdir()
    os.symlink(f"{sf_dir}/events.parquet", src_dir / "events.parquet")
    raw_stream = spark.readStream.schema(raw_batch.schema).parquet(str(src_dir))
    ts_is_ns = dict(raw_batch.dtypes)["ts"] == "bigint"

    def norm(df):
        # plain TIMESTAMP (not ntz): watermarks require it, and the
        # session is pinned UTC so the values are identical
        if ts_is_ns:
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df.withColumn("ts", F.col("ts").cast("timestamp"))

    batch_ev = norm(raw_batch)
    stream_ev = norm(raw_stream)

    def ohlc(df):
        return df.groupBy(
            "event_type", F.window("ts", "15 minutes").start.alias("bucket")
        ).agg(
            F.expr("min_by(value, struct(ts, event_id))").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.expr("max_by(value, struct(ts, event_id))").alias("close"),
            F.count("*").alias("n_events"),
        )

    q = (
        ohlc(stream_ev.withWatermark("ts", "30 minutes"))
        .writeStream.format("memory").queryName("ohlcstream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("complete")
        .start()
    )
    _drain(q)
    got = sorted(map(tuple, spark.sql("select * from ohlcstream").collect()))
    expected = sorted(map(tuple, ohlc(batch_ev).collect()))
    assert got == expected and len(got) > 100


def test_incremental_dedup_runs_streaming_stream_static_join(spark, tmp_path, sf_dir):
    """dedup_incremental's composable core claims stream-static-join
    compatibility — prove it: stream the 'new arrivals' slice of
    documents through incremental_dedup_flags against the static
    corpus fingerprints and get exactly the batch flags. This is the
    per-microbatch ingest-dedup shape (new docs trickle in, the corpus
    fingerprint table is a static artifact)."""
    import os

    from mypipe_spark.plans.dedup import incremental_dedup_flags

    batch_docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src_dir = tmp_path / "docs"
    src_dir.mkdir()
    os.symlink(f"{sf_dir}/documents.parquet", src_dir / "documents.parquet")
    stream_docs = spark.readStream.schema(batch_docs.schema).parquet(str(src_dir))

    # Corpus: the non-arrival slice, plus planted copies of HALF the
    # arriving docs' texts (fixture texts are all distinct at this SF)
    # so the join exercises both the hit and the miss path.
    corpus = batch_docs.filter(F.col("doc_id") % 5 != 4).unionByName(
        batch_docs.filter((F.col("doc_id") % 10) == 4).withColumn(
            "doc_id", F.col("doc_id") + 1_000_000
        )
    )
    new_stream = stream_docs.filter(F.col("doc_id") % 5 == 4)
    new_batch = batch_docs.filter(F.col("doc_id") % 5 == 4)

    q = (
        incremental_dedup_flags(new_stream, corpus)
        .writeStream.format("memory").queryName("incdedup")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    _drain(q)
    got = sorted(map(tuple, spark.sql("select * from incdedup").collect()))
    expected = sorted(map(tuple, incremental_dedup_flags(new_batch, corpus).collect()))
    assert got == expected and len(got) > 0
    assert any(r[1] == 1 for r in got)  # planted corpus dups detected
    assert any(r[1] == 0 for r in got)  # genuinely-new docs pass through


def test_stratified_sample_runs_streaming(spark, tmp_path, sf_dir):
    """text_sample_stratified's composable core is a stateless
    deterministic filter — prove the streaming run selects EXACTLY the
    batch sample (the reproducibility property that makes hash-bucket
    sampling, not rand(), the right tool for a continuously ingesting
    pipeline)."""
    import os

    from mypipe_spark.plans.textops import stratified_sample

    batch_docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src_dir = tmp_path / "docs"
    src_dir.mkdir()
    os.symlink(f"{sf_dir}/documents.parquet", src_dir / "documents.parquet")
    stream_docs = spark.readStream.schema(batch_docs.schema).parquet(str(src_dir))

    q = (
        stratified_sample(stream_docs)
        .writeStream.format("memory").queryName("stratsample")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    _drain(q)
    got = sorted(map(tuple, spark.sql("select * from stratsample").collect()))
    expected = sorted(map(tuple, stratified_sample(batch_docs).collect()))
    assert got == expected and len(got) > 0


def _chunked_events_source(spark, tmp_path, sf_dir, n_chunks=3):
    """Split the events table into commit-ordered parquet chunks
    (ntile over (ts, event_id) — the delivery order the binlog replay
    guarantees) with strictly increasing mtimes so the file source
    feeds them as separate microbatches under maxFilesPerTrigger=1."""
    import os
    import time

    from pyspark.sql import Window as W

    batch_events = spark.read.parquet(f"{sf_dir}/events.parquet")
    ranked = batch_events.withColumn(
        "chunk", F.ntile(n_chunks).over(W.orderBy("ts", "event_id"))
    )
    src_dir = tmp_path / "events_chunks"
    src_dir.mkdir()
    for i in range(1, n_chunks + 1):
        # the file source wants plain files in the watched dir, not
        # parquet output DIRECTORIES — write to scratch, move the part
        scratch = str(tmp_path / f"chunk_scratch_{i}")
        ranked.filter(F.col("chunk") == i).drop("chunk").coalesce(1).write.mode(
            "overwrite"
        ).parquet(scratch)
        part = next(
            f for f in os.listdir(scratch)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        dest = str(src_dir / f"chunk_{i}.parquet")
        os.rename(os.path.join(scratch, part), dest)
        t = time.time() + i  # strictly increasing mtimes
        os.utime(dest, (t, t))
    return batch_events, (
        spark.readStream.schema(batch_events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
    )


def _merge_pipe(stream, producer, tmp_path, name, **options):
    """The keyed-state merge pipe: ``stream`` into a ``latest_state`` /
    ``scd2`` producer writing its KeyedStateDir at ``<name>_state``."""
    from mypipe_spark.streaming.pipe import Pipe

    return Pipe(
        name,
        source=lambda _spark: stream,
        producer=producer,
        producer_options={"state-path": str(tmp_path / f"{name}_state"), **options},
        checkpoint_dir=str(tmp_path / f"{name}_ckpt"),
    )


def test_latest_state_streaming_merge_equals_batch(spark, tmp_path, sf_dir):
    """cdc_latest_state's per-microbatch MERGE form: folding
    latest_state_merge over chunked microbatches (the latest_state
    producer) must equal the batch recompute exactly — the keep-last
    step is associative (max of maxes), so chunking cannot change the
    result."""
    from mypipe_spark.plans.catalog import all_queries
    from mypipe_spark.streaming.upsert import KeyedStateDir

    _batch, stream = _chunked_events_source(spark, tmp_path, sf_dir)
    _merge_pipe(stream, "latest_state", tmp_path, "ls").run_available(spark)
    final = KeyedStateDir(str(tmp_path / "ls_state")).read(spark)
    got = sorted(map(tuple, final.collect()))
    expected = sorted(
        map(tuple, all_queries()["cdc_latest_state"].fn(spark, sf_dir).collect())
    )
    assert got == expected and len(got) > 0


def test_scd2_streaming_merge_equals_batch(spark, tmp_path, sf_dir):
    """cdc_scd2_history's per-microbatch MERGE form: closed intervals
    are immutable, each key's open row re-enters the window with the
    new events. Chunks arrive in commit order, the regime the merge
    documents — the folded history (the scd2 producer) must equal the
    batch LEAD recompute row-for-row."""
    from mypipe_spark.plans.catalog import all_queries
    from mypipe_spark.streaming.upsert import KeyedStateDir

    _batch, stream = _chunked_events_source(spark, tmp_path, sf_dir)
    _merge_pipe(stream, "scd2", tmp_path, "scd2").run_available(spark)
    final = KeyedStateDir(str(tmp_path / "scd2_state")).read(spark)
    got = sorted(map(tuple, final.collect()))
    expected = sorted(
        map(tuple, all_queries()["cdc_scd2_history"].fn(spark, sf_dir).collect())
    )
    assert got == expected and len(got) > 0


def test_streaming_merge_replay_is_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: a crash between the _LATEST
    marker update and the checkpoint commit replays the same batch id.
    The merge step must then read the snapshot BELOW the replayed id,
    not the marker — following the marker would re-merge the batch
    into its own output, which scd2_merge does not tolerate (replayed
    events pair with their already-merged copies in the LEAD window).
    Drive both merge cores through apply/replay by hand and pin that
    the replayed state is row-identical to the once-applied state."""
    from mypipe_spark.streaming.upsert import (
        KeyedStateDir,
        latest_state_merge,
        scd2_merge,
    )

    events = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .orderBy("ts", "event_id")
        .limit(600)
    )
    chunks = [
        events.limit(200),
        events.limit(400).subtract(events.limit(200)),
    ]

    for name, merge_fn in (("latest", latest_state_merge), ("scd2", scd2_merge)):
        store = KeyedStateDir(str(tmp_path / f"replay_{name}"))

        def apply(batch_df, batch_id):
            prior = store.latest_before(batch_id)
            prev = None if prior is None else store.read_version(spark, prior)
            store.write(merge_fn(prev, batch_df), batch_id, prune_below=prior)

        apply(chunks[0], 0)
        apply(chunks[1], 1)
        once = sorted(map(tuple, store.read(spark).collect()))
        # crash after marker, before checkpoint commit -> batch 1 again
        apply(chunks[1], 1)
        again = sorted(map(tuple, store.read(spark).collect()))
        assert again == once and len(once) > 0, name
        # retention pruned the snapshot below the one batch 1 consumed
        assert store.complete_versions() == [0, 1], name


def test_streaming_merge_marker_rewinds_before_replay_overwrite(
    spark, sf_dir, tmp_path
):
    """When a replay overwrites the snapshot _LATEST points at, write()
    must first rewind the marker to the prior committed snapshot —
    otherwise an external reader follows the marker into a directory
    being clobbered. Pin the crash-mid-rewrite case: the marker must
    land on the prior snapshot, and read() must serve its state."""
    from mypipe_spark.streaming.upsert import KeyedStateDir, latest_state_merge

    events = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .orderBy("ts", "event_id")
        .limit(200)
    )
    store = KeyedStateDir(str(tmp_path / "rewind"))
    store.write(latest_state_merge(None, events.limit(100)), 0)
    s0 = sorted(map(tuple, store.read(spark).collect()))
    store.write(latest_state_merge(store.read_version(spark, 0), events), 1)

    class _Boom:  # stands in for a DataFrame whose write crashes
        @property
        def write(self):
            raise RuntimeError("crash mid-rewrite")

    try:
        store.write(_Boom(), 1)  # replay of batch 1 dies mid-overwrite
    except RuntimeError:
        pass
    with open(str(tmp_path / "rewind" / "_LATEST")) as fh:
        assert fh.read().strip() == "v0"  # rewound before the rewrite
    assert sorted(map(tuple, store.read(spark).collect())) == s0
    # recovery: the replay completes and the marker moves forward again
    store.write(latest_state_merge(store.read_version(spark, 0), events), 1)
    with open(str(tmp_path / "rewind" / "_LATEST")) as fh:
        assert fh.read().strip() == "v1"


def test_effectively_once_exempts_snapshot_preloads(spark, sf_dir, tmp_path):
    """seq-keyed redelivery dedup must NOT collapse the seq=0 snapshot
    preload sentinel rows (sources/snapshot.py stamps the whole
    bootstrap seq=0/ts=epoch(0)) — they bypass the dedup while real
    redelivered seqs still dedup."""
    from mypipe_spark.sources.snapshot import to_insert_mutations
    from mypipe_spark.sources.stream import changelog_stream
    from mypipe_spark.streaming.windows import effectively_once

    snap = to_insert_mutations(
        spark.read.parquet(f"{sf_dir}/customer.parquet").limit(15),
        "mypipe", "customer",
    )
    cl = changelog_batch_events(spark)
    # duplicate one live event to prove dedup still works on real seqs
    dup = cl.limit(1)
    union = cl.unionByName(dup).unionByName(snap)
    src = str(tmp_path / "eo_src")
    union.coalesce(1).write.parquet(src)

    out = effectively_once(changelog_stream(spark, src))
    q = (
        out.writeStream.format("memory").queryName("eo")
        .option("checkpointLocation", str(tmp_path / "eo_ck"))
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("select * from eo")
    assert got.filter("seq = 0").count() == 15  # preloads all survive
    n_live = cl.count()
    assert got.filter("seq != 0").count() == n_live  # the dup was dropped


def changelog_batch_events(spark):
    from mypipe_spark.changelog import changelog_df

    return changelog_df(spark, num_transactions=4, rollback_prob=0.0)


def test_effectively_once_passes_null_seq_rows_through(spark, tmp_path):
    """A decoded frame with no offset column produces seq=NULL; those
    rows carry no redelivery identity, so they must bypass the dedup
    (like preloads) rather than satisfy neither filter branch and
    silently vanish — and a NULL dedup key must not collapse distinct
    NULL-seq events into one."""
    from pyspark.sql import functions as F

    from mypipe_spark.sources.stream import changelog_stream
    from mypipe_spark.streaming.windows import effectively_once

    cl = changelog_batch_events(spark)
    n_live = cl.count()
    # strip the offset from 3 distinct live events → seq NULL
    noseq = cl.orderBy("seq").limit(3).withColumn(
        "seq", F.lit(None).cast("long")
    )
    src = str(tmp_path / "eo_null_src")
    cl.unionByName(noseq).coalesce(1).write.parquet(src)

    out = effectively_once(changelog_stream(spark, src))
    q = (
        out.writeStream.format("memory").queryName("eo_null")
        .option("checkpointLocation", str(tmp_path / "eo_null_ck"))
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("select * from eo_null")
    assert got.filter("seq is null").count() == 3  # none dropped, none merged
    assert got.filter("seq is not null").count() == n_live


def test_scd2_late_event_routes_to_dead_letter(spark, tmp_path):
    """An event predating a key's newest CLOSED interval cannot merge
    correctly (the closed rows are immutable) — with the guard in
    front it lands in the DLQ parquet with a reason, the history stays
    exactly what the in-order events produce, and in-order events in
    the same batch still merge."""
    import datetime
    import os
    import time as _time

    from pyspark.sql import Row

    from mypipe_spark.streaming.upsert import (
        KeyedStateDir,
        merge_apply_batch,
        scd2_late_split,
        scd2_merge,
    )

    def ev(eid, ts_s, etype="upd", uid=1):
        return Row(
            user_id=uid, event_id=eid, event_type=etype, value=float(eid),
            ts=datetime.datetime(2024, 1, 1, 0, 0, ts_s),
        )

    batch1 = [ev(1, 10), ev(2, 20), ev(3, 30)]  # closes [10,20),[20,30); open 30
    late = ev(4, 15)          # inside closed [10,20) → must divert
    ok2 = ev(5, 40)           # in order → must merge
    src_dir = tmp_path / "scd2_guard_src"
    src_dir.mkdir()
    for i, chunk in enumerate([batch1, [late, ok2]], start=1):
        scratch = str(tmp_path / f"guard_scratch_{i}")
        spark.createDataFrame(chunk).coalesce(1).write.mode("overwrite").parquet(scratch)
        part = next(
            f for f in os.listdir(scratch)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        dest = str(src_dir / f"chunk_{i}.parquet")
        os.rename(os.path.join(scratch, part), dest)
        t = _time.time() + i
        os.utime(dest, (t, t))

    schema = spark.read.parquet(str(src_dir)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
    )
    dlq = str(tmp_path / "scd2_dlq")
    _merge_pipe(
        stream, "scd2", tmp_path, "scd2_guard", **{"dead-letter-path": dlq}
    ).run_available(spark)

    dead = spark.read.parquet(dlq)
    assert [r["event_id"] for r in dead.collect()] == [4]
    assert "predates a closed interval" in dead.collect()[0]["dlq_reason"]

    final = KeyedStateDir(str(tmp_path / "scd2_guard_state")).read(spark)
    expected = scd2_merge(None, spark.createDataFrame(batch1 + [ok2]))
    assert sorted(map(tuple, final.collect())) == sorted(
        map(tuple, expected.collect())
    )
    # and the guard refuses to run without a DLQ destination
    import pytest as _pytest

    with _pytest.raises(ValueError, match="dead_letter_path"):
        merge_apply_batch(
            KeyedStateDir(str(tmp_path / "x")), scd2_merge,
            split_fn=scd2_late_split,
        )


def test_pii_scrub_streaming_equals_batch(spark, tmp_path):
    """scrub_documents is a stateless projection: streaming a corpus
    WITH planted PII through it yields exactly the batch result, and
    the detectors actually fire (the driver corpus is PII-free, so
    this is the streaming twin of the positive-parity pytest)."""
    from mypipe_spark.plans.curation import scrub_documents

    rows = [
        (1, "en", "s0", "mail me at alice@example.org today"),
        (2, "en", "s0", "card 1234 5678 9012 3456 on file"),
        (3, "de", "s1", "host 10.1.2.3 call 415-555-0100"),
        (4, "de", "s1", "nothing sensitive here"),
    ]
    src_dir = tmp_path / "docs"
    batch = spark.createDataFrame(
        rows, "doc_id int, lang string, source string, text string"
    )
    batch.write.parquet(str(src_dir))
    batch = spark.read.parquet(str(src_dir))
    stream = spark.readStream.schema(batch.schema).parquet(str(src_dir))
    q = (
        scrub_documents(stream)
        .writeStream.format("memory").queryName("piiscrub")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    _drain(q)
    got = sorted(map(tuple, spark.sql("select * from piiscrub").collect()))
    want = sorted(map(tuple, scrub_documents(batch).collect()))
    assert got == want and len(got) == 4
    by_id = {r[0]: r for r in got}
    assert "<EMAIL>" in by_id[1][3] and "alice" not in by_id[1][3]
    assert "<CARD>" in by_id[2][3]
    assert "<IP>" in by_id[3][3] and "<PHONE>" in by_id[3][3]
    assert by_id[4][3] == "nothing sensitive here"


def test_document_gates_streaming_equal_batch_and_funnel(spark, tmp_path, sf_dir):
    """gate_documents (the funnel's stateless stages) streams to the
    same verdicts as batch, and each verdict equals the funnel's
    corresponding flag on the same corpus."""
    from mypipe_spark.plans.catalog import all_queries
    from mypipe_spark.plans.curation import gate_documents

    batch_docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    import os

    src_dir = tmp_path / "docs"
    src_dir.mkdir()
    os.symlink(f"{sf_dir}/documents.parquet", src_dir / "documents.parquet")
    stream_docs = spark.readStream.schema(batch_docs.schema).parquet(str(src_dir))
    q = (
        gate_documents(stream_docs)
        .writeStream.format("memory").queryName("docgates")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    _drain(q)
    got = sorted(map(tuple, spark.sql("select * from docgates").collect()))
    want = sorted(map(tuple, gate_documents(batch_docs).collect()))
    assert got == want and len(got) > 0
    funnel = {
        r["doc_id"]: r
        for r in all_queries()["curation_funnel"].fn(spark, sf_dir).collect()
    }
    for row in got:
        f = funnel[row[0]]
        assert row[4] == 1 - f["drop_quality"]      # quality_keep
        assert row[5] == 1 - f["drop_repetition"]   # repetition_keep


def test_stream_stream_attribution_join_matches_batch(spark, sf_dir, tmp_path):
    """TRUE stream-stream inner join (both sides live, state buffered
    and watermark-evicted): the streaming attribution join over a
    multi-microbatch replay of the events table must equal the batch
    catalog query q_range_clicks_after_purchase row-for-row — same
    equi+range semantics, same NULL contract. The generous watermark
    makes the parity independent of file replay order."""
    from mypipe_spark.plans.catalog import QUERIES, all_queries
    from mypipe_spark.streaming.joins import attribution_join_stream
    from tests.conftest import drain_stream

    all_queries()
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = tmp_path / "events_src"
    events.repartition(4).write.parquet(str(src))

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    joined = attribution_join_stream(stream, watermark="365 days")
    q = (
        joined.writeStream.format("memory")
        .queryName("attribution_pairs")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    drain_stream(q)

    got = sorted(
        (r["purchase_id"], r["click_id"], r["user_id"])
        for r in spark.sql("SELECT * FROM attribution_pairs").collect()
    )
    want = sorted(
        (r["purchase_id"], r["click_id"], r["user_id"])
        for r in QUERIES["q_range_clicks_after_purchase"].fn(spark, sf_dir).collect()
    )
    assert got == want and len(want) > 0
    # no duplicate pairs from the multi-batch replay
    assert len(got) == len(set(got))


def test_stream_stream_join_evicts_state_past_watermark(spark, tmp_path):
    """The bounded-state contract: once both sides' clocks advance,
    rows whose join window is provably closed are REMOVED from join
    state (numRowsRemoved in the operator metrics) — the property
    that makes an unbounded stream joinable in bounded memory. What
    is deliberately NOT asserted: that a late click is refused —
    Spark's stream-stream join processes late inputs best-effort
    against whatever state still exists (measured here: the late
    click still pairs in the same batch whose commit then evicts),
    so only state eviction is a guarantee. The global watermark is
    the MIN over every watermark column, hence clock advancers on
    BOTH sides. File order is forced via distinct mtimes (the
    stamp_increasing_mtimes contract)."""
    import datetime as dt
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mypipe_spark.streaming.joins import attribution_join_stream
    from tests.conftest import drain_stream

    t0 = dt.datetime(2024, 1, 10, 12, 0)

    def batch(rows, name):
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array([None] * len(rows), pa.string()),
            }
        )
        pq.write_table(tbl, str(tmp_path / name))

    src = tmp_path
    batch(
        [
            (100, t0, 1, "purchase"),
            (101, t0 + dt.timedelta(minutes=30), 1, "click"),
            # clock advancers (users with no counterpart, so neither
            # ever pairs)
            (999, t0 + dt.timedelta(days=10), 9, "purchase"),
            (998, t0 + dt.timedelta(days=10), 8, "click"),
        ],
        "part-000.parquet",
    )
    batch(
        [(102, t0 + dt.timedelta(minutes=45), 1, "click")],
        "part-001.parquet",
    )
    now = time.time()
    os.utime(str(src / "part-000.parquet"), (now - 10, now - 10))
    os.utime(str(src / "part-001.parquet"), (now, now))

    schema = (
        "event_id long, ts timestamp_ntz, user_id long,"
        " event_type string, value double, props string"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(src))
    )
    joined = attribution_join_stream(stream, watermark="1 hour")
    q = (
        joined.writeStream.format("memory")
        .queryName("late_click_pairs")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        progresses = list(q.recentProgress)
    finally:
        q.stop()
    got = sorted(
        (r["purchase_id"], r["click_id"])
        for r in spark.sql("SELECT * FROM late_click_pairs").collect()
    )
    # the in-window pair is guaranteed; the late click may or may not
    # pair (best-effort), and nothing else ever can
    assert (100, 101) in got
    assert set(got) <= {(100, 101), (100, 102)}
    removed = sum(
        p["stateOperators"][0]["numRowsRemoved"]
        for p in progresses
        if p["stateOperators"]
    )
    final_total = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in progresses
        if p["stateOperators"]
    ][-1]
    # the t0-era rows (purchase 100, clicks 101/102) are provably
    # unmatchable once the watermark passes t0+2h -> evicted; only
    # the day-10 advancer rows may remain buffered
    assert removed >= 3
    assert final_total <= 3


def test_stream_stream_outer_join_emits_unmatched_after_watermark(
    spark, tmp_path
):
    """Left-outer stream-stream join: a purchase with an in-window
    click pairs normally; a clickless purchase emits its NULL-click
    row only AFTER the watermark proves the window closed (outer
    results are delayed by construction — nothing can be declared
    unmatched while a matching click could still arrive). Matched +
    unmatched together cover every purchase exactly once here."""
    import datetime as dt
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mypipe_spark.streaming.joins import attribution_join_stream_outer
    from tests.conftest import drain_stream

    t0 = dt.datetime(2024, 1, 10, 12, 0)

    def batch(rows, name):
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array([None] * len(rows), pa.string()),
            }
        )
        pq.write_table(tbl, str(tmp_path / name))

    batch(
        [
            (100, t0, 1, "purchase"),                               # gets a click
            (101, t0 + dt.timedelta(minutes=30), 1, "click"),
            (200, t0, 2, "purchase"),                               # never clicked
        ],
        "part-000.parquet",
    )
    # clock advancers on both sides push the watermark past every
    # window end, forcing the outer emission for purchase 200
    batch(
        [
            (999, t0 + dt.timedelta(days=10), 9, "purchase"),
            (998, t0 + dt.timedelta(days=10), 8, "click"),
        ],
        "part-001.parquet",
    )
    now = time.time()
    os.utime(str(tmp_path / "part-000.parquet"), (now - 10, now - 10))
    os.utime(str(tmp_path / "part-001.parquet"), (now, now))

    schema = (
        "event_id long, ts timestamp_ntz, user_id long,"
        " event_type string, value double, props string"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path))
    )
    q = (
        attribution_join_stream_outer(stream, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("outer_pairs")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    drain_stream(q)
    got = sorted(
        (r["purchase_id"], r["click_id"])
        for r in spark.sql("SELECT * FROM outer_pairs").collect()
    )
    # 100 matched; 200 emitted unmatched. Advancer 999 does NOT emit:
    # the watermark (max event time - 1h) still sits inside its own
    # 2h window at stream end, so "no click" cannot be declared yet —
    # the delayed-emission contract cutting both ways.
    assert got == [(100, 101), (200, None)]


def test_scd2_timeless_events_divert_and_never_corrupt_state(spark):
    """Round-8 review: a NULL-ts event previously became an immutable
    [NULL, T) interval persisted forever (the batch twin excludes
    timeless changes — the stream must too). scd2_late_split diverts
    it with its own reason; scd2_merge excludes it even without the
    guard."""
    import datetime as dt

    from mypipe_spark.streaming.upsert import scd2_late_split, scd2_merge

    t0 = dt.datetime(2024, 1, 1)
    schema = (
        "user_id bigint, event_id bigint, event_type string,"
        " value double, ts timestamp_ntz"
    )
    batch = spark.createDataFrame(
        [(1, 5, "click", 1.0, None), (1, 6, "click", 2.0, t0)], schema
    )
    ok, dead = scd2_late_split(None, batch)
    assert [r["event_id"] for r in ok.collect()] == [6]
    dlq = dead.collect()
    assert [r["event_id"] for r in dlq] == [5]
    assert "timeless" in dlq[0]["dlq_reason"]
    # merge without the guard still excludes the NULL-ts row
    hist = scd2_merge(None, batch)
    rows = hist.collect()
    assert [r["event_id"] for r in rows] == [6]
    assert all(r["valid_from"] is not None for r in rows)


def test_stream_stream_join_excludes_unparseable_ts_like_the_gates(
    spark, tmp_path
):
    """The join sides claim the gates' uniform timeless filter; that
    contract is try_cast-then-filter (gate.py canonical_events) — a
    non-NULL string ts that fails to parse must be EXCLUDED, not
    crash the streaming query at a plain cast under ANSI mode
    (round-10 review: joins.py filtered the RAW column)."""
    from mypipe_spark.streaming.joins import attribution_join_stream
    from tests.conftest import drain_stream

    rows = [
        (1, 10, "purchase", "2024-01-01 10:00:00"),
        (2, 10, "click", "2024-01-01 10:30:00"),   # inside the window
        (3, 10, "click", "not-a-time"),            # unparseable: excluded
        (4, 10, "click", None),                    # timeless: excluded
        (5, None, "click", "2024-01-01 10:40:00"),  # anonymous: excluded
    ]
    src = str(tmp_path / "dirty_src")
    spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts string"
    ).write.parquet(src)

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts string"
        ).parquet(src)
    )
    q = (
        attribution_join_stream(stream, watermark="365 days")
        .writeStream.format("memory")
        .queryName("dirty_ts_pairs")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    drain_stream(q)  # raises if the query crashed on the cast
    got = sorted(
        (r["purchase_id"], r["click_id"])
        for r in spark.sql("SELECT * FROM dirty_ts_pairs").collect()
    )
    assert got == [(1, 2)]
