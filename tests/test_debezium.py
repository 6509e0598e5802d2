"""Debezium-envelope adapter: public CDC wire format → canonical events."""

from __future__ import annotations

import base64
import json

from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from mypipe_spark.sources.debezium import debezium_change_events

USER_SCHEMA = StructType(
    [
        StructField("id", IntegerType()),
        StructField("login_count", IntegerType()),
        StructField("username", StringType()),
        StructField("password", StringType()),
        StructField("bio", BinaryType()),
    ]
)


def _row(i: int, v: int) -> dict:
    return {
        "id": i, "login_count": v,
        "username": f"u{v}", "password": f"p{v}",
        "bio": base64.b64encode(f"bio{v}".encode()).decode(),
    }


def _env(op, before, after, pos, txid, payload_only=False):
    body = {
        "op": op, "before": before, "after": after,
        "ts_ms": 1_700_000_000_000 + pos,
        "source": {
            "db": "mypipe", "table": "user",
            "ts_ms": 1_700_000_000_000 + pos,
            "file": "binlog.000001", "pos": pos, "txId": txid,
        },
    }
    return json.dumps(body if payload_only else {"payload": body})


def test_debezium_envelope_maps_to_canonical_events(spark):
    """c/u/d/r map to insert/update/delete/insert; row images bucket
    into the typed maps by the table schema (base64 binary decoded);
    seq comes from the binlog pos; garbage parses to op NULL instead
    of killing the stream; the payload-only (SMT-unwrapped) form
    parses identically."""
    rows = [
        (_env("c", None, _row(1, 0), 10, "tx1"),),
        (_env("u", _row(1, 0), _row(1, 1), 11, "tx2"),),
        (_env("d", _row(1, 1), None, 12, "tx3"),),
        (_env("r", None, _row(2, 0), 13, None),),            # snapshot read
        (_env("c", None, _row(3, 0), 14, "tx4", payload_only=True),),
        ("{definitely not an envelope",),
    ]
    df = spark.createDataFrame(rows, "value string")
    out = debezium_change_events(df, table_schema=USER_SCHEMA).orderBy("seq")
    got = out.collect()

    ops = [r["op"] for r in got]
    assert ops == [None, "insert", "update", "delete", "insert", "insert"]
    ins = got[1]
    assert ins["database"] == "mypipe" and ins["table"] == "user"
    assert ins["seq"] == 10 and ins["txid"] == "tx1"
    assert ins["new_integers"] == {"id": 1, "login_count": 0}
    assert ins["new_strings"] == {"username": "u0", "password": "p0"}
    assert bytes(ins["new_bytes"]["bio"]) == b"bio0"
    assert ins["old_integers"] is None
    upd = got[2]
    assert upd["old_integers"]["login_count"] == 0
    assert upd["new_integers"]["login_count"] == 1
    dele = got[3]
    assert dele["op"] == "delete" and dele["new_integers"] is None
    assert dele["old_strings"] == {"username": "u1", "password": "p1"}
    snap = got[4]
    assert snap["op"] == "insert" and snap["txid"] is None
    flat = got[5]
    assert flat["op"] == "insert" and flat["new_integers"]["id"] == 3

    # canonical-schema compatibility: adapted rows union with native
    # changelog events and flow through downstream consumers unchanged
    from mypipe_spark.changelog import changelog_df
    from mypipe_spark.operators.decode import mutations_only
    from mypipe_spark.sinks.wire import specific_projection

    native = mutations_only(changelog_df(spark, num_transactions=2))
    merged = native.unionByName(
        out.filter(F.col("op").isNotNull()), allowMissingColumns=False
    )
    proj = specific_projection(merged.filter("op = 'insert'"), USER_SCHEMA)
    assert proj.filter(F.col("id").isNotNull()).count() == proj.count() > 0


def test_debezium_without_schema_keeps_strings(spark):
    """No table schema → every image value lands in the strings maps
    (lossless for JSON scalars; the generic envelope absorbs it)."""
    df = spark.createDataFrame(
        [(_env("c", None, {"id": 7, "name": "x"}, 5, "t"),)], "value string"
    )
    r = debezium_change_events(df).collect()[0]
    assert r["new_strings"] == {"id": "7", "name": "x"}
    assert r["new_integers"] is None


def test_debezium_consumer_from_config(spark, tmp_path):
    """A config-driven pipe over a Debezium JSON-lines directory: the
    adapter feeds the canonical transform chain, the registry-pointed
    schema types the images, and garbage lines are routable (op NULL
    filtered by mutations-only)."""
    from mypipe_spark.registry import SchemaRegistry, register_table, save_registry
    from mypipe_spark.runner import run_from_config

    src = tmp_path / "dbz"
    src.mkdir()
    lines = [
        _env("c", None, _row(1, 0), 10, "tx1"),
        _env("u", _row(1, 0), _row(1, 1), 11, "tx2"),
        "oops not json",
        _env("d", _row(1, 1), None, 12, "tx3"),
    ]
    (src / "events.jsonl").write_text("\n".join(lines))
    reg = SchemaRegistry()
    register_table(reg, "mypipe", "user", USER_SCHEMA)
    reg_path = str(tmp_path / "reg.json")
    save_registry(reg, reg_path)

    config = {
        "consumers": {
            "dbz": {
                "type": "debezium",
                "path": str(src),
                "schema-registry": {"path": reg_path},
                "database": "mypipe",
                "table": "user",
            }
        },
        "pipes": {
            "dbz_pipe": {
                "consumer": "dbz",
                "producer": {"name": "parquet", "path": str(tmp_path / "out")},
                "checkpoint": str(tmp_path / "ck"),
                "dead-letter-path": str(tmp_path / "dlq"),
            }
        },
    }
    run_from_config(spark, config, block=True)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 3  # mutations-only dropped the garbage row
    assert {r["op"] for r in out.collect()} == {"insert", "update", "delete"}
    assert out.filter("new_integers.id = 1").count() == 2
    # the consumer's raw_value feeds only the dead letters
    from mypipe_spark.model import CHANGE_EVENT_SCHEMA

    assert "raw_value" not in out.columns
    assert set(CHANGE_EVENT_SCHEMA.fieldNames()) <= set(out.columns)
    # the garbage line is PRESERVED (raw bytes + reason), not dropped
    dead = spark.read.parquet(str(tmp_path / "dlq"))
    assert [(r["raw_value"], r["dlq_reason"]) for r in dead.collect()] == [
        ("oops not json", "unparseable_envelope")
    ]


def test_debezium_survives_value_drift_under_ansi(spark):
    """ANSI mode throws on CAST of a drifted value; the adapter must
    use try-variants so a 'true' in an int column or a non-base64 body
    becomes a NULL entry — never an executor throw. Types outside the
    four buckets (double here) fall back to the strings map: adding a
    schema never loses values the schema-less path keeps."""
    from pyspark.sql.types import DoubleType

    schema = StructType(
        [
            StructField("id", IntegerType()),
            StructField("flag", IntegerType()),
            StructField("score", DoubleType()),
            StructField("bio", BinaryType()),
        ]
    )
    after = {"id": 1, "flag": "true", "score": 2.5, "bio": "!!!not base64"}
    df = spark.createDataFrame([(_env("c", None, after, 1, "t"),)], "value string")
    r = debezium_change_events(df, table_schema=schema).collect()[0]
    assert r["new_integers"] == {"id": 1, "flag": None}
    assert r["new_strings"] == {"score": "2.5"}
    assert dict(r["new_bytes"]) == {"bio": None}
    # bucket with no matching columns is NULL (snapshot parity)
    two_col = StructType([StructField("id", IntegerType())])
    r2 = debezium_change_events(df, table_schema=two_col).collect()[0]
    assert r2["new_longs"] is None and r2["new_bytes"] is None


def test_full_pipeline_composition_from_one_config(spark, tmp_path):
    """Kitchen-sink composition: Debezium source (typed by a
    registry), include-event filter, avro_ref wire encoding, topic
    templating, parquet producer — plus BOTH dead-letter paths
    (unparseable envelopes at the source, serializer diversions at the
    wire) — all from one config dict. Every stage's contract must
    hold when composed, not just in isolation."""
    from mypipe_spark.registry import SchemaRegistry, register_table, save_registry
    from mypipe_spark.runner import run_from_config
    from mypipe_spark.sinks.wire import decode_generic

    src = tmp_path / "dbz"
    src.mkdir()
    lines = [
        _env("c", None, _row(1, 0), 10, "aaaaaaaa-0000-4000-8000-000000000001"),
        _env("u", _row(1, 0), _row(1, 1), 11, "aaaaaaaa-0000-4000-8000-000000000002"),
        "not an envelope at all",
        _env("d", _row(1, 1), None, 12, "aaaaaaaa-0000-4000-8000-000000000003"),
    ]
    (src / "events.jsonl").write_text("\n".join(lines))
    reg = SchemaRegistry()
    register_table(reg, "mypipe", "user", USER_SCHEMA)
    reg_path = str(tmp_path / "reg.json")
    save_registry(reg, reg_path)

    out = str(tmp_path / "frames")
    config = {
        "consumers": {
            "dbz": {
                "type": "debezium",
                "path": str(src),
                "schema-registry": {"path": reg_path},
                "database": "mypipe",
                "table": "user",
            }
        },
        "pipes": {
            "full": {
                "consumer": "dbz",
                "include-event-condition": "database = 'mypipe'",
                "wire": {
                    "flavor": "generic",
                    "codec": "avro_ref",
                    "dead-letter-path": str(tmp_path / "wire_dlq"),
                },
                "topic-template": "${database}_${table}_generic",
                "producer": {"name": "parquet", "path": out},
                "checkpoint": str(tmp_path / "ck"),
                "dead-letter-path": str(tmp_path / "src_dlq"),
            }
        },
    }
    run_from_config(spark, config, block=True)

    frames = spark.read.parquet(out)
    assert frames.count() == 3
    assert frames.select("topic").distinct().collect()[0][0] == "mypipe_user_generic"
    dec = decode_generic(frames.select("value"), codec="avro_ref")
    assert dec.filter("payload.database = 'mypipe'").count() == 3
    # the Guid txid survived the reference-record wire
    txids = {r[0] for r in dec.select("payload.txid").collect()}
    assert txids == {
        "aaaaaaaa-0000-4000-8000-000000000001",
        "aaaaaaaa-0000-4000-8000-000000000002",
        "aaaaaaaa-0000-4000-8000-000000000003",
    }
    # source DLQ holds the garbage line; wire DLQ exists (op-NULL rows
    # were already dropped by mutations-only before the wire stage)
    src_dead = spark.read.parquet(str(tmp_path / "src_dlq"))
    assert [r["raw_value"] for r in src_dead.collect()] == ["not an envelope at all"]


def _schema_change_env(ddl: str, pos: int) -> str:
    # Debezium schema-change-topic record: no c/u/d/r op, the DDL
    # statement itself plus databaseName
    return json.dumps(
        {
            "payload": {
                "source": {
                    "db": "mypipe", "table": "user",
                    "ts_ms": 1_700_000_000_000 + pos,
                    "file": "binlog.000001", "pos": pos,
                },
                "databaseName": "mypipe",
                "ddl": ddl,
                "ts_ms": 1_700_000_000_000 + pos,
            }
        }
    )


def test_debezium_schema_change_event_maps_to_alter(spark):
    """A schema-change-topic record (payload.ddl) must surface as
    op='alter' with the statement in `sql` and the database resolved
    from source.db/databaseName — the row shape the AlterOrchestrator
    DDL watcher filters on. Mutation rows in the same stream keep
    their c/u/d/r mapping."""
    ddl = "ALTER TABLE user ADD COLUMN age INT"
    rows = [
        (_env("c", None, _row(1, 0), 10, "tx1"),),
        (_schema_change_env(ddl, 11),),
    ]
    df = spark.createDataFrame(rows, "value string")
    ev = debezium_change_events(df, table_schema=USER_SCHEMA).orderBy("seq")
    got = ev.select("op", "database", "table", "sql").collect()
    assert [r["op"] for r in got] == ["insert", "alter"]
    assert got[1]["sql"] == ddl
    assert got[1]["database"] == "mypipe" and got[1]["table"] == "user"
    assert got[0]["sql"] is None

    # non-ALTER DDL (the CREATE/DROP burst a Debezium snapshot emits
    # per captured table) must classify 'unknown' — routable, but
    # never op='alter': a spurious alter row would register a schema
    # version and force a pipe restart per statement
    snap_ddl = [
        _schema_change_env("DROP TABLE IF EXISTS `user`", 20),
        _schema_change_env("CREATE TABLE `user` (id INT)", 21),
        _schema_change_env("TRUNCATE TABLE user", 22),
    ]
    ddl_ev = debezium_change_events(
        spark.createDataFrame([(x,) for x in snap_ddl], "value string")
    )
    assert [r["op"] for r in ddl_ev.orderBy("seq").collect()] == ["unknown"] * 3


def test_debezium_alter_composes_with_orchestrator_live(spark, tmp_path):
    """The KafkaAlterSpec.scala:54-94 analog on the DEBEZIUM path
    (round-5 verdict ask #4): a Debezium-typed pipe runs under a
    processing-time trigger; a schema-change record (ddl) arrives
    MID-RUN; the orchestrator evolves + re-registers schema v2 and
    restarts; post-restart envelopes bucket their new column per the
    NEW StructType (age: MySQL INT -> binlog LONG -> the longs map,
    the reference's interop rule) and flow through the rebuilt
    specific-envelope sink with the new column populated — end to end
    from raw Debezium JSON to typed parquet, exactly-once across the
    restart."""
    import os
    import threading
    import time as _time

    from mypipe_spark.registry import SchemaRegistry, specific_subject
    from mypipe_spark.sinks.wire import specific_projection
    from mypipe_spark.streaming.alter import AlterOrchestrator

    src_dir = tmp_path / "dbz_live"
    src_dir.mkdir()

    def write_lines(lines, name):
        tmp = tmp_path / f"tmp_{name}"
        tmp.write_text("\n".join(lines))
        os.rename(str(tmp), str(src_dir / f"{name}.jsonl"))

    pre = [
        _env("c", None, _row(1, 0), 10, "tx1"),
        _env("c", None, _row(2, 1), 11, "tx2"),
    ]
    ddl = "ALTER TABLE user ADD COLUMN age INT"
    post_rows = []
    for i, pos in ((3, 20), (4, 21)):
        r = dict(_row(i, i), age="33")
        post_rows.append(_env("c", None, r, pos, f"tx{i}"))

    write_lines(pre, "a_pre")

    registry = SchemaRegistry()
    out = str(tmp_path / "dbz_out")
    orch = AlterOrchestrator(
        # the source is REBUILT each round; table_schemas is read at
        # build time, so the restart is what switches the bucketing
        # to the evolved StructType
        source=lambda s: debezium_change_events(
            s.readStream.text(str(src_dir)),
            table_schema=orch.table_schemas[("mypipe", "user")],
        ),
        sink=lambda df, ckpt: (
            specific_projection(
                df.filter(F.col("op") == "insert"),
                orch.table_schemas[("mypipe", "user")],
            )
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt).outputMode("append")
        ),
        checkpoint_dir=str(tmp_path / "dbz_ckpt"),
        registry=registry,
        table_schemas={("mypipe", "user"): USER_SCHEMA},
    )

    feeder_done = threading.Event()

    def feed():
        # wait for round 1's (sink, watcher) pair to be live, remember
        # their run ids, then drop the DDL in
        deadline = _time.time() + 60
        while len(spark.streams.active) < 2 and _time.time() < deadline:
            _time.sleep(0.1)
        round1_ids = {q.runId for q in spark.streams.active}
        write_lines([_schema_change_env(ddl, 12)], "b_alter")
        # deterministic (not sleep-raced): write the post rows only
        # after the RESTARTED queries are up — a fresh runId proves
        # round 1 stopped, so these rows can only flow under the
        # evolved schema
        while _time.time() < deadline:
            ids = {q.runId for q in spark.streams.active}
            if ids and not (ids & round1_ids):
                break
            _time.sleep(0.1)
        write_lines(post_rows, "c_post")
        feeder_done.set()

    feeder = threading.Thread(target=feed, daemon=True)
    feeder.start()
    restarts = orch.run_live(
        spark, done=feeder_done.is_set, trigger_seconds=0.5,
        max_wall_seconds=180.0,
    )
    feeder.join()
    assert restarts >= 1  # the Debezium DDL really forced a restart

    # schema evolved in the orchestrator AND the registry
    assert "age" in orch.table_schemas[("mypipe", "user")].fieldNames()
    for mtype in ("insert", "update", "delete"):
        latest = registry.get_latest(specific_subject("mypipe", "user", mtype))
        assert latest is not None and "age" in latest[1]

    delivered = spark.read.option("mergeSchema", "true").parquet(out)
    # exactly-once across the restart: every insert exactly once
    assert delivered.count() == len(pre) + len(post_rows)
    assert "age" in delivered.columns
    # post-restart rows bucketed age per the NEW schema (int), and the
    # rebuilt specific sink delivered it populated
    with_age = delivered.filter(F.col("age").isNotNull())
    assert with_age.count() == len(post_rows)
    assert {r["age"] for r in with_age.select("age").collect()} == {33}
    # MySQL INT evolves to the binlog LONG class, which this engine
    # types LongType so values land in the reference's 'longs' map
    # (the round-5 interop rule) — hence bigint on the wire out
    assert dict(delivered.dtypes)["age"] == "bigint"


def test_keep_raw_preserves_exact_binary_bytes(spark):
    """A binary Kafka value with invalid UTF-8 (a misrouted Avro
    record — exactly the garbage the DLQ exists for) must survive
    into raw_value byte-for-byte (round-8 review: the previous string
    cast mangled it into U+FFFD replacement characters, making the
    dead-lettered payload unreplayable)."""
    bad = b"\x00\x01Obj\xff\xfe not utf8"
    df = spark.createDataFrame([(bad,)], "value binary")
    r = debezium_change_events(df, keep_raw=True).collect()[0]
    assert r["op"] is None  # unparseable -> DLQ-routable
    assert bytes(r["raw_value"]) == bad


def test_debezium_stale_schema_keeps_undeclared_columns_in_strings(spark):
    """Schema drift (round-10 review): the DB gained a column after
    the caller captured table_schema — the envelope carries it but no
    declared field does. The value must ride the STRINGS map exactly
    like the schema-less path would keep it, not vanish from every
    typed map; and with no drift the strings bucket stays NULL-when-
    empty (snapshot parity)."""
    schema = StructType(
        [StructField("id", IntegerType()), StructField("name", StringType())]
    )
    after = {"id": 1, "name": "x", "price": "9.99"}  # price undeclared
    df = spark.createDataFrame(
        [(_env("c", None, after, 1, "t"),)], "value string"
    )
    r = debezium_change_events(df, table_schema=schema).collect()[0]
    assert r["new_integers"] == {"id": 1}
    assert r["new_strings"] == {"name": "x", "price": "9.99"}

    # declared-int-only schema + drifted key: strings carries ONLY the
    # drifted key; and with no drift at all it stays NULL
    int_only = StructType([StructField("id", IntegerType())])
    r2 = debezium_change_events(df, table_schema=int_only).collect()[0]
    assert r2["new_strings"] == {"name": "x", "price": "9.99"}
    clean = spark.createDataFrame(
        [(_env("c", None, {"id": 2}, 2, "t"),)], "value string"
    )
    r3 = debezium_change_events(clean, table_schema=int_only).collect()[0]
    assert r3["new_integers"] == {"id": 2} and r3["new_strings"] is None


def test_debezium_zero_field_schema_routes_everything_to_strings(spark):
    """ADVICE r10: a zero-field declared StructType previously built
    F.array() (array<void>) for the drift filter and could fail
    analysis — degenerate input, but the function guards totality
    everywhere else. With no declared columns EVERYTHING is drift:
    the whole image rides the strings map, same as schema-less."""
    from pyspark.sql.types import StructType

    df = spark.createDataFrame(
        [(_env("c", None, {"id": 7, "name": "x"}, 5, "t"),)], "value string"
    )
    r = debezium_change_events(df, table_schema=StructType([])).collect()[0]
    assert r["op"] == "insert"
    assert r["new_strings"] == {"id": "7", "name": "x"}
    assert r["new_integers"] is None and r["new_longs"] is None
    assert r["new_bytes"] is None
