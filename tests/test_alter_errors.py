from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from mypipe_spark.changelog import write_changelog
from mypipe_spark.model import specific_subject
from mypipe_spark.registry import SchemaRegistry
from mypipe_spark.sources.stream import changelog_stream
from mypipe_spark.streaming.alter import AlterOrchestrator, evolve_schema
from mypipe_spark.streaming.errors import (
    ErrorPolicy,
    dead_letter_split,
    run_pipe_with_dead_letter,
    run_with_error_handling,
)
from mypipe_spark.streaming.pipe import Pipe

USER_SCHEMA = StructType(
    [
        StructField("id", IntegerType(), True),
        StructField("username", StringType(), True),
    ]
)


# ---------------------------------------------------------------------------
# evolve_schema (the ALTER → StructType step)
# ---------------------------------------------------------------------------

def test_evolve_schema_add_drop():
    s2 = evolve_schema(USER_SCHEMA, "ALTER TABLE mypipe.user ADD COLUMN email varchar(128)")
    assert s2.fieldNames() == ["id", "username", "email"]
    assert isinstance(s2["email"].dataType, StringType)
    s3 = evolve_schema(s2, "ALTER TABLE mypipe.user DROP COLUMN email")
    assert s3.fieldNames() == ["id", "username"]
    # idempotent add; unknown forms are no-ops
    assert evolve_schema(s2, "ALTER TABLE mypipe.user ADD COLUMN email text").fieldNames() == s2.fieldNames()
    assert evolve_schema(USER_SCHEMA, "ALTER TABLE mypipe.user ENGINE=InnoDB") == USER_SCHEMA


def test_evolve_schema_types():
    s = evolve_schema(USER_SCHEMA, "alter table user add login_total bigint")
    assert s["login_total"].dataType.typeName() == "long"
    s = evolve_schema(USER_SCHEMA, "alter table user add bio text")
    assert s["bio"].dataType.typeName() == "binary"  # TEXT→bytes like the reference


# ---------------------------------------------------------------------------
# AlterOrchestrator end-to-end: DDL mid-stream → registry v2 + restart
# ---------------------------------------------------------------------------

def test_alter_orchestrator_registers_and_restarts(spark, tmp_path):
    path = str(tmp_path / "cl")
    from mypipe_spark.changelog import changelog_df

    df = changelog_df(spark, num_transactions=6, alter_every=3)
    df.repartitionByRange(3, "seq").write.parquet(path)
    import glob
    import os
    import time

    for i, f in enumerate(sorted(glob.glob(path + "/part-*.parquet"))):
        os.utime(f, (time.time() + i, time.time() + i))

    registry = SchemaRegistry()
    out = str(tmp_path / "out")
    orch = AlterOrchestrator(
        # parquet sink: supports checkpoint recovery across the restarts
        # (memory sinks do not — they cannot resume from offsets)
        source=lambda s: changelog_stream(s, path, max_files_per_trigger=1),
        sink=lambda df, ckpt: (
            df.writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt).outputMode("append")
        ),
        checkpoint_dir=str(tmp_path / "ckpt"),
        registry=registry,
        table_schemas={("mypipe", "user"): USER_SCHEMA},
    )
    restarts = orch.run_available(spark)
    assert restarts >= 1  # the stream carried ALTERs
    # every event was delivered exactly once across restarts
    delivered = spark.read.parquet(out)
    assert delivered.count() == df.count()
    assert delivered.groupBy("seq").count().filter(F.col("count") > 1).count() == 0
    # schema v2 (email column) registered for all three mutation subjects
    for mtype in ("insert", "update", "delete"):
        latest = registry.get_latest(specific_subject("mypipe", "user", mtype))
        assert latest is not None
        assert "email" in latest[1]
    # orchestrator's view of the table evolved too
    assert "email" in orch.table_schemas[("mypipe", "user")].fieldNames()


# ---------------------------------------------------------------------------
# dead-letter + quit-on-error
# ---------------------------------------------------------------------------

def test_dead_letter_split_null_is_dead(spark):
    df = spark.createDataFrame(
        [(1, "ok"), (2, None), (3, "bad")], "id int, status string"
    )
    valid, dead = dead_letter_split(df, "status = 'ok'")
    assert [r["id"] for r in valid.collect()] == [1]
    assert sorted(r["id"] for r in dead.collect()) == [2, 3]
    assert dead.columns[-1] == "dlq_reason"


def test_run_pipe_with_dead_letter(spark, tmp_path):
    src = str(tmp_path / "cl")
    write_changelog(spark, src, num_transactions=10, num_files=2)
    pipe = Pipe(
        pipe_id="dlq_main",
        source=lambda s: changelog_stream(s, src),
        producer="memory",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    # treat deletes as "invalid" to exercise the split
    run_pipe_with_dead_letter(
        spark, pipe, "op <> 'delete'", str(tmp_path / "dlq")
    )
    total = spark.read.parquet(src).count()
    deletes = spark.read.parquet(src).filter(F.col("op") == "delete").count()
    main_n = spark.sql("select count(*) c from dlq_main").collect()[0].c
    dlq = spark.read.parquet(str(tmp_path / "dlq"))
    assert main_n == total - deletes
    assert dlq.count() == deletes
    assert dlq.select("dlq_reason").distinct().collect()[0][0].startswith("failed:")


def test_quit_on_error_policy(spark, tmp_path):
    src = str(tmp_path / "cl")
    write_changelog(spark, src, num_transactions=3, num_files=1)

    def poison(df):
        return df.withColumn("boom", F.expr("raise_error('poisoned batch')"))

    def bad(ckpt: str) -> Pipe:
        return Pipe(
            pipe_id="poison",
            source=lambda s: changelog_stream(s, src),
            transforms=[poison],
            producer="memory",
            checkpoint_dir=str(tmp_path / ckpt),
        )

    # quit=True (reference default): the error propagates
    with pytest.raises(Exception, match="poisoned"):
        run_with_error_handling(
            spark, bad("ckpt1"), ErrorPolicy(quit_on_event_handle_failure=True)
        )
    # quit=False: captured for inspection instead of propagating
    exc = run_with_error_handling(
        spark, bad("ckpt2"), ErrorPolicy(quit_on_event_handle_failure=False)
    )
    assert exc is not None and "poisoned" in str(exc)


def test_error_policy_consults_per_class_flags(spark, tmp_path):
    """The reference's cascade is per-CLASS: a decode failure must obey
    quit_on_event_decode_failure, not the handle flag — previously only
    quit_on_event_handle_failure was read and the other two flags were
    dead config. Drive an ANSI decode() failure (invalid UTF-8) under
    decode=skip/handle=quit and pin that it is captured, then flipped."""
    src = str(tmp_path / "garbage")
    spark.createDataFrame([(b"\xff\xfe\x00",)], "value binary").write.parquet(src)

    def decode_poison(df):
        return df.withColumn("s", F.expr("decode(value, 'UTF-8')"))

    def bad(ckpt: str) -> Pipe:
        return Pipe(
            pipe_id="decode_poison",
            source=lambda s: s.readStream.schema("value binary").parquet(src),
            transforms=[decode_poison],
            producer="memory",
            checkpoint_dir=str(tmp_path / ckpt),
        )

    # recorded, not raised: the classifier swallows its own errors, so
    # only a record shows a deprecated pyspark call made while classifying
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        # decode failures skipped even though handle failures would quit
        exc = run_with_error_handling(
            spark,
            bad("ck_a"),
            ErrorPolicy(
                quit_on_event_decode_failure=False,
                quit_on_event_handle_failure=True,
            ),
        )
        assert exc is not None and "MALFORMED_CHARACTER_CODING" in str(exc)
        # and the same failure propagates when the decode flag says quit
        with pytest.raises(Exception, match="MALFORMED_CHARACTER_CODING"):
            run_with_error_handling(
                spark,
                bad("ck_b"),
                ErrorPolicy(
                    quit_on_event_decode_failure=True,
                    quit_on_event_handle_failure=False,
                ),
            )
    assert not [w for w in caught if issubclass(w.category, FutureWarning)]

    # the empty-mutation class routes through its own flag
    from mypipe_spark.streaming.errors import EmptyMutationError, _quit_for

    policy = ErrorPolicy(
        quit_on_event_decode_failure=True,
        quit_on_event_handle_failure=True,
        quit_on_empty_mutation=False,
    )
    assert _quit_for(policy, EmptyMutationError("no rows")) is False
    assert _quit_for(policy, RuntimeError("other")) is True


def test_alter_target_dollar_and_backtick_identifiers():
    """MySQL unquoted identifiers may contain $ and backticked ones any
    character — \\w+ alone truncated `user$archive` to `user` and
    targeted the wrong table (the reference's whitespace token walk
    returns the full token, AbstractMySQLBinaryLogConsumer.scala:92-111)."""
    from mypipe_spark.streaming.alter import alter_target

    assert alter_target("ALTER TABLE user$archive ADD x int") == (None, "user$archive")
    assert alter_target("ALTER TABLE db$x.user$archive ADD x int") == ("db$x", "user$archive")
    assert alter_target("ALTER TABLE `my db`.`user-2024` ADD x int") == ("my db", "user-2024")
    assert alter_target("ALTER TABLE mypipe.user ADD x int") == ("mypipe", "user")
    assert alter_target("ALTER TABLE user ADD x int") == (None, "user")


def test_alter_spark_side_identifiers(spark):
    """The Spark-expression twin (operators.decode alter_database /
    alter_table) must agree with the Python-side parse (alter_target)
    on every statement: non-ASCII identifiers (Java's \\w is
    ASCII-only), an ALTER VIEW quoting 'alter table ...', and a
    statement that does not start with ALTER."""
    from pyspark.sql import functions as F

    from mypipe_spark.operators.decode import alter_database, alter_table
    from mypipe_spark.streaming.alter import alter_target

    cases = [
        ("ALTER TABLE user$archive ADD x int", None, "user$archive"),
        ("ALTER TABLE db$x.user$archive ADD x int", "db$x", "user$archive"),
        ("ALTER TABLE `my db`.`user-2024` ADD x int", "my db", "user-2024"),
        ("ALTER TABLE mypipe.user ADD x int", "mypipe", "user"),
        ("ALTER TABLE user ADD x int", None, "user"),
        ("ALTER TABLE café ADD x INT", None, "café"),
        ("ALTER VIEW v AS SELECT 'alter table t add x int' AS s", None, None),
        ("/* c */ ALTER TABLE t ADD x INT", None, None),
    ]
    df = spark.createDataFrame([(s,) for s, _, _ in cases], "sql string")
    got = df.select(
        "sql",
        alter_database(F.col("sql")).alias("db"),
        alter_table(F.col("sql")).alias("tbl"),
    ).collect()
    by_sql = {r["sql"]: (r["db"], r["tbl"]) for r in got}
    for s, db, tbl in cases:
        assert by_sql[s] == alter_target(s) == (db, tbl), s


def test_empty_mutation_classified_through_wrappers():
    """Streaming wraps the producer's raise in StreamingQueryException;
    the empty-mutation flag must still decide — via the cause chain or
    the class name in the wrapped message, never the generic
    handle-failure flag."""
    from mypipe_spark.streaming.errors import (
        EmptyMutationError,
        ErrorPolicy,
        _quit_for,
    )

    policy = ErrorPolicy(
        quit_on_event_handle_failure=True, quit_on_empty_mutation=False
    )
    # wrapped with an explicit cause
    try:
        try:
            raise EmptyMutationError("no rows")
        except EmptyMutationError as inner:
            raise RuntimeError("query failed") from inner
    except RuntimeError as wrapped:
        assert _quit_for(policy, wrapped) is False
    # wrapped by message only (StreamingQueryException flattens to text)
    assert (
        _quit_for(policy, RuntimeError("Job aborted: EmptyMutationError: no rows"))
        is False
    )


def test_dead_letter_requires_checkpoint(spark, tmp_path):
    """A pipe without a checkpoint must be rejected BEFORE the main
    branch runs — the DLQ parquet sink cannot start without one, and
    failing after the main commit would lose that run's dead rows."""
    import pytest as _pytest

    from mypipe_spark.changelog import write_changelog
    from mypipe_spark.sources.stream import changelog_stream
    from mypipe_spark.streaming.pipe import Pipe
    from mypipe_spark.streaming.errors import run_pipe_with_dead_letter

    src = str(tmp_path / "cl")
    write_changelog(spark, src, num_transactions=2, num_files=1)
    pipe = Pipe(
        pipe_id="nockpt",
        source=lambda s: changelog_stream(s, src),
        producer="memory",
        checkpoint_dir=None,
    )
    with _pytest.raises(ValueError, match="requires a checkpoint_dir"):
        run_pipe_with_dead_letter(
            spark, pipe, "op IS NOT NULL", str(tmp_path / "dlq")
        )


def test_evolve_schema_multi_clause_and_guards():
    """Multi-clause ALTERs (the common MySQL form) must apply EVERY
    clause in order; DROP INDEX/KEY must not delete a column named
    like the object; backticked column names parse whole; ALTER IGNORE
    is accepted; BOOLEAN/VARBINARY/JSON map to real types."""
    from pyspark.sql.types import StructField, StructType
    from pyspark.sql import types as T

    from mypipe_spark.streaming.alter import evolve_schema

    base = StructType(
        [
            StructField("id", T.IntegerType()),
            StructField("user", T.StringType()),
            StructField("user-2024", T.StringType()),
        ]
    )
    # multi-clause: both columns land; surface INT is binlog LONG,
    # which the reference wire widens to Long ('longs' map) — so the
    # materialized Spark type is LongType, not IntegerType
    s = evolve_schema(base, "ALTER TABLE t ADD COLUMN a INT, ADD COLUMN b MEDIUMINT")
    assert {"a", "b"} <= set(s.fieldNames())
    types = {f.name: f.dataType for f in s.fields}
    assert types["a"] == T.LongType()
    assert types["b"] == T.IntegerType()
    # drop-then-add re-types in statement order
    s = evolve_schema(base, "ALTER TABLE t DROP COLUMN id, ADD COLUMN id BIGINT")
    assert dict(zip(s.fieldNames(), [f.dataType for f in s.fields]))[
        "id"
    ] == T.LongType()
    # backticked drop removes exactly that column
    s = evolve_schema(base, "ALTER TABLE t DROP COLUMN `user-2024`")
    assert s.fieldNames() == ["id", "user"]
    # DROP INDEX must not remove a column named 'INDEX' (or anything)
    assert evolve_schema(base, "ALTER TABLE t DROP INDEX idx") == base
    assert evolve_schema(base, "ALTER TABLE t ADD INDEX idx (user)") == base
    # DROP CHECK c1 is a constraint drop, not DROP COLUMN `check`
    assert evolve_schema(base, "ALTER TABLE t DROP CHECK c1") == base
    assert evolve_schema(base, "ALTER TABLE t ADD CHECK (id > 0)") == base
    # a real column named 'check' is still droppable via backticks
    base_chk = StructType(list(base.fields) + [StructField("check", T.StringType())])
    assert "check" not in evolve_schema(
        base_chk, "ALTER TABLE t DROP COLUMN `check`"
    ).fieldNames()
    # ALTER IGNORE accepted (decode.py classifies it as an alter)
    s = evolve_schema(base, "ALTER IGNORE TABLE mypipe.t ADD COLUMN email varchar(128)")
    assert "email" in s.fieldNames()
    # surface type names map instead of silently vanishing
    s = evolve_schema(base, "ALTER TABLE t ADD COLUMN flag BOOLEAN, ADD COLUMN blob_c VARBINARY(32)")
    types = {f.name: f.dataType for f in s.fields}
    assert types["flag"] == T.ByteType()
    assert types["blob_c"] == T.BinaryType()


def test_orchestrator_base_schema_falls_back_to_registry(spark):
    """An orchestrator constructed without seeded table_schemas must
    evolve from the registry's latest version, not from an empty
    struct — otherwise the registered v2 schema contains ONLY the
    ALTER-added column and a specific projection drops every real
    column. Non-table ALTERs (ALTER USER...) must register nothing."""
    from pyspark.sql import types as T
    from pyspark.sql.types import StructField, StructType

    from mypipe_spark.model import specific_subject
    from mypipe_spark.registry import SchemaRegistry
    from mypipe_spark.streaming.alter import AlterOrchestrator

    reg = SchemaRegistry()
    base = StructType(
        [StructField("id", T.IntegerType()), StructField("name", T.StringType())]
    )
    for mt in ("insert", "update", "delete"):
        reg.register(specific_subject("mypipe", "user", mt), base)

    orch = AlterOrchestrator(
        source=None, sink=None, checkpoint_dir="/tmp/unused", registry=reg
    )
    assert orch._apply_alter(
        "mypipe", None, "ALTER TABLE mypipe.user ADD COLUMN email varchar(128)"
    )
    latest = reg.get_latest(specific_subject("mypipe", "user", "insert"))
    evolved = StructType.fromJson(__import__("json").loads(latest[1]))
    assert evolved.fieldNames() == ["id", "name", "email"]

    # a non-table ALTER registers nothing and reports False
    before = set(reg.subjects())
    assert not orch._apply_alter(None, None, "ALTER USER 'x'@'%' IDENTIFIED BY 'y'")
    assert set(reg.subjects()) == before


def test_alter_orchestrator_live_trigger_mid_stream(spark, tmp_path):
    """The KafkaAlterSpec.scala:54-94 analog at full fidelity: the pipe
    runs under trigger(processingTime=...) while a feeder thread keeps
    writing files; an ALTER lands MID-RUN, the watcher registers the
    evolved schema and forces a restart, and rows queued behind the
    ALTER flow through the rebuilt SPECIFIC-envelope sink with the new
    column populated — exactly-once across the restart."""
    import os
    import threading
    import time as _time

    from mypipe_spark.changelog import ChangeLogGenerator
    from mypipe_spark.model import CHANGE_EVENT_SCHEMA
    from mypipe_spark.sinks.wire import specific_projection

    gen = ChangeLogGenerator(seed=7, rollback_prob=0.0, max_tx_size=2)
    txid = "tx-pre"
    pre = [gen.insert(txid), gen.insert(txid)]
    alter_ev = gen.alter()  # ADD COLUMN email varchar(128)
    post = []
    for _ in range(2):
        ev = gen.insert("tx-post")
        ev["new_strings"] = dict(ev["new_strings"], email="user@example.com")
        post.append(ev)

    src_dir = tmp_path / "live_src"
    src_dir.mkdir()

    def write_file(rows, name):
        scratch = str(tmp_path / f"live_scratch_{name}")
        spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(scratch)
        part = next(
            f for f in os.listdir(scratch)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        os.rename(os.path.join(scratch, part), str(src_dir / f"{name}.parquet"))

    write_file(pre, "a_pre")  # available before the run starts

    registry = SchemaRegistry()
    out = str(tmp_path / "live_out")
    orch = AlterOrchestrator(
        source=lambda s: changelog_stream(s, str(src_dir), max_files_per_trigger=1),
        # the sink is REBUILT each round from the orchestrator's
        # current view of the table — the restart is what picks the
        # evolved schema up
        sink=lambda df, ckpt: (
            specific_projection(
                df.filter(F.col("op") == "insert"),
                orch.table_schemas[("mypipe", "user")],
            )
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt).outputMode("append")
        ),
        checkpoint_dir=str(tmp_path / "live_ckpt"),
        registry=registry,
        table_schemas={("mypipe", "user"): USER_SCHEMA},
    )

    feeder_done = threading.Event()

    def feed():
        _time.sleep(1.5)           # first round is live and idle-ish
        write_file([alter_ev], "b_alter")   # DDL arrives mid-run
        _time.sleep(1.5)
        write_file(post, "c_post")          # data queued behind it
        feeder_done.set()

    feeder = threading.Thread(target=feed, daemon=True)
    feeder.start()
    # the wall clock is opt-in (run_live defaults to no deadline —
    # continuous mode must not kill a healthy pipe); the test harness
    # wants one so a hung feeder fails fast instead of wedging CI
    restarts = orch.run_live(
        spark, done=feeder_done.is_set, trigger_seconds=0.5,
        max_wall_seconds=180.0,
    )
    feeder.join()
    assert restarts >= 1  # the ALTER really forced a restart

    # registry carries the evolved schema for all mutation subjects
    for mtype in ("insert", "update", "delete"):
        latest = registry.get_latest(specific_subject("mypipe", "user", mtype))
        assert latest is not None and "email" in latest[1]

    delivered = spark.read.option("mergeSchema", "true").parquet(out)
    # exactly-once: every insert arrived exactly once across restarts
    assert delivered.count() == len(pre) + len(post)
    # post-restart rows flowed through the EVOLVED specific envelope
    assert "email" in delivered.columns
    with_email = delivered.filter(F.col("email").isNotNull())
    assert with_email.count() == len(post)
    assert with_email.select("email").distinct().collect()[0][0] == "user@example.com"


def test_apply_alter_skips_non_alter_ddl_even_with_event_table(spark):
    """_apply_alter must refuse statements that are not ALTER TABLE
    even when the EVENT carries database/table columns — DDL sources
    (Debezium schema-change records) fill source.table for every
    statement class, and registering a schema version + forcing a
    restart per CREATE/DROP/TRUNCATE would exhaust max_restarts
    during an ordinary connector snapshot."""
    registry = SchemaRegistry()
    orch = AlterOrchestrator(
        source=lambda s: None,
        sink=lambda df, ckpt: None,
        checkpoint_dir="/tmp/unused",
        registry=registry,
        table_schemas={("mypipe", "user"): USER_SCHEMA},
    )
    before = set(registry.subjects())
    for sql in (
        "DROP TABLE IF EXISTS `user`",
        "CREATE TABLE `user` (id INT)",
        "TRUNCATE TABLE user",
        "ALTER USER 'x'@'%' IDENTIFIED BY 'y'",
        "ALTER VIEW v AS SELECT 'alter table user add x int' AS s",
    ):
        assert not orch._apply_alter("mypipe", "user", sql), sql
    assert set(registry.subjects()) == before
    # a real ALTER with the same event columns still applies
    assert orch._apply_alter("mypipe", "user", "ALTER TABLE user ADD COLUMN age INT")


def test_apply_alter_statement_qualification_wins(spark):
    """Statement-first db precedence (round-8 review): a USE-db1
    session running `ALTER TABLE db2.t ...` delivers the event with
    database='db1' but TARGETS db2 — the evolved schema must register
    under db2's subjects, and db1's must stay untouched."""
    import json as _json

    reg = SchemaRegistry()
    base = StructType([StructField("id", IntegerType())])
    for db in ("db1", "db2"):
        for mt in ("insert", "update", "delete"):
            reg.register(specific_subject(db, "t", mt), base)
    orch = AlterOrchestrator(
        source=None, sink=None, checkpoint_dir="/tmp/unused", registry=reg
    )
    assert orch._apply_alter("db1", "t", "ALTER TABLE db2.t ADD COLUMN x INT")
    got2 = StructType.fromJson(
        _json.loads(reg.get_latest(specific_subject("db2", "t", "insert"))[1])
    )
    got1 = StructType.fromJson(
        _json.loads(reg.get_latest(specific_subject("db1", "t", "insert"))[1])
    )
    assert got2.fieldNames() == ["id", "x"]
    assert got1.fieldNames() == ["id"]


def test_evolve_schema_text_family_and_case_insensitive_drop():
    """Round-8 review trio: (a) the TEXT size family + CHARACTER map
    instead of being silently skipped; (b) DROP COLUMN matches
    case-insensitively like MySQL identifiers; (c) `ALTER COLUMN c
    DROP DEFAULT` is metadata-only, never a drop of a column named
    'default' — while a REAL backticked `default` column still
    drops."""
    from pyspark.sql.types import BinaryType

    base = StructType(
        [StructField("id", IntegerType()), StructField("email", StringType())]
    )
    for t in ("TINYTEXT", "MEDIUMTEXT", "LONGTEXT"):
        got = evolve_schema(base, f"ALTER TABLE user ADD COLUMN notes {t}")
        assert got.fieldNames() == ["id", "email", "notes"], t
        assert isinstance(got["notes"].dataType, BinaryType), t
    got = evolve_schema(base, "ALTER TABLE user ADD COLUMN code CHARACTER(4)")
    assert got.fieldNames() == ["id", "email", "code"]

    got = evolve_schema(base, "ALTER TABLE user DROP COLUMN EMAIL")
    assert got.fieldNames() == ["id"]
    # case-variant re-add of an existing column stays a no-op
    got = evolve_schema(base, "ALTER TABLE user ADD COLUMN EMAIL BIGINT")
    assert got.fieldNames() == ["id", "email"]

    got = evolve_schema(base, "ALTER TABLE user ALTER COLUMN email DROP DEFAULT")
    assert got.fieldNames() == ["id", "email"]
    withdef = StructType(
        [StructField("id", IntegerType()), StructField("default", StringType())]
    )
    got = evolve_schema(withdef, "ALTER TABLE user DROP COLUMN `default`")
    assert got.fieldNames() == ["id"]


# ---------------------------------------------------------------------------
# round-10 review findings: DDL parser string literals + alias tail,
# query-lifecycle leaks, dead-query surfacing
# ---------------------------------------------------------------------------

def test_evolve_schema_ignores_keywords_inside_string_literals():
    """COMMENT/DEFAULT string literals are routine in MySQL DDL and may
    contain ADD/DROP keyword text; the clause scanners must not see
    it (round-10 review: `COMMENT 'must drop legacy col later'`
    parsed a DROP of a real column named `legacy` and published the
    corrupted schema)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from mypipe_spark.streaming.alter import evolve_schema

    s = StructType(
        [StructField("id", LongType()), StructField("legacy", StringType())]
    )
    out = evolve_schema(
        s,
        "ALTER TABLE t ADD COLUMN note VARCHAR(64) "
        "COMMENT 'must drop legacy col later'",
    )
    assert out.fieldNames() == ["id", "legacy", "note"]
    out = evolve_schema(
        s, "ALTER TABLE t ADD COLUMN note VARCHAR(64) DEFAULT 'add foo int'"
    )
    assert out.fieldNames() == ["id", "legacy", "note"]
    # escaped quotes ('' and \') stay inside the literal; clauses
    # AROUND literals still apply in statement order
    out = evolve_schema(
        s,
        "ALTER TABLE t ADD a INT COMMENT 'it''s \\'quoted\\' drop x', "
        "DROP legacy",
    )
    assert out.fieldNames() == ["id", "a"]


def test_evolve_schema_serial_national_and_fixed_aliases():
    """SERIAL (BIGINT UNSIGNED), NCHAR/NVARCHAR (national charset),
    FIXED (DECIMAL) — the remaining documented MySQL surface aliases
    that silently fell through spark_type_for (the round-8 bug class,
    round-10 tail)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from mypipe_spark.streaming.alter import evolve_schema

    s = StructType([StructField("id", LongType())])
    out = evolve_schema(
        s,
        "ALTER TABLE t ADD COLUMN id2 SERIAL, ADD COLUMN nm NVARCHAR(30), "
        "ADD COLUMN f FIXED(10,2), ADD COLUMN nc NCHAR(5)",
    )
    got = {f.name: f.dataType.simpleString() for f in out.fields}
    assert got["id2"] == "bigint"
    assert got["nm"] == "string" and got["nc"] == "string"
    assert got["f"].startswith("decimal")


def test_stop_pair_stops_watcher_even_when_query_stop_raises():
    """A raising query.stop() (stopTimeout, dead context) must not
    leak the DDL watcher running against the shared _ddl checkpoint
    (round-10 review)."""
    import pytest

    from mypipe_spark.streaming.alter import _stop_pair

    stopped = []

    class _Raises:
        def stop(self):
            stopped.append("query")
            raise TimeoutError("stopTimeout")

    class _Counts:
        def stop(self):
            stopped.append("watcher")

    with pytest.raises(TimeoutError):
        _stop_pair(_Raises(), _Counts())
    assert stopped == ["query", "watcher"]


def test_start_round_stops_sink_when_watcher_start_fails(spark, tmp_path):
    """If the DDL watcher's start() raises after the sink query
    started, the sink must be stopped before the exception propagates
    — otherwise a handle-less query keeps committing checkpoints and
    collides with the retry (round-10 review; the run_pipes
    all-or-nothing contract)."""
    import pytest

    path = str(tmp_path / "cl")
    from mypipe_spark.changelog import changelog_df

    changelog_df(spark, num_transactions=2, alter_every=0).write.parquet(path)
    ckpt = str(tmp_path / "ckpt")
    # make `<ckpt>_ddl` unusable: an existing FILE where the watcher
    # needs a checkpoint DIRECTORY
    with open(ckpt + "_ddl", "w") as f:
        f.write("not a directory")

    orch = AlterOrchestrator(
        source=lambda s: changelog_stream(s, path),
        sink=lambda df, c: (
            df.writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", c)
            .outputMode("append")
        ),
        checkpoint_dir=ckpt,
        registry=SchemaRegistry(),
        table_schemas={("mypipe", "user"): USER_SCHEMA},
    )
    before = {q.id for q in spark.streams.active}
    with pytest.raises(Exception):
        orch._start_round(spark)
    leaked = {q.id for q in spark.streams.active} - before
    assert not leaked, f"sink query leaked after watcher start failure: {leaked}"


def test_run_live_raises_when_sink_query_dies(spark, tmp_path):
    """A sink query that fails asynchronously (first microbatch) must
    surface its exception from run_live's poll loop instead of
    sleeping forever with no deadline (round-10 review: done() never
    fires because rows never land, and stop() does not rethrow)."""
    import pytest

    path = str(tmp_path / "cl")
    from mypipe_spark.changelog import changelog_df

    changelog_df(spark, num_transactions=2, alter_every=0).write.parquet(path)
    out = str(tmp_path / "out")
    with open(out, "w") as f:
        f.write("a file where the sink needs a directory")

    orch = AlterOrchestrator(
        source=lambda s: changelog_stream(s, path),
        sink=lambda df, c: (
            df.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", c)
            .outputMode("append")
        ),
        checkpoint_dir=str(tmp_path / "ckpt"),
        registry=SchemaRegistry(),
        table_schemas={("mypipe", "user"): USER_SCHEMA},
    )
    with pytest.raises(Exception):
        # no max_wall_seconds: the fix, not a timeout, must end this
        orch.run_live(spark, done=lambda: False, trigger_seconds=0.5)


# ---------------------------------------------------------------------------
# round-11: MODIFY / CHANGE / RENAME COLUMN, parenthesized multi-ADD,
# backtick-with-quote identifiers, loud unrecognized clauses
# (VERDICT r10 "What's missing #1" + ADVICE r10)
# ---------------------------------------------------------------------------

def test_evolve_schema_modify_change_rename():
    """MODIFY retypes in place, CHANGE renames AND retypes preserving
    position, RENAME COLUMN renames preserving position and type —
    the clause family the reference gets for free by refetching the
    whole schema (TableCache.scala:41-49) and a regex grammar must
    implement explicitly or silently diverge."""
    from pyspark.sql import types as T

    base = StructType(
        [
            StructField("id", T.IntegerType()),
            StructField("login_count", T.IntegerType()),
            StructField("username", T.StringType()),
        ]
    )
    # MODIFY INT -> BIGINT retypes in place (position preserved)
    s = evolve_schema(base, "ALTER TABLE t MODIFY login_count BIGINT")
    assert s.fieldNames() == ["id", "login_count", "username"]
    assert s["login_count"].dataType == T.LongType()
    # MODIFY COLUMN form + case-insensitive target + trailing attrs
    s = evolve_schema(base, "ALTER TABLE t MODIFY COLUMN LOGIN_COUNT BIGINT NOT NULL FIRST")
    assert s["login_count"].dataType == T.LongType()
    # CHANGE renames and retypes, preserving position
    s = evolve_schema(base, "ALTER TABLE t CHANGE login_count logins BIGINT")
    assert s.fieldNames() == ["id", "logins", "username"]
    assert s["logins"].dataType == T.LongType()
    # CHANGE old old TYPE is the classic retype idiom
    s = evolve_schema(base, "ALTER TABLE t CHANGE COLUMN username username VARCHAR(200)")
    assert s.fieldNames() == ["id", "login_count", "username"]
    assert s["username"].dataType == T.StringType()
    # replayed CHANGE (at-least-once registration) applies idempotently
    s1 = evolve_schema(base, "ALTER TABLE t CHANGE login_count logins BIGINT")
    s2 = evolve_schema(s1, "ALTER TABLE t CHANGE login_count logins BIGINT")
    assert s1 == s2
    # the replay fallback is a NO-OP, never a retype of the new-named
    # column: when the old name is missing because the schema DIVERGED
    # (not a replay), mutating an unrelated existing column would be
    # silent corruption (round-11 review)
    s3 = evolve_schema(base, "ALTER TABLE t CHANGE ghost username BIGINT")
    assert s3 == base  # username keeps StringType, untouched
    # RENAME COLUMN keeps position and type
    s = evolve_schema(base, "ALTER TABLE t RENAME COLUMN username TO login_name")
    assert s.fieldNames() == ["id", "login_count", "login_name"]
    assert s["login_name"].dataType == T.StringType()
    # replayed RENAME is a silent no-op
    assert evolve_schema(s, "ALTER TABLE t RENAME COLUMN username TO login_name") == s
    # multi-clause mixing the whole family applies in order
    s = evolve_schema(
        base,
        "ALTER TABLE t MODIFY id BIGINT, CHANGE username uname TEXT, "
        "ADD COLUMN email VARCHAR(64), DROP COLUMN login_count",
    )
    assert s.fieldNames() == ["id", "uname", "email"]
    assert s["id"].dataType == T.LongType()
    assert s["uname"].dataType == T.BinaryType()  # TEXT -> bytes


def test_evolve_schema_parenthesized_multi_add():
    """`ADD [COLUMN] (a INT, b VARCHAR(10), ...)` — the documented
    MySQL multi-column form the single-column regex cannot see
    (VERDICT r10: previously a silent whole-statement skip)."""
    from pyspark.sql import types as T

    base = StructType([StructField("id", T.IntegerType())])
    s = evolve_schema(
        base,
        "ALTER TABLE t ADD COLUMN (a INT, b VARCHAR(10), c DECIMAL(10,2))",
    )
    assert s.fieldNames() == ["id", "a", "b", "c"]
    assert s["a"].dataType == T.LongType()  # surface INT rides 'longs'
    assert s["b"].dataType == T.StringType()
    assert s["c"].dataType.typeName() == "decimal"
    # bare ADD (no COLUMN keyword) and backticked members
    s = evolve_schema(base, "ALTER TABLE t ADD (`x-1` BIGINT, y TINYTEXT)")
    assert s.fieldNames() == ["id", "x-1", "y"]
    # composes with other clauses in one statement
    s = evolve_schema(
        base, "ALTER TABLE t ADD COLUMN (a INT, b INT), DROP COLUMN id"
    )
    assert s.fieldNames() == ["a", "b"]


def test_evolve_schema_backticked_identifier_containing_quote():
    """A backticked identifier may legally contain a quote character;
    before the round-11 fix the quote opened a phantom string literal
    that blanked the rest of the statement (ADVICE r10 + VERDICT
    'same bucket')."""
    from pyspark.sql import types as T

    base = StructType(
        [StructField("id", T.IntegerType()), StructField("legacy", T.StringType())]
    )
    s = evolve_schema(
        base, "ALTER TABLE t ADD COLUMN `user's pick` INT, DROP COLUMN legacy"
    )
    assert s.fieldNames() == ["id", "user's pick"]
    # and in the table head position too
    s = evolve_schema(base, "ALTER TABLE `it's a table` ADD COLUMN x BIGINT")
    assert "x" in s.fieldNames()


def test_evolve_schema_unrecognized_clause_is_loud(caplog):
    """Silent-ignore is the one failure mode the reference structurally
    cannot have (it refetches everything on any ALTER) — an unparsed
    clause must emit a WARNING naming the clause, while recognized
    schema-neutral clauses (table options, index work, column-default
    metadata) stay quiet."""
    import logging

    base = StructType([StructField("id", IntegerType())])
    with caplog.at_level(logging.WARNING, logger="mypipe_spark.streaming.alter"):
        caplog.clear()
        out = evolve_schema(base, "ALTER TABLE t FROBNICATE COLUMN id")
        assert out == base
        assert any(
            "FROBNICATE" in r.message and "STALE" in r.message
            for r in caplog.records
        )
        # MODIFY of a column the schema does not know is loud too
        caplog.clear()
        out = evolve_schema(base, "ALTER TABLE t MODIFY ghost BIGINT")
        assert out == base
        assert any("ghost" in r.message for r in caplog.records)
        # unmapped type on ADD is loud now (was a silent skip)
        caplog.clear()
        out = evolve_schema(base, "ALTER TABLE t ADD COLUMN p POINT")
        assert out == base
        assert any("POINT" in r.message for r in caplog.records)
        # recognized schema-neutral clauses stay quiet
        caplog.clear()
        for sql in (
            "ALTER TABLE t ENGINE=InnoDB",
            "ALTER TABLE t ADD INDEX idx (id)",
            "ALTER TABLE t DROP INDEX idx",
            "ALTER TABLE t ALTER COLUMN id SET DEFAULT 0",
            "ALTER TABLE t ALTER COLUMN id DROP DEFAULT",
            "ALTER TABLE t AUTO_INCREMENT = 100",
            "ALTER TABLE t COMMENT 'audited'",
            "ALTER TABLE t DEFAULT CHARACTER SET utf8mb4",
            "ALTER TABLE t CONVERT TO CHARACTER SET utf8mb4",
            "ALTER TABLE t RENAME TO t_new",
            "ALTER TABLE t RENAME INDEX i1 TO i2",
            "ALTER TABLE t ROW_FORMAT=COMPRESSED, ALGORITHM=INPLACE, LOCK=NONE",
            "ALTER TABLE t DROP PARTITION p0",
            "ALTER TABLE t FORCE",
            "ALTER TABLE t ALTER INDEX idx INVISIBLE",
            "ALTER TABLE t ALTER CHECK c1 NOT ENFORCED",
            "ALTER TABLE t RENAME TO db2.t2",
            "ALTER TABLE t PARTITION BY RANGE (id) (PARTITION p0 VALUES LESS THAN (10))",
        ):
            assert evolve_schema(base, sql) == base, sql
        assert not caplog.records, [r.message for r in caplog.records]


def test_modify_reroutes_values_to_longs_on_next_mutation(spark):
    """The VERDICT's named pin: after `MODIFY login_count BIGINT` the
    registered schema routes the column's values into the generic
    envelope's `longs` map on the next mutation (the Debezium adapter
    buckets by the table schema's Spark types), and the specific
    projection still finds the value."""
    import base64 as _b64
    import json as _json

    from mypipe_spark.sinks.wire import specific_projection
    from mypipe_spark.sources.debezium import debezium_change_events

    v1 = StructType(
        [
            StructField("id", IntegerType()),
            StructField("login_count", IntegerType()),
            StructField("username", StringType()),
        ]
    )
    body = {
        "op": "c",
        "before": None,
        "after": {"id": 1, "login_count": 42, "username": "u1"},
        "ts_ms": 1_700_000_000_000,
        "source": {
            "db": "mypipe", "table": "user",
            "ts_ms": 1_700_000_000_000,
            "file": "binlog.000001", "pos": 10, "txId": "tx1",
        },
    }
    df = spark.createDataFrame([(_json.dumps({"payload": body}),)], "value string")

    before = debezium_change_events(df, table_schema=v1).collect()[0]
    assert before["new_integers"]["login_count"] == 42
    assert before["new_longs"] is None or "login_count" not in before["new_longs"]

    v2 = evolve_schema(v1, "ALTER TABLE mypipe.user MODIFY login_count BIGINT")
    after = debezium_change_events(df, table_schema=v2).collect()[0]
    assert after["new_longs"]["login_count"] == 42
    assert after["new_integers"] is None or "login_count" not in after["new_integers"]

    # the specific projection under v2 reads the value from `longs`
    proj = specific_projection(
        debezium_change_events(df, table_schema=v2), v2
    ).collect()[0]
    assert proj["login_count"] == 42 and proj["username"] == "u1"


def test_change_rename_propagates_through_specific_wire(spark):
    """The KafkaAlterSpec.scala:54-94 analog extended to CHANGE: encode
    a batch under v1, apply `CHANGE username login ...`, register v2,
    encode a second batch under v2 — decode_specific_versioned yields
    a v1 branch with `username` and a v2 branch with `login`, and
    specific_projection under v2 reads the renamed key."""
    from mypipe_spark.changelog import changelog_df
    from mypipe_spark.operators.decode import mutations_only
    from mypipe_spark.registry import register_table
    from mypipe_spark.sinks.wire import (
        decode_specific_versioned,
        encode_specific,
        specific_projection,
    )

    v1 = StructType(
        [StructField("id", IntegerType()), StructField("username", StringType())]
    )
    reg = SchemaRegistry()
    register_table(reg, "mypipe", "user", v1)

    ins = mutations_only(
        changelog_df(spark, num_transactions=3, rollback_prob=0.0)
    ).filter("op='insert'")
    batch1 = encode_specific(ins, v1, reg, "mypipe", "user").select("value")

    v2 = evolve_schema(
        v1, "ALTER TABLE mypipe.user CHANGE username login VARCHAR(64)"
    )
    assert v2.fieldNames() == ["id", "login"]
    register_table(reg, "mypipe", "user", v2)

    # post-ALTER mutations carry the renamed key in their string map
    ins2 = ins.withColumn(
        "new_strings",
        F.create_map(F.lit("login"), F.col("new_strings")["username"]),
    )
    batch2 = encode_specific(ins2, v2, reg, "mypipe", "user").select("value")

    branches = decode_specific_versioned(
        batch1.unionByName(batch2), reg, "mypipe", "user"
    )
    n = ins.count()
    assert n > 0
    b1, b2 = branches[("insert", 1)], branches[("insert", 2)]
    assert b1.count() == n and b2.count() == n
    assert "username" in b1.select("record.*").columns
    cols2 = b2.select("record.*").columns
    assert "login" in cols2 and "username" not in cols2
    r2 = b2.select("record.*").limit(1).collect()[0]
    assert r2["login"] is not None and r2["login"].startswith("username")

    # projection under the evolved schema reads the renamed column
    proj = specific_projection(ins2, v2)
    assert proj.filter(F.col("login").isNotNull()).count() == n


def test_apply_alter_registers_modify_and_change_versions(spark):
    """Orchestrator-level closure of the T10 clause gap: MODIFY and
    CHANGE observed by _apply_alter must register an evolved specific
    schema version exactly like ADD/DROP always did."""
    import json as _json

    reg = SchemaRegistry()
    base = StructType(
        [StructField("id", IntegerType()), StructField("username", StringType())]
    )
    for mt in ("insert", "update", "delete"):
        reg.register(specific_subject("mypipe", "user", mt), base)
    orch = AlterOrchestrator(
        source=None, sink=None, checkpoint_dir="/tmp/unused", registry=reg
    )
    assert orch._apply_alter(
        "mypipe", "user", "ALTER TABLE mypipe.user MODIFY id BIGINT"
    )
    v2 = StructType.fromJson(
        _json.loads(reg.get_latest(specific_subject("mypipe", "user", "insert"))[1])
    )
    assert v2["id"].dataType.typeName() == "long"
    assert orch._apply_alter(
        "mypipe", "user", "ALTER TABLE mypipe.user CHANGE username login VARCHAR(64)"
    )
    v3 = StructType.fromJson(
        _json.loads(reg.get_latest(specific_subject("mypipe", "user", "insert"))[1])
    )
    assert v3.fieldNames() == ["id", "login"]
    # three versions registered per subject across base + 2 ALTERs
    for mt in ("insert", "update", "delete"):
        assert reg.get_latest(specific_subject("mypipe", "user", mt))[0] == 3
