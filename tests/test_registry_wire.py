from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from mypipe_spark.changelog import changelog_df
from mypipe_spark.model import MUTATION_MAGIC, generic_subject
from mypipe_spark.operators.decode import mutations_only
from mypipe_spark.registry import SchemaRegistry, in_memory_repo, register_table
from mypipe_spark.sinks.wire import decode_generic, encode_generic, specific_projection


def test_registry_versioning_and_flush():
    reg = SchemaRegistry()
    s = "subj"
    id1 = reg.register(s, "schema-v1")
    id2 = reg.register(s, "schema-v2")
    assert (id1, id2) == (1, 2)
    # idempotent re-register returns the same id
    assert reg.register(s, "schema-v1") == 1
    assert reg.get_schema(s, 1) == "schema-v1"
    assert reg.get_schema_id(s, "schema-v2") == 2
    # latest-wins with cache flush (AvroSchemaSpec.scala:82-94 analog)
    assert reg.get_latest(s) == (2, "schema-v2")
    reg.register(s, "schema-v3")
    assert reg.get_latest(s, flush_cache=True) == (3, "schema-v3")
    assert reg.versions(s) == [1, 2, 3]
    assert reg.get_latest("missing") is None
    assert reg.get_schema(s, 99) is None


def test_in_memory_repo_preseeded():
    reg = in_memory_repo()
    for mtype in ("insert", "update", "delete"):
        assert reg.get_latest(generic_subject(mtype)) is not None


def test_register_table_subjects():
    reg = SchemaRegistry()
    schema = StructType([StructField("id", IntegerType()), StructField("u", StringType())])
    ids = register_table(reg, "mypipe", "user", schema)
    assert set(ids) == {"mypipe_user_insert", "mypipe_user_update", "mypipe_user_delete"}
    assert all(v == 1 for v in ids.values())


@pytest.fixture(params=["in_memory", "rest"])
def wire_repo(request):
    """The encode path duck-types over the repo — run the round-trip
    once against the in-memory registry and once against a LIVE
    RestSchemaRegistry over a loopback serve_registry, so the REST
    client drives real encoding the way the reference serializer talks
    to its remote schema repo (KafkaAvroSerializer.scala:41-67)."""
    if request.param == "in_memory":
        yield in_memory_repo()
        return
    import threading

    from mypipe_spark.registry import RestSchemaRegistry, serve_registry

    server, url = serve_registry(in_memory_repo())
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        yield RestSchemaRegistry(url)
    finally:
        server.shutdown()


def test_wire_roundtrip(spark, wire_repo):
    reg = wire_repo
    df = mutations_only(changelog_df(spark, num_transactions=15))
    encoded = encode_generic(df, reg)

    # framing: header bytes are exactly [0x0][mtype][short BE]
    first = encoded.filter(F.col("op") == "update").select("value").limit(1).collect()[0][0]
    assert first[0] == 0x0
    assert first[1] == MUTATION_MAGIC["update"]
    schema_id = int.from_bytes(first[2:4], "big")
    assert schema_id == reg.get_latest(generic_subject("update"))[0]

    decoded = decode_generic(encoded.select("value"))
    assert decoded.filter(~F.col("magic_ok")).count() == 0
    # ops survive the mtype round-trip
    n_by_op = {r["op"]: r["n"] for r in decoded.groupBy("op").agg(F.count("*").alias("n")).collect()}
    orig = {r["op"]: r["n"] for r in df.groupBy("op").agg(F.count("*").alias("n")).collect()}
    assert n_by_op == orig
    # payload fields survive, including binary map values (base64 in JSON)
    one = (
        decoded.filter(F.col("op") == "insert")
        .select("payload.database", "payload.table", "payload.integers", "payload.bytes")
        .limit(1)
        .collect()[0]
    )
    assert one["database"] == "mypipe" and one["table"] == "user"
    assert "id" in one["integers"]
    assert bytes(one["bytes"]["bio"]).startswith(b"bio")


def test_specific_projection(spark):
    df = mutations_only(changelog_df(spark, num_transactions=10))
    user_schema = StructType(
        [
            StructField("id", IntegerType()),
            StructField("username", StringType()),
            StructField("login_count", IntegerType()),
        ]
    )
    out = specific_projection(df.filter(F.col("op") == "insert"), user_schema)
    row = out.limit(1).collect()[0]
    assert row["username"].startswith("username")
    assert isinstance(row["id"], int) and row["login_count"] == 0
    # before-image projection for deletes
    deletes = df.filter(F.col("op") == "delete")
    if deletes.count():
        row = specific_projection(deletes, user_schema, image="old").limit(1).collect()[0]
        assert row["id"] is not None


def test_specific_projection_bigint_reads_both_integer_maps(spark):
    """A MySQL LONG column is LongType in a registered schema and
    rides the WIRE in 'longs' (reference rule), but a SNAPSHOT of the
    same table buckets its Spark IntegerType read into 'integers' —
    a bigint field must find its value in either map (int → bigint is
    lossless widening), or snapshot preloads of INT columns would
    project to NULL under the evolved schema."""
    from pyspark.sql.types import LongType

    df = mutations_only(changelog_df(spark, num_transactions=5))
    # generator payloads put id in 'integers'; re-type id as bigint in
    # the registered schema (the post-round-5 spark_type_for('LONG'))
    schema = StructType(
        [StructField("id", LongType()), StructField("username", StringType())]
    )
    out = specific_projection(df.filter(F.col("op") == "insert"), schema)
    rows = out.collect()
    assert rows and all(r["id"] is not None for r in rows)
    assert all(isinstance(r["id"], int) for r in rows)


class _FixedIdRegistry:
    """Registry stub: every subject's latest schema has ``schema_id``."""

    def __init__(self, schema_id: int) -> None:
        self.schema_id = schema_id

    def subjects(self) -> list[str]:
        return [f"mypipe_user_{op}" for op in MUTATION_MAGIC]

    def get_latest(self, subject: str, flush_cache: bool = False):
        return (self.schema_id, "{}")


def test_out_of_range_schema_id_fails_at_encoder_build(spark):
    """An id outside [0, 0xFFFF] must never reach a frame: each of the
    four encoders raises when it is built instead of truncating the id
    into a corrupted wire header; 0xFFFF itself frames intact."""
    from mypipe_spark.sinks.wire import (
        encode_dead_letter_split,
        encode_specific,
        encode_specific_dead_letter_split,
    )

    schema = StructType(
        [StructField("id", IntegerType()), StructField("username", StringType())]
    )
    muts = mutations_only(changelog_df(spark, num_transactions=2))
    encoders = [
        lambda reg: encode_generic(muts, reg),
        lambda reg: encode_dead_letter_split(muts, reg, codec="avro_ref"),
        lambda reg: encode_specific(
            muts, schema, reg, database="mypipe", table="user"
        ),
        lambda reg: encode_specific_dead_letter_split(muts, schema, reg),
    ]
    for bad in (0x10000, -1):
        for build in encoders:
            with pytest.raises(ValueError, match="schema id out of 2-byte range"):
                build(_FixedIdRegistry(bad))
    for build in (encoders[0], encoders[2]):
        rows = build(_FixedIdRegistry(0xFFFF)).filter("op = 'insert'").collect()
        assert rows and all(r["schema_id"] == 0xFFFF for r in rows)
        assert {bytes(r["value"][:4]) for r in rows} == {b"\x00\x01\xff\xff"}


def test_parse_bytes_size_suffixes():
    """scale_out must survive legal Spark size strings like '128m'."""
    from mypipe_spark.plans.catalog import _parse_bytes

    assert _parse_bytes("134217728b") == 128 << 20
    assert _parse_bytes("128m") == 128 << 20
    assert _parse_bytes("1g") == 1 << 30
    assert _parse_bytes("512k") == 512 << 10
    assert _parse_bytes("junk") == 134217728  # falls back, never raises
    assert _parse_bytes("64") == 64


def test_registry_id_overflow():
    # simulate a subject at the Short ceiling
    from mypipe_spark.registry import _Subject

    reg = SchemaRegistry()
    sub = _Subject()
    sub.latest_id = SchemaRegistry.MAX_ID
    reg._store["s"] = sub
    with pytest.raises(OverflowError):
        reg.register("s", "one-too-many")


def test_registry_save_load_roundtrip(tmp_path):
    from mypipe_spark.registry import load_registry, save_registry

    reg = SchemaRegistry()
    reg.register("a", "s1")
    reg.register("a", "s2")
    reg.register("b", "x1")
    path = str(tmp_path / "reg.json")
    save_registry(reg, path)
    back = load_registry(path)
    assert back.subjects() == ["a", "b"]
    assert back.get_latest("a") == (2, "s2")
    assert back.get_schema("a", 1) == "s1"
    assert back.versions("b") == [1]


def _mangle(frame: bytes, kind: str, salt: int) -> tuple[bytes, str]:
    """Corrupt a well-formed frame into a specific malformed class;
    returns (bytes, expected dlq_reason)."""
    if kind == "short":
        return frame[: salt % 5], "short_frame"
    if kind == "magic":
        return bytes([(salt % 255) + 1]) + frame[1:], "bad_magic"
    if kind == "mtype":
        return frame[:1] + bytes([(salt % 250) + 4]) + frame[2:], "unknown_mtype"
    if kind == "schema":
        bad = 0x7000 + (salt % 0xFF)
        return frame[:2] + bad.to_bytes(2, "big") + frame[4:], "unknown_schema"
    if kind == "utf8":
        return frame[:4] + b"\xff\xfe" + frame[5:], "bad_payload"
    if kind == "garbage_json":
        return frame[:4] + b"{not json" + bytes([32 + salt % 90]), "bad_payload"
    raise AssertionError(kind)


def test_malformed_frames_route_to_dead_letter(spark):
    """Property: for ANY corruption of a well-formed frame — truncated
    header, wrong magic, unknown mutation byte, schema id the registry
    never issued, payload that is not UTF-8 or not an envelope — the
    decode splitter diverts the frame to the DLQ branch with the
    matching reason and NEVER raises (the reference's decode-layer
    error cascade, binaryLogConsumerTraits.scala:89-137: a bad frame
    skips-and-diverts, it does not kill the consumer). Valid frames all
    decode on the main branch; the two branches partition the input."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mypipe_spark.sinks.wire import frame_dead_letter_split

    reg = in_memory_repo()
    base = mutations_only(changelog_df(spark, num_transactions=3))
    frames = [r[0] for r in encode_generic(base, reg).select("value").collect()]
    n_valid = len(frames)

    @settings(max_examples=12, deadline=None)
    @given(
        kinds=st.lists(
            st.sampled_from(
                ["short", "magic", "mtype", "schema", "utf8", "garbage_json"]
            ),
            min_size=1,
            max_size=6,
        ),
        salt=st.integers(min_value=0, max_value=10_000),
    )
    def check(kinds, salt):
        mangled = [
            _mangle(frames[(salt + i) % n_valid], k, salt + i)
            for i, k in enumerate(kinds)
        ]
        rows = [(f,) for f, _ in mangled] + [(f,) for f in frames]
        df = spark.createDataFrame(rows, "value binary")
        decoded, dead = frame_dead_letter_split(df, reg)
        got_dead = [
            (bytes(r["value"]), r["dlq_reason"]) for r in dead.collect()
        ]
        assert sorted(got_dead) == sorted((f, why) for f, why in mangled)
        # every valid frame decodes on the main branch, envelope intact
        ok = decoded.collect()
        assert len(ok) == n_valid
        assert all(r["magic_ok"] and r["payload"]["database"] == "mypipe" for r in ok)

    check()


def test_null_frame_tombstone_routes_to_dead_letter(spark):
    """A NULL wire value — a Kafka compacted-topic tombstone — must
    land on the DLQ branch as null_frame. Before the explicit check,
    every cascade predicate evaluated NULL on it, dlq_reason stayed
    NULL, and the tombstone passed as 'valid' with all-null decode."""
    from mypipe_spark.sinks.wire import encode_generic, frame_dead_letter_split

    reg = in_memory_repo()
    base = mutations_only(changelog_df(spark, num_transactions=2))
    frames = [r[0] for r in encode_generic(base, reg).select("value").collect()]
    rows = [(f,) for f in frames] + [(None,), (None,)]
    df = spark.createDataFrame(rows, "value binary")
    decoded, dead = frame_dead_letter_split(df, reg)
    assert decoded.count() == len(frames)
    got = [(r["value"], r["dlq_reason"]) for r in dead.collect()]
    assert got == [(None, "null_frame"), (None, "null_frame")]


def test_frame_dead_letter_split_under_streaming(spark, tmp_path):
    """The frame splitter is the live decode layer of the error
    cascade: under a running stream, malformed frames (including a
    NULL tombstone) must divert to the DLQ sink while valid frames
    decode on the main sink — and neither branch may kill the query
    (under ANSI mode an unguarded decode() on garbage bytes would)."""
    from mypipe_spark.sinks.wire import encode_generic, frame_dead_letter_split

    reg = in_memory_repo()
    base = mutations_only(changelog_df(spark, num_transactions=3))
    frames = [r[0] for r in encode_generic(base, reg).select("value").collect()]
    bad = [
        (b"\x07" + frames[0][1:],),            # bad_magic
        (b"\x00\x01",),                        # short_frame
        (bytes(frames[0][:4]) + b"\xff\xfe",), # valid header, invalid UTF-8
    ]
    src = str(tmp_path / "frames_src")
    spark.createDataFrame([(f,) for f in frames] + bad + [(None,)], "value binary").write.parquet(src)

    stream = spark.readStream.schema("value binary").parquet(src)
    decoded, dead = frame_dead_letter_split(stream, reg)
    q1 = (
        decoded.writeStream.format("memory").queryName("wire_main")
        .option("checkpointLocation", str(tmp_path / "ck_main")).start()
    )
    q2 = (
        dead.writeStream.format("memory").queryName("wire_dlq")
        .option("checkpointLocation", str(tmp_path / "ck_dlq")).start()
    )
    try:
        q1.processAllAvailable()
        q2.processAllAvailable()
        main_rows = spark.sql("SELECT * FROM wire_main").collect()
        dlq = {
            r["dlq_reason"]
            for r in spark.sql("SELECT * FROM wire_dlq").collect()
        }
    finally:
        q1.stop()
        q2.stop()
    assert len(main_rows) == len(frames)
    assert all(r["magic_ok"] and r["payload"]["database"] == "mypipe" for r in main_rows)
    assert dlq == {"bad_magic", "short_frame", "null_frame", "bad_payload"}


def test_encode_control_rows_do_not_kill_the_query(spark):
    """One begin/commit row piped into encode_generic unfiltered used
    to hit raise_error through the header's NULL schema-id fallthrough
    and fail the whole query. NULL ids now propagate (NULL frame), and
    encode_dead_letter_split routes the unframeable rows with reasons
    while valid mutations encode byte-identically."""
    from mypipe_spark.sinks.wire import encode_dead_letter_split, encode_generic

    reg = in_memory_repo()
    full = changelog_df(spark, num_transactions=2)  # mutations + control
    muts = mutations_only(full)

    # raw encode over the unfiltered stream is total: control rows
    # frame to NULL, mutations still produce their exact bytes
    raw = encode_generic(full, reg)
    assert raw.filter("value IS NULL").count() == full.count() - muts.count()
    expected = sorted(
        bytes(r[0]) for r in encode_generic(muts, reg).select("value").collect()
    )
    assert sorted(
        bytes(r[0])
        for r in raw.filter("value IS NOT NULL").select("value").collect()
    ) == expected

    # the splitter names the reason instead of leaving NULLs behind
    encoded, dead = encode_dead_letter_split(full, reg)
    assert sorted(
        bytes(r[0]) for r in encoded.select("value").collect()
    ) == expected
    assert dead.count() == full.count() - muts.count()
    assert set(
        r[0] for r in dead.select("dlq_reason").distinct().collect()
    ) == {"not_a_mutation"}

    # a NULL op (corrupt upstream row) must divert too — isin(NULL) is
    # NULL, so without the explicit isNull check the row would pass as
    # "valid" and encode to a silent NULL frame
    from pyspark.sql import functions as F

    nulled = full.withColumn(
        "op", F.when(F.col("op") == "insert", F.lit(None)).otherwise(F.col("op"))
    )
    n_insert = full.filter("op = 'insert'").count()
    encoded_n, dead_n = encode_dead_letter_split(nulled, reg)
    assert encoded_n.filter("value IS NULL").count() == 0
    assert (
        dead_n.filter("op IS NULL AND dlq_reason = 'not_a_mutation'").count()
        == n_insert
    )


def test_avro_codec_hand_computed_reference_vector():
    """The pure-Python Avro writer must produce the exact spec bytes:
    this vector was derived by hand from the Avro 1.12 binary-encoding
    rules for the reference's InsertMutation record (zigzag varints,
    length-prefixed strings, union index for the null Guid, one
    map block + terminator)."""
    from mypipe_spark.sinks.avro_codec import (
        decode_reference_record,
        encode_reference_record,
    )

    rec = {
        "database": "db", "table": "t", "tableId": 1, "txid": None,
        "bytes": {}, "integers": {"id": 1}, "strings": {}, "longs": {},
    }
    b = encode_reference_record("insert", rec)
    assert b == b"\x04db\x02t\x02\x00\x00\x02\x04id\x02\x00\x00\x00"
    back = decode_reference_record("insert", b)
    assert back["database"] == "db" and back["integers"] == {"id": 1}


def test_avro_wire_codecs_roundtrip_equal_json(spark):
    """codec='avro_ref' (the reference's per-op mutations.avsc
    records, fixed-16 Guid txid) must round-trip the framed stream to
    the same canonical events as the JSON codec."""
    from mypipe_spark.registry import in_memory_repo
    from mypipe_spark.sinks.wire import decoded_change_events

    muts = mutations_only(changelog_df(spark, num_transactions=6, rollback_prob=0.0))
    reg = in_memory_repo()
    cols = [
        "op", "database", "table", "table_id", "txid",
        "new_integers", "new_strings", "new_bytes", "old_integers",
    ]

    def roundtrip(codec):
        framed = encode_generic(muts, reg, codec=codec).select("value")
        ev = decoded_change_events(decode_generic(framed, codec=codec))
        return sorted(map(repr, ev.select(*cols).collect()))

    js = roundtrip("json")
    assert len(js) == muts.count() > 0
    assert roundtrip("avro_ref") == js


def test_avro_dead_letter_split_classifies_bad_bodies(spark):
    """Under the avro_ref codec the dead-letter cascade must divert a
    frame whose header is valid but whose body is not Avro
    (bad_payload), while every well-formed frame decodes — the decoder
    is permissive per row because a Python UDF inside CaseWhen runs
    for every row."""
    from mypipe_spark.registry import in_memory_repo
    from mypipe_spark.sinks.wire import frame_dead_letter_split

    muts = mutations_only(changelog_df(spark, num_transactions=5, rollback_prob=0.0))
    framed = encode_generic(muts, in_memory_repo(), codec="avro_ref").select("value")
    # keep the real 4-byte header of one frame, replace the body
    bad_body = framed.limit(1).withColumn(
        "value",
        F.concat(F.substring("value", 1, 4), F.expr("X'FFFFFFFFFFFFFFFF'")),
    )
    valid, dead = frame_dead_letter_split(
        framed.unionByName(bad_body), registry=None, codec="avro_ref"
    )
    assert valid.count() == muts.count()
    assert [r["dlq_reason"] for r in dead.collect()] == ["bad_payload"]


def test_specific_wire_roundtrip(spark):
    """The framed SPECIFIC wire path (KafkaMutationSpecificAvroProducer
    analog): per-table Avro records behind the standard frame, schema
    id resolved per row from the registry's <db>_<table>_<op> subject.
    Insert/delete frames decode to single-image typed columns equal to
    specific_projection; update frames carry old_/new_ pairs."""
    from pyspark.sql.types import BinaryType
    from mypipe_spark.sinks.wire import decode_specific, encode_specific

    muts = mutations_only(changelog_df(spark, num_transactions=6, rollback_prob=0.0))
    user_schema = StructType(
        [
            StructField("id", IntegerType()),
            StructField("username", StringType()),
            StructField("password", StringType()),
            StructField("login_count", IntegerType()),
            StructField("bio", BinaryType()),
        ]
    )
    reg = SchemaRegistry()
    register_table(reg, "mypipe", "user", user_schema)
    framed = encode_specific(muts, user_schema, reg)
    assert framed.filter(F.col("value").isNull()).count() == 0
    # frame header: registered specific schema id, correct mtype magic
    first = framed.filter("op='insert'").select("value").limit(1).collect()[0][0]
    assert first[0] == 0x0 and first[1] == MUTATION_MAGIC["insert"]
    assert int.from_bytes(first[2:4], "big") == reg.get_latest("mypipe_user_insert")[0]

    singles = decode_specific(framed.select("value"), user_schema, which="single")
    upds = decode_specific(framed.select("value"), user_schema, which="update")
    assert singles.count() == muts.filter("op != 'update'").count()
    assert upds.count() == muts.filter("op = 'update'").count()

    proj = specific_projection(muts.filter("op='insert'"), user_schema)
    got = sorted(
        map(tuple, singles.filter("op='insert'")
            .select("record.id", "record.username", "record.login_count").collect())
    )
    want = sorted(map(tuple, proj.select("id", "username", "login_count").collect()))
    assert got == want and len(got) > 0
    if upds.count():
        u = upds.select("record.*").limit(1).collect()[0]
        assert u["old_username"] != u["new_username"]
        assert u["new_login_count"] == u["old_login_count"] + 1


def test_specific_record_rejects_unsupported_column_types():
    from pyspark.sql.types import DoubleType
    from mypipe_spark.sinks.avro_codec import specific_fields

    bad = StructType([StructField("x", DoubleType())])
    with pytest.raises(ValueError, match="unsupported column type"):
        specific_fields(bad)


def test_avro_map_encoding_skips_null_values(spark):
    """Spark maps may hold NULL values, Avro map values may not; the
    reference drops null columns from the envelope (v.isDefined
    guards) — the codec must do the same rather than dead-lettering
    the whole row over one NULL column."""
    from mypipe_spark.registry import in_memory_repo
    from mypipe_spark.sinks.avro_codec import (
        decode_reference_record,
        encode_reference_record,
    )
    from mypipe_spark.sinks.wire import decode_generic

    # pure layer: null value skipped, others kept
    rec = {"database": "d", "table": "t", "strings": {"a": None, "b": "x"}}
    back = decode_reference_record("insert", encode_reference_record("insert", rec))
    assert back["strings"] == {"b": "x"}

    # end to end through the framed stream
    muts = mutations_only(changelog_df(spark, num_transactions=3, rollback_prob=0.0))
    withnull = muts.filter("op='insert'").withColumn(
        "new_strings",
        F.map_concat(
            "new_strings",
            F.create_map(F.lit("nullcol"), F.lit(None).cast("string")),
        ),
    )
    framed = encode_generic(withnull, in_memory_repo(), codec="avro_ref").select("value")
    assert framed.filter(F.col("value").isNull()).count() == 0
    dec = decode_generic(framed, codec="avro_ref")
    strings = dec.select("payload.strings").limit(1).collect()[0][0]
    assert "nullcol" not in strings and "username" in strings

    # int and long maps too: a NULL value next to real ones is skipped,
    # not a reason to dead-letter the row as serialize_failure
    from mypipe_spark.sinks.wire import encode_dead_letter_split
    from mypipe_spark.sources.snapshot import to_insert_mutations

    row = spark.createDataFrame(
        [(1, None, 2**62 + 1, None)], "id int, x int, big bigint, y bigint"
    )
    valid, dead = encode_dead_letter_split(
        to_insert_mutations(row, "d", "t"), in_memory_repo(), codec="avro_ref"
    )
    assert dead.count() == 0
    back = decode_generic(valid.select("value"), codec="avro_ref").collect()
    assert [(r["payload"]["integers"], r["payload"]["longs"]) for r in back] == [
        ({"id": 1}, {"big": 2**62 + 1})
    ]


def test_decode_specific_versioned_after_alter(spark):
    """K11 versioned serde, consumer side: after an ALTER the topic
    carries v1 and v2 frames; each must decode with the schema its
    header id names. Encode a batch under v1, evolve the schema (ADD
    COLUMN email), encode a second batch under v2, and decode the
    mixed stream per (op, version)."""
    from mypipe_spark.streaming.alter import evolve_schema
    from mypipe_spark.sinks.wire import decode_specific_versioned, encode_specific

    v1 = StructType(
        [
            StructField("id", IntegerType()),
            StructField("username", StringType()),
        ]
    )
    reg = SchemaRegistry()
    register_table(reg, "mypipe", "user", v1)

    ins = mutations_only(
        changelog_df(spark, num_transactions=4, rollback_prob=0.0)
    ).filter("op='insert'")
    batch1 = encode_specific(ins, v1, reg).select("value")

    v2 = evolve_schema(v1, "ALTER TABLE mypipe.user ADD COLUMN email varchar(64)")
    register_table(reg, "mypipe", "user", v2)
    ins2 = ins.withColumn(
        "new_strings",
        F.map_concat(
            "new_strings", F.create_map(F.lit("email"), F.lit("u@example.com"))
        ),
    )
    batch2 = encode_specific(ins2, v2, reg).select("value")

    mixed = batch1.unionByName(batch2)
    branches = decode_specific_versioned(mixed, reg, "mypipe", "user")
    n = ins.count()
    assert n > 0
    b1 = branches[("insert", 1)]
    b2 = branches[("insert", 2)]
    assert b1.count() == n and b2.count() == n
    assert "email" not in b1.select("record.*").columns
    r2 = b2.select("record.*").limit(1).collect()[0]
    assert r2["email"] == "u@example.com" and r2["username"].startswith("username")
    # delete branches exist (empty — the stream carried only inserts)
    assert branches[("delete", 1)].count() == 0


def test_encode_split_diverts_serialize_failures(spark):
    """Under ``strict_txid=True`` (the opt-in reference-parity mode) a
    non-UUID txid under avro_ref — whose Guid field is fixed(16) —
    must land in the dead-letter branch with reason serialize_failure,
    not leave as a silent NULL frame (a Kafka tombstone). Every valid
    frame is non-NULL."""
    from mypipe_spark.registry import in_memory_repo
    from mypipe_spark.sinks.wire import encode_dead_letter_split

    muts = mutations_only(changelog_df(spark, num_transactions=4, rollback_prob=0.0))
    bad = muts.limit(1).withColumn("txid", F.lit("not-a-uuid"))
    valid, dead = encode_dead_letter_split(
        muts.unionByName(bad), in_memory_repo(), codec="avro_ref",
        strict_txid=True,
    )
    assert valid.filter(F.col("value").isNull()).count() == 0
    assert valid.count() == muts.count()
    reasons = [r["dlq_reason"] for r in dead.collect()]
    assert reasons == ["serialize_failure"]


def test_avro_ref_gtid_txid_maps_instead_of_diverting(spark):
    """Real Debezium txids are NOT bare UUIDs (MySQL GTID 'uuid:1-5',
    numeric Postgres txId) — by default the avro_ref encoder must map
    them deterministically onto the fixed-16 Guid (uuid5) rather than
    dead-lettering every tx-bearing row as serialize_failure (the
    round-5 advisory: composing the Debezium source with codec=
    'avro_ref' diverted 100% of the stream). Same txid → same Guid, so
    transaction grouping survives the wire."""
    import uuid as _uuid

    from mypipe_spark.registry import in_memory_repo
    from mypipe_spark.sinks.avro_codec import (
        TXID_GUID_NAMESPACE,
        txid_to_guid,
    )
    from mypipe_spark.sinks.wire import decode_generic, encode_dead_letter_split

    gtid = "3e11fa47-71ca-11e1-9e33-c80aa9429562:23"
    muts = mutations_only(
        changelog_df(spark, num_transactions=4, rollback_prob=0.0)
    ).withColumn("txid", F.lit(gtid))
    valid, dead = encode_dead_letter_split(
        muts, in_memory_repo(), codec="avro_ref"
    )
    assert dead.count() == 0
    assert valid.count() == muts.count()
    # decode: every row carries the SAME mapped Guid (grouping keys
    # stay equal), and it is exactly uuid5(namespace, gtid)
    decoded = decode_generic(valid, codec="avro_ref")
    got = {r["txid"] for r in decoded.select("payload.txid").collect()}
    assert got == {str(_uuid.uuid5(TXID_GUID_NAMESPACE, gtid))}
    # unit surface: UUID-shaped txids ride verbatim; numeric txids map;
    # strict raises (the dead-letter trigger)
    u = "0f0e7e9a-1111-4222-8333-444455556666"
    assert str(txid_to_guid(u)) == u
    assert txid_to_guid("12345") == _uuid.uuid5(TXID_GUID_NAMESPACE, "12345")
    with pytest.raises(ValueError):
        txid_to_guid("12345", strict=True)


def test_avro_decoder_rejects_out_of_range_ints():
    """Structurally-valid garbage (a 5-byte varint where an 'int' map
    value belongs) must classify as bad payload, not decode to an
    unbounded Python int that wraps or throws in the Arrow int32
    conversion."""
    from mypipe_spark.sinks.avro_codec import (
        decode_reference_record,
        encode_reference_record,
    )

    ok = encode_reference_record("insert", {"database": "d", "integers": {"k": 1}})
    assert decode_reference_record("insert", ok)["integers"] == {"k": 1}
    # the writer's primitives don't range-check, so this produces a
    # structurally-valid body carrying a 2^35 varint in an int32 map —
    # exactly the wire bytes a hostile/buggy producer could emit
    raw = encode_reference_record("insert", {"database": "d", "integers": {"k": 2**35}})
    with pytest.raises(ValueError, match="out of range"):
        decode_reference_record("insert", raw)


def test_avro_tableid_precision_survives_null_in_batch(spark):
    """A NULL tableId anywhere in the Arrow batch must not disturb the
    others: values above 2^53 round-trip exactly (no float64 step on
    the way to the encoder). The avro_ref header's tableId is
    non-nullable, so the NULL row decodes to 0."""
    from mypipe_spark.registry import in_memory_repo
    from mypipe_spark.sinks.wire import decode_generic, encode_generic

    big = 9007199254740993  # 2^53 + 1: not representable in float64
    muts = mutations_only(changelog_df(spark, num_transactions=3, rollback_prob=0.0))
    one = muts.limit(1).withColumn("table_id", F.lit(big).cast("long"))
    nulled = muts.limit(1).withColumn("table_id", F.lit(None).cast("long"))
    framed = encode_generic(
        one.unionByName(nulled).coalesce(1), in_memory_repo(), codec="avro_ref"
    ).select("value")
    dec = decode_generic(framed, codec="avro_ref")
    got = [r[0] for r in dec.select("payload.tableId").collect()]
    assert sorted(got) == [0, big]


def test_encode_specific_split_diverts_controls_and_unregistered(spark):
    """Specific-flavor encode split: control rows divert as
    not_a_mutation, mutations of a table with no registered subject as
    unregistered_subject — and every valid frame is non-NULL (no
    silent tombstones for the specific path either)."""
    from mypipe_spark.sinks.wire import encode_specific_dead_letter_split

    user_schema = StructType(
        [StructField("id", IntegerType()), StructField("username", StringType())]
    )
    reg = SchemaRegistry()
    register_table(reg, "mypipe", "user", user_schema)
    events = changelog_df(spark, num_transactions=4, rollback_prob=0.0)
    muts = mutations_only(events)
    other = muts.limit(1).withColumn("table", F.lit("othertable"))
    mixed = events.unionByName(other)  # controls + mutations + alien table
    valid, dead = encode_specific_dead_letter_split(mixed, user_schema, reg)
    assert valid.count() == muts.count()
    assert valid.filter(F.col("value").isNull()).count() == 0
    reasons = sorted(r["dlq_reason"] for r in dead.collect())
    assert "unregistered_subject" in reasons and "not_a_mutation" in reasons
    assert dead.count() == (events.count() - muts.count()) + 1


def test_specific_single_table_contract_and_cross_table_guard(spark):
    """Round-8 review pair on the specific path's per-subject ids:

    (a) encode: with database/table pinned, a mixed-table feed
    dead-letters the foreign table's rows instead of shipping their
    own (valid!) schema id over a body laid out by THIS table's
    schema — also when the foreign table's subject string equals this
    table's (``_`` inside a name);
    (b) decode_specific_versioned: ids start at 1 for EVERY subject,
    so on a shared topic another table's (mtype, id)-colliding frames
    previously landed in this table's branch and misdecoded — the
    branch now post-filters on the body's decoded (database, table),
    which sit at identical byte positions under every schema."""
    from mypipe_spark.sinks.wire import (
        decode_specific_versioned,
        encode_specific,
        encode_specific_dead_letter_split,
    )
    from mypipe_spark.sources.snapshot import to_insert_mutations

    users_schema = StructType(
        [StructField("id", IntegerType()), StructField("name", StringType())]
    )
    orders_schema = StructType(
        [StructField("id", IntegerType()), StructField("item", StringType())]
    )
    mu = to_insert_mutations(
        spark.createDataFrame([(1, "a")], users_schema), "db", "users"
    )
    mo = to_insert_mutations(
        spark.createDataFrame([(10, "x")], orders_schema), "db", "orders"
    )
    reg = SchemaRegistry()
    register_table(reg, "db", "users", users_schema)
    register_table(reg, "db", "orders", orders_schema)

    valid, dead = encode_specific_dead_letter_split(
        mu.unionByName(mo), users_schema, reg, database="db", table="users"
    )
    assert valid.count() == 1
    assert [r["dlq_reason"] for r in dead.collect()] == ["unregistered_subject"]

    # names containing "_" collide in the subject string: mypipe_x.y
    # and mypipe.x_y share mypipe_x_y_insert, so the pinned lookup must
    # compare database and table themselves
    register_table(reg, "mypipe", "x_y", users_schema)
    colliding = to_insert_mutations(
        spark.createDataFrame([(2, "b")], users_schema), "mypipe_x", "y"
    )
    valid, dead = encode_specific_dead_letter_split(
        colliding, users_schema, reg, database="mypipe", table="x_y"
    )
    assert valid.count() == 0
    assert [r["dlq_reason"] for r in dead.collect()] == ["unregistered_subject"]

    topic = (
        encode_specific(mu, users_schema, reg, database="db", table="users")
        .select("value")
        .unionByName(
            encode_specific(
                mo, orders_schema, reg, database="db", table="orders"
            ).select("value")
        )
    )
    branches = decode_specific_versioned(topic, reg, "db", "users")
    rows = branches[("insert", 1)].collect()
    assert [(r["record"]["id"], r["record"]["name"]) for r in rows] == [(1, "a")]


def test_encode_specific_range_checks_int_columns(spark):
    """Encode-side width check (round-8 review): a value beyond int32
    riding the dual-map fallback into a column declared int must
    divert as serialize_failure AT THE PRODUCER — not ship as a
    'valid' frame the codec's own decoder then rejects downstream."""
    from mypipe_spark.sinks.wire import encode_specific_dead_letter_split
    from mypipe_spark.sources.snapshot import to_insert_mutations

    df = spark.createDataFrame([(2**40, "a")], "id bigint, name string")
    mu = to_insert_mutations(df, "db", "t")
    declared = StructType(
        [StructField("id", IntegerType()), StructField("name", StringType())]
    )
    reg = SchemaRegistry()
    register_table(reg, "db", "t", declared)
    valid, dead = encode_specific_dead_letter_split(mu, declared, reg)
    assert valid.count() == 0
    assert [r["dlq_reason"] for r in dead.collect()] == ["serialize_failure"]


def test_specific_long_above_2_53_survives_null_sibling(spark):
    """A long above 2^53 next to a NULL value in the same map must
    reach the specific record exactly: the encoder reads the maps from
    Arrow as Python ints, never through a float64 column."""
    from pyspark.sql.types import LongType

    from mypipe_spark.sinks.wire import decode_specific, encode_specific
    from mypipe_spark.sources.snapshot import to_insert_mutations

    big = 2**62 + 1
    df = spark.createDataFrame([(big, None)], "big bigint, other bigint")
    schema = StructType([StructField("big", LongType()), StructField("other", LongType())])
    reg = SchemaRegistry()
    register_table(reg, "db", "t", schema)
    framed = encode_specific(to_insert_mutations(df, "db", "t"), schema, reg)
    got = decode_specific(framed.select("value"), schema).select("record.*").collect()
    assert [(r["big"], r["other"]) for r in got] == [(big, None)]


def test_specific_roundtrip_with_space_in_column_name(spark):
    """Backticked column names containing spaces survive the specific
    round-trip (round-8 review: the decoder re-parsed its own DDL
    string to recover names, truncating 'unit price' to 'unit' and
    desyncing the pandas columns from the declared struct)."""
    from mypipe_spark.sinks.wire import decode_specific, encode_specific
    from mypipe_spark.sources.snapshot import to_insert_mutations

    schema = StructType(
        [StructField("id", IntegerType()), StructField("unit price", IntegerType())]
    )
    df = spark.createDataFrame([(1, 42)], schema)
    mu = to_insert_mutations(df, "db", "t")
    reg = SchemaRegistry()
    register_table(reg, "db", "t", schema)
    framed = encode_specific(mu, schema, reg)
    assert framed.filter(F.col("value").isNull()).count() == 0
    rec = (
        decode_specific(framed.select("value"), schema, which="single")
        .select("record.*")
        .collect()[0]
    )
    assert rec["id"] == 1 and rec["unit price"] == 42


# ---------------------------------------------------------------------------
# round-11 review findings: empty-registry analysis crash, ANSI casts in
# the specific projection, subject-key NULL collapse, REST cache race,
# route-404 conflation, header-name collision, DDL-twin hoist
# ---------------------------------------------------------------------------

def test_encode_generic_empty_registry_yields_null_ids(spark):
    """A registry with NO generic subject registered must produce NULL
    schema ids and NULL frames (→ dead-letter); an empty map lookup
    would instead fail analysis and kill the pipe."""
    ins = mutations_only(changelog_df(spark, num_transactions=2))
    out = encode_generic(ins, SchemaRegistry())
    assert (
        out.filter(F.col("schema_id").isNotNull() | F.col("value").isNotNull())
        .count()
        == 0
    )
    assert out.count() > 0


def test_specific_projection_bad_value_projects_null_under_ansi(spark):
    """Schema evolution can leave frames whose map values no longer fit
    the declared type (VARCHAR column ALTERed to INT); under ANSI mode
    a plain cast kills the whole query at runtime — the projection
    must yield NULL for that cell instead (round-11 review)."""
    from mypipe_spark.sinks.wire import specific_projection

    ins = mutations_only(changelog_df(spark, num_transactions=2)).filter(
        "op = 'insert'"
    )
    # 'username' carries strings like 'username3'; project it as INT
    evolved = StructType(
        [StructField("id", IntegerType()), StructField("username", IntegerType())]
    )
    rows = specific_projection(ins, evolved).collect()
    assert len(rows) > 0
    assert all(r["username"] is None for r in rows)  # not a crash
    assert all(r["id"] is not None for r in rows)    # real ints survive


def test_encode_specific_null_coordinate_dead_letters(spark):
    """concat_ws silently skips NULLs, so a row with database=NULL and
    table='a_b' previously keyed to 'a_b_insert' and could collapse
    onto registered subject (a, b, insert) — shipping a valid-looking
    frame with a schema id belonging to a different coordinate tuple.
    Any NULL coordinate must yield a NULL id (round-11 review)."""
    from mypipe_spark.sinks.wire import encode_specific

    schema = StructType([StructField("id", IntegerType())])
    reg = SchemaRegistry()
    register_table(reg, "a", "b", schema)

    ins = (
        mutations_only(changelog_df(spark, num_transactions=2))
        .filter("op = 'insert'")
        .withColumn("database", F.lit(None).cast("string"))
        .withColumn("table", F.lit("a_b"))
    )
    out = encode_specific(ins, schema, reg)  # unpinned: all subjects
    assert out.count() > 0
    assert out.filter(F.col("schema_id").isNotNull()).count() == 0
    # the same rows WITH coordinates resolve normally
    ok = encode_specific(
        ins.withColumn("database", F.lit("a")).withColumn("table", F.lit("b")),
        schema,
        reg,
    )
    assert ok.filter(F.col("schema_id").isNull()).count() == 0


def test_rest_get_latest_does_not_cache_across_concurrent_register():
    """The round-8 invalidation popped the latest cache on register,
    but a GET already in flight could re-cache its stale response
    AFTER the pop — pinning the old version forever (no caller uses
    flush_cache). The generation counter must refuse that write
    (round-11 review). Simulated deterministically by registering
    between the GET's return and the cache write."""
    import threading

    from mypipe_spark.registry import RestSchemaRegistry, serve_registry

    backing = SchemaRegistry()
    v1 = StructType([StructField("id", IntegerType())]).json()
    v2 = StructType(
        [StructField("id", IntegerType()), StructField("x", IntegerType())]
    ).json()
    backing.register("s", v1)
    server, base = serve_registry(backing)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        client = RestSchemaRegistry(base)
        orig_http = client._http

        def hooked(method, path, body=None):
            out = orig_http(method, path, body)
            if method == "GET" and path.endswith("/latest"):
                client._http = orig_http  # only race the first GET
                client.register("s", v2)  # lands mid-flight
            return out

        client._http = hooked
        stale = client.get_latest("s")  # returns v1 (the in-flight GET)
        assert stale[0] == 1
        # the stale response must NOT have been cached: the next read
        # re-fetches and sees v2
        assert client.get_latest("s")[0] == 2
    finally:
        server.shutdown()


def test_rest_client_raises_on_route_level_404():
    """A misconfigured base_url (proxy prefix, wrong server) answers
    every request with the catch-all 404; treating that as 'not
    registered' silently dead-letters whole streams — the client must
    raise pointing at the URL (round-11 review)."""
    import threading

    from mypipe_spark.registry import RestSchemaRegistry, serve_registry

    backing = SchemaRegistry()
    backing.register("s", StructType([StructField("id", IntegerType())]))
    server, base = serve_registry(backing)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        bad = RestSchemaRegistry(base + "/registry")  # wrong prefix
        with pytest.raises(RuntimeError, match="base_url"):
            bad.get_latest("s")
        # entity-level 404 still reads as not-registered, not an error
        good = RestSchemaRegistry(base)
        assert good.get_latest("nope") is None
    finally:
        server.shutdown()


def test_specific_fields_rejects_header_colliding_columns():
    """A table column literally named 'database' or 'table' would
    duplicate the record header fields, overwrite the header on
    decode, and make the cross-table guard filter the table's own
    frames as foreign — refuse loudly (round-11 review)."""
    from mypipe_spark.sinks.avro_codec import specific_fields

    for name in ("database", "table", "TABLE"):
        bad = StructType(
            [StructField("id", IntegerType()), StructField(name, StringType())]
        )
        with pytest.raises(ValueError, match="header"):
            specific_fields(bad)


def test_envelope_ddl_twins_share_one_mapping():
    """Every field kind in model.ENVELOPE_FIELDS has a DDL type, so
    model.ENVELOPE_DDL (read by both codecs) covers the whole
    envelope."""
    from mypipe_spark.model import ENVELOPE_FIELDS, ENVELOPE_KIND_DDL

    assert {k for _, k in ENVELOPE_FIELDS} <= set(ENVELOPE_KIND_DDL)
