"""REST-backed schema repository (SURVEY §2.11 R2): the caching HTTP
client against a live loopback server, pinning the reference's cache
semantics (GenericSchemaRepository.scala:42-260) — id↔schema fetches
cache forever, *latest* caches until an explicit flush re-reads the
authoritative store (the serializer's flush-and-retry,
KafkaAvroSerializer.scala:41-67)."""

from __future__ import annotations

import threading

import pytest

from mypipe_spark.registry import (
    RestSchemaRegistry,
    SchemaRegistry,
    serve_registry,
)


@pytest.fixture()
def live_repo():
    store = SchemaRegistry()
    server, url = serve_registry(store)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        yield store, url
    finally:
        server.shutdown()


def test_register_fetch_roundtrip(live_repo):
    _, url = live_repo
    client = RestSchemaRegistry(url)
    assert client.register("user_insert", "schema-v1") == 1
    assert client.register("user_insert", "schema-v2") == 2
    assert client.register("user_insert", "schema-v1") == 1  # idempotent
    assert client.get_schema("user_insert", 1) == "schema-v1"
    assert client.get_schema_id("user_insert", "schema-v2") == 2
    assert client.get_latest("user_insert") == (2, "schema-v2")
    assert client.subjects() == ["user_insert"]
    assert client.versions("user_insert") == [1, 2]
    assert client.get_schema("user_insert", 99) is None
    assert client.get_latest("no_such_subject") is None


def test_id_schema_cache_skips_network(live_repo):
    store, url = live_repo
    client = RestSchemaRegistry(url)
    client.register("s", "v1")
    assert client.get_schema("s", 1) == "v1"
    # sever the store: cached entries must still resolve client-side
    store._store.clear()
    store._latest_cache.clear()
    assert client.get_schema("s", 1) == "v1"
    assert client.get_schema_id("s", "v1") == 1
    assert client.register("s", "v1") == 1  # register cache-hit too


def test_latest_cache_stale_until_flush(live_repo):
    """A second writer registers v2; the first client's cached latest
    stays v1 until flush_cache=True — the reference's retry path."""
    _, url = live_repo
    a = RestSchemaRegistry(url)
    b = RestSchemaRegistry(url)
    a.register("t", "v1")
    assert a.get_latest("t") == (1, "v1")
    b.register("t", "v2")
    assert a.get_latest("t") == (1, "v1")  # cached, stale
    assert a.get_latest("t", flush_cache=True) == (2, "v2")
    assert a.get_latest("t") == (2, "v2")  # re-cached fresh


def test_wire_encode_with_rest_repo(spark, live_repo):
    """The REST client slots into the same wire path as the in-memory
    repo: encode frames with ids served over HTTP."""
    from pyspark.sql import functions as F

    from mypipe_spark.changelog import changelog_df
    from mypipe_spark.model import MUTATION_MAGIC, generic_subject
    from mypipe_spark.operators.decode import mutations_only
    from mypipe_spark.registry import GENERIC_ENVELOPE_DESCRIPTOR
    from mypipe_spark.sinks.wire import encode_generic

    _, url = live_repo
    client = RestSchemaRegistry(url)
    for mtype in ("insert", "update", "delete"):
        client.register(generic_subject(mtype), GENERIC_ENVELOPE_DESCRIPTOR)

    df = mutations_only(changelog_df(spark, num_transactions=5))
    first = (
        encode_generic(df, client)
        .filter(F.col("op") == "insert")
        .select("value")
        .limit(1)
        .collect()[0][0]
    )
    assert first[0] == 0x0 and first[1] == MUTATION_MAGIC["insert"]
    assert int.from_bytes(first[2:4], "big") == client.get_latest(
        generic_subject("insert")
    )[0]


def test_rest_registry_encodes_subject_names():
    """Subject names derive from user database/table identifiers; a
    space, '#', '?', or '/' must survive the URL round trip instead of
    truncating or misrouting the HTTP request line."""
    import threading

    from mypipe_spark.registry import (
        RestSchemaRegistry,
        SchemaRegistry,
        serve_registry,
    )

    backing = SchemaRegistry()
    server, base = serve_registry(backing)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        client = RestSchemaRegistry(base)
        awkward = "my db_weird#table/insert?v=1"
        schema = '{"type":"struct","fields":[]}'
        sid = client.register(awkward, schema)
        assert backing.get_schema(awkward, sid) == schema
        fresh = RestSchemaRegistry(base)  # no warm cache: forces GETs
        assert fresh.get_latest(awkward) == (sid, schema)
        assert fresh.get_schema(awkward, sid) == schema
        assert fresh.versions(awkward) == [sid]
        assert fresh.get_schema_id(awkward, schema) == sid
    finally:
        server.shutdown()


def test_versioned_specific_decode_over_rest(spark, live_repo):
    """decode_specific_versioned duck-types over the repo interface
    (versions + get_schema); pin that against a LIVE RestSchemaRegistry
    — the consumer fetching the writer schema by id over HTTP, exactly
    the reference decoder's repo round-trip
    (KafkaAvroDecoder.scala:43-66)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from mypipe_spark.changelog import changelog_df
    from mypipe_spark.operators.decode import mutations_only
    from mypipe_spark.registry import register_table
    from mypipe_spark.sinks.wire import decode_specific_versioned, encode_specific
    from mypipe_spark.streaming.alter import evolve_schema

    _, url = live_repo
    client = RestSchemaRegistry(url)
    v1 = StructType(
        [StructField("id", IntegerType()), StructField("username", StringType())]
    )
    register_table(client, "mypipe", "user", v1)
    ins = mutations_only(
        changelog_df(spark, num_transactions=3, rollback_prob=0.0)
    ).filter("op='insert'")
    b1 = encode_specific(ins, v1, client, "mypipe", "user").select("value")
    v2 = evolve_schema(v1, "ALTER TABLE mypipe.user ADD COLUMN email varchar(32)")
    register_table(client, "mypipe", "user", v2)
    ins2 = ins.withColumn(
        "new_strings",
        F.map_concat("new_strings", F.create_map(F.lit("email"), F.lit("e@example.com"))),
    )
    b2 = encode_specific(ins2, v2, client, "mypipe", "user").select("value")

    branches = decode_specific_versioned(
        b1.unionByName(b2), client, "mypipe", "user"
    )
    n = ins.count()
    assert branches[("insert", 1)].count() == n
    r2 = branches[("insert", 2)].select("record.*").limit(1).collect()[0]
    assert r2["email"] == "e@example.com"


def test_register_of_old_version_does_not_poison_latest(live_repo):
    """The server's register is idempotent: re-registering an OLD
    schema returns the old id. A fresh client doing so (config replay
    carrying stale schema text) must NOT cache that as the subject's
    latest (round-8 review: every encode behind get_latest would have
    framed against the stale id until a manual flush)."""
    _, url = live_repo
    writer = RestSchemaRegistry(url)
    writer.register("p", "v1")
    writer.register("p", "v2")
    fresh = RestSchemaRegistry(url)
    assert fresh.register("p", "v1") == 1  # idempotent old version
    assert fresh.get_latest("p") == (2, "v2")
