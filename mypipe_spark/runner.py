"""Config-driven pipe runner — the PipeRunner analog (SURVEY.md §3.1).

The reference wires pipes from HOCON: ``mypipe.producers``,
``mypipe.consumers``, ``mypipe.pipes`` with reflective class loading
(runner/PipeRunner.scala:22-140, Conf.scala:63-71). Here the config is
a plain dict (JSON/TOML-friendly — no extra deps), and "reflective
loading" is the named registries:

    config = {
      "consumers": {
        "cl":   {"type": "changelog", "path": "/data/cl"},
        "k1":   {"type": "kafka", "brokers": "...", "topics": "t",
                 "codec": "json",                  # wire codec of the frames
                 "schema-registry": {"path": "/saved/registry"}},  # or {"url": ...}
      },
      "pipes": {
        "p1": {
          "consumer": "cl",
          "include-event-condition": "database = 'mypipe'",
          "group-mutations-by-tx": false,
          "topic-template": "${database}_${table}_generic",
          "wire": {"flavor": "generic", "codec": "avro_ref"},
          #   or {"flavor": "specific", "database": "db", "table": "t",
          #       "schema-registry": {"path": "/saved/registry"}}
          "producer": {"name": "parquet", "path": "/out"},
          "checkpoint": "/ckpt/p1",
          "flush-interval-seconds": 10,
          "dead-letter-path": "/out_dlq"   # kafka/debezium consumers
        }
      }
    }

A pipe is one list of stages: consumer decode, event condition,
mutations-only or tx grouping, wire encode, topic, record columns.
A stage that rejects rows is a split (``streaming.errors.divert``):
its valid branch is the next stage, and with a dead-letter path its
dead branch lands as parquet in a sibling query that reads the same
source through the stages before the split, checkpointed at
``checkpoint`` plus the sibling's suffix — one query per sink, so a
dead-letter backlog never stalls the main pipe. ``dead-letter-path``
keeps what the consumer stage rejects (malformed kafka frames,
unparseable debezium envelopes) in sibling ``<pipe>_dlq``;
``wire.dead-letter-path`` keeps what the serializer diverts (control
rows, unregistered subjects, serialize failures) in sibling
``<pipe>_wire_dlq``, full rows plus ``dlq_reason``.

A pipe with ``wire`` config hands its producer only the Kafka record
columns ``key``/``topic``/``value``/``partition``/``headers`` that
exist — with a ``topic-template``, exactly ``topic`` and ``value`` —
not the event columns the frame was built from.

Config keys deliberately mirror the reference's reference.conf names
(include-event-condition README.md:422-429, group-mutations-by-tx
reference.conf:14-21, flush-interval-seconds reference.conf:11-12) so a
mypipe user's mental model transfers.

Each pipe becomes one checkpointed StreamingQuery, plus one per
dead-letter sibling; the reference's single-consumer-per-pipe
restriction (PipeRunner.scala:110-122) holds.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.decode import mutations_only
from .operators.filters import include_events, with_topic
from .operators.txgroup import tx_group_stream
from .registry import table_schema
from .sinks.wire import (
    check_codec,
    decoded_change_events,
    encode_dead_letter_split,
    encode_specific_dead_letter_split,
    frame_dead_letter_split,
)
from .streaming.errors import Split, divert
from .streaming.pipe import Pipe

ConsumerFactory = Callable[[SparkSession, dict], DataFrame]

# what a wire pipe hands its producer, in this order, where present
_RECORD_COLUMNS = ("key", "topic", "value", "partition", "headers")

_CONSUMERS: dict[str, ConsumerFactory] = {}


def register_consumer(name: str) -> Callable[[ConsumerFactory], ConsumerFactory]:
    """Pluggable consumer extension point (the reference loads consumer
    classes with a (Config) ctor, PipeRunner.scala:146-172)."""

    def deco(fn: ConsumerFactory) -> ConsumerFactory:
        _CONSUMERS[name] = fn
        return fn

    return deco


@register_consumer("changelog")
def _changelog_consumer(spark: SparkSession, conf: dict) -> DataFrame:
    from .sources.stream import changelog_stream

    return changelog_stream(
        spark, conf["path"], max_files_per_trigger=conf.get("max-files-per-trigger", 1)
    )


@register_consumer("debezium")
def _debezium_consumer(spark: SparkSession, conf: dict) -> DataFrame:
    """JSON-lines Debezium envelopes (``path`` watched as a text
    stream) → canonical change events plus the envelope line as
    ``raw_value``, which the pipe's first stage (the debezium
    dead-letter split) keeps for dead letters only. With a config-pointed
    ``schema-registry`` plus ``database``/``table``, row images bucket
    into the typed maps by the table's latest registered schema;
    without one, values ride the strings maps (lossless for JSON
    scalars). A Kafka-hosted Debezium topic composes the same way:
    kafka consumer → debezium_change_events on the value column."""
    from .sources.debezium import debezium_change_events

    tschema = None
    reg = _registry_from_conf(conf)
    if reg is not None and "database" in conf and "table" in conf:
        # None (nothing registered, or another producer's Avro record
        # text) degrades to the documented schema-less strings-map mode
        tschema = table_schema(reg, conf["database"], conf["table"])
    raw = spark.readStream.text(conf["path"])
    return debezium_change_events(raw, table_schema=tschema, keep_raw=True)


@register_consumer("kafka")
def _kafka_consumer(spark: SparkSession, conf: dict) -> DataFrame:
    from .sources.stream import kafka_stream

    fmt = conf.get("format", "kafka")
    if fmt == "kafkafile":
        # the file-backed wire twin is a Python DataSource — needs a
        # per-session registration the real connector doesn't
        from .sources.kafka_shim import register_kafka_file_shim

        register_kafka_file_shim(spark)
    return kafka_stream(
        spark,
        conf["brokers"],
        conf["topics"],
        starting_offsets=conf.get("starting-offsets", "earliest"),
        format=fmt,
    )


def _registry_from_conf(conf: dict) -> Any:
    """Optional config-pointed schema repository for the kafka decode
    cascade (the reference points consumers at a schema repo via
    config, Conf.scala / reference.conf): ``{"schema-registry":
    {"path": "/saved/registry"}}`` loads a file-backed registry,
    ``{"schema-registry": {"url": "http://..."}}`` a caching REST
    client. Absent → None (the structural cascade still runs; only
    the unknown_schema check is skipped)."""
    rconf = conf.get("schema-registry")
    if not rconf:
        return None
    if "path" in rconf:
        from .registry import load_registry

        return load_registry(rconf["path"])
    if "url" in rconf:
        from .registry import RestSchemaRegistry

        return RestSchemaRegistry(rconf["url"])
    raise KeyError(
        "schema-registry config needs 'path' (file) or 'url' (REST)"
    )


def build_pipes(config: dict[str, Any]) -> list[Pipe]:
    """Dict config → Pipe objects (not yet started)."""
    consumers: dict[str, dict] = config.get("consumers", {})
    return [
        p
        for pipe_id, pconf in config.get("pipes", {}).items()
        for p in _build_pipe(pipe_id, pconf, consumers)
    ]


def _build_pipe(pipe_id: str, pconf: dict, consumers: dict[str, dict]) -> list[Pipe]:
    """One configured pipe → its dead-letter siblings, then its main
    Pipe, whose ``transforms`` list is the pipe's stages in order."""
    cname = pconf["consumer"]
    if cname not in consumers:
        raise KeyError(f"pipe '{pipe_id}': unknown consumer '{cname}'")
    cconf = consumers[cname]
    ctype = cconf.get("type", "changelog")
    if ctype not in _CONSUMERS:
        raise KeyError(
            f"pipe '{pipe_id}': unknown consumer type '{ctype}'; "
            f"known: {sorted(_CONSUMERS)}"
        )
    factory = _CONSUMERS[ctype]
    producer_conf = dict(pconf.get("producer", {"name": "memory"}))
    if "name" not in producer_conf:
        raise KeyError(
            f"pipe '{pipe_id}': producer config needs a 'name'; "
            "e.g. {'name': 'memory'}"
        )
    main = Pipe(
        pipe_id=pipe_id,
        source=lambda s: factory(s, cconf),
        producer=producer_conf.pop("name"),
        producer_options=producer_conf,
        checkpoint_dir=pconf.get("checkpoint"),
        trigger_seconds=pconf.get("flush-interval-seconds"),
    )
    transforms = main.transforms
    siblings: list[Pipe] = []

    if ctype == "kafka":
        # the raw Kafka frame (key/value/topic/partition/offset) is
        # not the canonical change stream — decode it back first so
        # every downstream transform sees CHANGE_EVENT_SCHEMA columns;
        # the codec comes from consumer config (an avro-framed stream
        # decoded as json would divert 100% of rows)
        codec = check_codec(cconf.get("codec", "json"))
        registry = _registry_from_conf(cconf)
        siblings += divert(
            main,
            lambda df: frame_dead_letter_split(df, registry=registry, codec=codec),
            pconf.get("dead-letter-path"),
            "_dlq",
        )
        transforms.append(decoded_change_events)
    elif ctype == "debezium":
        siblings += divert(
            main, _debezium_split, pconf.get("dead-letter-path"), "_dlq"
        )
    grouped = bool(pconf.get("group-mutations-by-tx"))
    if grouped and ctype in ("kafka", "debezium"):
        # same fail-before-run rule as the wire+grouped rejection
        # below: these decoded streams carry NO BEGIN/COMMIT
        # markers (the wire split only passes mutation mtypes; the
        # Debezium op map has no commit), so the commit-gated tx
        # state machine would buffer every txid forever and the
        # pipe would silently emit nothing while state grows
        raise ValueError(
            f"pipe '{pipe_id}': group-mutations-by-tx needs a "
            f"commit-marker-bearing stream; the '{ctype}' consumer "
            "decodes mutations only (its wire has no BEGIN/COMMIT "
            "frames) — group upstream, before wire encoding"
        )
    cond = pconf.get("include-event-condition")
    if cond:
        # controls must survive a table-scoped condition (they carry
        # table=NULL, so the condition is NULL on them) whenever the
        # pipe keeps them downstream: in front of tx grouping AND
        # when mutations-only=false asks for the BEGIN/COMMIT/ALTER
        # rows themselves
        keep = grouped or not pconf.get("mutations-only", True)
        transforms.append(lambda df: include_events(df, cond, keep_controls=keep))
    if grouped:
        # the reference flag means ONE record per committed tx
        # (reference.conf:14-21) — commit-gated per-mutation rows
        # are tx_group_stream's default, not its grouped form
        transforms.append(lambda df: tx_group_stream(df, group_by_tx=True))
    elif pconf.get("mutations-only", True):
        transforms.append(mutations_only)
    wire_conf = pconf.get("wire")
    if wire_conf:
        # a tx-grouped row has no per-row images to encode
        if grouped:
            raise ValueError(
                f"pipe '{pipe_id}': 'wire' encoding needs per-"
                "mutation rows; it cannot follow group-mutations-by-tx"
            )
        siblings += divert(
            main,
            _wire_split(pipe_id, wire_conf),
            wire_conf.get("dead-letter-path"),
            "_wire_dlq",
        )
    topic_template = pconf.get("topic-template")
    if topic_template:
        if grouped:
            # grouped rows have no database/table columns; route
            # the tx by its FIRST mutation's coordinates (a tx is
            # per-connection, so in the common per-table workload
            # every mutation in it shares them)
            transforms.append(
                lambda df: with_topic(
                    df.withColumn(
                        "database", F.col("mutations")[0]["database"]
                    ).withColumn("table", F.col("mutations")[0]["table"]),
                    topic_template,
                ).drop("database", "table")
            )
        else:
            transforms.append(lambda df: with_topic(df, topic_template))
    if wire_conf:
        # the rest (event, payload struct, schema id) only fed the
        # frame; the wire DLQ sibling keeps its full rows
        transforms.append(
            lambda df: df.select(*[c for c in _RECORD_COLUMNS if c in df.columns])
        )
    return [*siblings, main]


def _debezium_split(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The debezium consumer's ``raw_value`` leaves the main stream;
    its op-NULL rows (unparseable or unknown-op envelopes) keep their
    raw line as dead letters."""
    dead = df.filter(F.col("op").isNull()).select(
        "raw_value", F.lit("unparseable_envelope").alias("dlq_reason")
    )
    return df.drop("raw_value"), dead


def _wire_split(pipe_id: str, wire_conf: dict) -> Split:
    """The wire-encode split — the config-driven form of the
    reference's producer serializers. Flavor 'generic' frames the
    typed-map envelope (codec json/avro_ref); 'specific' frames
    per-table records against the table's latest registered schema,
    pinned to that table."""
    flavor = wire_conf.get("flavor", "generic")
    registry = _registry_from_conf(wire_conf)
    if registry is None:
        from .registry import in_memory_repo

        registry = in_memory_repo()
    if flavor == "generic":
        codec = check_codec(wire_conf.get("codec", "json"))
        # strict-txid: opt-in reference-parity mode — non-UUID txids
        # (Debezium GTIDs) dead-letter instead of uuid5-mapping onto
        # the fixed-16 Guid (avro_codec.txid_to_guid)
        strict = bool(wire_conf.get("strict-txid", False))
        return lambda df: encode_dead_letter_split(
            df, registry, codec=codec, strict_txid=strict
        )
    if flavor != "specific":
        raise ValueError(f"pipe '{pipe_id}': unknown wire flavor {flavor!r}")
    db = wire_conf["database"]
    tbl = wire_conf["table"]
    tschema = table_schema(registry, db, tbl)
    if tschema is None:
        # the wire encoder NEEDS the column layout: an unregistered
        # table and another producer's Avro record text both fail here
        raise ValueError(
            f"pipe '{pipe_id}': no Spark StructType registered for "
            f"{db}.{tbl} — the specific wire sink needs the table's column "
            "layout; register it via registry.register_table"
        )
    # db/table pinned: rows of OTHER tables dead-letter instead of
    # shipping this table's body layout under their own schema id
    return lambda df: encode_specific_dead_letter_split(
        df, tschema, registry, database=db, table=tbl
    )


def run_from_config(
    spark: SparkSession, config: dict[str, Any], block: bool = False
) -> list:
    """Start every configured pipe (PipeRunner.scala:22-60). With
    ``block=True``, drain-and-stop each (deterministic batch mode);
    otherwise return the live StreamingQuery handles."""
    pipes = build_pipes(config)
    if block:
        for p in pipes:
            p.run_available(spark)
        return []
    # run_pipes, not a bare start loop: its all-or-nothing cleanup
    # stops already-started queries when a later pipe fails to start,
    # so a failing pipe orphans no running query or checkpoint
    from .streaming.pipe import run_pipes

    return run_pipes(spark, pipes)
