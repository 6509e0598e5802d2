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
          "dead-letter-path": "/out_dlq"   # kafka pipes: preserve
        }                                  # malformed frames as parquet
      }
    }

A pipe with ``wire`` config hands its producer only the Kafka record
columns ``key``/``topic``/``value``/``partition``/``headers`` that
exist — with a ``topic-template``, exactly ``topic`` and ``value`` —
not the event columns the frame was built from; its wire
``dead-letter-path`` sibling lands the full diverted rows plus
``dlq_reason``.

Config keys deliberately mirror the reference's reference.conf names
(include-event-condition README.md:422-429, group-mutations-by-tx
reference.conf:14-21, flush-interval-seconds reference.conf:11-12) so a
mypipe user's mental model transfers.

Each pipe becomes one checkpointed StreamingQuery; the reference's
single-consumer-per-pipe restriction (PipeRunner.scala:110-122) holds.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.decode import mutations_only
from .operators.filters import include_events, with_topic
from .operators.txgroup import tx_group_stream
from .sinks.wire import check_codec
from .streaming.errors import dead_letter_pipe
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
    stream) → canonical change events. With a config-pointed
    ``schema-registry`` plus ``database``/``table``, row images bucket
    into the typed maps by the table's latest registered schema;
    without one, values ride the strings maps (lossless for JSON
    scalars). A Kafka-hosted Debezium topic composes the same way:
    kafka consumer → debezium_change_events on the value column."""
    from .sources.debezium import debezium_change_events

    tschema = None
    reg = _registry_from_conf(conf)
    if reg is not None and "database" in conf and "table" in conf:
        from .model import specific_subject

        latest = reg.get_latest(
            specific_subject(conf["database"], conf["table"], "insert")
        )
        if latest:
            from .registry import struct_from_schema_text

            # None = non-StructType schema text (an Avro record
            # registered by another producer): degrade to the
            # documented schema-less strings-map mode, same tolerance
            # as decode_specific_versioned
            tschema = struct_from_schema_text(latest[1])
    raw = spark.readStream.text(conf["path"])
    return debezium_change_events(raw, table_schema=tschema)


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
    pipes: list[Pipe] = []
    for pipe_id, pconf in config.get("pipes", {}).items():
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
        cfactory = _CONSUMERS[ctype]

        transforms: list[Callable[[DataFrame], DataFrame]] = []
        if ctype == "kafka":
            # the raw Kafka frame (key/value/topic/partition/offset) is
            # not the canonical change stream — decode it back first so
            # every downstream transform sees CHANGE_EVENT_SCHEMA
            # columns. Malformed frames divert, never kill the query;
            # the codec comes from consumer config (an avro-framed
            # stream decoded as json would divert 100% of rows), and
            # with a `dead-letter-path` the diverted branch is
            # PRESERVED as its own checkpointed parquet query instead
            # of dropped — the skipped-events-preserved contract
            # (streaming/errors.py) applied at the decode layer.
            codec = check_codec(cconf.get("codec", "json"))
            registry = _registry_from_conf(cconf)

            def _decode_kafka(
                df: DataFrame, _codec=codec, _reg=registry
            ) -> DataFrame:
                from .sinks.wire import (
                    decoded_change_events,
                    frame_dead_letter_split,
                )

                valid, _dead = frame_dead_letter_split(
                    df, registry=_reg, codec=_codec
                )
                return decoded_change_events(valid)

            transforms.append(_decode_kafka)
            dlq_path = pconf.get("dead-letter-path")
            if dlq_path:

                def _dead_source(
                    s: SparkSession,
                    _f=cfactory,
                    _cc=cconf,
                    _codec=codec,
                    _reg=registry,
                ) -> DataFrame:
                    from .sinks.wire import frame_dead_letter_split

                    return frame_dead_letter_split(
                        _f(s, _cc), registry=_reg, codec=_codec
                    )[1]

                pipes.append(
                    dead_letter_pipe(pipe_id, "_dlq", _dead_source, dlq_path,
                                     pconf.get("checkpoint"))
                )
        elif ctype == "debezium":
            # the adapter surfaces unparseable/unknown-op envelopes as
            # op NULL; with a dead-letter-path they are PRESERVED (raw
            # line + reason) instead of silently dropped by the
            # mutations-only default downstream
            dlq_path = pconf.get("dead-letter-path")
            if dlq_path:

                def _dbz_dead_source(s: SparkSession, _cc=cconf) -> DataFrame:
                    from .sources.debezium import debezium_change_events

                    raw = s.readStream.text(_cc["path"])
                    return (
                        debezium_change_events(raw, keep_raw=True)
                        .filter(F.col("op").isNull())
                        .select(
                            "raw_value",
                            F.lit("unparseable_envelope").alias("dlq_reason"),
                        )
                    )

                pipes.append(
                    dead_letter_pipe(pipe_id, "_dlq", _dbz_dead_source,
                                     dlq_path, pconf.get("checkpoint"))
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
            # controls must survive a table-scoped condition (they
            # carry table=NULL) whenever the pipe keeps them
            # downstream: in front of tx grouping AND when the caller
            # explicitly set mutations-only=false to consume controls
            # (previously only the grouped case — an explicit
            # keep-controls pipe silently lost every BEGIN/COMMIT/
            # ALTER row to the NULL-evaluating condition)
            keep = grouped or not pconf.get("mutations-only", True)
            transforms.append(
                lambda df, _c=cond, _k=keep: include_events(
                    df, _c, keep_controls=_k
                )
            )
        if grouped:
            # the reference flag means ONE record per committed tx
            # (reference.conf:14-21) — commit-gated per-mutation rows
            # are tx_group_stream's default, not its grouped form
            transforms.append(lambda df: tx_group_stream(df, group_by_tx=True))
        elif pconf.get("mutations-only", True):
            transforms.append(mutations_only)
        wire_conf = pconf.get("wire")
        if wire_conf:
            # wire-encode the stream: the config-driven form of the
            # reference's producer serializers. flavor 'generic' frames
            # the typed-map envelope (codec json/avro_ref);
            # 'specific' frames per-table records against the table's
            # latest registered schema. Requires ungrouped mutation
            # rows — a tx-grouped row has no per-row images to encode.
            if grouped:
                raise ValueError(
                    f"pipe '{pipe_id}': 'wire' encoding needs per-"
                    "mutation rows; it cannot follow group-mutations-by-tx"
                )
            flavor = wire_conf.get("flavor", "generic")
            wreg = _registry_from_conf(wire_conf)
            if wreg is None:
                from .registry import in_memory_repo

                wreg = in_memory_repo()
            if flavor == "generic":
                codec = check_codec(wire_conf.get("codec", "json"))
                # strict-txid: opt-in reference-parity mode — non-UUID
                # txids (Debezium GTIDs) dead-letter instead of uuid5-
                # mapping onto the fixed-16 Guid (avro_codec.txid_to_guid)
                strict = bool(wire_conf.get("strict-txid", False))

                def _wire_split(df: DataFrame, _r=wreg, _c=codec, _s=strict):
                    from .sinks.wire import encode_dead_letter_split

                    return encode_dead_letter_split(df, _r, codec=_c, strict_txid=_s)

            elif flavor == "specific":
                from .model import specific_subject

                db = wire_conf["database"]
                tbl = wire_conf["table"]
                latest = wreg.get_latest(specific_subject(db, tbl, "insert"))
                if latest is None:
                    raise KeyError(
                        f"pipe '{pipe_id}': no registered schema for "
                        f"{db}.{tbl} — register the table first"
                    )
                from .registry import struct_from_schema_text

                tschema = struct_from_schema_text(latest[1])
                if tschema is None:
                    # the wire encoder NEEDS the column layout; a
                    # non-StructType registration (another producer's
                    # Avro text) must fail with a guided error, not a
                    # bare fromJson KeyError (round-11 review)
                    raise ValueError(
                        f"pipe '{pipe_id}': the registered schema for "
                        f"{db}.{tbl} is not a Spark StructType JSON — "
                        "the specific wire sink needs the table's "
                        "column layout; re-register via "
                        "registry.register_table"
                    )

                def _wire_split(df: DataFrame, _r=wreg, _s=tschema,
                                _db=db, _tbl=tbl):
                    from .sinks.wire import encode_specific_dead_letter_split

                    # db/table pinned: rows of OTHER tables dead-letter
                    # instead of shipping this table's body layout
                    # under their own schema id (single-table contract)
                    return encode_specific_dead_letter_split(
                        df, _s, _r, database=_db, table=_tbl
                    )

            else:
                raise ValueError(
                    f"pipe '{pipe_id}': unknown wire flavor {flavor!r}"
                )
            pre_wire = tuple(transforms)
            transforms.append(lambda df, _sp=_wire_split: _sp(df)[0])
            wire_dlq = wire_conf.get("dead-letter-path")
            if wire_dlq:
                # preserve what the serializer diverts (control rows,
                # unregistered subjects, serialize failures) as a
                # sibling checkpointed query — the skipped-events-
                # preserved contract, for BOTH flavors. Cost note: the
                # sibling query re-runs the pre-wire chain and the
                # encode over the same source (two streaming queries
                # cannot share one computation without a table-format
                # sink). Both flavors classify control rows and
                # unregistered subjects before the encode, so the codec
                # runs only on rows it may frame; the serialize_failure
                # class needs that encode pass itself — acceptable at
                # the measured ~10^5 frames/s, and the reference's own
                # skip-and-log serializer pays the serialize either way.
                def _wire_dead_source(
                    s: SparkSession,
                    _f=cfactory,
                    _cc=cconf,
                    _pre=pre_wire,
                    _sp=_wire_split,
                ) -> DataFrame:
                    df = _f(s, _cc)
                    for tr in _pre:
                        df = tr(df)
                    return _sp(df)[1]

                pipes.append(
                    dead_letter_pipe(pipe_id, "_wire_dlq", _wire_dead_source,
                                     wire_dlq, pconf.get("checkpoint"))
                )
        topic_template = pconf.get("topic-template")
        if topic_template:
            if grouped:
                # grouped rows have no database/table columns; route
                # the tx by its FIRST mutation's coordinates (a tx is
                # per-connection, so in the common per-table workload
                # every mutation in it shares them)
                transforms.append(
                    lambda df, _t=topic_template: with_topic(
                        df.withColumn(
                            "database", F.col("mutations")[0]["database"]
                        ).withColumn("table", F.col("mutations")[0]["table"]),
                        _t,
                    ).drop("database", "table")
                )
            else:
                transforms.append(
                    lambda df, _t=topic_template: with_topic(df, _t)
                )

        if wire_conf:
            # the rest (event, payload struct, schema id) only fed the
            # frame; the wire DLQ sibling keeps its full rows
            transforms.append(
                lambda df: df.select(
                    *[c for c in _RECORD_COLUMNS if c in df.columns]
                )
            )

        producer_conf = dict(pconf.get("producer", {"name": "memory"}))
        if "name" not in producer_conf:
            raise KeyError(
                f"pipe '{pipe_id}': producer config needs a 'name'; "
                "e.g. {'name': 'memory'}"
            )
        producer_name = producer_conf.pop("name")
        pipes.append(
            Pipe(
                pipe_id=pipe_id,
                source=lambda s, _f=cfactory, _cc=cconf: _f(s, _cc),
                transforms=transforms,
                producer=producer_name,
                producer_options=producer_conf,
                checkpoint_dir=pconf.get("checkpoint"),
                trigger_seconds=pconf.get("flush-interval-seconds"),
            )
        )
    return pipes


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
    # stops already-started queries when a later pipe fails to start
    # (round-11 review: this path re-implemented the loop without the
    # round-8 guard, so a config whose second pipe failed validation
    # orphaned the first's running query and checkpoint)
    from .streaming.pipe import run_pipes

    return run_pipes(spark, pipes)
