"""Producer (sink) registry — SURVEY §2.10 K1-K6 and §2.12's pluggable
producer extension point.

The reference loads producer classes reflectively from config
(PipeRunner.scala:174-187) with a small Producer trait
(api/producer/Producer.scala:6-11: queue/flush/handleAlter). Here a
producer is a named factory ``(DataFrame, options) -> DataStreamWriter``
— the registry maps config names to factories, and anything custom
registers with :func:`register_producer`.

Delivery contract: Structured Streaming's checkpoint protocol commits
offsets only after a microbatch's sink write succeeds — the same
flush-then-save-position gate as the reference (Pipe.scala:62-72), but
strictly stronger (atomic per batch, T4/T13 for free).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter

ProducerFactory = Callable[[DataFrame, dict], DataStreamWriter]

_PRODUCERS: dict[str, ProducerFactory] = {}


def register_producer(name: str) -> Callable[[ProducerFactory], ProducerFactory]:
    def deco(fn: ProducerFactory) -> ProducerFactory:
        _PRODUCERS[name] = fn
        return fn

    return deco


def get_producer(name: str) -> ProducerFactory:
    if name not in _PRODUCERS:
        raise KeyError(f"unknown producer '{name}'; known: {sorted(_PRODUCERS)}")
    return _PRODUCERS[name]


@register_producer("console")
def console_producer(df: DataFrame, options: dict) -> DataStreamWriter:
    """K2 — stdout producer (StdoutProducer.scala:9-107). Callers
    usually compose with operators.filters.render_sql first to match
    the reference's SQL-text output."""
    return df.writeStream.format("console").option(
        "truncate", str(options.get("truncate", True)).lower()
    )


@register_producer("memory")
def memory_producer(df: DataFrame, options: dict) -> DataStreamWriter:
    """K3 — in-memory queue producer (QueueProducer.scala:10-30);
    query results land in an in-memory table named by ``queryName``."""
    return df.writeStream.format("memory")


@register_producer("parquet")
def parquet_producer(df: DataFrame, options: dict) -> DataStreamWriter:
    """File-landing producer: the canonical change stream written as
    parquet (what downstream analytics read). ``path`` required."""
    return df.writeStream.format("parquet").option("path", options["path"])


@register_producer("kafka")
def kafka_producer(df: DataFrame, options: dict) -> DataStreamWriter:
    """K4-K6 — Kafka producer: expects ``topic`` and ``value`` columns
    (from operators.filters.with_topic + sinks.wire.encode_generic),
    plus an optional ``key`` column (e.g.
    operators.filters.primary_key_string).

    The key is REQUIRED for ordering on any multi-partition topic:
    Kafka guarantees order only WITHIN a partition, and a record with
    no key is sticky/round-robin partitioned — consecutive mutations
    of the same row interleave across partitions and replay out of
    binlog order. Keying by the row's primary key routes each row's
    history through the default partitioner (murmur2(key) % N) to ONE
    partition, preserving the reference's per-(db,table) ordering
    guarantee (README.md:119-124). Without a key column the ordering
    claim holds only for single-partition topics (the reference's
    default deployment). Both halves are PINNED against the wire twin
    under a real 4-partition layout — keyed order survives produce
    restarts and consumer resume, unkeyed round-robin demonstrably
    breaks replay order (tests/test_kafka_shim.py
    test_partitioned_keyed_produce_preserves_per_key_order /
    test_partitioned_unkeyed_produce_breaks_order).

    The optional ``format`` option ("kafka" default) swaps the real
    connector for the file-backed wire twin ("kafkafile",
    sources/kafka_shim.py) under the identical column and option
    contract — how the broker-less test environment exercises this
    exact producer wiring end-to-end."""
    fmt = options.get("format", "kafka")
    if fmt == "kafkafile":
        # the wire twin is a Python DataSource needing per-session
        # registration — done HERE so every entry point (direct Pipe
        # use AND config-driven build_pipes, whose consumer may be a
        # changelog source with no kafka leg of its own) gets it
        from ..sources.kafka_shim import register_kafka_file_shim

        register_kafka_file_shim(df.sparkSession)
    cols = ["topic", "CAST(value AS BINARY) as value"]
    if "key" in df.columns:
        cols.insert(1, "CAST(key AS BINARY) as key")
    # the kafka sink's other routing/metadata columns pass through
    # when the caller provided them — previously silently dropped
    # (header-less, default-partitioned messages with no diagnostics).
    # The kafkafile twin honors 'partition' (explicit routing) and
    # REFUSES 'headers' loudly at start (its record format has no
    # headers) — either way, never a silent drop.
    for extra in ("headers", "partition"):
        if extra in df.columns:
            cols.append(extra)
    w = (
        df.selectExpr(*cols)
        .writeStream.format(fmt)
        .option("kafka.bootstrap.servers", options["brokers"])
    )
    if "partitions" in options:
        # twin-only: topic partition count at CREATION (a real broker
        # owns this as topic config; the twin models that — an
        # existing topic's count never changes). Validated HERE, not
        # only in the twin, and rejected loudly for the real
        # connector: a real broker's partition count is administrative
        # topic config, so a config that believes it set partitioning
        # through this option must hear that it didn't.
        raw = options["partitions"]
        # exact-int only: int(4.9) would silently truncate a config's
        # float to 4 partitions, and bool is an int subclass (True ->
        # 1 partition) — both are the misconfigurations this check
        # exists to reject loudly, so no coercion beyond digit strings
        if isinstance(raw, bool) or not (
            isinstance(raw, int) or (isinstance(raw, str) and raw.isdigit())
        ):
            raise ValueError(
                "kafka producer: 'partitions' must be a positive "
                f"int, got {raw!r}"
            )
        n_parts = int(raw)
        if n_parts < 1:
            raise ValueError(
                "kafka producer: 'partitions' must be a positive "
                f"int, got {n_parts}"
            )
        if fmt != "kafkafile":
            raise ValueError(
                "kafka producer: 'partitions' is only honored by the "
                "kafkafile wire twin; a real Kafka topic's partition "
                f"count is broker-side topic config (format={fmt!r} "
                "would silently ignore it — create the topic "
                "administratively instead)"
            )
        w = w.option("kafkafile.partitions", str(n_parts))
    return w


@register_producer("latest_state")
def latest_state_producer(df: DataFrame, options: dict) -> DataStreamWriter:
    """Keyed-state materialization as a config-driven sink: every
    microbatch folds a keep-last MERGE into a versioned
    ``KeyedStateDir`` snapshot at ``state-path`` (read the current
    table with ``KeyedStateDir(path).read(spark)``) — the
    Kafka-log-compaction consumer the reference points users at
    (README.md:12), maintained incrementally so a 100 TB history is
    never rescanned. ``keys`` / ``order`` / ``columns`` make the
    compaction config-expressible; defaults are the events-table
    shape (streaming/upsert.py ``EVENT_KEYS`` / ``EVENT_ORDER`` /
    ``EVENT_COLS``, i.e. cdc_latest_state)."""
    from ..streaming import upsert

    merge = upsert.latest_state_merge_for(
        list(options.get("keys", upsert.EVENT_KEYS)),
        list(options.get("order", upsert.EVENT_ORDER)),
        list(options.get("columns", upsert.EVENT_COLS)),
    )
    apply_batch = upsert.merge_apply_batch(
        upsert.KeyedStateDir(options["state-path"]), merge
    )
    return df.writeStream.foreachBatch(apply_batch)


@register_producer("scd2")
def scd2_producer(df: DataFrame, options: dict) -> DataStreamWriter:
    """SCD2 history maintenance as a config-driven sink: versioned
    intervals per key in a ``KeyedStateDir`` at ``state-path``. With
    ``dead-letter-path`` set, events predating a key's newest CLOSED
    interval divert there (scd2_late_split) instead of splicing a
    wrong interval — set it whenever the feed is not guaranteed
    per-key commit-ordered."""
    from ..streaming.upsert import (
        KeyedStateDir,
        merge_apply_batch,
        scd2_late_split,
        scd2_merge,
    )

    dlq = options.get("dead-letter-path")
    apply_batch = merge_apply_batch(
        KeyedStateDir(options["state-path"]),
        scd2_merge,
        split_fn=scd2_late_split if dlq else None,
        dead_letter_path=dlq,
    )
    return df.writeStream.foreachBatch(apply_batch)
