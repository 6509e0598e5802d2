"""Canonical data model: change events, envelopes, MySQL type mapping.

This is the columnar re-expression of the reference's row-oriented
event model:

  - ``Mutation``/``InsertMutation``/``UpdateMutation``/``DeleteMutation``
    (reference: mypipe-api/src/main/scala/mypipe/api/event/package.scala:47-139)
    become one **canonical change-event row**
    ``{op, database, table, table_id, txid, ts, before, after}``.
  - The *generic* Avro envelope's four typed maps
    (reference: mypipe-avro/src/main/avro/mutations.avsc:31-46)
    become ``MapType`` columns — one fixed schema that serves ANY
    source table, which is what lets a single streaming pipeline (and a
    single parquet sink layout) carry every table at 100 TB scale.
  - ``ColumnType`` wire codes
    (reference: mypipe-api/src/main/scala/mypipe/api/data/ColumnType.scala:15-48)
    map onto Spark SQL types below.

Everything here is plain schema/constant definitions — no execution.
"""

from __future__ import annotations

from pyspark.sql.types import (
    BinaryType,
    ByteType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# Mutation type codes ("magic bytes")
# reference: event/package.scala:149-157 (insert=0x1 update=0x2 delete=0x3)
# ---------------------------------------------------------------------------

INSERT = "insert"
UPDATE = "update"
DELETE = "delete"

MUTATION_MAGIC: dict[str, int] = {INSERT: 0x1, UPDATE: 0x2, DELETE: 0x3}
MAGIC_TO_MUTATION: dict[int, str] = {v: k for k, v in MUTATION_MAGIC.items()}

# Kafka wire-format header magic (reference: kafka/package.scala:5-24)
WIRE_MAGIC = 0x0

# Query-event classes (reference: event/package.scala:15-24)
QUERY_BEGIN = "begin"
QUERY_COMMIT = "commit"
QUERY_ROLLBACK = "rollback"
QUERY_ALTER = "alter"
QUERY_UNKNOWN = "unknown"

# ---------------------------------------------------------------------------
# MySQL ColumnType → Spark SQL type
# reference: ColumnType.scala:15-48 wire codes; bucketing rule for the
# generic envelope at KafkaGenericAvroSerializer.scala:80-112
# ---------------------------------------------------------------------------

COLUMN_TYPE_CODES: dict[str, int] = {
    "DECIMAL": 0, "TINY": 1, "SHORT": 2, "LONG": 3, "FLOAT": 4,
    "DOUBLE": 5, "NULL": 6, "TIMESTAMP": 7, "LONGLONG": 8, "INT24": 9,
    "DATE": 10, "TIME": 11, "DATETIME": 12, "YEAR": 13, "NEWDATE": 14,
    "VARCHAR": 15, "BIT": 16, "TIMESTAMP_V2": 17, "DATETIME_V2": 18,
    "TIME_V2": 19, "NEWDECIMAL": 246, "ENUM": 247, "SET": 248,
    "TINY_BLOB": 249, "MEDIUM_BLOB": 250, "LONG_BLOB": 251, "BLOB": 252,
    "VAR_STRING": 253, "STRING": 254, "GEOMETRY": 255, "UNKNOWN": -9999,
}

CODE_TO_COLUMN_TYPE: dict[int, str] = {v: k for k, v in COLUMN_TYPE_CODES.items()}


def spark_type_for(column_type: str) -> DataType:
    """Map a MySQL binlog column-type name to a Spark SQL DataType.

    Mirrors the type table in SURVEY.md §1.2; the VAR_STRING/BLOB family
    goes to BinaryType because the reference treats TEXT as bytes
    (KafkaGenericAvroSerializer.scala:106-110).
    """
    ct = column_type.upper()
    mapping: dict[str, DataType] = {
        "TINY": ByteType(), "SHORT": ShortType(), "INT24": IntegerType(),
        # MySQL LONG is the 4-byte INT, but the reference wire widens
        # it to a java.lang.Long and ships it in the generic
        # envelope's 'longs' map (KafkaGenericAvroSerializer.scala:
        # 94-104) — materialize as LongType so Spark-type bucketing
        # lands values where reference-format consumers look them up.
        "LONG": LongType(), "LONGLONG": LongType(),
        "FLOAT": FloatType(), "DOUBLE": DoubleType(),
        "DECIMAL": DecimalType(38, 18), "NEWDECIMAL": DecimalType(38, 18),
        "DATE": DateType(), "NEWDATE": DateType(),
        "TIME": StringType(), "TIME_V2": StringType(),
        "DATETIME": TimestampType(), "DATETIME_V2": TimestampType(),
        "TIMESTAMP": TimestampType(), "TIMESTAMP_V2": TimestampType(),
        "YEAR": ShortType(),
        "VARCHAR": StringType(), "STRING": StringType(),
        "VAR_STRING": BinaryType(),
        "TINY_BLOB": BinaryType(), "MEDIUM_BLOB": BinaryType(),
        "LONG_BLOB": BinaryType(), "BLOB": BinaryType(),
        "BIT": LongType(), "SET": LongType(),
        "ENUM": StringType(), "GEOMETRY": BinaryType(),
    }
    if ct not in mapping:
        raise ValueError(f"unsupported MySQL column type: {column_type}")
    return mapping[ct]


# Generic-envelope bucketing rule. The reference serializer
# (KafkaGenericAvroSerializer.scala:80-115) handles exactly four
# binlog types — INT24 → integers, VARCHAR → strings, LONG → longs
# (values arrive as Integer-or-Long and are widened to Long, :94-104),
# VAR_STRING → bytes — and DROPS every other type (:112 "case _ ⇒
# unsupported"). This table matches the reference on those four and
# extends it with the types the reference drops (TINY/SHORT/LONGLONG/
# STRING/BLOB family), bucketed by Spark type so no column silently
# vanishes from the envelope. Consistency with the snapshot bucketing
# (sources/snapshot.py buckets by spark_type_for's result) is
# test-pinned (tests/test_snapshot.py).
GENERIC_BUCKET_FOR_TYPE: dict[str, str] = {
    "TINY": "integers",
    "SHORT": "integers",
    "INT24": "integers",
    "LONG": "longs",
    "LONGLONG": "longs",
    "VARCHAR": "strings",
    "STRING": "strings",
    "VAR_STRING": "bytes",
    "BLOB": "bytes",
    "TINY_BLOB": "bytes",
    "MEDIUM_BLOB": "bytes",
    "LONG_BLOB": "bytes",
}

# The same bucketing keyed by SPARK simple type name — the ONE
# taxonomy both row-image adapters consume (sources/debezium.py
# _typed_map and sources/snapshot.py to_insert_mutations). Round-10
# review: each module carried its own private copy of this table, and
# the snapshot-preload/CDC-feed key-set agreement the round-8 fix
# established (unbucketed_to_strings) depended on the two copies
# never drifting.
BUCKET_SIMPLE_TYPES: dict[str, tuple[str, ...]] = {
    "integers": ("int", "smallint", "tinyint"),
    "longs": ("bigint",),
    "strings": ("string",),
    "bytes": ("binary",),
}

# ---------------------------------------------------------------------------
# Canonical change-event schema (raw change-log form)
#
# The raw change log is what a binlog tap / Kafka topic / file source
# delivers: one row per event, generic-envelope payload maps so one
# schema fits all tables. Control events (begin/commit/rollback/alter)
# ride the same stream with op = the query class and null payloads —
# exactly the reference's Event sealed trait flattened into a union row.
# ---------------------------------------------------------------------------


def _payload_fields(prefix: str) -> list[StructField]:
    return [
        StructField(f"{prefix}bytes", MapType(StringType(), BinaryType()), True),
        StructField(f"{prefix}integers", MapType(StringType(), IntegerType()), True),
        StructField(f"{prefix}strings", MapType(StringType(), StringType()), True),
        StructField(f"{prefix}longs", MapType(StringType(), LongType()), True),
    ]


# One event per row. `op` ∈ {insert, update, delete, begin, commit,
# rollback, alter, unknown}. Mutations carry before/after maps; ALTER
# carries `sql`; BEGIN/COMMIT carry only ordering + txid.
CHANGE_EVENT_SCHEMA = StructType(
    [
        StructField("seq", LongType(), False),        # binlog order (file,pos analog)
        StructField("op", StringType(), False),
        StructField("database", StringType(), True),
        StructField("table", StringType(), True),
        StructField("table_id", LongType(), True),
        StructField("txid", StringType(), True),      # UUID string (wire: fixed(16))
        StructField("ts", TimestampType(), False),    # event time (binlog ts)
        StructField("sql", StringType(), True),       # QueryEvent/AlterEvent payload
        *_payload_fields("old_"),                     # before image (update/delete)
        *_payload_fields("new_"),                     # after image (insert/update)
    ]
)

# Subject naming for the schema registry
# (reference: AvroSchemaUtils.scala:60-77)


def generic_subject(mutation_type: str) -> str:
    return f"generic_{mutation_type}"


def specific_subject(database: str, table: str, mutation_type: str) -> str:
    return f"{database}_{table}_{mutation_type}"


# ---------------------------------------------------------------------------
# Canonical wire-envelope field declaration
#
# The ONE statement of the generic envelope's field names/kinds, as
# (name, kind) pairs for the pure-Python Avro codec's record specs
# (sinks/avro_codec.py) and as ENVELOPE_TYPE, the decoded struct type
# of both wire codecs (the json codec's from_json schema and the
# avro_ref decoder's return type). ENVELOPE_TYPE's maps come from
# _payload_fields, the declaration CHANGE_EVENT_SCHEMA uses.
# ---------------------------------------------------------------------------

ENVELOPE_MAP_KINDS = ("bytes", "int", "string", "long")
ENVELOPE_MAP_NAMES = ("bytes", "integers", "strings", "longs")
ENVELOPE_FIELDS: list[tuple[str, str]] = [
    ("database", "string"),
    ("table", "string"),
    ("tableId", "long"),
    ("txid", "string"),
] + [
    (f"{prefix}{name}", f"map_{kind}")
    for prefix in ("", "old_", "new_")
    for name, kind in zip(ENVELOPE_MAP_NAMES, ENVELOPE_MAP_KINDS)
]

ENVELOPE_TYPE = StructType(
    [
        StructField("database", StringType(), True),
        StructField("table", StringType(), True),
        StructField("tableId", LongType(), True),
        StructField("txid", StringType(), True),
        *_payload_fields(""),
        *_payload_fields("old_"),
        *_payload_fields("new_"),
    ]
)
