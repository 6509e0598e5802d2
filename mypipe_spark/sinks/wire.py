"""Kafka wire-format framing — pure binary column expressions.

Every encoded message is ``[MAGIC 0x0 (1B)][MTYPE (1B)][SCHEMA_ID
big-endian short (2B)][payload]`` (reference: kafka/package.scala:5-24,
framing KafkaAvroSerializer.scala:189-201, parsing
KafkaAvroDecoder.scala:20-23,33-66).

The generic payload has two codecs, one entry each in
``_PAYLOAD_ENCODERS`` and ``_PAYLOAD_PARSERS``:

- ``json`` (default): the envelope struct as UTF-8 JSON. Framing,
  header and decode are expression-level (`concat`/`substring`/
  `from_json` on BinaryType), so they run inside whole-stage codegen
  with no Python in the loop.
- ``avro_ref``: the reference's own wire records (mutations.avsc
  Insert/Update/DeleteMutation), written by a column-at-a-time kernel
  over the Arrow buffers (one ``arrow_udf``) and read by a pandas UDF,
  both in :mod:`.avro_codec`.

Both flavors (generic and per-table specific) share one frame
builder: a driver-side header table ``{lookup key: (schema id, 4-byte
header)}`` built once from the registry and shipped as a plan-literal
map, one dead-letter split that classifies before it encodes, and one
``concat(header, body)`` per frame. The encoders return the input rows
plus ``payload``, ``schema_id`` and the frame ``value``; a
config-driven wire pipe (runner.build_pipes) then hands its producer
only the Kafka record columns (``topic``/``value`` and any
``key``/``partition``/``headers``).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..model import (
    ENVELOPE_DDL,
    MUTATION_MAGIC,
    WIRE_MAGIC,
    generic_subject,
    specific_subject,
)
from ..registry import SchemaRegistry

# ---------------------------------------------------------------------------
# byte-level helpers
# ---------------------------------------------------------------------------


def _byte(value: int) -> Column:
    """One literal byte as BinaryType."""
    return F.lit(bytes([value]))


def _short_be_decode(bin_col: Column) -> Column:
    """2 bytes → int (reference decoder: KafkaAvroDecoder.scala:20-22)."""
    return F.conv(F.hex(bin_col), 16, 10).cast("int")


# ---------------------------------------------------------------------------
# envelope construction (generic flavor — the any-table typed maps)
# ---------------------------------------------------------------------------

# The generic envelope's payload body (mutations.avsc:10-148): header +
# typed maps. Insert carries the after image in plain maps, delete the
# before image, update both as old_*/new_* — this union struct covers
# all three so one column type (model.ENVELOPE_DDL) serves the whole
# stream.
def generic_envelope(df: DataFrame) -> DataFrame:
    """Project change events into the generic envelope struct column
    ``payload`` (header enrichment F6 + typed-map projection F4).

    Insert → plain maps from the after image; delete → plain maps from
    the before image; update → old_*/new_* pairs
    (reference: KafkaGenericAvroSerializer.scala:54-60,
    KafkaAvroSerializer.scala:149-160)."""
    is_ins = F.col("op") == "insert"
    is_del = F.col("op") == "delete"
    is_upd = F.col("op") == "update"

    def plain(kind: str) -> Column:
        return (
            F.when(is_ins, F.col(f"new_{kind}"))
            .when(is_del, F.col(f"old_{kind}"))
            .otherwise(F.lit(None))
        )

    def upd(prefix: str, kind: str) -> Column:
        return F.when(is_upd, F.col(f"{prefix}_{kind}")).otherwise(F.lit(None))

    payload = F.struct(
        F.col("database"),
        F.col("table"),
        F.col("table_id").alias("tableId"),
        F.col("txid"),
        plain("bytes").alias("bytes"),
        plain("integers").alias("integers"),
        plain("strings").alias("strings"),
        plain("longs").alias("longs"),
        *[upd("old", k).alias(f"old_{k}") for k in ("bytes", "integers", "strings", "longs")],
        *[upd("new", k).alias(f"new_{k}") for k in ("bytes", "integers", "strings", "longs")],
    )
    return df.withColumn("payload", payload)


# ---------------------------------------------------------------------------
# the frame builder — one core behind both wire flavors
# ---------------------------------------------------------------------------

_OPS = tuple(MUTATION_MAGIC)  # insert, update, delete
# (payload struct, op) → body; NULL where the codec refuses the row
_Body = Callable[[Column, Column], Column]


def _literal_map(table: dict[str, tuple[int, bytes]]) -> Column:
    """``{key: (schema id, header)}`` as a plan-literal map column, the
    header as hex (a binary inside a map literal prints as ``[B@…`` in
    explain output, so plan text would differ run to run). An empty
    table is a typed NULL map (every lookup NULL → dead-letter); an
    empty ``F.create_map()`` would fail analysis instead."""
    entries = [
        c
        for key, (schema_id, header) in table.items()
        for c in (
            F.lit(key),
            F.struct(
                F.lit(schema_id).alias("schema_id"),
                F.lit(header.hex()).alias("header"),
            ),
        )
    ]
    if not entries:
        return F.lit(None).cast("map<string,struct<schema_id:int,header:string>>")
    return F.create_map(*entries)


def _header_table(registry: SchemaRegistry, subjects: dict[str, str]) -> Column:
    """``{lookup key: subject}`` → the plan-literal map from each key
    whose subject is registered to (latest schema id, 4-byte header
    ``[0x0][mtype][id big-endian]``); the subject's last ``_`` segment
    names the mutation. Built once on the driver, so a frame needs no
    join and no per-row header arithmetic. An id outside [0, 0xFFFF]
    raises ValueError here, naming the subject: truncated, it would be
    a corrupted header."""
    table: dict[str, tuple[int, bytes]] = {}
    for key, subject in subjects.items():
        latest = registry.get_latest(subject)
        if not latest:
            continue
        sid, mtype = latest[0], MUTATION_MAGIC[subject.rsplit("_", 1)[1]]
        if not 0 <= sid <= 0xFFFF:
            raise ValueError(
                f"schema id out of 2-byte range: {sid} (subject {subject!r})"
            )
        table[key] = (sid, bytes([WIRE_MAGIC, mtype]) + sid.to_bytes(2, "big"))
    return _literal_map(table)


def _encode(df: DataFrame, entry: Column, body: _Body) -> DataFrame:
    """Envelope + ``schema_id``, plus the ``__entry`` lookup and the
    ``__body`` that :func:`_frame` joins."""
    return (
        generic_envelope(df)
        .withColumn("__entry", entry)
        .withColumn("schema_id", F.col("__entry.schema_id"))
        .withColumn("__body", body(F.col("payload"), F.col("op")))
    )


def _frame(encoded: DataFrame) -> DataFrame:
    """``value`` = ``concat(header, body)``, built once."""
    return encoded.withColumn(
        "value", F.concat(F.unhex(F.col("__entry.header")), F.col("__body"))
    ).drop("__entry", "__body")


def _split(df: DataFrame, entry: Column, body: _Body) -> tuple[DataFrame, DataFrame]:
    """The dead-letter split of both flavors (classes: see
    :func:`encode_dead_letter_split`). Only rows that pass the first
    two classes reach the codec."""
    op = F.col("op")
    classified = df.withColumn(
        "dlq_reason",
        F.when(op.isNull() | ~op.isin(*_OPS), "not_a_mutation").when(
            entry.isNull(), "unregistered_subject"
        ),
    )
    valid = classified.filter(F.col("dlq_reason").isNull()).drop("dlq_reason")
    encoded = _encode(valid, entry, body)
    # filter on the body, not the frame: a filter on ``value`` is
    # pushed below the projection and rebuilds the concat there
    failed = (
        encoded.filter(F.col("__body").isNull())
        .drop("payload", "schema_id", "__entry", "__body")
        .withColumn("dlq_reason", F.lit("serialize_failure"))
    )
    dead = classified.filter(F.col("dlq_reason").isNotNull())
    return (
        _frame(encoded.filter(F.col("__body").isNotNull())),
        dead.unionByName(failed, allowMissingColumns=True),
    )


# ---------------------------------------------------------------------------
# payload codecs — one encoder and one parser per codec value
# ---------------------------------------------------------------------------


def _encode_json(payload: Column, op: Column, strict_txid: bool) -> Column:
    return F.encode(F.to_json(payload), "UTF-8")


def _encode_avro_ref(payload: Column, op: Column, strict_txid: bool) -> Column:
    from .avro_codec import avro_encode_expr

    return avro_encode_expr(payload, op, strict_txid=strict_txid)


def _parse_json(body: Column, op: Column) -> Column:
    # ANSI decode() throws on invalid UTF-8: such a body parses to NULL
    # (bad_payload in the split) instead of failing the query
    return F.when(
        F.is_valid_utf8(body),
        F.from_json(F.decode(body, "UTF-8"), ENVELOPE_DDL),
    )


def _parse_avro_ref(body: Column, op: Column) -> Column:
    from .avro_codec import avro_decode_expr

    return avro_decode_expr(body, op)


_PAYLOAD_ENCODERS: dict[str, Callable[[Column, Column, bool], Column]] = {
    "json": _encode_json,
    "avro_ref": _encode_avro_ref,
}
_PAYLOAD_PARSERS: dict[str, Callable[[Column, Column], Column]] = {
    "json": _parse_json,
    "avro_ref": _parse_avro_ref,
}


def check_codec(codec: str) -> str:
    """Return ``codec`` if it names a generic payload codec, else raise
    ValueError naming the known ones."""
    if codec not in _PAYLOAD_PARSERS:
        raise ValueError(
            f"unknown payload codec {codec!r}; known: "
            + ", ".join(_PAYLOAD_PARSERS)
        )
    return codec


def _generic(
    registry: SchemaRegistry, codec: str, strict_txid: bool
) -> tuple[Column, _Body]:
    """Generic flavor: header lookup keyed by ``op`` (subjects
    ``generic_<op>``) and the payload codec."""
    encode = _PAYLOAD_ENCODERS[check_codec(codec)]
    headers = _header_table(registry, {op: generic_subject(op) for op in _OPS})
    return headers[F.col("op")], lambda p, op: encode(p, op, strict_txid)


def encode_generic(
    df: DataFrame, registry: SchemaRegistry, codec: str = "json",
    strict_txid: bool = False,
) -> DataFrame:
    """Mutations → framed wire bytes in column ``value`` (K5+K7).

    ``codec="json"`` (default): UTF-8 JSON payload; binary map values
    are base64 inside the JSON, which `decode_generic` round-trips.
    ``codec="avro_ref"``: the reference's wire records (mutations.avsc
    Insert/Update/DeleteMutation with the fixed-16 Guid txid;
    KafkaAvroSerializer.scala:189-201). Non-UUID txids (Debezium
    GTIDs, numeric txIds) map deterministically onto the Guid via
    uuid5 (avro_codec.txid_to_guid) so a Debezium-fed stream is never
    wholesale diverted; ``strict_txid=True`` diverts them to the dead
    letter instead, for exact-parity pipelines. A control row or an
    op with no registered ``generic_<op>`` subject gets a NULL
    ``schema_id`` and a NULL frame."""
    return _frame(_encode(df, *_generic(registry, codec, strict_txid)))


def encode_dead_letter_split(
    df: DataFrame, registry: SchemaRegistry, codec: str = "json",
    strict_txid: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Encode-side twin of :func:`frame_dead_letter_split`: rows the
    serializer cannot frame divert to a dead-letter branch instead of
    poisoning the producer query (the reference's serializer returns
    None on a failed serialize and the producer skips,
    KafkaAvroSerializer.scala:189-201). Classes, first match wins:

    - ``not_a_mutation``       — op NULL or outside insert/update/
      delete (control rows piped in unfiltered; ``isin`` alone is
      NULL on a NULL op and would pass it as valid)
    - ``unregistered_subject`` — the header lookup is NULL: the op's
      subject has no registered schema
    - ``serialize_failure``    — the codec returned a NULL body (a
      non-UUID txid under ``codec='avro_ref', strict_txid=True``,
      whose Guid field is fixed(16)); without this class the row
      would leave as a silent NULL frame (a Kafka tombstone)

    The first two are decided before the codec runs. Returns
    ``(encoded_valid, dead)``: valid rows carry the
    :func:`encode_generic` columns and a non-NULL frame; dead rows
    keep the input columns plus ``dlq_reason``."""
    return _split(df, *_generic(registry, codec, strict_txid))


def unframe(value: Column) -> dict[str, Column]:
    """Split a framed message into header fields + payload bytes
    (reference decoder: KafkaAvroDecoder.scala:33-66). Callers check
    ``magic_ok`` the way the reference checks its magic byte."""
    return {
        "magic_ok": F.substring(value, 1, 1) == _byte(WIRE_MAGIC),
        "mtype": _short_be_decode(F.substring(value, 2, 1)),
        "schema_id": _short_be_decode(F.substring(value, 3, 2)),
        "payload": value.substr(F.lit(5), F.length(value)),
    }


def decode_generic(
    df: DataFrame, value_col: str = "value", codec: str = "json"
) -> DataFrame:
    """Framed wire bytes → header columns + decoded envelope struct.

    Validates the magic byte, extracts mtype/schema_id, and decodes the
    payload into the generic envelope struct (K9/K10) with the same
    codec that framed it (see :func:`encode_generic`). A body the codec
    cannot parse decodes to a NULL or all-null struct."""
    parse = _PAYLOAD_PARSERS[check_codec(codec)]
    parts = unframe(F.col(value_col))
    payload = parse(parts["payload"], _op_from_mtype(parts["mtype"]))
    df = (
        df.withColumn("magic_ok", parts["magic_ok"])
        .withColumn("mtype", parts["mtype"])
        .withColumn("schema_id", parts["schema_id"])
        .withColumn("payload", payload)
    )
    return df.withColumn("op", _op_from_mtype(F.col("mtype")))


def _op_from_mtype(mtype: Column) -> Column:
    return (
        F.when(mtype == MUTATION_MAGIC["insert"], "insert")
        .when(mtype == MUTATION_MAGIC["update"], "update")
        .when(mtype == MUTATION_MAGIC["delete"], "delete")
    )


def decoded_change_events(df: DataFrame) -> DataFrame:
    """Decoded wire rows (``op`` + ``payload`` struct, from
    :func:`decode_generic` / :func:`frame_dead_letter_split`) → the
    canonical CHANGE_EVENT_SCHEMA column set — the inverse of
    :func:`generic_envelope`'s typed-map projection, so a downstream
    Kafka consumer re-enters the same transform library the binlog
    path uses (the reference's consumer decodes back to Mutation
    objects the same way, KafkaMutationAvroDecoder.scala).

    The wire envelope carries no seq/ts/sql; when the source is Kafka
    its record coordinates stand in (``offset`` → seq — the
    (file, pos) analog within a partition — and the broker
    ``timestamp`` → ts), else they are NULL."""
    p = F.col("payload")
    is_ins = F.col("op") == "insert"
    is_del = F.col("op") == "delete"
    is_upd = F.col("op") == "update"

    def old(kind: str) -> Column:
        return (
            F.when(is_upd, p[f"old_{kind}"])
            .when(is_del, p[kind])
            .alias(f"old_{kind}")
        )

    def new(kind: str) -> Column:
        return (
            F.when(is_upd, p[f"new_{kind}"])
            .when(is_ins, p[kind])
            .alias(f"new_{kind}")
        )

    seq = (
        F.col("offset") if "offset" in df.columns else F.lit(None).cast("long")
    )
    ts = (
        F.col("timestamp").cast("timestamp")
        if "timestamp" in df.columns
        else F.lit(None).cast("timestamp")
    )
    return df.select(
        seq.alias("seq"),
        F.col("op"),
        p["database"].alias("database"),
        p["table"].alias("table"),
        p["tableId"].alias("table_id"),
        p["txid"].alias("txid"),
        ts.alias("ts"),
        F.lit(None).cast("string").alias("sql"),
        old("bytes"), old("integers"), old("strings"), old("longs"),
        new("bytes"), new("integers"), new("strings"), new("longs"),
    )


def frame_dead_letter_split(
    df: DataFrame,
    registry: SchemaRegistry | None,
    value_col: str = "value",
    codec: str = "json",
) -> tuple[DataFrame, DataFrame]:
    """Classify framed messages BEFORE decoding and divert malformed
    ones to a dead-letter branch — the decode layer of the reference's
    3-layer error cascade (binaryLogConsumerTraits.scala:89-137), where
    a frame the decoder cannot parse must skip-and-divert, never kill
    the consumer. :func:`decode_generic` alone would pass such frames
    downstream as NULL or all-null payloads instead of diverting them.

    Checks run in cascade order, first failure wins as ``dlq_reason``:

    - ``null_frame``     — NULL value (a Kafka compacted-topic
      tombstone reaching a non-compacted consumer; without this check
      every cascade predicate evaluates NULL and the tombstone would
      sail through as "valid" and decode to all-null columns)
    - ``short_frame``    — fewer than the 4 header bytes + 1
    - ``bad_magic``      — first byte is not the wire magic 0x0
    - ``unknown_mtype``  — mutation byte outside insert/update/delete
    - ``unknown_schema`` — schema id not registered for any generic
      subject (the reference's decoder fails a lookup miss the same
      way, KafkaAvroDecoder.scala:43-55)
    - ``bad_payload``    — the codec's parser cannot read the body
      into an envelope: not valid UTF-8 or not envelope JSON under
      ``json``, not a mutations.avsc record under ``avro_ref`` (the
      envelope always carries ``database``; a parse yielding none is
      garbage)

    ``codec`` must match the one that framed the stream (see
    :func:`encode_generic`); a mismatched codec diverts the entire
    stream as ``bad_payload`` rather than erroring.

    Returns ``(decoded_valid, dead)``: valid frames carry the
    :func:`decode_generic` column shape (the payload struct comes from
    the ONE guarded parse that classification already did — the hot
    path never parses twice); dead ones keep the raw frame plus
    ``dlq_reason`` (the :mod:`..streaming.errors` DLQ convention).
    Under ``json`` it is all expression-level — each branch plans as a
    single codegen'd scan over the source (two consumers mean two
    scans, as with any pair of derived DataFrames; under streaming each
    branch is its own query anyway)."""
    v = F.col(value_col)
    # registry=None skips the unknown_schema check (a registry-less
    # consumer — e.g. the runner's generic Kafka pipe — still gets the
    # structural header/payload cascade)
    known_ids = (
        sorted(
            {
                i
                for op in ("insert", "update", "delete")
                for i in registry.versions(generic_subject(op))
            }
        )
        if registry is not None
        else None
    )
    mtypes = sorted(MUTATION_MAGIC.values())
    parts = unframe(v)
    # ONE parse, which both the classification and the valid branch's
    # payload column read. Both parsers are permissive (a malformed
    # body yields NULL or an all-null struct, never a throw), which
    # the avro_ref UDF needs: a Python UDF inside CaseWhen is hoisted
    # into its own projection and runs for EVERY row.
    parse = _PAYLOAD_PARSERS[check_codec(codec)]
    parsed = F.when(
        F.length(v) >= 5, parse(parts["payload"], _op_from_mtype(parts["mtype"]))
    )
    classified = df.withColumn("__parsed", parsed)
    p = F.col("__parsed")
    if known_ids is None:  # registry-less consumer: skip the check
        schema_cond = F.lit(False)
    elif known_ids:
        schema_cond = ~parts["schema_id"].isin(known_ids)
    else:  # a registry with nothing registered knows no id
        schema_cond = F.lit(True)
    reason = (
        F.when(v.isNull(), "null_frame")
        .when(F.length(v) < 5, "short_frame")
        .when(~parts["magic_ok"], "bad_magic")
        .when(~parts["mtype"].isin(mtypes), "unknown_mtype")
        .when(schema_cond, "unknown_schema")
        .when(p.isNull() | p["database"].isNull(), "bad_payload")
    )
    classified = classified.withColumn("dlq_reason", reason)
    valid = (
        classified.filter(F.col("dlq_reason").isNull())
        .withColumn("magic_ok", parts["magic_ok"])
        .withColumn("mtype", parts["mtype"])
        .withColumn("schema_id", parts["schema_id"])
        .withColumn("payload", p)
        .withColumn("op", _op_from_mtype(F.col("mtype")))
        .drop("dlq_reason", "__parsed")
    )
    dead = classified.filter(F.col("dlq_reason").isNotNull()).drop("__parsed")
    return valid, dead


def specific_projection(df: DataFrame, table_schema: StructType, image: str = "new") -> DataFrame:
    """F5 — *specific* envelope: project the typed maps back into real
    per-table columns according to a registered StructType (the
    specific Avro serializer's field copy,
    KafkaSpecificAvroSerializer.scala:40-53). A missing map COLUMN
    (e.g. a frame without ``new_integers``) fails at analysis time; a
    schema field NAME absent from a row's maps projects to NULL —
    map lookups are data-level, so per-row absence cannot be a plan
    error. That matches the reference's field copy, which writes only
    the keys present in the mutation and leaves the rest at their
    Avro-record defaults (null)."""
    cols: list[Column] = [F.col("database"), F.col("table"), F.col("table_id"), F.col("txid"), F.col("ts")]
    for field in table_schema.fields:
        name = field.name
        # bigint fields consult BOTH integer maps: a MySQL LONG column
        # rides the wire in 'longs' (reference rule), but a snapshot of
        # the same table buckets its Spark IntegerType read into
        # 'integers' — the projection must find the value either way
        # (int → bigint is a lossless widening).
        # try_cast, not cast: under ANSI mode (this repo's default) a
        # value that does not fit the declared type — a pre-ALTER
        # string frame projected under a post-ALTER INT schema, a
        # bigint narrowed into smallint — must project NULL for that
        # cell (and let coalesce consult the next map), never kill the
        # whole query at runtime (round-11 review; same permissive
        # posture as the docstring's per-row absence rule)
        src = (
            F.coalesce(
                F.col(f"{image}_integers").getItem(name).try_cast(field.dataType)
                if field.dataType.simpleString()
                in ("int", "smallint", "tinyint", "bigint")
                else F.lit(None).cast(field.dataType),
                F.col(f"{image}_longs").getItem(name).try_cast(field.dataType),
                F.col(f"{image}_strings").getItem(name).try_cast(field.dataType),
            )
            if field.dataType.simpleString() != "binary"
            else F.col(f"{image}_bytes").getItem(name)
        )
        cols.append(src.alias(name))
    return df.select(*cols)


# ---------------------------------------------------------------------------
# SPECIFIC wire path — framed per-table Avro records
# (KafkaMutationSpecificAvroProducer.scala:9-11 + KafkaSpecificAvroSerializer)
# ---------------------------------------------------------------------------


def encode_specific(
    df: DataFrame,
    table_schema: StructType,
    registry: SchemaRegistry,
    database: str | None = None,
    table: str | None = None,
) -> DataFrame:
    """Mutations → framed SPECIFIC-record wire bytes: the per-table
    Avro record (database, table, then the table's columns — update
    rows carry old_/new_ pairs) behind the same
    ``[magic][mtype][schema id]`` frame as the generic path. The
    header comes from the same plan-literal table, built from the
    registry's specific subjects ``<db>_<table>_<op>``; a mutation
    whose subject is unregistered gets a NULL schema_id and a NULL
    frame. Route such rows with
    :func:`encode_specific_dead_letter_split` or register the table
    first (registry.register_table).

    INTEROP NOTE: these specific bytes are NOT reference-topic
    compatible. The reference's per-table records (User-1-insert.avsc
    via KafkaSpecificAvroSerializer.scala:40-61) use NON-nullable
    column fields and dotted ``old.``/``new.`` field names; this path
    writes every column as a ``["null", T]`` union (a Spark row can
    carry NULL in any column) with ``old_``/``new_`` prefixes. For
    reference-topic bytes use the generic ``codec='avro_ref'``. This
    path's decoder is :func:`decode_specific` /
    ``decode_specific_versioned``, round-trip-tested against it.

    SINGLE-TABLE CONTRACT: the body of every frame is laid out by THE
    ONE ``table_schema``. Pass ``database``/``table`` to pin the
    header lookup to that table: the row's ``database`` and ``table``
    must equal them, then ``op`` picks one of the table's three
    subjects, so a row of any OTHER table gets a NULL id (→ NULL
    frame → dead-letter) instead of another table's valid id over a
    body laid out by this table's schema. Pinning is the exact form.
    Omitting db/table looks up the subject string
    ``<database>_<table>_<op>`` among all registered subjects, for
    single-table feeds that tag rows themselves; that key is
    ambiguous when names contain ``_`` (``mypipe_x``.``y`` and
    ``mypipe``.``x_y`` share ``mypipe_x_y_insert``)."""
    return _frame(_encode(df, *_specific(table_schema, registry, database, table)))


def _specific(
    table_schema: StructType, registry: SchemaRegistry,
    database: str | None, table: str | None,
) -> tuple[Column, _Body]:
    """Specific flavor: the pinned or unpinned header lookup (see
    :func:`encode_specific`) and the record codec."""
    from .avro_codec import specific_encode_expr

    db, tbl, op = F.col("database"), F.col("table"), F.col("op")
    if database is not None and table is not None:
        subjects = {o: specific_subject(database, table, o) for o in _OPS}
        key = F.when((db == database) & (tbl == table), op)
    else:
        subjects = {s: s for s in registry.subjects() if s.rsplit("_", 1)[-1] in _OPS}
        # NULL if any part is NULL: concat_ws skips NULLs, so (NULL,
        # 't', 'insert') would match an unrelated subject 't_insert'
        key = F.when(
            db.isNotNull() & tbl.isNotNull() & op.isNotNull(),
            F.concat_ws("_", db, tbl, op),
        )
    return (
        _header_table(registry, subjects)[key],
        lambda p, o: specific_encode_expr(p, o, table_schema),
    )


def decode_specific(
    df: DataFrame,
    table_schema: StructType,
    value_col: str = "value",
    which: str = "single",
) -> DataFrame:
    """Framed specific-record bytes → typed per-table columns.

    ``which="single"`` decodes insert/delete frames (one image),
    ``which="update"`` the update frames (old_/new_ column pairs) —
    two calls cover a mixed stream, mirroring the reference consumer's
    record-class choice by mutation byte. Malformed bodies decode to
    all-null structs (permissive), same as the generic codecs.
    Decodes THIS repo's specific bytes (nullable-union fields,
    underscore old_/new_ names) — not the reference's non-nullable
    dotted-name records; see the interop note on
    :func:`encode_specific`."""
    from .avro_codec import specific_decode_expr

    v = F.col(value_col)
    parts = unframe(v)
    if which == "update":
        mtypes = [MUTATION_MAGIC["update"]]
    elif which == "single":
        mtypes = [MUTATION_MAGIC["insert"], MUTATION_MAGIC["delete"]]
    else:
        raise ValueError(f"which must be 'single' or 'update', got {which!r}")
    filtered = df.filter(parts["mtype"].isin(mtypes))
    payload = specific_decode_expr(
        parts["payload"], _op_from_mtype(parts["mtype"]), table_schema, which
    )
    return (
        filtered.withColumn("magic_ok", parts["magic_ok"])
        .withColumn("mtype", parts["mtype"])
        .withColumn("schema_id", parts["schema_id"])
        .withColumn("op", _op_from_mtype(parts["mtype"]))
        .withColumn("record", payload)
    )


def decode_specific_versioned(
    df: DataFrame,
    registry: SchemaRegistry,
    database: str,
    table: str,
    value_col: str = "value",
    which: str = "single",
) -> dict[tuple[str, int], DataFrame]:
    """Versioned specific-record decode — the consumer side of schema
    evolution (K11; the reference decoder fetches the writer schema BY
    ID from the repo, KafkaAvroDecoder.scala:43-66). After an ALTER a
    topic carries frames written under several schema versions; each
    must decode with the schema its header id names, not the latest.

    Returns ``{(op, version_id): DataFrame}`` — one typed branch per
    (mutation type, registered version) whose StructType parses from
    the registry. Branch schemas legitimately differ (that is the
    point), so they cannot union; a consumer processes per-version,
    exactly as the reference's per-class decoding does.

    Cross-table guard (round-8 review): ids are PER-SUBJECT (every
    subject's versions start at 1), so on a topic carrying several
    tables' frames the (mtype, id) header pair alone would route a
    colliding other-table frame into this table's branch and decode
    its body under the wrong schema. The record body's first two
    fields are (database, table) at identical byte positions in EVERY
    specific schema, so they decode correctly even under a wrong
    table's schema — each branch therefore post-filters on the
    decoded coordinates, keeping only this table's frames (NULL
    coordinates — an undecodable body — stay in the branch, as
    before: that is the bad-payload surface, not a foreign table)."""
    v = F.col(value_col)
    parts = unframe(v)
    ops = ("update",) if which == "update" else ("insert", "delete")
    out: dict[tuple[str, int], DataFrame] = {}
    for op in ops:
        subject = specific_subject(database, table, op)
        for version in registry.versions(subject):
            text = registry.get_schema(subject, version)
            if text is None:
                continue
            from ..registry import struct_from_schema_text

            schema = struct_from_schema_text(text)
            if schema is None:
                continue  # non-StructType schema text: not decodable here
            branch = df.filter(
                (parts["mtype"] == MUTATION_MAGIC[op])
                & (parts["schema_id"] == version)
            )
            decoded = decode_specific(
                branch, schema, value_col=value_col, which=which
            )
            rec_db = F.col("record.database")
            rec_tbl = F.col("record.table")
            out[(op, version)] = decoded.filter(
                ~(
                    (rec_db.isNotNull() & (rec_db != database))
                    | (rec_tbl.isNotNull() & (rec_tbl != table))
                )
            )
    return out


def encode_specific_dead_letter_split(
    df: DataFrame,
    table_schema: StructType,
    registry: SchemaRegistry,
    database: str | None = None,
    table: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Specific-flavor twin of :func:`encode_dead_letter_split`, with
    the same classes; with ``database``/``table`` pinned
    (encode_specific's single-table contract) a row of any other table
    is ``unregistered_subject`` too. Returns ``(encoded_valid,
    dead)``; every valid frame is non-NULL."""
    return _split(df, *_specific(table_schema, registry, database, table))
