"""Pure-Python Avro binary codec for the wire bodies.

The reference's wire payload IS Avro (KafkaAvroSerializer.scala:189-201
serializes mutations.avsc records). This module implements the Avro
1.12 BINARY encoding by hand — the spec's primitives are zigzag
varints, length-prefixed byte strings, block-framed maps and union
indices — and exposes it as Arrow-batched pandas UDFs, so no spark-avro
jar is needed. Two record families:

- the REFERENCE's per-op generic records (mutations.avsc:10-148:
  InsertMutation/DeleteMutation with 8 fields, UpdateMutation with 12,
  txid as a ["null", fixed(16)] Guid) — the ``codec="avro_ref"`` body
  of sinks/wire.py, the reference-topic interop format;
- per-table SPECIFIC records (``specific_*`` below) for
  wire.encode_specific / decode_specific.

Map entries are written as one block in sorted-key order, so the bytes
are deterministic across runs; any spec-compliant reader accepts any
block layout. Arrow moves the columns to Python in batches; the per-row
work is a few hundred bytes of buffer appends.
"""

from __future__ import annotations

import uuid

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# ---------------------------------------------------------------------------
# Avro binary primitives (Avro 1.12 spec, "Binary Encoding")
# ---------------------------------------------------------------------------


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(z: int) -> int:
    return (z >> 1) ^ -(z & 1)


def _write_varint(buf: bytearray, n: int) -> None:
    z = _zigzag(n)
    while z > 0x7F:
        buf.append((z & 0x7F) | 0x80)
        z >>= 7
    buf.append(z)


def _write_bytes(buf: bytearray, b: bytes) -> None:
    _write_varint(buf, len(b))
    buf += b


def _write_string(buf: bytearray, s: str) -> None:
    _write_bytes(buf, s.encode("utf-8"))


class _Reader:
    __slots__ = ("b", "i")

    def __init__(self, b: bytes) -> None:
        self.b = b
        self.i = 0

    def varint(self) -> int:
        z = shift = 0
        while True:
            if self.i >= len(self.b):
                raise ValueError("truncated varint")
            byte = self.b[self.i]
            self.i += 1
            z |= (byte & 0x7F) << shift
            if not byte & 0x80:
                break
            shift += 7
            if shift > 70:
                raise ValueError("varint too long")
        return _unzigzag(z)

    def raw(self, n: int) -> bytes:
        if n < 0 or self.i + n > len(self.b):
            raise ValueError("truncated bytes")
        out = self.b[self.i : self.i + n]
        self.i += n
        return out

    def bytes_(self) -> bytes:
        return self.raw(self.varint())

    def string(self) -> str:
        return self.bytes_().decode("utf-8")


# value kinds a map may hold
_MAP_WRITERS = {
    "int": _write_varint,
    "long": _write_varint,
    "string": _write_string,
    "bytes": _write_bytes,
}


def _write_map(buf: bytearray, d: dict | None, vkind: str) -> None:
    """One block in sorted-key order, then the 0 terminator (empty map
    = just the terminator). Sorted keys make the bytes deterministic;
    readers accept any spec-compliant block layout.

    NULL values are SKIPPED, not written: Avro map values here are
    non-nullable, and the reference serializer drops null columns from
    the envelope the same way (KafkaGenericAvroSerializer.scala:85,
    :103 — `if (v.isDefined)` / `if (v != null)`). Without the skip a
    single NULL column value would fail the encode and dead-letter the
    whole row."""
    write_v = _MAP_WRITERS[vkind]
    items = (
        [(k, d[k]) for k in sorted(d) if d[k] is not None] if d else []
    )
    if items:
        _write_varint(buf, len(items))
        for k, v in items:
            _write_string(buf, k)
            write_v(buf, bytes(v) if vkind == "bytes" else v)
    _write_varint(buf, 0)


_INT_RANGES = {"int": (-(2**31), 2**31 - 1), "long": (-(2**63), 2**63 - 1)}


def _checked_int(v: int, vkind: str):
    """Range-validate a decoded varint against its declared Avro type.
    Without this, structurally-valid garbage (a 5-byte varint in an
    'int' map) would decode to an unbounded Python int and either wrap
    silently in the Arrow int32 conversion or — with
    convertToArrowArraySafely on — throw OUTSIDE the permissive
    try/except and kill the query. Out-of-range → ValueError →
    bad_payload, which is the contract."""
    lo, hi = _INT_RANGES[vkind]
    if not lo <= v <= hi:
        raise ValueError(f"{vkind} out of range: {v}")
    return v


def _read_map(r: _Reader, vkind: str) -> dict:
    out: dict = {}
    while True:
        count = r.varint()
        if count == 0:
            return out
        if count < 0:
            count = -count
            r.varint()  # block byte-size hint; entries are read anyway
        for _ in range(count):
            k = r.string()
            if vkind in ("int", "long"):
                out[k] = _checked_int(r.varint(), vkind)
            elif vkind == "string":
                out[k] = r.string()
            else:
                out[k] = r.bytes_()


# ---------------------------------------------------------------------------
# record specs
# ---------------------------------------------------------------------------

# the envelope field spec comes from the canonical declaration in
# model.py (importable without pandas)
from ..model import (  # noqa: E402
    ENVELOPE_DDL,
    ENVELOPE_FIELDS,
    ENVELOPE_MAP_KINDS as _MAP_KINDS,
    ENVELOPE_MAP_NAMES as _MAP_NAMES,
)

# the reference's per-op records (mutations.avsc): non-null header
# fields, txid is ["null", fixed(16) Guid], maps are non-null
_REF_PLAIN_MAPS = list(zip(_MAP_NAMES, _MAP_KINDS))
_REF_UPDATE_MAPS = [
    (f"{prefix}_{name}", kind)
    for prefix in ("old", "new")
    for name, kind in zip(_MAP_NAMES, _MAP_KINDS)
]


def _is_null(v) -> bool:
    if v is None:
        return True
    try:
        return bool(pd.isna(v))
    except (TypeError, ValueError):
        return False  # dicts/containers are never NA


# The reference's Guid field is fixed(16) (mutations.avsc) — a txid
# that is not itself a UUID (a MySQL GTID "3E11FA47-…:23" from the
# Debezium source, a numeric Postgres txId) cannot ride verbatim.
# txid_to_guid maps such strings DETERMINISTICALLY via uuid5 over this
# dedicated namespace: equal txids always map to the same Guid, so
# transaction grouping survives on the wire. One-way by construction
# (any 128-bit digest of an arbitrary string is), which the decode
# docstring states.
TXID_GUID_NAMESPACE = uuid.uuid5(uuid.NAMESPACE_URL, "mypipe-spark:txid")


def txid_to_guid(txid, strict: bool = False) -> uuid.UUID:
    """txid string → the fixed-16 Guid written on the avro_ref wire.

    A string that parses as a UUID rides verbatim (bit-identical to the
    reference's Guid for its UUID-shaped XIDs). Anything else — GTID
    "uuid:interval" forms, numeric txIds — maps to
    ``uuid5(TXID_GUID_NAMESPACE, txid)`` unless ``strict`` is set, in
    which case it raises ValueError (→ serialize_failure dead-letter),
    the pre-round-6 behavior for exact reference-parity pipelines that
    would rather divert than rewrite a txid."""
    s = str(txid)
    try:
        return uuid.UUID(s)
    except ValueError:
        if strict:
            raise
        return uuid.uuid5(TXID_GUID_NAMESPACE, s)


def encode_reference_record(op: str, rec: dict, strict_txid: bool = False) -> bytes:
    """Encode against the REFERENCE's mutations.avsc record for
    ``op``: Insert/DeleteMutation carry the plain maps, UpdateMutation
    the old_/new_ pairs; txid rides as a ["null", Guid fixed-16].
    UUID-shaped txids encode verbatim; other txid strings (Debezium
    GTIDs, numeric txIds) go through :func:`txid_to_guid`'s
    deterministic uuid5 mapping — or, under ``strict_txid``, raise and
    dead-letter. Header strings are non-nullable in the reference
    schema — absent values encode as empty strings, tableId as 0 (the
    reference builds these from live metadata, so they are always
    present on its side)."""
    buf = bytearray()
    _write_string(buf, rec.get("database") or "")
    _write_string(buf, rec.get("table") or "")
    _write_varint(buf, int(rec.get("tableId") or 0))
    txid = rec.get("txid")
    if _is_null(txid):
        _write_varint(buf, 0)
    else:
        _write_varint(buf, 1)
        buf += txid_to_guid(txid, strict=strict_txid).bytes  # fixed(16): raw
    maps = _REF_UPDATE_MAPS if op == "update" else _REF_PLAIN_MAPS
    for name, kind in maps:
        v = rec.get(name)
        _write_map(buf, None if _is_null(v) else v, kind)
    return bytes(buf)


def decode_reference_record(op: str, b: bytes) -> dict:
    """Inverse of :func:`encode_reference_record`. The txid decodes to
    the Guid's canonical UUID string — for a UUID-shaped writer txid
    that is the original value; for a uuid5-mapped GTID/numeric txid it
    is the mapped Guid (the fixed-16 wire field cannot carry the
    original string back — grouping keys stay equal, the spelling does
    not)."""
    r = _Reader(b)
    out: dict = {
        "database": r.string(),
        "table": r.string(),
        "tableId": _checked_int(r.varint(), "long"),
    }
    idx = r.varint()
    if idx == 0:
        out["txid"] = None
    elif idx == 1:
        out["txid"] = str(uuid.UUID(bytes=r.raw(16)))
    else:
        raise ValueError(f"bad union index {idx} for txid")
    maps = _REF_UPDATE_MAPS if op == "update" else _REF_PLAIN_MAPS
    for name, kind in maps:
        out[name] = _read_map(r, kind)
    if r.i != len(b):
        raise ValueError("trailing bytes after record")
    # lift to the envelope struct shape (absent maps stay None)
    for name, _ in ENVELOPE_FIELDS[4:]:
        out.setdefault(name, None)
    return out


# ---------------------------------------------------------------------------
# Arrow-batched column expressions
# ---------------------------------------------------------------------------

_FIELD_NAMES = [n for n, _ in ENVELOPE_FIELDS]


def _rec_from_row(args: tuple) -> dict:
    return dict(zip(_FIELD_NAMES, args))


def _none_row() -> dict:
    return dict.fromkeys(_FIELD_NAMES)


def _encode_series(op_s, cols, encoder) -> pd.Series:
    out = []
    for vals in zip(op_s, *cols):
        rec = _rec_from_row(vals[1:])
        try:
            out.append(encoder(vals[0], rec))
        except Exception:
            out.append(None)  # encode-side divert, not a query kill
    return pd.Series(out, dtype=object)


def _decode_frame(payload_s: pd.Series, op_s, decoder) -> pd.DataFrame:
    rows = []
    for b, op in zip(payload_s, op_s):
        if b is None:
            rows.append(_none_row())
            continue
        try:
            rows.append(decoder(op, bytes(b)))
        except Exception:
            rows.append(_none_row())  # PERMISSIVE: classify, don't kill
    # dtype=object: a None anywhere in an integer column would
    # otherwise infer float64 and corrupt int64 values above 2^53
    # before the Arrow conversion sees them
    return pd.DataFrame(rows, columns=_FIELD_NAMES, dtype=object)


# pandas_udf parses its return-type DDL against the ACTIVE session, so
# the UDF objects are built lazily on first use (module import must not
# require a SparkSession) and cached for the process (the UDF wrapper
# is session-independent once constructed).
#
# Every codec UDF is marked asNondeterministic: an optimizer fence, not
# a semantics change. The functions ARE pure, but the optimizer
# duplicates a deterministic UDF everywhere its output column is
# referenced (filter + projection + CASE arms), so a dead-letter branch
# would plan one ArrowEvalPython node — one JVM↔Python round trip per
# batch — per reference. Fenced, each codec call plans exactly once.
_UDFS: dict[str, object] = {}


def _udf(name: str):
    if name in _UDFS:
        return _UDFS[name]

    def enc_ref(op_s: pd.Series, *cols: pd.Series) -> pd.Series:
        return _encode_series(op_s, cols, encode_reference_record)

    def enc_ref_strict(op_s: pd.Series, *cols: pd.Series) -> pd.Series:
        return _encode_series(
            op_s, cols, lambda op, rec: encode_reference_record(op, rec, strict_txid=True)
        )

    def dec_ref(payload_s: pd.Series, op_s: pd.Series) -> pd.DataFrame:
        return _decode_frame(payload_s, op_s, decode_reference_record)

    _UDFS["enc_ref"] = pandas_udf("binary")(enc_ref).asNondeterministic()
    _UDFS["enc_ref_strict"] = (
        pandas_udf("binary")(enc_ref_strict).asNondeterministic()
    )
    _UDFS["dec_ref"] = pandas_udf(ENVELOPE_DDL)(dec_ref).asNondeterministic()
    return _UDFS[name]


def _struct_cols(payload: Column) -> list[Column]:
    """Extract the envelope fields for the encode UDFs. ``tableId``
    crosses the Arrow boundary as a STRING: a nullable bigint series
    becomes float64 in pandas, and int(float) silently corrupts values
    above 2^53 — parsing the decimal string keeps full 64-bit
    precision (int('…') in the writer)."""
    return [
        payload.getField(n).cast("string") if n == "tableId"
        else payload.getField(n)
        for n in _FIELD_NAMES
    ]


def avro_encode_expr(
    payload: Column, op: Column, strict_txid: bool = False
) -> Column:
    """``payload`` struct → the reference's per-op mutations.avsc
    record body. ``strict_txid`` dead-letters rows whose txid is not
    UUID-shaped instead of uuid5-mapping them — see
    :func:`txid_to_guid`."""
    return _udf("enc_ref_strict" if strict_txid else "enc_ref")(
        op, *_struct_cols(payload)
    )


def avro_decode_expr(payload_bytes: Column, op: Column) -> Column:
    """mutations.avsc record body → envelope struct (the
    model.ENVELOPE_DDL column shape). Malformed bodies decode to an
    all-null struct — the PERMISSIVE behavior frame_dead_letter_split
    classifies on."""
    return _udf("dec_ref")(payload_bytes, op)


# ---------------------------------------------------------------------------
# SPECIFIC (per-table) records — KafkaSpecificAvroSerializer.scala:40-61
# ---------------------------------------------------------------------------

# Spark type name -> avro kind handled by the primitives above
_SPARK_TO_AVRO_KIND = {
    "tinyint": "int", "smallint": "int", "int": "int", "bigint": "long",
    "string": "string", "binary": "bytes",
}


def specific_fields(table_schema) -> list[tuple[str, str]]:
    """A StructType → ordered (column, avro-kind) list for the
    specific record body. Columns whose Spark type has no Avro
    primitive here (timestamps/decimals/doubles ride the maps only in
    the generic envelope) are rejected loudly — a silently dropped
    column would be a wrong wire format, not a degraded one."""
    out = []
    for f in table_schema.fields:
        if f.name.lower() in ("database", "table"):
            # the record body leads with the (database, table) header
            # at fixed positions — decode_specific_versioned's
            # cross-table guard reads them — so a table COLUMN with
            # either name would duplicate the struct field, overwrite
            # the header on decode, and silently filter the table's
            # own frames as "foreign" (round-11 review); refuse loudly
            # like the unsupported-type path below
            raise ValueError(
                f"specific avro record: column name {f.name!r} "
                "collides with the record header fields "
                "(database/table) — rename it "
                "(df.withColumnRenamed) first"
            )
        kind = _SPARK_TO_AVRO_KIND.get(f.dataType.simpleString())
        if kind is None:
            raise ValueError(
                f"specific avro record: unsupported column type "
                f"{f.dataType.simpleString()!r} for {f.name!r}"
            )
        out.append((f.name, kind))
    return out


def _column_value(rec: dict, prefix: str, name: str, kind: str):
    """Pull a column's value from the envelope's typed maps — the same
    dual-map rule as wire.specific_projection: integer kinds consult
    both integer maps (a 4-byte INT snapshot-buckets to 'integers'
    while the wire rule says LONG rides 'longs')."""
    def m(map_name):
        d = rec.get(f"{prefix}{map_name}")
        return None if d is None else d.get(name)

    if kind in ("int", "long"):
        v = m("integers")
        return m("longs") if v is None else v
    if kind == "string":
        return m("strings")
    return m("bytes")


def encode_specific_record(op: str, rec: dict, fields: list[tuple[str, str]]) -> bytes:
    """database + table + per-column values (insert/delete read the
    mutation's single image; update writes old_*/new_* pairs) — every
    column as a ["null", T] union, since this engine's table schemas
    are nullable StructTypes."""
    buf = bytearray()
    _write_string(buf, rec.get("database") or "")
    _write_string(buf, rec.get("table") or "")
    prefixes = ("old_", "new_") if op == "update" else (
        ("old_",) if op == "delete" else ("new_",)
    )
    # insert/delete payloads arrive image-normalized in the envelope's
    # PLAIN maps when coming from generic_envelope; fall back to them
    for prefix in prefixes:
        for name, kind in fields:
            v = _column_value(rec, prefix, name, kind)
            if v is None:
                v = _column_value(rec, "", name, kind)
            if _is_null(v):
                _write_varint(buf, 0)
                continue
            _write_varint(buf, 1)
            if kind in ("int", "long"):
                # range-check on ENCODE too, not just decode: an
                # out-of-width value (a long riding the dual-map
                # fallback into an 'int' column) must divert HERE as a
                # serialize_failure, not ship as a "valid" frame the
                # codec's own decoder then rejects at the consumer
                # (round-8 review)
                _write_varint(buf, _checked_int(int(v), kind))
            elif kind == "string":
                _write_string(buf, str(v))
            else:
                _write_bytes(buf, bytes(v))
    return bytes(buf)


def decode_specific_record(op: str, b: bytes, fields: list[tuple[str, str]]) -> dict:
    r = _Reader(b)
    out: dict = {"database": r.string(), "table": r.string()}
    prefixes = ("old_", "new_") if op == "update" else ("",)
    for prefix in prefixes:
        for name, kind in fields:
            idx = r.varint()
            if idx == 0:
                out[f"{prefix}{name}"] = None
                continue
            if idx != 1:
                raise ValueError(f"bad union index {idx} for {prefix}{name}")
            if kind in ("int", "long"):
                out[f"{prefix}{name}"] = _checked_int(r.varint(), kind)
            elif kind == "string":
                out[f"{prefix}{name}"] = r.string()
            else:
                out[f"{prefix}{name}"] = r.bytes_()
    if r.i != len(b):
        raise ValueError("trailing bytes after record")
    return out


def specific_encode_expr(payload: Column, op: Column, table_schema) -> Column:
    """Envelope struct + op → specific-record Avro body for
    ``table_schema``."""
    fields = specific_fields(table_schema)
    key = "spec_enc:" + repr(fields)
    if key not in _UDFS:
        def enc(op_s: pd.Series, *cols: pd.Series) -> pd.Series:
            return _encode_series(
                op_s, cols, lambda op_, rec: encode_specific_record(op_, rec, fields)
            )
        _UDFS[key] = pandas_udf("binary")(enc).asNondeterministic()
    return _UDFS[key](op, *_struct_cols(payload))


def _specific_ddl(fields: list[tuple[str, str]], op_kind: str) -> str:
    back = {"int": "int", "long": "bigint", "string": "string", "bytes": "binary"}
    cols = ["database string", "table string"]
    prefixes = ("old_", "new_") if op_kind == "update" else ("",)
    for prefix in prefixes:
        # double embedded backticks — a legal MySQL column name may
        # contain one, and unescaped it terminates the quoted DDL
        # identifier early (round-11 review)
        cols += [
            f"`{(prefix + n).replace('`', '``')}` {back[k]}"
            for n, k in fields
        ]
    return ", ".join(cols)


def specific_decode_expr(
    payload_bytes: Column, op: Column, table_schema, op_kind: str
) -> Column:
    """Specific-record Avro body → typed struct. ``op_kind`` selects
    the record layout ('update' → old_/new_ pairs, else single image);
    decode a mixed stream by filtering per op first — the reference
    consumer does the same, choosing the record class by topic+mtype
    (KafkaGenericAvroDecoder.scala analog)."""
    fields = specific_fields(table_schema)
    ddl = _specific_ddl(fields, op_kind)
    key = "spec_dec:" + op_kind + ":" + repr(fields)
    if key not in _UDFS:
        # names computed DIRECTLY, never re-parsed from the DDL string
        # (round-8 review: splitting on ', '/' ' truncated legal
        # backticked names containing spaces or commas, desyncing the
        # pandas columns from the UDF's declared struct fields)
        prefixes = ("old_", "new_") if op_kind == "update" else ("",)
        names = ["database", "table"] + [
            f"{p}{n}" for p in prefixes for n, _ in fields
        ]

        def dec(payload_s: pd.Series, op_s: pd.Series) -> pd.DataFrame:
            rows = []
            for b, op_ in zip(payload_s, op_s):
                if b is None:
                    rows.append(dict.fromkeys(names))
                    continue
                try:
                    rows.append(decode_specific_record(op_, bytes(b), fields))
                except Exception:
                    rows.append(dict.fromkeys(names))
            return pd.DataFrame(rows, columns=names, dtype=object)

        _UDFS[key] = pandas_udf(ddl)(dec).asNondeterministic()
    return _UDFS[key](payload_bytes, op)
