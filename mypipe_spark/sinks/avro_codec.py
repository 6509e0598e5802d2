"""Avro binary codec for the wire bodies.

The reference's wire payload IS Avro (KafkaAvroSerializer.scala:189-201
serializes mutations.avsc records). This module implements the Avro
1.12 BINARY encoding by hand — the spec's primitives are zigzag
varints, length-prefixed byte strings, block-framed maps and union
indices — and exposes it as Spark UDFs, so no spark-avro jar is
needed. Two record families:

- the REFERENCE's per-op generic records (mutations.avsc:10-148:
  InsertMutation/DeleteMutation with 8 fields, UpdateMutation with 12,
  txid as a ["null", fixed(16)] Guid) — the ``codec="avro_ref"`` body
  of sinks/wire.py, the reference-topic interop format;
- per-table SPECIFIC records (``specific_*`` below) for
  wire.encode_specific / decode_specific. The encoder reads no typed
  map: it writes the already-typed column values that wire.py reads
  by wire.specific_projection's column rule, the one place that rule
  is stated, and only range-checks ints.

Map entries are written as one block in sorted-key order, so the bytes
are deterministic across runs; any spec-compliant reader accepts any
block layout.

The reference records are written by :func:`encode_reference_batch`,
one ``arrow_udf`` kernel that builds every body column-at-a-time with
numpy over the Arrow buffers of ``op`` and the ``payload`` struct:
each piece (header strings, tableId, txid union, each map) is one
BinaryArray for the whole batch, and Arrow joins the pieces row-wise.
:func:`encode_reference_record` is the per-row spec the kernel is
tested against. The other three codecs (the reference-record decoder
and the specific encoder and decoder) run once per row through one
permissive ``arrow_udf`` adapter, :func:`_per_row`, which reads its
rows from Arrow as Python lists (no pandas step, so no float64
promotion of ints next to a NULL).
"""

from __future__ import annotations

import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    BinaryType,
    DataType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

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


# value kinds a map or a specific-record column may hold
_WRITERS = {
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
    write_v = _WRITERS[vkind]
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


def _read_value(r: _Reader, kind: str):
    """One value of a ``_WRITERS`` kind, ints range-checked."""
    if kind in ("int", "long"):
        return _checked_int(r.varint(), kind)
    return r.string() if kind == "string" else r.bytes_()


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
            out[k] = _read_value(r, vkind)


# ---------------------------------------------------------------------------
# record specs
# ---------------------------------------------------------------------------

# the envelope field spec comes from the canonical declaration in
# model.py
from ..model import (  # noqa: E402
    ENVELOPE_FIELDS,
    ENVELOPE_TYPE,
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
    for exact reference-parity pipelines that would rather divert than
    rewrite a txid."""
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
    if txid is None:
        _write_varint(buf, 0)
    else:
        _write_varint(buf, 1)
        buf += txid_to_guid(txid, strict=strict_txid).bytes  # fixed(16): raw
    maps = _REF_UPDATE_MAPS if op == "update" else _REF_PLAIN_MAPS
    for name, kind in maps:
        v = rec.get(name)
        _write_map(buf, v, kind)
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
# column-at-a-time reference-record encoder (Arrow buffers in, Arrow out)
# ---------------------------------------------------------------------------
#
# Every body is the concatenation of per-row byte pieces — header
# strings, tableId, txid union, then the op's maps — so each piece is
# built for the whole batch as one BinaryArray (numpy over the Arrow
# buffers) and the pieces are joined row-wise by one Arrow kernel.
# encode_reference_record above is the per-row spec it must equal.

_FIELD_NAMES = [n for n, _ in ENVELOPE_FIELDS]
_EMPTY = pa.scalar(b"", pa.binary())
_VARINT_STEPS = np.array([1 << (7 * k) for k in range(1, 10)], dtype=np.uint64)


def _zigzag_np(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64, copy=False)
    return ((v << 1) ^ (v >> 63)).view(np.uint64)


def _varints(z: np.ndarray, present: np.ndarray | None = None) -> pa.Array:
    """Already-zigzagged uint64 values → one varint per element; an
    element whose ``present`` is False is empty (zero bytes)."""
    nb = np.ones(len(z), dtype=np.int64)
    for step in _VARINT_STEPS:  # most values fit one byte: stop early
        wider = z >= step
        if not wider.any():
            break
        nb += wider
    width = int(nb.max(initial=1))
    grid = np.empty((len(z), width), dtype=np.uint8)
    for j in range(width):
        grid[:, j] = (z >> np.uint64(7 * j)) & np.uint64(0x7F)
        grid[:, j] |= (nb > j + 1).view(np.uint8) << 7
    if present is not None:
        nb = np.where(present, nb, 0)
    data = grid.ravel() if width == 1 and present is None else grid[
        np.arange(width) < nb[:, None]
    ]
    offsets = np.zeros(len(z) + 1, dtype=np.int32)
    np.cumsum(nb, out=offsets[1:])
    return pa.BinaryArray.from_buffers(
        pa.binary(), len(z), [None, pa.py_buffer(offsets), pa.py_buffer(data)]
    )


def _join(*pieces: pa.Array) -> pa.Array:
    """Row-wise concatenation; a NULL piece makes the row NULL."""
    return pc.binary_join_element_wise(*pieces, _EMPTY)


def _prefixed(b: pa.Array) -> pa.Array:
    """Non-null string/bytes column → Avro length-prefixed bytes."""
    b = b.cast(pa.binary())
    return _join(_varints(_zigzag_np(pc.binary_length(b).to_numpy())), b)


def _map_piece(m: pa.Array, kind: str, active: np.ndarray) -> pa.Array:
    """One map field of the record for every row: the ``_write_map``
    bytes (NULL values dropped, keys in sorted order, one count block,
    the 0 terminator) where ``active``, zero bytes elsewhere. Arrow
    sorts strings by UTF-8 bytes, which is Python's code-point order."""
    n = len(m)
    live = active & m.is_valid().to_numpy(zero_copy_only=False)
    terminator = _varints(np.zeros(n, dtype=np.uint64), active)
    offs = m.offsets.to_numpy()  # absolute positions in m.keys/m.items
    lo, hi = int(offs[0]), int(offs[-1])
    rows = np.repeat(np.arange(n), np.diff(offs))
    items = m.items.slice(lo, hi - lo)
    keep = live[rows] & items.is_valid().to_numpy(zero_copy_only=False)
    if not keep.any():
        return terminator
    idx = np.flatnonzero(keep)
    keys = m.keys.slice(lo, hi - lo).take(idx)
    order = pc.sort_indices(
        pa.table({"r": rows[idx], "k": keys}),
        sort_keys=[("r", "ascending"), ("k", "ascending")],
    ).to_numpy()
    idx = idx[order]
    keys, rows, values = keys.take(order), rows[idx], items.take(idx)
    if kind in ("int", "long"):
        vpiece = _varints(_zigzag_np(values.to_numpy()))
    else:
        vpiece = _prefixed(values)
    counts = np.bincount(rows, minlength=n)
    list_offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(counts, out=list_offsets[1:])
    entries = pc.binary_join(
        pa.ListArray.from_arrays(pa.array(list_offsets), _join(_prefixed(keys), vpiece)),
        _EMPTY,
    )
    # a block count is a zigzagged long: 2 * count for count >= 0
    header = _varints(counts.astype(np.uint64) * np.uint64(2), counts > 0)
    return _join(header, entries, terminator)


def _txid_piece(txid: pa.Array, strict_txid: bool) -> pa.Array:
    """The ["null", Guid] union per row; :func:`txid_to_guid` runs once
    per distinct txid, and a txid it refuses gives a NULL piece."""
    enc = pc.dictionary_encode(txid)
    guids = []
    for s in enc.dictionary.to_pylist():
        try:
            guids.append(b"\x02" + txid_to_guid(s, strict=strict_txid).bytes)
        except ValueError:
            guids.append(None)
    piece = pa.array(guids, pa.binary()).take(enc.indices)
    return pc.if_else(pc.is_null(txid), pa.scalar(b"\x00", pa.binary()), piece)


def encode_reference_batch(
    op: pa.Array, payload: pa.StructArray, strict_txid: bool = False
) -> pa.Array:
    """Column-at-a-time :func:`encode_reference_record`: ``op`` strings
    and ``payload`` envelope structs → one body per row, byte-equal to
    the per-row function, NULL where it would raise (a non-UUID txid
    under ``strict_txid``)."""
    f = dict(zip(_FIELD_NAMES, payload.flatten()))
    is_upd = pc.fill_null(pc.equal(op, "update"), False).to_numpy(zero_copy_only=False)
    pieces = [
        _prefixed(pc.fill_null(f["database"], "")),
        _prefixed(pc.fill_null(f["table"], "")),
        _varints(_zigzag_np(pc.fill_null(f["tableId"], 0).to_numpy())),
        _txid_piece(f["txid"], strict_txid),
    ]
    for maps, active in ((_REF_PLAIN_MAPS, ~is_upd), (_REF_UPDATE_MAPS, is_upd)):
        pieces += [_map_piece(f[name], kind, active) for name, kind in maps]
    return _join(*pieces)


# ---------------------------------------------------------------------------
# Arrow-batched column expressions
# ---------------------------------------------------------------------------
#
# Every codec UDF is marked asNondeterministic: an optimizer fence, not
# a semantics change. The functions ARE pure, but the optimizer
# duplicates a deterministic UDF everywhere its output column is
# referenced (filter + projection + CASE arms), so a dead-letter branch
# would plan one ArrowEvalPython node — one JVM↔Python round trip per
# batch — per reference. Fenced, each codec call plans exactly once.


def _per_row(fn, rtype: DataType):
    """``fn`` once per row as an ``arrow_udf`` named after ``fn``,
    PERMISSIVE: a row whose ``fn`` raises (a NULL or undecodable body,
    a value the codec refuses) gives NULL, or an all-NULL struct when
    ``rtype`` is a struct (classify, don't kill). ``to_pylist`` keeps
    every int a Python int and gives maps as (key, value) pair lists."""
    atype = to_arrow_type(rtype)
    failed = dict.fromkeys(rtype.names) if isinstance(rtype, StructType) else None

    def rows(*cols: pa.Array) -> pa.Array:
        out = []
        for args in zip(*(c.to_pylist() for c in cols)):
            try:
                out.append(fn(*args))
            except Exception:
                out.append(failed)
        return pa.array(out, atype)

    rows.__name__ = fn.__name__
    return arrow_udf(rtype)(rows).asNondeterministic()


def enc_ref(op: pa.Array, payload: pa.Array) -> pa.Array:
    return encode_reference_batch(op, payload)


def enc_ref_strict(op: pa.Array, payload: pa.Array) -> pa.Array:
    return encode_reference_batch(op, payload, strict_txid=True)


# each name is rebound to its UDF, which prints the name in the plan
enc_ref = arrow_udf(BinaryType())(enc_ref).asNondeterministic()
enc_ref_strict = arrow_udf(BinaryType())(enc_ref_strict).asNondeterministic()
dec_ref = _per_row(decode_reference_record, ENVELOPE_TYPE)


def avro_encode_expr(
    payload: Column, op: Column, strict_txid: bool = False
) -> Column:
    """``payload`` struct → the reference's per-op mutations.avsc
    record body. ``strict_txid`` dead-letters rows whose txid is not
    UUID-shaped instead of uuid5-mapping them — see
    :func:`txid_to_guid`."""
    return (enc_ref_strict if strict_txid else enc_ref)(op, payload)


def avro_decode_expr(payload_bytes: Column, op: Column) -> Column:
    """mutations.avsc record body → envelope struct (the
    model.ENVELOPE_TYPE column shape). Malformed bodies decode to an
    all-null struct — the PERMISSIVE behavior frame_dead_letter_split
    classifies on."""
    return dec_ref(op, payload_bytes)


# ---------------------------------------------------------------------------
# SPECIFIC (per-table) records — KafkaSpecificAvroSerializer.scala:40-61
# ---------------------------------------------------------------------------

# Spark type name -> avro kind handled by the primitives above
_SPARK_TO_AVRO_KIND = {
    "tinyint": "int", "smallint": "int", "int": "int", "bigint": "long",
    "string": "string", "binary": "bytes",
}
# avro kind -> the Spark type it decodes to
_AVRO_KIND_TYPE = {
    "int": IntegerType(), "long": LongType(), "string": StringType(), "bytes": BinaryType(),
}


def check_column_names(table_schema, header: tuple[str, ...]) -> None:
    """Raise ValueError for a column of ``table_schema`` named, in any
    case (Spark resolves names case-insensitively), like one of the
    ``header`` fields that precede the table's columns in a record or
    projection: the name would be ambiguous there, or would overwrite
    the header."""
    taken = {h.lower() for h in header}
    for f in table_schema.fields:
        if f.name.lower() in taken:
            raise ValueError(
                f"column name {f.name!r} collides with the header fields "
                f"({'/'.join(header)}) — rename it (df.withColumnRenamed) first"
            )


def specific_fields(table_schema) -> list[tuple[str, str]]:
    """A StructType → ordered (column, avro-kind) list for the
    specific record body. Columns whose Spark type has no Avro
    primitive here (timestamps/decimals/doubles ride the maps only in
    the generic envelope) are rejected loudly — a silently dropped
    column would be a wrong wire format, not a degraded one — and so
    are columns named like the (database, table) header, which
    decode_specific_versioned's cross-table guard reads."""
    check_column_names(table_schema, ("database", "table"))
    out = []
    for f in table_schema.fields:
        kind = _SPARK_TO_AVRO_KIND.get(f.dataType.simpleString())
        if kind is None:
            raise ValueError(
                f"specific avro record: unsupported column type "
                f"{f.dataType.simpleString()!r} for {f.name!r}"
            )
        out.append((f.name, kind))
    return out


# the image(s) each op's record carries, in body order
_IMAGES = {"insert": ("new",), "delete": ("old",), "update": ("old", "new")}


def _prefixes(which: str) -> tuple[str, ...]:
    """Decoded column-name prefixes: ``old_``/``new_`` for an update
    body, none for a single-image (insert/delete) body."""
    return tuple(f"{i}_" for i in _IMAGES["update"]) if which == "update" else ("",)


def encode_specific_record(op: str, rec: dict, fields: list[tuple[str, str]]) -> bytes:
    """database + table + the column values of ``op``'s image(s)
    (``rec["old"]``/``rec["new"]``, already typed: ints as ints) —
    every column as a ["null", T] union, since this engine's table
    schemas are nullable StructTypes. An int beyond its column's Avro
    width raises, so it diverts here as a serialize_failure instead
    of shipping a frame the decoder then rejects."""
    buf = bytearray()
    _write_string(buf, rec.get("database") or "")
    _write_string(buf, rec.get("table") or "")
    for image in _IMAGES[op]:
        for name, kind in fields:
            v = rec[image][name]
            if v is None:
                _write_varint(buf, 0)
                continue
            _write_varint(buf, 1)
            _WRITERS[kind](buf, _checked_int(v, kind) if kind in _INT_RANGES else v)
    return bytes(buf)


def decode_specific_record(b: bytes, fields: list[tuple[str, str]], which: str) -> dict:
    r = _Reader(b)
    out: dict = {"database": r.string(), "table": r.string()}
    for prefix in _prefixes(which):
        for name, kind in fields:
            idx = r.varint()
            if idx not in (0, 1):
                raise ValueError(f"bad union index {idx} for {prefix}{name}")
            out[f"{prefix}{name}"] = _read_value(r, kind) if idx else None
    if r.i != len(b):
        raise ValueError("trailing bytes after record")
    return out


def specific_encode_expr(record: Column, op: Column, table_schema) -> Column:
    """``record`` struct ``(database, table, old, new)``, each image a
    struct of ``table_schema``'s typed columns, + op → specific-record
    Avro body; NULL where the record cannot be encoded (an encode-side
    divert, not a query kill)."""
    fields = specific_fields(table_schema)

    def encode_specific(op_: str, rec: dict) -> bytes:
        return encode_specific_record(op_, rec, fields)

    return _per_row(encode_specific, BinaryType())(op, record)


def specific_decode_expr(payload_bytes: Column, table_schema, which: str) -> Column:
    """Specific-record Avro body → typed struct. ``which`` selects the
    record layout ('update' → old_/new_ pairs, else single image);
    decode a mixed stream by filtering per op first — the reference
    consumer does the same, choosing the record class by topic+mtype
    (KafkaGenericAvroDecoder.scala analog)."""
    fields = specific_fields(table_schema)
    rtype = StructType(
        [StructField("database", StringType()), StructField("table", StringType())]
        + [StructField(p + n, _AVRO_KIND_TYPE[k]) for p in _prefixes(which) for n, k in fields]
    )

    def decode_specific(b: bytes) -> dict:
        return decode_specific_record(b, fields, which)

    return _per_row(decode_specific, rtype)(payload_bytes)
