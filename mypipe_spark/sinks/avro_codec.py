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
  wire.encode_specific / decode_specific.

Map entries are written as one block in sorted-key order, so the bytes
are deterministic across runs; any spec-compliant reader accepts any
block layout.

The reference records are written by :func:`encode_reference_batch`,
one ``arrow_udf`` kernel that builds every body column-at-a-time with
numpy over the Arrow buffers of ``op`` and the ``payload`` struct:
each piece (header strings, tableId, txid union, each map) is one
BinaryArray for the whole batch, and Arrow joins the pieces row-wise.
:func:`encode_reference_record` is the per-row spec the kernel is
tested against. The specific encoder reads its rows from Arrow as
Python lists (no pandas step, so no float64 promotion of ints next to
a NULL); the two decoders are pandas UDFs.
"""

from __future__ import annotations

import uuid

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql.functions import arrow_udf, pandas_udf

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


def _decode_rows(payload_s: pd.Series, op_s, decoder, names: list[str]) -> pd.DataFrame:
    """``decoder(op, body)`` over every row, PERMISSIVE: a NULL or
    undecodable body becomes an all-NULL row (classify, don't kill)."""
    rows = []
    for b, op in zip(payload_s, op_s):
        if b is None:
            rows.append(dict.fromkeys(names))
            continue
        try:
            rows.append(decoder(op, bytes(b)))
        except Exception:
            rows.append(dict.fromkeys(names))
    # dtype=object: a None anywhere in an integer column would
    # otherwise infer float64 and corrupt int64 values above 2^53
    # before the Arrow conversion sees them
    return pd.DataFrame(rows, columns=names, dtype=object)


# The UDFs parse their return-type DDL against the ACTIVE session, so
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

    def enc_ref(op: pa.Array, payload: pa.Array) -> pa.Array:
        return encode_reference_batch(op, payload)

    def enc_ref_strict(op: pa.Array, payload: pa.Array) -> pa.Array:
        return encode_reference_batch(op, payload, strict_txid=True)

    def dec_ref(payload_s: pd.Series, op_s: pd.Series) -> pd.DataFrame:
        return _decode_rows(payload_s, op_s, decode_reference_record, _FIELD_NAMES)

    _UDFS["enc_ref"] = arrow_udf("binary")(enc_ref).asNondeterministic()
    _UDFS["enc_ref_strict"] = (
        arrow_udf("binary")(enc_ref_strict).asNondeterministic()
    )
    _UDFS["dec_ref"] = pandas_udf(ENVELOPE_DDL)(dec_ref).asNondeterministic()
    return _UDFS[name]


def avro_encode_expr(
    payload: Column, op: Column, strict_txid: bool = False
) -> Column:
    """``payload`` struct → the reference's per-op mutations.avsc
    record body. ``strict_txid`` dead-letters rows whose txid is not
    UUID-shaped instead of uuid5-mapping them — see
    :func:`txid_to_guid`."""
    return _udf("enc_ref_strict" if strict_txid else "enc_ref")(op, payload)


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
        # to_pylist keeps every int a Python int (no float promotion
        # next to a NULL); maps arrive as (key, value) pair lists
        def enc(op_a: pa.Array, payload_a: pa.Array) -> pa.Array:
            out = []
            for op_, rec in zip(op_a.to_pylist(), payload_a.to_pylist()):
                rec = {
                    k: dict(v) if isinstance(v, list) else v
                    for k, v in (rec or {}).items()
                }
                try:
                    out.append(encode_specific_record(op_, rec, fields))
                except Exception:
                    out.append(None)  # encode-side divert, not a query kill
            return pa.array(out, pa.binary())

        _UDFS[key] = arrow_udf("binary")(enc).asNondeterministic()
    return _UDFS[key](op, payload)


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

        def decode(op_: str, b: bytes) -> dict:
            return decode_specific_record(op_, b, fields)

        def dec(payload_s: pd.Series, op_s: pd.Series) -> pd.DataFrame:
            return _decode_rows(payload_s, op_s, decode, names)

        _UDFS[key] = pandas_udf(ddl)(dec).asNondeterministic()
    return _UDFS[key](payload_bytes, op)
