"""Property-based tests (hypothesis) for the pure-Python kernels —
the reference has none (SURVEY.md §5: no property-based tests); the
rebuild adds them where invariants are crisp and execution is cheap
(no SparkSession involved)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from mypipe_spark.changelog import ChangeLogGenerator
from mypipe_spark.sources.snapshot import integer_splits
from mypipe_spark.streaming.alter import alter_target, evolve_schema

bounds = st.integers(min_value=-(10**12), max_value=10**12)


@settings(max_examples=200)
@given(lo=bounds, hi=bounds, n=st.integers(min_value=1, max_value=64))
def test_integer_splits_partition_the_range(lo, hi, n):
    if lo > hi:
        lo, hi = hi, lo
    splits = integer_splits(lo, hi, n)
    # contiguous, ordered, non-overlapping, covering [lo, hi]
    assert splits[0].lo == lo
    assert splits[-1].hi is None
    for a, b in zip(splits, splits[1:]):
        assert a.hi == b.lo
        assert a.lo < a.hi
    assert len(splits) <= n
    # sizes differ by at most 1 (even distribution)
    sizes = [
        (s.hi if s.hi is not None else hi + 1) - s.lo for s in splits
    ]
    assert max(sizes) - min(sizes) <= 1


ident = st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True)


@settings(max_examples=100)
@given(db=ident, table=ident, col=ident)
def test_alter_add_then_drop_is_identity(db, table, col):
    base = StructType([StructField("id", IntegerType(), True)])
    add = f"ALTER TABLE {db}.{table} ADD COLUMN {col} varchar(64)"
    drop = f"ALTER TABLE {db}.{table} DROP COLUMN {col}"
    evolved = evolve_schema(base, add)
    if col == "id":  # add of an existing column is a no-op
        assert evolved == base
    else:
        assert evolved.fieldNames() == ["id", col]
        assert isinstance(evolved[col].dataType, StringType)
        assert evolve_schema(evolved, drop) == base
    assert alter_target(add) == (db, table)


@settings(max_examples=50)
@given(
    seed=st.integers(min_value=0, max_value=2**31),
    n=st.integers(min_value=1, max_value=30),
    rb=st.floats(min_value=0.0, max_value=1.0),
)
def test_changelog_generator_invariants(seed, n, rb):
    gen = ChangeLogGenerator(seed=seed, rollback_prob=rb)
    events = gen.generate(n)
    # seq strictly increasing; ts monotone with seq
    seqs = [e["seq"] for e in events]
    assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)
    # every tx is a well-formed BEGIN [mutations]+ (COMMIT|ROLLBACK)
    open_tx = None
    saw_mutation = False
    for e in events:
        if e["op"] == "begin":
            assert open_tx is None
            open_tx, saw_mutation = e["txid"], False
        elif e["op"] in ("commit", "rollback"):
            assert e["txid"] == open_tx and saw_mutation
            open_tx = None
        elif e["op"] in ("insert", "update", "delete"):
            assert e["txid"] == open_tx
            saw_mutation = True
            # images consistent with op
            if e["op"] == "insert":
                assert e["new_integers"] and e["old_integers"] is None
            elif e["op"] == "delete":
                assert e["old_integers"] and e["new_integers"] is None
            else:
                assert e["old_integers"] and e["new_integers"]
    assert open_tx is None


@settings(max_examples=200)
@given(
    ts=st.integers(min_value=0, max_value=10**9),
    start=st.integers(min_value=0, max_value=10**9),
    length=st.integers(min_value=1, max_value=10**6),
    bucket=st.integers(min_value=1, max_value=10**5),
)
def test_range_join_bucketing_never_misses(ts, start, length, bucket):
    """Completeness invariant of operators.asof.range_join: whenever a
    point falls inside an interval, the point's bucket is inside the
    interval's exploded bucket range — so the bucket equi-join can
    only ever ADD candidates (removed by the residual filter), never
    lose a true match."""
    end = start + length
    in_range = start <= ts < end
    point_bucket = ts // bucket
    lo, hi = start // bucket, end // bucket
    if in_range:
        assert lo <= point_bucket <= hi


# ---------------------------------------------------------------------------
# Avro binary codec properties (pure Python — no Spark needed)
# ---------------------------------------------------------------------------

_keys = st.text(min_size=0, max_size=8)
_i32 = st.integers(min_value=-(2**31), max_value=2**31 - 1)
_i64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)


def _maps(values):
    return st.none() | st.dictionaries(_keys, values, max_size=5)


_envelope = st.fixed_dictionaries(
    {
        "database": st.none() | st.text(max_size=12),
        "table": st.none() | st.text(max_size=12),
        "tableId": st.none() | _i64,
        "txid": st.none() | st.uuids().map(str),
        **{
            f"{p}{n}": _maps(v)
            for p in ("", "old_", "new_")
            for n, v in (
                ("bytes", st.binary(max_size=16)),
                ("integers", _i32),
                ("strings", st.text(max_size=16)),
                ("longs", _i64),
            )
        },
    }
)


@settings(max_examples=200, deadline=None)
@given(_envelope, st.sampled_from(["insert", "update", "delete"]))
def test_avro_reference_record_roundtrip(rec, op):
    """Reference-record round-trip: the per-op mutations.avsc layout
    carries exactly the op's image maps (plain for insert/delete,
    old_/new_ for update); header strings are non-nullable (absent →
    ''), tableId defaults to 0, the Guid txid survives, and maps come
    back as written (None → empty map — the reference schema has no
    null maps)."""
    from mypipe_spark.sinks.avro_codec import (
        decode_reference_record,
        encode_reference_record,
    )

    out = decode_reference_record(op, encode_reference_record(op, rec))
    assert out["database"] == (rec["database"] or "")
    assert out["table"] == (rec["table"] or "")
    assert out["tableId"] == (rec["tableId"] or 0)
    assert out["txid"] == rec["txid"]
    names = (
        ("old_bytes", "old_integers", "old_strings", "old_longs",
         "new_bytes", "new_integers", "new_strings", "new_longs")
        if op == "update"
        else ("bytes", "integers", "strings", "longs")
    )
    for n in names:
        assert out[n] == (rec[n] or {}), n


def _spell_txid(u, upper: list, hyphens: set) -> str:
    digits = iter(c.upper() if up else c for c, up in zip(u.hex, upper))
    return "".join("-" if i in hyphens else next(digits) for i in range(36))


# txid shapes the fixed-16 Guid meets: canonical and other spellings
# uuid.UUID accepts, MySQL GTIDs, numeric txIds, the empty string
_txids = (
    st.none()
    | st.sampled_from(["", "12345", "3E11FA47-71CA-11E1-9E33-C80AA9429562:23"])
    | st.uuids().flatmap(
        lambda u: st.sampled_from(
            [str(u), str(u).upper(), "{%s}" % u, "urn:uuid:%s" % u, u.hex]
        )
    )
    # 36 characters: canonical in mixed case, or four hyphens elsewhere
    # (uuid.UUID strips hyphens wherever they stand)
    | st.builds(
        _spell_txid,
        st.uuids(),
        st.lists(st.booleans(), min_size=32, max_size=32),
        st.just({8, 13, 18, 23}) | st.sets(st.integers(0, 35), min_size=4, max_size=4),
    )
    | st.text(max_size=12)
)


@st.composite
def _batch_row(draw):
    """(op, envelope or None) with NULL values inside some maps."""
    rec = draw(st.none() | _envelope)
    if rec is not None:
        rec = dict(rec, txid=draw(_txids))
        for name, v in rec.items():
            if isinstance(v, dict) and draw(st.booleans()):
                rec[name] = {**v, draw(_keys): None}
    return draw(st.sampled_from([None, "insert", "update", "delete"])), rec


@settings(max_examples=200, deadline=None)
@given(st.lists(_batch_row(), max_size=12), st.integers(min_value=0, max_value=3))
def test_avro_reference_batch_equals_per_row_spec(rows, skip):
    """The column-at-a-time encoder equals encode_reference_record on
    every row — NULL where the spec raises — in both strict modes, on
    arrays sliced to a non-zero offset."""
    import pyarrow as pa

    from mypipe_spark.model import ENVELOPE_FIELDS
    from mypipe_spark.sinks.avro_codec import (
        encode_reference_batch,
        encode_reference_record,
    )

    value_type = {
        "string": pa.string(), "long": pa.int64(), "map_bytes": pa.binary(),
        "map_int": pa.int32(), "map_string": pa.string(), "map_long": pa.int64(),
    }
    payload_type = pa.struct([
        (n, pa.map_(pa.string(), value_type[k]) if k.startswith("map_") else value_type[k])
        for n, k in ENVELOPE_FIELDS
    ])
    padded = [("update", None)] * skip + rows
    ops = pa.array([op for op, _ in padded], pa.string()).slice(skip)
    payload = pa.array(
        [
            None if rec is None
            else {k: list(v.items()) if isinstance(v, dict) else v for k, v in rec.items()}
            for _, rec in padded
        ],
        payload_type,
    ).slice(skip)
    for strict in (False, True):
        want = []
        for op, rec in rows:
            try:
                want.append(encode_reference_record(op, rec or {}, strict))
            except ValueError:
                want.append(None)
        assert encode_reference_batch(ops, payload, strict).to_pylist() == want


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=64))
def test_avro_decoder_never_hangs_or_overallocates_on_garbage(b):
    """Arbitrary bytes must either decode or raise ValueError — never
    hang, never allocate unboundedly from a huge length varint, never
    raise anything a caller would not catch."""
    from mypipe_spark.sinks.avro_codec import decode_reference_record

    for dec in (
        lambda x: decode_reference_record("insert", x),
        lambda x: decode_reference_record("update", x),
    ):
        try:
            dec(b)
        except (ValueError, UnicodeDecodeError):
            pass


_image = st.fixed_dictionaries(
    {
        "c_int": st.none() | _i32,
        "c_long": st.none() | _i64,
        "c_str": st.none() | st.text(max_size=12),
        "c_bin": st.none() | st.binary(max_size=8),
    }
)


@settings(max_examples=150, deadline=None)
@given(
    st.fixed_dictionaries(
        {
            "database": st.text(max_size=8),
            "table": st.text(max_size=8),
            "old": _image,
            "new": _image,
        }
    ),
    st.sampled_from(["insert", "update", "delete"]),
)
def test_specific_record_roundtrip(rec, op):
    """Per-table record round-trip over typed images: for every op the
    decoded columns equal the image(s) the op's record carries —
    insert the new image, delete the old one, update old_/new_ pairs."""
    from mypipe_spark.sinks.avro_codec import (
        decode_specific_record,
        encode_specific_record,
        specific_fields,
    )
    from pyspark.sql.types import BinaryType, LongType

    schema = StructType(
        [
            StructField("c_int", IntegerType()),
            StructField("c_long", LongType()),
            StructField("c_str", StringType()),
            StructField("c_bin", BinaryType()),
        ]
    )
    fields = specific_fields(schema)
    which = "update" if op == "update" else "single"
    out = decode_specific_record(encode_specific_record(op, rec, fields), fields, which)
    if op == "update":
        want = {f"{i}_{k}": v for i in ("old", "new") for k, v in rec[i].items()}
    else:
        want = dict(rec["new" if op == "insert" else "old"])
    assert out == {"database": rec["database"], "table": rec["table"], **want}


@settings(max_examples=200, deadline=None)
@given(st.text(min_size=1, max_size=80))
def test_txid_to_guid_total_and_deterministic(txid):
    """Any non-empty txid string maps to a valid 16-byte Guid, the
    mapping is deterministic (equal txids → equal Guids, the property
    transaction grouping rides on), UUID-shaped inputs ride verbatim,
    and the reference-record encode/decode round-trips the mapped
    value — so no txid shape can dead-letter the default avro_ref
    path (the round-5 advisory's failure mode)."""
    import uuid

    from mypipe_spark.sinks.avro_codec import (
        decode_reference_record,
        encode_reference_record,
        txid_to_guid,
    )

    g1 = txid_to_guid(txid)
    g2 = txid_to_guid(txid)
    assert isinstance(g1, uuid.UUID) and g1 == g2
    try:
        parsed = uuid.UUID(txid)
    except ValueError:
        parsed = None
    if parsed is not None:
        assert g1 == parsed  # verbatim for UUID-shaped txids
    rec = {"database": "d", "table": "t", "tableId": 1, "txid": txid,
           "integers": {"id": 1}, "strings": None, "bytes": None, "longs": None}
    out = decode_reference_record("insert", encode_reference_record("insert", rec))
    assert out["txid"] == str(g1)


@given(st.lists(st.integers(min_value=0, max_value=(1 << 52) - 1),
                min_size=1, max_size=50))
@settings(max_examples=30, deadline=None)
def test_isqrt_sql_matches_math_isqrt(ns):
    """catalog.isqrt_sql == math.isqrt over arbitrary 52-bit inputs
    (the boundary pin in test_newops covers perfect squares; this
    covers breadth). DuckDB evaluates the shared expression text —
    the Spark evaluation of the same text is pinned separately."""
    import math

    import duckdb

    from mypipe_spark.plans.catalog import isqrt_sql

    con = duckdb.connect()
    rows = con.execute(
        "SELECT n, " + isqrt_sql("n")
        + " FROM (SELECT UNNEST(?::BIGINT[]) AS n)",
        [ns],
    ).fetchall()
    for n, s in rows:
        assert s == math.isqrt(n), (n, s)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(10**17), max_value=10**17),
            st.integers(min_value=1, max_value=10**12),
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=30, deadline=None)
def test_round_div_sql_matches_exact_half_away(pairs):
    """The bedrock rounding helper: DuckDB's evaluation of
    round_div_sql(num, den, '//') must equal Python's exact
    round-half-away-from-zero of Fraction(num, den) for arbitrary
    signed numerators — every money display, ratio, percentage and
    anomaly moment in the catalog rides this expression, and a
    half-even slip or a truncation-toward-zero sign bug here would
    silently skew every one of them. (The Spark `div` twin of the
    same text is exercised by the full oracle-parity suite on every
    registered query; this covers adversarial breadth the corpus
    never hits.)"""
    from fractions import Fraction

    import duckdb

    from mypipe_spark.plans.catalog import round_div_sql

    con = duckdb.connect()
    rows = con.execute(
        "SELECT num, den, "
        + round_div_sql("CAST(num AS HUGEINT)", "CAST(den AS HUGEINT)", "//")
        + " FROM (SELECT UNNEST(?::BIGINT[]) AS num,"
        "              UNNEST(?::BIGINT[]) AS den)",
        [[p[0] for p in pairs], [p[1] for p in pairs]],
    ).fetchall()
    for num, den, got in rows:
        # independent definition: |round(f)| = floor(|f| + 1/2), sign
        # restored — floor of a non-negative Fraction is plain int()
        f = Fraction(num, den)
        expect = (-1 if f < 0 else 1) * int(abs(f) + Fraction(1, 2))
        assert int(got) == expect, (num, den, got, expect)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=255),
            st.integers(min_value=0, max_value=255),
        ),
        min_size=1,
        max_size=80,
        unique=True,
    )
)
@settings(max_examples=30, deadline=None)
def test_morton16_is_a_bijection_and_preserves_block_locality(pairs):
    """The z-order interleave over the full 8-bit x 8-bit domain:
    DuckDB's evaluation of the shared expression must (a) be
    INJECTIVE (distinct bucket pairs -> distinct codes: a collision
    would silently merge zone-map files), (b) invert exactly through
    an independent Python de-interleave, (c) stay within the 16-bit
    range, and (d) preserve block locality: any (x, y) both below
    2^b must code below 4^b — the prefix-nesting property that makes
    a z-code range a bounded x/y rectangle, which an arbitrary
    bijective bit-mix (the regression bijectivity alone cannot catch)
    destroys. (The Spark spelling is pinned bit-equal to the same
    reference in test_newops; this covers domain breadth.)"""
    import duckdb

    from mypipe_spark.plans.curation import _morton16

    con = duckdb.connect()
    rows = con.execute(
        "SELECT xb, yb, " + _morton16("xb", "yb", "duck")
        + " FROM (SELECT UNNEST(?::BIGINT[]) AS xb,"
        "               UNNEST(?::BIGINT[]) AS yb)",
        [[p[0] for p in pairs], [p[1] for p in pairs]],
    ).fetchall()
    codes = set()
    for xb, yb, z in rows:
        assert 0 <= z < (1 << 16), (xb, yb, z)
        dx = dy = 0
        for b in range(8):
            dx |= ((z >> (2 * b)) & 1) << b
            dy |= ((z >> (2 * b + 1)) & 1) << b
        assert (dx, dy) == (xb, yb), (xb, yb, z)
        # block locality: interleaving nests prefixes, so coordinates
        # inside the 2^b x 2^b corner stay inside the first 4^b codes
        bits = max(xb, yb).bit_length()
        assert z < 4 ** max(bits, 1), (xb, yb, z)
        codes.add(z)
    assert len(codes) == len(rows)


@given(
    st.lists(
        st.lists(
            st.integers(min_value=0, max_value=40_000),
            min_size=1,
            max_size=25,
        ),
        min_size=1,
        max_size=10,
    )
)
@settings(max_examples=20, deadline=None)
def test_streaks_oracle_matches_independent_reference(user_days):
    """The REGISTERED events_streaks oracle, evaluated by DuckDB over
    planted events built from arbitrary per-user day sets (duplicate
    days included), must agree with an independent pure-Python
    reference that never uses the day-minus-row-number identity: per
    user, the longest consecutive run, the distinct-day total, and
    the EARLIEST best-run start. This is the fault-detecting twin of
    test_newops' constructed-corpus Spark pin — a bug in the islands
    algebra, the tie-break, or the epoch-day arithmetic lands here.
    (Day numbers up to 40k keep timestamps inside 2079 — epoch_us
    stays exact.)"""
    import datetime

    import duckdb
    import pandas as pd

    from mypipe_spark.plans.catalog import QUERIES, all_queries

    all_queries()
    rows = []
    for uid, days in enumerate(user_days, start=1):
        for j, d in enumerate(days):
            rows.append(
                (
                    uid * 1000 + j,
                    datetime.datetime(1970, 1, 1)
                    + datetime.timedelta(days=d, hours=j % 24),
                    uid,
                    "click",
                    None,
                    None,
                )
            )
    con = duckdb.connect()
    con.register(
        "events",
        pd.DataFrame(
            rows,
            columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
        ),
    )
    got = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(QUERIES["events_streaks"].oracle).fetchall()
    }
    for uid, days in enumerate(user_days, start=1):
        ordered = sorted(set(days))
        # independent reference: scan for maximal runs directly
        runs = []
        start = prev = ordered[0]
        for d in ordered[1:]:
            if d == prev + 1:
                prev = d
                continue
            runs.append((prev - start + 1, start))
            start = prev = d
        runs.append((prev - start + 1, start))
        best = max(ln for ln, _ in runs)
        first_best = min(s for ln, s in runs if ln == best)
        n_active, best_got, start_got = got[uid]
        assert n_active == len(ordered), (uid, days)
        assert best_got == best, (uid, days)
        want_start = datetime.datetime(1970, 1, 1) + datetime.timedelta(
            days=first_best
        )
        assert start_got == want_start, (uid, days, start_got)


# round-11: evolve_schema replay idempotency — the registration path is
# at-least-once (the DDL watcher registers BEFORE its checkpoint
# commits, so a crash replays the ALTER), which is safe because
# re-applying a statement to its own result is a no-op for every
# realistic DDL shape: each clause touches its own column(s). (A
# pathological intra-statement composition — ADD x then RENAME x TO y
# in ONE statement — is not replay-idempotent and is disclosed on
# AlterOrchestrator; MySQL applies ALTER atomically, so statements
# with clauses invalid against the live schema never reach a binlog
# either.) Generate statements from the full clause alphabet over
# DISJOINT column draws and pin f(f(s)) == f(s) plus field-name
# uniqueness.

_COL_POOL = ["id", "email", "n", "user$x", "x-1", "Flag", "extra", "more"]
_TYPES = st.sampled_from(["INT", "BIGINT", "VARCHAR(32)", "TEXT", "DECIMAL(10,2)"])


def _mk_clause(kind: str, c1: str, c2: str, t: str) -> str:
    q = lambda c: f"`{c}`" if "-" in c else c  # noqa: E731
    if kind == "add":
        return f"ADD COLUMN {q(c1)} {t}"
    if kind == "addp":
        return f"ADD ({q(c1)} {t}, {q(c2)} INT)"
    if kind == "drop":
        return f"DROP COLUMN {q(c1)}"
    if kind == "modify":
        return f"MODIFY {q(c1)} {t}"
    if kind == "change":
        return f"CHANGE {q(c1)} {q(c2)} {t}"
    return f"RENAME COLUMN {q(c1)} TO {q(c2)}"


@given(st.data())
@settings(max_examples=200, deadline=None)
def test_evolve_schema_statement_replay_is_idempotent(data):
    cols = data.draw(st.permutations(_COL_POOL))
    n_base = data.draw(st.integers(min_value=0, max_value=3))
    base = StructType(
        [StructField(c, IntegerType(), True) for c in sorted(cols)[:n_base]]
    )
    n = data.draw(st.integers(min_value=1, max_value=3))
    clauses = []
    for i in range(n):
        kind = data.draw(
            st.sampled_from(["add", "addp", "drop", "modify", "change", "rename"])
        )
        # disjoint column pair per clause — the realistic shape
        c1, c2 = cols[2 * i], cols[2 * i + 1]
        clauses.append(_mk_clause(kind, c1, c2, data.draw(_TYPES)))
    sql = "ALTER TABLE mypipe.user " + ", ".join(clauses)
    once = evolve_schema(base, sql)
    twice = evolve_schema(once, sql)
    assert twice == once, sql
    # field names stay unique whatever the clause sequence did
    assert len(set(f.name.lower() for f in once.fields)) == len(once.fields), sql
