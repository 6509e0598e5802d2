"""Live ALTER handling / schema evolution (SURVEY.md §2.9 T10, §7 Stage 6).

Reference behavior (AbstractBinaryLogConsumer.scala:106-122;
TableCache.refreshTable:41-49): an ALTER event triggers a blocking
metadata refresh; subsequent mutations use the new table structure. The
generic envelope needs nothing (its typed maps absorb new columns —
README.md:162-168); the *specific* envelope requires the schema
repository to hold the new version
(KafkaMutationSpecificAvroProducer.scala:9-11).

Spark twist: a running StreamingQuery's schema is fixed, so specific-
envelope evolution = register schema v2 + **restart the query** — the
checkpoint makes the restart seamless (resume exactly after the last
committed batch). :class:`AlterOrchestrator` packages that loop:

    run pipe → ALTER observed → register evolved schema →
    stop query → restart with refreshed schema → repeat

Granularity: schema REGISTRATION is per-microbatch and at-least-once
(it happens inside the DDL watcher's foreachBatch, BEFORE that batch's
checkpoint commits — a crash replays the batch and re-registers, which
is idempotent). The query RESTART applies to data that arrives after
the current drain: ``run_available`` drains everything already
available in one run, so rows that were already queued behind the
ALTER are processed under the old schema (harmless for the generic
envelope, whose typed maps absorb new columns; a specific-envelope
sink picks the new version up at the restart — the same eventual
consistency the reference's schema-repo polling gives,
KafkaAvroSerializer.scala:41-67).
"""

from __future__ import annotations

import logging
import re
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..model import spark_type_for
from ..operators.decode import ALTER_RE
from ..registry import SchemaRegistry, register_table, table_schema

_LOG = logging.getLogger(__name__)

# `ALTER [IGNORE] TABLE [db.]tbl <clause>[, <clause>...]` — the same
# token-level parse the reference hand-rolls
# (AbstractMySQLBinaryLogConsumer.scala:92-111), as regexes.
# Statement head: the anchored pattern the Spark-side alter_database /
# alter_table read (operators/decode.py), so both engines resolve the
# same target. Clause parsing runs on the REMAINDER so multi-clause
# ALTERs (the common MySQL form: one statement, many ADD/DROP clauses)
# all apply, in order.
_ALTER_HEAD = re.compile(ALTER_RE)
# One identifier inside a clause: backticked (any non-backtick chars)
# or unquoted (which in MySQL may contain `$` — \w+ alone would
# truncate `user$archive`).
_IDENT = r"(?:`[^`]+`|[\w$]+)"
# A column identifier — captured from backticked or bare form.
_COL = r"(?:`([^`]+)`|([\w$]+))"
# Non-column DROP/ADD objects that must never be mistaken for a column
# name when the COLUMN keyword is omitted (DROP INDEX idx / ADD KEY k
# (c)): without the guard `DROP INDEX idx` deletes a column literally
# named 'INDEX'.
# `default` included: `ALTER COLUMN c DROP DEFAULT` is metadata-only —
# without the guard it would parse as dropping a column named
# 'default' (a real column of that name must be backticked in MySQL,
# and the backticked form bypasses the lookahead correctly)
_NON_COLUMN = r"(?!(?:index|key|primary|unique|foreign|constraint|partition|fulltext|spatial|check|default)\b)"
_ADD_CLAUSE = re.compile(
    rf"\badd\s+(?:column\s+{_COL}|{_NON_COLUMN}{_COL})\s+(\w+)",
    re.IGNORECASE,
)
_DROP_CLAUSE = re.compile(
    rf"\bdrop\s+(?:column\s+{_COL}|{_NON_COLUMN}{_COL})",
    re.IGNORECASE,
)
# In-place column surgery: MODIFY retypes, CHANGE renames+retypes,
# RENAME COLUMN renames. The reference gets all of these for free
# because ANY ALTER refetches the whole schema from information_schema
# (TableCache.scala:41-49); here the parser IS the schema source, so
# each clause must apply — a silently ignored MODIFY leaves the
# registry stale and routes the column's values into the wrong typed
# map on the next mutation.
_MODIFY_CLAUSE = re.compile(
    rf"^modify\s+(?:column\s+)?{_COL}\s+(\w+)", re.IGNORECASE
)
_CHANGE_CLAUSE = re.compile(
    rf"^change\s+(?:column\s+)?{_COL}\s+{_COL}\s+(\w+)", re.IGNORECASE
)
_RENAME_COLUMN_CLAUSE = re.compile(
    rf"^rename\s+column\s+{_COL}\s+to\s+{_COL}", re.IGNORECASE
)
# Parenthesized multi-column ADD: `ADD [COLUMN] (a INT, b INT)` — a
# documented MySQL form the single-column regex cannot see.
_ADD_PAREN_CLAUSE = re.compile(
    r"^add\s+(?:column\s+)?\((?P<body>.*)\)\s*$", re.IGNORECASE | re.DOTALL
)
_ADD_PAREN_ITEM = re.compile(rf"^{_COL}\s+(\w+)", re.IGNORECASE)

# Clauses that are RECOGNIZED and deliberately schema-neutral: index /
# constraint / partition maintenance, table options, charset work,
# column-default metadata, positional hints. Everything that matches
# none of the apply-regexes above and none of these is UNRECOGNIZED
# and logged loudly (the reference structurally cannot silently
# diverge — refetch-everything — so silence here is the one failure
# mode it cannot have and we must not invent).
_RECOGNIZED_NEUTRAL = [
    re.compile(p, re.IGNORECASE)
    for p in (
        # non-column ADD/DROP objects (indexes, constraints, partitions)
        r"^add\s+(?:index|key|primary|unique|foreign|constraint|"
        r"partition|fulltext|spatial|check)\b",
        r"^drop\s+(?:index|key|primary|foreign|constraint|partition|"
        r"check)\b",
        # `ALTER [COLUMN] c SET DEFAULT ... / DROP DEFAULT / SET
        # {VISIBLE|INVISIBLE}` — column metadata, not structure
        r"^alter\s+(?:column\s+)?" + _IDENT + r"\s+(?:set|drop)\b",
        # MySQL 8 index visibility / constraint enforcement toggles
        r"^alter\s+(?:index|key)\s+" + _IDENT + r"\s+(?:visible|invisible)\b",
        r"^alter\s+(?:check|constraint)\s+" + _IDENT
        + r"\s+(?:not\s+)?enforced\b",
        # index rename / table rename (table rename is a ROUTING
        # concern — topics key on (db, table) — handled at the
        # orchestrator layer if ever needed, never a schema change)
        r"^rename\s+(?:index|key)\b",
        r"^rename\s+(?:to\s+|as\s+)?" + _IDENT
        + rf"(?:\s*\.\s*{_IDENT})?\s*$",
        # (re)partitioning schemes are storage layout, not columns
        r"^partition\s+by\b",
        # table options and maintenance
        r"^engine\b", r"^auto_increment\b", r"^comment\b",
        r"^(?:default\s+)?(?:character\s+set|charset)\b",
        r"^collate\b", r"^row_format\b", r"^key_block_size\b",
        r"^convert\s+to\b", r"^algorithm\b", r"^lock\b",
        r"^order\s+by\b", r"^force\s*$",
        r"^(?:enable|disable)\s+keys\b",
        r"^(?:discard|import)\s+tablespace\b",
        r"^(?:with|without)\s+validation\b",
        r"^(?:coalesce|reorganize|truncate|analyze|check|optimize|"
        r"rebuild|repair|exchange|remove)\s+partition",
        r"^remove\s+partitioning\b",
        r"^(?:stats_persistent|stats_auto_recalc|stats_sample_pages|"
        r"pack_keys|checksum|delay_key_write|max_rows|min_rows|"
        r"avg_row_length|tablespace|storage|connection|data\s+directory|"
        r"index\s+directory|insert_method|password|encryption|"
        r"autoextend_size|page_compressed|page_compression_level|"
        r"secondary_engine|union)\b",
    )
]

_MYSQL_TYPE_ALIASES = {
    # surface INT is binlog ColumnType.LONG (type code 3); MEDIUMINT
    # is INT24 (code 9) — mapping INT to INT24 would route its values
    # into the generic envelope's 'integers' map, where reference
    # consumers (KafkaGenericAvroSerializer.scala:94-104 puts LONG in
    # 'longs') would never find them
    "INT": "LONG", "INTEGER": "LONG", "BIGINT": "LONGLONG",
    "TEXT": "BLOB", "CHAR": "STRING", "MEDIUMINT": "INT24",
    "SMALLINT": "SHORT", "TINYINT": "TINY",
    # MySQL surface names the binlog type table doesn't spell the
    # same way — without these an ADD COLUMN of the type is silently
    # ignored (spark_type_for raises, evolve_schema skips):
    "BOOLEAN": "TINY", "BOOL": "TINY",     # BOOLEAN is TINYINT(1)
    "NUMERIC": "NEWDECIMAL", "DEC": "NEWDECIMAL",
    "REAL": "DOUBLE",
    "VARBINARY": "VAR_STRING", "BINARY": "VAR_STRING",
    "JSON": "BLOB",
    # the TEXT size family + CHARACTER: without them these common
    # surface names fall through to spark_type_for and are silently
    # skipped — the exact bug class this table exists to prevent
    "TINYTEXT": "TINY_BLOB", "MEDIUMTEXT": "MEDIUM_BLOB",
    "LONGTEXT": "LONG_BLOB", "CHARACTER": "STRING",
    # the remaining documented MySQL surface aliases (same
    # silent-skip class without them): SERIAL is an alias for BIGINT
    # UNSIGNED AUTO_INCREMENT, NCHAR/NVARCHAR are the national-charset
    # char family, FIXED is DECIMAL
    "SERIAL": "LONGLONG", "NCHAR": "STRING", "NVARCHAR": "VARCHAR",
    "FIXED": "NEWDECIMAL",
}

# String literals inside a DDL tail (COMMENT 'must drop legacy col',
# DEFAULT 'add foo int') must be invisible to the clause scanners —
# without this, keyword text INSIDE a literal parses as a phantom
# ADD/DROP and corrupts the evolved schema (column COMMENTs are
# routine in MySQL DDL). MySQL string syntax: '' or \' escape a quote
# inside '...'; double-quoted strings behave the same under the
# default (non-ANSI_QUOTES) mode. The backtick alternative comes FIRST
# and is matched-and-PRESERVED: a backticked identifier may legally
# contain a quote character, and without consuming the identifier as a
# unit that quote opens a phantom string literal that blanks real
# clause text.
_STRING_LITERAL = re.compile(
    r"""`(?:[^`]|``)*`|'(?:[^'\\]|\\.|'')*'|"(?:[^"\\]|\\.|"")*\"""",
)


def _strip_string_literals(sql: str) -> str:
    """Blank out string-literal CONTENTS (quotes kept, same length NOT
    preserved — only relative clause order matters to the scanners).
    Backticked identifiers pass through verbatim."""
    return _STRING_LITERAL.sub(
        lambda m: m.group(0) if m.group(0).startswith("`") else "''", sql
    )


def alter_target(alter_sql: str) -> tuple[str | None, str | None]:
    """Extract (database, table) from an ALTER statement — the
    reference's decodeDatabaseFromAlter/decodeTableFromAlter token
    parse (AbstractMySQLBinaryLogConsumer.scala:92-111, S5). Database
    is None when unqualified (caller falls back to the event's)."""
    m = _ALTER_HEAD.match(alter_sql)
    if not m:
        return None, None
    first = m.group(1) or m.group(2)
    second = m.group(3) or m.group(4)
    return (first, second) if second else (None, first)


def _split_clauses(tail: str) -> list[str]:
    """Split a literal-stripped ALTER tail into top-level clauses:
    commas inside parentheses (types ``DECIMAL(10,2)``, index column
    lists, the parenthesized multi-ADD) and inside backticked
    identifiers never split."""
    clauses: list[str] = []
    depth = 0
    start = 0
    i, n = 0, len(tail)
    while i < n:
        c = tail[i]
        if c == "`":
            j = tail.find("`", i + 1)
            i = n if j < 0 else j + 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth = max(0, depth - 1)
        elif c == "," and depth == 0:
            clauses.append(tail[start:i])
            start = i + 1
        i += 1
    clauses.append(tail[start:])
    return [c.strip() for c in clauses if c.strip()]


def _resolve_type(mysql_type: str) -> "DataType | None":
    ct = _MYSQL_TYPE_ALIASES.get(mysql_type.upper(), mysql_type.upper())
    try:
        return spark_type_for(ct)
    except ValueError:
        return None


def _field_index(schema: StructType, col: str) -> int | None:
    """MySQL column identifiers compare case-insensitively in DDL —
    `DROP COLUMN EMAIL` drops `email`; compared case-sensitively, a
    case-variant DROP would be a silent no-op that leaves a phantom
    field frozen in the registered schema."""
    low = col.lower()
    for i, f in enumerate(schema.fields):
        if f.name.lower() == low:
            return i
    return None


def _warn_clause(what: str, clause: str, stmt: str) -> None:
    """The LOUD path for DDL the grammar cannot apply: the reference
    structurally cannot diverge from the live schema
    (TableCache.scala:41-49 refetches everything on any ALTER), so a
    silently skipped clause is the one failure mode it cannot have —
    and exactly the one a regex grammar invents. Every
    skip is logged with enough context to extend the grammar."""
    _LOG.warning(
        "evolve_schema: %s — clause %r in %r left the schema "
        "unchanged; if it alters column structure the registered "
        "schema is now STALE (extend the clause grammar in "
        "streaming/alter.py)",
        what, clause, stmt,
    )


def _add_column(
    schema: StructType, col: str, mysql_type: str, clause: str, stmt: str
) -> StructType:
    dt = _resolve_type(mysql_type)
    if dt is None:
        _warn_clause(f"unmapped MySQL type {mysql_type!r}", clause, stmt)
        return schema
    # add-of-existing stays a SILENT no-op (unlike the unknown-clause
    # path): schema registration is at-least-once, so a replayed ALTER
    # re-applies — idempotency here is load-bearing, not leniency
    if _field_index(schema, col) is not None:
        return schema
    return StructType(list(schema.fields) + [StructField(col, dt, True)])


def _retarget(
    schema: StructType,
    verb: str,
    old: str,
    new: str | None,
    mysql_type: str | None,
    clause: str,
    stmt: str,
) -> StructType:
    """MODIFY / CHANGE / RENAME COLUMN: the field ``old`` takes the
    name ``new`` (None keeps the stored name) and the type
    ``mysql_type`` maps to (None keeps its type), in place."""
    idx = _field_index(schema, old)
    if idx is None:
        # replayed CHANGE / RENAME (at-least-once registration): the
        # first application already renamed, so a no-op is exactly
        # idempotent — retargeting the new-named column instead would
        # silently mutate an UNRELATED column when the miss is real
        # divergence, not a replay
        if new is None or _field_index(schema, new) is None:
            _warn_clause(f"{verb} of unknown column {old!r}", clause, stmt)
        return schema
    if new is not None and _field_index(schema, new) not in (None, idx):
        # MySQL refuses a rename onto ANOTHER existing column
        # (duplicate column name) — applying it would register a
        # schema with two same-named fields
        _warn_clause(f"{verb} onto existing column {new!r}", clause, stmt)
        return schema
    fields = list(schema.fields)
    dt = fields[idx].dataType
    if mysql_type is not None:
        dt = _resolve_type(mysql_type)
        if dt is None:
            _warn_clause(f"unmapped MySQL type {mysql_type!r}", clause, stmt)
            return schema
    fields[idx] = StructField(new or fields[idx].name, dt, True)
    return StructType(fields)


def _apply_clause(schema: StructType, clause: str, stmt: str) -> StructType:
    m = _ADD_PAREN_CLAUSE.match(clause)
    if m:
        for item in _split_clauses(m.group("body")):
            im = _ADD_PAREN_ITEM.match(item)
            if im is None:
                _warn_clause("unparseable ADD (...) item", item, stmt)
                continue
            col = next(g for g in im.groups()[:2] if g)
            schema = _add_column(schema, col, im.group(3), item, stmt)
        return schema
    m = _ADD_CLAUSE.match(clause)
    if m:
        col = next(g for g in m.groups()[:4] if g)
        return _add_column(schema, col, m.group(5), clause, stmt)
    m = _DROP_CLAUSE.match(clause)
    if m:
        col = next(g for g in m.groups() if g)
        # drop-of-missing is silent for the same replay reason as
        # add-of-existing
        return StructType(
            [f for f in schema.fields if f.name.lower() != col.lower()]
        )
    m = _MODIFY_CLAUSE.match(clause)
    if m:
        col = next(g for g in m.groups()[:2] if g)
        return _retarget(schema, "MODIFY", col, None, m.group(3), clause, stmt)
    m = _CHANGE_CLAUSE.match(clause)
    if m:
        old = next(g for g in m.groups()[:2] if g)
        new = next(g for g in m.groups()[2:4] if g)
        return _retarget(schema, "CHANGE", old, new, m.group(5), clause, stmt)
    m = _RENAME_COLUMN_CLAUSE.match(clause)
    if m:
        old = next(g for g in m.groups()[:2] if g)
        new = next(g for g in m.groups()[2:4] if g)
        return _retarget(schema, "RENAME COLUMN", old, new, None, clause, stmt)
    for pat in _RECOGNIZED_NEUTRAL:
        if pat.match(clause):
            return schema
    _warn_clause("unrecognized ALTER clause", clause, stmt)
    return schema


def evolve_schema(schema: StructType, alter_sql: str) -> StructType:
    """Apply one ALTER statement to a StructType. Clauses apply in
    statement order: ADD COLUMN (single or parenthesized multi)
    appends a nullable field (type via the MySQL→Spark map), DROP
    COLUMN removes one, MODIFY retypes in place, CHANGE renames AND
    retypes preserving position, RENAME COLUMN renames preserving
    position and type — so ``DROP COLUMN a, ADD COLUMN a INT``
    re-types by recreation and ``MODIFY a BIGINT`` re-types in place.
    Index/constraint/partition/table-option clauses are recognized and
    schema-neutral; positional hints (FIRST / AFTER col) are ignored —
    every consumer here projects by NAME, never by position. Anything
    the grammar cannot classify logs a WARNING naming the clause (see
    :func:`_warn_clause` for why silence is the wrong failure mode). A
    statement with no table head returns the schema unchanged (the
    reference routes those to UnknownTable / ignores)."""
    head = _ALTER_HEAD.match(alter_sql)
    if not head:
        return schema
    tail = _strip_string_literals(alter_sql[head.end():])
    for clause in _split_clauses(tail):
        schema = _apply_clause(schema, clause, alter_sql)
    return schema


def _stop_pair(query, watcher) -> None:
    """Best-effort stop of BOTH queries: a raising query.stop()
    (stopTimeout, dead context) must not leak the watcher running
    against the shared _ddl checkpoint — the next round's start would
    collide with it. When BOTH stops raise, the sink query's exception
    is the primary failure cause and must survive — a bare try/finally
    would let the watcher's exception replace it; the watcher's is
    logged instead of lost."""
    try:
        query.stop()
    except BaseException:
        try:
            watcher.stop()
        except Exception:
            _LOG.warning(
                "_stop_pair: watcher.stop() also raised while handling "
                "the sink query's stop failure (suppressed — the sink "
                "exception is the primary cause)",
                exc_info=True,
            )
        raise
    watcher.stop()


def _raise_if_dead(query, role: str) -> None:
    """Surface an asynchronously failed/stopped streaming query from a
    poll loop: without this, a query that dies in its first microbatch
    leaves run_live sleeping forever by default (done() never fires
    because rows never land, and stop() in the finally does not
    rethrow)."""
    if query.isActive:
        return
    exc = query.exception()
    if exc is not None:
        raise exc
    raise RuntimeError(
        f"run_live: the {role} query stopped unexpectedly (no "
        "exception recorded) — external stop or session shutdown?"
    )


@dataclass
class AlterOrchestrator:
    """Restart-on-DDL driver loop around one pipe.

    ``source``/``sink`` build the streaming DataFrame and its writer
    (sink receives the DataFrame and the checkpoint dir). ``registry``
    holds per-(db, table) specific schemas; every observed ALTER
    registers the evolved schema under the table's insert/update/delete
    subjects INSIDE the DDL watcher's microbatch — before that batch's
    checkpoint commits, so a crash replays the ALTER and re-registers
    (idempotent) instead of permanently losing the version — mirroring
    KafkaAlterSpec.scala:54-94.

    ``table_schemas`` seeds the pre-ALTER base schemas; for a table not
    seeded, the base falls back to the registry's latest version for
    that table's insert subject (so an orchestrator restarted with an
    empty dict does not register a schema containing ONLY the
    ALTER-added column). Statements whose table cannot be resolved
    (ALTER USER/VIEW/DATABASE — prefix-classified as 'alter' but not a
    table DDL) are skipped entirely rather than registering garbage
    subjects.

    Replay idempotency (property-pinned, tests/test_properties.py):
    re-applying a statement to its own result is a no-op for every
    statement whose clauses touch disjoint columns — the realistic
    DDL shape. Disclosed limit: an INTRA-statement composition that
    re-touches a column it just created or renamed (``ADD COLUMN x
    INT, RENAME COLUMN x TO y`` in one statement) re-applies on a
    crash replay (the replayed ADD no longer finds x) and registers a
    spurious extra version; the reference is immune by construction
    (any ALTER refetches the whole schema, TableCache.scala:41-49).
    If such DDL ever matters, resolve the replay at the source with a
    batch-id memo keyed on the watcher's checkpoint."""

    source: Callable[[SparkSession], DataFrame]
    sink: Callable[[DataFrame, str], object]  # returns DataStreamWriter
    checkpoint_dir: str
    registry: SchemaRegistry
    table_schemas: dict[tuple[str, str], StructType] = field(default_factory=dict)
    max_restarts: int = 10

    def _base_schema(self, database: str, table: str) -> StructType:
        seeded = self.table_schemas.get((database, table))
        if seeded is not None:
            return seeded
        # nothing registered, or non-StructType schema text: start empty
        return table_schema(self.registry, database, table) or StructType([])

    def _apply_alter(
        self, database: str | None, table: str | None, sql: str | None
    ) -> bool:
        """Evolve + register for one observed ALTER; returns whether it
        targeted a resolvable table (non-table DDL is skipped)."""
        sql_db, sql_table = alter_target(sql or "")
        if sql_table is None:
            # the statement itself is not an ALTER TABLE (ALTER USER /
            # CREATE / DROP / TRUNCATE ...) — never register a schema
            # version or force a restart off the EVENT's table column,
            # which DDL sources (Debezium schema-change records) fill
            # for every statement class
            return False
        # statement-first precedence: an explicitly qualified
        # `ALTER TABLE db2.t ...` targets db2 even when the
        # event's database column carries the session default (USE
        # db1) — same convention as operators/decode.py's
        # alter_database/alter_table. Unqualified statements fall back
        # to the event's coordinates, per alter_target's contract.
        database = sql_db or database or ""
        table = sql_table
        key = (database, table)
        evolved = evolve_schema(self._base_schema(database, table), sql or "")
        self.table_schemas[key] = evolved
        register_table(self.registry, database, table, evolved)
        return True

    def _start_round(self, spark: SparkSession, trigger_seconds: float | None = None):
        """Start one (sink query, DDL watcher) pair over a fresh source
        build; returns them plus the round's saw-alter flag."""
        saw_alter = [False]

        def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
            # Evolve + register HERE, before this batch's checkpoint
            # commit: registration after processAllAvailable would
            # open a crash window in which the watcher checkpoint
            # has committed but the schema version was never
            # written — permanently lost, since the replay never
            # re-delivers the committed batch. In-batch work is
            # at-least-once; register() is idempotent.
            # no op filter here: the watcher SOURCE is already built
            # as filter(op == 'alter') below — one definition of the
            # invariant, not two that can drift
            ddl = batch_df.select("database", "table", "sql").collect()
            for r in ddl:
                if self._apply_alter(r["database"], r["table"], r["sql"]):
                    saw_alter[0] = True

        # the DDL watcher runs beside the sink as a foreachBatch on
        # the same source; both share the one checkpointed query
        df = self.source(spark)
        writer = self.sink(df, self.checkpoint_dir)
        wwriter = (
            df.filter(F.col("op") == "alter")
            .writeStream.foreachBatch(handle_batch)
            .option("checkpointLocation", self.checkpoint_dir + "_ddl")
        )
        if trigger_seconds:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
            wwriter = wwriter.trigger(processingTime=f"{trigger_seconds} seconds")
        sink_q = writer.start()
        try:
            watcher_q = wwriter.start()
        except BaseException:
            # the sink query is already running; leaking it here
            # leaves a handle-less query committing checkpoints that
            # collides with the retry (the exact orphan run_pipes
            # stops on failure, pipe.py)
            try:
                sink_q.stop()
            except Exception:  # noqa: BLE001 — best-effort cleanup
                pass
            raise
        return sink_q, watcher_q, saw_alter

    def run_available(self, spark: SparkSession) -> int:
        """Drain everything currently available, restarting after each
        drain that carried ALTER events. Returns restart count."""
        restarts = 0
        while True:
            query, watcher, saw_alter = self._start_round(spark)
            try:
                query.processAllAvailable()
                watcher.processAllAvailable()
            finally:
                _stop_pair(query, watcher)

            if not saw_alter[0]:
                return restarts
            if restarts >= self.max_restarts:
                return restarts
            restarts += 1

    def run_live(
        self,
        spark: SparkSession,
        done: Callable[[], bool],
        trigger_seconds: float = 1.0,
        poll_seconds: float = 0.25,
        max_wall_seconds: float | None = None,
    ) -> int:
        """Continuous mode — the full KafkaAlterSpec.scala:54-94 analog:
        the pipe runs under ``trigger(processingTime=...)`` while data
        keeps arriving; the moment the DDL watcher registers an ALTER
        mid-stream the round stops and the pipe restarts, so the next
        round's sink build (``self.sink`` is re-invoked) sees the
        evolved ``table_schemas``/registry — exactly-once delivery
        across the restart via the shared checkpoint.

        Consistency granularity (same as ``run_available``, stated
        plainly): the sink and the DDL watcher are independent queries
        over the source, so rows the sink's trigger picks up in the
        SAME window as the ALTER — before the watcher's registration
        and the poll loop's stop land — commit under the old schema.
        Rows in later windows flow under the new schema. This is the
        eventual consistency the reference's schema-repo polling gives
        its serializer (KafkaAvroSerializer.scala:41-67): harmless for
        the generic envelope (typed maps absorb new columns), and for
        a specific-envelope sink it bounds the stale window to one
        trigger interval — size ``trigger_seconds`` accordingly, or
        drain with ``run_available`` when DDL and data are batched
        together.

        ``done`` is the caller's completion predicate (e.g. "the feeder
        finished and every row landed"); it is only honored after a
        final drain so a race between the last file and the poll loop
        cannot strand rows. ``max_wall_seconds`` is OPT-IN: by default
        there is no deadline (a continuous mode must outlive 3-minute
        runs); set it in bounded harnesses to get a TimeoutError
        instead of a wedge when ``done`` never fires. Returns the
        restart count."""
        restarts = 0
        # No deadline unless the caller opts in: a continuous mode must
        # not kill a healthy long-running pipe by default — pass
        # max_wall_seconds for a bounded test harness.
        deadline = (
            time.monotonic() + max_wall_seconds
            if max_wall_seconds is not None
            else None
        )
        while True:
            query, watcher, saw_alter = self._start_round(spark, trigger_seconds)
            try:
                while True:
                    if saw_alter[0]:
                        break
                    _raise_if_dead(query, "sink")
                    _raise_if_dead(watcher, "DDL watcher")
                    if done():
                        # drain what's left; an ALTER surfacing in the
                        # drain still forces one more restart round
                        query.processAllAvailable()
                        watcher.processAllAvailable()
                        if not saw_alter[0]:
                            return restarts
                        break
                    if deadline is not None and time.monotonic() > deadline:
                        raise TimeoutError(
                            f"run_live: no completion in {max_wall_seconds}s"
                        )
                    time.sleep(poll_seconds)
            finally:
                _stop_pair(query, watcher)
            if restarts >= self.max_restarts:
                # run_live stops rounds the moment an ALTER lands, so
                # rows queued behind the last one are NOT yet
                # processed — returning normally here would silently
                # abandon them (run_available may return at the cap:
                # its rounds always drain first). Fail loudly instead.
                raise RuntimeError(
                    f"run_live: restart cap hit ({self.max_restarts}) "
                    "with DDL still arriving and data queued behind "
                    "it — raise max_restarts or drain with "
                    "run_available"
                )
            restarts += 1
