"""Event decode / demux / classification — pure column expressions.

Re-expresses the reference's imperative per-event decode loop as
declarative Spark transforms so Catalyst compiles them into
whole-stage-codegen'd predicates (no Python in the hot path):

  - query classifier (prefix-match BEGIN/COMMIT/ROLLBACK/ALTER/else)
    reference: mysql/AbstractMySQLBinaryLogConsumer.scala:66-90
  - ALTER db/table extraction (hand-tokenized there, regexp here)
    reference: mysql/AbstractMySQLBinaryLogConsumer.scala:92-111
  - mutation-type demux helpers (insert/update/delete dispatch)
    reference: api/event/package.scala:163-191

All functions take and return DataFrames; they work identically on
batch and streaming inputs (same Catalyst plans), which is the point:
one decode library serves the bootstrap snapshot and the live stream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..model import (
    QUERY_ALTER,
    QUERY_BEGIN,
    QUERY_COMMIT,
    QUERY_ROLLBACK,
    QUERY_UNKNOWN,
)

# `ALTER [IGNORE] TABLE [db.]table ...` — mirrors decodeDatabaseFromAlter /
# decodeTableFromAlter token walk (AbstractMySQLBinaryLogConsumer.scala:92-111)
# as one anchored regex, the ONE head parse of both engines: the Spark
# expressions below read it with regexp_extract, streaming/alter.py
# compiles it with Python's re. A statement that does not START with
# the head (a comment first, ALTER VIEW quoting 'alter table ...')
# targets no table. Identifiers: backticked (any non-backtick chars) or
# unquoted, spelled as MySQL's permitted set — ASCII letters, digits,
# `$`, `_` and U+0080..U+FFFF — because Java's \w is ASCII-only (it
# cut `café` to `caf`) while Python's is not; the explicit class reads
# the same in both engines. Groups: 1/2 = first identifier
# (quoted/unquoted), 3/4 = second; when the second is absent the first
# IS the table and the db is implicit.
_UNQUOTED = r"([0-9A-Za-z$_\u0080-\uFFFF]+)"
ALTER_RE = (
    r"(?i)^\s*ALTER\s+(?:IGNORE\s+)?TABLE\s+"
    rf"(?:`([^`]+)`|{_UNQUOTED})(?:\s*\.\s*(?:`([^`]+)`|{_UNQUOTED}))?"
)


def _alter_idents(sql: Column) -> tuple[Column, Column]:
    def grp(i: int) -> Column:
        return F.nullif(F.regexp_extract(sql, ALTER_RE, i), F.lit(""))

    return F.coalesce(grp(1), grp(2)), F.coalesce(grp(3), grp(4))


def classify_query(sql: Column) -> Column:
    """Classify a raw SQL statement into a query-event op.

    Prefix semantics match the reference exactly (case-insensitive
    startswith on begin/commit/rollback/alter; XID events are commits).
    reference: AbstractMySQLBinaryLogConsumer.scala:66-90 (X1).
    """
    lowered = F.lower(F.trim(sql))
    return (
        F.when(lowered.startswith("begin"), F.lit(QUERY_BEGIN))
        .when(lowered.startswith("commit"), F.lit(QUERY_COMMIT))
        .when(lowered.startswith("rollback"), F.lit(QUERY_ROLLBACK))
        .when(lowered.startswith("alter"), F.lit(QUERY_ALTER))
        .otherwise(F.lit(QUERY_UNKNOWN))
    )


def alter_database(sql: Column, default_db: Column | None = None) -> Column:
    """Database targeted by an ALTER; falls back to the event's session
    database when unqualified (reference behaviour, :92-99)."""
    first, second = _alter_idents(sql)
    db = F.when(second.isNotNull(), first)
    return F.coalesce(db, default_db) if default_db is not None else db


def alter_table(sql: Column) -> Column:
    """Table targeted by an ALTER (reference :101-111)."""
    first, second = _alter_idents(sql)
    return F.coalesce(second, first)


def decode_query_events(df: DataFrame, sql_col: str = "sql") -> DataFrame:
    """Raw query-event rows (with a ``sql`` column) → classified events.

    Adds/overwrites ``op`` with the query class, and for ALTER events
    resolves ``database``/``table`` from the statement text itself
    (the reference's decodeEvent path, S3-S5).

    Rows with a NULL ``sql`` keep their existing ``op`` untouched: the
    canonical stream carries sql only on query events (mutations and
    snapshot preloads have sql=NULL), and classify_query(NULL) would
    fall through every prefix test and reclassify them all 'unknown' —
    after which mutations_only would drop the entire data stream.
    """
    sql = F.col(sql_col)
    is_alter = sql.isNotNull() & (classify_query(sql) == QUERY_ALTER)
    new_op = F.when(sql.isNotNull(), classify_query(sql)).otherwise(F.col("op"))
    return (
        df.withColumn("op", new_op)
        .withColumn(
            "database",
            F.when(is_alter, alter_database(sql, F.col("database"))).otherwise(F.col("database")),
        )
        .withColumn(
            "table",
            F.when(is_alter, alter_table(sql)).otherwise(F.col("table")),
        )
    )


def is_mutation(op: Column | str = "op") -> Column:
    """Predicate: row is a data mutation (vs control/query event)."""
    c = F.col(op) if isinstance(op, str) else op
    return c.isin("insert", "update", "delete")


def mutations_only(df: DataFrame) -> DataFrame:
    """Keep only Insert/Update/Delete rows (F3 demux, filter form).

    On a parquet/Kafka-batch source this predicate pushes down to the
    scan — check for PushedFilters in ``.explain``."""
    return df.filter(is_mutation())
