"""Snapshotter — parallel full-table bootstrap (SURVEY.md §2.1 S8-S13).

The reference's Sqoop-style snapshotter
(mypipe-snapshotter/.../MySQLSnapshotter.scala:85-134) does four things:
pick a split-by column (integer PK, :45-71), compute MIN/MAX bounds
(:174-195), cut them into closed-open ranges
(splitter/IntegerSplitter.scala:17-70), run one SELECT per range, and
convert the rows to ``InsertMutation(ts=0)`` events
(SelectConsumer.scala:38-65) so downstream sees the preload through the
same pipe as the live stream. It also captures the master's binlog
position first (:107-133) so streaming resumes exactly after the
snapshot.

Spark disposition:
- **JDBC sources**: ``spark.read.jdbc`` with partitionColumn/bounds/
  numPartitions IS the reference's split machinery, executed by the
  source (S8-S10 for free). :func:`snapshot_jdbc` is the thin wrapper.
- **File sources** (the driver's parquet fixtures): splits are the
  files themselves; :func:`compute_splits` is still exposed (and
  tested) because explicit range predicates matter when re-snapshotting
  a keyed slice, and because the boundary math (S9) is part of the
  operator contract.
- **S11/S12**: :func:`to_insert_mutations` re-shapes any relational
  DataFrame into canonical generic-envelope change events with
  ``op='insert', ts=epoch(0)`` — one expression-only select.
- Resume position (ShowMasterStatusEvent analog): for changelog
  directories the offset is the max ``seq`` at snapshot time —
  :func:`changelog_resume_position`.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model import BUCKET_SIMPLE_TYPES as _BUCKETS


@dataclass(frozen=True)
class Split:
    """One closed-open [lo, hi) range; hi is None on the last split
    (reference emits `col >= lo AND col < hi` except the final split's
    `col >= lo AND col <= max`, IntegerSplitter.scala:39-58).

    The final split also absorbs NULL keys: `col >= lo` alone
    evaluates NULL (not true) on them, so rows whose split key is NULL
    would fall outside EVERY split and silently vanish from the
    union — and an all-NULL column (compute_splits' Split(0, None)
    case) would snapshot zero rows instead of all of them. The
    reference dodges this by restricting the split column to a PK;
    totality here keeps snapshot_table correct for any column."""

    lo: int
    hi: int | None

    def predicate(self, col: str) -> str:
        if self.hi is None:
            return f"({col} >= {self.lo} OR {col} IS NULL)"
        return f"{col} >= {self.lo} AND {col} < {self.hi}"


def integer_splits(min_v: int, max_v: int, num_splits: int) -> list[Split]:
    """Cut [min_v, max_v] into ≤num_splits even ranges — the
    IntegerSplitter arithmetic (IntegerSplitter.scala:90-158): size =
    ceil-ish division with the remainder spread over the first splits.
    Pure integer math, no data access."""
    if num_splits <= 0:
        raise ValueError("num_splits must be positive")
    span = max_v - min_v + 1
    n = min(num_splits, span)
    base, rem = divmod(span, n)
    out: list[Split] = []
    lo = min_v
    for i in range(n):
        size = base + (1 if i < rem else 0)
        hi = lo + size
        out.append(Split(lo, None if i == n - 1 else hi))
        lo = hi
    return out


def compute_splits(
    df: DataFrame, split_column: str, num_splits: int = 5
) -> list[Split]:
    """S9: one MIN/MAX aggregate (column-pruned scan) then integer
    interval arithmetic. Matches `SELECT MIN(col), MAX(col)`
    (MySQLSnapshotter.scala:174-195) with NULL-extrema handling
    (IntegerSplitter.scala:25-28): an all-NULL column yields one
    unbounded split."""
    row = df.agg(
        F.min(split_column).alias("lo"), F.max(split_column).alias("hi")
    ).collect()[0]
    if row["lo"] is None or row["hi"] is None:
        return [Split(0, None)]
    # floor, not int(): int() truncates toward zero, so a fractional
    # negative minimum (-3.7 → -3) would yield a first predicate
    # `col >= -3` that silently excludes the minimum rows when the
    # split column is non-integer (the helper does not require the
    # pick_split_column integer gate).
    import math

    return integer_splits(
        math.floor(row["lo"]), math.floor(row["hi"]), num_splits
    )


def pick_split_column(df: DataFrame, pk_columns: list[str]) -> str:
    """S10: default split-by column = single integer-typed PK column
    (reference restricts to INT24, MySQLSnapshotter.scala:199-210 via
    getSplitByColumnFromPrimaryKey :45-71); raises when the PK is
    composite or non-integer, same as the reference's require()."""
    if len(pk_columns) != 1:
        raise ValueError(f"composite primary key {pk_columns}: pass split_column explicitly")
    col = pk_columns[0]
    dtype = dict(df.dtypes)[col]
    if dtype not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(f"split column {col} has non-integer type {dtype}")
    return col


def snapshot_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    split_column: str,
    lower: int,
    upper: int,
    num_splits: int = 5,
    where: str | None = None,
    properties: dict | None = None,
) -> DataFrame:
    """S8 for JDBC sources: the built-in partitioned read — Spark
    issues one range query per partition, exactly the reference's
    per-split SELECTs (including the user WHERE pushed into each,
    MySQLSnapshotter.scala:110-114). Gated: requires a JDBC driver on
    the classpath (none ships in this container)."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", f"(SELECT * FROM {table} WHERE {where}) t" if where else table)
        .option("partitionColumn", split_column)
        .option("lowerBound", str(lower))
        .option("upperBound", str(upper))
        .option("numPartitions", str(num_splits))
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def snapshot_table(
    df: DataFrame,
    split_column: str,
    num_splits: int = 5,
    where: str | None = None,
) -> DataFrame:
    """S8 for in-Spark tables (parquet fixtures): apply the optional
    WHERE (pushed to the scan), then range-repartition on the split
    column — the co-located-contiguous-ranges layout the reference's
    splits produce, without re-scanning once per split."""
    out = df.filter(where) if where else df
    return out.repartitionByRange(num_splits, F.col(split_column))


# ---------------------------------------------------------------------------
# S11/S12: rows → canonical insert mutations (generic envelope)
# ---------------------------------------------------------------------------

# The bucketing taxonomy is model.BUCKET_SIMPLE_TYPES (imported
# above), shared with the Debezium adapter — round-10 review: the
# snapshot-preload/CDC-feed typed-map key-set agreement
# (unbucketed_to_strings below) requires the two adapters to bucket
# identically, which private per-module copies could silently break.


def to_insert_mutations(
    df: DataFrame,
    database: str,
    table: str,
    table_id: int = 0,
    extra_strings: dict[str, F.Column] | None = None,
    unbucketed_to_strings: bool = False,
) -> DataFrame:
    """Re-shape a relational DataFrame into canonical change events:
    ``op='insert'``, ``ts = epoch(0)`` (SelectConsumer emits
    InsertMutation(timestamp=0), SelectConsumer.scala:59-64), columns
    bucketed into the generic envelope's typed maps by Spark type —
    the same INT24/VARCHAR/LONG/VAR_STRING bucketing the generic
    serializer applies (KafkaGenericAvroSerializer.scala:70-116;
    unsupported types dropped, :112). ``extra_strings`` adds caller
    columns (cast to string) into ``new_strings`` — e.g. a source tag.

    ``unbucketed_to_strings=True`` switches the unsupported-type rule
    from the reference's DROP to the Debezium adapter's
    string-fallback (debezium.py _typed_map: "adding a schema never
    loses values") — set it when a snapshot PRELOADS state that a
    Debezium CDC feed then maintains, so the two sources agree on
    every row's typed-map key set (round-8 review: a double column
    otherwise appears in CDC rows' new_strings but in no snapshot
    row, and keyed state grows a key on first CDC touch). The default
    stays reference-parity (oracle-pinned).

    The output carries the FULL canonical CHANGE_EVENT_SCHEMA column
    set (seq=0, sql=NULL included), so snapshot rows union with a live
    changelog stream and flow through tx grouping / envelope / wire
    stages unchanged."""
    ints, longs, strs, byts = [], [], [], []
    for field in df.schema.fields:
        st = field.dataType.simpleString()
        if st in _BUCKETS["integers"]:
            ints.append(field.name)
        elif st in _BUCKETS["longs"]:
            longs.append(field.name)
        elif st in _BUCKETS["strings"]:
            strs.append(field.name)
        elif st in _BUCKETS["bytes"]:
            byts.append(field.name)
        elif unbucketed_to_strings:
            strs.append(field.name)  # Debezium-adapter consistency
        # else: dropped, mirroring the reference

    def typed_map(names: list[str], cast: str | None = None) -> F.Column:
        if not names:
            return F.lit(None).cast(f"map<string,{cast or 'string'}>")
        pairs = []
        for nm in names:
            pairs.append(F.lit(nm))
            # quoted: a MySQL column name may contain a backtick
            col = F.col("`" + nm.replace("`", "``") + "`")
            pairs.append(col.cast(cast) if cast else col)
        return F.create_map(*pairs)

    def null_map(cast: str) -> F.Column:
        # same construction as typed_map([], cast) — named for intent
        # at the old_* call sites
        return typed_map([], cast)

    # "string" cast is a no-op for real string columns and makes the
    # unbucketed_to_strings fallback's mixed types legal in create_map
    new_strings = typed_map(strs, "string")
    if extra_strings:
        # check ALL four buckets, not just strings (round-8 review):
        # an extra key shadowing an int/long/binary column would put
        # the same key in two typed maps — render_sql's map_concat
        # then throws DUPLICATED_MAP_KEY deep inside the job, exactly
        # what this plan-time guard exists to prevent
        clash = sorted(set(extra_strings) & set(ints + longs + strs + byts))
        if clash:
            raise ValueError(
                f"extra_strings keys collide with table columns: {clash}"
            )
        pairs = []
        for nm, col in extra_strings.items():
            pairs.append(F.lit(nm))
            pairs.append(col.cast("string"))
        extra = F.create_map(*pairs)
        new_strings = (
            F.map_concat(new_strings, extra) if strs else extra
        )

    return df.select(
        # seq=0: the entire preload logically precedes the change
        # stream (changelog_resume_position captures the stream offset
        # BEFORE the snapshot, so real events carry higher seqs). Keep
        # preloads out of seq-KEYED redelivery dedup (effectively_once)
        # — a snapshot is loaded once as a batch, not redelivered.
        F.lit(0).cast("long").alias("seq"),
        F.lit("insert").alias("op"),
        F.lit(database).alias("database"),
        F.lit(table).alias("table"),
        F.lit(table_id).cast("long").alias("table_id"),
        F.lit(None).cast("string").alias("txid"),
        F.timestamp_seconds(F.lit(0)).alias("ts"),
        F.lit(None).cast("string").alias("sql"),
        # inserts have no before image; null old_* maps keep the full
        # canonical change-event column set so every downstream stage
        # (envelope, wire, tx grouping) accepts snapshot rows unchanged
        null_map("int").alias("old_integers"),
        null_map("bigint").alias("old_longs"),
        null_map("string").alias("old_strings"),
        null_map("binary").alias("old_bytes"),
        typed_map(ints, "int").alias("new_integers"),
        typed_map(longs, "bigint").alias("new_longs"),
        new_strings.alias("new_strings"),
        typed_map(byts, "binary").alias("new_bytes"),
    )


def changelog_resume_position(spark: SparkSession, changelog_path: str) -> int:
    """ShowMasterStatusEvent analog (MySQLSnapshotter.scala:107-133):
    the change-stream offset captured *before* a snapshot so streaming
    resumes exactly after the preloaded state — for changelog
    directories, the max ``seq`` present."""
    from .stream import changelog_batch

    row = changelog_batch(spark, changelog_path).agg(F.max("seq").alias("m")).collect()[0]
    return int(row["m"]) if row["m"] is not None else 0
