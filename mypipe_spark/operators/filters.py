"""Projections / filters / enrichment over the canonical change stream.

Covers SURVEY §2.2 (F1-F8) and the scalar helpers X1-X8. The design
rule: every reference extension point that was *runtime-compiled Scala*
becomes a **SQL expression string** here — same expressive power over
(db, table, op), but compiled by Catalyst into codegen'd predicates
instead of arbitrary code execution.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def include_events(
    df: DataFrame, condition: str | None, keep_controls: bool = False
) -> DataFrame:
    """F1 — the include-event-condition whitelist/blacklist filter.

    The reference compiles a Scala source string from config into a
    ``(db, table) => Boolean`` at runtime
    (mysql/binaryLogConsumerTraits.scala:41-55, util/Eval.scala:6-13).
    Here the config string IS a Spark SQL boolean expression over the
    event columns (``database``, ``table``, ``op``, ...), e.g.::

        include_events(df, "database = 'mypipe' AND table IN ('user')")

    Catalyst compiles it — and pushes it into the source scan when the
    source supports it, which the reference's post-hoc skip never could.
    ``None``/empty keeps everything (F2 no-op behaviour).

    ``keep_controls=True`` passes BEGIN/COMMIT/ROLLBACK/ALTER rows
    through regardless of the condition — required in front of tx
    grouping: control rows carry ``table``/map columns as NULL, so a
    table-scoped condition evaluates NULL on them and would drop every
    commit marker, leaving the per-tx state machine buffering forever
    with zero output (the reference applies includeEvent to data
    events only, binaryLogConsumerTraits.scala:41-55).
    """
    if not condition:
        return df
    pred = F.expr(condition)
    if keep_controls:
        # the op taxonomy lives in ONE place (decode.is_mutation):
        # control = anything that is not a data mutation, so a new
        # control op can never silently drift out of this passthrough
        # and starve the tx state machine
        from .decode import is_mutation

        pred = pred | ~is_mutation()
    return df.filter(pred)


def demux_by_type(df: DataFrame) -> dict[str, DataFrame]:
    """F3 — per-mutation-type dispatch (insert/update/delete).

    The reference dispatches on the class/magic byte per event
    (event/package.scala:163-191); columnar form is three filtered
    views sharing one scan."""
    return {op: df.filter(F.col("op") == op) for op in ("insert", "update", "delete")}


def primary_key_string(pk_columns: list[str], image: str = "new") -> Column:
    """F7 — composite PK rendered ``pk1.pk2`` (dot-joined).

    reference: event/package.scala:66-74 (primaryKeyAsString). Values
    are looked up in ALL FOUR typed envelope maps of the given image
    (a VAR_STRING/BLOB PK component lives in ``*_bytes`` and renders
    as hex). A component absent from every map renders as the empty
    string — NOT silently dropped: ``concat_ws`` skips NULL parts, so
    composite keys ('a', 1) and ('b', 1) would both collapse to '1'
    and merge distinct rows onto one partition/dedup key."""
    parts = [
        F.coalesce(
            F.col(f"{image}_integers").getItem(c).cast("string"),
            F.col(f"{image}_longs").getItem(c).cast("string"),
            F.col(f"{image}_strings").getItem(c),
            F.hex(F.col(f"{image}_bytes").getItem(c)),
            F.lit(""),
        )
        for c in pk_columns
    ]
    return F.concat_ws(".", *parts)


def with_topic(df: DataFrame, template: str = "${database}_${table}_generic") -> DataFrame:
    """X7 — topic-name templating.

    The reference Eval-compiles an interpolated-string template from
    config (KafkaUtil.scala:7-27). Here a plain-identifier placeholder
    (``${database}``, ``${user$col}``) resolves as a COLUMN reference
    (F.col — never parsed as SQL, so a column named ``table`` or
    ``count`` cannot collide with a keyword); anything else
    (``${upper(database)}``) is EXECUTED as a SQL expression — that is
    the documented contract, matching the reference's Eval-compiled
    template (round-10 review widened \\w+-only to functions; ADVICE
    r10: column-first for identifiers so a non-identifier name like
    ``my-col`` must be written ``${`my-col`}``, not silently parsed
    as ``my - col``).

    NULL propagates: a NULL template column (database/table on
    CONTROL rows) yields a NULL topic, which the Kafka sink refuses
    loudly per-row — route mutations_only streams into topics, or
    template only on non-NULL columns.
    """
    import re

    parts: list[Column] = []
    pos = 0
    for m in re.finditer(r"\$\{([^}]+)\}", template):
        if m.start() > pos:
            parts.append(F.lit(template[pos : m.start()]))
        body = m.group(1)
        if re.fullmatch(r"[A-Za-z_$][\w$]*", body) and body.lower() not in (
            "true", "false", "null"
        ):
            # plain identifier (not a SQL literal): a column reference
            ref = F.col(body)
        elif re.fullmatch(r"`[^`]+`", body):
            # backticked: any column name — pass the backticks through,
            # F.col honors them (stripping them would make a dotted
            # name parse as nested-field access)
            ref = F.col(body)
        else:
            ref = F.expr(body)
        parts.append(ref.cast("string"))
        pos = m.end()
    if pos < len(template):
        parts.append(F.lit(template[pos:]))
    return df.withColumn("topic", F.concat(*parts))


def uuid_to_bytes(uuid_col: Column) -> Column:
    """X5 — UUID string → 16-byte fixed encoding (wire Guid,
    mutations.avsc:2-7; KafkaAvroSerializer.scala:123-128)."""
    return F.unhex(F.regexp_replace(uuid_col, "-", ""))


def bytes_to_uuid(bytes_col: Column) -> Column:
    """Inverse of :func:`uuid_to_bytes` — 16 bytes → canonical UUID."""
    h = F.lower(F.hex(bytes_col))
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )


def render_sql(df: DataFrame) -> DataFrame:
    """F8 — mutation → SQL text (the stdout producer's rendering,
    StdoutProducer.scala:33-101): INSERT lists columns/values, UPDATE
    renders SET from the new image with WHERE from the old, DELETE
    renders WHERE from the old image. Output column: ``sql_text``.

    Faithful in shape, not byte-identical (the reference interleaves
    per-type map iteration order; we sort keys for determinism, and
    binary values render as their hex digits — the reference prints
    all four typed maps, so omitting the bytes bucket would emit an
    empty SET/WHERE clause for BLOB/VAR_STRING-only tables).

    Deliberately NOT map_concat (round-8 review): nothing in
    CHANGE_EVENT_SCHEMA enforces key disjointness across the four
    typed maps, and map_concat under the default
    mapKeyDedupPolicy=EXCEPTION kills the whole job on one malformed
    event carrying a key in two maps. Concatenating the per-map entry
    ARRAYS renders both values instead — exactly the reference's
    four independent print loops.
    """

    def kv_pairs(prefix: str) -> Column:
        def entries(col: Column) -> Column:
            # NULL map VALUES render as unquoted SQL NULL: plain
            # concat would NULL the whole element and array_join
            # would then silently DROP the column from the rendered
            # SET/WHERE (round-10 review; valueContainsNull=True, so
            # NULL values are legal inputs)
            return F.transform(
                F.map_entries(F.coalesce(col, F.expr("map()"))),
                lambda e: F.concat(
                    e["key"],
                    F.lit("="),
                    F.coalesce(
                        F.concat(F.lit("'"), e["value"], F.lit("'")),
                        F.lit("NULL"),
                    ),
                ),
            )

        # all four typed maps, flattened as arrays (duplicate keys
        # render twice, never throw), sorted for stable output
        return F.array_sort(
            F.concat(
                entries(F.col(f"{prefix}_strings")),
                entries(
                    F.transform_values(
                        F.col(f"{prefix}_integers"), lambda _, v: v.cast("string")
                    )
                ),
                entries(
                    F.transform_values(
                        F.col(f"{prefix}_longs"), lambda _, v: v.cast("string")
                    )
                ),
                entries(
                    F.transform_values(
                        F.col(f"{prefix}_bytes"), lambda _, v: F.hex(v)
                    )
                ),
            )
        )

    qualified = F.concat(F.col("database"), F.lit("."), F.col("table"))
    insert_sql = F.concat(
        F.lit("INSERT INTO "), qualified,
        F.lit(" SET "), F.array_join(kv_pairs("new"), ", "),
    )
    update_sql = F.concat(
        F.lit("UPDATE "), qualified,
        F.lit(" SET "), F.array_join(kv_pairs("new"), ", "),
        F.lit(" WHERE "), F.array_join(kv_pairs("old"), " AND "),
    )
    delete_sql = F.concat(
        F.lit("DELETE FROM "), qualified,
        F.lit(" WHERE "), F.array_join(kv_pairs("old"), " AND "),
    )
    return df.withColumn(
        "sql_text",
        F.when(F.col("op") == "insert", insert_sql)
        .when(F.col("op") == "update", update_sql)
        .when(F.col("op") == "delete", delete_sql)
        .otherwise(F.upper(F.col("op"))),
    )
