"""Scale toolkit: shuffle-elimination and skew-mitigation helpers.

The reference never joins (SURVEY.md §2.3), so it never faces the two
dominant costs of a 100 TB join: the shuffle itself and the straggler
partition a hot key creates. These helpers package the standard Spark
remedies so pipelines built on this engine apply them declaratively:

- ``write_bucketed`` / co-located reads: pre-shuffle a table ONCE at
  write time (hash-bucketed by join key, sorted within buckets); every
  later join/aggregation on that key reads bucket-aligned partitions
  and skips its exchange entirely (proved by plan assertion in
  tests/test_scale.py).
- ``salted_join``: spread each hot key over ``n_salt`` sub-keys by
  salting the skewed side and replicating the other side, bounding the
  largest shuffle partition at 1/n_salt of the hot key's rows. AQE's
  skew-join handles most cases automatically (split-on-read of
  oversized partitions); explicit salting remains the tool when one
  key exceeds what a single task can hold even post-split, or when
  AQE is unavailable (e.g. inside a streaming foreachBatch).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SALT = "__salt"

# Boundary-sketch accuracy FLOOR for exact_ntile_multi's coarse
# buckets. UNLIKE the catalog's PCTL_ACCURACY (which is part of
# declared sketch outputs), this knob can NEVER change a result: the
# boundaries only BALANCE the coarse buckets, and the rank arithmetic
# is exact for any monotone bucketing applied consistently to both
# plan sides (the frozen-literal design). It only trades sketch cost
# against balance, and balance needs accuracy >> P (P = the bucket
# count, defaultParallelism by default): GK rank error is ≤ n/accuracy
# per boundary while a bucket's fair share is n/P, so the effective
# accuracy is max(this floor, 10·P) — at accuracy 10·P a bucket can be
# off its share by ≤10%, and on a thousands-of-cores production
# session a FIXED 1000 would equal or exceed the bucket width and
# collapse buckets (round-11 ADVICE). The 1000 floor keeps bench-scale
# cost down: 10_000 (the round-10 value, inherited from PCTL_ACCURACY)
# paid ~10x the GK merge work for balance precision the 1/32-wide
# local buckets cannot use (OPTIMIZATION_r11.md).
NTILE_SKETCH_ACCURACY = 1_000
# The >> multiplier of the accuracy-vs-P scaling above. A module
# constant (not an inline literal) so the can't-move-results pin
# (tests/test_scale.py) can sweep the EFFECTIVE accuracy down to a
# degenerate value — with the factor fixed, max(acc, 10·P) floors at
# 10·P and the degenerate-boundary case would be untestable.
NTILE_SKETCH_MIN_PER_BUCKET = 10


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str | list[str],
    n_buckets: int,
    path: str,
    sort: bool = True,
) -> None:
    """Persist ``df`` hash-bucketed (and bucket-sorted) by ``key``.

    This is the pay-once side of shuffle elimination: two tables
    bucketed by their join key with the same bucket count join with
    NO exchange on either side — the scan itself is the partitioning.
    The parquet files land at ``path``; the table is registered in the
    session catalog under ``table`` (external, so dropping the table
    keeps the files)."""
    keys = [key] if isinstance(key, str) else list(key)
    w = df.write.mode("overwrite").bucketBy(n_buckets, *keys)
    if sort:
        w = w.sortBy(*keys)
    w.option("path", path).format("parquet").saveAsTable(table)


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: str | list[str],
    n_salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Join ``skewed`` (the side with hot keys) to ``other`` on the
    equi-key(s) ``on``, spreading every key across ``n_salt`` shuffle
    sub-partitions.

    The skewed side gets a uniform random salt in [0, n_salt); the
    other side is replicated once per salt value via an exploded
    sequence (so its shuffle volume grows n_salt×: keep ``other`` the
    smaller side, and prefer plain broadcast when it fits). Supported
    ``how``: inner / left / left_semi / left_anti — the salted column
    pair extends the equi-join, which preserves exactly those
    semantics; right/full would need the salt on the other side.

    The salt is drawn with a fixed seed: correctness never depends on
    WHICH salt a row gets (every salt value of a key meets every
    replicated row of that key), so task retries re-drawing a
    different value are harmless."""
    keys = [on] if isinstance(on, str) else list(on)
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti"):
        raise ValueError(f"salted_join does not support how={how!r}")
    for side_name, side in (("skewed", skewed), ("other", other)):
        if _SALT in side.columns:
            # the sibling operators all fence their internal names;
            # without this, withColumn silently OVERWRITES a caller
            # column named __salt and drop() removes it from the
            # output (round-10 review)
            raise ValueError(
                f"salted_join reserves the column name {_SALT!r}; "
                f"rename it on the {side_name} side first"
            )
    left = skewed.withColumn(_SALT, (F.rand(42) * n_salt).cast("int"))
    right = other.withColumn(
        _SALT, F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    joined = left.join(right, keys + [_SALT], how)
    return joined.drop(_SALT)


def exact_ntile(
    df: DataFrame,
    k: int,
    order_cols: list[str],
    partitions: int | None = None,
    out_col: str = "ntile",
) -> DataFrame:
    """Distributed exact NTILE(k) over a GLOBAL ordering — the
    scale-safe form of ``ntile(k).over(Window.orderBy(...))``, which
    Spark plans as a single-partition window (the whole table sorts
    through one task; the one operator shape that cannot survive a
    100x scale-up).

    Single-axis convenience over :func:`exact_ntile_multi` — ONE
    implementation of the two-pass distributed ranking (round-8
    review retired this function's older eager localCheckpoint +
    per-partition-count form, whose partition-assignment determinism
    hazard and two build jobs the multi-axis operator was explicitly
    designed to remove; every contract — bit-equality with the window
    NTILE, NULLS FIRST, strict-total-order requirement — now lives in
    one place).

    ``order_cols`` must be a strict total order (include a unique
    tiebreak column) — the same requirement that makes the
    single-partition NTILE deterministic in the first place.

    NOTE: construction still runs ONE driver job when called (the
    shared boundary sketch; see exact_ntile_multi) — callers composing
    lazy pipelines should use :func:`exact_ntile_fn`."""
    return exact_ntile_multi(df, k, [(out_col, order_cols)], partitions)


def exact_ntile_fn(
    k: int,
    order_cols: list[str],
    partitions: int | None = None,
    out_col: str = "ntile",
) -> Callable[[DataFrame], DataFrame]:
    """Deferred form of :func:`exact_ntile` for callers that COMPOSE
    pipelines rather than execute them immediately (foreachBatch
    bodies, repeatedly-rebuilt plans): returns a ``df -> DataFrame``
    closure, so the eager two-job offset computation (range-partition
    materialize + P-scalar collect) is paid when the closure runs on a
    concrete batch — by construction per EXECUTION, never at pipeline
    build. Building the closure itself runs zero Spark jobs (pinned by
    tests/test_scale.py). Typical use::

        bucketize = exact_ntile_fn(10, ["balance", "id"])
        stream.writeStream.foreachBatch(
            lambda batch, _id: sink(bucketize(batch))).start()
    """
    def apply(df: DataFrame) -> DataFrame:
        return exact_ntile(df, k, order_cols, partitions, out_col)

    return apply


def exact_ntile_multi(
    df: DataFrame,
    k: int,
    axes: list[tuple[str, list[str]]],
    partitions: int | None = None,
) -> DataFrame:
    """Exact NTILE(k) over SEVERAL independent global orderings of the
    same relation, for ONE driver job at build — the multi-axis form
    :func:`exact_ntile` callers (RFM segmentation: recency, frequency,
    monetary) would otherwise pay two eager jobs PER AXIS for.

    ``axes`` is ``[(out_col, order_cols), ...]`` where
    ``order_cols[0]`` is the axis's numeric ranking key and the rest
    the unique tiebreak (same strict-total-order requirement as
    exact_ntile).

    Mechanism — same two-pass distributed ranking idea, restructured
    so everything data-dependent is IN-PLAN:

    1. ONE aggregate collects approximate quantile boundaries for ALL
       axes (percentile_approx is a mergeable sketch — this is the
       sampling pass of a classic distributed sort). The boundaries
       only need to BALANCE the buckets, never to be exact: they are
       frozen into the plan as literals, so every subtree that
       derives a row's coarse bucket derives the identical one — no
       localCheckpoint, and no reliance on exchange reuse, is needed
       for the two passes to agree (the exact_ntile determinism
       hazard this operator retires).
    2. Per axis, the coarse bucket is ``Σ[key > boundary]`` (monotone
       in the key, so buckets are contiguous key ranges); per-bucket
       counts roll up map-side, prefix-sum through a window over the
       ~P count rows (index metadata, not data), and broadcast back.
       global rank = bucket offset + per-bucket row_number; the
       NTILE bucket follows from pure integer arithmetic
       (``ceil(a/b) = (a+b-1) div b`` — engine-exact, no doubles).

    Scale shape: one boundary-sketch pass over the relation at build,
    then ONE shared count side covering ALL axes — the bucket columns
    posexplode into an (axis, bucket) stream whose counts map-side
    combine into ≤ axes·P groups, prefix-sum through a window over
    those ~axes·P count rows (index metadata, not data), and pivot
    into a single row of plain conditional sums — broadcast-joined
    ONCE, with each axis's rank offset a flat CASE whose every branch
    reads exactly ONE broadcast offset attribute (O(P) expression
    terms per axis; the round-8 form re-listed every lower bucket's
    count in every branch — O(P^2) per axis, the same
    expression-blowup class as the wide-aggregate hazard below, just
    row-side, and it would have fed tens of thousands of addition
    terms into codegen on a high-core session); per axis one window
    sort partitioned by the ~P coarse buckets — never a
    single-partition window over the data. The shared count side
    matters: Spark plans each DataFrame branch as its own subtree (no
    cross-branch exchange reuse), so the earlier per-axis
    count-aggregate-plus-join form re-derived the ENTIRE base
    relation once per axis — 8 corpus scans per action on the
    three-axis RFM caller, measured in the round-8 plan audit; this
    form plans the base exactly twice (ranking side + count side)
    regardless of axis count. NULL ranking keys land in the lowest
    bucket and rank first, matching Spark's ascending NULLS FIRST
    window order (callers comparing against engines that default
    NULLS LAST must pre-filter, the house convention).

    Disclosed limit (round-10 review): an axis whose FIRST ranking
    key is constant (or all-NULL) collapses every percentile boundary
    to one coarse bucket, and that axis's window degrades to the
    single-partition global sort this operator exists to retire — no
    distributed exact-NTILE can bucket a key with no order; pick a
    ranking key with spread (the tiebreak column alone is enough).

    Reserved namespace: every helper column this operator adds to the
    caller's relation starts with ``__entm_`` (``__entm_bk{i}``,
    ``__entm_rk{i}``, ``__entm_tot``, ``__entm_o{i}_{b}``; the
    count-side stream uses ``__entm_axis``/``__entm_bkv``/
    ``__entm_cnt``/``__entm_off``, which never touch the caller's
    relation). A caller column starting with ``__entm_`` is rejected
    up front rather than risking a crossJoin ambiguity or a silent
    drop."""
    from pyspark.sql import Window

    clash = [c for c in df.columns if c.startswith("__entm_")] + [
        name for name, _ in axes if name.startswith("__entm_")
    ]
    if clash:
        raise ValueError(
            "exact_ntile_multi reserves the __entm_ column prefix for its"
            f" internal helpers; rename caller column(s)/out_col(s) {clash}"
        )
    if k < 1:
        # fail fast like window ntile(k) does at analysis: k=0 would
        # otherwise die mid-job on DIVIDE_BY_ZERO (ANSI) after the
        # boundary sketch already ran, and k<0 would silently emit
        # wrong bucket numbers (round-10 review)
        raise ValueError(f"ntile k must be >= 1, got {k}")
    P = partitions or df.sparkSession.sparkContext.defaultParallelism
    fracs = [i / P for i in range(1, P)]
    # P == 1 → no interior boundaries to sketch: skip the collect
    # entirely and let every axis take the lit(0) single-bucket path
    # (percentile_approx over an empty F.array() would otherwise lean
    # on array<null>→array<double> coercion for a discarded aggregate
    # — an analysis-failure risk on single-core sessions)
    bounds_row = (
        df.agg(
            *[
                F.percentile_approx(
                    order_cols[0],
                    F.array(*[F.lit(f) for f in fracs]),
                    # accuracy must stay >> P for the buckets to
                    # balance (see NTILE_SKETCH_ACCURACY's comment);
                    # inert at bench scale (10·32 < 1000)
                    F.lit(
                        max(
                            NTILE_SKETCH_ACCURACY,
                            NTILE_SKETCH_MIN_PER_BUCKET * P,
                        )
                    ),
                ).alias(f"_b{i}")
                for i, (_out, order_cols) in enumerate(axes)
            ]
        ).collect()[0]
        if fracs
        else None
    )

    def _bound_lit(b) -> str:
        # typed SQL literals so the frozen boundaries compare exactly:
        # longs stay integral (L), decimals stay decimal (BD), floats
        # round-trip through repr
        import decimal

        if isinstance(b, bool):
            raise TypeError("boolean ranking keys are not orderable buckets")
        if isinstance(b, int):
            return f"{b}L"
        if isinstance(b, decimal.Decimal):
            return f"{b}BD"
        return f"CAST('{b!r}' AS DOUBLE)"

    # Per-axis coarse-bucket expressions, built once and reused by BOTH
    # the ranking side and the shared counts side (same frozen-literal
    # expressions, so the two sides derive identical buckets without
    # any exchange-reuse dependence).
    bucket_exprs: list = []
    bounds_per_axis: list[list] = []
    for i, (out_col, order_cols) in enumerate(axes):
        key = order_cols[0]
        bounds = (
            sorted({b for b in (bounds_row[f"_b{i}"] or []) if b is not None})
            if bounds_row is not None
            else []
        )
        bounds_per_axis.append(bounds)
        if bounds:
            # NO lambdas here, by hard-won necessity: the offs subtree
            # and the assignment subtree both contain the base
            # relation, and when their join is analyzed Spark's
            # DeduplicateRelations rewrites one branch's attribute
            # ids — references nested under a HigherOrderFunction
            # (filter/transform lambda) are left behind and the plan
            # dies with INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND (at
            # analysis with a python-built lambda, at RUNTIME with an
            # expr-built one — both observed; pinned by
            # tests/test_scale.py's raw-relation and NULL-key cases).
            # A flat CASE sum survives the rewrite and codegens fine
            # at any realistic P. NULL keys fail every comparison and
            # land in bucket 0, ranking first (NULLS FIRST).
            bucket_exprs.append(
                F.expr(
                    "("
                    + " + ".join(
                        f"(CASE WHEN {key} > {_bound_lit(b)} THEN 1 ELSE 0 END)"
                        for b in bounds
                    )
                    + ")"
                )
            )
        else:  # P == 1 or empty input: one coarse bucket
            bucket_exprs.append(F.lit(0))

    # ONE shared counts side for ALL axes: a single map-side-combinable
    # aggregate over the ORIGINAL relation (never the progressively
    # joined `out` — building on `out` would nest earlier axes'
    # subtrees; building per axis re-derived the whole base relation
    # once per axis) producing, on one row, every axis's per-bucket
    # rank OFFSET plus the shared total.
    # The per-bucket counts come off a POSEXPLODE-stacked (axis,
    # bucket) stream, NOT a wide one-shot aggregate of per-bucket
    # conditional sums: Catalyst inlines the bucket alias into every
    # referencing aggregate column, so the wide form embedded the
    # ~P-branch boundary CASE in each of its ~P·axes counts and
    # whole-stage codegen spent MINUTES building the generated-source
    # string inside the broadcast thread, thrashing the driver heap
    # until the build died as "Not enough memory to build and
    # broadcast" (thread-dumped live: AggregateCodegenSupport
    # .doProduceWithoutKeys). Here each bucket expression evaluates
    # exactly once per row in the explode projection; the (axis,
    # bucket) counts map-side combine into ≤ axes·P groups; prefix
    # sums run through ONE window over that tiny relation (missing —
    # empty — buckets contribute 0 to any later bucket's prefix by
    # construction, so group gaps are harmless); and the final
    # one-row pivot aggregates CHEAP attribute comparisons over the
    # tiny relation. The broadcast child therefore stays a PLAIN
    # aggregate of simple conditional sums — nothing ever merges
    # composite expressions back into its aggregate list (the codegen
    # hazard above), and the row side reads each offset as ONE
    # attribute instead of re-summing counts per CASE branch (the
    # O(P^2) shape ADVICE r8 flagged).
    stacked = df.select(
        F.posexplode(
            F.array(
                *[
                    bucket_exprs[i].cast("int")
                    for i in range(len(axes))
                ]
            )
        ).alias("__entm_axis", "__entm_bkv")
    )
    per_bucket = stacked.groupBy("__entm_axis", "__entm_bkv").agg(
        F.count(F.lit(1)).alias("__entm_cnt")
    )
    pre_w = (
        Window.partitionBy("__entm_axis")
        .orderBy("__entm_bkv")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    per_bucket = per_bucket.withColumn(
        "__entm_off",
        F.coalesce(F.sum("__entm_cnt").over(pre_w), F.lit(0)).cast("long"),
    )
    off_aggs = []
    for i, bounds in enumerate(bounds_per_axis):
        # bucket 0's offset is identically 0 — no column needed
        for b in range(1, len(bounds) + 1):
            off_aggs.append(
                F.coalesce(
                    F.sum(
                        F.when(
                            (F.col("__entm_axis") == i)
                            & (F.col("__entm_bkv") == b),
                            F.col("__entm_off"),
                        )
                    ),
                    # an EMPTY bucket b has no count row, so its pivot
                    # sum is NULL — and no data row carries bk = b, so
                    # no CASE branch ever reads it; 0 just keeps the
                    # broadcast row total
                    F.lit(0),
                )
                .cast("long")
                .alias(f"__entm_o{i}_{b}")
            )
    one = per_bucket.agg(
        # every row lands in exactly one axis-0 bucket, so the axis-0
        # count sum IS the relation's row count
        F.coalesce(
            F.sum(
                F.when(F.col("__entm_axis") == 0, F.col("__entm_cnt"))
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("__entm_tot"),
        *off_aggs,
    )

    out = df
    for i, _ in enumerate(axes):
        out = out.withColumn(f"__entm_bk{i}", bucket_exprs[i])
    out = out.crossJoin(F.broadcast(one))
    for i, (out_col, order_cols) in enumerate(axes):
        bk, rk, tot = f"__entm_bk{i}", f"__entm_rk{i}", "__entm_tot"
        n_buckets = len(bounds_per_axis[i]) + 1
        # flat CASE (never a lambda — the DeduplicateRelations note
        # above) mapping the row's coarse bucket to the broadcast-side
        # prefix-sum attribute for that bucket — ONE attribute read
        # per branch, O(P) terms per axis
        if n_buckets == 1:
            off = F.lit(0).cast("long")
        else:
            off = F.expr(
                "CASE "
                + " ".join(
                    f"WHEN {bk} = {b} THEN "
                    + (
                        "CAST(0 AS BIGINT)"
                        if b == 0
                        else f"__entm_o{i}_{b}"
                    )
                    for b in range(n_buckets)
                )
                + " END"
            )
        rank = off + F.row_number().over(
            Window.partitionBy(bk).orderBy(*order_cols)
        )
        # NTILE arithmetic on exact ranks: with n rows the first
        # n mod k buckets take (n div k)+1 rows, the rest n div k —
        # all-integer ceil division (ceil(a/b) = (a+b-1) div b) keeps
        # the buckets bit-identical to the window function.
        ntile = F.expr(
            f"CAST(CASE WHEN {rk} <= ({tot} % {k}) * ({tot} div {k} + 1)"
            f" THEN ({rk} + {tot} div {k}) div ({tot} div {k} + 1)"
            f" ELSE {tot} % {k}"
            f"  + ({rk} - ({tot} % {k}) * ({tot} div {k} + 1)"
            f"     + greatest({tot} div {k}, 1) - 1)"
            f"    div greatest({tot} div {k}, 1)"
            f" END AS INT)"
        )
        out = out.withColumn(rk, rank).withColumn(out_col, ntile).drop(rk)
    drop_cols = (
        [f"__entm_bk{i}" for i in range(len(axes))]
        + ["__entm_tot"]
        + [
            f"__entm_o{i}_{b}"
            for i, bounds in enumerate(bounds_per_axis)
            for b in range(1, len(bounds) + 1)
        ]
    )
    return out.drop(*drop_cols)
