"""Similarity search over the ``embeddings`` table (array<float>, 64-d).

Approximate-nearest-neighbor surface for a training-data pipeline,
built filter-then-verify: interchangeable candidate generators (all
rows for brute force, range search and the batched form; the probed
cells for IVF; hash-bucket collisions for the LSH and batched-LSH
forms) feed ONE exact scorer (_score) and one of three tails (top-k,
rank ≤ k per query, cosine threshold). Every DuckDB oracle of that
family comes from one template (_ann_oracle). The index-build side
(centroids, k-means cells) and the corpus audits (validation, norms,
outliers, int8 quantization) share the same quantized domain.

All of it uses the quantized-integer cosine core in functions.vector
(round(x*1e4) → BIGINT; exact integer dots/norms; one final double
op), so results are bit-identical between Spark and the DuckDB oracle.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vector import (
    QSCALE,
    QUANTIZE_DUCKDB,
    cosine,
    cosine_duckdb,
    norm2,
    norm2_duckdb,
    quantize,
)
from .catalog import (
    load_tables,
    register,
    round4_double_sql,
    round_div_sql,
    scale_out,
)

_QUERY_VEC_ID = 0  # the corpus vector used as the search query
_TOP_K = 10
_IVF_NPROBE = 2  # clusters searched in the IVF variant
_DIMS = 64  # embedding width

_SQL_QUANT = f"""
      SELECT vec_id, label, {QUANTIZE_DUCKDB} AS qv
      FROM embeddings
"""


def _sql_norm(extra: str = "") -> str:
    return f"""
      SELECT vec_id, label, qv, {norm2_duckdb("qv")} AS nrm2{extra}
      FROM q
"""


def _centroid_sums(df: DataFrame, key: str) -> DataFrame:
    """Per-``key`` exact integer per-dim sums in ONE map-side-
    combinable aggregation WITHOUT exploding the corpus (guide §2.4
    — aggregate first, explode after or never): _DIMS long SUM
    buffers plus one COUNT replace a posexplode → groupBy(key, dim) →
    regroup-to-array pipeline (−2 Exchange −1 Generate). This is the
    ONE shared spelling behind every Spark-side centroid build (IVF
    probe, embedding_centroids, k-means update, embedding_outliers),
    so the "same centroid formula" guarantee cannot drift; each
    consumer's DuckDB oracle sums ``qv[i]`` over an
    ``UNNEST(range(1, _DIMS+1))`` cross-join and ``c`` counts vectors
    per key.

    The kernels are strict on ragged vectors: under ANSI mode
    ``element_at`` past the array end raises
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT, so one short vector fails the
    whole query. validate_embeddings is the firewall that keeps such
    rows out (pinned by
    tests/test_vector.py::test_embedding_firewall_quarantines_and_unblocks_kernels).
    Returns (key, c, s1..s64)."""
    return df.groupBy(key).agg(
        F.count(F.lit(1)).alias("c"),
        *[
            F.sum(F.element_at("qv", i)).alias(f"s{i}")
            for i in range(1, _DIMS + 1)
        ],
    )


# DuckDB twin of _centroid_sums + _centroid_array_sql over a ``q``
# relation: per-(label, dim) sum ``s`` and count ``c``, then the
# ROUND-mean centroid list ``cv`` per label.
_CENTROID_CTES = f"""cexp AS (
      SELECT label, i, SUM(qv[i]) AS s, COUNT(*) AS c
      FROM q, (SELECT UNNEST(range(1, {_DIMS + 1})) AS i)
      GROUP BY label, i),
    cent AS (
      SELECT label, list(CAST({round_div_sql("s", "c", "//")} AS BIGINT) ORDER BY i) AS cv
      FROM cexp GROUP BY label)"""


def _centroid_array_sql() -> str:
    """``array(CAST(round_div(s_i, c) AS BIGINT), ...)`` over a
    _centroid_sums row — the ROUND-mean centroid vector, exact
    integer arithmetic, one expression per dim."""
    return (
        "array("
        + ", ".join(
            f"CAST({round_div_sql(f's{i}', 'c', 'div')} AS BIGINT)"
            for i in range(1, _DIMS + 1)
        )
        + ")"
    )


def _spark_quantized(
    spark: SparkSession, sf_dir: str, rebalance: bool = True
) -> DataFrame:
    """Quantized (vec_id, label, qv, nrm2) over the embeddings table.

    ``rebalance=True`` (the corpus side) spreads a few-file table
    across all cores before the per-row scoring work. Pass
    ``rebalance=False`` for BROADCAST query-side extractions: the
    filtered row(s) are collapsing to a broadcast anyway, so the
    round-robin exchange + extra 32-task stage is pure overhead
    (measured ~25% of ann_topk_bruteforce wall-clock at sf0.1)."""
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    q = (scale_out(emb) if rebalance else emb).select(
        "vec_id", "label", quantize().alias("qv")
    )
    return q.withColumn("nrm2", norm2())


# ---------------------------------------------------------------------------
# filter-then-verify core: query extraction, candidate pairs, one scorer
# ---------------------------------------------------------------------------

def _sources(
    spark: SparkSession, sf_dir: str, corpus: DataFrame | None
) -> tuple[DataFrame, DataFrame]:
    """(corpus side, query source). A pre-built quantized ``corpus``
    serves as both; otherwise the query rows come from the
    un-rebalanced scan (see _spark_quantized)."""
    if corpus is not None:
        return corpus, corpus
    return (
        _spark_quantized(spark, sf_dir),
        _spark_quantized(spark, sf_dir, rebalance=False),
    )


def _query_rows(
    src: DataFrame, where: Column, *extra: Column, query_id: bool = False
) -> DataFrame:
    """The broadcast query side: the ``where`` rows of a quantized
    relation as ([query_id,] qqv, qn, *extra)."""
    key = [F.col("vec_id").alias("query_id")] if query_id else []
    return F.broadcast(
        src.filter(where).select(
            *key, F.col("qv").alias("qqv"), F.col("nrm2").alias("qn"), *extra
        )
    )


def _vs_query(cands: DataFrame, qry: DataFrame) -> DataFrame:
    """Every candidate except the query vector itself, paired with the
    single broadcast query row."""
    return cands.filter(F.col("vec_id") != _QUERY_VEC_ID).crossJoin(qry)


def _score(pairs: DataFrame) -> DataFrame:
    """The verify step every ANN variant shares: the exact quantized
    cosine of each (candidate qv/nrm2, query qqv/qn) pair."""
    return pairs.withColumn("cos_raw", cosine("qv", "nrm2", "qqv", "qn"))


def _rounded() -> Column:
    return F.expr(round4_double_sql("cos_raw")).alias("cosine")


def _top_k(scored: DataFrame) -> DataFrame:
    return (
        scored.orderBy(F.desc("cos_raw"), "vec_id")
        .limit(_TOP_K)
        .select("vec_id", "label", _rounded())
    )


def _rank_le_k(scored: DataFrame) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), "vec_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _BATCH_TOP_K)
        .select("query_id", "vec_id", "rk", _rounded())
    )


# Oracle tails over the template's ``scored`` CTE, one per Spark tail.
_TOP_K_TAIL = f"""SELECT vec_id, label, {round4_double_sql("cos_raw")} AS cosine
    FROM scored
    ORDER BY cos_raw DESC, vec_id
    LIMIT {_TOP_K}"""


def _ann_oracle(
    tail: str, *, batch: bool = False, lsh: bool = False,
    probe: str = "", cands: str = "n",
) -> str:
    """The DuckDB twin of every ANN builder: quantize → norms (plus LSH
    bucket columns) → query rows (the single query vector, or every
    ``_BATCH_QUERY_STRIDE``-th vector with ``batch``) → ``probe`` CTEs
    → ``scored`` (exact cosine of each candidate from ``cands``, the
    query itself excluded, LSH candidates restricted to a bucket
    collision) → ``tail``."""
    buckets = qbuckets = collide = ""
    if lsh:
        tables = range(len(_LSH_PAIRS))
        buckets = "".join(
            f", {e} AS b{t}" for t, e in enumerate(_lsh_bucket_exprs("qv[{i}]"))
        )
        qbuckets = "".join(f", b{t} AS qb{t}" for t in tables)
        collide = " AND ({})".format(
            " OR ".join(f"(n.b{t} = qry.qb{t})" for t in tables)
        )
    if batch:
        key, where = "vec_id AS query_id, ", f"vec_id % {_BATCH_QUERY_STRIDE} = 0"
        cols, self_id = "qry.query_id, n.vec_id", "qry.query_id"
    else:
        key, where = "", f"vec_id = {_QUERY_VEC_ID}"
        cols, self_id = "n.vec_id, n.label", _QUERY_VEC_ID
    return f"""
    WITH q AS ({_SQL_QUANT}),
    n AS ({_sql_norm(buckets)}),
    qry AS (SELECT {key}qv AS qqv, nrm2 AS qn{qbuckets} FROM n WHERE {where}),{probe}
    scored AS (
      SELECT {cols},
             {cosine_duckdb("n.qv", "n.nrm2", "qry.qqv", "qry.qn")} AS cos_raw
      FROM {cands}, qry
      WHERE n.vec_id <> {self_id}{collide})
    {tail}
    """


_BRUTEFORCE_ORACLE = _ann_oracle(_TOP_K_TAIL)


@register(
    "ann_topk_bruteforce",
    oracle=_BRUTEFORCE_ORACLE,
    tags=("ann", "similarity"),
    bench=True,
)
def ann_topk_bruteforce(
    spark: SparkSession, sf_dir: str, *, _corpus: DataFrame | None = None
) -> DataFrame:
    """Brute-force cosine top-k for one query vector: broadcast the
    query (single row), score every corpus vector map-side, then
    TakeOrderedAndProject — the exact-recall baseline.

    At 100 TB this pattern still works for *batched* queries: broadcast
    the query batch, one pass over the corpus, per-partition top-k then
    global top-k merge (Spark's sort-limit already does partial top-k
    per partition — no full sort is materialized).

    ``_corpus`` (internal): a pre-built quantized (vec_id, label, qv,
    nrm2) relation — ann_recall_check materializes the quantization
    ONCE and threads it through every variant so the composition stops
    re-planning the parquet scan per subtree. The query row is then
    extracted from the same relation (the separate rebalance=False
    scan exists only to skip scale_out, which a materialized corpus
    has already paid)."""
    n, qsrc = _sources(spark, sf_dir, _corpus)
    qry = _query_rows(qsrc, F.col("vec_id") == _QUERY_VEC_ID)
    return _top_k(_score(_vs_query(n, qry)))


# Range-search threshold: calibrated so the fixture returns a
# non-trivial set at both driver scale factors (sf0.01 ~5 rows,
# sf0.1 ~50) — the predicate applies to the RAW cosine (exact-integer
# dot/norms, one IEEE division — bit-identical across engines), the
# displayed value is rounded, same convention as the top-k family.
_RANGE_THRESHOLD = 0.25


@register(
    "ann_range_search",
    oracle=_ann_oracle(
        f"""SELECT vec_id, label, {round4_double_sql("cos_raw")} AS cosine
    FROM scored
    WHERE cos_raw >= {_RANGE_THRESHOLD}"""
    ),
    tags=("ann", "similarity", "range"),
)
def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity RANGE query: every corpus vector within cosine ≥
    _RANGE_THRESHOLD of the query vector — the radius-based sibling of
    ann_topk_bruteforce (same broadcast-query one-pass scoring, but
    the predicate is a threshold, not a rank), the shape retrieval
    uses for "all near-duplicates of X" rather than "the 10 nearest".

    Scale: identical to the brute-force pass — broadcast single-row
    query, map-side scoring, and the threshold filter prunes
    output-side, so no sort and no global ordering at all (strictly
    cheaper than top-k: TakeOrderedAndProject disappears from the
    plan). For batched range queries the LSH/IVF variants bound the
    candidate set the same way they do for top-k."""
    n, qsrc = _sources(spark, sf_dir, None)
    qry = _query_rows(qsrc, F.col("vec_id") == _QUERY_VEC_ID)
    return (
        _score(_vs_query(n, qry))
        .filter(F.col("cos_raw") >= _RANGE_THRESHOLD)
        .select("vec_id", "label", _rounded())
    )


def _ivf_oracle() -> str:
    """IVF: label = coarse cell; centroid = per-dim ROUND(AVG) of the
    quantized vectors (exact integer sums → identical centroids);
    probe the top-N cells by query·centroid cosine; exact search
    inside probed cells only."""
    cn2 = norm2_duckdb("cent.cv")
    probe = f"""
    {_CENTROID_CTES},
    cscore AS (
      SELECT cent.label,
             {cosine_duckdb("cent.cv", cn2, "qry.qqv", "qry.qn")} AS csim
      FROM cent, qry),
    probed AS (
      SELECT label FROM cscore ORDER BY csim DESC, label LIMIT {_IVF_NPROBE}),"""
    return _ann_oracle(
        _TOP_K_TAIL, probe=probe, cands="n JOIN probed USING (label)"
    )


@register(
    "ann_topk_ivf",
    oracle=_ivf_oracle(),
    tags=("ann", "similarity", "ivf"),
)
def ann_topk_ivf(
    spark: SparkSession, sf_dir: str, *, _corpus: DataFrame | None = None
) -> DataFrame:
    """IVF-pruned top-k: treat ``label`` as the coarse-quantizer cell
    (in production the cells come from k-means over a sample), rank
    cells by query·centroid similarity, exact-search only the top
    {nprobe} cells.

    100 TB path: centroids are a tiny per-cell aggregate (one map-side
    combine over the corpus, reusable across queries); the probe set
    turns a full-corpus scan into cells/nprobe of it; partition the
    corpus BY cell on disk and probing becomes partition pruning —
    the scan never reads unprobed cells.

    ``_corpus``: see ann_topk_bruteforce."""
    n, qsrc = _sources(spark, sf_dir, _corpus)
    qry = _query_rows(qsrc, F.col("vec_id") == _QUERY_VEC_ID)
    # centroids: ONE wide aggregation (64 long sums + count, no
    # corpus explode — _centroid_sums), then a row-local array repack
    cent = (
        _centroid_sums(n, "label")
        .select("label", F.expr(_centroid_array_sql()).alias("cv"))
        .withColumn("cn2", norm2("cv"))
    )
    probed = (
        cent.crossJoin(qry)
        .withColumn("csim", cosine("cv", "cn2", "qqv", "qn"))
        .orderBy(F.desc("csim"), "label")
        .limit(_IVF_NPROBE)
        .select("label")
    )
    return _top_k(_score(_vs_query(n.join(F.broadcast(probed), "label"), qry)))


# ---------------------------------------------------------------------------
# LSH-bucketed ANN: rank-comparison hash family, band-OR candidate recall
# ---------------------------------------------------------------------------

# 8 hash tables × 8 bits; bit b of table t compares dims _LSH_PAIRS[t][b]
# (1-based, derived from the fixed affine walk (17t+5b+3, 29t+11b+7) mod 64
# so both engines hardcode identical constants). Rank comparisons
# (qv[i] > qv[j]) are cosine-insensitive to vector norm and exact on the
# quantized BIGINT values — no float in the signature.
_LSH_PAIRS: list[list[tuple[int, int]]] = [
    [
        (
            (17 * t + 5 * b + 3) % 64 + 1,
            ((29 * t + 11 * b + 7) % 64 + (1 if (17 * t + 5 * b + 3) % 64 == (29 * t + 11 * b + 7) % 64 else 0)) % 64 + 1,
        )
        for b in range(8)
    ]
    for t in range(8)
]


def _lsh_bucket_exprs(elem_fmt: str) -> list[str]:
    """One integer bucket id per hash table. ``elem_fmt`` is the
    1-based element accessor with an ``{i}`` slot: Spark
    ``element_at(qv, {i})``, DuckDB ``qv[{i}]``."""
    out = []
    for table in _LSH_PAIRS:
        bits = " + ".join(
            f"(CASE WHEN {elem_fmt.format(i=i)} > {elem_fmt.format(i=j)}"
            f" THEN {1 << b} ELSE 0 END)"
            for b, (i, j) in enumerate(table)
        )
        out.append(f"({bits})")
    return out


@register(
    "ann_topk_lsh",
    oracle=_ann_oracle(_TOP_K_TAIL, lsh=True),
    tags=("ann", "similarity", "lsh"),
)
def ann_topk_lsh(
    spark: SparkSession, sf_dir: str, *, _corpus: DataFrame | None = None
) -> DataFrame:
    """LSH-bucketed top-k: 8 hash tables of 8 rank-comparison bits
    each; a corpus vector is a candidate iff it collides with the
    query in at least one table, and only candidates are exactly
    scored.

    100 TB path: the bucket columns are computed once at ingest and the
    corpus is bucket-partitioned on disk, so candidate retrieval is
    partition-pruned — per query it reads ~(collision rate) of the
    corpus instead of all of it, and the exact-scoring cost scales with
    candidates, not corpus. Recall is tunable by tables×bits (more
    tables → higher recall, more candidates); the pytest recall gate
    pins recall@{_TOP_K} against the brute-force baseline.

    ``_corpus``: see ann_topk_bruteforce."""
    n, nq = _sources(spark, sf_dir, _corpus)
    tables = range(len(_LSH_PAIRS))
    for t_i, e in zip(tables, _lsh_bucket_exprs("element_at(qv, {i})")):
        n = n.withColumn(f"b{t_i}", F.expr(e))
        nq = nq.withColumn(f"b{t_i}", F.expr(e))
    qry = _query_rows(
        nq,
        F.col("vec_id") == _QUERY_VEC_ID,
        *[F.col(f"b{t_i}").alias(f"qb{t_i}") for t_i in tables],
    )
    collide = functools.reduce(
        operator.or_, [F.col(f"b{t_i}") == F.col(f"qb{t_i}") for t_i in tables]
    )
    return _top_k(_score(_vs_query(n, qry).filter(collide)))


@register(
    "ann_topk_pandas",
    oracle=_BRUTEFORCE_ORACLE,
    tags=("ann", "similarity", "pandas-udf"),
)
def ann_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized twin of ann_topk_bruteforce: one int64
    matrix-vector product per Arrow batch (functions.vector) instead of
    per-row JVM expressions. Identical quantized arithmetic ⇒ identical
    results ⇒ the same oracle — the two plans are interchangeable and
    the faster one wins at a given embedding width/batch shape."""
    from ..functions.vector import cosine_scores_vectorized

    t = load_tables(spark, sf_dir)
    emb = scale_out(t["embeddings"])
    # query row from the UNrebalanced table: a 1-row collect through
    # the round-robin exchange is the exact overhead the module's
    # rebalance=False convention exists to avoid
    qrow = (
        t["embeddings"]
        .filter(F.col("vec_id") == _QUERY_VEC_ID)
        .select("embedding")
        .collect()
    )
    if not qrow:  # empty corpus / missing query id → empty result
        return spark.createDataFrame(
            [], "vec_id bigint, label int, cosine double"
        )
    return _top_k(
        cosine_scores_vectorized(
            emb.filter(F.col("vec_id") != _QUERY_VEC_ID), list(qrow[0][0])
        )
    )


# ---------------------------------------------------------------------------
# batched ANN: top-k per query over a query SET (the production shape)
# ---------------------------------------------------------------------------

_BATCH_QUERY_STRIDE = 100  # vec_id % stride == 0 → a query vector
_BATCH_TOP_K = 3

_RANK_TAIL = f"""SELECT query_id, vec_id, rk,
           {round4_double_sql("cos_raw")} AS cosine
    FROM (
      SELECT query_id, vec_id, cos_raw,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, vec_id) AS rk
      FROM scored)
    WHERE rk <= {_BATCH_TOP_K}"""


@register(
    "ann_topk_batch",
    oracle=_ann_oracle(_RANK_TAIL, batch=True),
    tags=("ann", "similarity", "batch"),
)
def ann_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched nearest-neighbor: top-{k} for EVERY query in a query
    set, in one corpus pass — the shape a retrieval/dedup pipeline
    actually runs (single-query top-k is the degenerate case). The
    query set broadcasts (it is the small side by construction);
    scoring is map-side against each corpus partition; the rank-≤-k
    filter on the window triggers Spark's WindowGroupLimit pushdown,
    so each partition keeps only k candidates per query BEFORE the
    query-id shuffle — the shuffled volume is O(queries·k·partitions),
    never the full scored cross product."""
    n, qsrc = _sources(spark, sf_dir, None)
    qry = _query_rows(
        qsrc, F.col("vec_id") % _BATCH_QUERY_STRIDE == 0, query_id=True
    )
    pairs = n.crossJoin(qry).filter(F.col("vec_id") != F.col("query_id"))
    return _rank_le_k(_score(pairs))


@register(
    "ann_topk_batch_lsh",
    oracle=_ann_oracle(_RANK_TAIL, batch=True, lsh=True),
    tags=("ann", "similarity", "batch", "lsh"),
)
def ann_topk_batch_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed batched ANN — the production retrieval shape for
    query SETS at corpus scale: corpus and query vectors both explode
    to long-format (table, bucket) postings, candidates come from a
    pure EQUI-JOIN on the posting key, and only candidates are exactly
    scored and ranked. Unlike ann_topk_batch (brute force — every
    query × every corpus row) the scored volume here is the bucket
    collision set, and unlike ann_topk_lsh (single query broadcast)
    nothing requires the query set to visit every corpus row.

    100 TB path: the corpus posting list (vec_id, table, bucket) is
    computed once at ingest and disk-partitioned by (table, bucket),
    so a query batch joins against — and reads — only its buckets
    (partition pruning); the candidate de-dup and the vector fetch are
    key equi-joins that shuffle candidates, never the corpus. The plan
    contains no nested-loop join anywhere (pinned in
    tests/test_plan_quality.py); the DuckDB oracle expresses the same
    band-OR candidate set relationally, so results hash-match."""
    n, qsrc = _sources(spark, sf_dir, None)
    bucket_arr = "array({})".format(", ".join(_lsh_bucket_exprs("element_at(qv, {i})")))
    is_query = F.col("vec_id") % _BATCH_QUERY_STRIDE == 0
    corpus_kv = n.select("vec_id", F.posexplode(F.expr(bucket_arr)).alias("t", "b"))
    query_kv = qsrc.filter(is_query).select(
        F.col("vec_id").alias("query_id"),
        F.posexplode(F.expr(bucket_arr)).alias("t", "b"),
    )
    cand = (
        corpus_kv.join(query_kv, ["t", "b"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()  # a pair may collide in several tables — score once
    )
    pairs = cand.join(n.select("vec_id", "qv", "nrm2"), "vec_id").join(
        _query_rows(qsrc, is_query, query_id=True), "query_id"
    )
    return _rank_le_k(_score(pairs))


# ---------------------------------------------------------------------------
# centroid build: the IVF index-construction step as a first-class query
# ---------------------------------------------------------------------------

@register(
    "embedding_centroids",
    oracle=f"""
    WITH q AS ({_SQL_QUANT}),
    {_CENTROID_CTES}
    SELECT label, CAST(i AS INT) AS dim,
           CAST({round_div_sql("s", "c", "//")} AS BIGINT) AS centroid_q,
           c AS n_vecs
    FROM cexp
    """,
    tags=("ann", "similarity", "centroids", "index-build"),
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell centroid table (label = coarse cell), long format
    (label, dim, centroid_q, n_vecs) — the index-construction half of
    the IVF path as its own artifact, reusable across every query
    batch. Centroids stay at the quantized 1e-4 integer scale (the
    same formula the IVF probe uses), so the value is engine-exact —
    re-scaling to a rounded double would land on half-ulp cases where
    Spark (BigDecimal shortest-repr) and DuckDB (raw binary) round
    differently. ONE map-side-combinable aggregation on label (64
    long sum buffers — _centroid_sums, no corpus explode) is the
    whole plan; the long (label, dim) layout is produced by exploding
    the |labels|-row RESULT, not the corpus. At 100 TB this is the
    standard one-pass reduce — no per-cell collect, no driver
    materialization."""
    n = _spark_quantized(spark, sf_dir)
    return (
        _centroid_sums(n, "label")
        .select(
            "label",
            F.col("c").alias("n_vecs"),
            F.posexplode(F.expr(_centroid_array_sql())).alias(
                "i0", "centroid_q"
            ),
        )
        .select(
            "label",
            (F.col("i0") + 1).cast("int").alias("dim"),
            "centroid_q",
            "n_vecs",
        )
    )


# ---------------------------------------------------------------------------
# k-means (Lloyd) cell construction — the IVF coarse quantizer itself
# ---------------------------------------------------------------------------

_KMEANS_K = 4
_KMEANS_ITERS = 2


def _sq_dist_sql(qv: str, cv: str) -> str:
    """Exact integer squared-L2 between two quantized lists (DuckDB)."""
    return (
        f"(SELECT SUM(({qv}[i] - {cv}[i]) * ({qv}[i] - {cv}[i]))"
        f" FROM (SELECT UNNEST(range(1, {_DIMS + 1})) AS i))"
    )


def _kmeans_oracle() -> str:
    """Lloyd's algorithm UNROLLED to fixed iterations as plain SQL —
    init from the k smallest vec_ids, integer distances, ROUND-mean
    centroid updates; ties break toward the smaller cell id. Being
    fully deterministic integer math, even this iterative algorithm
    is value-hash-checkable against Spark."""
    sql = f"WITH q AS ({_SQL_QUANT}),\n"
    sql += f"c0 AS (SELECT vec_id AS cid, qv AS cqv FROM q WHERE vec_id < {_KMEANS_K}),\n"
    prev = "c0"
    for it in range(1, _KMEANS_ITERS + 1):
        sql += f"""d{it} AS (
      SELECT q.vec_id, c.cid, {_sq_dist_sql('q.qv', 'c.cqv')} AS dist
      FROM q, {prev} c),
    a{it} AS (
      SELECT vec_id, cid AS cluster FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cid) AS rn
        FROM d{it})
      WHERE rn = 1),\n"""
        if it < _KMEANS_ITERS:
            sql += f"""e{it} AS (
      SELECT a.cluster AS cid, i, SUM(q.qv[i]) AS s, COUNT(*) AS c
      FROM q JOIN a{it} a USING (vec_id),
           (SELECT UNNEST(range(1, {_DIMS + 1})) AS i)
      GROUP BY 1, 2),
    c{it} AS (
      SELECT cid, list(CAST({round_div_sql("s", "c", "//")} AS BIGINT)
                       ORDER BY i) AS cqv
      FROM e{it} GROUP BY cid),\n"""
            prev = f"c{it}"
    sql += f"""final AS (SELECT vec_id, cluster FROM a{_KMEANS_ITERS})
    SELECT f.vec_id, f.cluster, COUNT(*) OVER (PARTITION BY f.cluster) AS cell_size
    FROM final f"""
    return sql


@register(
    "ann_kmeans_cells",
    oracle=_kmeans_oracle(),
    tags=("ann", "similarity", "kmeans", "iterative", "index-build"),
)
def ann_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means coarse quantizer (Lloyd's, fixed {iters} iterations,
    k={k}) assigning every vector to an IVF cell — the index-build
    step that plans.ann_topk_ivf's ``label`` column presupposes.

    Distributed shape (MLlib's own topology): each iteration is (a)
    one row-local assignment pass against the k×{dims} centroid
    matrix inlined as a broadcast literal — zero shuffle — and (b)
    one map-side-combinable aggregation to re-derive centroids, whose
    k rows are collected driver-side (k·{dims} integers — index
    metadata, not data). Nothing else crosses the driver. Determinism:
    init from the k smallest vec_ids, exact integer squared-L2,
    ROUND-mean updates, ties to the smaller cell — so the UNROLLED
    SQL oracle hash-matches an *iterative* algorithm."""
    # The three driver actions (init collect, centroid collect, the
    # returned plan) read one materialized corpus instead of each
    # re-planning the quantize-from-parquet scan. The trade: building
    # this query runs a job (eager checkpoint), and the checkpointed
    # blocks live only on executors, so losing one fails the query
    # (no lineage to recompute them from).
    n = _spark_quantized(spark, sf_dir).localCheckpoint(eager=True)
    cents = [
        (int(r["vec_id"]), [int(x) for x in r["qv"]])
        for r in n.filter(F.col("vec_id") < _KMEANS_K)
        .select("vec_id", "qv")
        .collect()
    ]
    cents.sort()
    if not cents:  # empty corpus → nothing to assign, empty cells
        return spark.createDataFrame(
            [], "vec_id bigint, cluster int, cell_size bigint"
        )

    def assign_col(cs: list[tuple[int, list[int]]]) -> F.Column:
        entries = ", ".join(
            f"struct(aggregate(zip_with(qv, array({', '.join(map(str, cqv))}),"
            f" (x, y) -> (x - y) * (x - y)), 0L, (acc, x) -> acc + x) AS dist,"
            f" {cid} AS cid)"
            for cid, cqv in cs
        )
        return F.expr(f"array_min(array({entries})).cid")

    assigned = None
    for it in range(1, _KMEANS_ITERS + 1):
        assigned = n.withColumn("cluster", assign_col(cents))
        if it < _KMEANS_ITERS:
            new_cents = (
                _centroid_sums(assigned, "cluster")
                .select(
                    "cluster",
                    F.expr(_centroid_array_sql()).alias("cqv"),
                )
                .collect()
            )
            cents = sorted((int(r["cluster"]), [int(x) for x in r["cqv"]]) for r in new_cents)
    w = Window.partitionBy("cluster")
    return assigned.select(
        "vec_id", "cluster", F.count("*").over(w).alias("cell_size")
    )


# ---------------------------------------------------------------------------
# input validation / quarantine (the dirty-vector firewall)
# ---------------------------------------------------------------------------

def validate_embeddings(
    df: DataFrame, dim: int = _DIMS
) -> tuple[DataFrame, DataFrame]:
    """Split an embeddings table into (valid, quarantined): valid =
    non-null vector of exactly ``dim`` finite components. The ANN /
    centroid / semantic-dedup kernels are deliberately STRICT (exact
    integer quantization under ANSI) — a single NaN, infinity, or
    wrong-dimension vector from a bad upstream encoder otherwise
    kills the whole job with CAST_OVERFLOW / array-index errors at
    any scale (measured on a planted dirty corpus: every one of the
    nine embedding queries crashed). This is the firewall a pipeline
    runs at ingest, mirroring the wire plane's dead-letter split:
    nothing is silently dropped — quarantined rows carry a reason.

    One codegen pass, no shuffle; ``forall`` short-circuits JVM-side."""
    # the lambda is NULL-safe by construction: a NULL component makes
    # `x IS NOT NULL` false rather than propagating NULL through
    # forall (a bare isnan-based predicate silently passed vectors
    # holding NULL components)
    finite = (
        "forall(embedding,"
        " x -> x IS NOT NULL AND NOT isnan(x) AND abs(x) <> float('inf'))"
    )
    reason = (
        F.when(F.col("embedding").isNull(), "null_vector")
        .when(F.size("embedding") != dim, "wrong_dim")
        .when(~F.expr(finite), "nonfinite")
    )
    tagged = df.withColumn("__reason", reason)
    valid = tagged.filter(F.col("__reason").isNull()).drop("__reason")
    quarantined = tagged.filter(F.col("__reason").isNotNull()).select(
        "vec_id", "label", F.col("__reason").alias("reason")
    )
    return valid, quarantined


@register(
    "embedding_validate",
    oracle=f"""
    WITH tagged AS (
      SELECT label,
             CASE WHEN embedding IS NULL THEN 'null_vector'
                  WHEN len(embedding) <> {_DIMS} THEN 'wrong_dim'
                  WHEN len(list_filter(embedding,
                       x -> x IS NULL OR isnan(x) OR isinf(x))) > 0
                    THEN 'nonfinite'
                  ELSE 'valid' END AS verdict
      FROM embeddings)
    SELECT label, verdict, COUNT(*) AS n
    FROM tagged GROUP BY label, verdict
    """,
    tags=("similarity", "validation", "quarantine"),
)
def embedding_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label validation verdict counts over the embeddings table —
    the audit row the firewall emits before the strict kernels run.
    The driver corpus is clean (all rows 'valid'); the dirty-corpus
    pytest sweeps planted NULL / wrong-dim / NaN vectors through both
    engines and through every downstream kernel on the validated
    side."""
    t = load_tables(spark, sf_dir)
    valid, quarantined = validate_embeddings(t["embeddings"])
    verdicts = valid.select("label", F.lit("valid").alias("verdict")).unionAll(
        quarantined.select("label", F.col("reason").alias("verdict"))
    )
    return verdicts.groupBy("label", "verdict").agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# ANN recall check: the _check-twin pattern applied to the index plane
# ---------------------------------------------------------------------------

# Per-variant recall floors against the exact baseline — ONE constant
# table shared by the query and its oracle (the sketch twins'
# single-source-of-truth rule). The floors are REGRESSION BASELINES
# measured on this corpus at sf0.01 AND sf0.1, not aspirations: the
# driver's embeddings are uniform-random, so true neighbors have no
# cluster structure and any cell/bucket pruning loses most of them by
# construction (ivf 0.3, lsh 0.1 measured at both scale factors). The
# pandas twin computes the identical quantized arithmetic, so its
# floor is exact-equivalence (1.0). On real embedding geometry the
# pruned variants' recall rises with the clusteredness; the check
# exists so an index change that drops below the measured baseline
# fails loudly.
_ANN_RECALL_FLOORS = (
    ("ivf", 3, 10),
    ("lsh", 1, 10),
    ("pandas", 10, 10),
)


def _ann_recall_oracle() -> str:
    from .catalog import QUERIES, round4_frac_sql

    ctes = [f"brute AS ({QUERIES['ann_topk_bruteforce'].oracle})"]
    rows = []
    for method, num, den in _ANN_RECALL_FLOORS:
        ctes.append(f"m_{method} AS ({QUERIES[f'ann_topk_{method}'].oracle})")
        rows.append(
            f"SELECT '{method}' AS method, {_TOP_K} AS k,"
            f" (SELECT CAST(COUNT(*) AS BIGINT) FROM brute b"
            f"  JOIN m_{method} m ON b.vec_id = m.vec_id) AS n_common"
        )
    unioned = " UNION ALL ".join(rows)
    return f"""
    WITH {", ".join(ctes)},
    counts AS ({unioned})
    SELECT method, k, n_common,
           {round4_frac_sql("n_common", str(_TOP_K), "//")} AS recall,
           CAST(CASE method
                {"".join(f" WHEN '{m}' THEN CASE WHEN n_common * {d} >= {n} * {_TOP_K} THEN 1 ELSE 0 END" for m, n, d in _ANN_RECALL_FLOORS)}
                END AS BIGINT) AS recall_ok
    FROM counts
    """


@register(
    "ann_recall_check",
    oracle=None,  # assigned below: composes the twins' registered oracles
    tags=("ann", "check", "recall"),
)
def ann_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of every ANN variant against the exact
    brute-force baseline — the sketch-twin falsifiability pattern
    applied to the index plane: approximate retrieval quality is a
    MEASURED, oracle-verified number (|variant top-k ∩ exact top-k|/k
    plus a shared-constant floor verdict), never an assumption. All
    sides reuse the registered builders/oracles verbatim, so the
    check cannot drift from what the index queries actually compute.
    See _ANN_RECALL_FLOORS for why the pruned variants' floors are
    low on THIS corpus (uniform-random vectors have no cluster
    structure) and what the check actually guards (regression below
    the measured baseline; the pandas twin must stay exact). At scale
    the same joins run over a sampled query set to regression-gate an
    index build."""
    from .catalog import round4_frac_sql

    # Materialize the quantized corpus once and thread it through
    # every JVM variant, which would otherwise re-plan the
    # quantize-from-parquet scan up to nine times per action (a session
    # cache measured slower: columnar-cache array reads tax every
    # consumer). The trade: building this query runs a job (eager
    # checkpoint), and the checkpointed blocks live only on executors,
    # so losing one fails the query (no lineage to recompute them
    # from). The pandas variant keeps its own scan: the Arrow kernel
    # path IS its declared computation.
    shared = _spark_quantized(spark, sf_dir).localCheckpoint(eager=True)
    b = ann_topk_bruteforce(spark, sf_dir, _corpus=shared).select("vec_id")
    variants = {
        "ivf": lambda: ann_topk_ivf(spark, sf_dir, _corpus=shared),
        "lsh": lambda: ann_topk_lsh(spark, sf_dir, _corpus=shared),
        "pandas": lambda: ann_topk_pandas(spark, sf_dir),
    }
    # Union the (method, id) rows of all variants FIRST, then ONE join
    # against the baseline: Spark does not reuse subtrees across union
    # branches, so the per-variant form embedded the expensive exact
    # pass once per branch (3x per action — review finding). Every
    # variant returns exactly k rows, so each method survives the
    # groupBy even at zero overlap.
    tagged = [
        variants[method]().select(
            F.lit(method).alias("method"),
            F.col("vec_id").alias("other_id"),
        )
        for method, _, _ in _ANN_RECALL_FLOORS
    ]
    u = tagged[0]
    for t in tagged[1:]:
        u = u.unionByName(t)
    per = (
        u.join(b, F.col("other_id") == F.col("vec_id"), "left")
        .groupBy("method")
        .agg(
            F.sum(F.col("vec_id").isNotNull().cast("bigint"))
            .cast("bigint")
            .alias("n_common")
        )
    )
    floors = " ".join(
        f"WHEN method = '{m}' THEN CAST(CASE WHEN n_common * {den}"
        f" >= {num} * {_TOP_K} THEN 1 ELSE 0 END AS BIGINT)"
        for m, num, den in _ANN_RECALL_FLOORS
    )
    return per.select(
        "method",
        F.lit(_TOP_K).alias("k"),
        "n_common",
        F.expr(round4_frac_sql("n_common", str(_TOP_K), "div")).alias(
            "recall"
        ),
        F.expr(f"CASE {floors} END").alias("recall_ok"),
    )


# the oracle composes the registered oracle strings, which are only
# guaranteed present after module registration completes — assign last
from .catalog import QUERIES as _QUERIES  # noqa: E402

_QUERIES["ann_recall_check"].oracle = _ann_recall_oracle()


# ---------------------------------------------------------------------------
# embedding norm profile
# ---------------------------------------------------------------------------

# |nrm2 - UNIT| beyond this is "off-unit": the fixture's normalized
# vectors sit within ~2e4 of exact unit norm in the quantized domain,
# so 1e4 splits the population and both branches get driver coverage.
_UNIT_NRM2 = QSCALE * QSCALE
_NORM_DRIFT = 10_000


@register(
    "embedding_norm_profile",
    oracle=f"""
    WITH q AS ({_SQL_QUANT}),
    n AS ({_sql_norm()})
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(MIN(nrm2) AS BIGINT) AS min_nrm2,
           CAST(MAX(nrm2) AS BIGINT) AS max_nrm2,
           CAST({round_div_sql('CAST(SUM(nrm2) AS HUGEINT)', 'COUNT(*)', '//')}
             AS BIGINT) AS avg_nrm2,
           CAST(SUM(CASE WHEN ABS(nrm2 - {_UNIT_NRM2}) > {_NORM_DRIFT}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_off_unit
    FROM n
    WHERE qv IS NOT NULL
    GROUP BY label
    """,
    tags=("embedding", "audit", "norm"),
)
def embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-corpus norm audit per label: the quantized squared
    norm's min/max/rounded mean and how many vectors sit more than
    _NORM_DRIFT off exact unit norm — the sanity report a pipeline
    runs before trusting cosine kernels that ASSUME normalization
    (the brute-force/IVF/LSH family divides by these norms). Shares
    the similarity plane's quantized integer domain (_SQL_QUANT /
    _spark_quantized), so every statistic is exact integer arithmetic
    on both engines.

    Scale shape: one scan, row-local transform + fold, one label
    exchange for the aggregate — map-side combinable throughout."""
    n = _spark_quantized(spark, sf_dir).filter(F.col("qv").isNotNull())
    return n.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.min("nrm2").cast("long").alias("min_nrm2"),
        F.max("nrm2").cast("long").alias("max_nrm2"),
        # WIDE domain: round_div doubles the numerator, and with
        # nrm2 ~ 1e8 per unit vector 2*SUM leaves BIGINT near 4.6e10
        # rows per label — ANSI Spark would throw where DuckDB's SUM
        # auto-promotes to HUGEINT (review pass 4)
        F.expr(
            round_div_sql(
                "CAST(SUM(nrm2) AS DECIMAL(38,0))", "COUNT(*)", "div"
            )
        )
        .cast("long")
        .alias("avg_nrm2"),
        F.sum(
            (
                F.abs(F.col("nrm2") - _UNIT_NRM2) > _NORM_DRIFT
            ).cast("int")
        )
        .cast("long")
        .alias("n_off_unit"),
    )


# ---------------------------------------------------------------------------
# per-label outliers: members farthest from their own centroid
# ---------------------------------------------------------------------------

_OUTLIERS_PER_LABEL = 3


@register(
    "embedding_outliers",
    oracle=f"""
    WITH q0 AS ({_SQL_QUANT}),
    q AS (SELECT * FROM q0 WHERE qv IS NOT NULL),
    {_CENTROID_CTES},
    d AS (
      SELECT q.vec_id, q.label, {_sq_dist_sql("qv", "cv")} AS dist2
      FROM q JOIN cent USING (label)
      WHERE qv IS NOT NULL),
    r AS (
      SELECT vec_id, label, dist2,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY dist2 DESC, vec_id) AS rk
      FROM d)
    SELECT label, CAST(rk AS INT) AS rk, vec_id, CAST(dist2 AS BIGINT) AS dist2
    FROM r WHERE rk <= {_OUTLIERS_PER_LABEL}
    """,
    tags=("embedding", "outliers", "curation"),
)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label outlier report: the _OUTLIERS_PER_LABEL members
    FARTHEST from their own label centroid by exact integer squared
    distance in the quantized domain — the mislabeled/contaminated-
    cluster detector a curation pass runs over an embedding corpus
    (SemDeDup keeps the closest; this surfaces the opposite tail).
    Same centroid formula as embedding_centroids/the IVF probe, so
    index and audit can never disagree; ties break by vec_id.

    Scale shape: ONE per-label map-side-combinable aggregate (64
    long sum buffers, no corpus explode — _centroid_sums) builds the
    centroid table (|labels| x 64 — broadcast onto the corpus scan),
    squared distances are row-local zip_with folds, and the top-k
    window runs per label over already-scored rows.

    NULL-embedding rows are excluded on BOTH engines up front (the
    dirty-vector case embedding_validate quarantines): the oracle's
    UNNEST cross-join would otherwise COUNT such rows into the
    centroid divisor while Spark's posexplode drops them — a measured
    centroid divergence class (review pass 4)."""
    n = _spark_quantized(spark, sf_dir).filter(F.col("qv").isNotNull())
    cent = _centroid_sums(n, "label").select(
        "label", F.expr(_centroid_array_sql()).alias("cv")
    )
    d = n.join(F.broadcast(cent), "label").select(
        "vec_id",
        "label",
        F.expr(
            "aggregate(zip_with(qv, cv, (x, c) -> (x - c) * (x - c)),"
            " CAST(0 AS BIGINT), (acc, y) -> acc + y)"
        ).alias("dist2"),
    )
    w = Window.partitionBy("label").orderBy(F.desc("dist2"), "vec_id")
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _OUTLIERS_PER_LABEL)
        .select("label", F.col("rk").cast("int").alias("rk"), "vec_id", "dist2")
    )


# ---------------------------------------------------------------------------
# int8 storage-quantization audit
# ---------------------------------------------------------------------------

# symmetric signed-int8 code range: round(x * 127 / scale) on [-127, 127]
_INT8_LEVELS = 127


@register(
    "embedding_quantize_int8",
    oracle=f"""
    WITH q0 AS ({_SQL_QUANT}),
    q AS (SELECT * FROM q0 WHERE qv IS NOT NULL),
    ex AS (
      SELECT vec_id, i, qv[i] AS x
      FROM q, (SELECT UNNEST(range(1, {_DIMS + 1})) AS i)),
    s AS (SELECT i, MAX(ABS(x)) AS scale_q FROM ex GROUP BY i),
    c AS (
      SELECT ex.i, scale_q, x,
             CASE WHEN scale_q = 0 THEN 0 ELSE
               {round_div_sql(f"x * {_INT8_LEVELS}", "scale_q", "//")}
             END AS code
      FROM ex JOIN s USING (i)),
    e AS (
      SELECT i, scale_q,
             ABS(x - {round_div_sql("code * scale_q",
                                    str(_INT8_LEVELS), "//")}) AS err
      FROM c)
    SELECT CAST(i AS INT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(scale_q AS BIGINT) AS scale_q,
           CAST(MAX(err) AS BIGINT) AS max_err_q,
           CAST({round_div_sql("CAST(SUM(err) AS HUGEINT)",
                               "COUNT(*)", "//")} AS BIGINT) AS avg_err_q,
           CAST(SUM(CASE WHEN err = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact
    FROM e GROUP BY i, scale_q
    """,
    tags=("embedding", "quantization", "storage"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension int8 storage-quantization audit: for the
    symmetric affine code ``round(x·127 / max|x|)`` (the standard
    int8 vector-index compression — 4x smaller than float32 on the
    wire and in an ANN index), report each dimension's scale, its
    worst and rounded-mean reconstruction error, and how many values
    survive the round trip exactly. The whole audit runs in the
    similarity plane's quantized BIGINT domain (_SQL_QUANT), so
    encode, decode and error are exact integer arithmetic via the
    round_div helpers — both engines see identical codes, identical
    errors (units of 1e-4). An all-zero dimension (scale 0) encodes
    to code 0 with zero error rather than dividing by zero. The
    theoretical error bound scale/(2·127) + rounding is pinned in
    tests/test_vector.py — a broken encoder cannot pass.

    Scale shape: the anomaly-report topology — one posexplode into a
    64-group map-side-combinable MAX, the tiny per-dim scale table
    broadcast back onto the exploded stream, then the same 64-group
    rollup. Nothing driver-side, nothing quadratic; fanout is
    dim x corpus rows on both passes."""
    n = _spark_quantized(spark, sf_dir).filter(F.col("qv").isNotNull())
    ex = n.select(F.posexplode("qv").alias("i0", "x")).select(
        (F.col("i0") + 1).alias("i"), "x"
    )
    s = ex.groupBy("i").agg(F.max(F.abs(F.col("x"))).alias("scale_q"))
    c = ex.join(F.broadcast(s), "i").withColumn(
        "code",
        F.when(F.col("scale_q") == 0, F.lit(0)).otherwise(
            F.expr(round_div_sql(f"x * {_INT8_LEVELS}", "scale_q", "div"))
        ),
    )
    e = c.withColumn(
        "err",
        F.abs(
            F.col("x")
            - F.expr(
                round_div_sql("code * scale_q", str(_INT8_LEVELS), "div")
            )
        ),
    )
    return e.groupBy("i", "scale_q").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.max("err").cast("long").alias("max_err_q"),
        F.expr(
            round_div_sql("CAST(SUM(err) AS DECIMAL(38,0))", "COUNT(*)", "div")
        )
        .cast("long")
        .alias("avg_err_q"),
        F.sum((F.col("err") == 0).cast("int")).cast("long").alias("n_exact"),
    ).select(
        F.col("i").cast("int").alias("dim"),
        "n_vecs",
        F.col("scale_q").cast("long").alias("scale_q"),
        "max_err_q",
        "avg_err_q",
        "n_exact",
    )
