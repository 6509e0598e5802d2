"""Document deduplication operators over the ``documents`` table.

Large-scale training-data pipeline ops (not present in the reference,
which has no document plane — these are the engine's scale-out
additions): exact dedup, n-gram Jaccard, MinHash+LSH, SimHash, and
embedding-cosine near-dup.

Cross-engine determinism tricks that make the sketch ops ORACLE-CHECKABLE
(rare for MinHash implementations):
- **60-bit portable shingle ids**: md5 renders as fixed-width
  lowercase hex in both Spark and DuckDB; its 15-char prefix parses
  to the same 60-bit integer in both engines (Spark
  ``conv(…,16,10)``, DuckDB ``CAST('0x'||… AS BIGINT)``). Every
  downstream op keys on this integer instead of the shingle text —
  8-byte shuffle keys, long-typed intersections — and both engines
  see identical values (collisions included), so SQL oracles still
  hash-match.
- **MinHash via md5-seeded universal hashing**: the K minhash
  orderings are ``(a_i·x + b_i) mod (2^31-1)`` over the top 28 bits
  of that one shared digest (``hsh >> 32``) — exact integer
  arithmetic, engine-identical, one md5 per shingle instead of K.
- **Quantized-integer cosine** (the shared core in functions.vector):
  embeddings are quantized to BIGINT (round(x*10000)); dot products
  and norms are then *exact integer sums* — independent of summation
  order — and the single final division+sqrt on identical integers is
  bit-identical.

Scale notes (100 TB): everything is shuffle-on-key (shingle / band /
hash / bucket); no cross join ever touches the full corpus. Pair
generation is bounded by an inverted-index join (docs sharing a
shingle/band), the standard web-scale dedup topology.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vector import QUANTIZE_DUCKDB, cosine, cosine_duckdb, norm2, norm2_duckdb, quantize
from .catalog import ASCII_LOWER, ASCII_UPPER, ascii_fold_sql, floor4_frac_sql, load_tables, register, round4_double_sql, round4_frac_sql, scale_out

# 3-word shingles; docs shorter than 3 words are kept verbatim (no pairs).
_SHINGLE_WORDS = 3
# MinHash: 16 hashes in 4 bands of 4 rows.
_MINHASH_K = 16
_LSH_BANDS = 4
_LSH_ROWS = 4
_JACCARD_THRESHOLD = 0.5
# Stop-shingle cap: posting lists longer than this are dropped from
# the inverted index BEFORE pair generation. The index's candidate
# fanout is Σ_s C(df_s, 2) — one boilerplate shingle with df=10⁶ alone
# yields ~5·10¹¹ pairs at 100 TB; the cap bounds every shingle's
# contribution to C(cap, 2) and the per-group posting-list memory to
# cap entries. A shingle shared by >cap documents carries no near-dup
# signal anyway (it's corpus boilerplate). Candidates that do surface
# are verified against their FULL shingle sets, so the cap only ever
# loses pairs whose EVERY shared prefix shingle is boilerplate
# (false-negative-only) — it never creates a false positive.
_STOP_SHINGLE_DF_CAP = 1000


# ---------------------------------------------------------------------------
# shared shingle plumbing (Spark side)
# ---------------------------------------------------------------------------

def _with_shingle_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, n_sh, hsh: array<bigint>) — per document, the count of
    distinct 3-word shingles and their 60-bit content hashes.

    Built-in higher-order functions only (no UDF): split → transform
    over an index sequence → distinct → md5-prefix hash. Stays inside
    whole-stage codegen and involves NO shuffle — per-doc quantities
    (shingle count, minhash signature) derive from the array with
    array_min / size instead of an explode+groupBy round trip. The
    split runs once per row (``words`` is a named intermediate, not
    re-evaluated per shingle).

    The 60-bit hash (leading 15 hex chars of md5, parsed as an
    integer) replaces the shingle STRING everywhere downstream: the
    inverted-index shuffle key shrinks from ~20 bytes of text to 8
    bytes (measured ~2× on the jaccard pipeline), array_intersect
    compares longs instead of strings, and the persisted shared table
    (see shingle_arrays) stores longs. Both engines derive the SAME
    integer from the same text (Spark conv(hex,16,10), DuckDB
    CAST('0x'||hex AS BIGINT)), so every downstream op — including any
    of the ~n²/2⁶¹ hash collisions — is engine-identical and the SQL
    oracles still hash-match. n_sh counts distinct STRING shingles
    (computed before hashing), so Jaccard denominators are exact."""
    return (
        scale_out(docs)
        .select("doc_id", F.split("text", " ").alias("words"))
        .select(
            "doc_id",
            # The `if` guard is load-bearing: Spark's sequence(a, b) is
            # bidirectional, so for a doc shorter than the shingle
            # window `sequence(1, 0)` yields the DESCENDING [1, 0] —
            # and slice(words, 0, …) is a runtime error. Docs with
            # fewer than _SHINGLE_WORDS words have zero shingles.
            F.expr(
                f"""
                if(size(words) < {_SHINGLE_WORDS}, array(),
                  array_distinct(transform(
                    sequence(1, size(words) - {_SHINGLE_WORDS - 1}),
                    i -> array_join(slice(words, i, {_SHINGLE_WORDS}), ' ')
                  )))
                """
            ).alias("shingles"),
        )
        .select(
            "doc_id",
            F.size("shingles").alias("n_sh"),
            F.expr(
                "array_distinct(transform(shingles, s ->"
                " cast(conv(substring(md5(cast(s as binary)), 1, 15), 16, 10)"
                " as bigint)))"
            ).alias("hsh"),
        )
    )


# Sorted-bucket pair emission over a ``ids`` (sorted doc_id array)
# column: all a<b pairs as (doc_a, doc_b) structs. One expression for
# every in-bucket pair generator that uses the plain doc-pair shape
# (simhash-check exact pairs, winnow candidates) — a slice off-by-one
# fix must land everywhere at once.
_IDS_PAIRS_EXPR = """
    flatten(transform(ids, (a, i) ->
      transform(slice(ids, i + 2, size(ids) - i - 1), b ->
        struct(a AS doc_a, b AS doc_b))))
    """

_SHINGLE_CACHE: dict[tuple[str, str], DataFrame] = {}

# Two-level locking for the module's session caches (shingles, pairs,
# leakage-safe split). _CACHE_LOCK guards only DICT operations
# (lookup, store, dead-session eviction, build-lock registry) — held
# for microseconds. Each (cache, key) gets its OWN reentrant build
# lock, so two concurrent first callers of the SAME relation are
# serialized (the second finds the first's result — no duplicate
# persisted DataFrame, no duplicate eager components run), while a
# long EAGER build (the split cache runs checkpoint jobs at build)
# never stalls unrelated lookups of other caches or corpora. Build
# locks are RLocks and acquired in dependency order only (split →
# pairs → shingles), so no cycles. Stale build-lock entries for dead
# sessions are bounded (sessions × corpora) and harmless.
_CACHE_LOCK = threading.RLock()
_BUILD_LOCKS: dict[tuple[int, str, str], threading.RLock] = {}


def _session_cached(
    cache: dict[tuple[str, str], DataFrame],
    spark: SparkSession,
    sf_dir: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Shared get-or-build for the session-persisted relations.

    Keyed on (applicationId, normpath(sf_dir)): applicationId, not
    id(spark), because CPython can hand a new session a GC'd
    session's address, which would serve a persisted DataFrame bound
    to a dead SparkContext; normpath so 'path' and 'path/' don't
    double-cache (and double-persist) the same corpus. Entries owned
    by other (stopped) sessions are evicted on access — only one
    SparkSession exists per process, so any entry under a different
    app id is dead; unpersist is best-effort (its context may already
    be gone) so the cached relation doesn't leak across sessions."""
    app_id = spark.sparkContext.applicationId
    key = (app_id, os.path.normpath(sf_dir))
    with _CACHE_LOCK:
        for k in [k for k in cache if k[0] != app_id]:
            df = cache.pop(k)
            try:
                df.unpersist()
            except Exception:  # owning SparkContext already stopped
                pass
        df = cache.get(key)
        if df is not None:
            return df
        build_lock = _BUILD_LOCKS.setdefault(
            (id(cache), *key), threading.RLock()
        )
    with build_lock:
        # double-check: the racing first caller may have finished
        with _CACHE_LOCK:
            df = cache.get(key)
            if df is not None:
                return df
        built = build()
        with _CACHE_LOCK:
            cache[key] = built
        return built


def shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized, persisted (doc_id, n_sh, hsh) table over
    the fixture documents — the ONE shingle pass shared by every
    shingle-consuming dedup op (exact Jaccard, MinHash+LSH, SimHash,
    component clustering). Splitting+shingling+digesting dominates all
    of them, and their semantics all start from the same 60-bit
    hashed-shingle arrays, so computing it per query is pure repeated
    work; storing longs (not shingle text) keeps the cached relation
    ~3× smaller and cheap to deserialize.

    100 TB analog: a materialized shingle table written once per
    corpus snapshot and read by every dedup job. In-process it is a
    persisted DataFrame (MEMORY_AND_DISK — spills instead of evicting
    under pressure); Spark's cache manager substitutes it by plan
    subtree, so all four queries hit the same cached relation."""
    from pyspark import StorageLevel

    return _session_cached(
        _SHINGLE_CACHE,
        spark,
        sf_dir,
        lambda: _with_shingle_arrays(
            load_tables(spark, sf_dir)["documents"]
        ).persist(StorageLevel.MEMORY_AND_DISK),
    )


# DuckDB twin of the exploded shingle form (1-based list indexing).
_SQL_SHINGLES = f"""
  SELECT doc_id, UNNEST(list_distinct(list_transform(
           range(1, greatest(len(string_split(text, ' ')) - {_SHINGLE_WORDS - 2}, 1)),
           i -> string_split(text, ' ')[i] || ' ' ||
                string_split(text, ' ')[i+1] || ' ' ||
                string_split(text, ' ')[i+2]))) AS shingle
  FROM documents
"""

# DuckDB twin of the 60-bit shingle hash: same md5 prefix, same
# integer, so intersections/df-caps over hashed shingles are
# engine-identical (see _with_shingle_arrays).
_SQL_HSH_FROM_SH0 = """
  SELECT DISTINCT doc_id,
         CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS shingle
  FROM sh0
"""

# DuckDB twin of the EXACT pairwise intersection — shared by the
# jaccard-pair and connected-components oracles. Denominator counts
# come from the STRING shingles (pre-hash, like Spark's n_sh); the
# intersection runs over the hashed form. Deliberately NOT a mirror of
# the Spark path's candidate pruning (prefix filter + stop-shingle
# cap): prefix filtering is provably lossless and the df cap only
# bites above _STOP_SHINGLE_DF_CAP (never at fixture scale), so the
# exact form is a STRONGER check — a pruning bug that drops a true
# pair shows up as a hash mismatch instead of being replicated in the
# oracle. The above-cap divergence is pinned by the planted-skew
# pytest instead (tests/test_dedup.py).
_SQL_JACCARD_CTES = f"""
    sh0 AS ({_SQL_SHINGLES}),
    counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh0 GROUP BY doc_id),
    shh AS ({_SQL_HSH_FROM_SH0}),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM shh a JOIN shh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
"""

# The qualifying-pair CTE over those intersections — ONE definition of
# "a near-dup pair" shared by the components oracle and the
# split/decontamination chain (_SPLIT_CTES), so a threshold or
# denominator change can never make them disagree. Expects
# _SQL_JACCARD_CTES in scope; defines relation ``jpairs``.
_SQL_JPAIRS_CTE = f"""jpairs AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN counts ca ON ca.doc_id = i.doc_a
      JOIN counts cb ON cb.doc_id = i.doc_b
      WHERE CAST(i.n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - i.n_common)
            >= {_JACCARD_THRESHOLD})"""


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash,
           MIN(doc_id) AS canonical_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
    tags=("dedup", "exact"),
    bench=True,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, keep the smallest doc_id
    as canonical. One shuffle on the 128-bit content hash — uniformly
    distributed, so no skew at any scale; this is the 100 TB-safe way
    to dedup (never a self-join on raw text)."""
    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, inverted-index join)
# ---------------------------------------------------------------------------

@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SQL_JACCARD_CTES}
    SELECT i.doc_a, i.doc_b,
           {round4_frac_sql('i.n_common', 'ca.n_sh + cb.n_sh - i.n_common', '//')}
             AS jaccard
    FROM inter i
    JOIN counts ca ON ca.doc_id = i.doc_a
    JOIN counts cb ON cb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - i.n_common)
          >= {_JACCARD_THRESHOLD}
    """,
    tags=("dedup", "jaccard"),
    bench=True,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via a prefix-filtered
    inverted index (see jaccard_pairs_from_arrays: only each doc's
    first size−⌈t·n⌉+1 sorted shingle hashes are indexed — lossless —
    then candidates verify with one exact array_intersect; never a
    cross join). Jaccard = |∩| / (|A|+|B|-|∩|) from integer counts, so
    the value is engine-exact before the final rounding.

    100 TB note: the index fanout is Σ_s C(df_s, 2) over PREFIX
    postings only (~4× smaller at t=0.5), and the stop-shingle cap
    (_STOP_SHINGLE_DF_CAP) bounds every term to C(cap, 2)."""
    return _jaccard_pairs(spark, sf_dir)


def jaccard_pairs_from(
    docs: DataFrame, df_cap: int = _STOP_SHINGLE_DF_CAP
) -> DataFrame:
    """(doc_a, doc_b, jaccard) pairs at ≥ threshold from any
    (doc_id, text) DataFrame — shared by the registered query, the
    component-clustering step, and the planted-skew tests."""
    return jaccard_pairs_from_arrays(_with_shingle_arrays(docs), df_cap)


def jaccard_pairs_from_arrays(
    arr: DataFrame, df_cap: int = _STOP_SHINGLE_DF_CAP
) -> DataFrame:
    """(doc_a, doc_b, jaccard) display form of
    :func:`jaccard_pairs_raw` — the exact-integer round4 rounding
    applied to the qualifying pairs (see the rounding note there)."""
    return jaccard_pairs_raw(arr, df_cap).select(
        "doc_a",
        "doc_b",
        F.expr(
            round4_frac_sql("CAST(n_common AS BIGINT)", "CAST(na AS BIGINT) + nb - n_common", "div")
        ).alias("jaccard"),
    )


def jaccard_pairs_raw(
    arr: DataFrame, df_cap: int = _STOP_SHINGLE_DF_CAP
) -> DataFrame:
    """Qualifying pairs WITH their exact intersection counts
    (doc_a, doc_b, n_common, na, nb) — the verified relation before
    display rounding, exposed so consumers needing the counts (the
    estimator-accuracy check) reuse the one pipeline instead of
    re-joining shingle arrays and re-running array_intersect.

    Starts from a precomputed (doc_id, n_sh, hsh) table —
    the entry point used with the shared ``shingle_arrays`` relation
    so the shingling pass is computed once per session.

    Prefix-filtered similarity join (the AllPairs/PPJoin family,
    Bayardo et al. WWW'07 / Xiao et al. WWW'08 — public algorithms):
    only each doc's first ``size - ceil(t·n_sh) + 1`` shingle hashes
    (in the global ascending-hash order) enter the inverted index.
    Lossless: if J(A,B) ≥ t then |A∩B| ≥ ceil(t·max(|A|,|B|)), and the
    smallest common hash must sit within BOTH prefixes (pigeonhole —
    at most ceil(t·n)−1 elements follow it on either side), so every
    qualifying pair still collides in some posting list. At t=0.5 this
    halves the index and cuts the candidate-mention volume ~4×
    (fanout is quadratic in posting-list length).

    Candidates are then verified EXACTLY: one ``array_intersect`` over
    the full hash arrays, via two joins back to ``arr`` (broadcast at
    small corpus sizes under AQE; hash joins on uniformly-distributed
    doc_id at scale). n_common over full arrays means no second
    pair-mention shuffle — the candidate set, already deduplicated and
    length-filtered, is tiny relative to the mention stream.

    Stop-shingle cap: posting lists longer than ``df_cap`` are dropped
    before pair generation, bounding every fanout term to C(cap, 2)
    and the per-group memory to cap structs — corpus boilerplate
    (a shingle in millions of docs) can never quadratically explode.
    Only pairs whose EVERY shared prefix hash is above the cap are
    lost (false-negative-only, planted-skew test pins the behavior)."""
    t = float(_JACCARD_THRESHOLD)
    pref = arr.select(
        "doc_id",
        "n_sh",
        F.expr(
            f"slice(array_sort(hsh), 1,"
            f" greatest(size(hsh) - cast(ceil({t} * n_sh) as int) + 1, 0))"
        ).alias("pref"),
    )
    # posexplode: the shingle's 1-based POSITION inside the doc's
    # sorted prefix feeds the PPJoin positional filter below
    sh = pref.select(
        "doc_id", "n_sh", F.posexplode("pref").alias("pos0", "shingle")
    ).withColumn("pos", F.col("pos0") + 1).drop("pos0")
    # Inverted index as ONE aggregation: collect each prefix hash's
    # posting list and emit candidate pairs from the sorted array with
    # higher-order functions — half the shuffle of the classic
    # self-join (one copy of the postings instead of two) and no
    # sort-merge-join sort. Round 6 fuses the cap-slack facts into
    # this SAME posting-list relation: the round-5 plan paid a second
    # shingle-keyed count aggregation plus a doc-keyed aggregation
    # over a RE-COMPUTED mention stream, serialized BEFORE the heavy
    # groupBy (~0.5 s fixed stage overhead at sf0.1, 1.75 s
    # fastest-of-5). Now the slack derives from grouped_all itself by
    # exploding only the >cap lists — rare by construction (the cap
    # exists precisely because such shingles are boilerplate
    # outliers) — and joins the PAIR stream, so it runs concurrently
    # with pair generation instead of gating it.
    grouped_all = sh.groupBy("shingle").agg(
        F.sort_array(
            F.collect_list(F.struct("doc_id", "n_sh", "pos"))
        ).alias("docs")
    )
    # per-doc count of capped (dropped) prefix shingles — the
    # positional filter's lossless slack below. Spark plans each
    # reference to grouped_all as its own exchange+aggregate subtree
    # (no static ReusedExchange across the branches — measured, not
    # assumed), so every reference costs a posting-list aggregation.
    # Hence the slack joins ONE side only (doc_a), keeping exactly one
    # extra reference: the symmetric two-sided min(nca, ncb) form
    # planned the subtree twice and measured 1.58 s at sf0.1 vs
    # 1.30 s one-sided (round-5 serialized count+join form: 1.75 s) —
    # and one-sided slack is strictly safe (losslessness note at the
    # filter). This branch also runs CONCURRENTLY with pair
    # generation instead of gating the heavy aggregation's input, the
    # other half of the round-5 overhead.
    capped_counts = (
        grouped_all.filter(F.size("docs") > df_cap)
        .select(F.explode(F.col("docs.doc_id")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_capped"))
    )
    grouped = grouped_all.filter(
        (F.size("docs") >= 2) & (F.size("docs") <= df_cap)
    )
    pairs = grouped.select(
        F.explode(
            F.expr(
                """
                flatten(transform(docs, (a, i) ->
                  transform(slice(docs, i + 2, size(docs) - i - 1), b ->
                    struct(a.doc_id AS doc_a, b.doc_id AS doc_b,
                           a.n_sh AS na, b.n_sh AS nb,
                           a.pos AS pa, b.pos AS pb))))
                """
            )
        ).alias("p")
    ).select("p.*")
    # Two prunes before the distinct shuffle (both lossless, the
    # second via the capped-count slack):
    # - length bound: J ≤ min/max of the set sizes — applied FIRST so
    #   the slack joins below see the already-thinned pair stream;
    # - PPJoin positional filter (Xiao et al. WWW'08 §3.2): J(A,B) ≥ t
    #   needs overlap α = ceil(t/(1+t)·(|A|+|B|)); a mention at sorted
    #   positions (pa, pb) can contribute at most the elements AT OR
    #   AFTER it on both sides — min(na-pa, nb-pb) + 1 — plus at most
    #   min(nca, ncb) common hashes hiding in dropped hot lists below
    #   it. The filter uses nca ALONE, which only ever ENLARGES the
    #   allowance (nca ≥ min(nca, ncb)): every pair the exact-slack
    #   filter keeps, this one keeps too — losslessness is preserved
    #   a fortiori — and the pruning it gives up (pairs whose a-side
    #   doc is hot-heavy but whose b-side is not) is bought back
    #   threefold by planning the capped subtree once (see above).
    #   A qualifying pair's first surviving mention passes the bound,
    #   so keeping a pair when ANY mention passes loses nothing —
    #   while pairs that only share late, deep-prefix hashes drop
    #   before they ever shuffle.
    # No broadcast HINT on the slack join: capped_counts is one row
    # per doc touching a hot shingle — corpus boilerplate can make
    # that ~every doc, and a forced broadcast of a docs-sized table
    # dies at exactly the scales the cap targets. AQE broadcasts it at
    # runtime when it is actually small (the usual case) and falls
    # back to a shuffled join that scales when it is not.
    alpha = (
        F.ceil(F.lit(t / (1.0 + t)) * (F.col("na") + F.col("nb"))).cast("int")
    )
    length_ok = pairs.filter(
        F.least("na", "nb").cast("double") >= F.lit(t) * F.greatest("na", "nb")
    )
    nca = capped_counts.select(
        F.col("doc_id").alias("doc_a"), F.col("n_capped").alias("nca")
    )
    cand = (
        length_ok.join(nca, "doc_a", "left")
        .withColumn("slack", F.coalesce(F.col("nca"), F.lit(0)))
        .filter(
            F.least(F.col("na") - F.col("pa"), F.col("nb") - F.col("pb"))
            + 1
            + F.col("slack")
            >= alpha
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    a = arr.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"), F.col("hsh").alias("ha")
    )
    b = arr.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"), F.col("hsh").alias("hb")
    )
    verified = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ha", "hb")).alias("n_common"),
            "na",
            "nb",
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    # Threshold on the raw double (equal rationals divide identically);
    # DISPLAY rounding in exact integer arithmetic — ROUND(double, 4)
    # diverges between engines when p/q's shortest repr lands on a .5
    # boundary (e.g. 87/160 = 0.54375).
    return verified.filter(jac >= t)


def _jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jaccard pairs over the fixture documents, via the shared
    session-persisted shingle table."""
    return jaccard_pairs_from_arrays(shingle_arrays(spark, sf_dir))


_PAIR_CACHE: dict[tuple[str, str], DataFrame] = {}


def jaccard_pairs_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized, persisted qualifying-pair relation
    (doc_a, doc_b, n_common, na, nb) over the fixture corpus — the
    materialized near-dup PAIR table every pair CONSUMER reads
    (component clustering, the cluster-size histogram via components,
    the LSH tuning report's ground truth, the estimator check, the
    leakage-safe split), so the AllPairs verification join runs once
    per session instead of once per consumer; at 100 TB this is the
    pair table a dedup run writes once and every downstream job
    reads. The REGISTERED dedup_ngram_jaccard stays on the uncached
    path so its pinned plan (two shingle exchanges, no cartesian)
    keeps describing the real pipeline, and the cache only ever holds
    qualifying pairs — output-sized, not candidate-sized. Same
    eviction discipline as the shingle cache (entries of dead
    sessions dropped on access, via the same lock-guarded
    _session_cached); persist is lazy, so building the plan stays
    free until a consumer acts."""
    from pyspark import StorageLevel

    return _session_cached(
        _PAIR_CACHE,
        spark,
        sf_dir,
        lambda: jaccard_pairs_raw(shingle_arrays(spark, sf_dir)).persist(
            StorageLevel.MEMORY_AND_DISK
        ),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (oracle-checkable via md5-seeded universal hashing)
# ---------------------------------------------------------------------------

# One md5 per shingle; the K minhash orderings derive from its leading
# 28 bits through a universal hash family h_i(x) = (a_i·x + b_i) mod p.
# This replaces K md5 calls per shingle with ONE (the digest work was
# >90% of the signature stage) and keeps both engines in lockstep:
# Spark parses the hex prefix with conv(…,16,10), DuckDB with
# CAST('0x'||… AS BIGINT) — identical integers, identical mins.
# p = 2^31-1 (Mersenne prime); a_i·x < 2^31·2^28 = 2^59 never
# overflows BIGINT. Constants come from a fixed seeded PRNG so the
# family is baked identically into the plan and the oracle SQL.
_MINHASH_PRIME = (1 << 31) - 1


def _minhash_constants() -> list[tuple[int, int]]:
    import random

    rng = random.Random(0x5EED)
    return [
        (rng.randrange(1, _MINHASH_PRIME), rng.randrange(0, _MINHASH_PRIME))
        for _ in range(_MINHASH_K)
    ]


_MINHASH_AB = _minhash_constants()


def _minhash_sig_cols() -> list[F.Column]:
    """h_i = min over the doc's shingle ARRAY of (a_i·md5int + b_i)
    mod p — array_min over integer transforms of the shared ``md5i``
    column, evaluated row-local in whole-stage codegen with no explode
    and no aggregation shuffle. Requires a prior
    ``.withColumn("md5i", _MD5_INT_ARRAY)`` so the digest runs once."""
    return [
        F.expr(
            f"array_min(transform(md5i, h -> ({a}L * h + {b}L) % {_MINHASH_PRIME}L))"
        ).alias(f"h{i}")
        for i, (a, b) in enumerate(_MINHASH_AB)
    ]


def _md5_int_array() -> F.Column:
    """28-bit integer per shingle: the top 28 bits of the shared
    60-bit shingle hash (7 leading hex chars = bits 59..32), so the
    signature stage reuses the already-computed ``hsh`` array instead
    of re-digesting. A function, not a module constant: F.expr needs
    an active SparkContext."""
    return F.expr("transform(hsh, h -> shiftright(h, 32))")


def _band_exprs(prefix: str = "") -> list[str]:
    """band_j = md5 of its _LSH_ROWS ':'-joined minhash integers.
    Integers render as decimal strings under both engines' implicit
    concat coercion, and both implicitly cast the joined string for
    md5 — the expression text is valid Spark SQL *and* DuckDB SQL."""
    sep = " || ':' || "
    out = []
    for bnd in range(_LSH_BANDS):
        cols = [f"{prefix}h{bnd * _LSH_ROWS + r}" for r in range(_LSH_ROWS)]
        out.append(f"md5({sep.join(cols)})")
    return out


def _sql_sigs_cte(sh_rel: str) -> str:
    """The 16-minhash signature CTE over a hashed-shingle relation —
    the SQL twin of _sig_stage, factored so the estimator-accuracy
    oracle and the LSH chain sign through the identical family."""
    mh = ",\n           ".join(
        f"MIN(({a} * (shingle >> 32)"
        f" + {b}) % {_MINHASH_PRIME}) AS h{i}"
        for i, (a, b) in enumerate(_MINHASH_AB)
    )
    return f"""sigs AS (
      SELECT doc_id, {mh}
      FROM {sh_rel} GROUP BY doc_id)"""


def _sql_lsh_cand_ctes(sh_rel: str) -> str:
    """The LSH candidate-generation CTE chain (sigs, bands,
    small_buckets, cand) over a hashed-shingle relation named
    ``sh_rel`` — ONE definition shared by the dedup_minhash_lsh
    oracle and the tuning report's oracle, so the candidate semantics
    (hash family, banding, hot-bucket cap) cannot drift between the
    query and the report that grades it. Signatures come from the top
    28 bits of the shared 60-bit shingle hash, exactly mirroring the
    Spark path."""
    bands = _band_exprs()
    band_union = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {bnd} AS band_key, {j} AS band_id FROM sigs"
        for j, bnd in enumerate(bands)
    )
    return f"""{_sql_sigs_cte(sh_rel)},
    bands AS (
      {band_union}),
    small_buckets AS (
      SELECT band_id, band_key FROM bands
      GROUP BY 1, 2 HAVING COUNT(*) <= {_STOP_SHINGLE_DF_CAP}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN small_buckets s
        ON s.band_id = a.band_id AND s.band_key = a.band_key
      JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id)"""


def _minhash_oracle() -> str:
    return f"""
    WITH sh0 AS ({_SQL_SHINGLES}),
    sh AS ({_SQL_HSH_FROM_SH0}),
    {_sql_lsh_cand_ctes("sh")},
    counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh0 GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2)
    SELECT i.doc_a, i.doc_b,
           {round4_frac_sql('i.n_common', 'ca.n_sh + cb.n_sh - i.n_common', '//')}
             AS jaccard
    FROM inter i
    JOIN counts ca ON ca.doc_id = i.doc_a
    JOIN counts cb ON cb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - i.n_common)
          >= {_JACCARD_THRESHOLD}
    """


@register(
    "dedup_minhash_lsh",
    oracle=_minhash_oracle(),
    tags=("dedup", "minhash", "lsh"),
    bench=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: shingle → one md5 each → 16 universal-hash
    minhashes → 4 bands of 4 → band-bucket join → candidate pairs →
    exact-Jaccard verification of candidates only.

    This is the 100 TB dedup path: the only joins are (a) docs sharing
    an LSH band (tiny buckets by construction) and (b) the shingle
    intersection of *candidate* pairs — the full pairwise space is
    never materialized. The md5-seeded integer hash family (see module
    docstring) makes the whole pipeline engine-deterministic, hence
    the SQL oracle, and costs one digest per shingle instead of 16."""
    # Per-doc shingle ARRAYS feed the signature path and both sides of
    # the verification join; the shared session-persisted shingle table
    # (see shingle_arrays) means split+shingling runs once per corpus,
    # not once per query.
    return minhash_pairs_from_arrays(shingle_arrays(spark, sf_dir))


def _sig_stage(arr: DataFrame) -> DataFrame:
    """(doc_id, n_sh, h0..h15) signatures from a shingle-array table —
    row-local array expressions, NO shuffle (pinned). Zero-shingle
    docs are excluded here for every caller: array_min over an empty
    array is NULL, NULL band keys group together, and downstream
    verification would divide by zero (see the note in
    minhash_pairs_from_arrays)."""
    return (
        arr.filter(F.col("n_sh") > 0)
        .withColumn("md5i", _md5_int_array())
        .select("doc_id", "n_sh", *_minhash_sig_cols())
    )


def _band_stage(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_key) LSH band postings — one posexplode
    over an array literal of the band keys, one pass over sigs
    instead of a bands-way union."""
    band_arr = F.array(*[F.expr(bx) for bx in _band_exprs()])
    return sigs.select(
        "doc_id", F.posexplode(band_arr).alias("band_id", "band_key")
    )


def lsh_candidates_from_arrays(arr: DataFrame) -> DataFrame:
    """(doc_a, doc_b) LSH candidate pairs from a shingle-array table —
    the banding stage BEFORE exact verification, extracted so the
    tuning report can grade the candidate set itself. Candidate pairs
    come as ONE aggregation per band bucket (same posting-list
    topology as jaccard_pairs_from): collect each bucket's member
    list, emit ordered pairs from the sorted array — one copy of the
    bucket rows shuffles instead of the self-join's two, and bucket
    size bounds per-group memory by construction. Same cap discipline
    as the jaccard inverted index: a bucket of k boilerplate
    near-copies emits C(k,2) pairs, so an uncapped hot bucket is
    quadratic — every band term is bounded to C(cap, 2)
    (false-negative-only; the oracle applies the identical bound)."""
    bands = _band_stage(_sig_stage(arr))
    return (
        bands.groupBy("band_id", "band_key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .filter(
            (F.size("docs") >= 2) & (F.size("docs") <= _STOP_SHINGLE_DF_CAP)
        )
        .select(
            F.explode(
                F.expr(
                    """
                    flatten(transform(docs, (a, i) ->
                      transform(slice(docs, i + 2, size(docs) - i - 1), b ->
                        struct(a AS doc_a, b AS doc_b))))
                    """
                )
            ).alias("p")
        )
        .select("p.*")
        .distinct()
    )


def minhash_pairs_from_arrays(arr: DataFrame) -> DataFrame:
    """MinHash+LSH pairs from any (doc_id, n_sh, hsh) table — the
    testable core of :func:`dedup_minhash_lsh` (mirrors
    :func:`jaccard_pairs_from_arrays`)."""
    # 16 minhashes + shingle count per doc, all row-local array
    # expressions — the signature stage involves NO shuffle at all
    # (the old form exploded shingles and re-aggregated by doc_id).
    # ``md5i`` is a named intermediate so the one-digest-per-shingle
    # array is computed once and shared by all 16 minhash transforms.
    # Zero-shingle docs (shorter than the n-gram window) are excluded
    # BEFORE signing: array_min over an empty array is NULL, NULL band
    # keys group together, and the pair verification divides by
    # na+nb-n_common = 0 — an ANSI DIVIDE_BY_ZERO that killed the
    # query on any corpus with two such docs. The oracle never sees
    # them either (they produce no exploded-shingle rows).
    cand = lsh_candidates_from_arrays(arr)
    # Verify candidates only: pull both shingle arrays in by doc_id and
    # count the overlap with array_intersect (arrays are distinct by
    # construction, so |intersect| is the exact shingle intersection).
    # Replaces the old exploded two-sided intersection join + re-agg +
    # two count joins: five shuffles become two.
    sa = arr.alias("sa")
    sb = arr.alias("sb")
    pairs = (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sa.hsh", "sb.hsh")).alias("n_common"),
            F.col("sa.n_sh").alias("na"),
            F.col("sb.n_sh").alias("nb"),
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    # Same raw-threshold / exact-display split as jaccard_pairs_from_arrays.
    return pairs.filter(jac >= _JACCARD_THRESHOLD).select(
        "doc_a",
        "doc_b",
        F.expr(
            round4_frac_sql("CAST(n_common AS BIGINT)", "CAST(na AS BIGINT) + nb - n_common", "div")
        ).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# LSH tuning report (candidate precision/recall vs exact ground truth)
# ---------------------------------------------------------------------------

# the standard (1/b)^(1/r) banding threshold — the STEEPEST-SLOPE
# point of the S-curve (MMDS ch.3), NOT the 50% collision point: at
# this Jaccard a pair collides with 1-(1-1/b)^b ~ 68% for 4x4 (the
# exact 50% point is (1-2^(-1/b))^(1/r) ~ 0.632). Reported under the
# standard name; computed once in Python and embedded as the SAME
# literal in both plans
_LSH_S_THRESHOLD = (1.0 / _LSH_BANDS) ** (1.0 / _LSH_ROWS)


@register(
    "dedup_lsh_tuning_report",
    oracle=f"""
    WITH {_SQL_JACCARD_CTES},
    {_SQL_JPAIRS_CTE},
    {_sql_lsh_cand_ctes("shh")},
    t AS (SELECT COUNT(*) AS n_true FROM jpairs),
    c AS (SELECT COUNT(*) AS n_candidates FROM cand),
    h AS (SELECT COUNT(*) AS n_hits
          FROM cand JOIN jpairs USING (doc_a, doc_b))
    SELECT CAST({_LSH_BANDS} AS INT) AS bands,
           CAST({_LSH_ROWS} AS INT) AS rows_per_band,
           CAST({_LSH_S_THRESHOLD!r} AS DOUBLE) AS s_curve_threshold,
           CAST(n_true AS BIGINT) AS n_true,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_hits AS BIGINT) AS n_hits,
           CASE WHEN n_candidates > 0 THEN
             {round4_frac_sql("n_hits", "n_candidates", "//")} END
             AS precision4,
           CASE WHEN n_true > 0 THEN
             {round4_frac_sql("n_hits", "n_true", "//")} END AS recall4
    FROM t, c, h
    """,
    tags=("dedup", "lsh", "tuning", "report"),
)
def dedup_lsh_tuning_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row LSH banding scorecard: the configured (bands, rows)
    scheme's standard (1/b)^(1/r) threshold (the S-curve's
    steepest-slope point — see the constant's note: pairs THERE
    collide ~68%, the 50% point sits lower), the exact-Jaccard
    ground-truth pair
    count, the LSH candidate count, and the candidates' precision and
    recall against that ground truth — the report that decides
    whether a 100 TB dedup run can trust its banding before paying
    for the full corpus pass, and the first number to re-check after
    tuning bands/rows or the shingle width. Both sides derive the
    candidate set through the ONE shared CTE/stage definition the
    real query uses (a report computed from a parallel implementation
    could silently grade the wrong pipeline). Precision grades bucket
    sharpness (how much verification work is wasted); recall grades
    how much truth the banding surfaces at the query's 0.5 threshold
    — BELOW the 4x4 banding threshold of ~0.707, so recall < 1 here is the
    configured trade, not a bug (the recall-floor pytest pins the
    planted-near-dup behavior separately).

    Scale shape: the two pair pipelines this grades are the scalable
    ones (inverted-index and band-bucket topologies, shared shingle
    pass); the report adds one hash semi-join of candidate pairs
    against true pairs plus three one-row aggregates joined by
    broadcast — nothing new touches the corpus."""
    arr = shingle_arrays(spark, sf_dir)
    true_pairs = jaccard_pairs_shared(spark, sf_dir).select("doc_a", "doc_b")
    cand = lsh_candidates_from_arrays(arr)
    hits = cand.join(true_pairs, ["doc_a", "doc_b"], "left_semi")
    n_true = true_pairs.agg(F.count(F.lit(1)).alias("n_true"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_hits = hits.agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        n_true.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_hits))
        .select(
            F.lit(_LSH_BANDS).cast("int").alias("bands"),
            F.lit(_LSH_ROWS).cast("int").alias("rows_per_band"),
            F.lit(_LSH_S_THRESHOLD).cast("double").alias("s_curve_threshold"),
            F.col("n_true").cast("long").alias("n_true"),
            F.col("n_candidates").cast("long").alias("n_candidates"),
            F.col("n_hits").cast("long").alias("n_hits"),
            F.when(
                F.col("n_candidates") > 0,
                F.expr(round4_frac_sql("n_hits", "n_candidates", "div")),
            ).alias("precision4"),
            F.when(
                F.col("n_true") > 0,
                F.expr(round4_frac_sql("n_hits", "n_true", "div")),
            ).alias("recall4"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash estimator accuracy (per-pair, oracle-exact)
# ---------------------------------------------------------------------------


def _sig_agree_sql(fmt_a=None, fmt_b=None) -> str:
    """Signature agreement count — the (#matching minhashes)
    numerator of the MinHash Jaccard estimator, as one SQL expression
    valid in both dialects. ``fmt_a``/``fmt_b`` map a hash index to
    its column spelling per side (default ``sa.h{i}`` / ``sb.h{i}``
    for the oracle's aliased joins); the Spark plan passes its
    flattened ``a_h{i}`` / ``b_h{i}`` names — ONE definition of the
    estimator numerator for both engines."""
    fa = fmt_a or (lambda i: f"sa.h{i}")
    fb = fmt_b or (lambda i: f"sb.h{i}")
    return (
        "("
        + " + ".join(
            f"(CASE WHEN {fa(i)} = {fb(i)} THEN 1 ELSE 0 END)"
            for i in range(_MINHASH_K)
        )
        + ")"
    )


@register(
    "dedup_minhash_estimate_check",
    oracle=f"""
    WITH {_SQL_JACCARD_CTES},
    {_SQL_JPAIRS_CTE},
    {_sql_sigs_cte("shh")},
    e AS (
      SELECT j.doc_a, j.doc_b,
             i.n_common AS nc,
             ca.n_sh + cb.n_sh - i.n_common AS d,
             {_sig_agree_sql()} AS agree
      FROM jpairs j
      JOIN inter i ON i.doc_a = j.doc_a AND i.doc_b = j.doc_b
      JOIN counts ca ON ca.doc_id = j.doc_a
      JOIN counts cb ON cb.doc_id = j.doc_b
      JOIN sigs sa ON sa.doc_id = j.doc_a
      JOIN sigs sb ON sb.doc_id = j.doc_b)
    SELECT doc_a, doc_b,
           {round4_frac_sql("nc", "d", "//")} AS jaccard,
           {round4_frac_sql("agree", str(_MINHASH_K), "//")} AS estimate,
           {round4_frac_sql(f"ABS(agree * d - {_MINHASH_K} * nc)",
                            f"{_MINHASH_K} * d", "//")} AS abs_err
    FROM e
    """,
    tags=("dedup", "minhash", "sketch-accuracy"),
)
def dedup_minhash_estimate_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pair accuracy of the MinHash Jaccard ESTIMATOR (signature
    agreement / K) against the exact Jaccard, over every ground-truth
    near-dup pair — the estimator-level twin of the banding-level
    dedup_lsh_tuning_report, completing the sketch-accuracy story
    (HLL, percentile and SimHash each have one; the minhash ESTIMATE
    itself did not). Everything is exact integer arithmetic: the
    estimate is agree/K in round4 form and the error is the
    cross-multiplied rational |agree*d - K*nc| / (K*d), so both
    engines emit identical rows and the catalog's hash gate actually
    verifies the estimator, not a reimplementation. The statistical
    pin (estimator error shrinks with K, per-pair bound at K=16) is a
    property of the family, not of one corpus — the planted-near-dup
    recall pytest covers the distributional claim; THIS row proves
    the deployed signatures are the ones being graded.

    Scale shape: ground-truth pairs come WITH their intersection
    counts from jaccard_pairs_raw (no re-join of the shingle arrays,
    no second array_intersect pass); two doc-keyed joins pull the
    signatures onto them (AQE broadcasts the small sides); the
    signature stage is the shuffle-free shared _sig_stage. Nothing
    rescans the corpus. All operands are widened to BIGINT before the
    round4 cross-multiplication: F.size/CASE-sum produce INT, and
    `num * 10000` at a shingle-union of ~13k+ would overflow INT32
    under ANSI where the oracle's COUNT-derived BIGINTs sail on
    (review pass 3)."""
    arr = shingle_arrays(spark, sf_dir)
    sigs = _sig_stage(arr)
    base = jaccard_pairs_shared(spark, sf_dir).select(
        "doc_a",
        "doc_b",
        F.col("n_common").cast("long").alias("nc"),
        (F.col("na").cast("long") + F.col("nb") - F.col("n_common")).alias(
            "d"
        ),
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"a_h{i}") for i in range(_MINHASH_K)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"b_h{i}") for i in range(_MINHASH_K)],
    )
    agree = F.expr(
        "CAST("
        + _sig_agree_sql(lambda i: f"a_h{i}", lambda i: f"b_h{i}")
        + " AS BIGINT)"
    )
    return (
        base.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("agree", agree)
        .select(
            "doc_a",
            "doc_b",
            F.expr(round4_frac_sql("nc", "d", "div")).alias("jaccard"),
            F.expr(
                round4_frac_sql("agree", str(_MINHASH_K), "div")
            ).alias("estimate"),
            F.expr(
                round4_frac_sql(
                    f"ABS(agree * d - {_MINHASH_K} * nc)",
                    f"{_MINHASH_K} * d",
                    "div",
                )
            ).alias("abs_err"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash (hash-dependent sketch — rows-only check + pytest ground truth)
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 64
_SIMHASH_BLOCKS = 8  # 8 blocks of 8 bits
_SIMHASH_HAMMING = 6


@register(
    "dedup_simhash",
    oracle=None,  # xxhash64-based sketch: not portable to DuckDB; pytest
    tags=("dedup", "simhash"),
    driver=False,  # external contract carried by dedup_simhash_check
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint per doc + near-dup pairs at Hamming ≤ 6.

    Per doc: xxhash64 each 60-bit shingle id (JVM-side), take each of
    64 bits as ±1 votes, sign of the vote sum per bit is the
    fingerprint bit. Candidate generation is Manku-style combination
    banding (Manku/Jain/Das Sarma, WWW'07 — public algorithm): split
    the fingerprint into 8 blocks of 8 bits and post each doc under
    every C(8,2) = 28 block-PAIR key (16 bits each). Pigeonhole: ≤ 6
    differing bits dirty at most 6 blocks, leaving ≥ 2 clean blocks
    whose pair key matches — recall at the threshold is GUARANTEED,
    not probabilistic. Candidates verify with bit_count(xor); never a
    cross join.

    Why not single 8-bit blocks as keys: an 8-bit key collides two
    UNRELATED docs with probability 1/256 — ~N²/64 accidental
    candidates at scale, effectively the cross join banding exists to
    avoid. The 16-bit pair keys collide at 1/65536, bounding
    accidental volume to ~28·N²/2¹⁶, and the hot-bucket cap bounds
    any residual boilerplate bucket to C(cap, 2). 64 fingerprint bits
    (not 32) keep the same looseness at double the resolution — a
    J≥0.8 pair's expected Hamming scales with width, so the 32-bit
    threshold 3 maps to 6 of 64.

    Engine-specific hashing ⇒ no SQL oracle; tests/test_dedup.py pins
    recall against the exact-Jaccard pairs."""
    # Round 11 (guide §2.4 remove shuffles outright; measured): votes
    # are computed ROW-LOCALLY from the cached shingle-hash array —
    # one xxhash64 per shingle into a named ``hx`` intermediate, then
    # per bit i the 1-count via a scalar array aggregate; the bit is
    # set iff 2·ones > n (identical to sign(Σ±1) > 0, tie → 0 in both
    # forms). The previous form exploded every (doc, shingle) mention
    # into 64 ±1 columns and re-aggregated by doc_id — a full mention
    # shuffle plus a 64-sum hash aggregate for quantities that are
    # pure per-row array folds. A/B at sf0.1 (same session,
    # interleaved): explode+groupBy 0.83/1.02 s (min/med) vs row-local
    # 0.29/0.37 s, outputs bit-identical for all 5000 docs. Zero
    # shingle-stage exchanges remain in the fingerprint (the banding
    # aggregation below is now the op's only shuffle), matching the
    # minhash signature stage's shuffle-free design.
    # Docs with no shingles produced no exploded rows before; the
    # size(hsh) > 0 filter preserves that exclusion exactly.
    # Assemble via bitwise OR of shifted bits — a summed CAST(1<<63)
    # literal would not fit in BIGINT, and OR has no overflow
    # semantics.
    fp_expr = " | ".join(
        f"(CASE WHEN 2 * aggregate(hx, 0, (acc, h) ->"
        f" acc + cast(shiftright(h, {i}) & 1 as int)) > size(hx)"
        f" THEN shiftleft(CAST(1 AS BIGINT), {i})"
        " ELSE CAST(0 AS BIGINT) END)"
        for i in range(_SIMHASH_BITS)
    )
    fps = (
        shingle_arrays(spark, sf_dir)
        .filter(F.size("hsh") > 0)
        .withColumn("hx", F.expr("transform(hsh, h -> xxhash64(h))"))
        .select("doc_id", F.expr(fp_expr).alias("simhash"))
    )
    # Combination-band buckets as posting lists (same shape as the
    # MinHash-LSH path): ONE pass over the fingerprints — explode each
    # doc into its 28 (band_id, band_key) block-pair buckets, collect
    # each bucket's doc list, and emit candidate pairs with their
    # Hamming distance from the sorted array.
    def _block(b: int) -> F.Column:
        return F.shiftright("simhash", b * 8).bitwiseAND(F.lit(0xFF))

    combos = [
        (i, j)
        for i in range(_SIMHASH_BLOCKS)
        for j in range(i + 1, _SIMHASH_BLOCKS)
    ]
    bands = fps.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band_id).alias("band_id"),
                        (F.shiftleft(_block(i), 8) + _block(j)).alias("band_key"),
                    )
                    for band_id, (i, j) in enumerate(combos)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.*")
    grouped = (
        bands.groupBy("band_id", "band_key")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "simhash"))).alias("ds"))
        # same hot-bucket cap as the other two dedup topologies: k
        # boilerplate copies share a fingerprint and would emit C(k,2)
        .filter((F.size("ds") >= 2) & (F.size("ds") <= _STOP_SHINGLE_DF_CAP))
    )
    pairs = grouped.select(
        F.explode(
            F.expr(
                """
                flatten(transform(ds, (a, i) ->
                  transform(slice(ds, i + 2, size(ds) - i - 1), b ->
                    struct(a.doc_id AS doc_a, b.doc_id AS doc_b,
                           bit_count(a.simhash ^ b.simhash) AS hamming))))
                """
            )
        ).alias("p")
    ).select("p.*")
    return pairs.distinct().filter(F.col("hamming") <= _SIMHASH_HAMMING)


# ---------------------------------------------------------------------------
# embedding-cosine near-dup (quantized-integer cosine — oracle-checkable)
# ---------------------------------------------------------------------------

_COSINE_THRESHOLD = 0.4  # corpus max within-cell cosine is ~0.51 at sf0.1


# Quantized-cosine pair CTEs + the threshold predicate, shared by the
# dedup_embedding_cosine oracle and dedup_semantic's closure oracle —
# one source of truth, so tuning the kernel (quantization scale,
# zero-norm guard, threshold comparison) cannot silently decouple the
# semantic-dedup twin from the pair semantics it builds on.
# Cell-occupancy bound (the 100 TB guard): a `label` cell holding more
# than _CELL_CAP vectors is sub-split by the sign pattern of its first
# few quantized dimensions relative to the CELL's per-dimension mean —
# an in-engine coarse quantizer refining the IVF cell. bits =
# ceil(log2(cnt / cap)) clamped to _CELL_MAX_BITS; the mean comparison
# is integer-exact (qv[i] * cnt > sum_i — no division), so both
# engines derive the identical sub-cell for every vector. Pairs
# straddling a sub-cell boundary are dropped — the standard IVF /
# SemDeDup-cell recall tradeoff, now applied one level finer.
#
# _CELL_CAP sizing (round-8, per ADVICE): 256 keeps every fixture-
# scale cell (max 218 at sf0.1) UNSPLIT — full within-cell recall at
# test scale, refinement reserved for cells that actually threaten
# task memory (256²/2 ≈ 33k dot products per finest sub-cell is the
# worst task). Round 7 shipped cap=128, which split modest sf0.1
# cells and silently cost 34 of 86 pairs there; the split-path
# parity is now pinned instead by a synthetic hot-cell test
# (tests/test_dedup.py::test_embedding_cell_split_parity_on_hot_cell),
# so correctness coverage of the mechanism no longer rides on the
# fixtures tripping it.
#
# HONEST LIMITS (round-7 review; MEASURED round-9 at the boundary —
# SCALING.md "Cell-cap probe"): the bound is a
# 2^_CELL_MAX_BITS reduction of within-cell pair work, not an
# unconditional cap — a cell beyond cap·2^maxbits (1,048,576 vectors
# at these settings) is quadratic in N again at 1/4096 of the naive
# N²/2 TOTAL (measured: 2x the bound → exactly 4.00x the candidate
# pairs, coefficient 0.00024413 ≈ 1/4096 at both 1x and 2x; the
# per-finest-sub-cell — i.e. per-task — share is (N/4096)²/2, the
# 1/4096² figure); and a dimension whose values do not straddle the
# cell mean (constant or one-sided dims) contributes no split, so
# adversarially degenerate embeddings defeat the refinement entirely
# (measured: a 4096-identical-vector cell yields ONE sub-cell and
# exactly naive C(N,2) pairs). The remedy at corpus scale is a finer
# upstream quantizer (more `label` cells — the knob SemDeDup itself
# turns), with this sub-split as the in-engine backstop; the audit
# query (embedding_cell_audit.max_subcell) is the alarm that says
# when, and it fires on both measured corpora (pinned:
# tests/test_dedup.py::test_embedding_cell_audit_flags_beyond_bound_and_degenerate).
_CELL_CAP = 256
_CELL_MAX_BITS = 12


def _cell_bits_sql(cnt: str) -> str:
    """CASE chain mapping a cell's occupancy to its refinement bit
    count — smallest b in [0, _CELL_MAX_BITS] with cnt <= cap * 2^b.
    Pure integer comparisons, shared verbatim by both engines."""
    clauses = " ".join(
        f"WHEN {cnt} <= {_CELL_CAP * (1 << b)} THEN {b}"
        for b in range(_CELL_MAX_BITS)
    )
    return f"(CASE {clauses} ELSE {_CELL_MAX_BITS} END)"


def _cell_subkey_sql(elem_fmt: str, cnt: str, bits: str) -> str:
    """Sub-cell key: bit i set iff dimension i sits strictly above the
    cell's mean for that dimension (qv[i] * cnt > s_i — exact integer
    cross-multiplication, no division). ``elem_fmt`` abstracts the
    1-based element accessor (Spark ``try_element_at(qv, {i})`` vs
    DuckDB ``qv[{i}]``) — both yield NULL past the array end, and a
    NULL comparison falls to the ELSE 0 arm on both engines, so
    short vectors degrade identically (no split) everywhere."""
    terms = " + ".join(
        f"(CASE WHEN {bits} >= {i + 1}"
        f" AND {elem_fmt.format(i=i + 1)} * {cnt} > s{i}"
        f" THEN {1 << i} ELSE 0 END)"
        for i in range(_CELL_MAX_BITS)
    )
    return f"({terms})"


_CELL_STAT_COLS = ", ".join(
    f"SUM(qv[{i + 1}]) AS s{i}" for i in range(_CELL_MAX_BITS)
)

# Cell derivation (quantize → per-cell stats → adaptive bits →
# sub-cell keys), shared by the pair kernel below AND the
# embedding_cell_audit oracle — one source of truth for what "a cell"
# means.
_COSINE_CELL_CTES = f"""q AS (
      SELECT vec_id, label,
             {QUANTIZE_DUCKDB} AS qv
      FROM embeddings),
    cellstats AS (
      SELECT label, COUNT(*) AS cnt, {_CELL_STAT_COLS}
      FROM q GROUP BY label),
    cellbits AS (
      SELECT *, {_cell_bits_sql("cnt")} AS bits FROM cellstats),
    n AS (
      SELECT q.vec_id, q.label, q.qv,
             {norm2_duckdb("q.qv")} AS nrm2,
             {_cell_subkey_sql("qv[{i}]", "cnt", "bits")} AS subkey
      FROM q JOIN cellbits USING (label))"""

_COSINE_PAIR_CTES = f"""{_COSINE_CELL_CTES},
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {cosine_duckdb("a.qv", "a.nrm2", "b.qv", "b.nrm2")} AS cos_raw
      FROM n a JOIN n b
        ON a.label = b.label AND a.subkey = b.subkey AND a.vec_id < b.vec_id)"""

_COSINE_PAIR_PREDICATE = f"cos_raw >= {_COSINE_THRESHOLD}"


def _cosine_oracle() -> str:
    return f"""
    WITH {_COSINE_PAIR_CTES}
    SELECT vec_a, vec_b, {round4_double_sql("cos_raw")} AS cosine
    FROM pairs
    WHERE {_COSINE_PAIR_PREDICATE}
    """


def _quantized_subcells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark twin of _COSINE_CELL_CTES: quantized vectors with
    their norm, cell occupancy/bits, and the sub-cell key — shared by
    the pair kernel (dedup_embedding_cosine → dedup_semantic) and the
    embedding_cell_audit so the two can never disagree on cell
    derivation."""
    t = load_tables(spark, sf_dir)
    q = scale_out(t["embeddings"]).select("vec_id", "label", quantize().alias("qv"))
    cellstats = q.groupBy("label").agg(
        F.count("*").alias("cnt"),
        *[
            F.sum(F.try_element_at("qv", F.lit(i + 1))).alias(f"s{i}")
            for i in range(_CELL_MAX_BITS)
        ],
    )
    cellbits = cellstats.withColumn("bits", F.expr(_cell_bits_sql("cnt")))
    return q.join(F.broadcast(cellbits), "label").select(
        "vec_id",
        "label",
        "qv",
        norm2().alias("nrm2"),
        F.expr(
            _cell_subkey_sql("try_element_at(qv, {i})", "cnt", "bits")
        ).alias("subkey"),
        "cnt",
        "bits",
    )


@register(
    "embedding_cell_audit",
    oracle=f"""
    WITH {_COSINE_CELL_CTES},
    sub AS (
      SELECT label, subkey, COUNT(*) AS occ
      FROM n GROUP BY label, subkey)
    SELECT label,
           CAST(SUM(occ) AS BIGINT) AS cnt,
           CAST(MIN(b.bits) AS INT) AS bits,
           CAST(COUNT(*) AS BIGINT) AS n_subcells,
           CAST(MAX(occ) AS BIGINT) AS max_subcell,
           CAST(SUM(occ) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
             AS avg_subcell
    FROM sub JOIN cellbits b USING (label)
    GROUP BY label
    """,
    tags=("embedding", "audit", "dedup"),
)
def embedding_cell_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Occupancy audit of the embedding-dedup cell structure — the
    operational readout of the round-7 cell-occupancy bound: per
    ``label`` cell, its population, the adaptive refinement bit count
    (0 = under _CELL_CAP, untouched), how many sub-cells the mean-sign
    quantizer actually produced, and the largest/average sub-cell —
    the number that bounds the pair join's worst task. A pipeline
    operator watches ``max_subcell`` against _CELL_CAP·slack before
    scheduling the quadratic within-cell pass; skew here is the first
    symptom that the corpus outgrew the quantizer.

    One shuffle on (label, subkey) for the sub-cell counts, rolled up
    per label; integer-exact throughout (``avg_subcell`` is the floor
    integer division — both engines compute it on BIGINTs)."""
    n = _quantized_subcells(spark, sf_dir)
    sub = n.groupBy("label", "subkey", "bits").agg(
        F.count(F.lit(1)).alias("occ")
    )
    return sub.groupBy("label").agg(
        F.sum("occ").cast("long").alias("cnt"),
        F.min("bits").cast("int").alias("bits"),
        F.count(F.lit(1)).cast("long").alias("n_subcells"),
        F.max("occ").cast("long").alias("max_subcell"),
        F.expr("CAST(sum(occ) AS BIGINT) div count(*)")
        .cast("long")
        .alias("avg_subcell"),
    )


@register(
    "dedup_embedding_cosine",
    oracle=_cosine_oracle(),
    tags=("dedup", "embedding", "ann"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: cosine ≥ _COSINE_THRESHOLD pairs, blocked by the
    ``label`` column (the coarse-quantizer/IVF cell — pairs are only
    formed within a cell, never across the corpus), with cells above
    ``_CELL_CAP`` occupants sub-split in-engine by per-dimension mean
    signs (``_cell_subkey_sql``) — up to 2^``_CELL_MAX_BITS`` finer
    cells, cutting within-cell pair work by the same factor (see the
    HONEST LIMITS note above the constants for where the bound ends:
    beyond cap·2^maxbits, or under degenerate dims, the join is
    quadratic-within-finer-cells and the upstream quantizer is the
    real knob). Sub-splitting drops cross-sub-cell pairs (the IVF
    recall tradeoff SemDeDup already accepts at the cell level;
    survival measured and disclosed in SCALING.md).

    Quantized-integer cosine (module docstring): dot and norms are
    exact BIGINT sums → order-independent → bit-identical across
    engines; one final double division+sqrt, rounded. The sub-cell
    derivation is integer-exact too (count cross-multiplication, no
    division), so the DuckDB oracle lands in the identical cells.

    100 TB note: cellstats is one map-side-combinable aggregate with
    n_labels rows — broadcast back to the scan; the self-join shuffles
    on (label, subkey), strictly finer than the old label-only key, so
    refinement also dilutes cell skew."""
    n = _quantized_subcells(spark, sf_dir).drop("cnt", "bits")
    a = n.alias("a")
    b = n.alias("b")
    return (
        a.join(b, (F.col("a.label") == F.col("b.label"))
               & (F.col("a.subkey") == F.col("b.subkey"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .withColumn("cosine_raw", cosine("a.qv", "a.nrm2", "b.qv", "b.nrm2"))
        .filter(F.col("cosine_raw") >= _COSINE_THRESHOLD)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.expr(round4_double_sql("cosine_raw")).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# connected-components clustering (the canonical-doc assignment step)
# ---------------------------------------------------------------------------

def _cc_closure_sql(
    pairs_rel: str, a_col: str, b_col: str, id_alias: str, label_alias: str,
    as_cte: str | None = None,
) -> str:
    """The recursive-transitive-closure tail shared by every
    components oracle (dedup_components, dedup_semantic,
    dedup_leakage_safe_split): symmetrize a pair relation, close it,
    label each vertex with the smallest reachable id — the exact
    fixpoint connected_components computes. One source of truth, so a
    closure-semantics change cannot leave a twin oracle behind.
    ``as_cte``: wrap the final SELECT as a named CTE instead of the
    statement tail, for oracles that keep composing on top of the
    component labels."""
    defs = f"""
    edges AS (
      SELECT {a_col} AS src, {b_col} AS dst FROM {pairs_rel}
      UNION SELECT {b_col}, {a_col} FROM {pairs_rel}),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)"""
    sel = f"""SELECT src AS {id_alias}, LEAST(src, MIN(dst)) AS {label_alias}
    FROM reach GROUP BY src"""
    if as_cte:
        return f"{defs},\n    {as_cte} AS ({sel})"
    return f"{defs}\n    {sel}\n    "


_CC_MAX_ITERS = 20


def connected_components(edges: DataFrame, max_iters: int = _CC_MAX_ITERS) -> DataFrame:
    """Min-label propagation over an undirected edge list
    ``(doc_a, doc_b)`` → ``(doc_id, component)`` where ``component`` is
    the smallest doc_id reachable from ``doc_id`` (only vertices that
    appear in an edge are labeled).

    Iterative DataFrame algorithm (no collect of data — the driver
    only checks a scalar convergence count per round): each round every
    vertex takes the min of its own label and its neighbors' labels;
    converges in O(component diameter) rounds. Each round
    ``localCheckpoint``s its label table, which truncates BOTH
    execution and the logical plan — persist alone caches data but the
    plan tree still nests one level per round, and by ~10 rounds plan
    compilation itself OOMs the driver (pinned by
    tests/test_dedup.py::test_components_converge_in_diameter_rounds,
    which found exactly that). This is the standard Spark formulation
    of MapReduce connected components.

    Rounds after the first run as DELTA iterations (the frontier
    optimization from the Pregel/Flink delta-iteration literature):
    only vertices whose label improved last round send messages this
    round — a vertex whose label is unchanged already broadcast it the
    round it last changed, so re-sending is pure waste. Round 1 is a
    full |E| pass; the frontier then shrinks geometrically, and with
    AQE the tiny changed-set side of the edge join collapses to a
    broadcast — later rounds cost a persisted-edge scan, not a full
    shuffle-join cascade. Same fixpoint: every label a vertex would
    ever learn still reaches it, just exactly once.

    Each round ALSO applies one POINTER-JUMPING step (path doubling —
    Shiloach & Vishkin '82; the same O(log d) round bound the
    large-star/small-star algorithms of Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14, get from star
    contractions): after the neighbor step, ``component`` is replaced
    by ``min(component, component[component])`` via a self-join on
    the just-materialized label table. A label is always a REACHABLE
    vertex's id, so its label is reachable too — correctness is
    untouched, but the pointer distance compounds each round and a
    path of length d converges in O(log d) rounds instead of d
    (pinned by the planted-path test: a 100-edge chain closes in 6
    propagation rounds). One extra vertex-table self-join +
    checkpoint per round buys the logarithm; chain-heavy graphs are
    exactly where diameter-many |V| rounds would dominate at 100 TB.

    100 TB note: rounds are shuffle-on-vertex joins; diameter of
    near-dup clusters is tiny in practice (near-dups of a doc are
    near-dups of each other), so 3-4 rounds dominate real corpora —
    and the jump step bounds the adversarial (chain) case."""
    # ONE reference to ``edges``: a union of two selects would plan
    # the (expensive) edge-producing subtree twice — materializing the
    # symmetric form re-ran the whole Jaccard join per branch, ~half
    # the measured K=32 smoke cost before round 6. explode() emits
    # both directions from a single pass instead.
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
                F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
            )
        ).alias("e")
    ).select("e.*")
    sym = sym.persist()
    labels = (
        sym.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    # round 1's frontier is every vertex (initial labels are "new")
    frontier = labels
    for _ in range(max_iters):
        neighbor_min = (
            sym.join(frontier, sym.dst == frontier.doc_id)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
        )
        # Carry the previous label through the checkpoint so the
        # convergence check is a filter-count over the just-
        # materialized table instead of a join back to the old one —
        # one fewer shuffle join per round (round overhead dominates
        # this op: the data per round is tiny, the DAG is not).
        prop = (
            labels.join(neighbor_min, labels.doc_id == neighbor_min.src, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                ).alias("component"),
                F.col("component").alias("prev"),
            )
            .localCheckpoint(eager=True)
        )
        # pointer jump on the CURRENT table (prop is checkpointed, so
        # the self-join reads the materialized rows twice rather than
        # recomputing the propagation join): component <- min of its
        # own label's label. Composing the table with itself is what
        # doubles the pointer distance; jumping through the PREVIOUS
        # round's table would only add a constant step.
        ptr = prop.select(
            F.col("doc_id").alias("p_id"), F.col("component").alias("p_comp")
        )
        staged = (
            prop.join(ptr, prop.component == ptr.p_id, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component"), F.coalesce(F.col("p_comp"), F.col("component"))
                ).alias("component"),
                "prev",
            )
            .localCheckpoint(eager=True)
        )
        frontier = staged.filter(F.col("component") != F.col("prev")).select(
            "doc_id", "component"
        )
        changed = frontier.count()
        labels = staged.select("doc_id", "component")
        if changed == 0:
            break
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iters} iters")
    sym.unpersist()
    return labels


@register(
    "dedup_components",
    oracle=f"""
    WITH RECURSIVE {_SQL_JACCARD_CTES},
    {_SQL_JPAIRS_CTE},
    {_cc_closure_sql("jpairs", "doc_a", "doc_b", "doc_id", "component")}
    """,
    tags=("dedup", "components", "iterative"),
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the exact-Jaccard
    pair graph, labeling every involved doc with the smallest doc_id
    in its cluster (the canonical survivor). Spark runs iterative
    min-label propagation; the oracle states the same fixpoint as a
    recursive transitive closure — identical labels."""
    return connected_components(
        jaccard_pairs_shared(spark, sf_dir).select("doc_a", "doc_b")
    )


@register(
    "dedup_cluster_sizes",
    oracle=f"""
    WITH RECURSIVE {_SQL_JACCARD_CTES},
    {_SQL_JPAIRS_CTE},
    {_cc_closure_sql("jpairs", "doc_a", "doc_b", "doc_id", "component",
                     as_cte="comp")},
    sizes AS (
      SELECT component, COUNT(*) AS sz FROM comp GROUP BY component),
    hist AS (
      SELECT CAST(sz AS BIGINT) AS cluster_size,
             CAST(COUNT(*) AS BIGINT) AS n_clusters,
             CAST(SUM(sz) AS BIGINT) AS n_docs
      FROM sizes GROUP BY sz),
    singles AS (
      SELECT (SELECT COUNT(*) FROM documents)
             - (SELECT COUNT(*) FROM comp) AS n)
    SELECT * FROM hist
    UNION ALL
    SELECT CAST(1 AS BIGINT), CAST(n AS BIGINT), CAST(n AS BIGINT)
    FROM singles WHERE n > 0
    """,
    tags=("dedup", "components", "report"),
)
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram — the summary a curation run
    reads before deciding a dedup policy: for each cluster size, how
    many near-dup clusters exist and how many documents they hold,
    with the corpus's untouched singletons reported as size-1 rows
    (so the histogram's n_docs column sums to the corpus size and
    "how much would keep-one-per-cluster delete" is one subtraction).
    Sits directly on dedup_components' labels; every Jaccard
    component has >= 2 members, so the singleton row can never
    collide with a computed size-1 bucket.

    Scale shape: the component labels (|docs-in-pairs| rows) take two
    map-side-combinable aggregates (by component, then by size — the
    second over <= |clusters| rows); the singleton row joins two
    1-row counts. The expensive part IS dedup_components; the
    histogram adds no new scan of the corpus."""
    comp = dedup_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    hist = sizes.groupBy("sz").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("sz").cast("long").alias("n_docs"),
    ).select(F.col("sz").cast("long").alias("cluster_size"), "n_clusters", "n_docs")
    total = load_tables(spark, sf_dir)["documents"].agg(
        F.count(F.lit(1)).alias("n_total")
    )
    in_comp = comp.agg(F.count(F.lit(1)).alias("n_comp"))
    singles = (
        total.crossJoin(in_comp)
        .select((F.col("n_total") - F.col("n_comp")).alias("n"))
        .filter(F.col("n") > 0)
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            F.col("n").cast("long").alias("n_clusters"),
            F.col("n").cast("long").alias("n_docs"),
        )
    )
    return hist.unionByName(singles)


# ---------------------------------------------------------------------------
# normalization + exact dedup (the canonicalizing variant)
# ---------------------------------------------------------------------------

# Text canonicalization (lowercase, strip non-alphanumerics, collapse
# whitespace) — ONE definition per dialect, shared by
# dedup_exact_normalized, dedup_keep_best and the curation funnel
# (plans/curation.py) so "same document modulo formatting" cannot
# mean two different things. Public: cross-module consumers import
# these by name.
NORM_TEXT_DUCK = (
    "trim(regexp_replace(regexp_replace(" + ascii_fold_sql("text") + ","
    " '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
)


def norm_text_col():
    # ASCII-only fold (see catalog.ascii_fold_sql): full-Unicode
    # lower() is engine-tailored and would make the normalized hash
    # corpus-dependent on which engine computed it
    folded = F.translate(F.col("text"), ASCII_UPPER, ASCII_LOWER)
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(folded, "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )


@register(
    "dedup_exact_normalized",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, {NORM_TEXT_DUCK} AS ntext
      FROM documents)
    SELECT md5(ntext) AS text_hash,
           MIN(doc_id) AS canonical_doc_id,
           COUNT(*) AS n_copies
    FROM norm
    GROUP BY md5(ntext)
    """,
    tags=("dedup", "exact", "normalize"),
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after text canonicalization (lowercase, strip
    non-alphanumerics, collapse whitespace) — catches trivially
    reformatted copies that byte-exact dedup misses. Normalization is
    a pure codegen projection on the scan; then the same one-shuffle
    hash-groupBy as dedup_exact. NOTE the DuckDB twin needs the 'g'
    flag (its regexp_replace is first-match by default where Spark's
    replaces all).

    Deliberately NO scale_out, measured not assumed (round-8 K-sweep
    root-cause): the two regexp_replace passes are the catalog's
    heaviest pure projection and this query CPU-saturates earliest in
    K-sweeps (per-unit wall flat 8x→32x — linear work, not a blowup).
    A/B at sf0.1 showed scale_out 50% SLOWER (0.44 → 0.67 s): the
    round-robin exchange ships the full raw text, which costs more
    than parallelizing the regexes saves; at 100 TB the scan has
    thousands of partitions and scale_out is a no-op anyway — so the
    extra exchange buys nothing at either end of the scale."""
    t = load_tables(spark, sf_dir)
    ntext = norm_text_col()
    return (
        t["documents"]
        .select("doc_id", ntext.alias("ntext"))
        .groupBy(F.md5(F.col("ntext").cast("binary")).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# duplicate resolution: keep the best copy per normalized group
# ---------------------------------------------------------------------------

@register(
    "dedup_keep_best",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, n_chars, {NORM_TEXT_DUCK} AS ntext
      FROM documents),
    ranked AS (
      SELECT doc_id,
             md5(ntext) AS text_hash,
             COUNT(*) OVER (PARTITION BY md5(ntext)) AS n_copies,
             ROW_NUMBER() OVER (PARTITION BY md5(ntext)
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM norm)
    SELECT doc_id, text_hash, n_copies, rk,
           CASE WHEN rk = 1 THEN 1 ELSE 0 END AS kept
    FROM ranked
    """,
    tags=("dedup", "exact", "normalize", "resolution"),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster RESOLUTION, not just detection: within each
    normalized-text group (same canonicalization dedup_exact_normalized
    uses — one shared definition) keep the variant carrying the most
    raw content (n_chars desc, doc_id as the total tie-break) and mark
    the rest dropped. This is the curation pipeline's "which copy
    survives" step — canonical-by-MIN(doc_id) keeps an arbitrary copy,
    while real pipelines keep the richest one (case/punctuation
    variants differ in bytes even when canonically equal).

    One shuffle on the 128-bit normalized hash (uniform, skew-free);
    both window functions share the single partition exchange and the
    output stays per-document so downstream ops can anti-join the
    dropped set. No scale_out — same measured reasoning as
    dedup_exact_normalized (the text exchange outweighs parallelizing
    the shared regex canonicalization)."""
    t = load_tables(spark, sf_dir)
    from pyspark.sql import Window

    norm = t["documents"].select(
        "doc_id",
        "n_chars",
        F.md5(norm_text_col().cast("binary")).alias("text_hash"),
    )
    wp = Window.partitionBy("text_hash")
    wr = wp.orderBy(F.desc("n_chars"), "doc_id")
    return norm.select(
        "doc_id",
        "text_hash",
        F.count("*").over(wp).alias("n_copies"),
        F.row_number().over(wr).alias("rk"),
    ).withColumn("kept", F.when(F.col("rk") == 1, 1).otherwise(0))


# ---------------------------------------------------------------------------
# incremental dedup: new batch vs existing corpus
# ---------------------------------------------------------------------------

@register(
    "dedup_incremental",
    oracle="""
    WITH corpus AS (
      SELECT md5(text) AS h, MIN(doc_id) AS canonical
      FROM documents WHERE doc_id % 5 <> 4
      GROUP BY md5(text))
    SELECT d.doc_id,
           CASE WHEN c.h IS NULL THEN 0 ELSE 1 END AS is_dup,
           c.canonical AS dup_of
    FROM documents d
    LEFT JOIN corpus c ON md5(d.text) = c.h
    WHERE d.doc_id % 5 = 4
    """,
    tags=("dedup", "incremental"),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-corpus) dedup — the shape a continuously
    ingesting pipeline actually runs: hash the NEW batch (here the
    doc_id%5==4 slice stands in for today's arrivals), left-join it
    against the corpus fingerprint table, and flag/attribute dups.
    The corpus side collapses to one row per distinct hash BEFORE the
    join, and the join key is a uniform 128-bit hash — no skew, and
    at 100 TB the fingerprint table is the only thing reread; the
    corpus text is never rescanned (text_fingerprint materializes the
    same table as its own artifact)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return incremental_dedup_flags(
        docs.filter(F.col("doc_id") % 5 == 4),
        docs.filter(F.col("doc_id") % 5 != 4),
    )


def incremental_dedup_flags(batch: DataFrame, corpus: DataFrame) -> DataFrame:
    """(doc_id, is_dup, dup_of) for each doc of ``batch`` against the
    ``corpus`` (both (doc_id, text, …)). Composable core of
    dedup_incremental; ``batch`` may be a STREAMING DataFrame — the
    corpus fingerprints are a static side, so this is a stream-static
    left join, legal in append mode with no watermark (per-row
    stateless), which is exactly the per-microbatch ingest-dedup
    shape (tests/test_windows.py pins stream==batch)."""
    h = _content_fingerprint()
    fps = corpus.groupBy(h.alias("h")).agg(F.min("doc_id").alias("canonical"))
    return (
        batch.select("doc_id", h.alias("bh"))
        .join(fps, F.col("bh") == F.col("h"), "left")
        .select(
            "doc_id",
            F.when(F.col("h").isNull(), 0).otherwise(1).alias("is_dup"),
            F.col("canonical").alias("dup_of"),
        )
    )


@register(
    "dedup_simhash_check",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, text FROM documents
      WHERE len(string_split(text, ' ')) >= {_SHINGLE_WORDS}
    ), g AS (
      SELECT COUNT(*) AS k FROM d GROUP BY text
      HAVING COUNT(*) BETWEEN 2 AND {_STOP_SHINGLE_DF_CAP}
    )
    SELECT CAST(COALESCE(SUM(k * (k - 1) / 2), 0) AS BIGINT) AS n_exact_pairs,
           TRUE AS all_recovered
    FROM g
    """,
    tags=("dedup", "simhash", "check"),
)
def dedup_simhash_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable twin for the xxhash64 SimHash plane (round-6:
    every catalog surface gets at least one oracle-bearing row; the
    sketch original stays for the plan shape, its recall pinned by
    pytest). The deterministic claim DuckDB can verify: every
    EXACT-duplicate pair (identical text, long enough to shingle)
    must appear in dedup_simhash's output at Hamming distance 0 —
    identical shingles vote identical fingerprints, which share every
    block-pair bucket. The pair COUNT is plain SQL, verified
    value-for-value; a banding/fingerprint regression that loses such
    a pair turns all_recovered FALSE and the driver row red.

    Scope of the claim (aligned with dedup_simhash's own contract):
    only duplicate clusters of size ≤ the hot-bucket cap — a larger
    cluster overflows every one of its 28 band buckets BY DESIGN (the
    boilerplate guard) and its pairs are documented false negatives,
    not regressions. The same bound caps this check's own pair
    expansion at C(cap, 2) per text. Residual assumption: a ≤cap
    cluster's buckets are not pushed past the cap by ~cap unrelated
    16-bit band-key collisions in all 28 bands at once — vanishingly
    unlikely at any corpus this check would run on."""
    t = load_tables(spark, sf_dir)
    d = t["documents"].filter(
        F.size(F.split("text", " ")) >= _SHINGLE_WORDS
    ).select("doc_id", "text")
    exact_pairs = (
        d.groupBy("text")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= _STOP_SHINGLE_DF_CAP))
        .select(F.explode(F.expr(_IDS_PAIRS_EXPR)).alias("p"))
        .select("p.*")
    )
    sim_zero = dedup_simhash(spark, sf_dir).filter(F.col("hamming") == 0)
    joined = exact_pairs.join(sim_zero, ["doc_a", "doc_b"], "left")
    return joined.agg(
        F.count("*").alias("n_exact_pairs"),
        # empty-pair-set edge: the claim holds vacuously (TRUE), and
        # min() over booleans is AND
        F.coalesce(F.min(F.col("hamming").isNotNull()), F.lit(True)).alias(
            "all_recovered"
        ),
    )


@register(
    "dedup_semantic",
    oracle=f"""
    WITH RECURSIVE {_COSINE_PAIR_CTES},
    cpairs AS (
      SELECT vec_a, vec_b FROM pairs WHERE {_COSINE_PAIR_PREDICATE}),
    {_cc_closure_sql("cpairs", "vec_a", "vec_b", "vec_id", "cluster")}
    """,
    tags=("dedup", "embedding", "semantic", "iterative"),
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup clusters — the SemDeDup-style pipeline (Abbas et
    al., "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication", 2023 — public method): embeddings are
    coarsely partitioned (the ``label`` column plays the k-means cell),
    near-duplicate pairs form WITHIN cells by quantized-integer cosine
    (dedup_embedding_cosine's exact, oracle-checkable kernel), and
    connected components label every vector with its cluster's
    smallest vec_id — the canonical survivor a curation pipeline keeps
    while dropping the rest. Spark side: within-cell pair join (never
    a corpus cross join) feeding the pointer-jumping label
    propagation; oracle: the same fixpoint as a recursive transitive
    closure. 100 TB note: cells bound the pair join exactly as in
    dedup_embedding_cosine, and the component rounds are O(log
    diameter) vertex-keyed joins over the (tiny) near-dup graph —
    the cluster step costs nothing at corpus scale compared to the
    pair generation it consumes."""
    pairs = dedup_embedding_cosine(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    return connected_components(pairs).select(
        F.col("doc_id").alias("vec_id"), F.col("component").alias("cluster")
    )


# floor(0.9 * 2^60): the train fraction threshold over the 60-bit
# md5 cluster hash — an integer literal, so both engines compare the
# exact same value (a float fraction would re-open the cross-engine
# rounding door the shingle-hash machinery closed).
_SPLIT_TRAIN_THRESHOLD = 1037629354146162278


# The full split derivation as reusable CTEs (jaccard pairs → cluster
# closure → per-cluster hash split) — shared by the split oracle and
# the decontamination oracle so the two can never disagree on what
# "the split" means.
_SPLIT_CTES = f"""{_SQL_JACCARD_CTES},
    {_SQL_JPAIRS_CTE},
    epairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM documents a JOIN documents b
        ON a.text = b.text AND a.doc_id < b.doc_id),
    spairs AS (
      SELECT doc_a, doc_b FROM jpairs
      UNION SELECT doc_a, doc_b FROM epairs),
    {_cc_closure_sql("spairs", "doc_a", "doc_b", "doc_id", "cluster", as_cte="comp")},
    alldocs AS (
      SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster
      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
    splits AS (
      SELECT doc_id,
             CASE WHEN CAST('0x' || substring(md5(CAST(cluster AS VARCHAR)), 1, 15)
                       AS BIGINT) < {_SPLIT_TRAIN_THRESHOLD}
                  THEN 'train' ELSE 'eval' END AS split
      FROM alldocs)"""


# Session memo for the built split (the shingle-cache pattern): the
# builder is EAGER (connected_components checkpoints at build), and
# both dedup_leakage_safe_split and dedup_decontaminate consume it —
# without the memo a catalog replay pays the clustering twice.
_SPLIT_CACHE: dict[tuple[str, str], DataFrame] = {}


@register(
    "dedup_leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE {_SPLIT_CTES}
    SELECT doc_id, split FROM splits
    """,
    tags=("dedup", "split", "leakage", "iterative"),
)
def dedup_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/eval split — the curation step that keeps
    near-duplicate documents OUT of opposite splits (a doc in train
    with its near-dup in eval silently inflates every benchmark it
    touches). Assignment is per CLUSTER, not per doc: connected
    components over the union of the exact-Jaccard pair graph AND the
    identical-text pair graph label each involved doc with its
    cluster (singletons are their own cluster), and the ~90/10 split
    decision hashes the CLUSTER id — so an entire near-dup family
    lands on one side, deterministically and reproducibly (the same
    60-bit md5-prefix integer both engines compute, compared against
    an exact integer threshold; no RNG, no seed drift between runs or
    engines).

    Scope of the guarantee (stated, not hidden): pairs the dedup
    plane itself cannot see stay unrelated here too — specifically,
    near-dup pairs whose EVERY shared prefix shingle is corpus
    boilerplate above the stop-shingle cap (the documented
    false-negative class of jaccard_pairs_from_arrays). The
    identical-text edge set closes the worst case of that class
    (bit-identical docs can never straddle splits, however
    boilerplate their content); sub-threshold or boilerplate-only
    near-dups follow the dedup plane's own contract.

    100 TB note: the split adds the exact-dup groupBy (one shuffle on
    the content hash) and ONE broadcast-ish left join (cluster labels
    exist only for docs in near-dup pairs — a tiny relation beside
    the corpus) plus a per-row hash on top of the components cost;
    assignment is embarrassingly parallel and re-runnable on a grown
    corpus (stable cluster ids keep prior members' split stable
    unless a new edge merges two clusters — the unavoidable semantic,
    stated rather than hidden). Construction is EAGER (components
    checkpoints at build), so the built DataFrame is session-memoized
    per (app id, corpus) through the same lock-guarded,
    path-normalized _session_cached as the shingle/pair caches — a
    double-build race is COSTLIER here than for the lazily-persisted
    relations (two threads would each run the whole eager components
    computation)."""
    return _session_cached(
        _SPLIT_CACHE, spark, sf_dir, lambda: _build_split(spark, sf_dir)
    )


def _build_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs_full = load_tables(spark, sf_dir)["documents"]
    jac = jaccard_pairs_shared(spark, sf_dir).select("doc_a", "doc_b")
    exact = (
        docs_full.groupBy("text")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(
            F.element_at("ids", 1).alias("doc_a"),
            F.explode(F.slice("ids", 2, 1_000_000_000)).alias("doc_b"),
        )
    )
    comps = connected_components(jac.unionByName(exact))
    docs = docs_full.select("doc_id")
    labeled = docs.join(comps, "doc_id", "left").select(
        "doc_id", F.coalesce("component", F.col("doc_id")).alias("cluster")
    )
    h = F.expr(
        "cast(conv(substring(md5(cast(cast(cluster as string) as binary)),"
        " 1, 15), 16, 10) as bigint)"
    )
    return labeled.select(
        "doc_id",
        F.when(h < F.lit(_SPLIT_TRAIN_THRESHOLD), "train")
        .otherwise("eval")
        .alias("split"),
    )


@register(
    "dedup_decontaminate",
    oracle=f"""
    WITH RECURSIVE {_SPLIT_CTES},
    esh AS (
      SELECT DISTINCT s.shingle
      FROM shh s JOIN splits p ON p.doc_id = s.doc_id AND p.split = 'eval')
    SELECT s.doc_id,
           CAST(COUNT(DISTINCT s.shingle) AS BIGINT) AS n_contaminated
    FROM shh s
    JOIN splits p ON p.doc_id = s.doc_id AND p.split = 'train'
    JOIN esh e ON e.shingle = s.shingle
    GROUP BY s.doc_id
    """,
    tags=("dedup", "decontamination", "split", "iterative"),
)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the n-gram overlap sweep the public
    LLM training reports run before training (GPT-3 appx. C / PaLM
    appx.: drop or flag training documents sharing n-grams with the
    eval set): every TRAIN document that shares at least one 3-word
    shingle with any EVAL document, with its contaminated-shingle
    count. The eval/train assignment is dedup_leakage_safe_split's
    cluster-keyed split (the two oracles share one CTE chain, so the
    ops cannot disagree on what 'the split' means); shingles come from
    the session-cached 60-bit hashed-shingle table, so the sweep adds
    no second shingling pass.

    100 TB note: the eval shingle set is the small side by
    construction (~10% of docs) — AQE broadcasts it under the join,
    and the train-side mention stream never shuffles on anything but
    the shingle hash it already carries. At a scale where even the
    eval shingle set outgrows broadcast, the equi-join degrades to a
    hash join on uniformly-distributed 60-bit keys — no skew, no
    cross join, the same topology as the inverted-index dedup ops."""
    split = dedup_leakage_safe_split(spark, sf_dir)
    mention = shingle_arrays(spark, sf_dir).select(
        "doc_id", F.explode("hsh").alias("h")
    )
    eval_sh = (
        mention.join(split.filter(F.col("split") == "eval"), "doc_id")
        .select("h")
        .distinct()
    )
    return (
        mention.join(split.filter(F.col("split") == "train"), "doc_id")
        .join(eval_sh, "h")
        .groupBy("doc_id")
        .agg(F.countDistinct("h").alias("n_contaminated"))
    )


# ---------------------------------------------------------------------------
# one-sided n-gram containment (partial-copy / quote detection)
# ---------------------------------------------------------------------------

# C(sub -> super) = |sub ∩ super| / |sub| >= 4/5, integer
# cross-multiplied; tiny shingle sets make containment trivially
# noisy, so subsets below the floor are not reported.
_CONTAIN_NUM = 4
_CONTAIN_DEN = 5
_CONTAIN_MIN_SH = 10


@register(
    "dedup_containment",
    oracle=f"""
    WITH {_SQL_JACCARD_CTES},
    pairs AS (
      SELECT i.doc_a, i.doc_b, i.n_common,
             ca.n_sh AS na, cb.n_sh AS nb
      FROM inter i
      JOIN counts ca ON ca.doc_id = i.doc_a
      JOIN counts cb ON cb.doc_id = i.doc_b),
    dirs AS (
      SELECT doc_a AS doc_sub, doc_b AS doc_super,
             na AS n_sub, n_common
      FROM pairs
      WHERE {_CONTAIN_DEN} * n_common >= {_CONTAIN_NUM} * na
        AND na >= {_CONTAIN_MIN_SH}
      UNION ALL
      SELECT doc_b, doc_a, nb, n_common
      FROM pairs
      WHERE {_CONTAIN_DEN} * n_common >= {_CONTAIN_NUM} * nb
        AND nb >= {_CONTAIN_MIN_SH})
    SELECT doc_sub, doc_super, n_sub, n_common,
           {round4_frac_sql('n_common', 'n_sub', '//')} AS containment
    FROM dirs
    """,
    tags=("dedup", "containment", "ngram"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional n-gram containment |A∩B|/|A| ≥ 0.8 — the
    partial-copy detector (quotes, excerpts, page-in-page wrappers)
    that symmetric Jaccard structurally misses: a small doc embedded
    in a much larger one has near-zero Jaccard but containment ≈ 1.

    Same scale skeleton as the Jaccard path — the session-shared
    hashed-shingle relation, grouped posting lists, the stop-shingle
    df cap bounding every fanout term — but with the ASYMMETRIC
    prefix filter: containment's overlap bound α = ceil(t·|sub|)
    depends on the sub side only, so only each doc's first
    |sub| − α + 1 sorted hashes probe the index (pigeonhole: if every
    common hash sat after that prefix, fewer than α would remain),
    while the index side keeps FULL posting lists because a
    containing superset may be arbitrarily large. At t=0.8 the probe
    stream shrinks ~5× versus full-list pair emission (measured: the
    unfiltered form ran K=8 at 5.3×). Candidates come out
    DIRECTIONAL (sub → super) by construction; each verifies exactly
    via one array_intersect with an integer cross-multiplied
    threshold. The oracle is the exact uncapped relational form: a
    candidate-generation bug surfaces as a hash mismatch rather than
    being replicated (same policy as the Jaccard oracle; the above-
    cap divergence is pinned by the planted-skew pytest)."""
    return containment_pairs_from_arrays(shingle_arrays(spark, sf_dir))


def containment_pairs_from_arrays(
    arr: DataFrame, df_cap: int = _STOP_SHINGLE_DF_CAP
) -> DataFrame:
    """Core of dedup_containment over a precomputed (doc_id, n_sh,
    hsh) table, with the stop-shingle cap injectable so the
    planted-skew test can pin its false-negative-only contract."""
    # ONE definition of the sorted arrays so the probe prefixes, the
    # positional index and the slack counter can never read different
    # orders. NOTE this is a single *definition*, not a single
    # *evaluation*: Spark inlines the projection into every consuming
    # branch (no cross-branch reuse — the same plan fact the posting
    # comment below records), so each of the three branches re-sorts;
    # the slack correctness fix costs ~8% K=32 amplified wall
    # (10.0 → 10.8 s, SCALING.md) and that is the honest price.
    sarr = arr.select("doc_id", "n_sh", F.array_sort("hsh").alias("hsh"))
    # integer-exact alpha = ceil(NUM*n/DEN): (NUM*n + DEN-1) div DEN —
    # a double ceil(0.8*n) sits on round-to-even knife edges at
    # exact multiples and is not portable
    prefix_len = (
        f"greatest(size(hsh) - (({_CONTAIN_NUM} * n_sh + {_CONTAIN_DEN - 1})"
        f" div {_CONTAIN_DEN}) + 1, 0)"
    )
    subpref = sarr.filter(F.col("n_sh") >= _CONTAIN_MIN_SH).select(
        F.col("doc_id").alias("doc_sub"),
        F.col("n_sh").alias("np_sub"),
        F.explode(F.expr(f"slice(hsh, 1, {prefix_len})")).alias("shingle"),
    )
    posting_all = (
        sarr.select(
            "doc_id",
            F.col("n_sh").alias("np_super"),
            F.posexplode("hsh").alias("pos0", "shingle"),
        )
        .groupBy("shingle")
        .agg(
            F.collect_list(
                F.struct("doc_id", "np_super", F.col("pos0").alias("pos0"))
            ).alias("supers")
        )
    )
    posting = posting_all.filter(
        # size >= 2: a singleton list is always exactly the probing
        # doc itself and can never yield a candidate (same bound as
        # every sibling posting-list path); size <= cap: hot-shingle
        # fanout guard, false-negative-only above the cap
        (F.size("supers") >= 2)
        & (F.size("supers") <= df_cap)
    )
    # Cap slack — the Jaccard pattern ported: per doc, how many of its
    # OWN prefix shingles sit in capped (> df_cap) posting lists. The
    # positional bound's proof anchors on the smallest SURVIVING
    # common hash h_j; every smaller common hash is also inside the
    # sub's prefix (the prefix IS the smallest hashes) and, not
    # surviving, must be capped — so j <= slack_sub and h_j still has
    # >= alpha - slack_sub common hashes at-or-after it in the super.
    # Without the slack, a pair whose smallest common shingles are hot
    # could lose EVERY mention to the positional bound even though the
    # pre-positional form kept it (regression-pinned with a crafted
    # arr in tests/test_dedup.py).
    cap_slack = (
        posting_all.filter(F.size("supers") > df_cap)
        .select(F.explode("supers").alias("sp"))
        .filter(
            F.expr(
                "sp.pos0 < greatest(sp.np_super -"
                f" (({_CONTAIN_NUM} * sp.np_super + {_CONTAIN_DEN - 1})"
                f" div {_CONTAIN_DEN}) + 1, 0)"
            )
        )
        .groupBy(F.col("sp.doc_id").alias("doc_sub"))
        .agg(F.count("*").alias("n_capped"))
    )
    # Super-side positional filter: a qualifying direction needs
    # overlap alpha = ceil(t*n_sub); its smallest surviving common
    # hash has >= alpha - slack common hashes at-or-after it in the
    # super's sorted array, so at least one mention satisfies
    # n_super - pos + slack >= alpha. Mentions deep in big supers
    # (most of the probe fanout) drop before the distinct shuffle:
    # measured K=32 15.6x -> 5.3x (SCALING.md). Slack joins ONE side
    # (the sub) — each extra reference to the posting aggregate
    # re-plans it (no cross-branch exchange reuse), same reasoning as
    # the Jaccard plan.
    alpha = f"(({_CONTAIN_NUM} * np_sub + {_CONTAIN_DEN - 1}) div {_CONTAIN_DEN})"
    cand = (
        subpref.join(posting, "shingle")
        .select("doc_sub", "np_sub", F.explode("supers").alias("sp"))
        .join(cap_slack, "doc_sub", "left")
        .withColumn("slack", F.coalesce(F.col("n_capped"), F.lit(0)))
        .filter(
            (F.col("doc_sub") != F.col("sp.doc_id"))
            & F.expr(f"sp.np_super - sp.pos0 + slack >= {alpha}")
        )
        .select("doc_sub", F.col("sp.doc_id").alias("doc_super"))
        .distinct()
    )
    s = arr.select(
        F.col("doc_id").alias("doc_sub"),
        F.col("n_sh").alias("n_sub"),
        F.col("hsh").alias("hs"),
    )
    p = arr.select(
        F.col("doc_id").alias("doc_super"), F.col("hsh").alias("hp")
    )
    verified = (
        cand.join(s, "doc_sub")
        .join(p, "doc_super")
        .select(
            "doc_sub",
            "doc_super",
            "n_sub",
            F.size(F.array_intersect("hs", "hp")).alias("n_common"),
        )
    )
    return verified.filter(
        _CONTAIN_DEN * F.col("n_common") >= _CONTAIN_NUM * F.col("n_sub")
    ).select(
        "doc_sub",
        "doc_super",
        "n_sub",
        "n_common",
        F.expr(round4_frac_sql("n_common", "n_sub", "div")).alias(
            "containment"
        ),
    )


# --- Bloom-prefiltered incremental dedup -----------------------------------
# The 100 TB ingest shape: before the batch-vs-corpus fingerprint JOIN
# (dedup_incremental), probe a Bloom bitmap of the corpus fingerprints.
# Almost all new documents are NOT duplicates; the bitmap answers
# "definitely new" for ~(1-fpp) of them without shuffling them into the
# join at all, so the exact confirm join's input shrinks from |batch| to
# |true dups| + fpp·|batch|. Bloom filters have NO false negatives, so
# the final output is bit-identical to the plain incremental join — the
# oracle below is the SAME exact SQL, which is what makes this sketch
# hash-checkable.
#
# The bitmap is built DISTRIBUTED, never on the driver: each corpus text
# maps to _BLOOM_K bit positions (xxhash64 salted per hash index), and a
# bucket-keyed bit_or aggregation folds them into <= _BLOOM_M_BITS/64
# (bucket, word) rows — a fixed-size table regardless of corpus row
# count, with map-side partial aggregation collapsing the exploded
# positions before the shuffle. Sizing: m ≈ 1.44·n·log2(1/fpp) bits; the
# catalog constant (2^17 bits, k=5 → fpp < 1% for the test corpora) is a
# corpus-count-free literal so plan construction stays lazy.
#
# The probe folds the bitmap rows into ONE broadcast map and tests each
# batch row with a pure projection — no shuffle of the batch at all, and
# row multiplicity is trivially preserved (a duplicated input row yields
# a duplicated output row, exactly like the plain join path). That holds
# up to bitmaps of a few hundred MB ≈ 10^9 corpus docs at 1% fpp; past
# that, the variant is sharding the (bucket, word) TABLE (bloom_bitmap
# keeps it a relation precisely so that stays possible) and equi-joining
# exploded positions on bucket, at the cost of a per-doc regroup — not
# implemented here because the single-map probe covers the stated
# corpus range.
_BLOOM_M_BITS = 1 << 17
_BLOOM_K = 5


def _bloom_positions(fingerprint: F.Column) -> F.Column:
    """The _BLOOM_K bit positions of one content FINGERPRINT (the md5
    hex of :func:`_content_fingerprint`) — xxhash64 with a per-index
    salt column, reduced mod the bitmap size. Hashing the fingerprint
    rather than the raw text keeps the bitmap derivable from the
    maintained fingerprint artifact (the 100 TB story: neither side
    of the probe ever rescans corpus text) and makes the probe hash
    32-byte strings instead of whole documents. A NULL fingerprint
    (NULL text) hashes to the salt alone (Spark hash functions skip
    NULL inputs): deterministic, and harmless either way — a NULL
    fingerprint can never match in the exact confirm join."""
    return F.array(
        *[
            F.pmod(F.xxhash64(fingerprint, F.lit(i)), F.lit(_BLOOM_M_BITS))
            for i in range(_BLOOM_K)
        ]
    )


# ONE definition of the position→(bucket, mask) decomposition, used by
# the bitmap builder (Column side) AND the forall probe (SQL string
# side) — retyping it in either place could silently break the
# no-false-negative guarantee (same drift class _content_fingerprint
# closes for the md5).
_POS_BUCKET_SQL = "shiftright({p}, 6)"
_POS_MASK_SQL = "shiftleft(CAST(1 AS BIGINT), CAST({p} & 63 AS INT))"


def _content_fingerprint() -> F.Column:
    """md5 over the raw UTF-8 text bytes — THE content fingerprint
    every incremental-dedup path keys on (plain join, Bloom probe,
    confirm join). One definition, because the Bloom path's
    output-exactness rests on all sites computing the SAME bytes: a
    drift in any one silently breaks the no-false-negative guarantee
    the oracle parity checks."""
    return F.md5(F.col("text").cast("binary"))


def corpus_fingerprints(corpus: DataFrame) -> DataFrame:
    """(h, canonical) — one row per distinct corpus text, canonical =
    MIN(doc_id). The maintained artifact every incremental path reads
    (text_fingerprint materializes the same table); both the Bloom
    bitmap and the confirm join derive from it."""
    return corpus.groupBy(_content_fingerprint().alias("h")).agg(
        F.min("doc_id").alias("canonical")
    )


def bloom_bitmap(fps: DataFrame) -> DataFrame:
    """(bucket, word) Bloom bitmap of a fingerprint relation's ``h``
    column — bucket is the 64-bit word index, word the OR of its set
    bits. At most _BLOOM_M_BITS/64 rows by construction."""
    pos = fps.select(F.explode(_bloom_positions(F.col("h"))).alias("pos"))
    return (
        pos.select(
            F.expr(_POS_BUCKET_SQL.format(p="pos")).alias("bucket"),
            F.expr(_POS_MASK_SQL.format(p="pos")).alias("w"),
        )
        .groupBy("bucket")
        .agg(F.bit_or("w").alias("word"))
    )


def bloom_bitmap_map(fps: DataFrame) -> DataFrame:
    """The bitmap as ONE row carrying a bucket→word map — the
    broadcastable probe form (an empty corpus yields one row with an
    empty map, which rejects everything, as it must)."""
    return bloom_bitmap(fps).agg(
        F.map_from_entries(
            F.collect_list(F.struct("bucket", "word"))
        ).alias("bloom_map")
    )


def _bloom_maybe(ps_col: str) -> F.Column:
    """TRUE iff every position in array column ``ps_col`` is set in
    the joined ``bloom_map`` — the probe predicate, built from the
    same bucket/mask fragments as the bitmap. try_element_at keeps a
    missing bucket a plain 0-word under ANSI mode."""
    return F.expr(
        f"forall({ps_col}, p -> (coalesce(try_element_at(bloom_map,"
        f" {_POS_BUCKET_SQL.format(p='p')}), CAST(0 AS BIGINT))"
        f" & {_POS_MASK_SQL.format(p='p')}) != 0)"
    )


def bloom_candidates(batch: DataFrame, corpus: DataFrame) -> DataFrame:
    """One row PER BATCH ROW (doc_id, bh, maybe) — maybe=1 iff every
    one of the row's K bit positions is set in the corpus bitmap; a
    pure projection against the one-row broadcast map, so input row
    multiplicity survives untouched. The no-false-negative half of
    the Bloom contract (every true dup has maybe=1) is what the
    correctness of :func:`bloom_incremental_flags` rests on; the
    false-positive RATE only affects how much the confirm join prunes
    — both pinned in tests/test_dedup.py."""
    probe = batch.select(
        "doc_id",
        _content_fingerprint().alias("bh"),
    ).select(
        "doc_id", "bh", _bloom_positions(F.col("bh")).alias("ps")
    ).crossJoin(F.broadcast(bloom_bitmap_map(corpus_fingerprints(corpus))))
    return probe.select(
        "doc_id", "bh", _bloom_maybe("ps").cast("long").alias("maybe")
    )


def bloom_filter_fresh(df: DataFrame, corpus: DataFrame) -> DataFrame:
    """The rows of ``df`` whose text is NOT already in ``corpus`` —
    row-for-row and KEYLESS (NULL or duplicated doc_ids are handled
    per ROW, where a doc_id-keyed join-back would drop or double
    them): definite Bloom misses pass straight through, candidates
    anti-join the fingerprint table. The curation runner's
    cross-corpus dedup pre-stage."""
    fps = corpus_fingerprints(corpus)
    t = (
        df.withColumn("__bh", _content_fingerprint())
        .withColumn("__ps", _bloom_positions(F.col("__bh")))
        .crossJoin(F.broadcast(bloom_bitmap_map(fps)))
        .withColumn("__maybe", _bloom_maybe("__ps"))
    )
    aux = ["__bh", "__ps", "bloom_map", "__maybe"]
    miss = t.filter(~F.col("__maybe")).drop(*aux)
    fresh_cand = (
        t.filter(F.col("__maybe"))
        .join(fps, F.col("__bh") == F.col("h"), "left_anti")
        .drop(*aux)
    )
    return miss.unionByName(fresh_cand)


def bloom_incremental_flags(batch: DataFrame, corpus: DataFrame) -> DataFrame:
    """(doc_id, is_dup, dup_of) for ``batch`` against ``corpus`` —
    output identical to :func:`incremental_dedup_flags` (pinned by
    tests), but only Bloom-candidate rows reach the fingerprint join.

    Probe: a per-row map lookup against the one-row broadcast bitmap
    (no batch shuffle, multiplicity-preserving). Definite misses
    short-circuit to is_dup=0 rows; the corpus fingerprint table only
    ever joins the surviving candidates."""
    flags = bloom_candidates(batch, corpus)
    fps = corpus_fingerprints(corpus)
    confirmed = (
        flags.filter(F.col("maybe") == 1)
        .join(fps, F.col("bh") == F.col("h"), "left")
        .select(
            "doc_id",
            F.when(F.col("h").isNull(), F.lit(0)).otherwise(F.lit(1)).alias(
                "is_dup"
            ),
            F.col("canonical").alias("dup_of"),
        )
    )
    misses = flags.filter(F.col("maybe") == 0).select(
        "doc_id",
        F.lit(0).alias("is_dup"),
        F.lit(None).cast("long").alias("dup_of"),
    )
    return confirmed.unionByName(misses)


@register(
    "dedup_bloom_incremental",
    oracle="""
    WITH corpus AS (
      SELECT md5(text) AS h, MIN(doc_id) AS canonical
      FROM documents WHERE doc_id % 5 <> 4
      GROUP BY md5(text))
    SELECT d.doc_id,
           CASE WHEN c.h IS NULL THEN 0 ELSE 1 END AS is_dup,
           c.canonical AS dup_of
    FROM documents d
    LEFT JOIN corpus c ON md5(d.text) = c.h
    WHERE d.doc_id % 5 = 4
    """,
    tags=("dedup", "incremental", "bloom"),
)
def dedup_bloom_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered batch-vs-corpus dedup — same slices, same
    output, same EXACT oracle as dedup_incremental; only the physical
    strategy differs (bitmap probe prunes the confirm join's input).
    No-false-negatives is what keeps a sketch hash-checkable here:
    the sketch only ever REMOVES definitely-new rows from the join,
    never an answer."""
    docs = load_tables(spark, sf_dir)["documents"]
    return bloom_incremental_flags(
        docs.filter(F.col("doc_id") % 5 == 4),
        docs.filter(F.col("doc_id") % 5 != 4),
    )


# --- Incremental (batch-vs-corpus) NEAR-dup via LSH -------------------------


def _lsh_incremental_oracle() -> str:
    mh = ",\n           ".join(
        f"MIN(({a} * (shingle >> 32)"
        f" + {b}) % {_MINHASH_PRIME}) AS h{i}"
        for i, (a, b) in enumerate(_MINHASH_AB)
    )
    bands = _band_exprs()
    band_union = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {bnd} AS band_key, {j} AS band_id FROM sigs"
        for j, bnd in enumerate(bands)
    )
    return f"""
    WITH sh0 AS ({_SQL_SHINGLES}),
    sh AS ({_SQL_HSH_FROM_SH0}),
    sigs AS (
      SELECT doc_id, {mh}
      FROM sh GROUP BY doc_id),
    bands AS (
      {band_union}),
    bb AS (SELECT * FROM bands WHERE doc_id % 5 = 4),
    small_corpus_buckets AS (
      SELECT band_id, band_key FROM bands WHERE doc_id % 5 <> 4
      GROUP BY 1, 2 HAVING COUNT(*) <= {_STOP_SHINGLE_DF_CAP}),
    cb AS (
      SELECT b.* FROM bands b
      JOIN small_corpus_buckets s
        ON s.band_id = b.band_id AND s.band_key = b.band_key
      WHERE b.doc_id % 5 <> 4),
    cand AS (
      SELECT DISTINCT bb.doc_id AS doc_id, cb.doc_id AS near_dup_of
      FROM bb JOIN cb
        ON bb.band_id = cb.band_id AND bb.band_key = cb.band_key),
    counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh0 GROUP BY doc_id),
    inter AS (
      SELECT c.doc_id, c.near_dup_of, COUNT(*) AS n_common
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_id
      JOIN sh sb ON sb.doc_id = c.near_dup_of AND sb.shingle = sa.shingle
      GROUP BY 1, 2)
    SELECT i.doc_id, i.near_dup_of,
           {round4_frac_sql('i.n_common', 'ca.n_sh + cb2.n_sh - i.n_common', '//')}
             AS jaccard
    FROM inter i
    JOIN counts ca ON ca.doc_id = i.doc_id
    JOIN counts cb2 ON cb2.doc_id = i.near_dup_of
    WHERE CAST(i.n_common AS DOUBLE) / (ca.n_sh + cb2.n_sh - i.n_common)
          >= {_JACCARD_THRESHOLD}
    """


def lsh_incremental_pairs(
    batch_arr: DataFrame, corpus_arr: DataFrame
) -> DataFrame:
    """(doc_id, near_dup_of, jaccard) — each BATCH doc paired with
    every CORPUS doc it near-duplicates (threshold jaccard over
    shingle sets, verified exactly on candidates). The near-dup twin
    of :func:`incremental_dedup_flags`, and the shape a web-scale
    ingest actually runs: at 100 TB the corpus side is a maintained
    BAND-POSTINGS artifact (signatures stored once per corpus
    snapshot — the LSH analog of the fingerprint table), so a new
    batch only signs itself and equi-joins the posting lists; the
    corpus text is never rescanned and no batch×corpus product ever
    exists.

    Hot-bucket discipline: the cap applies to the CORPUS bucket size
    (a band bucket shared by >cap corpus docs is boilerplate and
    carries no near-dup signal) — false-negative-only, mirrored
    exactly by the oracle. Note the full-corpus query
    (dedup_minhash_lsh) caps the COMBINED bucket; the two caps count
    different universes, so their recall sets are not comparable
    around the cap boundary."""
    bb = _band_stage(_sig_stage(batch_arr))
    cb = (
        _band_stage(_sig_stage(corpus_arr))
        .groupBy("band_id", "band_key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs") <= _STOP_SHINGLE_DF_CAP)
    )
    cand = (
        bb.join(cb, ["band_id", "band_key"])
        .select("doc_id", F.explode("docs").alias("near_dup_of"))
        .distinct()
    )
    sa = batch_arr.alias("sa")
    sb = corpus_arr.alias("sb")
    pairs = (
        cand.alias("c")
        .join(sa, F.col("c.doc_id") == F.col("sa.doc_id"))
        .join(sb, F.col("c.near_dup_of") == F.col("sb.doc_id"))
        .select(
            F.col("c.doc_id").alias("doc_id"),
            F.col("c.near_dup_of").alias("near_dup_of"),
            F.size(F.array_intersect("sa.hsh", "sb.hsh")).alias("n_common"),
            F.col("sa.n_sh").alias("na"),
            F.col("sb.n_sh").alias("nb"),
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return pairs.filter(jac >= _JACCARD_THRESHOLD).select(
        "doc_id",
        "near_dup_of",
        F.expr(
            round4_frac_sql("CAST(n_common AS BIGINT)", "CAST(na AS BIGINT) + nb - n_common", "div")
        ).alias("jaccard"),
    )


@register(
    "dedup_lsh_incremental",
    oracle=_lsh_incremental_oracle(),
    tags=("dedup", "minhash", "lsh", "incremental"),
)
def dedup_lsh_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus NEAR-dup (the %5 slices of dedup_incremental,
    the LSH machinery of dedup_minhash_lsh): sign the arriving batch,
    probe the corpus band postings, verify candidates exactly. Same
    md5-seeded deterministic hash family as the full-corpus query, so
    the whole sketch is oracle-checkable."""
    arr = shingle_arrays(spark, sf_dir)
    return lsh_incremental_pairs(
        arr.filter(F.col("doc_id") % 5 == 4),
        arr.filter(F.col("doc_id") % 5 != 4),
    )


# ---------------------------------------------------------------------------
# duplicate n-gram spans (exact-substring dedup audit, Lee et al. 2022)
# ---------------------------------------------------------------------------

# Span gram width. 4 words — long enough that a repeat is structural
# (boilerplate, quoted reuse), short enough that the synthetic
# word-salad corpus still carries real collisions. The public method
# (Lee et al. 2022, "Deduplicating Training Data Makes Language
# Models Better") uses 50-token substrings over a suffix array; the
# distributed re-expression is a positional n-gram inverted index —
# the suffix array's "repeated substring" answer at fixed width k,
# with runs of overlapping duplicated grams recovering longer spans.
# Gram keys are the house 60-bit md5-prefix ids (see module header):
# 8-byte shuffle keys instead of ~25-byte gram strings, identical on
# both engines, same collision posture as every shingle op.
_SPAN_WORDS = 4


def _gram_hash_array_expr(k: int) -> str:
    """Row-local positional k-gram 60-bit-hash array over a tokenized
    column ``w`` — the ONE Spark-side gram-stream expression shared by
    the span audits (exploded) and the winnowing plane (kept as an
    array), so 'same gram' can never mean two different things
    across planes."""
    return (
        f"if(size(w) < {k}, array(),"
        f" transform(sequence(1, size(w) - {k - 1}),"
        f"   i -> cast(conv(substring(md5(cast("
        f"          concat_ws(' ', slice(w, i, {k})) as binary)),"
        f"        1, 15), 16, 10) as bigint)))"
    )


def _positional_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, i, gh): every 1-based position's word k-gram as its
    60-bit content hash — the span audits' exploded view of
    :func:`_gram_hash_array_expr` (oracle twin:
    :func:`_span_grams_cte`)."""
    toks = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.split("text", " ").alias("w")
    )
    # posexplode is 0-based; +1 matches the oracle's 1-based
    # generate_subscripts, and only differences of i ever matter
    return toks.select(
        "doc_id",
        F.posexplode(F.expr(_gram_hash_array_expr(_SPAN_WORDS))).alias(
            "i0", "gh"
        ),
    ).select("doc_id", (F.col("i0") + 1).alias("i"), "gh")


def _duck_gram_hash(text_expr: str) -> str:
    """DuckDB twin of the 60-bit md5-prefix gram hash — ONE idiom for
    every gram consumer's oracle (span audits, winnowing), mirroring
    :func:`_gram_hash_array_expr` on the Spark side."""
    return f"CAST('0x' || substr(md5({text_expr}), 1, 15) AS BIGINT)"


def _span_grams_cte(src: str, prefix: str) -> str:
    """DuckDB twin of :func:`_positional_grams` over table ``src`` —
    CTEs ``{prefix}toks/{prefix}pos/{prefix}grams``, the last one
    (doc_id, i, gh)."""
    k = _SPAN_WORDS
    gh = _duck_gram_hash(f"array_to_string(list_slice(w, i, i + {k - 1}), ' ')")
    return f"""
    {prefix}toks AS (
      SELECT doc_id, string_split(text, ' ') AS w
      FROM {src} WHERE text IS NOT NULL),
    {prefix}pos AS (
      SELECT doc_id, w, generate_subscripts(w, 1) AS i FROM {prefix}toks),
    {prefix}grams AS (
      SELECT doc_id, i, {gh} AS gh
      FROM {prefix}pos WHERE i + {k - 1} <= len(w))"""


# per-doc totals + run recovery over a duplicated-position CTE named
# ``duppos`` (doc_id, i), shared verbatim by both span oracles
def _span_perdoc_sql(base: str) -> str:
    k = _SPAN_WORDS
    return f"""
    runs AS (
      SELECT doc_id, i,
             i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
      FROM duppos),
    runlen AS (
      SELECT doc_id, grp, COUNT(*) AS rl FROM runs GROUP BY doc_id, grp),
    perdoc AS (
      SELECT doc_id, SUM(rl) AS n_dup, MAX(rl) AS max_run
      FROM runlen GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(GREATEST(COALESCE(
             len(string_split(d.text, ' ')) - {k - 1}, 0), 0)
             AS BIGINT) AS n_grams,
           CAST(COALESCE(p.n_dup, 0) AS BIGINT) AS n_dup_grams,
           CAST(CASE WHEN p.max_run IS NULL THEN 0
                     ELSE p.max_run + {k - 1} END AS BIGINT)
             AS max_dup_run_tokens
    FROM {base} d LEFT JOIN perdoc p USING (doc_id)"""


def _span_report(docs: DataFrame, duppos: DataFrame) -> DataFrame:
    """Runs + per-doc totals over duplicated positions — the Spark
    twin of :func:`_span_perdoc_sql`, shared by both span queries."""
    from pyspark.sql import Window

    k = _SPAN_WORDS
    w_doc = Window.partitionBy("doc_id").orderBy("i")
    perdoc = (
        duppos.withColumn("grp", F.col("i") - F.row_number().over(w_doc))
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).alias("rl"))
        .groupBy("doc_id")
        .agg(F.sum("rl").alias("n_dup"), F.max("rl").alias("max_run"))
    )
    n_grams = F.greatest(
        F.coalesce(F.size(F.split("text", " ")) - (k - 1), F.lit(0)),
        F.lit(0),
    )
    return (
        docs.select("doc_id", n_grams.cast("long").alias("n_grams"))
        .join(perdoc, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_dup"), F.lit(0))
            .cast("long")
            .alias("n_dup_grams"),
            F.when(F.col("max_run").isNull(), F.lit(0))
            .otherwise(F.col("max_run") + (k - 1))
            .cast("long")
            .alias("max_dup_run_tokens"),
        )
    )


@register(
    "dedup_duplicate_spans",
    oracle=f"""
    WITH {_span_grams_cte('documents', '')},
    dupg AS (
      SELECT gh FROM grams GROUP BY gh HAVING COUNT(*) >= 2),
    duppos AS (
      SELECT doc_id, i FROM grams JOIN dupg USING (gh)),
    {_span_perdoc_sql('documents')}
    """,
    tags=("dedup", "spans", "substring"),
)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-SPAN audit (the distributed form of Lee et al.
    2022's suffix-array substring dedup): every positional word
    k-gram (k = _SPAN_WORDS) whose content occurs >= 2 times ANYWHERE
    in the corpus (other docs or the same doc — self-repetition is
    exactly what substring dedup removes) is a duplicated position;
    runs of consecutive duplicated positions recover spans longer
    than the gram width. Per doc: total grams, duplicated grams, and
    the longest duplicated span in TOKENS (run + k - 1).

    Docs with NULL or short text surface with zeroes (LEFT JOIN from
    the documents scan), so the audit is total over the corpus.

    Scale shape: ONE positional explode feeding one gram-keyed
    exchange, where a whole-partition count window marks duplicated
    positions in place (the groupBy+join-back spelling would execute
    the scan+explode twice — Spark does not reuse exchanges across
    plan branches); then one doc-keyed window + aggregate over
    DUPLICATED positions only (a small fraction of the stream by
    construction). The final LEFT JOIN hangs the sparse per-doc stats
    back on a column-pruned documents projection. Hot grams
    (corpus-wide boilerplate) skew the gram partitions; the count
    frame is unordered so the window is a streaming aggregate, and
    AQE handles the residual (same posture as the shingle ops,
    dedup.py header)."""
    from pyspark.sql import Window

    docs = load_tables(spark, sf_dir)["documents"]
    grams = _positional_grams(docs)
    # ONE pass over the gram stream: a count window partitioned by gh
    # (no ordering, whole-partition frame) marks duplicated positions
    # with a single gram-keyed exchange (review pass 1 measured the
    # join-back form re-running the explode).
    w_gram = Window.partitionBy("gh")
    duppos = (
        grams.withColumn("df", F.count(F.lit(1)).over(w_gram))
        .filter(F.col("df") >= 2)
        .select("doc_id", "i")
    )
    return _span_report(docs, duppos)


@register(
    "dedup_spans_incremental",
    oracle=f"""
    WITH {_span_grams_cte("(SELECT * FROM documents WHERE doc_id % 5 != 4)", 'c')},
    corpus_gh AS (SELECT DISTINCT gh FROM cgrams),
    {_span_grams_cte("(SELECT * FROM documents WHERE doc_id % 5 = 4)", 'b')},
    duppos AS (
      SELECT doc_id, i FROM bgrams
      WHERE gh IN (SELECT gh FROM corpus_gh)),
    {_span_perdoc_sql("(SELECT * FROM documents WHERE doc_id % 5 = 4)")}
    """,
    tags=("dedup", "spans", "substring", "incremental"),
)
def dedup_spans_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus duplicate SPANS (the continuous-ingest form of
    dedup_duplicate_spans, completing the incremental family beside
    the exact/Bloom/LSH variants): for each arriving doc (the %5
    slice, house convention), which of its positional k-grams already
    exist ANYWHERE in the standing corpus, and the longest
    already-seen span. The write-path use is span-level
    decontamination: an arriving doc whose max_dup_run_tokens is high
    is boilerplate or a near-copy even when no whole-doc fingerprint
    matches.

    Scale shape: the corpus collapses ONCE to its distinct 60-bit
    gram fingerprints — at 100 TB that set is the maintained
    artifact, updated by unioning each admitted batch's grams, never
    a corpus rescan — and the (small) batch's positions left-semi
    join it on the 8-byte key. Runs/report reuse the exact same
    production expressions as the full audit (_span_report), so the
    two can never disagree on span semantics. NULL doc_ids belong to
    neither side (NULL %5 satisfies neither filter, both engines)."""
    docs = load_tables(spark, sf_dir)["documents"]
    batch = docs.filter(F.col("doc_id") % 5 == 4)
    corpus = docs.filter(F.col("doc_id") % 5 != 4)
    corpus_gh = _positional_grams(corpus).select("gh").distinct()
    duppos = (
        _positional_grams(batch)
        .join(corpus_gh, "gh", "left_semi")
        .select("doc_id", "i")
    )
    return _span_report(batch, duppos)


# ---------------------------------------------------------------------------
# per-document n-gram novelty (first-occurrence share)
# ---------------------------------------------------------------------------


@register(
    "text_ngram_novelty",
    oracle=f"""
    WITH sh0 AS ({_SQL_SHINGLES}),
    shh AS ({_SQL_HSH_FROM_SH0}),
    firsts AS (
      SELECT doc_id, shingle,
             MIN(doc_id) OVER (PARTITION BY shingle) AS first_doc
      FROM shh),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_shingles,
             SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) AS n_novel
      FROM firsts GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(p.n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(COALESCE(p.n_novel, 0) AS BIGINT) AS n_novel,
           CASE WHEN p.n_shingles > 0 THEN
             {round4_frac_sql("CAST(p.n_novel AS BIGINT)",
                              "p.n_shingles", "//")} END AS novelty
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
    tags=("text", "dedup", "novelty"),
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the share of a document's distinct
    shingle hashes whose FIRST corpus occurrence (minimum doc_id) is
    this document — the contribution-vs-repetition score a curation
    pass reads to find boilerplate-heavy late arrivals (novelty ~0:
    everything in the doc was already seen under an earlier id) and
    fresh material (novelty ~1). Works in the 60-bit hashed-shingle
    domain shared with the whole dedup plane (counts INCLUDE the
    ~n²/2⁶¹ collisions identically on both engines, and numerator and
    denominator live in the same domain, so the ratio is internally
    consistent). Docs with no shingles (under three words) report
    zero counts and a NULL novelty. "First" is id-order, not
    time-order — the corpus's stable ingest key.

    Scale shape: the memoized shingle pass feeds one explode; the
    first-occurrence resolver is an unbounded MIN window over the
    shingle key (one exchange — no join back, the frame is
    partition-global so no sort is needed); the per-doc rollup is a
    second map-side-combinable exchange; the final LEFT join aligns
    two doc-cardinality relations under AQE. No step is quadratic:
    posting lists never materialize, only their running minimum."""
    from pyspark.sql import Window

    arr = shingle_arrays(spark, sf_dir)
    ex = arr.select("doc_id", F.explode("hsh").alias("shingle"))
    firsts = ex.withColumn(
        "first_doc", F.min("doc_id").over(Window.partitionBy("shingle"))
    )
    per_doc = firsts.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum((F.col("doc_id") == F.col("first_doc")).cast("int")).alias(
            "n_novel"
        ),
    )
    docs = load_tables(spark, sf_dir)["documents"].select("doc_id")
    return docs.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
        F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
        F.when(
            F.col("n_shingles") > 0,
            F.expr(round4_frac_sql("n_novel", "n_shingles", "div")),
        ).alias("novelty"),
    )


# ---------------------------------------------------------------------------
# winnowing fingerprints (Schleimer et al., SIGMOD 2003 — public method)
# ---------------------------------------------------------------------------

# Winnow window over the _SPAN_WORDS-gram hash stream: each window of
# _WINNOW_W consecutive gram hashes contributes its MINIMUM, and the
# per-doc fingerprint is the distinct set of selected minima —
# guaranteed-overlap local fingerprints (any shared substring of
# ~_WINNOW_W + _SPAN_WORDS - 1 words forces at least one shared
# fingerprint), at expected density 2/(w+1) of the gram stream. The
# gram domain is the house 60-bit md5-prefix id, identical on both
# engines (shared with the duplicate-spans plane).
_WINNOW_W = 4
_WINNOW_MIN_SHARED = 2


def _winnow_grams_expr() -> str:
    """The shared gram stream (:func:`_gram_hash_array_expr`, same
    _SPAN_WORDS domain as the span audits). Kept as its OWN projection
    so the md5 stream is computed once per document — inlining it
    into the window-minima transform would re-evaluate the whole
    array per window (measured: O(m²) md5 calls per doc, a 20× wall
    blowup at the K=32 smoke; plan-pinned in test_plan_quality)."""
    return _gram_hash_array_expr(_SPAN_WORDS)


def _winnow_sel_expr() -> str:
    """Distinct window-minima over a materialized gram-array column
    ``g`` (see :func:`_winnow_grams_expr`). Pure codegen (transform /
    slice / array_min) — no explode, no shuffle, no UDF."""
    w = _WINNOW_W
    return (
        f"array_distinct(if(size(g) = 0, array(),"
        f" transform(sequence(1, greatest(size(g) - {w - 1}, 1)),"
        f"   j -> array_min(slice(g, j, {w})))))"
    )


def _winnow_sel_cte(src: str = "documents") -> str:
    """DuckDB twin of :func:`_winnow_sel_expr` — CTE ``wsel``
    (doc_id, n_grams, sel)."""
    k, w = _SPAN_WORDS, _WINNOW_W
    gh = _duck_gram_hash(f"array_to_string(list_slice(w, i, i + {k - 1}), ' ')")
    grams = (
        f"CASE WHEN len(w) < {k} THEN CAST([] AS BIGINT[]) ELSE"
        f" list_transform(range(1, len(w) - {k - 1} + 1),"
        f"   i -> {gh}) END"
    )
    return f"""
    wtoks AS (
      SELECT doc_id, string_split(text, ' ') AS w
      FROM {src} WHERE text IS NOT NULL),
    wgrams AS (SELECT doc_id, {grams} AS g FROM wtoks),
    wsel AS (
      SELECT doc_id, len(g) AS n_grams,
             list_distinct(CASE WHEN len(g) = 0 THEN CAST([] AS BIGINT[]) ELSE
               list_transform(range(1, greatest(len(g) - {w - 1}, 1) + 1),
                 j -> list_min(list_slice(g, j, j + {w - 1}))) END) AS sel
      FROM wgrams)"""


@register(
    "text_winnow_fingerprints",
    oracle=f"""
    WITH {_winnow_sel_cte()}
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(len(sel) AS BIGINT) AS n_selected,
           list_min(sel) AS fp_min,
           CAST(CASE WHEN len(sel) = 0 THEN 0
                ELSE list_reduce(sel, (a, b) -> xor(a, b)) END
             AS BIGINT) AS fp_xor
    FROM wsel
    """,
    tags=("text", "fingerprint", "winnowing"),
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document winnowing fingerprint summary (Schleimer et al.
    2003, "Winnowing: Local Algorithms for Document Fingerprinting" —
    public method): gram count, number of selected window-minima
    fingerprints, and two order-insensitive digests of the selected
    set (min and XOR-fold) so the whole fingerprint table is
    hash-comparable without emitting array columns. The rolling-hash
    fingerprint plane the brief's text-analysis inventory names;
    text_fingerprint's content/bag hashes detect whole-doc
    equivalence, winnowing detects PARTIAL overlap (any shared run of
    at least w + k - 1 = 7 words must share a fingerprint).

    Scale: one projection pass, fully row-local whole-stage codegen
    (no explode, no shuffle, no UDF) — the fingerprint table a
    plagiarism/overlap pipeline materializes once per corpus
    snapshot."""
    toks = (
        load_tables(spark, sf_dir)["documents"]
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("w"))
    )
    k = _SPAN_WORDS
    return (
        scale_out(toks)
        .withColumn("g", F.expr(_winnow_grams_expr()))
        .withColumn("sel", F.expr(_winnow_sel_expr()))
        .select(
            "doc_id",
            F.expr(f"CAST(greatest(size(w) - {k - 1}, 0) AS BIGINT)").alias(
                "n_grams"
            ),
            F.size("sel").cast("long").alias("n_selected"),
            F.array_min("sel").alias("fp_min"),
            F.expr(
                "aggregate(sel, CAST(0 AS BIGINT), (a, x) -> a ^ x)"
            ).alias("fp_xor"),
        )
    )


@register(
    "dedup_winnow_candidates",
    oracle=f"""
    WITH {_winnow_sel_cte()},
    post AS (SELECT doc_id, UNNEST(sel) AS gh FROM wsel),
    hot AS (
      SELECT gh FROM post GROUP BY gh
      HAVING COUNT(*) >= 2 AND COUNT(*) <= {_STOP_SHINGLE_DF_CAP}),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM post a JOIN hot USING (gh) JOIN post b USING (gh)
      WHERE a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM shared GROUP BY doc_a, doc_b
    HAVING COUNT(*) >= {_WINNOW_MIN_SHARED}
    """,
    tags=("dedup", "winnowing", "fingerprint"),
)
def dedup_winnow_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-overlap candidate pairs from shared winnowing
    fingerprints: documents sharing ≥ ``_WINNOW_MIN_SHARED`` (2)
    selected minima, with the shared count — the cheap recall-bounded candidate
    generator in front of an exact verifier (winnowing's guarantee
    makes a miss impossible for overlaps spanning a full window). Same
    inverted-index topology as every shingle op: explode ONLY the
    selected minima (~2/(w+1) the gram stream), bucket by fingerprint
    with the house hot-bucket cap, emit in-bucket pairs, count per
    pair. One shuffle on the fingerprint id, one on the pair — both
    8-byte keys."""
    toks = (
        load_tables(spark, sf_dir)["documents"]
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("w"))
    )
    post = (
        scale_out(toks)
        .withColumn("g", F.expr(_winnow_grams_expr()))
        .select("doc_id", F.explode(F.expr(_winnow_sel_expr())).alias("gh"))
    )
    grouped = (
        post.groupBy("gh")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(
            (F.size("ids") >= 2) & (F.size("ids") <= _STOP_SHINGLE_DF_CAP)
        )
    )
    pairs = grouped.select(
        F.explode(F.expr(_IDS_PAIRS_EXPR)).alias("p")
    ).select("p.*")
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= _WINNOW_MIN_SHARED)
    )


# ---------------------------------------------------------------------------
# per-source near-duplication report (the jaccard complement of
# curation_dedup_report's exact-dup view)
# ---------------------------------------------------------------------------


@register(
    "curation_neardup_report",
    oracle=f"""
    WITH {_SQL_JACCARD_CTES},
    {_SQL_JPAIRS_CTE},
    involved AS (
      SELECT doc_a AS doc_id FROM jpairs
      UNION SELECT doc_b FROM jpairs)
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN i.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_neardup_involved,
           {floor4_frac_sql("CAST(SUM(CASE WHEN i.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS HUGEINT)", "COUNT(*)", "//")}
             AS neardup_rate
    FROM documents d LEFT JOIN involved i USING (doc_id)
    GROUP BY d.source
    """,
    tags=("curation", "dedup", "jaccard", "audit"),
)
def curation_neardup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source NEAR-duplication pressure — the jaccard complement
    of curation_dedup_report's exact-hash view: per source, how many
    docs participate in at least one qualifying n-gram Jaccard pair
    (threshold ``_JACCARD_THRESHOLD``, the dedup plane's one pair
    definition), and the involvement rate. Exact-dup rates say how
    much a source repeats itself verbatim; near-dup involvement says
    how much it paraphrases/templates — the two numbers routing a
    source to hash-dedup vs the expensive near-dup pass.

    Scale: reads the session-shared qualifying-pair table
    (jaccard_pairs_shared — the AllPairs join runs once per session,
    not per report), projects the distinct involved doc ids (a
    relation bounded by the near-dup population, tiny beside the
    corpus), and LEFT-joins the corpus once; the rollup is the house
    floor-to-4-digits integer ratio with NULL sources as their own
    row. Above-cap boilerplate clusters follow the pair table's
    documented false-negative contract."""
    pairs = jaccard_pairs_shared(spark, sf_dir)
    involved = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    docs = scale_out(load_tables(spark, sf_dir)["documents"]).select(
        "doc_id", "source"
    )
    return (
        docs.join(involved, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias(
                "n_neardup_involved"
            ),
            F.expr(
                floor4_frac_sql(
                    "CAST(SUM(coalesce(_hit, 0)) AS DECIMAL(38,0))",
                    "COUNT(*)",
                    "div",
                )
            ).alias("neardup_rate"),
        )
    )
