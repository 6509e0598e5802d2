"""Physical-plan assertions — the scale contract, not just results.

Each check pins a property that decides whether the plan survives a
100×-1000× scale-up: filters/projections reaching the parquet scan,
dimensions broadcast instead of shuffled, partial (map-side)
aggregation present, whole-stage codegen covering the hot path, and no
accidental cartesian products.
"""

from __future__ import annotations

import re

import pytest

from mypipe_spark.plans.catalog import all_queries

_QUERIES = all_queries()


def _plan(spark, name: str, sf_dir: str, mode: str = "formatted") -> str:
    df = _QUERIES[name].fn(spark, sf_dir)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


@pytest.fixture(scope="module")
def all_plans(spark, sf_dir):
    """One formatted plan per catalog query, built ONCE and shared by
    the whole-catalog sweeps below — each sweep independently
    re-planning all 166 queries was ~40 s of duplicated driver work in
    the full suite (round-12 test-gate fix). Plans are built on the
    same session/sf_dir the per-query tests use, so the sweeps assert
    on exactly what an individual test would see."""
    return {name: _plan(spark, name, sf_dir) for name in sorted(_QUERIES)}


def _n_nodes(plan: str, node: str) -> int:
    """Count physical operators via their formatted-mode detail headers
    ("(3) Exchange") — the tree section repeats each node, so a raw
    substring count double-counts."""
    return len(re.findall(rf"^\(\d+\) {node}", plan, flags=re.MULTILINE))


def test_q1_scan_pushdown_and_partial_agg(spark, sf_dir):
    plan = _plan(spark, "q1_pricing_summary", sf_dir)
    # shipdate filter reaches the parquet reader
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1].split("]")[0]
    # column pruning: the 16-col table is read as only the needed 7
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema
    assert read_schema.count(",") <= 7
    # partial aggregation before the exchange (map-side combine)
    assert _n_nodes(plan, "HashAggregate") >= 2
    # expression-only plan: nothing drops to Python row evaluation
    assert "EvalPython" not in plan


def test_q5_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(spark, "q5_nation_revenue", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q3_no_cartesian_and_topk(spark, sf_dir):
    plan = _plan(spark, "q3_top_revenue_orders", sf_dir)
    assert "CartesianProduct" not in plan
    # LIMIT over ORDER BY compiles to top-k, never a full global sort
    assert "TakeOrderedAndProject" in plan


def test_semi_anti_join_operators(spark, sf_dir):
    anti = _plan(spark, "q_customers_without_orders", sf_dir)
    assert "LeftAnti" in anti
    semi = _plan(spark, "q_customers_with_open_orders", sf_dir)
    assert "LeftSemi" in semi


def test_ann_broadcasts_query_vector(spark, sf_dir):
    plan = _plan(spark, "ann_topk_bruteforce", sf_dir)
    # single-row query side must broadcast (BroadcastNestedLoopJoin on
    # a 1-row build side is a map-side pass, not a shuffle)
    assert "Broadcast" in plan
    assert "SortMergeJoin" not in plan


def test_rollup_single_expand_pass(spark, sf_dir):
    plan = _plan(spark, "q_rollup_returns", sf_dir)
    assert "Expand" in plan
    # one scan of lineitem, not one per grouping set
    assert _n_nodes(plan, "Scan parquet") == 1


def test_dedup_exact_partial_agg(spark, sf_dir):
    plan = _plan(spark, "dedup_exact", sf_dir)
    assert _n_nodes(plan, "HashAggregate") >= 2


def test_latest_state_single_shuffle(spark, sf_dir):
    plan = _plan(spark, "cdc_latest_state", sf_dir)
    # one exchange for the window partitioning — no extra repartitions
    assert _n_nodes(plan, "Exchange") == 1


@pytest.mark.parametrize(
    "name", ["q1_pricing_summary", "q5_nation_revenue", "cdc_latest_state"]
)
def test_no_python_udfs_in_hot_paths(spark, sf_dir, name):
    plan = _plan(spark, name, sf_dir)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_wire_dead_letter_valid_branches_call_each_codec_once(spark):
    """The Avro codec UDFs are fenced with asNondeterministic, so the
    valid branch of each encode dead-letter split plans exactly one
    ArrowEvalPython node (one JVM↔Python round trip per batch) instead
    of one per reference to the encoded column (filter + projection)."""
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from mypipe_spark.changelog import changelog_df
    from mypipe_spark.operators.decode import mutations_only
    from mypipe_spark.registry import in_memory_repo, register_table
    from mypipe_spark.sinks.wire import (
        encode_dead_letter_split,
        encode_specific_dead_letter_split,
    )

    def n_arrow(df) -> int:
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        return _n_nodes(df._jdf.queryExecution().explainString(mode), "ArrowEvalPython")

    muts = mutations_only(changelog_df(spark, num_transactions=2))
    schema = StructType(
        [StructField("id", IntegerType()), StructField("username", StringType())]
    )
    reg = in_memory_repo()
    register_table(reg, "mypipe", "user", schema)
    specific_valid, _ = encode_specific_dead_letter_split(
        muts, schema, reg, database="mypipe", table="user"
    )
    generic_valid, _ = encode_dead_letter_split(muts, reg, codec="avro_ref")
    assert n_arrow(specific_valid) == 1
    assert n_arrow(generic_valid) == 1


def test_q6_all_predicates_pushed(spark, sf_dir):
    plan = _plan(spark, "q6_forecast_revenue", sf_dir)
    pushed = plan.split("PushedFilters:")[1].split("]")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed
    # pure scan-aggregate: exactly one (single-row) exchange
    assert _n_nodes(plan, "Exchange") <= 1


def test_q18_aggregates_before_join(spark, sf_dir):
    plan = _plan(spark, "q18_large_orders", sf_dir)
    # the HAVING aggregate collapses lineitem before any join: the
    # aggregate appears below the joins and top-k runs on final rows
    assert "TakeOrderedAndProject" in plan
    assert _n_nodes(plan, "HashAggregate") >= 2  # partial + final
    assert "CartesianProduct" not in plan
    # lineitem's groupBy(l_orderkey) is the plan's only shuffle
    assert _n_nodes(plan, "Exchange") <= 1


def test_asof_join_is_linear_not_quadratic(spark, sf_dir):
    plan = _plan(spark, "q_asof_last_click", sf_dir)
    # the union + carry-forward form: one Window, no join at all —
    # never the O(n·m)-per-key inequality-join rewrite
    assert _n_nodes(plan, "Window") == 1
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"):
        assert bad not in plan
    # both event filters reach the scan
    pushed = re.findall(r"PushedFilters: \[([^\]]*)", plan)
    assert any("click" in p for p in pushed)
    assert any("purchase" in p for p in pushed)


def test_lsh_ann_broadcasts_query_and_prunes(spark, sf_dir):
    plan = _plan(spark, "ann_topk_lsh", sf_dir)
    assert "Broadcast" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_no_catalog_query_plans_a_cartesian_product(all_plans):
    """Global guard across the entire catalog: no registered query may
    plan a CartesianProduct — the one operator shape that cannot
    survive a 100× scale-up. (1-row broadcast sides compile to
    BroadcastNestedLoopJoin, which is a map-side pass and fine.)"""
    for name, plan in all_plans.items():
        assert "CartesianProduct" not in plan, name


def test_only_declared_queries_leave_the_jvm(all_plans):
    """Python row/batch evaluation is the slow path: only the queries
    that deliberately use the Arrow-vectorized kernel may contain a
    Python eval operator; everything else must stay whole-stage
    codegen JVM expressions."""
    allowed = {
        "events_heavy_hitters",  # Misra-Gries summary is the declared Arrow path
        "ann_topk_pandas",
        "ann_recall_check",  # embeds the pandas twin's plan by design
        "multimodal_decode_stats",
        "multimodal_feature_extract",
        "multimodal_frame_sample",
        "multimodal_media_dedup",
        "multimodal_resize_plan",
    }
    for name, plan in all_plans.items():
        has_python = re.search(r"EvalPython|MapInPandas|ArrowEval", plan)
        if name in allowed:
            continue
        assert not has_python, f"{name} drops to Python: {has_python.group(0)}"


def test_q17_single_exchange_window_form(spark, sf_dir):
    plan = _plan(spark, "q17_small_quantity_revenue", sf_dir)
    # the per-part average rides the same shuffle as the comparison:
    # one partkey exchange (+1 single-row exchange for the final agg),
    # and no sort-merge join anywhere
    assert "SortMergeJoin" not in plan
    assert _n_nodes(plan, "Exchange") <= 2


def test_sample_filter_is_pushdown_compatible_scan(spark, sf_dir):
    """The deterministic sample is a pure scan filter: no shuffle, no
    aggregation — the plan is Scan → Filter → Project only."""
    plan = _plan(spark, "text_sample_stratified", sf_dir)
    assert _n_nodes(plan, "Exchange") == 0
    assert _n_nodes(plan, "HashAggregate") == 0
    assert "EvalPython" not in plan


def test_pack_sequences_partitions_by_stratum(spark, sf_dir):
    """Packing must never be a single global-ordering window — the
    running sum partitions by lang (hashpartitioning, not a lone
    SinglePartition sort)."""
    plan = _plan(spark, "text_pack_sequences", sf_dir)
    assert "hashpartitioning(lang" in plan
    assert "SinglePartition" not in plan


def test_batch_ann_group_limit_pushdown(spark, sf_dir):
    """The rank-≤-k filter over the per-query window must engage
    Spark's WindowGroupLimit so each partition prunes to k candidates
    per query before the shuffle."""
    plan = _plan(spark, "ann_topk_batch", sf_dir)
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_top_bigrams_aggregates_before_rank_window(spark, sf_dir):
    """Counts must aggregate (map-side combine included) before the
    rank window touches them — the window input is the aggregated
    (lang, bigram) table, never the raw bigram stream."""
    plan = _plan(spark, "text_top_bigrams", sf_dir)
    assert _n_nodes(plan, "HashAggregate") >= 2  # partial + final
    assert "WindowGroupLimit" in plan


def test_centroids_single_aggregation_pass(spark, sf_dir):
    """Index build is one aggregation (partial + final) — 64 wide
    long-sum buffers per label, no corpus explode (round 11), no
    joins, no second pass."""
    plan = _plan(spark, "embedding_centroids", sf_dir)
    assert _n_nodes(plan, "HashAggregate") == 2
    # one aggregation exchange (+ the deliberate scale_out round-robin
    # rebalance, which disappears at real scan sizes)
    assert _n_nodes(plan, "Exchange") <= 2


def test_minhash_signature_stage_has_no_shuffle(spark, sf_dir):
    """Signatures (one md5 per shingle + 16 integer transforms) are
    row-local: from scan to band explode there is exactly the one
    scale_out round-robin exchange, and no aggregation at all."""
    from mypipe_spark.plans import dedup as D
    from mypipe_spark.plans.catalog import load_tables
    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir)
    arr = D._with_shingle_arrays(t["documents"])
    sigs = arr.withColumn("md5i", D._md5_int_array()).select(
        "doc_id", "n_sh", *D._minhash_sig_cols()
    )
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = sigs._jdf.queryExecution().explainString(jmode)
    assert _n_nodes(plan, "HashAggregate") == 0
    assert _n_nodes(plan, "Window") == 0


def test_deciles_approx_plan_has_no_window_or_sort(spark, sf_dir):
    """The approx decile twin exists to kill the catalog's only
    single-partition window: its plan must contain NO Window and NO
    Sort — the whole table is bucketed by broadcast-cutpoint
    comparison. (The one SinglePartition exchange that remains is the
    scalar cutpoint aggregate, which moves 9 doubles, not the table.)
    The exact form keeps its Window — both shapes stay pinned."""
    plan = _plan(spark, "q_customer_balance_deciles_approx", sf_dir)
    assert _n_nodes(plan, "Window") == 0
    assert _n_nodes(plan, "Sort") == 0
    assert "CartesianProduct" not in plan

    # round-7: the exact form migrated to exact_ntile_multi — the ONE
    # DATA window (row_number) must be PARTITIONED by the frozen
    # coarse-bucket key, never the single-partition global window the
    # plain ntile() plans. Round-9 (ADVICE r8): the offsets prefix
    # sums moved to a window over the ≤ axes·P per-bucket COUNT rows
    # (index metadata, not data — partitioned by __entm_axis), so the
    # row-side CASE reads one broadcast attribute per branch instead
    # of re-summing counts (O(P) expression terms, was O(P^2)).
    # Exactly TWO Windows: the data rank + the tiny counts prefix.
    # The plan must also stay fully LAZY: no localCheckpoint
    # materialization (which would surface as an ExistingRDD scan).
    exact = _plan(spark, "q_customer_balance_deciles", sf_dir)
    assert _n_nodes(exact, "Window") == 2
    specs = re.findall(r"windowspecdefinition\(([^,]+),", exact)
    assert any("__entm_bk0" in s for s in specs), exact[:800]
    assert any("__entm_axis" in s for s in specs), exact[:800]
    assert "ExistingRDD" not in exact


def test_jaccard_prefix_plan_shape(spark, sf_dir):
    """The prefix-filtered Jaccard join's scale contract: exactly ONE
    exchange keyed on the shingle hash (the posting-list aggregation —
    the classic self-join needs two), no CartesianProduct anywhere,
    and the candidate-verification joins are equi-joins (Broadcast or
    Shuffled hash/sort-merge), never a nested-loop over the corpus.

    The pin describes the UNCACHED pipeline: once any pair CONSUMER
    populates jaccard_pairs_shared's persisted relation, Spark's
    cache manager substitutes the subtree into THIS query's plan too
    (by-subtree matching — the same mechanism the shingle cache
    relies on), collapsing the exchanges the pin counts. Evict the
    pair cache first so the assertion is order-independent and keeps
    guarding the real pipeline shape."""
    from mypipe_spark.plans import dedup as D

    for k in list(D._PAIR_CACHE):
        D._PAIR_CACHE.pop(k).unpersist()
    plan = _plan(spark, "dedup_ngram_jaccard", sf_dir)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # round-6: TWO shingle-keyed exchanges — the posting-structs
    # aggregation feeding pair generation, plus ONE extra reference to
    # the same posting lists for the positional-filter cap-slack
    # (Spark plans each branch reference as its own exchange; the
    # round-5 form paid a third, serialized ahead of the heavy agg —
    # this pin is the regression guard against that creeping back).
    shingle_exchanges = len(
        re.findall(r"hashpartitioning\(shingle", plan)
    )
    assert shingle_exchanges == 2, plan[:2000]
    # the slack's per-doc count aggregation is map-side combinable
    assert len(re.findall(r"partial_count", plan)) >= 1
    # exactly the two posting-list aggregations above — a third
    # partial_collect_list would mean the slack went two-sided again
    # (measured +0.3 s at sf0.1 for strictly weaker pruning data)
    assert len(re.findall(r"partial_collect_list", plan)) == 2, plan[:2000]
    # the posting-list aggregation is present (ObjectHashAggregate
    # carries the collect_list), and pair generation is a Generate
    assert _n_nodes(plan, "ObjectHashAggregate") >= 1
    assert _n_nodes(plan, "Generate") >= 2  # prefix explode + pair explode


def test_shingle_cache_shared_across_dedup_consumers(spark, sf_dir):
    """The session-memoized shingle table must actually be REUSED: after
    any consumer populates it, the other shingle consumers' plans read
    the persisted relation (InMemoryTableScan / InMemoryRelation)
    instead of re-running split+shingle+digest — a silent regression
    here would triple the dedup plane's cost."""
    from mypipe_spark.plans.dedup import _jaccard_pairs, shingle_arrays

    shingle_arrays(spark, sf_dir)  # populate (any consumer does this)
    for name in ("dedup_minhash_lsh", "dedup_simhash"):
        plan = _plan(spark, name, sf_dir)
        assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan, (
            f"{name} does not reuse the cached shingle relation"
        )
    # dedup_components checkpoints during label propagation, so its
    # FINAL plan is a Scan ExistingRDD; the shingle reuse lives in its
    # input relation (_jaccard_pairs) — pin that plan instead.
    pairs = _jaccard_pairs(spark, sf_dir)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = pairs._jdf.queryExecution().explainString(jmode)
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan, (
        "dedup_components' pair input does not reuse the cached shingle relation"
    )


def test_shingle_cache_keyed_on_application_id(spark, sf_dir):
    """Cache keys carry the owning session's applicationId; entries
    under any other app id (a stopped session — only one session exists
    per process) are evicted on next access, so a recycled id(spark)
    address can never serve a DataFrame bound to a dead SparkContext."""
    from mypipe_spark.plans import dedup

    live = dedup.shingle_arrays(spark, sf_dir)
    app_id = spark.sparkContext.applicationId
    assert all(k[0] == app_id for k in dedup._SHINGLE_CACHE)
    # plant a fake dead-session entry — a DISTINCT persisted DataFrame,
    # not an alias of `live`: eviction unpersists the planted value, and
    # aliasing the live entry would silently un-cache the real shingle
    # relation for every later test in this session
    planted = spark.range(1).persist()
    dedup._SHINGLE_CACHE[("dead-app-id", sf_dir)] = planted
    again = dedup.shingle_arrays(spark, sf_dir)
    assert ("dead-app-id", sf_dir) not in dedup._SHINGLE_CACHE
    assert again is live
    assert planted.storageLevel.useMemory is False  # eviction unpersisted it
    assert live.storageLevel.useMemory is True  # and left the live entry alone


def test_batch_lsh_is_equi_join_never_nested_loop(spark, sf_dir):
    """ann_topk_batch_lsh's scale contract: candidates come from an
    EQUI-join on the exploded (table, bucket) posting key — hash or
    sort-merge or broadcast-hash, but never a nested-loop pass of the
    query set over the corpus (what brute-force batch does), and no
    cartesian anywhere."""
    plan = _plan(spark, "ann_topk_batch_lsh", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the posting join keys are the exploded table/bucket columns
    joins = (
        _n_nodes(plan, "BroadcastHashJoin")
        + _n_nodes(plan, "ShuffledHashJoin")
        + _n_nodes(plan, "SortMergeJoin")
    )
    assert joins >= 3  # posting join + corpus vector fetch + query fetch
    # rank-≤-k over the window triggers the group-limit pushdown
    assert "WindowGroupLimit" in plan


def test_debounce_single_exchange_topology(spark, sf_dir):
    """The burst aggregate must ride the window passes' shuffle: the
    (user,type,burst) group keys refine the (user,type) partition
    keys, so the whole query plans ONE exchange — and the ts contract
    reaches the scan."""
    plan = _plan(spark, "events_debounce", sf_dir)
    assert _n_nodes(plan, "Exchange") == 1
    assert _n_nodes(plan, "Sort") == 1
    pushed = re.findall(r"PushedFilters: \[([^\]]*)", plan)
    assert any("IsNotNull(ts)" in p for p in pushed)


def test_sessionize_single_exchange_topology(spark, sf_dir):
    """Both window passes (boundary LAG, running-sum numbering) and
    the per-(user, session) aggregate must share ONE user_id exchange
    and ONE sort — the session group key refines the window partition
    key, the same refinement argument as the debounce pin. Verified
    against the live plan this round (1 exchange / 1 sort / 2 window
    nodes); pinned so a refactor cannot silently add a shuffle to a
    bench-set query."""
    plan = _plan(spark, "cdc_sessionize", sf_dir)
    assert _n_nodes(plan, "Exchange") == 1
    assert _n_nodes(plan, "Sort") == 1
    assert _n_nodes(plan, "Window") == 2


def test_funnel_ordered_single_exchange_topology(spark, sf_dir):
    """The three stacked cumulative-max window passes and the per-user
    flag aggregate must share ONE user_id exchange and ONE sort
    (same-partition, same-order windows stack on a single exchange —
    the docstring's stated shape, now pinned): the per-user
    HashAggregate sits directly on the last Window with no exchange
    between them. The only OTHER exchange allowed is the trivial
    single-partition one carrying the four per-user flag sums into the
    global-total aggregate (driver-sized by construction); the 4-row
    stack tail adds none."""
    plan = _plan(spark, "events_funnel_ordered", sf_dir)
    assert _n_nodes(plan, "Exchange") == 2
    # formatted mode details the partitioning under each Exchange:
    # exactly one hash (user_id) + one SinglePartition (global total)
    assert plan.count("Arguments: hashpartitioning(user_id") == 1
    assert plan.count("Arguments: SinglePartition") == 1
    assert _n_nodes(plan, "Sort") == 1
    assert _n_nodes(plan, "Window") == 3


def test_pair_cache_memoizes_and_evicts_like_the_shingle_cache(spark, sf_dir):
    """jaccard_pairs_shared follows the shingle cache's discipline:
    same (session, sf_dir) returns the SAME persisted relation
    (memoized — the point is one AllPairs build per session), entries
    under a dead app id are evicted AND unpersisted on next access,
    and the live entry survives the sweep."""
    from mypipe_spark.plans import dedup

    live = dedup.jaccard_pairs_shared(spark, sf_dir)
    assert dedup.jaccard_pairs_shared(spark, sf_dir) is live
    app_id = spark.sparkContext.applicationId
    assert all(k[0] == app_id for k in dedup._PAIR_CACHE)
    planted = spark.range(1).persist()
    dedup._PAIR_CACHE[("dead-app-id", sf_dir)] = planted
    again = dedup.jaccard_pairs_shared(spark, sf_dir)
    assert ("dead-app-id", sf_dir) not in dedup._PAIR_CACHE
    assert again is live
    assert planted.storageLevel.useMemory is False
    assert live.storageLevel.useMemory is True
    # and the relation carries the raw columns its consumers read
    assert {"doc_a", "doc_b", "n_common", "na", "nb"} <= set(live.columns)


def test_session_caches_normalize_paths_and_serialize_builders(spark, sf_dir):
    """The round-6 advisory pair: (a) 'path' and 'path/' must not
    double-cache (and double-persist) the same corpus — keys are
    normpath'd; (b) two concurrent FIRST callers must resolve to ONE
    cached relation (the lock serializes get/build/put; an unguarded
    race would leak a persisted duplicate for the session's life)."""
    import threading

    from mypipe_spark.plans import dedup

    base = dedup.jaccard_pairs_shared(spark, sf_dir)
    assert dedup.jaccard_pairs_shared(spark, sf_dir + "/") is base
    assert dedup.shingle_arrays(spark, sf_dir + "///") is dedup.shingle_arrays(
        spark, sf_dir
    )
    # concurrency: clear the entry, then race two first-builders
    app_id = spark.sparkContext.applicationId
    import os as _os

    key = (app_id, _os.path.normpath(sf_dir))
    with dedup._CACHE_LOCK:
        dedup._PAIR_CACHE.pop(key).unpersist()
    results: list = []
    barrier = threading.Barrier(2)

    def racer():
        barrier.wait()
        results.append(dedup.jaccard_pairs_shared(spark, sf_dir))

    ts = [threading.Thread(target=racer) for _ in range(2)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert len(results) == 2 and results[0] is results[1]
    assert len([k for k in dedup._PAIR_CACHE if k[0] == app_id]) == 1


@pytest.mark.parametrize(
    "name, scans",
    [
        ("text_rarity_score", 2),
        ("text_tfidf_topterms", 2),
        # dau/wau/stream-head all derive from ONE exploded pass over
        # the user-day distinct (was 3 corpus scans: the hi aggregate,
        # the contrib branch and the dau branch each re-planned it)
        ("events_dau_wau", 1),
    ],
)
def test_inverted_index_queries_explode_once(spark, sf_dir, name, scans):
    """The df/occurrence counts must ride an unordered count window
    over the exploded stream's own key partitioning, never a
    groupBy-then-join-back: Spark plans each reference to the exploded
    subtree as its own scan+explode (no cross-branch reuse), so the
    join-back forms executed the corpus explode 2-3x per action
    (measured this round: rarity ~2x wall at sf0.1, tfidf ~1.3x).
    ONE Generate = one exploded corpus pass; the second scan is the
    plain un-exploded corpus-total count."""
    plan = _plan(spark, name, sf_dir)
    assert _n_nodes(plan, "Generate") == 1
    assert _n_nodes(plan, "Scan parquet") == scans


def test_winnow_gram_stream_computed_once(spark, sf_dir):
    """The winnowing plane's cost pin: the positional md5 gram stream
    must be a MATERIALIZED projection that the window-minima lambda
    references as a column — if CollapseProject ever re-inlines it,
    every window recomputes the whole md5 array (O(m²) digests per
    doc; measured 28× vs 5× at the K=32 smoke). One md5 in the
    optimized plan per winnow query, and the minima slice over the
    gram COLUMN, is exactly that guarantee."""
    for name in ("text_winnow_fingerprints", "dedup_winnow_candidates"):
        df = _QUERIES[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("md5") == 1, (name, plan.count("md5"))
        assert re.search(r"array_min\(slice\(g#\d+", plan), name
