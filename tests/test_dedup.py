from __future__ import annotations

from pyspark.sql import functions as F

from mypipe_spark.plans.catalog import all_queries

_Q = all_queries()


def test_exact_dedup_counts(spark, sf_dir):
    out = _Q["dedup_exact"].fn(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert out.count() == docs.select("text").distinct().count()
    assert out.agg(F.sum("n_copies")).collect()[0][0] == docs.count()


def test_minhash_lsh_high_recall_vs_exact(spark, sf_dir):
    """LSH candidates must recover (nearly) all true near-dup pairs:
    with 4 bands of 4 the detection probability at jaccard 0.5 is
    ~0.23 per doc pair *per band structure*, but our corpus pairs sit
    well above threshold — require >=90% recall of the exact pairs."""
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in _Q["dedup_ngram_jaccard"].fn(spark, sf_dir).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in _Q["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    }
    assert lsh <= exact  # candidates are verified with true jaccard
    if exact:
        assert len(lsh) / len(exact) >= 0.9


def test_simhash_recall_vs_exact_jaccard(spark, sf_dir):
    """SimHash (hamming<=6 over 64 bits, Manku combination banding)
    must recover most strong near-dups found by exact jaccard, and its
    pairs must be plausible (every simhash pair shares at least one
    shingle-set overlap)."""
    exact_pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in _Q["dedup_ngram_jaccard"].fn(spark, sf_dir).collect()
    }
    sim_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in _Q["dedup_simhash"].fn(spark, sf_dir).collect()
    }
    strong = {p for p, j in exact_pairs.items() if j >= 0.8}
    if strong:
        recall = len(strong & sim_pairs) / len(strong)
        assert recall >= 0.8
    # precision proxy: simhash pairs overlap the exact near-dup set
    if sim_pairs:
        assert len(sim_pairs & set(exact_pairs)) / len(sim_pairs) >= 0.5


def test_embedding_neardup_within_cells_only(spark, sf_dir):
    out = _Q["dedup_embedding_cosine"].fn(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    for r in out.collect():
        assert labels[r["vec_a"]] == labels[r["vec_b"]]
        assert 0.4 <= r["cosine"] <= 1.0


def test_ann_ivf_structure_and_recall(spark, sf_dir):
    """IVF with nprobe=2 of 10 cells. The fixture's labels are weak
    clusters (max within-cell cosine ~0.5), so recall@10 vs brute
    force is bounded by how much of the true top-10 lands in 2 cells —
    assert the structural contract (results from ≤ nprobe cells,
    scores agree with brute force where they overlap) plus non-trivial
    recall."""
    brute = {r["vec_id"]: r["cosine"] for r in _Q["ann_topk_bruteforce"].fn(spark, sf_dir).collect()}
    ivf_rows = _Q["ann_topk_ivf"].fn(spark, sf_dir).collect()
    assert len(ivf_rows) == 10
    assert len({r["label"] for r in ivf_rows}) <= 2  # nprobe cells only
    overlap = [r for r in ivf_rows if r["vec_id"] in brute]
    assert overlap, "IVF found none of the true top-10"
    for r in overlap:  # scores are the same exact arithmetic
        assert r["cosine"] == brute[r["vec_id"]]


def test_lsh_ann_planted_neardup_recall():
    """The LSH family's contract for near-dup retrieval: vectors at
    cosine ≥ ~0.9 must collide in ≥1 of the 8 hash tables with high
    probability. Verified numpy-side with planted noisy duplicates of
    real fixture vectors (the SQL twin of the bucket math is
    oracle-checked in test_oracle_parity)."""
    import numpy as np

    from mypipe_spark.functions.vector import QSCALE
    from mypipe_spark.plans.similarity import _LSH_PAIRS

    emb = (
        duckdb_rows("SELECT embedding FROM read_parquet("
                    "'/root/testdata/sf0.001/embeddings.parquet') ORDER BY vec_id")
    )
    V = np.array([r[0] for r in emb])

    def buckets(M):
        q = np.round(M * QSCALE).astype(np.int64)
        out = []
        for table in _LSH_PAIRS:
            acc = np.zeros(len(M), dtype=np.int64)
            for b, (i, j) in enumerate(table):  # 1-based dims
                acc += (q[:, i - 1] > q[:, j - 1]).astype(np.int64) << b
            out.append(acc)
        return np.stack(out, 1)

    rng = np.random.RandomState(7)
    W = V + rng.normal(0, 0.5 * V.std(), V.shape)
    cos = (V * W).sum(1) / (np.linalg.norm(V, axis=1) * np.linalg.norm(W, axis=1))
    assert cos.mean() > 0.85  # the planted pairs are genuine near-dups
    recall = (buckets(V) == buckets(W)).any(1).mean()
    assert recall >= 0.85


def duckdb_rows(sql: str):
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def test_stop_shingle_cap_bounds_fanout_keeps_recall(spark):
    """Planted skew: one boilerplate shingle shared by every document
    must not pair up the whole corpus (Σ C(df,2) fanout), while genuine
    near-dups — sharing many RARE shingles — must still be found.

    With 40 docs all containing the same hot 3-gram and cap=10, the
    uncapped join would generate C(40,2)=780 candidate pairs from the
    hot shingle alone; capped, only the planted near-dup pair
    survives."""
    from mypipe_spark.plans.dedup import jaccard_pairs_from

    hot = "the end boilerplate"  # one 3-word shingle in every doc
    rows = []
    for i in range(40):
        # unique filler words so unrelated docs share ONLY the hot shingle
        body = " ".join(f"w{i}x{j}" for j in range(8))
        rows.append((i, f"{body} {hot}"))
    # planted near-dup pair: docs 100/101 share their entire rare body
    shared = " ".join(f"rare{j}" for j in range(12))
    rows += [(100, shared), (101, shared + " tailword")]
    docs = spark.createDataFrame(rows, "doc_id int, text string")

    capped = {
        (r["doc_a"], r["doc_b"]) for r in jaccard_pairs_from(docs, df_cap=10).collect()
    }
    assert (100, 101) in capped  # recall on real near-dups holds
    assert capped == {(100, 101)}  # hot-shingle pairs never materialize

    # uncapped contrast: the hot shingle alone would emit no high-jaccard
    # pairs here (bodies differ), but the candidate fanout exists — pin
    # that the capped path scans far fewer candidate pairs by checking
    # the raw pair universe via a huge cap
    uncapped = jaccard_pairs_from(docs, df_cap=10_000)
    assert {(r["doc_a"], r["doc_b"]) for r in uncapped.collect()} == {(100, 101)}


def test_components_converge_in_log_diameter_rounds(spark):
    """The pointer-jumping step makes the round count O(log diameter)
    — the docstring's convergence claim, held by planted path graphs
    instead of a comment. A 10-vertex path (diameter 9) closes in 4
    rounds (each round: one neighbor step + one pointer doubling;
    pre-round-6 pure propagation needed 10); max_iters=3 must raise.
    A second (disjoint) triangle must keep its own label and not
    stretch the round count (components converge in parallel). The
    log claim is the 100-edge chain: 7 rounds, where Θ(diameter)
    propagation would need 101 — the adversarial chain shape this
    step exists for."""
    import pytest as _pytest

    from mypipe_spark.plans.dedup import connected_components

    path = [(i, i + 1) for i in range(9)]  # 0-1-2-...-9
    triangle = [(100, 101), (101, 102), (100, 102)]
    edges = spark.createDataFrame(path + triangle, "doc_a int, doc_b int")

    labels = {
        r["doc_id"]: r["component"]
        for r in connected_components(edges, max_iters=4).collect()
    }
    assert {labels[i] for i in range(10)} == {0}
    assert {labels[i] for i in (100, 101, 102)} == {100}

    with _pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(edges, max_iters=3).collect()

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "doc_a int, doc_b int"
    )
    labels = {
        r["doc_id"]: r["component"]
        for r in connected_components(chain, max_iters=7).collect()
    }
    assert set(labels.values()) == {0} and len(labels) == 101


def test_components_are_consistent_with_pair_graph(spark, sf_dir):
    """Every near-dup pair's endpoints share a component, and each
    component is labeled by its smallest member."""
    from mypipe_spark.plans.dedup import _jaccard_pairs
    from collections import defaultdict

    comp = {
        r["doc_id"]: r["component"]
        for r in _Q["dedup_components"].fn(spark, sf_dir).collect()
    }
    pairs = [(r["doc_a"], r["doc_b"]) for r in _jaccard_pairs(spark, sf_dir).collect()]
    assert pairs, "fixture has near-dup pairs"
    for a, b in pairs:
        assert comp[a] == comp[b], (a, b)
    members = defaultdict(list)
    for d, c in comp.items():
        members[c].append(d)
    for c, ds in members.items():
        assert c == min(ds)


def test_short_docs_do_not_crash_the_shingle_plane(spark):
    """Docs shorter than the 3-word shingle window used to CRASH the
    dedup plane: Spark's sequence(a, b) is bidirectional, so the old
    greatest(size-2, 0) upper bound produced the DESCENDING [1, 0] for
    short docs, and slice(words, 0, 3) is a runtime error. Regression:
    zero-shingle docs flow through with n_sh = 0 and pairs among the
    real docs are unaffected."""
    from mypipe_spark.plans.dedup import _with_shingle_arrays, jaccard_pairs_from

    docs = spark.createDataFrame(
        [
            (1, "a"),
            (2, "a b"),
            (3, "a b c"),
            (4, "a b c d"),
            (5, ""),
            (6, "x y z w v"),
            (7, "x y z w v"),
        ],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r["n_sh"] for r in _with_shingle_arrays(docs).collect()}
    assert got == {1: 0, 2: 0, 3: 1, 4: 2, 5: 0, 6: 3, 7: 3}
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs_from(docs).collect()
    }
    assert pairs == {(3, 4): 0.5, (6, 7): 1.0}


def test_prefix_filter_is_lossless_vs_bruteforce(spark):
    """The prefix-filtered inverted index claims losslessness: every
    pair at jaccard >= t must survive indexing only each doc's first
    size - ceil(t*n) + 1 sorted shingle hashes. Pin it against a
    Python brute force over ALL pairs of a seeded random corpus with
    planted near-dups — an off-by-one in the prefix length would
    silently drop threshold-edge pairs, which no fixture-based test
    would notice."""
    import hashlib
    import itertools
    import random

    from mypipe_spark.plans.dedup import jaccard_pairs_from

    rng = random.Random(7)
    vocab = [f"w{k}" for k in range(30)]
    rows = []
    for i in range(120):
        n = rng.randint(1, 12)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    for i in range(20):  # planted near-dups: clone plus one word
        rows.append((1000 + i, rows[i][1] + " " + rng.choice(vocab)))

    def shingle_set(text):
        ws = text.split(" ")
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    sets = {
        d: (len(shingle_set(t)), {h60(s) for s in shingle_set(t)})
        for d, t in rows
    }
    expected = {}
    for (a, (na, ha)), (b, (nb, hb)) in itertools.combinations(
        sorted(sets.items()), 2
    ):
        c = len(ha & hb)
        if c and c / (na + nb - c) >= 0.5:
            # exact-rational half-up round4, mirroring the engine's
            # integer-arithmetic display rounding — Python round()
            # banker's-rounds the binary double and could diverge at
            # a .5-boundary rational under a corpus/seed change
            from fractions import Fraction

            q = Fraction(c * 10_000, na + nb - c)
            half_up = int(q) + (1 if q - int(q) >= Fraction(1, 2) else 0)
            expected[(a, b)] = float(half_up) / 10_000

    docs = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs_from(docs).collect()
    }
    assert got == expected
    assert len(expected) >= 15  # the planted clones actually paired


def test_bigrams_tolerate_single_word_docs(spark):
    """text_top_bigrams' transform used to index words[1] on a
    one-word doc (sequence(1, 0) is descending) — an ANSI runtime
    error. Regression: short docs contribute zero bigrams."""
    docs = spark.createDataFrame(
        [(1, "hello", "en", "s"), (2, "", "en", "s"), (3, "a b", "en", "s")],
        "doc_id int, text string, lang string, source string",
    )
    bigram = F.expr(
        "if(size(words) < 2, array(), transform(sequence(1, size(words) - 1),"
        " i -> concat(words[i - 1], ' ', words[i])))"
    )
    out = (
        docs.select("lang", F.split("text", " ").alias("words"))
        .select("lang", F.explode(bigram).alias("bigram"))
        .collect()
    )
    assert [r["bigram"] for r in out] == ["a b"]


def test_short_docs_do_not_crash_minhash(spark):
    """Regression for the minhash twin of the short-doc crash: two or
    more zero-shingle docs produced all-NULL minhashes, NULL band keys
    grouped them into one bucket, and verification divided by
    na+nb-n_common = 0 — an ANSI DIVIDE_BY_ZERO that killed the whole
    query. Zero-shingle docs are now excluded before signing (exactly
    what the SQL oracle does: they yield no exploded-shingle rows)."""
    from mypipe_spark.plans.dedup import (
        _with_shingle_arrays,
        minhash_pairs_from_arrays,
    )

    docs = spark.createDataFrame(
        [
            (1, "a"),
            (2, "b"),
            (3, ""),
            (4, "x y z w v"),
            (5, "x y z w v"),
        ],
        "doc_id int, text string",
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_pairs_from_arrays(_with_shingle_arrays(docs)).collect()
    }
    assert pairs == {(4, 5): 1.0}


def test_positional_filter_capped_slack_keeps_threshold_pairs(spark):
    """Adversarial interaction of the PPJoin positional filter with
    the stop-shingle cap: a qualifying pair whose smallest common
    hashes all sit in CAPPED hot lists must still be found — the
    capped-count slack restores the cap contract (pairs lost only when
    EVERY shared prefix hash is capped). Construction: docs 0 and 1
    share 4 hot hashes (in every doc → capped at cap=3) plus two rare
    hashes; overlap 6 of 9 = Jaccard exactly 0.5 (the threshold). The
    only surviving prefix mention sits at position 5, whose bare
    suffix bound 9-5+1 = 5 < α = 6 — without the slack the pair is
    silently dropped."""
    from mypipe_spark.plans.dedup import jaccard_pairs_from_arrays

    hot = [1, 2, 3, 4]
    r1, r2 = 100, 200
    rows = [
        (0, 9, hot + [r1, r2, 1001, 1002, 1003]),
        (1, 9, hot + [r1, r2, 2001, 2002, 2003]),
    ]
    # 8 more docs carry the hot hashes (posting lists hit size 10 > 3)
    for d in range(2, 10):
        rows.append((d, 9, hot + [10_000 + 10 * d + j for j in range(5)]))
    arr = spark.createDataFrame(rows, "doc_id int, n_sh int, hsh array<bigint>")
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs_from_arrays(arr, df_cap=3).collect()
    }
    assert got == {(0, 1): 0.5}


def test_semantic_clusters_consistent_with_cosine_pairs(spark, sf_dir):
    """dedup_semantic (SemDeDup-style): every cosine near-dup pair's
    endpoints share a cluster, each cluster is labeled by its smallest
    member, and vectors outside any pair carry no label (only
    edge-involved vectors are clustered — the survivors-by-default)."""
    from mypipe_spark.plans.dedup import dedup_embedding_cosine
    from collections import defaultdict

    clusters = {
        r["vec_id"]: r["cluster"]
        for r in _Q["dedup_semantic"].fn(spark, sf_dir).collect()
    }
    pairs = [
        (r["vec_a"], r["vec_b"])
        for r in dedup_embedding_cosine(spark, sf_dir).collect()
    ]
    assert pairs, "fixture has cosine near-dup pairs"
    for a, b in pairs:
        assert clusters[a] == clusters[b], (a, b)
    members = defaultdict(list)
    for v, c in clusters.items():
        members[c].append(v)
    for c, vs in members.items():
        assert c == min(vs)
    assert set(clusters) == {v for p in pairs for v in p}


def test_leakage_safe_split_keeps_neardup_families_together(spark, sf_dir):
    """dedup_leakage_safe_split: every exact-Jaccard near-dup pair's
    endpoints land in the SAME split (the leakage guarantee), every
    document gets exactly one assignment, the split is deterministic
    across invocations, and the train fraction is in the ~90% band."""
    from mypipe_spark.plans.dedup import _jaccard_pairs

    out = {r["doc_id"]: r["split"] for r in
           _Q["dedup_leakage_safe_split"].fn(spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert len(out) == docs.count()
    assert set(out.values()) <= {"train", "eval"}
    for r in _jaccard_pairs(spark, sf_dir).collect():
        assert out[r["doc_a"]] == out[r["doc_b"]], (r["doc_a"], r["doc_b"])
    frac = sum(1 for s in out.values() if s == "train") / len(out)
    assert 0.80 <= frac <= 0.97, frac
    again = {r["doc_id"]: r["split"] for r in
             _Q["dedup_leakage_safe_split"].fn(spark, sf_dir).collect()}
    assert again == out


def test_decontaminate_flags_exactly_cross_split_overlaps(spark, sf_dir):
    """dedup_decontaminate: flagged docs are train-side only, their
    counts equal the true distinct-shingle overlap with the eval
    shingle pool, and NO unflagged train doc shares any shingle with
    eval (completeness — a missed contamination is the failure mode
    the op exists to prevent)."""
    from mypipe_spark.plans.dedup import shingle_arrays

    split = {r["doc_id"]: r["split"] for r in
             _Q["dedup_leakage_safe_split"].fn(spark, sf_dir).collect()}
    sh = {r["doc_id"]: set(r["hsh"]) for r in
          shingle_arrays(spark, sf_dir).collect()}
    eval_pool = set().union(*(sh[d] for d, s in split.items() if s == "eval"))
    got = {r["doc_id"]: r["n_contaminated"] for r in
           _Q["dedup_decontaminate"].fn(spark, sf_dir).collect()}
    for d, n in got.items():
        assert split[d] == "train"
        assert n == len(sh[d] & eval_pool) and n >= 1
    for d, s in split.items():
        if s == "train" and d not in got:
            assert not (sh[d] & eval_pool), d


def test_containment_finds_embedded_doc_jaccard_misses(spark):
    """A small document fully embedded in a much larger one: Jaccard
    (symmetric, >= 0.5) structurally cannot flag it, containment
    reports sub -> super at 1.0 in that direction only. Also pins the
    floor direction asymmetry: a sub under the reporting floor stays
    silent even when the reverse direction reports."""
    from pyspark.sql import functions as F

    import mypipe_spark.plans.dedup as D
    from mypipe_spark.plans.catalog import all_queries

    words = [f"w{i}" for i in range(200)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(words[:30])),              # 28 shingles, all in doc 2
            (2, " ".join(words)),                   # the superset
            (3, " ".join(f"x{i}" for i in range(100))),  # unrelated
            (4, " ".join(words[:10])),              # 8 shingles: under floor
        ],
        "doc_id long, text string",
    )
    arr = D._with_shingle_arrays(docs)
    real = D.shingle_arrays
    try:
        D.shingle_arrays = lambda spark, sf_dir: arr
        got = all_queries()["dedup_containment"].fn(spark, "x").collect()
    finally:
        D.shingle_arrays = real
    by_dir = {(r["doc_sub"], r["doc_super"]): r for r in got}
    assert by_dir[(1, 2)]["containment"] == 1.0
    assert (2, 1) not in by_dir                       # superset is no sub
    assert all(r["doc_sub"] != 4 for r in got)        # floor holds
    assert all(3 not in (r["doc_sub"], r["doc_super"]) for r in got)
    # and Jaccard indeed misses the embedded pair
    jac = {(r["doc_a"], r["doc_b"]) for r in D.jaccard_pairs_from(docs).collect()}
    assert (1, 2) not in jac


def test_containment_cap_is_false_negative_only(spark):
    """Planted hot shingle: with a tiny df cap, pairs that share ONLY
    the hot shingle's prefix hashes lose candidacy (documented
    false-negative-only divergence from the exact oracle), while
    pairs sharing unhot shingles keep their exact containment rows —
    the containment twin of the jaccard planted-skew pin."""
    import mypipe_spark.plans.dedup as D
    from pyspark.sql import functions as F

    hot = " ".join(f"h{i}" for i in range(12))       # shared by many docs
    docs = [(99, hot + " " + " ".join(f"u{i}" for i in range(2)))]
    # 30 docs all containing the hot 12-word span -> its shingles'
    # posting lists have ~30 entries
    docs += [(i, hot + f" t{i} t{i}x t{i}y t{i}z") for i in range(30)]
    # one clean containment pair with unique shingles only
    base = " ".join(f"q{i}" for i in range(30))
    docs += [(200, base), (201, base + " " + " ".join(f"z{i}" for i in range(60)))]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    arr = D._with_shingle_arrays(sdf)
    exact = D.containment_pairs_from_arrays(arr, df_cap=10_000)
    capped = D.containment_pairs_from_arrays(arr, df_cap=5)
    e = {(r["doc_sub"], r["doc_super"]) for r in exact.collect()}
    c = {(r["doc_sub"], r["doc_super"]) for r in capped.collect()}
    assert c <= e                        # never a false positive
    assert (200, 201) in c               # unhot pair survives the cap
    assert len(e - c) > 0                # the cap did bite hot pairs


def test_containment_positional_slack_keeps_hot_prefix_pair(spark):
    """Crafted hash arrays where the sub's two smallest common
    shingles sit in capped posting lists and the only surviving
    prefix mention (hash 30) sits DEEP in the super (position 23 of
    30 ⟹ 30−23 = 7 < α = 8): the slackless positional bound rejects
    every mention of a TRUE containment pair that the pre-positional
    candidate generation kept. With the cap slack (2 capped prefix
    shingles ⟹ 30−23+2 = 9 ≥ 8) the pair survives, and the exact
    verify still computes containment = 8/10."""
    from mypipe_spark.plans.dedup import containment_pairs_from_arrays

    commons = [10, 20, 30, 40, 50, 60, 70, 80]
    sub = sorted(commons + [200, 300])                      # n=10, α=8, prefix {10,20,30}
    fillers_below = [x for x in range(1, 30) if x not in (10, 20)][:21]
    sup = sorted(commons + fillers_below + [95])            # n=30, 23 elements < 30
    assert len(sup) == 30 and sup.index(30) == 23
    arr = spark.createDataFrame(
        [
            (1, len(sub), sub),
            (2, len(sup), sup),
            # hot-list makers: hashes 10 and 20 appear in 4 docs
            # (> cap 2); too small to be subs themselves (floor 10)
            (3, 2, [10, 20]),
            (4, 2, [10, 20]),
        ],
        "doc_id long, n_sh int, hsh array<bigint>",
    )
    out = {
        (r["doc_sub"], r["doc_super"]): r
        for r in containment_pairs_from_arrays(arr, df_cap=2).collect()
    }
    assert (1, 2) in out, "cap slack must keep the hot-prefix pair"
    assert out[(1, 2)]["n_common"] == 8 and out[(1, 2)]["containment"] == 0.8


def test_bloom_incremental_equals_exact_on_planted_corpus(spark):
    """The Bloom prefilter must be output-invisible: on a corpus with
    real dups, NULLs, empties, unicode and whitespace edges, the
    bloom path and the plain fingerprint join return identical rows."""
    from mypipe_spark.plans.dedup import (
        bloom_incremental_flags,
        incremental_dedup_flags,
    )

    corpus_rows = [
        (1, "alpha beta gamma"),
        (2, "shared body text"),
        (3, None),
        (4, ""),
        (5, "café naïve 中文"),
        (6, "  leading and trailing  "),
        (7, "shared body text"),  # internal corpus dup: canonical MIN
    ]
    batch_rows = [
        (100, "shared body text"),  # true dup -> canonical 2
        (101, "alpha beta gamma"),  # true dup -> canonical 1
        (102, "brand new document"),  # definite miss
        (103, None),  # NULL never matches, either path
        (104, ""),  # empty string IS a real fingerprint
        (105, "café naïve 中文"),
        (106, "leading and trailing"),  # differs by whitespace: miss
    ]
    schema = "doc_id long, text string"
    corpus = spark.createDataFrame(corpus_rows, schema)
    batch = spark.createDataFrame(batch_rows, schema)
    key = lambda rows: sorted(
        (r["doc_id"], r["is_dup"], r["dup_of"]) for r in rows
    )
    got = key(bloom_incremental_flags(batch, corpus).collect())
    want = key(incremental_dedup_flags(batch, corpus).collect())
    assert got == want
    # and the fixture actually exercises both branches
    assert sum(1 for _, d, _c in got if d == 1) == 4
    assert sum(1 for _, d, _c in got if d == 0) == 3


def test_bloom_probe_no_false_negatives_and_prunes(spark):
    """Both halves of the Bloom contract, measured: every batch text
    present in the corpus has maybe=1 (no false negatives — this is
    what makes the sketch output-exact), and a fully DISJOINT batch
    is almost entirely pruned (fpp for 2^17 bits / k=5 at this corpus
    size is <1%; assert <=10% for slack)."""
    from mypipe_spark.plans.dedup import bloom_candidates

    schema = "doc_id long, text string"
    corpus = spark.createDataFrame(
        [(i, f"corpus document number {i}") for i in range(500)], schema
    )
    dup_batch = spark.createDataFrame(
        [(1000 + i, f"corpus document number {i}") for i in range(0, 500, 7)],
        schema,
    )
    maybes = {
        r["doc_id"]: r["maybe"]
        for r in bloom_candidates(dup_batch, corpus).collect()
    }
    assert all(v == 1 for v in maybes.values())
    disjoint = spark.createDataFrame(
        [(2000 + i, f"unseen text {i}") for i in range(500)], schema
    )
    flags = bloom_candidates(disjoint, corpus).collect()
    assert len(flags) == 500
    fp = sum(r["maybe"] for r in flags)
    assert fp <= 50, f"false-positive rate too high: {fp}/500"


def test_bloom_incremental_preserves_row_multiplicity(spark):
    """A duplicated (doc_id, text) input row — legal in the streaming
    microbatch shape incremental_dedup_flags supports — must yield
    the same duplicated output rows on BOTH paths (the review caught
    the first probe design collapsing them in its regroup)."""
    from mypipe_spark.plans.dedup import (
        bloom_incremental_flags,
        incremental_dedup_flags,
    )

    schema = "doc_id long, text string"
    corpus = spark.createDataFrame([(1, "known text")], schema)
    batch = spark.createDataFrame(
        [(10, "known text"), (10, "known text"), (11, "fresh"), (11, "fresh")],
        schema,
    )
    key = lambda rows: sorted(
        (r["doc_id"], r["is_dup"], r["dup_of"]) for r in rows
    )
    got = key(bloom_incremental_flags(batch, corpus).collect())
    want = key(incremental_dedup_flags(batch, corpus).collect())
    assert got == want
    assert len(got) == 4


def test_lsh_incremental_finds_planted_cross_slice_neardups(spark):
    """Planted ingest: a batch doc that near-duplicates a corpus doc
    (one word changed out of 20) must surface with its jaccard; an
    exact dup must surface at 1.0; an unrelated doc must not; and a
    batch-batch near-dup pair must NOT appear (the operator only
    pairs batch against corpus)."""
    from mypipe_spark.plans.dedup import (
        _with_shingle_arrays,
        lsh_incremental_pairs,
    )

    base = "w" + " w".join(str(i) for i in range(20))  # w0 .. w19
    near = base.replace("w7", "x7")
    docs = spark.createDataFrame(
        [
            (1, base),                      # corpus
            (2, "totally different words entirely " * 3),  # corpus
            (100, near),                    # batch: near-dup of 1
            (101, base),                    # batch: exact dup of 1
            (102, "nothing shared here at all " * 3),      # batch
            (103, near),                    # batch: near-dup of 1 too
        ],
        "doc_id long, text string",
    )
    arr = _with_shingle_arrays(docs)
    out = {
        (r["doc_id"], r["near_dup_of"]): r["jaccard"]
        for r in lsh_incremental_pairs(
            arr.filter("doc_id >= 100"), arr.filter("doc_id < 100")
        ).collect()
    }
    assert set(out) == {(100, 1), (101, 1), (103, 1)}
    assert out[(101, 1)] == 1.0
    assert 0.5 <= out[(100, 1)] < 1.0


def test_lsh_incremental_stream_fold_equals_batch(spark, tmp_path):
    """Ingest composition: the batch slice replayed as a file stream,
    each microbatch near-dup'd against the static corpus postings via
    foreachBatch — the unioned outputs must equal the one-shot batch
    result EXACTLY, because candidates derive only from (single doc's
    bands x corpus buckets): how the batch splits across microbatches
    cannot change the pair set."""
    from pyspark.sql import functions as F

    from conftest import drain_stream
    from mypipe_spark.plans.dedup import (
        _with_shingle_arrays,
        lsh_incremental_pairs,
    )

    sf_dir = "/root/testdata/sf0.1"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    arr = _with_shingle_arrays(docs)
    batch_arr = arr.filter(F.col("doc_id") % 5 == 4)
    corpus_arr = arr.filter(F.col("doc_id") % 5 != 4).persist()
    try:
        want = sorted(
            tuple(r)
            for r in lsh_incremental_pairs(batch_arr, corpus_arr).collect()
        )
        assert want  # sf0.1 has cross-slice near-dups; the pin is real

        src = str(tmp_path / "src")
        store = str(tmp_path / "pairs")
        docs.filter(F.col("doc_id") % 5 == 4).repartition(4).write.parquet(src)
        stream = spark.readStream.schema(docs.schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(src)

        def fold(b, epoch):
            lsh_incremental_pairs(
                _with_shingle_arrays(b), corpus_arr
            ).write.mode("append").parquet(store)

        q = stream.writeStream.foreachBatch(fold).option(
            "checkpointLocation", str(tmp_path / "ckpt")
        ).start()
        drain_stream(q)
        got = sorted(tuple(r) for r in spark.read.parquet(store).collect())
        assert got == want
    finally:
        corpus_arr.unpersist()


def test_duplicate_spans_plan_is_one_gram_pass(spark, sf_dir):
    """The gram stream (scan + split + positional explode — the
    dominant cost) is built ONCE: duplicated positions come from a
    whole-partition count window on the single gram-keyed exchange,
    not a groupBy joined back to a second explode. Pinned: exactly
    two parquet scans (gram stream + the column-pruned totals
    projection) and two hash exchanges (gram key, doc key)."""
    import re

    from mypipe_spark.plans.catalog import QUERIES, all_queries

    all_queries()
    df = QUERIES["dedup_duplicate_spans"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 2
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2
    assert "CartesianProduct" not in plan


def test_embedding_cell_split_parity_on_hot_cell(spark, sf_dir, tmp_path):
    """The sub-cell split path of dedup_embedding_cosine, exercised
    DELIBERATELY (fixture cells sit under _CELL_CAP=256 by design, so
    the driver gate never trips it): a synthetic 300-vector cell
    forces bits=1, and the Spark kernel must agree with the DuckDB
    oracle row-for-row on the split cell — the integer-exact mean-sign
    quantizer deriving identical sub-cells on both engines is the
    whole trick."""
    import math
    import os

    import duckdb

    from mypipe_spark.plans.dedup import _CELL_CAP

    # synthetic corpus: label 0 hot (300 > cap -> bits=1, split),
    # label 1 cold (10 -> bits=0, control). Lattice values (k/100)
    # keep quantization far from ROUND-half boundaries on both
    # engines; period-101 residues plant exact duplicates that must
    # survive the split (identical dims -> identical sub-cell).
    assert 300 > _CELL_CAP
    rows = [
        (i, [((i * 7 + d * 13) % 101 - 50) / 100.0 for d in range(4)], 0)
        for i in range(300)
    ] + [
        (i, [((i * 3 + d * 5) % 101 - 50) / 100.0 for d in range(4)], 1)
        for i in range(300, 310)
    ]
    synth = str(tmp_path / "synth")
    os.makedirs(synth)
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).coalesce(1).write.parquet(f"{synth}/embeddings.parquet")
    # the other tables ride along as symlinks (load_tables resolves
    # every footer; this query only scans embeddings)
    from mypipe_spark.plans.catalog import TABLE_NAMES

    for t in TABLE_NAMES:
        if t != "embeddings":
            os.symlink(f"{sf_dir}/{t}.parquet", f"{synth}/{t}.parquet")

    audit = {
        r["label"]: r
        for r in _Q["embedding_cell_audit"].fn(spark, synth).collect()
    }
    assert audit[0]["bits"] == 1 and audit[0]["n_subcells"] == 2, audit[0]
    assert audit[1]["bits"] == 0 and audit[1]["n_subcells"] == 1, audit[1]

    got = [
        (r["vec_a"], r["vec_b"], round(r["cosine"], 6))
        for r in _Q["dedup_embedding_cosine"].fn(spark, synth).collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM read_parquet("
        f"'{synth}/embeddings.parquet/*.parquet')"
    )
    want = [
        (a, b, round(c, 6))
        for a, b, c in con.execute(_Q["dedup_embedding_cosine"].oracle).fetchall()
    ]
    con.close()
    assert sorted(got) == sorted(want)
    assert len(got) > 0
    # exact duplicates (period-101 residues in the hot cell) survive
    dup_pairs = [p for p in got if math.isclose(p[2], 1.0)]
    assert len(dup_pairs) >= 90


def _write_probe_embeddings(spark, path: str, sf_dir: str, cells) -> None:
    """Synthetic embeddings corpus for the cell-cap boundary probe,
    generated JVM-side (spark.range + expressions — millions of rows
    without a driver-side list). ``cells`` is a list of
    (label, n_vectors, kind) with kind 'lattice' (pseudo-random
    straddling dims) or 'identical' (every vector the same — the
    degenerate non-straddling case)."""
    import os

    from pyspark.sql import functions as F

    from mypipe_spark.plans.catalog import TABLE_NAMES

    parts = []
    for label, n, kind in cells:
        base = spark.range(n).select(
            (F.col("id") + label * 10_000_000).alias("vec_id"),
            F.lit(label).cast("int").alias("label"),
        )
        if kind == "lattice":
            # 12 dims (matching _CELL_MAX_BITS), each straddling its
            # cell mean: values in [-1, 1] on a 1/1000 lattice, drawn
            # per (vec_id, dim) from murmur3 so dims are INDEPENDENT —
            # a linear-congruential lattice leaves the sign patterns
            # correlated across dims and collapses the 4096 sub-cells
            # to a couple dozen (observed)
            emb = F.expr(
                "transform(sequence(0, 11), d -> CAST("
                "(pmod(hash(vec_id, d), 2001) - 1000)"
                " / 1000.0 AS FLOAT))"
            )
        else:  # identical: no dim ever exceeds the cell mean
            emb = F.expr(
                "transform(sequence(0, 11), d -> CAST(0.5 AS FLOAT))"
            )
        parts.append(base.withColumn("embedding", emb))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    os.makedirs(path)
    out.select("vec_id", "embedding", "label").write.parquet(
        f"{path}/embeddings.parquet"
    )
    for t in TABLE_NAMES:
        if t != "embeddings":
            os.symlink(f"{sf_dir}/{t}.parquet", f"{path}/{t}.parquet")


def test_embedding_cell_audit_flags_beyond_bound_and_degenerate(
    spark, sf_dir, tmp_path
):
    """The two disclosed failure modes of the cell-occupancy bound
    (plans/dedup.py HONEST LIMITS), exercised for real (round-8
    verdict ask #6):

    - a cell BEYOND cap·2^maxbits (2,097,152 = 2x the bound): bits
      clamp at _CELL_MAX_BITS and the finest sub-cells still hold
      ~2x _CELL_CAP vectors — the audit's max_subcell alarm MUST
      exceed the cap (the signal that the upstream quantizer, not the
      in-engine backstop, is the knob to turn);
    - an all-identical-vector cell (4096 > cap): no dim ever sits
      strictly above the cell mean, so the mean-sign quantizer
      produces ONE sub-cell — refinement defeated exactly as
      documented, and max_subcell again flags it.

    A lattice control cell under the cap stays unsplit and unflagged.
    Numbers for the quadratic-coefficient claim live in SCALING.md
    ("Cell-cap probe")."""
    from mypipe_spark.plans.dedup import _CELL_CAP, _CELL_MAX_BITS

    bound = _CELL_CAP * (1 << _CELL_MAX_BITS)
    synth = str(tmp_path / "synth")
    _write_probe_embeddings(
        spark,
        synth,
        sf_dir,
        [
            (0, 2 * bound, "lattice"),    # beyond the bound
            (1, 4096, "identical"),       # degenerate dims
            (2, _CELL_CAP // 2, "lattice"),  # control: under cap
        ],
    )
    audit = {
        r["label"]: r for r in _Q["embedding_cell_audit"].fn(spark, synth).collect()
    }
    beyond = audit[0]
    assert beyond["cnt"] == 2 * bound
    assert beyond["bits"] == _CELL_MAX_BITS  # clamped — bound exhausted
    assert beyond["max_subcell"] > _CELL_CAP, beyond  # the alarm fires
    # the quantizer did its 2^12-way best: sub-cells exist and average
    # ~2x cap, so the residual quadratic work per task is (~2·cap)²/2
    assert beyond["n_subcells"] == (1 << _CELL_MAX_BITS)
    assert beyond["avg_subcell"] == 2 * _CELL_CAP  # 2097152 div 4096

    degen = audit[1]
    assert degen["cnt"] == 4096 and degen["bits"] == 4
    assert degen["n_subcells"] == 1  # refinement defeated
    assert degen["max_subcell"] == 4096 > _CELL_CAP  # alarm fires

    ctrl = audit[2]
    assert ctrl["bits"] == 0 and ctrl["n_subcells"] == 1
    assert ctrl["max_subcell"] <= _CELL_CAP  # quiet
