from __future__ import annotations

from pyspark.sql import functions as F

from mypipe_spark.functions.vector import cosine_scores_vectorized
from mypipe_spark.plans.catalog import all_queries

_Q = all_queries()


def test_pandas_ann_matches_expression_ann(spark, sf_dir):
    """The Arrow-vectorized kernel and the JVM expression path must be
    bit-identical (same quantized-integer arithmetic)."""
    expr_rows = _Q["ann_topk_bruteforce"].fn(spark, sf_dir).collect()
    pd_rows = _Q["ann_topk_pandas"].fn(spark, sf_dir).collect()
    assert [tuple(r) for r in expr_rows] == [tuple(r) for r in pd_rows]


def test_cosine_vectorized_self_similarity(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 7).collect()[0]["embedding"]
    scored = cosine_scores_vectorized(emb, list(q))
    self_row = scored.filter(F.col("vec_id") == 7).collect()[0]
    assert abs(self_row["cos_raw"] - 1.0) < 1e-9


def test_zero_norm_vectors_score_zero_not_crash(spark):
    """Under ANSI mode (Spark 4 default) a bare dot/sqrt(na*nb) throws
    DIVIDE_BY_ZERO on an all-zero embedding, killing the whole query.
    Both cosine paths define the convention cos(x, 0) = 0.0 instead —
    a zero vector is never anyone's neighbor. Regression for both the
    expression path (cosine) and the Arrow-vectorized twin."""
    from mypipe_spark.functions.vector import QSCALE, cosine, norm2, quantize

    rows = [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.6, 0.8])]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    q = df.select("vec_id", quantize().alias("qv")).withColumn("nrm2", norm2())
    qvec = [1.0, 0.0]
    qq = q.sparkSession.createDataFrame(
        [(list(int(round(x * QSCALE)) for x in qvec),)], "qqv array<bigint>"
    ).withColumn("qn", norm2("qqv"))
    scored = {
        r["vec_id"]: r["c"]
        for r in q.crossJoin(qq).withColumn("c", cosine("qv", "nrm2", "qqv", "qn")).collect()
    }
    assert scored[1] == 1.0 and scored[2] == 0.0 and abs(scored[3] - 0.6) < 1e-9

    arrow = {
        r["vec_id"]: r["cos_raw"]
        for r in cosine_scores_vectorized(df, qvec, emb_col="embedding").collect()
    }
    assert arrow == scored  # bit-equal, including the zero-norm row

    # a zero QUERY vector scores everyone 0.0 in both paths
    zq = cosine_scores_vectorized(df, [0.0, 0.0], emb_col="embedding")
    assert {r["cos_raw"] for r in zq.collect()} == {0.0}


def test_batch_lsh_retrieves_planted_near_neighbors(spark, tmp_path):
    """ann_topk_batch_lsh's retrieval contract: when a query's true
    nearest neighbor is a GENUINE near-dup (cosine ~0.9, the case LSH
    exists for), the bucketed path must retrieve it for most queries —
    random-data top-k is not the family's contract (rank-comparison
    collisions are ~coin flips there; the family-level recall bound is
    pinned numpy-side in test_dedup). Also pins that every pair both
    paths rank carries the identical exact cosine — candidate
    generation is the ONLY difference vs brute-force batch."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mypipe_spark.plans.catalog import TABLE_NAMES
    from mypipe_spark.plans.similarity import _BATCH_QUERY_STRIDE

    # synthetic sf_dir: planted embeddings + the other tables symlinked
    src = "/root/testdata/sf0.001"
    for t in TABLE_NAMES:
        if t != "embeddings":
            os.symlink(f"{src}/{t}.parquet", tmp_path / f"{t}.parquet")

    rng = np.random.RandomState(23)
    n_q, dim = 40, 64
    rows = []
    for k in range(n_q):
        qid = k * _BATCH_QUERY_STRIDE
        v = rng.normal(0, 1, dim)
        rows.append((qid, v))
        rows.append((qid + 1, v + rng.normal(0, 0.35, dim)))  # near-dup
        for f in range(2, 8):  # unrelated fillers
            rows.append((qid + f, rng.normal(0, 1, dim)))
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array(
                [r[1].astype(np.float32).tolist() for r in rows],
                pa.list_(pa.float32()),
            ),
            "label": pa.array([r[0] % 5 for r in rows], pa.int32()),
        }
    )
    pq.write_table(tbl, tmp_path / "embeddings.parquet")
    sf = str(tmp_path)

    exact = {}
    for r in _Q["ann_topk_batch"].fn(spark, sf).collect():
        exact.setdefault(r["query_id"], {})[r["vec_id"]] = r["cosine"]
    approx = {}
    for r in _Q["ann_topk_batch_lsh"].fn(spark, sf).collect():
        approx.setdefault(r["query_id"], {})[r["vec_id"]] = r["cosine"]

    # the planted near-dup is the exact top neighbor for ~every query;
    # the LSH path must retrieve it for >=80% of them
    planted_found = sum(
        1 for k in range(n_q)
        if k * _BATCH_QUERY_STRIDE + 1 in approx.get(k * _BATCH_QUERY_STRIDE, {})
    )
    assert planted_found / n_q >= 0.8, f"planted recall {planted_found}/{n_q}"
    # shared pairs carry bit-identical cosines (same scoring path)
    for q, neigh in approx.items():
        for v, c in neigh.items():
            if q in exact and v in exact[q]:
                assert c == exact[q][v]


def test_embedding_firewall_quarantines_and_unblocks_kernels(spark):
    """Dirty embeddings (NULL vector, wrong dimension, NaN component)
    crash every strict kernel by design; the validate_embeddings
    firewall must (a) agree with its DuckDB oracle on the dirty
    corpus, (b) quarantine exactly the three bad rows with reasons,
    and (c) make every downstream kernel run green on the validated
    side with results matching DuckDB over the same validated rows."""
    import math
    import random

    import duckdb
    import pandas as pd

    import mypipe_spark.plans.catalog as C
    from mypipe_spark.plans import similarity as SM
    from mypipe_spark.plans.catalog import QUERIES, all_queries
    from mypipe_spark.plans.similarity import validate_embeddings

    all_queries()
    rnd = random.Random(7)

    def vec(dim=64):
        return [rnd.uniform(-0.3, 0.3) for _ in range(dim)]

    rows = [(i, vec(), i % 3) for i in range(20)]
    nullcomp = vec()
    nullcomp[5] = None  # survives the pandas->DuckDB trip verbatim
    rows += [(100, None, 1), (101, vec(32), 2), (102, nullcomp, 0)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    con = duckdb.connect()
    con.register(
        "embeddings", pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    )

    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else round(v, 6)
        return v

    def run(name, tables):
        with _pt([SM], tables):
            return sorted(
                (tuple(norm(v) for v in r) for r in QUERIES[name].fn(spark, "x").collect()),
                key=str,
            )

    from contextlib import contextmanager

    @contextmanager
    def _pt(modules, tables):
        real = C.load_tables

        def fake(s, d):
            return tables

        C.load_tables = fake
        for m in modules:
            m.load_tables = fake
        try:
            yield
        finally:
            C.load_tables = real
            for m in modules:
                m.load_tables = real

    # (a) validator parity on the dirty corpus
    got = run("embedding_validate", {"embeddings": emb})
    want = sorted(
        (tuple(norm(v) for v in r)
         for r in con.execute(QUERIES["embedding_validate"].oracle).fetchall()),
        key=str,
    )
    assert got == want

    # (b) exact quarantine set — plus a Spark-only NaN row (pandas
    # coerces NaN to NULL on the DuckDB trip, so parity can't carry
    # it, but the firewall must catch a real NaN identically)
    valid, quarantined = validate_embeddings(emb)
    q = {r["vec_id"]: r["reason"] for r in quarantined.collect()}
    assert q == {100: "null_vector", 101: "wrong_dim", 102: "nonfinite"}
    assert valid.count() == 20
    nanv = vec()
    nanv[3] = float("nan")
    _, qn = validate_embeddings(
        spark.createDataFrame(
            [(200, nanv, 0)], "vec_id long, embedding array<float>, label int"
        )
    )
    assert [tuple(r) for r in qn.collect()] == [(200, 0, "nonfinite")]

    # (c) kernels run green over the validated side and match DuckDB
    # over the SAME validated rows
    clean_rows = [r for r in rows if r[0] < 100]
    con2 = duckdb.connect()
    con2.register(
        "embeddings",
        pd.DataFrame(clean_rows, columns=["vec_id", "embedding", "label"]),
    )
    for name in ("ann_topk_bruteforce", "embedding_centroids", "ann_topk_lsh"):
        got = run(name, {"embeddings": valid})
        want = sorted(
            (tuple(norm(v) for v in r)
             for r in con2.execute(QUERIES[name].oracle).fetchall()),
            key=str,
        )
        assert got == want, name


def test_ann_recall_check_floors_and_exact_twin(spark, sf_dir):
    """The recall check at sf0.001: the pandas variant (identical
    quantized arithmetic) must be EXACTLY 1.0 — anything less means
    the two implementations diverged — and every variant clears its
    registered regression floor; k rows all present."""
    from mypipe_spark.plans.catalog import QUERIES, all_queries

    all_queries()
    rows = {r["method"]: r for r in
            QUERIES["ann_recall_check"].fn(spark, sf_dir).collect()}
    assert set(rows) == {"ivf", "lsh", "pandas"}
    assert rows["pandas"]["recall"] == 1.0 and rows["pandas"]["n_common"] == 10
    assert all(r["recall_ok"] == 1 for r in rows.values())


def test_outliers_null_vector_excluded_cross_engine(spark):
    """Review-pass regression: a NULL embedding must be excluded from
    BOTH the centroid divisor and the ranking on BOTH engines — the
    oracle's UNNEST cross-join originally counted the row into
    COUNT(*) while Spark's posexplode dropped it, shifting every
    centroid and the outlier order."""
    import duckdb
    import pandas as pd

    from mypipe_spark.plans import similarity as SI
    from mypipe_spark.plans.catalog import QUERIES, all_queries

    all_queries()
    dim = 64
    base = [0.0] * dim

    def vec(i, v):
        out = list(base)
        out[i] = v
        return out

    rows = [
        (1, vec(0, 1.0), 0),
        (2, vec(0, 0.9), 0),
        (3, vec(1, 1.0), 0),   # the off-axis outlier
        (4, None, 0),          # dirty row: must not shift the centroid
        (5, vec(2, 1.0), 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    import tests.test_newops as TN

    with TN._planted_tables([SI], {"embeddings": emb}):
        got = [
            (r["label"], r["rk"], r["vec_id"], r["dist2"])
            for r in QUERIES["embedding_outliers"].fn(spark, "x").collect()
        ]
    con = duckdb.connect()
    con.register(
        "embeddings",
        pd.DataFrame(rows, columns=["vec_id", "embedding", "label"]),
    )
    want = [
        tuple(r)
        for r in con.execute(QUERIES["embedding_outliers"].oracle).fetchall()
    ]
    assert sorted(got) == sorted(want)
    # vec 4 never appears; label 0's farthest member is the off-axis 3
    assert all(v != 4 for (_, _, v, _) in got)
    lab0 = [r for r in sorted(got) if r[0] == 0]
    assert lab0[0][2] == 3


def test_int8_quantization_error_within_theoretical_bound(spark, sf_dir):
    """embedding_quantize_int8's audit must honor the symmetric-int8
    error bound: |x - deq(enc(x))| <= scale/(2*127) + 1 in quantized
    units (a half step of the code lattice plus the final integer
    rounding). A broken encoder (wrong scale, truncating division,
    sign bug) lands outside the bound. Also: every dimension reports
    the full corpus, and a positive scale (the fixture has no
    all-zero dimension)."""
    from mypipe_spark.plans.catalog import all_queries

    rows = all_queries()["embedding_quantize_int8"].fn(spark, sf_dir).collect()
    assert len(rows) == 64
    n_total = rows[0]["n_vecs"]
    for r in rows:
        assert r["n_vecs"] == n_total
        assert r["scale_q"] > 0
        assert r["max_err_q"] <= r["scale_q"] / 254 + 1, dict(r.asDict())
        assert 0 <= r["avg_err_q"] <= r["max_err_q"]
        assert 0 <= r["n_exact"] <= r["n_vecs"]


def test_vectorized_cosine_tolerates_null_and_ragged_embeddings(spark):
    """Round-8 review: a NULL (or off-dimension) embedding killed the
    whole mapInPandas job where the expression twin scored 0.0 and
    completed — the two plans are advertised as interchangeable. Bad
    rows now score 0.0 like the zero-norm convention."""
    from mypipe_spark.functions.vector import cosine_scores_vectorized

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, None),
            (3, [1.0, 0.0]),          # ragged
            (4, [0.0, 0.0, 0.0]),     # zero norm
            (5, [0.5, 0.5, 0.0]),
        ],
        "vec_id bigint, embedding array<float>",
    )
    got = {
        r["vec_id"]: r["cos_raw"]
        for r in cosine_scores_vectorized(df, [1.0, 0.0, 0.0]).collect()
    }
    assert got[1] == 1.0
    assert got[2] == 0.0 and got[3] == 0.0 and got[4] == 0.0
    assert abs(got[5] - 0.7071) < 1e-3
