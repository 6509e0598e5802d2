"""The quantized-integer cosine core shared by every embedding query.

One definition per concept, for both engines and the Arrow kernel:
the scale (``QSCALE``), the quantizer (round(x*1e4) → BIGINT), the
squared-norm fold, and the cosine (exact integer dot and norms, one
final double division, 0.0 against an all-zero vector). The Spark
expression forms (``quantize``, ``norm2``, ``cosine``) build every
similarity and embedding-dedup plan; the DuckDB fragments
(``QUANTIZE_DUCKDB``, ``norm2_duckdb``, ``cosine_duckdb``) build their
oracles. Integer sums are order-independent, so both engines land on
bit-identical cosines.

``cosine_scores_vectorized`` is the Arrow-batched twin of the Spark
expression path: one int64 matrix-vector product per batch instead of
an element-wise ``aggregate(zip_with(...))`` per row, with the same
arithmetic, so it shares the expression path's oracle.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

QSCALE = 10_000

# DuckDB twin of quantize(). The explicit CAST to DOUBLE matters: on a
# FLOAT list DuckDB would otherwise multiply in FLOAT and round some
# .5-adjacent values differently from Spark, which promotes to double.
QUANTIZE_DUCKDB = (
    f"list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QSCALE}) AS BIGINT))"
)


def quantize() -> Column:
    """``embedding`` (array<float|double>) → array<bigint>, each
    component round(x * QSCALE) half away from zero."""
    return F.expr(
        f"transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QSCALE}) AS BIGINT))"
    )


def norm2(qv: str = "qv") -> Column:
    """Exact BIGINT squared norm of a quantized vector."""
    return F.expr(f"aggregate({qv}, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)")


def norm2_duckdb(qv: str) -> str:
    """DuckDB twin of :func:`norm2`."""
    return f"(SELECT SUM(x * x) FROM (SELECT UNNEST({qv}) AS x))"


def cosine(a_qv: str, a_n: str, b_qv: str, b_n: str) -> Column:
    """Cosine of two quantized vectors given their squared norms.

    Zero-norm (all-zero) vectors: cosine is undefined, and under ANSI
    mode the bare division would throw DIVIDE_BY_ZERO and kill the
    whole query. Convention: similarity 0.0 — a zero vector is never
    anyone's neighbor. CaseWhen evaluates the division branch only for
    non-zero rows. The denominator is sqrt(na*nb), one sqrt over the
    exact integer product: sqrt(a)*sqrt(b) can differ in the last ulp
    and flip a ROUND boundary or top-k tie."""
    dot = F.expr(
        f"aggregate(zip_with({a_qv}, {b_qv}, (x, y) -> x * y),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    nprod = F.col(a_n).cast("double") * F.col(b_n).cast("double")
    return F.when(nprod > 0, dot / F.sqrt(nprod)).otherwise(F.lit(0.0))


def cosine_duckdb(a_qv: str, a_n: str, b_qv: str, b_n: str) -> str:
    """DuckDB twin of :func:`cosine`, zero-norm convention included (an
    unguarded 0/0 is NaN there, which DuckDB orders above every
    number)."""
    return f"""(CASE WHEN {a_n} > 0 AND {b_n} > 0 THEN
               (SELECT SUM({a_qv}[i] * {b_qv}[i])
                FROM (SELECT UNNEST(range(1, len({a_qv}) + 1)) AS i))
               / SQRT(CAST({a_n} AS DOUBLE) * CAST({b_n} AS DOUBLE))
              ELSE 0.0 END)"""


def _quantize_batch(embs: pd.Series) -> np.ndarray:
    """(batch, dim) int64 matrix with round-half-away-from-zero —
    matching Spark's ROUND(double) and DuckDB's ROUND semantics
    (np.round alone is banker's rounding, which would diverge)."""
    m = np.stack(embs.to_numpy()).astype(np.float64) * QSCALE
    return (np.sign(m) * np.floor(np.abs(m) + 0.5)).astype(np.int64)


def cosine_scores_vectorized(
    df: DataFrame,
    query_vec: list[float],
    emb_col: str = "embedding",
) -> DataFrame:
    """Append ``cos_raw`` (double) — cosine of each row's embedding
    against one query vector, computed as a single int64 matrix-vector
    product per Arrow batch. mapInPandas keeps all other columns."""
    q = _quantize_batch(pd.Series([query_vec]))[0]
    qn_sq = float(q @ q)

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", cos_raw double"

    dim = len(q)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # mask NULL/ragged embeddings BEFORE stacking: np.stack on
            # a None or off-dimension row would kill the whole query,
            # where the expression twin (cosine) yields a NULL dot →
            # 0.0 for that row and completes — the two plans are
            # advertised as interchangeable. Bad rows score 0.0, same
            # as the zero-norm convention.
            embs = pdf[emb_col].to_numpy()
            good = np.array(
                [e is not None and len(e) == dim for e in embs], dtype=bool
            )
            pdf = pdf.copy()
            if not good.any():
                pdf["cos_raw"] = 0.0
                yield pdf
                continue
            m = _quantize_batch(pd.Series(embs[good]))
            dots = np.zeros(len(embs), dtype=np.float64)
            norms_sq = np.zeros(len(embs), dtype=np.float64)
            dots[good] = (m @ q).astype(np.float64)
            norms_sq[good] = (m * m).sum(axis=1).astype(np.float64)
            # sqrt(na*nb) and the zero-norm mask, as in cosine()
            nprod = norms_sq * qn_sq
            with np.errstate(divide="ignore", invalid="ignore"):
                raw = dots.astype(np.float64) / np.sqrt(nprod)
            pdf["cos_raw"] = np.where(nprod > 0, raw, 0.0)
            yield pdf

    return df.mapInPandas(score, out_schema)
