#!/usr/bin/env python
"""Scale-up smoke: amplify the fixture corpus K-fold and time the
headline queries at 1x and Kx.

The per-query ratio Kx/1x says how a plan's cost grows with data: ~1
means fixed per-stage cost dominates at this size, ~K linear work, ~K^2
an algorithmic blowup (quadratic candidates, a global sort, a driver
loop). Each run is bench.py's ``time_query`` (noop sink), so the ratios
measure the plan the headline measures.

Amplification preserves each operator's structure instead of unioning
identical copies (which would inflate near-dup/ANN work quadratically
and measure the data generator, not the engine):

- fact tables replicate with key offsets (+i*1e9 per replica i), so
  foreign keys hold within each replica and join/group cardinalities
  scale linearly. The offset is even, preserving ``user_id % 2``.
- ``nation``/``region`` stay single-copy, as dimension tables do under
  TPC-H scaling.
- ``documents`` replicas suffix every word with a replica tag, so
  replicas share no shingles and the true near-dup pair count scales
  exactly K-fold. ``n_chars`` is recomputed.
- ``embeddings`` replicas rotate the vector by i dims and shift
  ``label`` by i*1000. Rotation keeps norms and intra-replica dot
  products bit-exact while de-correlating replicas' LSH buckets.
  ``ann_topk_batch`` (query set x corpus) still scales K^2, which is
  that operator's real complexity.

Usage:
    python tools/scale_smoke.py [--factor 8] [--sf-dir /root/testdata/sf0.1]
                                [--out-root /tmp] [--repeat 3] [--rebuild]
                                [query ...]

Prints one JSON line per query and a summary line, and writes only the
amplified corpus under ``--out-root``; exit 1 if a query fails.
Ratios are wall-clock on a jittery host: read them as magnitudes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: E402

from bench import time_query  # noqa: E402

# per-table integer key columns to offset per replica (referential
# integrity holds because both sides of every FK get the same offset)
_KEY_COLS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
_DIM_TABLES = ("nation", "region")
_OFFSET = 1_000_000_000  # even: preserves user_id % 2 routing


def _replica(df: DataFrame, table: str, i: int) -> DataFrame:
    if i == 0:
        return df
    out = df
    for c in _KEY_COLS.get(table, ()):
        out = out.withColumn(c, F.col(c) + F.lit(i * _OFFSET))
    if table == "documents":
        # suffix every word: replicas share no shingles, so near-dup
        # clusters replicate independently (linear, not quadratic)
        out = out.withColumn(
            "text",
            F.expr(
                f"array_join(transform(split(text, ' '),"
                f" w -> concat(w, '~{i}')), ' ')"
            ),
        ).withColumn("n_chars", F.length("text").cast("long"))
    if table == "embeddings":
        out = out.withColumn("label", F.col("label") + F.lit(i * 1000))
        r = i % 64  # rotate by replica index (vectors are 64-dim)
        if r:
            out = out.withColumn(
                "embedding",
                F.expr(
                    f"concat(slice(embedding, {r + 1}, size(embedding) - {r}),"
                    f" slice(embedding, 1, {r}))"
                ),
            )
    return out


def amplify(spark: SparkSession, sf_dir: str, factor: int, out_dir: str) -> None:
    if factor > 64:
        # embedding de-correlation is a cyclic rotation of the 64-dim
        # vector, so replica i and i-64 would be bit-identical — they
        # would collide in every LSH bucket and re-introduce exactly
        # the K^2 candidate inflation the amplifier exists to avoid,
        # making any "superlinear" reading an artifact of the tool.
        raise ValueError(
            "factor > 64 exceeds the rotation period of the 64-dim "
            "embeddings; replicas would repeat and quadratically "
            "inflate the ANN/dedup planes"
        )
    for table in list(_KEY_COLS) + list(_DIM_TABLES):
        src = os.path.join(sf_dir, f"{table}.parquet")
        if not os.path.exists(src):
            # fail loudly: silently skipping would stamp the completion
            # marker over a partial corpus and poison every later run
            raise FileNotFoundError(f"fixture table missing: {src}")
        base = spark.read.parquet(src)
        reps = 1 if table in _DIM_TABLES else factor
        df = base
        for i in range(1, reps):
            df = df.unionByName(_replica(base, table, i))
        df.write.mode("overwrite").parquet(os.path.join(out_dir, f"{table}.parquet"))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=8)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out-root", default="/tmp")
    ap.add_argument("--repeat", type=int, default=3, help="fastest-of-N per query per scale")
    ap.add_argument("--rebuild", action="store_true", help="rebuild the amplified corpus even if present")
    ap.add_argument("queries", nargs="*", help="default: the bench set")
    args = ap.parse_args()

    from mypipe_spark.plans.catalog import all_queries
    from mypipe_spark.session import get_spark

    spark = get_spark("scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    qs = all_queries()
    names = args.queries or sorted(n for n, qd in qs.items() if qd.bench)
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    tag = os.path.basename(args.sf_dir.rstrip("/"))
    amp_dir = os.path.join(args.out_root, f"scale_smoke_{tag}_x{args.factor}")
    marker = os.path.join(amp_dir, "_AMPLIFIED_OK")
    if args.rebuild and os.path.exists(amp_dir):
        shutil.rmtree(amp_dir)
    if not os.path.exists(marker):
        t0 = time.perf_counter()
        amplify(spark, args.sf_dir, args.factor, amp_dir)
        open(marker, "w").close()
        print(f"# amplified {args.sf_dir} x{args.factor} -> {amp_dir} "
              f"({time.perf_counter() - t0:.0f}s)", file=sys.stderr)

    time_query(spark, qs["dedup_exact"].fn, args.sf_dir, 1)  # warm-up
    failures = []
    ratios = []
    for name in names:
        row: dict[str, object] = {"query": name, "factor": args.factor}
        try:
            for key, d in (("base_s", args.sf_dir), ("amp_s", amp_dir)):
                row[key] = min(time_query(spark, qs[name].fn, d, args.repeat))
            row["ratio"] = round(row["amp_s"] / max(row["base_s"], 1e-9), 2)
            ratios.append(row["ratio"])
        except Exception as exc:  # noqa: BLE001 - report and continue
            row["error"] = f"{type(exc).__name__}: {exc}"[:300]
            failures.append(name)
        print(json.dumps(row), flush=True)

    print(json.dumps({
        "summary": "scale_smoke",
        "factor": args.factor,
        "queries": len(names),
        "failed": failures,
        "median_ratio": sorted(ratios)[len(ratios) // 2] if ratios else None,
        "max_ratio": max(ratios) if ratios else None,
    }))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
