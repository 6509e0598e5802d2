#!/usr/bin/env python
"""Catalog benchmark: times the headline queries (``QueryDef.bench``)
at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints one JSON line. Every run goes
through :func:`time_query` (construction plus a noop-sink write),
after one warm-up query, $BENCH_REPEAT times per query (default 5).

Output fields:

- ``metric``: ``"headline_queries_wall_clock"``.
- ``value``: sum over queries of each query's fastest run, seconds.
- ``unit``: ``"sec"``.
- ``queries``: query name -> its fastest run, seconds.
- ``sf``: scale factor, parsed from the data directory's name.
- ``value_median``: sum over queries of each query's median run, seconds.
- ``timings``: query name -> every run in run order, seconds.
- ``repeat``: runs per query.
- ``loadavg_start``: 1-minute load average before the session starts.
- ``loadavg_end``: 1-minute load average after the last probe.
- ``load_flagged``: ``loadavg_start`` above max(1, cores / 4).
- ``canary_ms``: single-task compute probe before the queries, ms.
- ``canary_parallel_ms``: the probe in ``defaultParallelism`` tasks, ms.
- ``canary_end_ms``: the single-task probe after the queries, ms.
- ``canary_ref_ms``: :data:`CANARY_REF_MS`.
- ``canary_parallel_ref_ms``: :data:`CANARY_PARALLEL_REF_MS`.
- ``canary_ratio``: ``canary_ms / canary_ref_ms``.
- ``canary_parallel_ratio``: ``canary_parallel_ms / canary_parallel_ref_ms``.
- ``canary_flagged``: either ratio outside [1/1.3, 1.3].

How to read a flagged value is BENCH_NOTES.md "Current rule". The
streaming pipe is measured by ``perfbench/run.py``, not here.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time


# Reference-host canaries (ms), calibrated on the 32-core build host
# (BENCH_NOTES.md "Canary calibration"). The parallel ratio is the one
# to normalize by: on a slow instance the single-core probe read 1.29x,
# the parallel probe 1.61x and the 32-thread bench ~2x.
CANARY_REF_MS = 450.0
CANARY_PARALLEL_REF_MS = 835.0
# 80M rows a task, not 20M: at 20M the per-job fixed overhead was
# 30-60% of the reading and swung ±1.8x between sessions; at 80M the
# arithmetic dominates and the spread is ~±10%.
_CANARY_ROWS_PER_TASK = 80_000_000


def _canary_ms(spark, partitions: int, repeats: int = 3) -> float:
    """Fixed-work JVM probe: bit_xor(xxhash64(id)) over a range — pure
    whole-stage-codegen arithmetic, no I/O, no shuffle beyond the
    single-row final aggregate; work scales with ``partitions`` so
    per-task work (and thus an uncontended reading) is constant.
    Best-of-N: the first run pays Janino codegen once (~100 ms), and
    min is the 'how fast CAN this host go' quantity the normalization
    needs. The fold is bit_xor, not sum — a 20M-term sum of full-range
    hashes overflows BIGINT under the session's ANSI mode."""
    from pyspark.sql import functions as F

    n = _CANARY_ROWS_PER_TASK * partitions
    best = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        spark.range(0, n, 1, partitions).agg(
            F.expr("bit_xor(xxhash64(id))")
        ).collect()
        best = min(best, (time.perf_counter() - t0) * 1000)
    return round(best, 1)


def time_query(spark, fn, sf_dir: str, repeat: int) -> list[float]:
    """Wall-clock seconds of ``repeat`` runs of query ``fn`` at
    ``sf_dir``. A run is the job description, then the DataFrame's
    construction, then a noop-sink write, which computes every column
    of every row and discards it. ``count()`` would time a different
    plan: Catalyst prunes the columns above it (q1's decimal sums),
    while a top-k plan pays work under it that the query lacks."""
    runs: list[float] = []
    try:
        for _ in range(repeat):
            spark.sparkContext.setJobDescription(f"bench:{fn.__name__}")
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
    finally:
        spark.sparkContext.setJobDescription(None)
    return runs


def main() -> int:
    repo = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, repo)
    from mypipe_spark.plans.catalog import all_queries
    from mypipe_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # fastest of N: a query's first run pays whole-stage codegen (and,
    # for the dedup plane, the session's shingle cache) and the host
    # jitters ±30%; steady-state cost is what is benchmarked
    repeat = int(os.environ.get("BENCH_REPEAT", "5"))
    load_start = os.getloadavg()[0]
    spark = get_spark("mypipe-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    qs = {name: qd for name, qd in all_queries().items() if qd.bench}

    # host-speed canary BEFORE any data work: measures the instance,
    # not the page cache / shingle-cache state
    par = spark.sparkContext.defaultParallelism
    canary_ms = _canary_ms(spark, 1, repeats=6)
    canary_parallel_ms = _canary_ms(spark, par, repeats=3)

    # warm-up (JIT, codegen, parquet footers) on the smallest query
    warm = qs.get("dedup_exact") or next(iter(qs.values()))
    time_query(spark, warm.fn, sf_dir, 1)

    timings = {
        name: time_query(spark, qd.fn, sf_dir, repeat)
        for name, qd in sorted(qs.items())
    }
    per_query = {name: min(runs) for name, runs in timings.items()}

    total = round(sum(per_query.values()), 3)
    total_median = round(
        sum(statistics.median(r) for r in timings.values()), 3
    )
    # re-probe after the query loop: a start/end canary split shows
    # mid-run host drift (neither loadavg field can)
    canary_end_ms = _canary_ms(spark, 1, repeats=2)
    canary_ratio = round(canary_ms / CANARY_REF_MS, 3)
    canary_parallel_ratio = round(
        canary_parallel_ms / CANARY_PARALLEL_REF_MS, 3
    )

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    out = {
        "metric": "headline_queries_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "value_median": total_median,
        "timings": timings,
        "repeat": repeat,
        "loadavg_start": round(load_start, 2),
        "loadavg_end": round(os.getloadavg()[0], 2),
        "load_flagged": load_start > max(1.0, (os.cpu_count() or 4) / 4),
        "canary_ms": canary_ms,
        "canary_parallel_ms": canary_parallel_ms,
        "canary_end_ms": canary_end_ms,
        "canary_ref_ms": CANARY_REF_MS,
        "canary_parallel_ref_ms": CANARY_PARALLEL_REF_MS,
        "canary_ratio": canary_ratio,
        "canary_parallel_ratio": canary_parallel_ratio,
        "canary_flagged": not (
            1 / 1.3 <= canary_ratio <= 1.3
            and 1 / 1.3 <= canary_parallel_ratio <= 1.3
        ),
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
