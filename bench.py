#!/usr/bin/env python
"""Benchmark harness: runs the headline queries (QueryDef.bench=True)
at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the total wall-clock over the headline set after a warmup
pass of the smallest query (JVM/codegen warm); per-query numbers are
the fastest of ``$BENCH_REPEAT`` runs (default 5). The timed action is the
noop sink (round 11, guide §1.4 — every column of every row computed
and discarded; ``df.count()`` before that, which under-measured
queries whose measures prune above a count and over-measured top-k
plans — see OPTIMIZATION_r11.md for the same-host bridge numbers).

Adjudicability fields (round 7 — the official number drifted ±8% two
rounds running on a host whose documented same-code spread is ±2×, so
every reading now carries the evidence needed to separate regression
from noise WITHOUT re-running):

- ``loadavg_start`` / ``loadavg_end``: 1-min load average around the
  run. ``load_flagged`` is true when the run STARTED on a busy host —
  busy meaning load above a quarter of the core count (an absolute
  threshold would flag a near-idle 32-core box at 3% utilization) —
  treat a flagged reading as non-adjudicable ambient noise, not a
  code delta.
- ``timings``: per-query ALL repeat wall-clocks in run order, so the
  within-run spread (max/min per query) is visible next to the
  fastest-of-N summary.
- ``value_median``: sum of per-query medians — the noise-robust total
  beside the fastest-of-N ``value`` (which stays the like-for-like
  number of record, comparable to BENCH_r01..r06).
- ``canary_ms`` / ``canary_parallel_ms`` / ``canary_end_ms`` (round
  9): fixed-work host-speed probes — xxhash64 folds over
  ``spark.range`` in ONE task (single-core speed) and in
  ``defaultParallelism`` tasks (whole-box throughput, catches
  contention a single core misses), best-of-N, data-independent.
  ``load_flagged`` only catches a BUSY host; the dominant noise is a
  SLOW-BUT-IDLE host instance (the documented ±2x same-code spread —
  BENCH_r08 read 1.70x of r07 purely from instance speed), which the
  canary measures directly. ``canary_ratio`` /
  ``canary_parallel_ratio`` divide each probe by its checked-in
  reference-host constant; ``canary_flagged`` is true when EITHER
  leaves [1/1.3, 1.3] and means: compare ``value`` across rounds ONLY
  after dividing by ``canary_parallel_ratio`` — the 32-thread bench
  tracks whole-box throughput, which degrades more than a single
  core on slow instances (normalization rule in BENCH_NOTES.md).
  ``canary_end_ms`` re-probes after the query loop so mid-run host
  drift is visible too.

The streaming pipe is measured by ``perfbench/run.py`` (steady-state
``cdc_live`` latency and ``cdc_catchup`` throughput), not here.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time


# Reference-host canaries (ms): measured on the round-9 build host
# (see BENCH_NOTES.md "Round 9" for the calibration evidence).
# Readings where EITHER ratio leaves [1/1.3, 1.3] are canary_flagged:
# normalize value by the PARALLEL ratio (the 32-thread bench tracks
# whole-box throughput better than a single core — measured on the
# round-9 close reading, where a slow instance showed single 1.29 vs
# parallel 1.61 vs bench-total ~2x) before any round-over-round
# verdict.
CANARY_REF_MS = 450.0
CANARY_PARALLEL_REF_MS = 835.0
# 80M rows/task, not 20M: at 20M the per-job fixed overhead (task
# scheduling, result fetch) was 30-60% of the reading and swung ±1.8x
# between sessions; at 80M the arithmetic dominates and the
# within-session spread collapses to ~±10% (measured during round-9
# calibration)
_CANARY_ROWS_PER_TASK = 80_000_000


def _canary_ms(spark, partitions: int, repeats: int = 3) -> float:
    """Fixed-work JVM probe: sum(xxhash64(id)) over a range — pure
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


def main() -> int:
    repo = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, repo)
    from mypipe_spark.plans.catalog import all_queries
    from mypipe_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # fastest-of-5 by default: the first run of a query pays one-time
    # whole-stage-codegen (Janino) compilation of its expressions (and,
    # for the dedup plane, populating the shared shingle cache), and
    # this host shows ±30% run-to-run jitter — steady-state throughput
    # is the quantity being benchmarked, so take the best of 5.
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

    # warmup: smallest bench query end-to-end (JIT, codegen, parquet
    # footers) through the same noop sink the timed loop uses
    warm = qs.get("dedup_exact") or next(iter(qs.values()))
    warm.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    per_query: dict[str, float] = {}
    timings: dict[str, list[float]] = {}
    for name, qd in sorted(qs.items()):
        runs: list[float] = []
        for _ in range(repeat):
            spark.sparkContext.setJobDescription(f"bench:{name}")
            t0 = time.perf_counter()
            df = qd.fn(spark, sf_dir)
            # Round 11 (guide §1.4): the timed action is the noop sink —
            # computes EVERY column of every row and discards it. The
            # previous action, df.count(), let Catalyst prune columns
            # above the count: q1's six decimal measures were never
            # computed (measured 0.30 s count vs 1.98 s noop at sf0.1),
            # while for top-k plans count() added work the query does
            # not have (ann_topk_bruteforce 1.68 s count vs 0.57 s
            # noop). Methodology bridge recorded in OPTIMIZATION_r11.md
            # (same-host count-timed value at the r11-open HEAD: 10.865).
            df.write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        timings[name] = runs
        per_query[name] = min(runs)

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
