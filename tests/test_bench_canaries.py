"""Smoke pins for bench.py: its host-speed canary and one full run.

The compute canaries qualify every BENCH_r{N}.json reading and run
bare, so a probe regression would kill the bench. These pins run the
probe and the whole harness at toy size so such a regression fails in
the suite, not only in the once-per-round bench run."""

from __future__ import annotations

import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

import bench  # noqa: E402


def test_compute_canary_runs_single_partition(spark, monkeypatch):
    """The compute probe at reduced work: one task, one short fold."""
    monkeypatch.setattr(bench, "_CANARY_ROWS_PER_TASK", 1_000_000)
    ms = bench._canary_ms(spark, 1, repeats=1)
    assert ms > 0


def test_bench_main_prints_one_headline_json_line(
    spark, sf_dir, monkeypatch, capsys
):
    """bench.main() end to end at sf0.001, one repeat, shrunk canaries:
    rc 0 and ONE JSON line carrying every headline query and a
    positive value. Its field set is pinned exactly — the headline,
    its adjudicability fields and the compute canaries — so a removed
    leg cannot come back, and a new field is a deliberate edit here."""
    from mypipe_spark.plans.catalog import all_queries

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setenv("BENCH_REPEAT", "1")
    monkeypatch.setattr(bench, "_CANARY_ROWS_PER_TASK", 1_000_000)
    assert bench.main() == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 1
    out = json.loads(lines[0])
    bench_set = {n for n, qd in all_queries().items() if qd.bench}
    assert set(out["queries"]) == bench_set
    assert out["value"] > 0
    assert set(out) == {
        "metric", "value", "unit", "queries", "sf", "value_median",
        "timings", "repeat", "loadavg_start", "loadavg_end",
        "load_flagged", "canary_ms", "canary_parallel_ms",
        "canary_end_ms", "canary_ref_ms", "canary_parallel_ref_ms",
        "canary_ratio", "canary_parallel_ratio", "canary_flagged",
    }
