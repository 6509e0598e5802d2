#!/usr/bin/env python
"""Dump ``.explain("formatted")`` for catalog queries to files.

Writes ``<out-dir>/<query>_<tag>.txt`` (default out-dir:
``mypipe_spark_plans`` under the system temp directory, so a run never
dirties the checkout) to audit plan-shape claims (Exchange counts,
join strategies, PushedFilters/ReadSchema) without re-running Spark.
Plans are captured with COLD dedup-plane caches (same discipline as
tools/plan_budget.py) so the shape is the real uncached pipeline, not
a cache-substituted one.

Usage:
    python tools/dump_plans.py --tag before [--sf-dir DIR] [name ...]
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--tag", required=True)
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument(
        "--out-dir", default=os.path.join(tempfile.gettempdir(), "mypipe_spark_plans")
    )
    ap.add_argument("--bench-only", action="store_true")
    args = ap.parse_args()

    from plan_budget import evict_plan_caches  # noqa: E402 (tools/ sibling)

    from mypipe_spark.plans.catalog import all_queries
    from mypipe_spark.session import get_spark

    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    if args.names:
        names = args.names
    elif args.bench_only:
        names = [n for n, qd in qs.items() if qd.bench]
    else:
        names = list(qs)

    os.makedirs(args.out_dir, exist_ok=True)
    for name in sorted(names):
        if name not in qs:
            print(f"unknown query: {name}", file=sys.stderr)
            return 2
        evict_plan_caches()
        df = qs[name].fn(spark, args.sf_dir)
        # same private-but-stable accessor tools/plan_budget.py uses
        jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = df._jdf.queryExecution().explainString(jmode)
        path = os.path.join(args.out_dir, f"{name}_{args.tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"-- {name} @ {args.sf_dir} ({args.tag})\n")
            fh.write(plan)
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
