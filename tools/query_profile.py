#!/usr/bin/env python
"""Time catalog queries the way bench.py's headline does, one JSON line
each, to rank where the catalog's cost sits.

Every run is bench.py's ``time_query``: construction plus a noop-sink
write. After a warm-up on ``dedup_exact``, each query runs ``--repeat``
times.

Usage:
    python tools/query_profile.py [--bench-only] [--repeat N] [--sf-dir DIR]
                                  [name ...]

With no names it times the whole catalog (``--bench-only``: the
headline set). Prints one line per query:
    {"name": ..., "noop_s": [...]}            (or "noop_err": ...)
and a final summary line ranked by the fastest run, slowest first.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import time_query  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--bench-only", action="store_true")
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    from mypipe_spark.plans.catalog import all_queries
    from mypipe_spark.session import get_spark

    spark = get_spark("query-profile")
    spark.sparkContext.setLogLevel("ERROR")

    qs = all_queries()
    unknown = sorted(set(args.names) - set(qs))
    if unknown:
        print(f"unknown: {unknown}", file=sys.stderr)
        return 2
    if args.names:
        names = sorted(args.names)
    elif args.bench_only:
        names = sorted(n for n, qd in qs.items() if qd.bench)
    else:
        names = sorted(qs)

    time_query(spark, qs["dedup_exact"].fn, args.sf_dir, 1)  # warm-up

    best: dict[str, float] = {}
    for name in names:
        rec: dict[str, object] = {"name": name}
        try:
            rec["noop_s"] = time_query(spark, qs[name].fn, args.sf_dir, args.repeat)
            best[name] = min(rec["noop_s"])
        except Exception as exc:  # noqa: BLE001 - report and continue
            rec["noop_err"] = repr(exc)[:200]
        print(json.dumps(rec), flush=True)

    ranked = sorted(best, key=best.get, reverse=True)
    print(json.dumps({
        "sf_dir": args.sf_dir,
        "total_noop_best": round(sum(best.values()), 3),
        "slowest": [{"name": n, "noop": best[n]} for n in ranked[:25]],
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
