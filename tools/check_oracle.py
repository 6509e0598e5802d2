#!/usr/bin/env python
"""Local replica of the driver's correctness gate: run every registered
query on Spark AND its DuckDB oracle over the same parquet tables,
compare row count, column names, and order-insensitive values.
Each ``ok`` line carries a short sha256 of the normalized rows, so two
checkouts' logs can be diffed for "unchanged", not only "green".

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import sys

sys.path.insert(0, ".")


def normalize(rows: list[tuple]) -> list[tuple]:
    def norm_val(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return round(v, 6)
        return v

    return sorted(
        (tuple(norm_val(v) for v in r) for r in rows),
        key=lambda r: tuple((x is None, str(x)) for x in r),
    )


def digest(rows: list[tuple]) -> str:
    """Short sha256 of already-normalized rows."""
    return "sha256:" + hashlib.sha256(repr(rows).encode()).hexdigest()[:8]


def main() -> int:
    from mypipe_spark.plans.catalog import all_queries

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    unknown = only - set(all_queries())
    if unknown:  # a typo'd name would otherwise silently check nothing
        print(f"unknown queries: {sorted(unknown)}")
        return 2
    failures = run(sf_dir, only)
    print(f"\n{'ALL OK' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    return 1 if failures else 0


def run(sf_dir: str, only: set[str] | None = None) -> list[str]:
    """Run the driver-style comparison for every (or ``only``) query at
    ``sf_dir``; returns the failing query names. Reuses the process's
    SparkSession, so a caller can replay several scale factors in one
    JVM (tools/preflight.py)."""
    import duckdb

    from mypipe_spark.plans.catalog import TABLE_NAMES, all_queries
    from mypipe_spark.session import get_spark

    only = only or set()
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = []
    for name, qd in sorted(all_queries().items()):
        if only and name not in only:
            continue
        try:
            sdf = qd.fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        # columns are compared sorted by name
        sidx = [scols.index(c) for c in sorted(scols)]
        s_n = normalize([tuple(r[i] for i in sidx) for r in srows])
        if qd.oracle is None:
            print(f"ok    {name}: rows-only ({len(s_n)} rows, no oracle) {digest(s_n)}")
            continue
        try:
            res = con.execute(qd.oracle)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        if sorted(scols) != sorted(ocols):
            failures.append(name)
            print(f"FAIL  {name}: columns spark={scols} duckdb={ocols}")
            continue
        oidx = [ocols.index(c) for c in sorted(ocols)]
        o_n = normalize([tuple(r[i] for i in oidx) for r in orows])
        if len(s_n) != len(o_n):
            failures.append(name)
            print(f"FAIL  {name}: rowcount spark={len(s_n)} duckdb={len(o_n)}")
            continue
        if s_n != o_n:
            failures.append(name)
            bad = next(i for i, (a, b) in enumerate(zip(s_n, o_n)) if a != b)
            print(f"FAIL  {name}: value mismatch at sorted-row {bad}:")
            print(f"      spark : {s_n[bad]}")
            print(f"      duckdb: {o_n[bad]}")
            continue
        print(f"ok    {name}: {len(s_n)} rows match {digest(s_n)}")

    con.close()
    return failures


if __name__ == "__main__":
    raise SystemExit(main())
