"""Run every registered query against its DuckDB oracle and report.

Usage: python scripts/check_parity.py [--driver-strict] [sf_dir] [name_filter...]

--driver-strict fetches the DuckDB side through Arrow and hashes
decimals type-sensitively, reproducing the driver's comparison (which
red-flagged 6 locally-green queries in round 3 whose oracles surfaced
HUGEINT). Run strict before every submission.
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

from arkflow_spark.plans.oracle import compare
from arkflow_spark.queries import ORACLE, QUERIES
from arkflow_spark.session import get_spark


def main() -> int:
    argv = sys.argv[1:]
    strict = "--driver-strict" in argv
    argv = [a for a in argv if a != "--driver-strict"]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    filters = argv[1:]
    spark = get_spark("parity-check")
    failures = checked = 0
    for name, fn in sorted(QUERIES.items()):
        if filters and not any(f in name for f in filters):
            continue
        checked += 1
        # r5 ADVICE: many queries persist intermediates and hand the
        # DataFrame to the caller — over a 539-query sweep the cached
        # blocks accumulate unbounded. Steady-state storage per query,
        # not per session; disk-backed index tables survive by design.
        spark.catalog.clearCache()
        t0 = time.time()
        if name not in ORACLE:
            try:
                n = fn(spark, sf_dir).count()
                print(f"[ROWS] {name}: {n} rows ({time.time()-t0:.1f}s, no oracle)")
            except Exception as e:
                failures += 1
                print(f"[FAIL] {name}: EXC {type(e).__name__}: {str(e)[:300]}")
            continue
        try:
            res = compare(name, spark, sf_dir, fn, ORACLE[name], strict=strict)
            print(f"{res} ({time.time()-t0:.1f}s)")
            failures += 0 if res.ok else 1
        except Exception as e:
            failures += 1
            print(f"[FAIL] {name}: EXC {type(e).__name__}: {str(e)[:300]}")
    print(f"\n{failures} failures / {checked} queries")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
