"""Measure the cost of every query in the pool ``query_short``'s set is
drawn from, as that workload runs it, and print the table
``cohort.LOCAL4_COST`` holds.

    python3 perfbench/measure_costs.py [--chunk 30] [--passes 3]

Run from the root of a checkout. The pool is shuffled and cut into
chunks; each chunk runs in a fresh process and session the way a
``query_short`` run does: one cold pass, then ``--passes`` warm passes,
with ``spark.catalog.clearCache()`` before every query. A query's cost
is (its cold run, its fastest warm run), in seconds. Takes about 20
minutes on 4 cores.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def measure(names: list[str], passes: int) -> dict[str, tuple[float, float]]:
    """(cold s, best warm s) per query, in this process's own session."""
    from perfbench import harness, query_workload

    run = harness.Run("costs", 0, 0, traced=False)
    try:
        spark, _ = harness.timed_setup(
            run, query_workload.prepare, query_workload.warmup
        )
        from arkflow_spark.queries import QUERIES

        samples = [
            query_workload.timed_query(spark, run, QUERIES, n, p)
            for p in range(passes + 1)
            for n in names
        ]
    finally:
        run.cleanup()
    if run.failures:
        raise RuntimeError(f"query runs failed: {run.failures}")
    cold = {s["name"]: s["wall_s"] for s in samples if s["pass"] == 0}
    best = query_workload.best_warm_s([s for s in samples if s["pass"] > 0])
    return {n: (cold[n], best[n]) for n in names}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--chunk", type=int, default=30)
    p.add_argument("--passes", type=int, default=3)
    p.add_argument("--names", help="measure these comma-separated queries here")
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    if args.names:
        print(json.dumps(measure(args.names.split(","), args.passes)))
        return 0

    from perfbench import cohort

    pool = cohort.pool()
    random.Random(0).shuffle(pool)
    costs = {}
    for i in range(0, len(pool), args.chunk):
        res = subprocess.run(
            [
                sys.executable, __file__,
                "--passes", str(args.passes),
                "--names", ",".join(pool[i : i + args.chunk]),
            ],
            cwd=ROOT, capture_output=True, text=True, check=True,
        )
        costs.update(json.loads(res.stdout.strip().splitlines()[-1]))
        print(f"# {len(costs)}/{len(pool)} measured", file=sys.stderr, flush=True)
    for name in sorted(costs):
        cold, warm = costs[name]
        print(f'    "{name}": ({cold:.3f}, {warm:.3f}),')
    return 0


if __name__ == "__main__":
    sys.exit(main())
