"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads and metrics are listed in
``BENCHMARK.json`` and described in ``perfbench/README.md``. The last
line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics when
``--trace 0`` and the per-layer metrics when ``--trace 1``. The full
record of the run (seed, query list, every sample and layer figure) is
written under ``.perfbench_results/`` and its path printed above that
line.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def workload_module(name: str):
    if name == "query_short":
        from perfbench import query_workload

        return query_workload
    if name == "stream_ingest":
        from perfbench import stream_workload

        return stream_workload
    raise SystemExit(f"perfbench: unknown workload {name!r}")


def emit(run, spec: dict) -> None:
    """Print every metric by name and unit, then the result line.

    A traced run reports the layers its workload does not go through
    (the stream layers on a query workload and the query layers on a
    stream workload) as 0 and lists them in the record.
    """
    kind = "per_layer" if run.traced else "end_to_end"
    measured = run.record[kind]
    out = {}
    for m in spec[kind]:
        name = m["name"]
        if name not in measured and not run.traced:
            raise RuntimeError(f"metric {name} was not measured")
        value = float(measured.get(name, 0.0))
        out[name] = {"value": value, "unit": m["unit"]}
        print(f"{name:<24} {value:>14.6g} {m['unit']}")
    failed = len(run.failures)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": run.attempted,
                "failed": failed,
                "metrics": out,
            }
        )
    )


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "arkflow_spark")):
        print(
            f"perfbench: no arkflow_spark package in {ROOT}; run from the"
            " root of a checkout of the repository",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    # a terminated run still removes its directory (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    from perfbench import harness, procmon

    wl = workload_module(args.workload)
    spec = harness.load_spec()
    run = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        harness.build(run)
        ticks = procmon.cpu_ticks()
        wl.run(run)
        # other guests' load on the host moves every timing; kept for reading
        run.record["host_steal_share"] = procmon.steal_share(ticks, procmon.cpu_ticks())
        run.record["attempted"] = run.attempted
        run.record["failures"] = run.failures
        run.record["error_rate"] = len(run.failures) / run.attempted
        if run.traced:
            run.record["unexercised_layers"] = [
                m["name"]
                for m in spec["per_layer"]
                if m["name"] not in run.record["per_layer"]
            ]
        path = harness.save_record(run)
        print(f"seed {run.seed}")
        if "queries" in run.record:
            print("queries " + " ".join(run.record["queries"]))
        for f in run.failures:
            print(f"FAILED {f}")
        print(f"record {os.path.relpath(path, ROOT)}")
        emit(run, spec)
        return 0
    finally:
        run.cleanup()


if __name__ == "__main__":
    sys.exit(main())
