"""``query_short``: a closed loop over the sub-second headline queries.

One client runs the fixed query set (``cohort.short_set``) through one
cold pass and then warm passes, calling each registered query and
collecting its result, with ``spark.catalog.clearCache()`` before every
run as ``bench.py`` does. Results are checked against the DuckDB oracle
after the timed region.

The traced run adds, per query run: a job group around plan building and
around the collect (event log), Catalyst phase times of the final plan,
and counters around the two index entry points of
``arkflow_spark.functions.indexes``.
"""

from __future__ import annotations

import time

from perfbench import cohort, eventlog, harness, oracles, procmon, stats

# Warm passes per run: one per this many seconds of --seconds, at least
# two. The count is fixed by the argument, not by how fast passes go, so
# every run does the same work and the JVM reaches the same point of its
# warm-up; a faster program shows as less time, not as more passes.
SECONDS_PER_PASS = 3
MIN_WARM_PASSES = 2
PHASES = ("analysis", "optimization", "planning")


class IndexCounters:
    """Wraps ``materialize_bucketed`` and ``bucketed_fresh`` in the
    indexes module. Must be installed before the query modules import
    them by name."""

    def __init__(self):
        self.builds = 0
        self.build_s = 0.0
        self.lookups = 0
        self.hits = 0

    def install(self) -> None:
        from arkflow_spark.functions import indexes

        build, fresh = indexes.materialize_bucketed, indexes.bucketed_fresh

        def materialize_bucketed(*a, **kw):
            t0 = time.perf_counter()
            try:
                return build(*a, **kw)
            finally:
                self.builds += 1
                self.build_s += time.perf_counter() - t0

        def bucketed_fresh(*a, **kw):
            hit = fresh(*a, **kw)
            self.lookups += 1
            self.hits += bool(hit)
            return hit

        indexes.materialize_bucketed = materialize_bucketed
        indexes.bucketed_fresh = bucketed_fresh


def prepare(run) -> None:
    if run.traced:
        run.index = IndexCounters()
        run.index.install()
    from arkflow_spark.queries import ORACLE, QUERIES

    missing = cohort.missing(QUERIES, ORACLE)
    if missing:
        raise SystemExit(
            "perfbench: cohort queries missing from the registry or its"
            f" oracles: {missing}"
        )
    run.sf_dir = run.data_dir()


def warmup(spark, run) -> None:
    from arkflow_spark.tables import load

    load(spark, run.sf_dir, "lineitem").groupBy("l_returnflag").count().collect()


def catalyst_phases(df) -> dict[str, float]:
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in PHASES:
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


def timed_query(spark, run, queries, name: str, pass_no: int) -> dict:
    """One cold or warm run of one query; returns its sample."""
    sc = spark.sparkContext
    group = f"{pass_no}|{name}"
    spark.catalog.clearCache()
    if run.traced:
        sc.setJobGroup(f"{group}|build", name)
    try:
        t0 = time.perf_counter()
        df = queries[name](spark, run.sf_dir)
        t1 = time.perf_counter()
        if run.traced:
            sc.setJobGroup(f"{group}|collect", name)
        rows = df.collect()
        t2 = time.perf_counter()
    except Exception as e:  # the run goes on; the failure is counted
        run.fail(f"{name} pass {pass_no}: {type(e).__name__}: {str(e)[:300]}")
        return {"name": name, "pass": pass_no, "error": True}
    finally:
        if run.traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
    sample = {
        "name": name,
        "pass": pass_no,
        "build_s": t1 - t0,
        "collect_s": t2 - t1,
        "wall_s": t2 - t0,
        "rows": len(rows),
        "cols": list(df.columns),
        "result": [tuple(r) for r in rows],
    }
    if run.traced:
        sample["catalyst"] = catalyst_phases(df)
    return sample


def check_oracles(run, samples: list[dict]) -> None:
    """Compare every timed result with its DuckDB oracle answer."""
    from arkflow_spark.queries import ORACLE

    ok = [s for s in samples if not s.get("error")]
    expected = oracles.ensure(run.sf_dir, sorted({s["name"] for s in ok}), ORACLE)
    for s in ok:
        if not oracles.matches(expected[s["name"]], s["cols"], s["result"]):
            run.fail(f"oracle mismatch: {s['name']} pass {s['pass']}")


def best_warm_s(warm: list[dict]) -> dict[str, float]:
    """Each query's fastest warm run, in seconds."""
    best: dict[str, float] = {}
    for s in warm:
        best[s["name"]] = min(s["wall_s"], best.get(s["name"], s["wall_s"]))
    return best


def layer_metrics(run, warm: list[dict]) -> dict:
    """Per-layer figures from the traced run, per warm query run."""
    jobs = eventlog.parse(eventlog.read_events(run.eventlog_file()))
    groups = eventlog.by_group(jobs)
    n = len(warm)
    total = eventlog.Work()
    build_jobs = 0
    for s in warm:
        g = f"{s['pass']}|{s['name']}"
        build = groups.get(f"{g}|build", eventlog.Work())
        build_jobs += build.jobs
        total.add(build)
        total.add(groups.get(f"{g}|collect", eventlog.Work()))
    wall = sum(s["wall_s"] for s in warm)
    build_s = sum(s["build_s"] for s in warm)
    passes = {s["pass"] for s in warm}
    ix = run.index
    out = {
        "queries.build_s": build_s / n,
        "queries.build_jobs": build_jobs / n,
        "queries.build_share": build_s / wall,
        "spark.jobs_per_query": total.jobs / n,
        "spark.stages_per_query": total.stages / n,
        "spark.tasks_per_query": total.tasks / n,
        "spark.idle_share": 1.0 - total.run_ms / 1000.0 / (wall * run.cores),
        "tasks.run_s": total.run_ms / 1000.0 / n,
        "tasks.cpu_s": total.cpu_ms / 1000.0 / n,
        "tasks.gc_s": total.gc_ms / 1000.0 / n,
        "shuffle.write_mb": total.shuffle_write_b / 1e6 / n,
        "shuffle.read_mb": total.shuffle_read_b / 1e6 / n,
        "shuffle.spill_mb": total.spill_b / 1e6 / n,
        "indexes.builds": ix.builds,
        "indexes.build_s": ix.build_s,
        "indexes.hits": ix.hits,
        "indexes.hit_ratio": ix.hits / ix.lookups if ix.lookups else 0.0,
        "collect.rows": sum(s["rows"] for s in warm) / len(passes),
    }
    for phase in PHASES:
        out[f"catalyst.{phase}_s"] = sum(s["catalyst"][phase] for s in warm) / n
    return out


def run(run) -> None:
    names = cohort.short_set()
    run.record["queries"] = names
    with procmon.PeakRss() as rss:
        spark, setup = harness.timed_setup(run, prepare, warmup)
        from arkflow_spark.queries import QUERIES

        samples = [timed_query(spark, run, QUERIES, n, 0) for n in names]
        passes = max(MIN_WARM_PASSES, run.seconds // SECONDS_PER_PASS)
        for pass_no in range(1, passes + 1):
            samples += [timed_query(spark, run, QUERIES, n, pass_no) for n in names]
        harness.stop_session()
    run.attempted = len(samples)
    check_oracles(run, samples)

    ok = [s for s in samples if not s.get("error")]
    cold = [s for s in ok if s["pass"] == 0]
    warm = [s for s in ok if s["pass"] > 0]
    if not warm or len(cold) < len(names):
        raise RuntimeError("too many failed query runs to report metrics")
    pass_totals = [
        sum(s["wall_s"] for s in warm if s["pass"] == p)
        for p in range(1, passes + 1)
    ]
    lat = [s["wall_s"] * 1000.0 for s in warm]
    best = best_warm_s(warm)
    if len(best) < len(names):
        raise RuntimeError("a query failed in every warm pass")
    # The mean over the set of each query's best warm time, rather than
    # the median of single runs, which falls between two queries. The
    # best of the warm passes is the one least slowed by the host, and
    # the one after most JIT warm-up.
    best_total = sum(best.values())
    e2e = {
        "setup_s": setup["setup_s"],
        "cold_s": sum(s["wall_s"] for s in cold),
        "latency_ms": best_total / len(names) * 1000.0,
        "throughput_per_s": len(names) / best_total,
    }
    run.record.update(
        {
            "end_to_end": e2e,
            "setup": setup,
            "peak_rss_mb": rss.peak_mb,
            "warm_samples": len(lat),
            "latency_p50_ms": stats.median(lat),
            "latency_tail_ms": stats.tail(lat),
            "pass_totals_s": pass_totals,
            "samples": [
                {k: v for k, v in s.items() if k not in ("result", "cols")}
                for s in samples
            ],
        }
    )
    if run.traced:
        layers = layer_metrics(run, warm)
        run.record["per_layer"] = harness.common_layers(run, layers, setup, e2e)
