"""Run scaffolding shared by the workloads: isolation, the one-time input
build, set-up timing, the result record and the tracing overhead.

Every run works in its own directory under ``<checkout>/.perfbench_runs``
holding the warehouse (``ARKFLOW_WAREHOUSE``), ``SPARK_LOCAL_DIRS``, the
JVM and Python temp dirs, checkpoints, sink output and the event log.
The directory is removed when the run ends, so index tables and shuffle
files never leak from one run into the next.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

from perfbench import cohort, datagen, oracles, procmon, stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_CACHE = os.path.join(ROOT, ".perfbench_data")
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
RESULTS_DIR = os.path.join(ROOT, ".perfbench_results")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def code_id() -> str:
    """A digest of the program and benchmark sources (every file under
    ``arkflow_spark/`` and ``perfbench/`` but documentation, and
    ``BENCHMARK.json``), so a stored record can be matched to the code
    that made it."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "BENCHMARK.json")]
    for top in ("arkflow_spark", "perfbench"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = [x for x in dirs if x != "__pycache__"]
            paths += [
                os.path.join(d, f) for f in files if not f.endswith((".pyc", ".md"))
            ]
    for path in sorted(paths):
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as fh:
            h.update(fh.read())
        h.update(b"\0")
    return h.hexdigest()[:16]


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class Run:
    """One benchmark run: its arguments, directories and measurements."""

    def __init__(self, workload: str, seed: int, seconds: int, traced: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.cores = cores()
        os.makedirs(RUNS_DIR, exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix=f"{workload}-", dir=RUNS_DIR)
        self.eventlog_dir = self.path("eventlog")
        self.record: dict = {
            "workload": workload,
            "seed": seed,
            "seconds": seconds,
            "trace": int(traced),
            "cores": self.cores,
            "code_id": code_id(),
        }
        self.failures: list[str] = []
        self.attempted = 0
        self.setup_origin: float | None = None

    def path(self, *parts: str) -> str:
        p = os.path.join(self.dir, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def isolate(self) -> None:
        """Point every writer of the program at this run's directory.
        Must run before pyspark starts its JVM."""
        for d in ("warehouse", "local", "tmp", "eventlog"):
            os.makedirs(self.path(d), exist_ok=True)
        os.environ["ARKFLOW_WAREHOUSE"] = self.path("warehouse")
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["TMPDIR"] = self.path("tmp")
        tempfile.tempdir = None  # re-read TMPDIR

    def spark_conf(self) -> dict[str, str]:
        conf = {
            # keep the JVM's temp files inside the run directory; its
            # perf-data file would go to /tmp whatever java.io.tmpdir says
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData"
            ),
        }
        if self.traced:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{self.eventlog_dir}",
                    "spark.eventLog.rolling.enabled": "false",
                    "spark.eventLog.compress": "false",
                }
            )
        return conf

    def eventlog_file(self) -> str:
        """The traced run's event log; complete once the session stopped."""
        (name,) = os.listdir(self.eventlog_dir)
        return os.path.join(self.eventlog_dir, name)

    def data_dir(self) -> str:
        return datagen.ensure(DATA_CACHE)

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def cleanup(self) -> None:
        stop_session()
        shutil.rmtree(self.dir, ignore_errors=True)


def stop_session() -> None:
    """Stop the Spark session, if one runs, and wait for its JVM to exit.

    ``SparkSession.stop`` leaves the JVM that pyspark launched running
    until this process exits; the JVM quits when its stdin closes.
    """
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def build(run: Run) -> None:
    """Make the inputs on the first run in a checkout: the tables, and
    the DuckDB answers of every query of ``query_short``.
    Later runs find them in ``.perfbench_data``; an oracle whose SQL
    changed is answered again when a run checks it (see
    :func:`oracles.ensure`)."""
    sf = datagen.ensure(DATA_CACHE)
    if not os.path.exists(os.path.join(sf, oracles.CACHE_FILE)):
        from arkflow_spark.queries import ORACLE

        oracles.ensure(sf, cohort.short_set(), ORACLE)
        run.setup_origin = time.time()  # the build is not set-up time


def timed_setup(run: Run, prepare, warmup) -> tuple[object, dict]:
    """Process start -> program imported -> session up -> warm-up done.

    Returns the session and the phase times; ``setup_s`` counts from the
    moment the kernel started this process, or from the end of the
    input build on the run that made the inputs.
    """
    t_proc = run.setup_origin or procmon.process_start_epoch()
    run.isolate()
    prepare(run)
    from arkflow_spark.session import get_spark

    t0 = time.time()
    spark = get_spark(f"perfbench-{run.workload}", extra_conf=run.spark_conf())
    t1 = time.time()
    warmup(spark, run)
    t2 = time.time()
    return spark, {
        "setup_s": t2 - t_proc,
        "start_s": t1 - t0,
        "warmup_s": t2 - t1,
    }


def common_layers(run: Run, layers: dict, setup: dict, e2e: dict) -> dict:
    """Add the layer figures every workload reports to ``layers``."""
    layers = dict(layers)
    layers["session.start_s"] = setup["start_s"]
    layers["session.warmup_s"] = setup["warmup_s"]
    layers["process.peak_rss_mb"] = run.record["peak_rss_mb"]
    layers["error_rate"] = len(run.failures) / run.attempted
    layers["trace.overhead_share"] = trace_overhead(run, e2e)
    return layers


# The end-to-end figure the tracing overhead is measured on.
OVERHEAD_METRIC = "latency_ms"


def trace_overhead(run: Run, e2e: dict) -> float:
    """Traced minus untraced ``OVERHEAD_METRIC``, as a share of the
    untraced median over the stored untraced runs of the same code,
    workload, ``--seconds`` and core count. With none stored yet, one
    untraced run of this seed is made first."""
    base = untraced_history(run.record, OVERHEAD_METRIC)
    if not base:
        run_untraced_child(run)
        base = untraced_history(run.record, OVERHEAD_METRIC)
    ref = stats.median(base)
    return (e2e[OVERHEAD_METRIC] - ref) / ref


def save_record(run: Run) -> str:
    os.makedirs(RESULTS_DIR, exist_ok=True)
    name = (
        f"{run.workload}-seed{run.seed}-trace{int(run.traced)}-"
        f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json"
    )
    path = os.path.join(RESULTS_DIR, name)
    with open(path, "w") as fh:
        json.dump(run.record, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return path


# Record fields an untraced reference run must share with the traced run.
# The seed is not one: it changes only the stream's grouping key, not
# the work a run does.
SAME_RUN = ("workload", "seconds", "cores", "code_id")


def untraced_history(record: dict, metric: str) -> list[float]:
    """``metric`` from every stored untraced run that matches ``record``
    on SAME_RUN: the same code, workload, length and core count."""
    values = []
    if not os.path.isdir(RESULTS_DIR):
        return values
    for name in sorted(os.listdir(RESULTS_DIR)):
        if name.startswith(f"{record['workload']}-seed") and "-trace0-" in name:
            with open(os.path.join(RESULTS_DIR, name)) as fh:
                other = json.load(fh)
            if all(other.get(k) == record[k] for k in SAME_RUN):
                values.append(other["end_to_end"][metric])
    return values


def run_untraced_child(run: Run) -> None:
    """Run the same workload and seed untraced in a child process, which
    stores its record for :func:`untraced_history`."""
    cmd = [
        sys.executable,
        os.path.join(HERE, "run.py"),
        "--workload", run.workload,
        "--seed", str(run.seed),
        "--seconds", str(run.seconds),
        "--trace", "0",
    ]
    res = subprocess.run(
        cmd, cwd=ROOT, capture_output=True, text=True, timeout=175
    )
    if res.returncode != 0:
        raise RuntimeError(f"untraced reference run failed: {res.stderr[-2000:]}")
