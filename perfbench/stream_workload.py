"""``stream_ingest``: an open loop through the YAML stream engine.

The pipeline is built by ``Engine.from_file(...).start_all``:

    generate (Spark's rate source, 50k rows/s of a ~1 KB JSON payload)
      -> json_to_arrow (pinned schema)
      -> sql (GROUP BY a key derived from the seed)
      -> file sink (parquet), with checkpointing

The rate source stamps each row with its scheduled send time, so the
load does not slow down when the engine does. A batch's latency is the
time its sink write returned minus the send time of the newest row it
carried. The SQL step keeps, per group, the newest send time and the
highest source offset, so both can be read back from the sink's output
and matched to the batches ``StreamingQueryProgress`` reports.

The traced run adds timers around each processor's ``process()`` call,
the event log (jobs, tasks and shuffle per batch) and a prefix ablation
after the stream has stopped.
"""

from __future__ import annotations

import json
import os
import time
from datetime import datetime

from perfbench import eventlog, harness, procmon, stats

RATE = 50_000  # rows per second offered
# Batches run before the measured window opens. Batch time falls for
# about the first 20 batches (code generation, JIT) and is flat after.
WARMUP_BATCHES = 20
PAYLOAD = json.dumps(
    {
        "timestamp": 1625000000000,
        "sensor": "temp_1",
        "value": 10.5,
        "blob": "x" * 900,
    }
)
SCHEMA = "timestamp bigint, sensor string, value double, blob string"
ABLATION_REPEATS = 5

PIPELINE = """\
streams:
  - name: ingest
    input:
      type: generate
      context: '{payload}'
      interval: 1s
      batch_size: {rate}
    pipeline:
      processors:
        - type: json_to_arrow
          schema: "{schema}"
        - type: sql
          query: >
            SELECT pmod(xxhash64(__meta_offset, {salt}), {keys}) AS k,
                   COUNT(*) AS n, SUM(value) AS sv,
                   MAX(__meta_timestamp) AS newest_ts,
                   MAX(__meta_offset) AS max_offset
            FROM flow GROUP BY 1
    output:
      type: file
      format: parquet
      path: {out}
    error_output:
      type: drop
"""


def pipeline_yaml(seed: int, out: str) -> str:
    return PIPELINE.format(
        payload=PAYLOAD,
        rate=RATE,
        schema=SCHEMA,
        salt=seed,
        keys=64 + seed % 193,
        out=out,
    )


def prepare(run) -> None:
    import arkflow_spark.engine  # noqa: F401  (part of set-up)


def warmup(spark, run) -> None:
    spark.range(100_000).selectExpr("pmod(id, 7) AS k").groupBy("k").count().collect()


class Probes:
    """Timers installed on the stream's components from outside."""

    def __init__(self, stream, traced: bool):
        self.writes: dict[int, tuple[float, float]] = {}  # epoch -> start, end
        self.dead_letters: list[int] = []
        self.transform_s: dict[int, float] = {}
        self._pending = 0.0
        write, dead_letter = stream.output.write_batch, stream.error_output.write_batch

        def timed_write(df, epoch_id=0):
            t0 = time.time()
            write(df, epoch_id)
            self.writes[epoch_id] = (t0, time.time())
            self.transform_s[epoch_id] = self._pending
            self._pending = 0.0

        def counted_dead_letter(df, epoch_id=0):
            self.dead_letters.append(epoch_id)
            dead_letter(df, epoch_id)

        stream.output.write_batch = timed_write
        stream.error_output.write_batch = counted_dead_letter
        if traced:
            for p in stream.processors:
                p.process = self._timed(p.process)

    def _timed(self, fn):
        def process(spark, df):
            t0 = time.perf_counter()
            try:
                return fn(spark, df)
            finally:
                self._pending += time.perf_counter() - t0

        return process


def read_output(spark, out: str) -> list[tuple]:
    if not os.path.isdir(out):
        return []
    return [
        tuple(r)
        for r in spark.read.parquet(out)
        .selectExpr("n", "sv", "unix_micros(newest_ts)", "max_offset")
        .collect()
    ]


def attribute(progress: list[dict], rows: list[tuple]) -> dict[int, dict]:
    """Match output rows to completed batches by source offset.

    A batch that read source seconds [start, end) holds the rows whose
    offset lies in [start * RATE, end * RATE). Returns, per batch id, the
    row count found in the output and the newest send time (epoch
    seconds). Rows of a batch that was cut short by the stop fall
    outside every range and are ignored.
    """
    spans = []
    for p in progress:
        src = p["sources"][0]
        start = int(src["startOffset"] or 0) * RATE
        spans.append((start, int(src["endOffset"]) * RATE, p["batchId"]))
    out = {b: {"rows": 0, "newest": None} for _, _, b in spans}
    for n, sv, newest_us, max_offset in rows:
        for lo, hi, b in spans:
            if lo <= max_offset < hi:
                out[b]["rows"] += n
                t = newest_us / 1e6
                if out[b]["newest"] is None or t > out[b]["newest"]:
                    out[b]["newest"] = t
                break
    return out


def latencies_ms(measured, writes, found) -> list[float]:
    """Per batch: when its sink write returned minus the send time of
    the newest row it carried, in ms. A batch with no rows in the sink
    output has no send time; :func:`check_batches` counts it as failed,
    and it is left out here."""
    return [
        (writes[p["batchId"]][1] - found[p["batchId"]]["newest"]) * 1000.0
        for p in measured
        if found[p["batchId"]]["newest"] is not None
    ]


def backlog_s(p: dict) -> float:
    """Seconds of input waiting when the batch was planned: the newest
    offset the source had (``latestOffset``) minus the newest one already
    processed, which is where this batch starts. The rate source's
    offsets count seconds, and it has no read limit, so ``endOffset``
    always equals ``latestOffset``; a batch that keeps up reads 1 s."""
    src = p["sources"][0]
    return float(int(src["latestOffset"]) - int(src["startOffset"] or 0))


def check_batches(run, progress, found, rows) -> None:
    for p in progress:
        b = p["batchId"]
        if found[b]["rows"] != p["numInputRows"]:
            run.fail(
                f"batch {b}: {found[b]['rows']} rows in the sink output,"
                f" {p['numInputRows']} read"
            )
    for n, sv, _, _ in rows:
        if abs(sv - 10.5 * n) > 1e-6 * max(1, n):
            run.fail(f"a group of {n} rows sums to {sv}")
            break


def ablation(spark, stream) -> dict[str, float]:
    """Prefix ablation: one RATE-row batch shaped like the source's,
    run through processors[:k] and written to the ``drop`` sink, for
    each k; the median of ABLATION_REPEATS runs, in ms."""
    from pyspark.sql import functions as F

    from arkflow_spark import registry
    from arkflow_spark.registry import OUTPUTS

    registry.load_all()
    drop = OUTPUTS.build({"type": "drop"})
    batch = spark.range(0, RATE, 1, spark.sparkContext.defaultParallelism).select(
        F.lit(PAYLOAD.encode()).alias("__value__"),
        F.current_timestamp().alias("__meta_timestamp"),
        F.col("id").alias("__meta_offset"),
        F.lit("generate").alias("__meta_source"),
    )
    out = {}
    stages = [("input", [])] + [
        (type_name, stream.processors[: k + 1])
        for k, type_name in enumerate(p["type"] for p in stream.conf.processors)
    ]
    for k, (type_name, prefix) in enumerate(stages):
        times = []
        for _ in range(ABLATION_REPEATS):
            t0 = time.perf_counter()
            df = batch
            for p in prefix:
                df = p.process(spark, df)
            drop.write_batch(df)
            times.append((time.perf_counter() - t0) * 1000.0)
        out[f"op.{k}.{type_name}.ms"] = stats.median(times)
    return out


def layer_metrics(run, measured, probes, out_dir) -> dict:
    jobs = eventlog.parse(eventlog.read_events(run.eventlog_file()))
    windows = {
        p["batchId"]: (p["_start_ms"], p["_start_ms"] + p["batchDuration"])
        for p in measured
    }
    per_batch = eventlog.by_window(jobs, windows)
    total = eventlog.Work()
    for w in per_batch.values():
        total.add(w)
    n = len(measured)
    busy_s = sum(p["batchDuration"] for p in measured) / 1000.0
    d = [p["durationMs"] for p in measured]
    files = [f for f in os.listdir(out_dir) if f.endswith(".parquet")]
    size = sum(os.path.getsize(os.path.join(out_dir, f)) for f in files)
    batches = len(probes.writes)
    return {
        "spark.jobs_per_query": total.jobs / n,
        "spark.stages_per_query": total.stages / n,
        "spark.tasks_per_query": total.tasks / n,
        "spark.idle_share": 1.0 - total.run_ms / 1000.0 / (busy_s * run.cores),
        "tasks.run_s": total.run_ms / 1000.0 / n,
        "tasks.cpu_s": total.cpu_ms / 1000.0 / n,
        "tasks.gc_s": total.gc_ms / 1000.0 / n,
        "shuffle.write_mb": total.shuffle_write_b / 1e6 / n,
        "shuffle.read_mb": total.shuffle_read_b / 1e6 / n,
        "shuffle.spill_mb": total.spill_b / 1e6 / n,
        "source.offset_ms": stats.median(
            x.get("latestOffset", 0) + x.get("getBatch", 0) for x in d
        ),
        "source.lag_s": sum(backlog_s(p) for p in measured) / n,
        "engine.plan_ms": stats.median(x.get("queryPlanning", 0) for x in d),
        "engine.transform_ms": stats.median(
            probes.transform_s[p["batchId"]] * 1000.0 for p in measured
        ),
        "engine.jobs_per_batch": stats.median(w.jobs for w in per_batch.values()),
        "sink.write_ms": stats.median(
            (probes.writes[p["batchId"]][1] - probes.writes[p["batchId"]][0]) * 1000.0
            for p in measured
        ),
        "sink.files": len(files) / batches,
        "sink.mb": size / 1e6 / batches,
        "checkpoint.commit_ms": stats.median(
            x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d
        ),
    }


def wait_for_batch(query, batch_id: int, timeout_s: float = 30.0) -> None:
    """Block until batch ``batch_id`` has committed or the query ended."""
    deadline = time.time() + timeout_s
    while query.isActive and time.time() < deadline:
        last = query.lastProgress
        if last is not None and last.batchId >= batch_id:
            return
        time.sleep(0.02)


def _start_ms(p: dict) -> float:
    ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
    return ts.timestamp() * 1000.0


def run(run) -> None:
    from arkflow_spark.engine import Engine

    out_dir = run.path("out")
    cfg = run.path("pipeline.yaml")
    with open(cfg, "w") as fh:
        fh.write(pipeline_yaml(run.seed, out_dir))
    with procmon.PeakRss() as rss:
        spark, setup = harness.timed_setup(run, prepare, warmup)
        engine = Engine.from_file(spark, cfg)
        (stream,) = engine.streams
        probes = Probes(stream, run.traced)
        (query,) = engine.start_all(run.path("checkpoint"))
        try:
            wait_for_batch(query, WARMUP_BATCHES - 1)
            window_start = time.time()
            time.sleep(run.seconds)
            window_end = time.time()
            # stop in the idle gap after a batch commits, not inside one
            last = query.lastProgress
            wait_for_batch(query, (last.batchId if last else -1) + 1)
        finally:
            query.stop()
        error = query.exception()
        progress = [json.loads(p.json) for p in query.recentProgress]
        rows = read_output(spark, out_dir)
        found = attribute(progress, rows)
        for p in progress:
            p["_start_ms"] = _start_ms(p)
        layers = ablation(spark, stream) if run.traced else {}
        harness.stop_session()

    run.attempted = max(1, len(progress))
    if error is not None:
        run.fail(f"stream stopped with {error}")
    for epoch in probes.dead_letters:
        run.fail(f"batch {epoch} dead-lettered")
    check_batches(run, progress, found, rows)
    measured = [
        p
        for p in progress
        if p["batchId"] >= WARMUP_BATCHES
        and window_start * 1000.0 <= p["_start_ms"] < window_end * 1000.0
        and p["batchId"] in probes.writes
    ]
    for p in measured:
        if p["numInputRows"] > 2 * RATE:
            run.fail(f"batch {p['batchId']}: backlog, {p['numInputRows']} rows")
    lat = latencies_ms(measured, probes.writes, found)
    if len(lat) < 2:
        raise RuntimeError(f"only {len(lat)} usable batches in the measured window")
    cold_batches = [p for p in progress if p["batchId"] < WARMUP_BATCHES]
    cold_busy_s = sum(p["batchDuration"] for p in cold_batches) / 1000.0
    cold_rows = sum(p["numInputRows"] for p in cold_batches)
    e2e = {
        "setup_s": setup["setup_s"],
        # busy time of the first WARMUP_BATCHES batches, the engine's cold
        # start (planning, code generation, JIT), per WARMUP_BATCHES seconds
        # of input. Per row, because the first batches read 50k-150k rows,
        # more the slower the start was, and so amplified a slow host.
        "cold_s": cold_busy_s / cold_rows * (WARMUP_BATCHES * RATE),
        "latency_ms": stats.median(lat),
        # per batch, rows over busy time; the median, like the latency,
        # so that a few batches slowed by the host do not move it
        "throughput_per_s": stats.median(
            p["numInputRows"] / (p["batchDuration"] / 1000.0) for p in measured
        ),
    }
    run.record.update(
        {
            "rate_rows_per_s": RATE,
            "pipeline": pipeline_yaml(run.seed, "<out>"),
            "end_to_end": e2e,
            "setup": setup,
            "peak_rss_mb": rss.peak_mb,
            "batches": len(progress),
            "measured_batches": [p["batchId"] for p in measured],
            "latency_ms": lat,
            "latency_tail_ms": stats.tail(lat),
            "progress": [
                {k: p[k] for k in ("batchId", "numInputRows", "batchDuration", "durationMs")}
                for p in progress
            ],
        }
    )
    if run.traced:
        layers.update(layer_metrics(run, measured, probes, out_dir))
        run.record["per_layer"] = harness.common_layers(run, layers, setup, e2e)
