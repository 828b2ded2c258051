"""Structured Streaming tests: real streaming queries driven to completion
with processAllAvailable (file-stream sources for determinism)."""

from __future__ import annotations

import copy
import hashlib
import json
import textwrap

import pandas as pd
import pytest
from pyspark.sql import functions as F

from arkflow_spark.config import EngineConfig
from arkflow_spark.engine import Engine


@pytest.fixture()
def events_stream_dir(spark, tmp_path):
    """A small parquet dir usable as a file-stream source."""
    src = str(tmp_path / "src")
    rows = [
        (i, f"2024-01-01 00:{i:02d}:00", "a" if i % 2 == 0 else "b", float(i))
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "id BIGINT, ts STRING, k STRING, v DOUBLE")
    df.withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.parquet(src)
    return src


def test_stream_pipeline_foreachbatch(spark, tmp_path, events_stream_dir):
    """file readStream -> sql processor -> memory sink under foreachBatch."""
    import yaml as _y

    cfg = EngineConfig.from_dict(
        _y.safe_load(
            textwrap.dedent(
                f"""
                streams:
                  - name: s1
                    input:
                      type: file
                      path: {events_stream_dir}
                      format: parquet
                      schema: "id BIGINT, ts TIMESTAMP, k STRING, v DOUBLE"
                    pipeline:
                      processors:
                        - type: sql
                          query: "SELECT k, count(*) AS n, sum(v) AS total FROM flow GROUP BY k"
                    output:
                      type: memory
                """
            )
        )
    )
    eng = Engine(spark, cfg)
    q = eng.streams[0].start(str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    batches = eng.streams[0].output.batches
    assert len(batches) >= 1
    merged = {}
    for batch in batches:
        for r in batch:
            merged[r["k"]] = merged.get(r["k"], 0) + r["n"]
    assert merged == {"a": 10, "b": 10}


def test_stream_tumbling_window_event_time(spark, tmp_path, events_stream_dir):
    """Streaming tumbling window with watermark — the reference's window
    buffer under real incremental execution."""
    import yaml as _y

    cfg = EngineConfig.from_dict(
        _y.safe_load(
            textwrap.dedent(
                f"""
                streams:
                  - name: s2
                    input:
                      type: file
                      path: {events_stream_dir}
                      format: parquet
                      schema: "id BIGINT, ts TIMESTAMP, k STRING, v DOUBLE"
                    buffer:
                      type: tumbling_window
                      interval: 10m
                      time_col: ts
                      group_by: [k]
                      watermark: "0 seconds"
                      aggregations:
                        - expr: "count(*)"
                          alias: n
                    output:
                      type: memory
                """
            )
        )
    )
    eng = Engine(spark, cfg)
    # drain with availableNow: a processAllAvailable() under the buffer's
    # 10-minute processing-time trigger waits for the next epoch-aligned
    # trigger, up to 10 minutes of wall clock
    q = eng.streams[0].start(str(tmp_path / "ckpt2"), once=True)
    try:
        q.awaitTermination()
    finally:
        q.stop()
    rows = [r for batch in eng.streams[0].output.batches for r in batch]
    # 20 events over 20 minutes -> 10-minute windows of 10 events (5 per key)
    assert sum(r["n"] for r in rows) == 20
    assert all(r["n"] == 5 for r in rows)


def test_stream_sliding_count_window_state(spark, tmp_path, events_stream_dir):
    """Count-based sliding window via applyInPandasWithState
    (reference: buffer/sliding_window.rs semantics under streaming)."""
    from arkflow_spark.streaming.state import sliding_count_window_stream

    sdf = (
        spark.readStream.schema("id BIGINT, ts TIMESTAMP, k STRING, v DOUBLE")
        .parquet(events_stream_dir)
    )
    out = sliding_count_window_stream(
        sdf,
        window_size=3,
        slide_size=2,
        key_col="k",
        value_cols=["id", "v"],
        output_schema="k STRING, window_id BIGINT, pos_in_window BIGINT,"
        " id BIGINT, v DOUBLE",
    )
    collected = []

    q = (
        out.writeStream.foreachBatch(
            lambda df, eid: collected.extend(df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # 10 rows per key -> complete windows at offsets 0,2,4,6 (size 3) = 4/key
    by_key = {}
    for r in collected:
        by_key.setdefault(r["k"], set()).add(r["window_id"])
    assert by_key == {"a": {0, 1, 2, 3}, "b": {0, 1, 2, 3}}
    # window contents follow arrival order (id ascending within key)
    a_rows = sorted(
        [(r["window_id"], r["pos_in_window"], r["id"]) for r in collected
         if r["k"] == "a"]
    )
    ids_w0 = [t[2] for t in a_rows if t[0] == 0]
    assert ids_w0 == sorted(ids_w0) and len(ids_w0) == 3


def test_stream_dlq_keeps_stream_alive(spark, tmp_path, events_stream_dir):
    """A poison batch goes to error_output; the query keeps running
    (reference: stream/mod.rs:485-516 error routing)."""
    import yaml as _y

    cfg = EngineConfig.from_dict(
        _y.safe_load(
            textwrap.dedent(
                f"""
                streams:
                  - name: s3
                    input:
                      type: file
                      path: {events_stream_dir}
                      format: parquet
                      schema: "id BIGINT, ts TIMESTAMP, k STRING, v DOUBLE"
                    pipeline:
                      processors:
                        - type: sql
                          query: "SELECT nonexistent_col FROM flow"
                    output:
                      type: memory
                    error_output:
                      type: memory
                """
            )
        )
    )
    eng = Engine(spark, cfg)
    q = eng.streams[0].start(str(tmp_path / "ckpt4"))
    try:
        q.processAllAvailable()
        assert q.isActive
    finally:
        q.stop()
    s = eng.streams[0]
    assert s.output.batches == []
    assert sum(len(b) for b in s.error_output.batches) == 20


@pytest.mark.slow  # r9: >=10s multi-batch/restart run — ARKFLOW_FULL_TESTS=1
def test_file_input_rate_limit_option(spark, tmp_path):
    """max_files_per_trigger bounds per-trigger ingest (the reference's
    in-flight backpressure threshold analog, stream/mod.rs:37)."""
    from arkflow_spark.registry import INPUTS, load_all

    load_all()
    src = str(tmp_path / "multi_src")
    # three separate files so the cap is observable
    for i in range(3):
        spark.createDataFrame([(i, float(i))], "id BIGINT, v DOUBLE").coalesce(
            1
        ).write.mode("append").parquet(src)
    inp = INPUTS.build(
        {
            "type": "file",
            "path": src,
            "format": "parquet",
            "schema": "id BIGINT, v DOUBLE",
            "max_files_per_trigger": 1,
        }
    )
    batches = []
    q = (
        inp.read_stream(spark)
        .writeStream.foreachBatch(lambda df, eid: batches.append(df.count()))
        .option("checkpointLocation", str(tmp_path / "ckpt_rate"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # the fixture writes multiple files; with the cap each trigger pulls 1
    assert len(batches) >= 2 and all(b > 0 for b in batches)


@pytest.mark.slow  # r9: >=10s multi-batch/restart run — ARKFLOW_FULL_TESTS=1
def test_stream_stream_join_with_watermarks(spark, tmp_path):
    """True stream-stream inner join: two watermarked file streams joined on
    key + event-time range — the Spark-native superset of the reference's
    window-join buffer (buffer/join.rs registers each source's batch and
    joins with SQL; here the state store holds both sides, bounded by the
    watermark + time-range condition, which is the 100 TB-safe shape)."""
    left_dir = str(tmp_path / "left")
    right_dir = str(tmp_path / "right")
    left_rows = [(i, f"2024-01-01 00:{i:02d}:00", f"k{i % 3}") for i in range(10)]
    # right side lags the left by 30s — inside the join tolerance
    right_rows = [(i, f"2024-01-01 00:{i:02d}:30", f"k{i % 3}") for i in range(10)]
    spark.createDataFrame(
        left_rows, "l_id BIGINT, l_ts STRING, k STRING"
    ).withColumn("l_ts", F.col("l_ts").cast("timestamp")).coalesce(1).write.parquet(
        left_dir
    )
    spark.createDataFrame(
        right_rows, "r_id BIGINT, r_ts STRING, k STRING"
    ).withColumn("r_ts", F.col("r_ts").cast("timestamp")).coalesce(1).write.parquet(
        right_dir
    )
    left = (
        spark.readStream.schema("l_id BIGINT, l_ts TIMESTAMP, k STRING")
        .parquet(left_dir)
        .withWatermark("l_ts", "2 minutes")
    )
    right = (
        spark.readStream.schema("r_id BIGINT, r_ts TIMESTAMP, k STRING")
        .parquet(right_dir)
        .withWatermark("r_ts", "2 minutes")
    )
    joined = left.join(
        right,
        (left.k == right.k)
        & (right.r_ts >= left.l_ts)
        & (right.r_ts <= left.l_ts + F.expr("INTERVAL 1 MINUTE")),
        "inner",
    ).select("l_id", "r_id", left.k)
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = {(r.l_id, r.r_id) for r in spark.sql("SELECT * FROM ss_join").collect()}
    # each left row matches exactly its same-id right row (+30s, same key)
    assert got == {(i, i) for i in range(10)}


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Streaming exact dedup: dropDuplicatesWithinWatermark keeps the first
    arrival per key and bounds the dedup state by the watermark — the
    streaming counterpart of the batch `dedup_exact` operator (at 100 TB
    the state store holds only keys younger than the watermark, not the
    full corpus)."""
    src = str(tmp_path / "dedup_src")
    rows = [
        (i % 5, f"2024-01-01 00:{i:02d}:00", f"payload-{i % 5}")
        for i in range(15)
    ]  # 5 distinct keys, each arriving 3 times
    spark.createDataFrame(
        rows, "k BIGINT, ts STRING, payload STRING"
    ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema("k BIGINT, ts TIMESTAMP, payload STRING")
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["k"])
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = spark.sql("SELECT k, COUNT(*) AS n FROM dedup_stream GROUP BY k").collect()
    assert {r.k for r in got} == {0, 1, 2, 3, 4}
    assert all(r.n == 1 for r in got)


def test_stream_available_now_drains_and_stops(spark, tmp_path, events_stream_dir):
    """once=True (availableNow): process everything currently available,
    honoring per-trigger caps, then terminate — the drain/backfill mode."""
    import textwrap

    import yaml as _y

    from arkflow_spark.config import EngineConfig
    from arkflow_spark.engine import Engine

    cfg = EngineConfig.from_dict(
        _y.safe_load(
            textwrap.dedent(
                f"""
                streams:
                  - name: drain
                    input:
                      type: file
                      path: {events_stream_dir}
                      format: parquet
                      schema: "id BIGINT, ts TIMESTAMP, k STRING, v DOUBLE"
                    pipeline:
                      processors:
                        - type: sql
                          query: "SELECT k, count(*) AS n FROM flow GROUP BY k"
                    output:
                      type: memory
                """
            )
        )
    )
    eng = Engine(spark, cfg)
    q = eng.streams[0].start(str(tmp_path / "ckpt_once"), once=True)
    assert q.awaitTermination(120), "availableNow query did not terminate"
    merged = {}
    for batch in eng.streams[0].output.batches:
        for r in batch:
            merged[r["k"]] = merged.get(r["k"], 0) + r["n"]
    assert merged == {"a": 10, "b": 10}


def test_checkpoint_restart_resumes_offsets_exactly_once(spark, tmp_path):
    """The WAL-replacement claim (SURVEY §4) made concrete: a stream
    drained, stopped, fed more data, and RESTARTED from the same
    checkpoint must deliver every message exactly once — the second run
    resumes from the committed spool offset instead of re-reading."""
    from arkflow_spark.sources.brokers import register
    from arkflow_spark.sources.push_source import spool_write

    register(spark)
    spool, out, ckpt = (
        str(tmp_path / "spool"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )

    def drain():
        q = (
            spark.readStream.format("spooldir")
            .option("path", spool)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    for i in range(3):
        spool_write(spool, f"a{i}".encode())
    drain()
    for i in range(2):
        spool_write(spool, f"b{i}".encode())
    drain()  # restart from the SAME checkpoint

    rows = spark.read.parquet(out).collect()
    vals = sorted(bytes(r["__value__"]).decode() for r in rows)
    assert vals == ["a0", "a1", "a2", "b0", "b1"]  # no loss, no duplicates
    offsets = sorted(r["__meta_offset"] for r in rows)
    assert offsets == [0, 1, 2, 3, 4]


def test_stream_ewma_exact_recurrence_across_batches(spark, tmp_path):
    """The streaming EWMA must carry its accumulator across micro-batches:
    two file drops, one query restart boundary per drop, final values equal
    the single-pass recurrence over the full series."""
    from arkflow_spark.streaming.state import ewma_stream

    src = str(tmp_path / "ewma_src")
    rows1 = [(i, f"2024-01-01 00:{i:02d}:00", "a", float(i)) for i in range(5)]
    rows2 = [
        (i, f"2024-01-01 00:{i:02d}:00", "a", float(i)) for i in range(5, 10)
    ]
    mk = lambda rows: (
        spark.createDataFrame(rows, "id BIGINT, ts STRING, k STRING, v DOUBLE")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .coalesce(1)
    )
    mk(rows1).write.mode("append").parquet(src)

    collected = []

    def run_once():
        sdf = (
            spark.readStream.schema("id BIGINT, ts TIMESTAMP, k STRING, v DOUBLE")
            .parquet(src)
        )
        out = ewma_stream(sdf, 0.5, "k", "ts", "v")
        q = (
            out.writeStream.foreachBatch(
                lambda df, eid: collected.extend(df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "ewma_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    mk(rows2).write.mode("append").parquet(src)
    run_once()  # restart from checkpoint: state must resume, not reset

    got = {r["n"]: r["ewma"] for r in collected if r["k"] == "a"}
    # reference single-pass recurrence over 0..9
    prev = None
    for i, v in enumerate(float(x) for x in range(10)):
        prev = v if prev is None else 0.5 * v + 0.5 * prev
        assert got[i + 1] == prev, (i, got.get(i + 1), prev)
    assert len(got) == 10


def test_stream_rolling_zscore_state_across_batches(spark, tmp_path):
    """Streaming z-score must score against the previous-window state,
    carrying the ring buffer across micro-batches and checkpoint restarts;
    a deliberate outlier after the warm-up must flag."""
    from arkflow_spark.streaming.state import rolling_zscore_stream

    src = str(tmp_path / "zs_src")
    base = [1.0, 2.0, 1.5, 2.5, 1.8, 2.2]  # warm-up: modest spread
    rows1 = [
        (i, f"2024-01-01 00:{i:02d}:00", "a", v) for i, v in enumerate(base)
    ]
    rows2 = [(6, "2024-01-01 00:06:00", "a", 50.0),   # outlier
             (7, "2024-01-01 00:07:00", "a", 2.0)]
    mk = lambda rows: (
        spark.createDataFrame(rows, "id BIGINT, ts STRING, k STRING, v DOUBLE")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .coalesce(1)
    )
    mk(rows1).write.mode("append").parquet(src)

    collected = []

    def run_once():
        sdf = (
            spark.readStream.schema(
                "id BIGINT, ts TIMESTAMP, k STRING, v DOUBLE"
            ).parquet(src)
        )
        out = rolling_zscore_stream(sdf, window=20, key_col="k",
                                    ts_col="ts", value_col="v")
        q = (
            out.writeStream.foreachBatch(
                lambda df, eid: collected.extend(df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "zs_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    mk(rows2).write.mode("append").parquet(src)
    run_once()

    by_id = {int(r["ts"].minute): r for r in collected}
    # warm-up rows (n < 5) have NULL scores
    for i in range(5):
        assert by_id[i]["zscore"] is None and not by_id[i]["is_anomaly"]
    # n reflects prior-state size across the batch boundary
    assert by_id[6]["n"] == 6
    # the outlier flags; the normal value right after it does not
    assert by_id[6]["is_anomaly"]
    assert not by_id[7]["is_anomaly"]
    # cross-check z against the batch formula over the first 6 values
    n = 6
    mean = sum(base) / n
    var = (sum(x * x for x in base) - n * mean * mean) / (n - 1)
    want = (50.0 - mean) / var**0.5
    assert by_id[6]["zscore"] == pytest.approx(want)


def test_stream_windowed_topk_append_mode(spark, tmp_path):
    """Streaming windowed top-N: append-mode finalization emits each
    window's surviving keys together, so per-batch ranking equals the
    batch top-N over the same data."""
    from arkflow_spark.streaming.state import windowed_topk_stream

    src = str(tmp_path / "topk_src")
    # window [00:00,00:10): a=3 b=2 c=1 ; window [00:10,00:20): b=2 a=1
    rows1 = [
        (0, "2024-01-01 00:01:00", "a", 1.0),
        (1, "2024-01-01 00:02:00", "a", 1.0),
        (2, "2024-01-01 00:03:00", "a", 1.0),
        (3, "2024-01-01 00:04:00", "b", 1.0),
        (4, "2024-01-01 00:05:00", "b", 1.0),
        (5, "2024-01-01 00:06:00", "c", 1.0),
    ]
    # second drop advances the watermark past the first window
    rows2 = [
        (6, "2024-01-01 00:11:00", "b", 1.0),
        (7, "2024-01-01 00:12:00", "b", 1.0),
        (8, "2024-01-01 00:13:00", "a", 1.0),
        (9, "2024-01-01 00:30:00", "d", 1.0),
    ]
    mk = lambda rows: (
        spark.createDataFrame(rows, "id BIGINT, ts STRING, k STRING, v DOUBLE")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .coalesce(1)
    )
    mk(rows1).write.mode("append").parquet(src)

    collected = []

    def run_once():
        sdf = spark.readStream.schema(
            "id BIGINT, ts TIMESTAMP, k STRING, v DOUBLE"
        ).parquet(src)
        agg, rank_batch = windowed_topk_stream(sdf, 2, "10 minutes", "k", "ts")
        q = (
            agg.writeStream.outputMode("append")
            .foreachBatch(
                lambda df, eid: collected.extend(rank_batch(df).collect())
            )
            .option("checkpointLocation", str(tmp_path / "topk_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    mk(rows2).write.mode("append").parquet(src)
    run_once()

    got = {
        (str(r["window_start"]), r["rnk"]): (r["k"], r["n"])
        for r in collected
    }
    # first window finalized: top-2 = a(3), b(2); c cut
    assert got[("2024-01-01 00:00:00", 1)] == ("a", 3)
    assert got[("2024-01-01 00:00:00", 2)] == ("b", 2)
    # second window finalized by the 00:30 row: top-2 = b(2), a(1)
    assert got[("2024-01-01 00:10:00", 1)] == ("b", 2)
    assert got[("2024-01-01 00:10:00", 2)] == ("a", 1)
    # the 00:30 window is NOT finalized (watermark still inside it)
    assert all(not ws.startswith("2024-01-01 00:30") for ws, _ in got)


def test_stream_counter_rate_resets_across_batches(spark, tmp_path):
    """Streaming counter increase must carry last_value/cum across
    micro-batches and count a mid-stream counter reset as the post-reset
    absolute value — matching the batch events_counter_rate semantics."""
    from arkflow_spark.streaming.state import counter_rate_stream

    src = str(tmp_path / "rate_src")
    series1 = [10.0, 15.0, 25.0]          # increases: 0, 5, 10
    series2 = [3.0, 9.0]                  # reset -> 3, then 6
    mk = lambda rows: (
        spark.createDataFrame(rows, "id BIGINT, ts STRING, k STRING, v DOUBLE")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .coalesce(1)
    )
    rows = lambda vals, off: [
        (i + off, f"2024-01-01 00:{i + off:02d}:00", "c", v)
        for i, v in enumerate(vals)
    ]
    mk(rows(series1, 0)).write.mode("append").parquet(src)

    collected = []

    def run_once():
        sdf = (
            spark.readStream.schema(
                "id BIGINT, ts TIMESTAMP, k STRING, v DOUBLE"
            ).parquet(src)
        )
        out = counter_rate_stream(sdf, "k", "ts", "v")
        q = (
            out.writeStream.foreachBatch(
                lambda df, eid: collected.extend(df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "rate_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    mk(rows(series2, 3)).write.mode("append").parquet(src)
    run_once()  # restart from checkpoint: last_value must resume

    got = sorted(
        ((r["v"], r["increase"], r["cum_increase"]) for r in collected)
    )
    want = sorted(
        [
            (10.0, 0.0, 0.0),
            (15.0, 5.0, 5.0),
            (25.0, 10.0, 15.0),
            (3.0, 3.0, 18.0),   # reset detected against checkpointed 25.0
            (9.0, 6.0, 24.0),
        ]
    )
    assert got == want


def test_stream_funnel_progression_across_batches(spark, tmp_path):
    """Streaming funnel must carry the furthest-stage state across
    micro-batches: a user who viewed in batch 1 converts on the click +
    purchase arriving in batch 2, and out-of-order stages don't advance."""
    from arkflow_spark.streaming.state import funnel_stream

    src = str(tmp_path / "fun_src")
    mk = lambda rows: (
        spark.createDataFrame(
            rows, "id BIGINT, ts STRING, k STRING, typ STRING"
        )
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .coalesce(1)
    )
    batch1 = [
        (0, "2024-01-01 00:00:00", "u1", "view"),
        (1, "2024-01-01 00:01:00", "u2", "click"),   # out of order: no view
    ]
    batch2 = [
        (2, "2024-01-01 00:02:00", "u1", "click"),
        (3, "2024-01-01 00:03:00", "u1", "purchase"),
        (4, "2024-01-01 00:04:00", "u2", "view"),
    ]
    mk(batch1).write.mode("append").parquet(src)

    collected = []

    def run_once():
        sdf = spark.readStream.schema(
            "id BIGINT, ts TIMESTAMP, k STRING, typ STRING"
        ).parquet(src)
        out = funnel_stream(
            sdf, ["view", "click", "purchase"], "k", "ts", "typ"
        )
        q = (
            out.writeStream.foreachBatch(
                lambda df, eid: collected.extend(df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "fun_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    mk(batch2).write.mode("append").parquet(src)
    run_once()

    got = sorted((r["k"], r["stage_idx"], r["stage"]) for r in collected)
    assert got == [
        ("u1", 0, "view"),      # batch 1
        ("u1", 1, "click"),     # batch 2, resumed from state
        ("u1", 2, "purchase"),
        ("u2", 0, "view"),      # u2's early click never counted
    ]


def test_stream_cep_pattern_within_horizon_across_batches(spark, tmp_path):
    """The CEP detector must arm on the first unmatched start event, carry
    the pending state across a checkpoint restart, emit only end events
    inside the horizon, and clear the pending start on expired matches."""
    from arkflow_spark.streaming.state import cep_pattern_stream

    src = str(tmp_path / "cep_src")
    rows1 = [
        (0, "2024-01-01 00:00:00", "a", "view"),
        (1, "2024-01-01 00:02:00", "a", "purchase"),   # match, 120s
        (2, "2024-01-01 00:03:00", "a", "purchase"),   # no pending: ignored
        (3, "2024-01-01 00:05:00", "a", "view"),       # arms, crosses restart
        (4, "2024-01-01 00:00:00", "b", "view"),       # arms, will expire
    ]
    rows2 = [
        (5, "2024-01-01 00:07:00", "a", "purchase"),   # match, 120s (carried)
        (6, "2024-01-01 00:30:00", "b", "purchase"),   # 1800s > 600: expired
        (7, "2024-01-01 00:31:00", "b", "purchase"),   # cleared: ignored
    ]
    mk = lambda rows: (
        spark.createDataFrame(rows, "id BIGINT, ts STRING, k STRING, et STRING")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .coalesce(1)
    )
    mk(rows1).write.mode("append").parquet(src)

    collected = []

    def run_once():
        sdf = (
            spark.readStream.schema("id BIGINT, ts TIMESTAMP, k STRING, et STRING")
            .parquet(src)
        )
        out = cep_pattern_stream(sdf, "k", "ts", "et", "view", "purchase", 600)
        q = (
            out.writeStream.foreachBatch(
                lambda df, eid: collected.extend(df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "cep_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    mk(rows2).write.mode("append").parquet(src)
    run_once()  # restart: 'a' pending view from batch 1 must survive

    matches = sorted(
        (r["k"], r["latency_s"], str(r["start_ts"])) for r in collected
    )
    assert matches == [
        ("a", 120, "2024-01-01 00:00:00"),
        ("a", 120, "2024-01-01 00:05:00"),
    ]


def test_stream_heavy_hitters_bound_across_restarts(spark, tmp_path):
    """The streaming Misra-Gries summary must survive a checkpoint
    restart: two file drops with a query restart between them, then the
    latest per-shard summaries (max version) must (a) carry counts from
    BOTH drops, (b) satisfy the deterministic MG bound
    est <= exact <= est + n_shard/(k+1) for every key, and (c) be exact
    for keys a k-sized summary never needed to evict."""
    from arkflow_spark.streaming.state import heavy_hitters_stream

    src = str(tmp_path / "hh_src")
    # skewed stream: key 1 is hot, keys 10..29 are noise
    rows1 = [(1,)] * 30 + [(10 + i % 20,) for i in range(40)]
    rows2 = [(1,)] * 25 + [(10 + i % 20,) for i in range(30)]
    mk = lambda rows: spark.createDataFrame(rows, "user_id BIGINT").coalesce(1)
    mk(rows1).write.mode("append").parquet(src)

    collected = []

    def run_once():
        sdf = spark.readStream.schema("user_id BIGINT").parquet(src)
        out = heavy_hitters_stream(sdf, "user_id", k=6, n_shards=2)
        q = (
            out.writeStream.foreachBatch(
                lambda df, eid: collected.extend(df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "hh_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    mk(rows2).write.mode("append").parquet(src)
    run_once()  # restart from the same checkpoint

    latest_version = {}
    for r in collected:
        latest_version[r["shard"]] = max(
            latest_version.get(r["shard"], 0), r["version"]
        )
    assert max(latest_version.values()) >= 2  # state crossed the restart

    merged: dict[int, int] = {}
    shard_n: dict[int, int] = {}
    for r in collected:
        if r["version"] == latest_version[r["shard"]]:
            shard_n[r["shard"]] = r["n"]
            if r["user_id"] is not None:  # null-key = empty-summary sentinel
                merged[r["user_id"]] = merged.get(r["user_id"], 0) + r["est"]

    from collections import Counter

    exact = Counter(u for (u,) in rows1 + rows2)
    assert sum(shard_n.values()) == len(rows1) + len(rows2)
    for u, c in exact.items():
        est = merged.get(u, 0)
        bound = sum(shard_n[s] for s in shard_n if s == u % 2) // 7
        assert est <= c <= est + bound, (u, est, c, bound)
    # the hot key must survive eviction and rank first
    assert merged and max(merged, key=lambda u: merged[u]) == 1


def test_stream_ddsketch_quantiles_across_restarts(spark, tmp_path):
    """The streaming DDSketch histogram must survive a checkpoint
    restart: after two file drops with a restart between, the latest
    per-key estimates must equal a single-pass reference DDSketch over
    the full series AND satisfy the relative-error bound against the
    true rank-selected values."""
    import math

    from arkflow_spark.streaming.state import ddsketch_stream

    gamma, qs = 1.02, (0.5, 0.9, 0.99)
    src = str(tmp_path / "dd_src")
    vals1 = [round(1.0 + 0.37 * i, 3) for i in range(60)]
    vals2 = [round(5.0 + 0.91 * i, 3) for i in range(40)]
    mk = lambda vals: spark.createDataFrame(
        [("a", v) for v in vals], "k STRING, v DOUBLE"
    ).coalesce(1)
    mk(vals1).write.mode("append").parquet(src)

    collected = []

    def run_once():
        sdf = spark.readStream.schema("k STRING, v DOUBLE").parquet(src)
        out = ddsketch_stream(sdf, "k", "v", gamma=gamma, qs=qs)
        q = (
            out.writeStream.foreachBatch(
                lambda df, eid: collected.extend(df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    mk(vals2).write.mode("append").parquet(src)
    run_once()  # restart from the same checkpoint

    last_v = max(r["version"] for r in collected)
    assert last_v >= 2  # state crossed the restart
    latest = {r["q"]: r for r in collected if r["version"] == last_v}
    assert latest[0.5]["n"] == len(vals1) + len(vals2)

    # reference single-pass DDSketch over the full series
    full = vals1 + vals2
    hist: dict[int, int] = {}
    for v in full:
        b = math.ceil(math.log(v) / math.log(gamma))
        hist[b] = hist.get(b, 0) + 1
    ordered = sorted(full)
    alpha = (gamma - 1.0) / (gamma + 1.0)
    for q in qs:
        target = math.ceil(q * len(full))
        cum = 0
        for b, c in sorted(hist.items()):
            cum += c
            if cum >= target:
                ref = 2.0 * gamma**b / (gamma + 1.0)
                break
        assert abs(latest[q]["est"] - ref) < 1e-9, q
        true_val = ordered[target - 1]
        assert abs(latest[q]["est"] - true_val) / true_val <= alpha * 1.0001


def test_stream_burst_hysteresis_state_across_restarts(spark, tmp_path):
    """The Schmitt-trigger burst flag must carry across a checkpoint
    restart: a burst entered in run 1 (value > enter) must still be ON
    for run 2's first in-band value (hold region), and only a value
    below the exit threshold may clear it."""
    from arkflow_spark.streaming.state import burst_hysteresis_stream

    src = str(tmp_path / "bh_src")
    mk = lambda rows: (
        spark.createDataFrame(rows, "k STRING, ts STRING, v DOUBLE")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .coalesce(1)
    )
    # run 1 ends INSIDE a burst (20 > enter=10)
    mk(
        [("a", "2024-01-01 00:00:00", 5.0),
         ("a", "2024-01-01 00:01:00", 20.0)]
    ).write.mode("append").parquet(src)

    collected = []

    def run_once():
        sdf = spark.readStream.schema("k STRING, ts TIMESTAMP, v DOUBLE").parquet(src)
        out = burst_hysteresis_stream(sdf, "k", "ts", "v", 10.0, 7.0)
        q = (
            out.writeStream.foreachBatch(
                lambda df, eid: collected.extend(df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "bh_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    # run 2: 8.0 is in the hold band (7 < 8 < 10) -> must stay ON;
    # 6.0 is below exit -> clears; 9.0 in-band after clear -> stays OFF
    mk(
        [("a", "2024-01-01 00:02:00", 8.0),
         ("a", "2024-01-01 00:03:00", 6.0),
         ("a", "2024-01-01 00:04:00", 9.0)]
    ).write.mode("append").parquet(src)
    run_once()

    got = {str(r["ts"]): (r["burst"], r["burst_start"]) for r in collected}
    assert got["2024-01-01 00:00:00"] == (False, False)
    assert got["2024-01-01 00:01:00"] == (True, True)
    assert got["2024-01-01 00:02:00"] == (True, False)  # held across restart
    assert got["2024-01-01 00:03:00"] == (False, False)
    assert got["2024-01-01 00:04:00"] == (False, False)


def test_stream_uniform_sample_matches_batch_across_restarts(spark, tmp_path):
    """The streaming hash-priority reservoir must (a) survive a
    checkpoint restart and (b) after any prefix equal the BATCH
    hash-priority sample over the same accumulated rows — priorities
    are a pure function of the id, so the two formulations are one
    operator."""
    from arkflow_spark.streaming.state import uniform_sample_stream

    src = str(tmp_path / "us_src")
    rows1 = [(i,) for i in range(0, 60)]
    rows2 = [(i,) for i in range(60, 100)]
    mk = lambda rows: spark.createDataFrame(rows, "event_id BIGINT").coalesce(1)
    mk(rows1).write.mode("append").parquet(src)

    collected = []
    K, SHARDS = 10, 4

    def run_once():
        sdf = spark.readStream.schema("event_id BIGINT").parquet(src)
        out = uniform_sample_stream(sdf, "event_id", k=K, n_shards=SHARDS)
        q = (
            out.writeStream.foreachBatch(
                lambda df, eid: collected.extend(df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "us_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    mk(rows2).write.mode("append").parquet(src)
    run_once()  # restart from checkpoint: shard reservoirs must persist

    latest = {}
    for r in collected:
        latest[r["shard"]] = max(latest.get(r["shard"], 0), r["version"])
    assert max(latest.values()) >= 2  # state crossed the restart

    merged = []
    n_total = 0
    for r in collected:
        if r["version"] == latest[r["shard"]]:
            if r["event_id"] is not None:
                merged.append((r["priority"], r["event_id"]))
    n_total = sum(
        {r["shard"]: r["n_seen"] for r in collected
         if r["version"] == latest[r["shard"]]}.values()
    )
    assert n_total == 100
    stream_sample = sorted(merged)[:K]

    # batch twin over the same accumulated ids
    import hashlib

    batch = sorted(
        (hashlib.md5(str(i).encode()).hexdigest()[:12], i)
        for i in range(100)
    )[:K]
    assert stream_sample == batch


def test_stream_xmr_limits_state_across_batches(spark, tmp_path):
    """Streaming XmR must score each point against limits from PRIOR
    data only and carry (n, sum_x, sum_mr, last) across a checkpoint
    restart: a spike dropped in the second file is flagged using limits
    learned from the first file's points."""
    from arkflow_spark.streaming.state import xmr_limits_stream

    src = str(tmp_path / "xmr_src")
    # steady series 10 +/- 1 -> MRbar ~1, limits ~10 +/- 2.66
    rows1 = [
        (i, f"2024-01-01 00:{i:02d}:00", "a", 10.0 + (i % 2))
        for i in range(6)
    ]
    rows2 = [
        (6, "2024-01-01 00:06:00", "a", 50.0),   # far outside -> flag
        (7, "2024-01-01 00:07:00", "a", 10.0),
    ]
    mk = lambda rows: (
        spark.createDataFrame(rows, "id BIGINT, ts STRING, k STRING, v DOUBLE")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .coalesce(1)
    )
    mk(rows1).write.mode("append").parquet(src)

    collected = []

    def run_once():
        sdf = (
            spark.readStream.schema("id BIGINT, ts TIMESTAMP, k STRING, v DOUBLE")
            .parquet(src)
        )
        out = xmr_limits_stream(sdf, "k", "ts", "v")
        q = (
            out.writeStream.foreachBatch(
                lambda df, eid: collected.extend(df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "xmr_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    mk(rows2).write.mode("append").parquet(src)
    run_once()  # restart from checkpoint: sums must resume, not reset

    by_n = {r["n"]: r for r in collected if r["k"] == "a"}
    assert len(by_n) == 8
    # first two points have no limits yet
    assert by_n[1]["ucl"] is None and not by_n[1]["out_of_control"]
    assert by_n[2]["ucl"] is None and not by_n[2]["out_of_control"]
    # replicate the running-limits recurrence exactly
    vals = [10.0 + (i % 2) for i in range(6)] + [50.0, 10.0]
    n = n_mr = 0
    sum_x = sum_mr = 0.0
    last = None
    for i, x in enumerate(vals):
        if n >= 2 and n_mr >= 1:
            xbar, mrbar = sum_x / n, sum_mr / n_mr
            ucl, lcl = xbar + 2.66 * mrbar, xbar - 2.66 * mrbar
            out = x > ucl or x < lcl
            row = by_n[i + 1]
            assert row["ucl"] == ucl and row["lcl"] == lcl, (i, row)
            assert row["out_of_control"] == out, (i, row)
        if last is not None:
            sum_mr += abs(x - last)
            n_mr += 1
        sum_x += x
        n += 1
        last = x
    # the spike (7th point, learned limits from file 1) must be flagged
    assert by_n[7]["out_of_control"] is True
    assert by_n[8]["out_of_control"] is False


def test_stream_page_hinkley_state_across_batches(spark, tmp_path):
    """Streaming Page-Hinkley must carry (n, sum_x, m, extreme) across a
    checkpoint restart: a level shift delivered in the second file must
    alarm against statistics learned from the first file's points, and
    the recurrence must replay bit-identically."""
    from arkflow_spark.streaming.state import page_hinkley_stream

    src = str(tmp_path / "ph_src")
    rows1 = [
        (i, f"2024-01-01 00:{i:02d}:00", "a", 10.0 + (i % 2))
        for i in range(6)
    ]
    # sustained upward shift: cumulative deviations should exceed lam
    rows2 = [
        (6 + j, f"2024-01-01 00:{6 + j:02d}:00", "a", 40.0)
        for j in range(4)
    ]
    mk = lambda rows: (
        spark.createDataFrame(rows, "id BIGINT, ts STRING, k STRING, v DOUBLE")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .coalesce(1)
    )
    mk(rows1).write.mode("append").parquet(src)

    collected = []

    def run_once():
        sdf = (
            spark.readStream.schema("id BIGINT, ts TIMESTAMP, k STRING, v DOUBLE")
            .parquet(src)
        )
        out = page_hinkley_stream(sdf, "k", "ts", "v", lam=20.0)
        q = (
            out.writeStream.foreachBatch(
                lambda df, eid: collected.extend(df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "ph_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    mk(rows2).write.mode("append").parquet(src)
    run_once()  # restart from checkpoint: state must resume, not reset

    by_n = {r["n"]: r for r in collected if r["k"] == "a"}
    assert len(by_n) == 10
    # replicate the recurrence exactly (incl. the restart boundary)
    vals = [10.0 + (i % 2) for i in range(6)] + [40.0] * 4
    n, sum_x, m, extreme = 0, 0.0, 0.0, 0.0
    for i, x in enumerate(vals):
        x = round(x, 6)
        sum_x += x
        n += 1
        m = round(m + (x - sum_x / n), 9)
        extreme = min(extreme, m)
        stat = m - extreme
        row = by_n[i + 1]
        assert row["m"] == m and row["ph_stat"] == stat, (i, row)
        assert row["alarm"] == (stat > 20.0), (i, row)
    # steady prefix never alarms; the sustained shift does
    assert not by_n[6]["alarm"]
    assert by_n[10]["alarm"]


def test_stream_p2_quantile_state_across_batches(spark, tmp_path):
    """Streaming P-square markers must survive a checkpoint restart:
    estimates after the second file must equal a single pure-fold pass
    over the CONCATENATED stream (state continuity), and the final
    estimate must sit near the true quantile of the data."""
    from arkflow_spark.streaming.state import (
        p2_estimate,
        p2_fold_value,
        p2_quantile_stream,
    )

    # deterministic pseudo-uniform values in [0, 100)
    vals1 = [((i * 37) % 100) + 0.5 for i in range(40)]
    vals2 = [((i * 53) % 100) + 0.25 for i in range(40)]
    rows1 = [
        (i, f"2024-01-01 00:{i // 60:02d}:{i % 60:02d}", "a", v)
        for i, v in enumerate(vals1)
    ]
    rows2 = [
        (40 + j, f"2024-01-01 01:{j // 60:02d}:{j % 60:02d}", "a", v)
        for j, v in enumerate(vals2)
    ]
    mk = lambda rows: (
        spark.createDataFrame(rows, "id BIGINT, ts STRING, k STRING, v DOUBLE")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .coalesce(1)
    )
    mk(rows1).write.mode("append").parquet(str(tmp_path / "p2_src"))

    collected = []

    def run_once():
        sdf = (
            spark.readStream.schema("id BIGINT, ts TIMESTAMP, k STRING, v DOUBLE")
            .parquet(str(tmp_path / "p2_src"))
        )
        out = p2_quantile_stream(sdf, "k", "ts", "v", p=0.9)
        q = (
            out.writeStream.foreachBatch(
                lambda df, eid: collected.extend(df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "p2_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    mk(rows2).write.mode("append").parquet(str(tmp_path / "p2_src"))
    run_once()  # restart: markers must resume, not re-initialize

    by_n = {r["n"]: r for r in collected if r["k"] == "a"}
    assert len(by_n) == 80
    # ground truth: one pure fold over the concatenated stream
    st = (0, (0.0,) * 5, (0, 0, 0, 0, 0))
    for i, x in enumerate(vals1 + vals2):
        st = p2_fold_value(st, x, 0.9)
        assert by_n[i + 1]["estimate"] == p2_estimate(st), (i, by_n[i + 1])
    # the p90 estimate of ~uniform(0,100) data must land near 90
    assert 75.0 <= by_n[80]["estimate"] <= 100.0


def test_stream_rate_limit_sliding_log_across_batches(spark, tmp_path):
    """The sliding-log limiter must carry its accepted-timestamp log
    across a checkpoint restart: events early in the second file must
    be throttled against acceptances from the FIRST file, and the
    cumulative drop counter must not reset."""
    from arkflow_spark.streaming.state import rate_limit_stream

    # 8 events in one minute (limit 3/60s): first 3 accepted, 5 dropped
    rows1 = [
        (i, f"2024-01-01 00:00:{i * 5:02d}", "a", 1.0) for i in range(8)
    ]
    # next file: 2 more inside the same window (dropped), then 3 after
    # the window expires (accepted)
    rows2 = [
        (8, "2024-01-01 00:00:50", "a", 1.0),
        (9, "2024-01-01 00:00:55", "a", 1.0),
        (10, "2024-01-01 00:02:00", "a", 1.0),
        (11, "2024-01-01 00:02:05", "a", 1.0),
        (12, "2024-01-01 00:02:10", "a", 1.0),
    ]
    mk = lambda rows: (
        spark.createDataFrame(rows, "id BIGINT, ts STRING, k STRING, v DOUBLE")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .coalesce(1)
    )
    mk(rows1).write.mode("append").parquet(str(tmp_path / "rl_src"))

    collected = []

    def run_once():
        sdf = (
            spark.readStream.schema("id BIGINT, ts TIMESTAMP, k STRING, v DOUBLE")
            .parquet(str(tmp_path / "rl_src"))
        )
        out = rate_limit_stream(sdf, "k", "ts", limit=3, window_s=60)
        q = (
            out.writeStream.foreachBatch(
                lambda df, eid: collected.extend(df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "rl_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    mk(rows2).write.mode("append").parquet(str(tmp_path / "rl_src"))
    run_once()

    rows = sorted(
        (r for r in collected if r["k"] == "a"), key=lambda r: r["ts"]
    )
    assert len(rows) == 13
    accepted = [r["accepted"] for r in rows]
    # file 1: 3 accepted then 5 dropped
    assert accepted[:8] == [True] * 3 + [False] * 5
    # file 2 within-window events throttled by FILE-1 acceptances
    assert accepted[8:10] == [False, False]
    # window expired: acceptances resume
    assert accepted[10:] == [True, True, True]
    assert rows[-1]["n_dropped"] == 7


def test_stream_cusum_state_across_batches(spark, tmp_path):
    """Streaming CUSUM must carry (s_hi, s_lo) across a checkpoint
    restart: a small persistent upward shift split across two files
    must accumulate to an alarm, and the recurrence must replay
    bit-identically."""
    from arkflow_spark.streaming.state import cusum_stream

    # target 10, slack 0.5: +2 shift accumulates 1.5/point -> alarm at
    # h=5 after 4 shifted points (2 in file 1, 2 in file 2)
    rows1 = [
        (i, f"2024-01-01 00:{i:02d}:00", "a", v)
        for i, v in enumerate([10.0, 10.0, 10.0, 12.0, 12.0])
    ]
    rows2 = [
        (5 + j, f"2024-01-01 00:{5 + j:02d}:00", "a", 12.0)
        for j in range(3)
    ]
    src = str(tmp_path / "cusum_src")
    mk = lambda rows: (
        spark.createDataFrame(rows, "id BIGINT, ts STRING, k STRING, v DOUBLE")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .coalesce(1)
    )
    mk(rows1).write.mode("append").parquet(src)
    collected = []

    def run_once():
        sdf = (
            spark.readStream.schema(
                "id BIGINT, ts TIMESTAMP, k STRING, v DOUBLE"
            ).parquet(src)
        )
        out = cusum_stream(sdf, "k", "ts", "v", target=10.0, slack=0.5, h=5.0)
        q = (
            out.writeStream.foreachBatch(
                lambda df, eid: collected.extend(df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "cusum_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    mk(rows2).write.mode("append").parquet(src)
    run_once()  # restart: s_hi must resume, not reset

    by_n = {r["n"]: r for r in collected if r["k"] == "a"}
    assert len(by_n) == 8
    vals = [10.0, 10.0, 10.0, 12.0, 12.0, 12.0, 12.0, 12.0]
    s_hi = s_lo = 0.0
    for i, x in enumerate(vals):
        s_hi = round(max(0.0, s_hi + (x - 10.0 - 0.5)), 9)
        s_lo = round(max(0.0, s_lo + (10.0 - x - 0.5)), 9)
        row = by_n[i + 1]
        assert row["s_hi"] == s_hi and row["s_lo"] == s_lo, (i, row)
        assert row["alarm"] == (s_hi > 5.0 or s_lo > 5.0), (i, row)
    assert not by_n[5]["alarm"]  # 1.5 * 2 = 3.0 at file-1 end
    assert by_n[8]["alarm"]  # 1.5 * 4 = 6.0 > h across the restart


def test_stream_bloom_dedup_state_across_batches(spark, tmp_path):
    """The Bloom filter must persist across a restart: a fingerprint
    first seen in file 1 must be flagged as a probable duplicate when
    it reappears in file 2, while fresh fingerprints pass."""
    from arkflow_spark.streaming.state import bloom_dedup_stream

    rows1 = [
        (i, f"2024-01-01 00:{i:02d}:00", "a", f"fp{i}") for i in range(5)
    ]
    rows2 = [
        (5, "2024-01-01 00:05:00", "a", "fp2"),  # dup from file 1
        (6, "2024-01-01 00:06:00", "a", "fp99"),  # fresh
    ]
    src = str(tmp_path / "bloom_src")
    mk = lambda rows: (
        spark.createDataFrame(
            rows, "id BIGINT, ts STRING, k STRING, fp STRING"
        )
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .coalesce(1)
    )
    mk(rows1).write.mode("append").parquet(src)
    collected = []

    def run_once():
        sdf = (
            spark.readStream.schema(
                "id BIGINT, ts TIMESTAMP, k STRING, fp STRING"
            ).parquet(src)
        )
        out = bloom_dedup_stream(sdf, "k", "ts", "fp")
        q = (
            out.writeStream.foreachBatch(
                lambda df, eid: collected.extend(df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "bloom_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    mk(rows2).write.mode("append").parquet(src)
    run_once()

    by_n = {r["n"]: r for r in collected if r["k"] == "a"}
    assert len(by_n) == 7
    assert not any(by_n[i]["dup_probable"] for i in range(1, 6))
    assert by_n[6]["dup_probable"] is True  # fp2 crossed the restart
    assert by_n[7]["dup_probable"] is False  # fp99 is fresh
    # bits_set monotone, bounded by k * distinct
    assert by_n[7]["bits_set"] <= 4 * 6
    assert by_n[7]["fp_rate"] < 1e-8  # nearly-empty filter


def test_stream_hll_cardinality_state_across_batches(spark, tmp_path):
    """HLL registers must persist across a restart: repeats of items
    from file 1 must not move the estimate, fresh items must; the
    final estimate must match a pure fold over the concatenated stream
    and sit near the true distinct count."""
    from arkflow_spark.streaming.state import (
        _HLL_P,
        hll_cardinality_stream,
        hll_estimate,
        hll_fold_item,
    )

    items1 = [f"u{i}" for i in range(30)]
    items2 = ["u0", "u1", "u2"] + [f"v{j}" for j in range(10)]
    rows1 = [
        (i, f"2024-01-01 00:{i // 60:02d}:{i % 60:02d}", "a", it)
        for i, it in enumerate(items1)
    ]
    rows2 = [
        (30 + j, f"2024-01-01 01:{j:02d}:00", "a", it)
        for j, it in enumerate(items2)
    ]
    src = str(tmp_path / "hll_src")
    mk = lambda rows: (
        spark.createDataFrame(
            rows, "id BIGINT, ts STRING, k STRING, item STRING"
        )
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .coalesce(1)
    )
    mk(rows1).write.mode("append").parquet(src)
    collected = []

    def run_once():
        sdf = (
            spark.readStream.schema(
                "id BIGINT, ts TIMESTAMP, k STRING, item STRING"
            ).parquet(src)
        )
        out = hll_cardinality_stream(sdf, "k", "ts", "item")
        q = (
            out.writeStream.foreachBatch(
                lambda df, eid: collected.extend(df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "hll_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    mk(rows2).write.mode("append").parquet(src)
    run_once()

    by_n = {r["n_seen"]: r for r in collected if r["k"] == "a"}
    assert len(by_n) == 43
    # pure fold over the concatenated stream = streamed estimates
    regs = bytearray(1 << _HLL_P)
    for n, it in enumerate(items1 + items2, start=1):
        hll_fold_item(regs, it)
        assert by_n[n]["estimate"] == round(hll_estimate(bytes(regs)), 4)
    # repeats across the restart must not move the estimate
    assert by_n[33]["estimate"] == by_n[30]["estimate"]
    # small-range regime: linear counting is near-exact here
    assert abs(by_n[43]["estimate"] - 40) < 2


def test_stream_capped_sessions_matches_batch_fold(spark, tmp_path):
    """The streaming gap+cap sessionizer must carry its open session
    across a checkpoint restart and reproduce the BATCH fold's
    assignment row-for-row: file 2 starts inside file 1's open session
    (same session continues), then a gap split and a cap split follow."""
    from arkflow_spark.queries.analytics3_q import capped_sessions
    from arkflow_spark.streaming.state import capped_sessions_stream

    gap_ns = 3 * 3600 * 10**9   # 3h idle gap
    cap_ns = 12 * 3600 * 10**9  # 12h duration cap
    # user 7: 00:00, 02:00, 04:00 (one session so far, still open)
    rows1 = [
        (1, "2024-01-01 00:00:00", 7),
        (2, "2024-01-01 02:00:00", 7),
        (3, "2024-01-01 04:00:00", 7),
    ]
    # file 2: 06:00 continues (gap 2h); 13:00 splits on the CAP
    # (13h since 00:00 start despite 7h gap > gap too - both rules);
    # 14:00 continues; 20:00 splits on the GAP (6h idle)
    rows2 = [
        (4, "2024-01-01 06:00:00", 7),
        (5, "2024-01-01 13:00:00", 7),
        (6, "2024-01-01 14:00:00", 7),
        (7, "2024-01-01 20:00:00", 7),
    ]
    src = str(tmp_path / "sess_src")
    mk = lambda rows: (
        spark.createDataFrame(rows, "event_id BIGINT, ts STRING, user_id BIGINT")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .coalesce(1)
    )
    mk(rows1).write.mode("append").parquet(src)
    collected = []

    def run_once():
        sdf = spark.readStream.schema(
            "event_id BIGINT, ts TIMESTAMP, user_id BIGINT"
        ).parquet(src)
        out = capped_sessions_stream(
            sdf, "user_id", "ts", "event_id", gap_ns, cap_ns
        )
        q = (
            out.writeStream.foreachBatch(
                lambda df, eid: collected.extend(df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    mk(rows2).write.mode("append").parquet(src)
    run_once()  # restart: the open session must resume, not reset

    got = {
        r["event_id"]: (r["session_id"], r["session_start"])
        for r in collected
    }
    assert len(got) == 7
    # session 1: events 1-4 (file 2's 06:00 joined file 1's session)
    assert [got[i][0] for i in (1, 2, 3, 4)] == [1, 1, 1, 1]
    # cap split at 13:00, gap split at 20:00
    assert [got[i][0] for i in (5, 6)] == [2, 2]
    assert got[7][0] == 3
    # the assignment must equal the BATCH fold over the same rows
    batch_df = mk(rows1).unionByName(mk(rows2))
    sessions = {
        r["session_id"]: r
        for r in capped_sessions(batch_df, gap_ns, cap_ns).collect()
    }
    assert len(sessions) == 3
    for sid, r in sessions.items():
        stream_starts = {
            got[i][1] for i in got if got[i][0] == sid
        }
        assert stream_starts == {r["session_start"]}, (sid, r)
    # in-order arrival: nothing flagged late
    assert not any(r["is_late"] for r in collected)


def test_stream_capped_sessions_flags_late_rows(spark, tmp_path):
    """r5 advisor: a row arriving with ts < the saved last-event time
    used to silently join the open session AND regress the clock,
    diverging from the batch fold with no signal. Under the default
    ``late_policy="flag"`` the late row is emitted with is_late=true,
    assigned to the open session, and state is NOT advanced — so
    on-time rows keep exact batch-fold parity."""
    from arkflow_spark.streaming.state import capped_sessions_stream

    gap_ns = 3 * 3600 * 10**9
    cap_ns = 12 * 3600 * 10**9
    rows1 = [
        (1, "2024-01-01 00:00:00", 7),
        (2, "2024-01-01 02:00:00", 7),
    ]
    # event 3 is LATE (01:00 < saved prev 02:00); event 4 is on time
    # and must still split on the gap exactly as the batch fold of the
    # ON-TIME rows would (6h idle since 02:00)
    rows2 = [
        (3, "2024-01-01 01:00:00", 7),
        (4, "2024-01-01 08:00:00", 7),
    ]
    src = str(tmp_path / "late_src")
    mk = lambda rows: (
        spark.createDataFrame(
            rows, "event_id BIGINT, ts STRING, user_id BIGINT"
        )
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .coalesce(1)
    )
    mk(rows1).write.mode("append").parquet(src)
    collected = []

    def run_once():
        sdf = spark.readStream.schema(
            "event_id BIGINT, ts TIMESTAMP, user_id BIGINT"
        ).parquet(src)
        out = capped_sessions_stream(
            sdf, "user_id", "ts", "event_id", gap_ns, cap_ns
        )
        q = (
            out.writeStream.foreachBatch(
                lambda df, eid: collected.extend(df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "late_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    mk(rows2).write.mode("append").parquet(src)
    run_once()

    got = {r["event_id"]: r for r in collected}
    assert len(got) == 4
    assert [got[i]["is_late"] for i in (1, 2, 3, 4)] == [
        False, False, True, False,
    ]
    # the late row rides the open session without moving its start
    assert got[3]["session_id"] == 1
    assert got[3]["session_start"] == got[1]["session_start"]
    # on-time rows: gap split at 08:00 exactly as if the late row had
    # never arrived (state not regressed by event 3)
    assert [got[i]["session_id"] for i in (1, 2, 4)] == [1, 1, 2]


def test_capped_sessions_rejects_unknown_policy(spark):
    import pytest as _pytest

    from arkflow_spark.streaming.state import capped_sessions_stream

    with _pytest.raises(ValueError, match="late_policy"):
        capped_sessions_stream(
            spark.range(1).withColumn("ts", F.current_timestamp()),
            "id", "ts", "id", 1, 1, late_policy="bogus",
        )


def test_stream_growth_accounting_matches_batch(spark, tmp_path):
    """The incremental growth-accounting stream must classify each
    user-day exactly once across a checkpoint restart, and its daily
    rollup must equal the batch `events_growth_accounting`
    new/retained/resurrected counts over the same rows."""
    from collections import Counter

    from arkflow_spark.queries import QUERIES
    from arkflow_spark.streaming.state import growth_accounting_stream

    rows1 = [
        (1, "2024-01-01 05:00:00", 7),
        (2, "2024-01-01 09:00:00", 7),   # same day: one emission
        (3, "2024-01-01 06:00:00", 8),
        (4, "2024-01-02 06:00:00", 8),   # retained
    ]
    rows2 = [
        (5, "2024-01-02 07:00:00", 7),   # retained (restart carries state)
        (6, "2024-01-04 07:00:00", 7),   # resurrected (gap day)
        (7, "2024-01-04 08:00:00", 9),   # new
    ]
    src = str(tmp_path / "ga_src")
    mk = lambda rows: (
        spark.createDataFrame(
            rows, "event_id BIGINT, ts STRING, user_id BIGINT"
        )
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .coalesce(1)
    )
    mk(rows1).write.mode("append").parquet(src)
    collected = []

    def run_once():
        sdf = spark.readStream.schema(
            "event_id BIGINT, ts TIMESTAMP, user_id BIGINT"
        ).parquet(src)
        out = growth_accounting_stream(sdf, "user_id", "ts")
        q = (
            out.writeStream.foreachBatch(
                lambda df, eid: collected.extend(df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "ga_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    mk(rows2).write.mode("append").parquet(src)
    run_once()

    got = {(r["user_id"], str(r["day"])): r["status"] for r in collected}
    assert len(got) == len(collected), "user-day emitted more than once"
    assert got == {
        (7, "2024-01-01"): "new",
        (8, "2024-01-01"): "new",
        (8, "2024-01-02"): "retained",
        (7, "2024-01-02"): "retained",
        (7, "2024-01-04"): "resurrected",
        (9, "2024-01-04"): "new",
    }
    # daily rollup equals the batch decomposition over the same rows
    import tempfile

    batch_dir = str(tmp_path / "ga_batch")
    mk(rows1).unionByName(mk(rows2)).withColumn(
        "event_type", F.lit("view")
    ).withColumn("value", F.lit(1.0)).withColumn(
        "props", F.lit("{}")
    ).write.parquet(batch_dir + "/events.parquet")
    bq = {
        r["day"]: r
        for r in QUERIES["events_growth_accounting"](
            spark, batch_dir
        ).collect()
    }
    from collections import defaultdict

    agg = defaultdict(Counter)
    for (u, day), st in got.items():
        agg[day][st] += 1
    for day, r in bq.items():
        assert agg[day]["new"] == r["new_users"], day
        assert agg[day]["retained"] == r["retained"], day
        assert agg[day]["resurrected"] == r["resurrected"], day


# ------------------------------------------ keyed folds, no streaming query


class _FakeGroupState:
    """The GroupState surface the keyed folds use. Updates are stored as
    deep copies, so a fold that mutates its state after storing it shows
    up as a mismatch."""

    def __init__(self):
        self.value = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return copy.deepcopy(self.value)

    def update(self, value):
        self.value = copy.deepcopy(tuple(value))


def _one_key_rows() -> pd.DataFrame:
    """12 rows of one key in event-time order, shaped so every operator
    changes state: counter resets, bursts, funnel advances, matched and
    expired CEP pairs, Misra-Gries evictions, Bloom repeats, rate-limit
    drops, session gap and cap splits, new/retained/resurrected days."""
    secs = [0, 10, 30, 3600, 3605, 86400, 86420,
            259200, 259201, 259202, 345600, 345690]
    ids = list(range(1, 13))
    return pd.DataFrame(
        {
            "k": "a",
            "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(secs, "s"),
            "v": [1.0, 3.0, 2.0, 8.0, 0.5, 9.0, 9.5, 1.0, 2.0, 40.0, 3.0,
                  1.0],
            "typ": ["view", "x", "cart", "view", "buy", "start", "end",
                    "start", "x", "end", "start", "end"],
            "id": ids,
            "u": [1, 2, 1, 3, 1, 4, 5, 1, 2, 6, 1, 7],
            "fp": ["a", "b", "a", "c", "b", "d", "a", "e", "f", "g", "a",
                   "h"],
            "shard": 0,
            "priority": [
                hashlib.md5(str(i).encode()).hexdigest()[:12] for i in ids
            ],
        }
    )


_WINDOW_OUT = (
    "k STRING, window_id BIGINT, pos_in_window BIGINT, id BIGINT, v DOUBLE"
)
_GAP_NS, _CAP_NS = 60 * 10**9, 20 * 10**9

# name -> build(state module, df)
_FOLD_CASES = {
    "sliding_count_window_3_2": lambda s, df: s.sliding_count_window_stream(
        df, 3, 2, "k", ["id", "v"], _WINDOW_OUT
    ),
    "sliding_count_window_3_3": lambda s, df: s.sliding_count_window_stream(
        df, 3, 3, "k", ["id", "v"], _WINDOW_OUT
    ),
    "ewma": lambda s, df: s.ewma_stream(df, 0.3, "k", "ts", "v"),
    "rolling_zscore": lambda s, df: s.rolling_zscore_stream(
        df, 6, "k", "ts", "v", threshold=1.5
    ),
    "counter_rate": lambda s, df: s.counter_rate_stream(df, "k", "ts", "v"),
    "funnel": lambda s, df: s.funnel_stream(
        df, ["view", "cart", "buy"], "k", "ts", "typ"
    ),
    "cep_pattern": lambda s, df: s.cep_pattern_stream(
        df, "k", "ts", "typ", "start", "end", 60
    ),
    "burst_hysteresis": lambda s, df: s.burst_hysteresis_stream(
        df, "k", "ts", "v", 5.0, 2.0
    ),
    "xmr_limits": lambda s, df: s.xmr_limits_stream(
        df, "k", "ts", "v", k=1.0
    ),
    "page_hinkley": lambda s, df: s.page_hinkley_stream(
        df, "k", "ts", "v", lam=5.0
    ),
    "p2_quantile": lambda s, df: s.p2_quantile_stream(
        df, "k", "ts", "v", p=0.7
    ),
    "rate_limit": lambda s, df: s.rate_limit_stream(
        df, "k", "ts", limit=2, window_s=60
    ),
    "cusum": lambda s, df: s.cusum_stream(df, "k", "ts", "v", 3.0, h=4.0),
    "bloom_dedup": lambda s, df: s.bloom_dedup_stream(df, "k", "ts", "fp"),
    "hll_cardinality": lambda s, df: s.hll_cardinality_stream(
        df, "k", "ts", "fp"
    ),
    "capped_sessions": lambda s, df: s.capped_sessions_stream(
        df, "k", "ts", "id", _GAP_NS, _CAP_NS
    ),
    "growth_accounting": lambda s, df: s.growth_accounting_stream(
        df, "k", "ts"
    ),
    "heavy_hitters": lambda s, df: s.heavy_hitters_stream(df, "u", 2),
    "ddsketch": lambda s, df: s.ddsketch_stream(df, "k", "v"),
    "uniform_sample": lambda s, df: s.uniform_sample_stream(df, "id", 3),
}
# grouped by shard instead of by "k"
_SHARD_KEYED = {"heavy_hitters", "uniform_sample"}
# re-emit a whole summary, tagged with a per-batch version, every batch
_SUMMARY_EMITTERS = {"heavy_hitters", "ddsketch", "uniform_sample"}


@pytest.mark.parametrize("name", list(_FOLD_CASES))
def test_keyed_fold_is_split_invariant(spark, monkeypatch, name):
    """One key's rows fed as one micro-batch, or split in two at any row,
    emit the same rows and store the same state. The per-group function
    is captured from a stubbed applyInPandasWithState and driven with a
    fake GroupState, so no streaming query runs. Summary emitters re-emit
    every batch, so only their final state (less ``version``) counts."""
    from pyspark.sql.pandas.group_ops import PandasGroupedOpsMixin

    from arkflow_spark.streaming import state as state_ops

    key = (0,) if name in _SHARD_KEYED else ("a",)
    summary = name in _SUMMARY_EMITTERS
    captured = []
    monkeypatch.setattr(
        PandasGroupedOpsMixin,
        "applyInPandasWithState",
        lambda self, fn, **kw: captured.append(fn),
    )
    _FOLD_CASES[name](
        state_ops,
        spark.createDataFrame(
            [],
            "k STRING, ts TIMESTAMP, v DOUBLE, typ STRING, id BIGINT, "
            "u BIGINT, fp STRING",
        ),
    )
    (fn,) = captured
    rows = _one_key_rows()

    def run(*batches):
        state = _FakeGroupState()
        emitted = [
            tuple(None if pd.isna(x) else x for x in r)
            for b in batches
            for out in fn(key, [b.reset_index(drop=True)], state)
            for r in out.itertuples(index=False, name=None)
        ]
        return emitted, state.value

    whole, whole_state = run(rows)
    assert summary or whole
    for cut in range(1, len(rows)):
        emitted, stored = run(rows.iloc[:cut], rows.iloc[cut:])
        if summary:
            assert stored[:-1] == whole_state[:-1], cut
        else:
            assert emitted == whole, cut
            assert stored == whole_state, cut


@pytest.mark.parametrize("form", ["sliding_count_window_stream"])
@pytest.mark.parametrize(
    "window_size,slide_size", [(3, 5), (3, 0), (0, 1)]
)
def test_stream_sliding_count_window_rejects_bad_sizes(
    spark, form, window_size, slide_size
):
    """A slide longer than the window made the output depend on where
    micro-batch boundaries fell (skipped rows leaked into the next
    window); a zero size never drains the buffer, so the fold never
    ends. The stream form rejects them up front."""
    from arkflow_spark.streaming import state as state_ops

    with pytest.raises(ValueError, match="slide_size"):
        getattr(state_ops, form)(
            spark.createDataFrame([], "k STRING, id BIGINT"),
            window_size,
            slide_size,
            "k",
            ["id"],
            "k STRING, window_id BIGINT, pos_in_window BIGINT, id BIGINT",
        )
