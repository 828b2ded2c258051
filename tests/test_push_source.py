"""Custom Python DataSource tests: spool-dir connector, batch + streaming,
including incremental offset tracking across micro-batches."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from arkflow_spark.sources.brokers import register
from arkflow_spark.sources.push_source import spool_write


def test_spooldir_batch_read(spark, tmp_path):
    spool = str(tmp_path / "spool")
    for i in range(5):
        spool_write(spool, json.dumps({"i": i}).encode())
    register(spark)
    df = spark.read.format("spooldir").option("path", spool).load()
    rows = df.orderBy("__meta_offset").collect()
    assert len(rows) == 5
    assert [r["__meta_offset"] for r in rows] == [0, 1, 2, 3, 4]
    assert json.loads(bytes(rows[3]["__value__"]))["i"] == 3
    assert rows[0]["__meta_source"] == "spooldir"


def test_spooldir_streaming_incremental(spark, tmp_path):
    """Messages appended between micro-batches are picked up exactly once
    (the offset-range contract every push connector inherits)."""
    spool = str(tmp_path / "spool2")
    ckpt = str(tmp_path / "ckpt")
    for i in range(3):
        spool_write(spool, json.dumps({"i": i}).encode())
    register(spark)
    seen: list[int] = []
    q = (
        spark.readStream.format("spooldir")
        .option("path", spool)
        .load()
        .writeStream.foreachBatch(
            lambda df, eid: seen.extend(
                r["__meta_offset"] for r in df.collect()
            )
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        assert sorted(seen) == [0, 1, 2]
        for i in range(3, 6):
            spool_write(spool, json.dumps({"i": i}).encode())
        q.processAllAvailable()
        assert sorted(seen) == [0, 1, 2, 3, 4, 5]  # no re-delivery, no loss
    finally:
        q.stop()


def test_spooldir_through_engine_pipeline(spark, tmp_path):
    """Spool source -> json_to_arrow -> sql, through the engine's processor
    chain (raw ``__value__`` convention end-to-end)."""
    from arkflow_spark.registry import PROCESSORS, load_all

    load_all()
    spool = str(tmp_path / "spool3")
    for i in range(4):
        spool_write(spool, json.dumps({"i": i, "v": i * 10}).encode())
    register(spark)
    df = spark.read.format("spooldir").option("path", spool).load()
    parsed = PROCESSORS.build({"type": "json_to_arrow"}).process(spark, df)
    out = PROCESSORS.build(
        {"type": "sql", "query": "SELECT sum(v) AS total, count(*) AS n FROM flow"}
    ).process(spark, parsed)
    r = out.collect()[0]
    assert r["total"] == 60 and r["n"] == 4


def test_compact_on_commit_keeps_offsets_monotonic(tmp_path):
    """Opt-in retention (reference input/mod.rs:43-52 ack contract):
    committed messages are deleted, yet offsets never regress — new writes
    continue above the persisted high-water mark."""
    from arkflow_spark.sources.push_source import (
        SpoolDirStreamReader,
        _max_seq,
        spool_write,
    )

    spool = str(tmp_path / "spool")
    for i in range(3):
        assert spool_write(spool, f"m{i}".encode()) == i
    reader = SpoolDirStreamReader({"path": spool, "compact_on_commit": "true"})
    end = reader.latestOffset()
    assert end == {"seq": 2}
    reader.commit(end)
    import os

    assert [f for f in os.listdir(spool) if f.endswith(".msg")] == []
    # offsets continue past the compacted range, never reset
    assert _max_seq(spool) == 2
    assert spool_write(spool, b"next") == 3
    assert reader.latestOffset() == {"seq": 3}
    (part,) = reader.partitions(end, {"seq": 3})
    assert [bytes(r[0]) for r in reader.read(part)] == [b"next"]


def test_commit_without_compaction_is_noop(tmp_path):
    from arkflow_spark.sources.push_source import SpoolDirStreamReader, spool_write

    spool = str(tmp_path / "spool")
    spool_write(spool, b"keep")
    reader = SpoolDirStreamReader({"path": spool})
    reader.commit(reader.latestOffset())
    import os

    assert [f for f in os.listdir(spool) if f.endswith(".msg")] == ["0.msg"]


@pytest.mark.parametrize(
    "type_name",
    ["spooldir", "mqtt_broker", "websocket", "nats", "pulsar", "redis_sub",
     "modbus"],
)
def test_spool_inputs_build_through_registry(spark, tmp_path, type_name):
    """Every spool-backed engine input builds by name through ``INPUTS``
    and reads its spool in batch mode: brokers via the deterministic fake
    client, spooldir from messages a bridge already wrote. Rows keep their
    payloads and tag ``__meta_source`` with the type name."""
    from arkflow_spark.registry import INPUTS, load_all

    load_all()
    spool = str(tmp_path / "spool")
    conf = {"type": type_name, "path": spool}
    if type_name == "spooldir":
        for i in range(2):
            spool_write(spool, f"msg-{i}".encode())
        want = ["msg-0", "msg-1"]
    else:
        conf["client"] = "fake"
        want = ["msg-0", "msg-1", "msg-2"]
    rows = INPUTS.build(conf).read_batch(spark).orderBy("__meta_offset").collect()
    assert [bytes(r["__value__"]).decode() for r in rows] == want
    assert {r["__meta_source"] for r in rows} == {type_name}
