"""Custom streaming connectors via the Python DataSource API (Spark 4).

The reference's long tail of push-style inputs — MQTT, WebSocket, NATS,
Pulsar, Redis pub/sub, HTTP webhook (input/{mqtt,websocket,nats,pulsar,
redis,http}.rs) — all reduce to the same connector shape: an external feed
appends messages; the source tracks a monotonically increasing offset,
serves (start, end] ranges, and commits consumed offsets.

``SpoolDirDataSource`` implements that shape end-to-end against a local
append-only spool (one JSON file per message, named by sequence number) —
the durable landing zone an HTTP/MQTT bridge writes into. It exercises the
full DataSourceStreamReader contract (initialOffset / latestOffset /
partitions / read / commit) and is what the broker-backed variants subclass:
replace ``_list_pending`` / ``_read_range`` with client calls, keep the
offset machinery.

Batch reads are supported too (``reader``), so the same `format("spooldir")`
works for backfill. ``brokers.register(spark)`` registers this source
together with the broker formats.

Output schema matches the reference's raw-batch convention:
``__value__ BINARY, __meta_source STRING, __meta_offset BIGINT,
__meta_timestamp TIMESTAMP``.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

SCHEMA = StructType(
    [
        StructField("__value__", BinaryType(), False),
        StructField("__meta_source", StringType(), True),
        StructField("__meta_offset", LongType(), False),
        StructField("__meta_timestamp", TimestampType(), True),
    ]
)


def _read_hwm(spool_dir: str) -> int:
    """Compaction high-water mark: offsets stay monotonic even after
    consumed .msg files are deleted."""
    try:
        with open(os.path.join(spool_dir, ".hwm")) as fh:
            return int(fh.read().strip() or -1)
    except (FileNotFoundError, ValueError):
        return -1


def spool_write(spool_dir: str, payload: bytes) -> int:
    """Producer helper: append one message, return its offset. What an
    HTTP endpoint / MQTT callback calls per message.

    Concurrency-safe across threads AND processes: the sequence number is
    claimed by an O_EXCL create of ``{seq}.claim`` (atomic on POSIX), so
    two simultaneous writers — e.g. parallel webhook POSTs into the
    threaded ingest server — can never overwrite each other's message;
    the loser recomputes and claims the next free slot. The payload still
    lands via tmp-write + rename, so readers only ever see complete
    messages; the claim marker is removed after publication.
    """
    os.makedirs(spool_dir, exist_ok=True)
    while True:
        names = os.listdir(spool_dir)
        used = [
            int(f.split(".")[0])
            for f in names
            if f.endswith((".msg", ".claim"))
        ]
        seq = max(max(used, default=-1), _read_hwm(spool_dir)) + 1
        claim = os.path.join(spool_dir, f"{seq}.claim")
        try:
            fd = os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            continue  # lost the race for this slot; rescan
        os.close(fd)
        if os.path.exists(os.path.join(spool_dir, f"{seq}.msg")):
            # stale winner: the slot was claimed, published, and released
            # between our listdir and our claim — never overwrite it
            os.unlink(claim)
            continue
        try:
            tmp = os.path.join(spool_dir, f".{seq}.tmp")
            with open(tmp, "wb") as fh:
                fh.write(payload)
            os.replace(tmp, os.path.join(spool_dir, f"{seq}.msg"))
        finally:
            try:
                os.unlink(claim)
            except FileNotFoundError:
                pass
        return seq


def _max_seq(path: str) -> int:
    try:
        names = [f for f in os.listdir(path) if f.endswith(".msg")]
    except FileNotFoundError:
        return -1
    # the hwm floor keeps latestOffset monotonic across compaction
    return max(
        max((int(f.split(".")[0]) for f in names), default=-1),
        _read_hwm(path),
    )


@dataclass
class _RangePartition(InputPartition):
    start: int  # exclusive
    end: int  # inclusive


class SpoolDirStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.path = options["path"]
        self.source_name = options.get("source_name", "spooldir")
        self.rows_per_partition = int(options.get("rowsperpartition", 8192))
        # opt-in retention: delete messages once their offset range is
        # durably committed (Spark calls commit() only after the batch is
        # checkpointed, so compacted files are never needed for replay)
        self.compact_on_commit = (
            str(options.get("compact_on_commit", "false")).lower() == "true"
        )

    # -- offset protocol --------------------------------------------------
    def initialOffset(self) -> dict:
        return {"seq": -1}

    def latestOffset(self) -> dict:
        return {"seq": _max_seq(self.path)}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["seq"], end["seq"]
        if hi <= lo:
            return [_RangePartition(lo, lo)]
        step = self.rows_per_partition
        parts = []
        s = lo
        while s < hi:
            e = min(s + step, hi)
            parts.append(_RangePartition(s, e))
            s = e
        return parts

    def read(self, partition: _RangePartition):
        import datetime

        for seq in range(partition.start + 1, partition.end + 1):
            p = os.path.join(self.path, f"{seq}.msg")
            try:
                with open(p, "rb") as fh:
                    payload = fh.read()
                ts = datetime.datetime.utcfromtimestamp(os.path.getmtime(p))
            except FileNotFoundError:
                continue  # compacted away after commit
            yield (payload, self.source_name, seq, ts)

    def commit(self, end: dict) -> None:
        # ack contract (reference input/mod.rs:43-52): consumed messages may
        # be compacted once the engine has durably processed them
        if not self.compact_on_commit:
            return
        committed = end["seq"]
        try:
            names = os.listdir(self.path)
        except FileNotFoundError:
            return
        # persist the high-water mark FIRST so offsets never regress even
        # if we crash mid-compaction (spool_write consults it)
        if committed > _read_hwm(self.path):
            tmp = os.path.join(self.path, ".hwm.tmp")
            with open(tmp, "w") as fh:
                fh.write(str(committed))
            os.replace(tmp, os.path.join(self.path, ".hwm"))
        for f in names:
            if f.endswith(".msg") and int(f.split(".")[0]) <= committed:
                try:
                    os.unlink(os.path.join(self.path, f))
                except FileNotFoundError:
                    pass  # concurrent compaction


class SpoolDirBatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self.stream = SpoolDirStreamReader(options)

    def partitions(self):
        return self.stream.partitions({"seq": -1}, {"seq": _max_seq(self.stream.path)})

    def read(self, partition):
        return self.stream.read(partition)


class SpoolDirDataSource(DataSource):
    """spark.readStream.format("spooldir").option("path", dir).load()"""

    @classmethod
    def name(cls) -> str:
        return "spooldir"

    def schema(self) -> StructType:
        return SCHEMA

    def streamReader(self, schema) -> SpoolDirStreamReader:
        return SpoolDirStreamReader(self.options)

    def reader(self, schema) -> SpoolDirBatchReader:
        return SpoolDirBatchReader(self.options)
