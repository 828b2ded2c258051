"""Client sinks: HTTP, MongoDB, InfluxDB, Redis, MQTT, NATS, Pulsar.

Reference parity targets (all foreachBatch-per-ack-range semantics,
output/mod.rs:41-49):
- http     -> output/http.rs:235     (POST ndjson bodies)
- mongodb  -> output/mongodb.rs:303  (insert one document per row)
- influxdb -> output/influxdb.rs:573 (v2 line-protocol writes)
- redis    -> output/redis.rs:192    (publish channel or SET key/value)
- mqtt     -> output/mqtt.rs:222     (publish topic/payload, qos)
- nats     -> output/nats.rs:233     (publish subject/payload)
- pulsar   -> output/pulsar.rs:208   (send topic/payload)

Design: every sink serializes rows EXECUTOR-SIDE via ``foreachPartition``
(the driver never materializes a batch, so a sink scales with partition
count), opening one client per partition and closing it on exit.
Serialization is pure Python in ``sinks.serializers`` and unit tested
without brokers; the client libraries (pymongo, influxdb-client, redis,
paho-mqtt, nats-py, pulsar-client) are absent in this container, so
construction of a *real* client is gated behind an import-try and tests
inject a picklable ``client_factory`` (spool-dir fake) through the conf.
HTTP's default client is ``requests``, live-tested against a local server.

Scale notes: per-partition clients mean connection count == partition count
(bound it with ``df.coalesce`` upstream if the broker minds); rows stream
through in ``batch_rows`` chunks so executor memory stays flat regardless
of batch size.
"""

from __future__ import annotations

import itertools
from typing import Any, Callable, Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arkflow_spark.registry import OUTPUTS
from arkflow_spark.sinks.serializers import row_to_doc, to_influx_line, to_payload


def _chunks(items: Iterable, n: int) -> Iterator[list]:
    """Yield ``items`` as lists of at most ``n``, never an empty one, so a
    partition streams through in bounded request bodies."""
    it = iter(items)
    while chunk := list(itertools.islice(it, n)):
        yield chunk


class _ClientSink:
    """Shared foreachPartition plumbing: subclass provides
    ``_default_factory()`` -> client and ``_write(client, rows)``."""

    def __init__(self, conf: dict):
        self.conf = dict(conf)
        # test seam: a picklable zero-arg callable returning a client object
        self.client_factory: Callable[[], Any] | None = conf.get("client_factory")

    # subclass contract ----------------------------------------------------
    def _default_factory(self) -> Any:  # pragma: no cover - needs client lib
        raise NotImplementedError

    @staticmethod
    def _write(client: Any, rows: Iterable, conf: dict) -> None:
        raise NotImplementedError

    # ----------------------------------------------------------------------
    def write_batch(self, df: DataFrame, epoch_id: int = 0) -> None:
        factory = self.client_factory or self._default_factory()
        write, conf = self._write, self.conf
        # per-row topic routing by SQL expression (the reference's
        # Expr<String> topic config, expr/mod.rs:30-60) — evaluated
        # JVM-side before the partition loop, so routing stays codegen'd
        if conf.get("topic_expr"):
            df = df.withColumn(
                "__meta_topic__", F.expr(conf["topic_expr"]).cast("string")
            )

        def run_partition(rows) -> None:
            client = factory()
            try:
                write(client, rows, conf)
            finally:
                close = getattr(client, "close", None)
                if close:
                    close()

        df.foreachPartition(run_partition)


@OUTPUTS.register("http")
class HttpOutput(_ClientSink):
    """POST batches to ``url`` (reference: output/http.rs:235). Rows are
    projected to JSON lines JVM-side (``__meta_*`` columns dropped), then
    each partition POSTs one ndjson body per ``batch_rows`` chunk.
    Client contract: ``post(lines: list[str])``."""

    def __init__(self, conf: dict):
        super().__init__(conf)
        self.url = conf["url"]

    def _default_factory(self):
        url = self.url
        headers = {
            "Content-Type": "application/x-ndjson",
            **self.conf.get("headers", {}),
        }
        timeout_s = float(self.conf.get("timeout_s", 10))

        def factory():
            import requests

            class _W:
                def post(self, lines):
                    resp = requests.post(
                        url, data="\n".join(lines).encode(), headers=headers,
                        timeout=timeout_s,
                    )
                    resp.raise_for_status()

            return _W()

        return factory

    def write_batch(self, df: DataFrame, epoch_id: int = 0) -> None:
        cols = [c for c in df.columns if not c.startswith("__meta_")]
        lines = df.select(F.to_json(F.struct(*cols)).alias("line"))
        super().write_batch(lines, epoch_id)

    @staticmethod
    def _write(client, rows, conf) -> None:
        lines = (r["line"] for r in rows)
        for chunk in _chunks(lines, int(conf.get("batch_rows", 1000))):
            client.post(chunk)


@OUTPUTS.register("mongodb")
class MongoDbOutput(_ClientSink):
    """Insert rows as documents (reference: output/mongodb.rs:303).
    Client contract: ``client.insert_many(list_of_dicts)`` — pymongo's
    ``Collection`` satisfies it via the default factory."""

    def _default_factory(self):  # pragma: no cover - pymongo not installed
        uri = self.conf.get("uri", "mongodb://localhost:27017")
        db, coll = self.conf["database"], self.conf["collection"]

        def factory():
            import pymongo

            return pymongo.MongoClient(uri)[db][coll]

        return factory

    @staticmethod
    def _write(client, rows, conf) -> None:
        docs = (row_to_doc(r) for r in rows)
        for chunk in _chunks(docs, int(conf.get("batch_rows", 1000))):
            client.insert_many(chunk)


@OUTPUTS.register("influxdb")
class InfluxDbOutput(_ClientSink):
    """v2 line-protocol writes (reference: output/influxdb.rs:573; tag/
    field/timestamp mapping per its measurement config). Client contract:
    ``client.write(lines: list[str])``."""

    def __init__(self, conf: dict):
        super().__init__(conf)
        self.measurement = conf["measurement"]
        self.tag_cols = list(conf.get("tags", []))
        self.field_cols = list(conf.get("fields", []))
        self.ts_col = conf.get("timestamp_col")

    def _default_factory(self):  # pragma: no cover - client not installed
        url = self.conf.get("url", "http://localhost:8086")
        token, org, bucket = (
            self.conf.get("token", ""),
            self.conf.get("org", ""),
            self.conf["bucket"],
        )

        def factory():
            import influxdb_client

            c = influxdb_client.InfluxDBClient(url=url, token=token, org=org)
            api = c.write_api()

            class _W:
                def write(self, lines):
                    api.write(bucket=bucket, record="\n".join(lines))

                def close(self):
                    c.close()

            return _W()

        return factory

    def write_batch(self, df: DataFrame, epoch_id: int = 0) -> None:
        # resolve field columns once, driver-side, from the schema
        if not self.field_cols:
            used = set(self.tag_cols) | {self.ts_col}
            self.conf["fields"] = [c for c in df.columns if c not in used]
        else:
            self.conf["fields"] = self.field_cols
        self.conf["tags"] = self.tag_cols
        self.conf["measurement"] = self.measurement
        self.conf["timestamp_col"] = self.ts_col
        super().write_batch(df, epoch_id)

    @staticmethod
    def _write(client, rows, conf) -> None:
        measurement = conf["measurement"]
        tags, fields = conf["tags"], conf["fields"]
        ts_col = conf.get("timestamp_col")
        lines = (
            to_influx_line(r, measurement, tags, fields, ts_col) for r in rows
        )
        kept = (line for line in lines if line is not None)
        for chunk in _chunks(kept, int(conf.get("batch_rows", 1000))):
            client.write(chunk)


@OUTPUTS.register("redis")
class RedisOutput(_ClientSink):
    """Publish to a channel or SET key/value (reference: output/redis.rs:192,
    modes publish|set). Client contract: ``publish(channel, payload)`` /
    ``set(key, payload)`` — the redis-py client satisfies both."""

    def _default_factory(self):  # pragma: no cover - redis not installed
        url = self.conf.get("url", "redis://localhost:6379")

        def factory():
            import redis

            return redis.Redis.from_url(url)

        return factory

    @staticmethod
    def _write(client, rows, conf) -> None:
        mode = conf.get("mode", "publish")
        target = conf.get("channel") or conf.get("key_prefix", "")
        key_field = conf.get("key_field")
        for r in rows:
            payload = to_payload(r)
            if mode == "set":
                key = str(r[key_field]) if key_field else target
                client.set(target + key if key_field else key, payload)
            else:
                client.publish(target, payload)


class _PublishSink(_ClientSink):
    """Topic/payload publishers (mqtt/nats/pulsar share the shape).
    Client contract: ``publish(topic: str, payload: bytes)``."""

    topic_key = "topic"

    @staticmethod
    def _write(client, rows, conf) -> None:
        topic = conf.get("topic") or conf.get("subject")
        topic_field = "__meta_topic__" if conf.get("topic_expr") else conf.get(
            "topic_field"
        )
        for r in rows:
            t = str(r[topic_field]) if topic_field else topic
            client.publish(t, to_payload(r))


@OUTPUTS.register("mqtt")
class MqttOutput(_PublishSink):
    """MQTT publish (reference: output/mqtt.rs:222; qos/client_id config)."""

    def _default_factory(self):  # pragma: no cover - paho not installed
        host = self.conf.get("host", "localhost")
        port = int(self.conf.get("port", 1883))
        qos = int(self.conf.get("qos", 1))
        client_id = self.conf.get("client_id", "arkflow-spark")

        def factory():
            import paho.mqtt.client as mqtt

            c = mqtt.Client(client_id=client_id)
            c.connect(host, port)
            c.loop_start()

            class _W:
                def publish(self, topic, payload):
                    c.publish(topic, payload, qos=qos).wait_for_publish()

                def close(self):
                    c.loop_stop()
                    c.disconnect()

            return _W()

        return factory


@OUTPUTS.register("nats")
class NatsOutput(_PublishSink):
    """NATS publish (reference: output/nats.rs:233; subject config)."""

    def _default_factory(self):  # pragma: no cover - nats-py not installed
        url = self.conf.get("url", "nats://localhost:4222")

        def factory():
            import asyncio

            import nats

            loop = asyncio.new_event_loop()
            nc = loop.run_until_complete(nats.connect(url))

            class _W:
                def publish(self, subject, payload):
                    loop.run_until_complete(nc.publish(subject, payload))

                def close(self):
                    loop.run_until_complete(nc.drain())
                    loop.close()

            return _W()

        return factory


@OUTPUTS.register("pulsar")
class PulsarOutput(_PublishSink):
    """Pulsar send (reference: output/pulsar.rs:208; topic config)."""

    def _default_factory(self):  # pragma: no cover - pulsar not installed
        url = self.conf.get("url", "pulsar://localhost:6650")
        topic = self.conf.get("topic")

        def factory():
            import pulsar

            c = pulsar.Client(url)
            producers: dict[str, Any] = {}

            class _W:
                def publish(self, t, payload):
                    p = producers.get(t)
                    if p is None:
                        p = producers[t] = c.create_producer(t or topic)
                    p.send(payload)

                def close(self):
                    c.close()

            return _W()

        return factory
