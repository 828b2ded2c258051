"""Broker-backed push sources: subscribe -> spool -> offset pipeline.

Closes the client half of the reference's push inputs
(crates/arkflow-plugin/src/input/{mqtt,websocket,nats,pulsar,redis,
modbus}.rs): each broker gets a thin *client adapter* exposing one
contract — ``subscribe(on_message)`` delivering payload bytes until closed
— and a shared :class:`BrokerStreamReader` that pumps those payloads into
the spool dir via :func:`push_source.spool_write`, then serves them through
the inherited DataSourceStreamReader offset machinery (initialOffset /
latestOffset / partitions / read / commit).

Client resolution per source, in order:

1. ``client: fake`` option — deterministic in-process feed
   (:class:`FakeBrokerClient`), so the subscribe -> spool -> offset path is
   testable with no broker or client library;
2. ``client: module:callable`` — injectable factory, imported by path and
   called with the options dict (Spark DataSource options are strings, so
   injection is by reference, not by object);
3. the broker's default adapter, import-gated on its (absent-in-container)
   client library with an actionable error.

The pump runs on the DRIVER (offset discovery happens there); executors
only read committed spool files — the same split the reference has between
its connection task and its batch reads.
"""

from __future__ import annotations

import importlib
import json
import threading
import time

from arkflow_spark.sources.push_source import (
    SpoolDirBatchReader,
    SpoolDirDataSource,
    SpoolDirStreamReader,
    spool_write,
)


class FakeBrokerClient:
    """Deterministic feed: emits ``fake_count`` messages synchronously on
    subscribe. Options: ``fake_count`` (default 3), ``fake_prefix``."""

    synchronous = True

    def __init__(self, options: dict):
        self.count = int(options.get("fake_count", 3))
        self.prefix = options.get("fake_prefix", "msg")

    def subscribe(self, on_message) -> None:
        for i in range(self.count):
            on_message(f"{self.prefix}-{i}".encode())

    def close(self) -> None:
        pass


def resolve_client(options: dict, default_factory):
    spec = options.get("client", "")
    if spec == "fake":
        return FakeBrokerClient(options)
    if ":" in spec:
        mod, _, fn = spec.partition(":")
        return getattr(importlib.import_module(mod), fn)(options)
    return default_factory(options)


class BrokerStreamReader(SpoolDirStreamReader):
    """Spool reader + driver-side subscriber pump. The pump starts lazily
    at the first offset discovery and appends every delivered payload to
    the spool, where the inherited offset/partition/read machinery picks
    it up exactly like an externally-bridged spool."""

    def __init__(self, options: dict, default_factory):
        super().__init__(options)
        self._client = resolve_client(options, default_factory)
        self._pump_started = False

    def __getstate__(self):
        # executors only run read() over the spool; the client (threads,
        # sockets, locks) is driver-only state and must not ship
        state = dict(self.__dict__)
        state["_client"] = None
        state["_pump_started"] = True
        return state

    def _ensure_pump(self) -> None:
        if self._pump_started:
            return
        self._pump_started = True
        path = self.path
        client = self._client
        stop = self._pump_stop = threading.Event()

        def deliver(payload: bytes) -> None:
            spool_write(path, payload)

        if getattr(client, "synchronous", False):
            # deterministic for tests: messages land before offsets
            client.subscribe(deliver)
            return

        def pump() -> None:
            # a transient broker error must not silently kill ingestion:
            # log and resubscribe with backoff until the reader stops
            import logging

            while not stop.is_set():
                try:
                    client.subscribe(deliver)
                    return  # subscribe returned cleanly (client closed)
                except Exception as e:  # noqa: BLE001 - resilience loop
                    logging.getLogger(__name__).warning(
                        "broker pump error (%s); resubscribing in 1s", e
                    )
                    stop.wait(1.0)

        threading.Thread(target=pump, daemon=True).start()

    def latestOffset(self) -> dict:
        self._ensure_pump()
        return super().latestOffset()

    def stop(self) -> None:
        if getattr(self, "_pump_stop", None) is not None:
            self._pump_stop.set()
        self._client.close()


# ------------------------------------------------------- default adapters
# Each returns a client with subscribe(on_message)/close(), import-gated on
# its publicly available Python client library.


def _gate(libname: str, pipname: str):
    def raise_gated(e):
        raise NotImplementedError(
            f"this source needs {pipname} (pip install {pipname}); "
            "alternatively pass client=fake for tests or "
            "client=module:factory for a custom adapter, or bridge into "
            "format('spooldir') externally"
        ) from e

    try:
        return importlib.import_module(libname), None
    except ImportError as e:
        return None, lambda err=e: raise_gated(err)


def mqtt_client(options: dict):  # pragma: no cover - lib absent in container
    """paho-mqtt subscriber (reference: input/mqtt.rs:276)."""
    mod, gated = _gate("paho.mqtt.client", "paho-mqtt")
    if gated:
        gated()

    class _Mqtt:
        def __init__(self):
            # paho-mqtt >= 2.0 requires an explicit callback API version
            try:
                self.c = mod.Client(mod.CallbackAPIVersion.VERSION2)
            except AttributeError:  # paho 1.x
                self.c = mod.Client()
            host, port = options.get("host", "localhost"), int(options.get("port", 1883))
            self.c.connect(host, port)
            self.topic = options.get("topic", "#")

        def subscribe(self, on_message):
            self.c.on_message = lambda _c, _u, m: on_message(m.payload)
            self.c.subscribe(self.topic)
            self.c.loop_forever()

        def close(self):
            self.c.disconnect()

    return _Mqtt()


def websocket_client(options: dict):  # pragma: no cover
    """websocket-client feed (reference: input/websocket.rs)."""
    mod, gated = _gate("websocket", "websocket-client")
    if gated:
        gated()

    class _Ws:
        def __init__(self):
            self.url = options["url"]
            self.app = None

        def subscribe(self, on_message):
            self.app = mod.WebSocketApp(
                self.url,
                on_message=lambda _ws, m: on_message(
                    m if isinstance(m, bytes) else m.encode()
                ),
            )
            self.app.run_forever()

        def close(self):
            if self.app:
                self.app.close()

    return _Ws()


def nats_client(options: dict):  # pragma: no cover
    """nats-py subscriber (reference: input/nats.rs)."""
    mod, gated = _gate("nats", "nats-py")
    if gated:
        gated()

    class _Nats:
        def __init__(self):
            self.url = options.get("url", "nats://localhost:4222")
            self.subject = options.get("subject", ">")
            self._stop = threading.Event()

        def subscribe(self, on_message):
            import asyncio

            async def handler(m):  # nats-py requires a coroutine callback
                on_message(m.data)

            async def run():
                nc = await mod.connect(self.url)
                await nc.subscribe(self.subject, cb=handler)
                while not self._stop.is_set():
                    await asyncio.sleep(0.1)
                await nc.drain()

            asyncio.run(run())

        def close(self):
            self._stop.set()

    return _Nats()


def pulsar_client(options: dict):  # pragma: no cover
    """pulsar-client consumer loop (reference: input/pulsar.rs)."""
    mod, gated = _gate("pulsar", "pulsar-client")
    if gated:
        gated()

    class _Pulsar:
        def __init__(self):
            self.c = mod.Client(options.get("service_url", "pulsar://localhost:6650"))
            self.consumer = self.c.subscribe(
                options["topic"], options.get("subscription", "arkflow")
            )
            self._stop = threading.Event()

        def subscribe(self, on_message):
            while not self._stop.is_set():
                msg = self.consumer.receive()
                on_message(msg.data())
                self.consumer.acknowledge(msg)

        def close(self):
            self._stop.set()
            self.c.close()

    return _Pulsar()


def redis_client(options: dict):  # pragma: no cover
    """redis-py pub/sub listener (reference: input/redis.rs)."""
    mod, gated = _gate("redis", "redis")
    if gated:
        gated()

    class _Redis:
        def __init__(self):
            self.r = mod.Redis(
                host=options.get("host", "localhost"),
                port=int(options.get("port", 6379)),
            )
            self.channels = options.get("channels", "*").split(",")

        def subscribe(self, on_message):
            ps = self.r.pubsub()
            ps.psubscribe(*self.channels)
            for m in ps.listen():
                if m["type"] in ("message", "pmessage"):
                    data = m["data"]
                    on_message(data if isinstance(data, bytes) else str(data).encode())

        def close(self):
            self.r.close()

    return _Redis()


def modbus_client(options: dict):  # pragma: no cover
    """pymodbus register poller (reference: input/modbus.rs:239 — modbus is
    poll-based; each poll emits one JSON payload of the read registers)."""
    mod, gated = _gate("pymodbus.client", "pymodbus")
    if gated:
        gated()

    class _Modbus:
        def __init__(self):
            self.c = mod.ModbusTcpClient(
                options.get("host", "localhost"), port=int(options.get("port", 502))
            )
            self.address = int(options.get("address", 0))
            self.quantity = int(options.get("quantity", 1))
            self.interval_s = float(options.get("interval_ms", 1000)) / 1000.0
            self._stop = threading.Event()

        def subscribe(self, on_message):
            self.c.connect()
            while not self._stop.is_set():
                rr = self.c.read_holding_registers(self.address, self.quantity)
                on_message(
                    json.dumps(
                        {"address": self.address, "registers": list(rr.registers)}
                    ).encode()
                )
                time.sleep(self.interval_s)

        def close(self):
            self._stop.set()
            self.c.close()

    return _Modbus()


# ----------------------------------------------------------- data sources


def _broker_source(fmt_name: str, factory):
    class _Source(SpoolDirDataSource):
        @classmethod
        def name(cls) -> str:
            return fmt_name

        def streamReader(self, schema) -> BrokerStreamReader:
            return BrokerStreamReader(self.options, factory)

        def reader(self, schema):
            # batch mode: synchronous clients (fake, bounded http poll)
            # pump inline so `spark.read` sees their messages; async broker
            # clients can't be drained in one shot — batch reads serve the
            # current spool snapshot (backfill semantics), stream mode is
            # the live path
            stream = BrokerStreamReader(self.options, factory)
            if getattr(stream._client, "synchronous", False):
                stream._ensure_pump()
            return SpoolDirBatchReader(self.options)

    _Source.__name__ = f"{fmt_name.capitalize()}DataSource"
    _Source.__doc__ = (
        f"spark.readStream.format({fmt_name!r}).option('path', spool)"
        ".load() — see module docs for client resolution."
    )
    return _Source


def http_poll_client(options: dict):
    """HTTP client-poll mode (input/http.rs `method`/`interval`) — stdlib,
    no gating; see sources/http_ingest.py."""
    from arkflow_spark.sources.http_ingest import HttpPollClient

    return HttpPollClient(options)


MqttBrokerDataSource = _broker_source("mqtt_broker", mqtt_client)
WebSocketDataSource = _broker_source("websocket", websocket_client)
NatsDataSource = _broker_source("nats", nats_client)
PulsarDataSource = _broker_source("pulsar", pulsar_client)
RedisDataSource = _broker_source("redis_sub", redis_client)
ModbusDataSource = _broker_source("modbus", modbus_client)
HttpPollDataSource = _broker_source("http_poll", http_poll_client)

ALL_BROKER_SOURCES = (
    MqttBrokerDataSource,
    WebSocketDataSource,
    NatsDataSource,
    PulsarDataSource,
    RedisDataSource,
    ModbusDataSource,
    HttpPollDataSource,
)


def register(spark) -> None:
    """Register every Python DataSource the spool-backed inputs read."""
    for src in (SpoolDirDataSource, *ALL_BROKER_SOURCES):
        spark.dataSource.register(src)
