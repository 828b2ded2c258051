"""Inputs: each builds batch and/or streaming DataFrames.

Interface (duck-typed): ``read_batch(spark) -> DataFrame`` and/or
``read_stream(spark) -> DataFrame``; components raise NotImplementedError for
the mode they don't support. Streaming offsets/acks are Spark checkpointing —
the reference's manual ack machinery (input/mod.rs:43-52) is not rebuilt.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arkflow_spark.batch import VALUE_COL, with_meta
from arkflow_spark.config import parse_duration_ms
from arkflow_spark.registry import INPUTS


@INPUTS.register("generate")
class GenerateInput:
    """Synthetic generator (reference: input/generate.rs:123): emits a fixed
    JSON ``context`` payload at ``interval``, ``batch_size`` rows per tick,
    optionally stopping after ``count`` messages.

    Streaming = the built-in rate source with the payload attached;
    batch = a one-shot range of ``count`` (default batch_size) rows.
    """

    def __init__(self, conf: dict):
        self.context: str = conf.get("context", "{}")
        self.interval_ms = parse_duration_ms(conf.get("interval", "1s"))
        self.batch_size = int(conf.get("batch_size", 1))
        self.count = conf.get("count")

    def _payload(self):
        return F.lit(self.context.encode()).alias(VALUE_COL)

    def read_batch(self, spark: SparkSession) -> DataFrame:
        n = int(self.count or self.batch_size)
        df = spark.range(n).select(self._payload())
        return with_meta(df, source="generate")

    def read_stream(self, spark: SparkSession) -> DataFrame:
        rows_per_sec = max(1, int(self.batch_size * 1000 / max(self.interval_ms, 1)))
        df = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", rows_per_sec)
            .load()
            .select(
                self._payload(),
                F.col("timestamp").alias("__meta_timestamp"),
                F.col("value").alias("__meta_offset"),
            )
        )
        return df.withColumn("__meta_source", F.lit("generate"))


@INPUTS.register("memory")
class MemoryInput:
    """In-memory messages for tests (reference: input/memory.rs:153).
    ``messages``: list of strings/bytes -> ``__value__`` rows."""

    def __init__(self, conf: dict):
        self.messages = conf.get("messages", [])

    def read_batch(self, spark: SparkSession) -> DataFrame:
        rows = [
            (m.encode() if isinstance(m, str) else bytes(m),) for m in self.messages
        ]
        schema = T.StructType([T.StructField(VALUE_COL, T.BinaryType(), False)])
        return with_meta(spark.createDataFrame(rows, schema), source="memory")

    def read_stream(self, spark: SparkSession) -> DataFrame:
        raise NotImplementedError("memory input is batch-only")


@INPUTS.register("file")
class FileInput:
    """File scan: parquet/csv/json/orc/text from local or object-store paths
    (reference: input/file.rs:481 — Avro/Arrow/JSON/CSV/Parquet + S3/GCS/
    Azure/HDFS). Spark reads every format + store natively via s3a://, gs://,
    abfss:// URIs; optional ``sql`` applies a SQL-at-read statement against
    the scan registered as table ``flow`` (file.rs input 'sql' option)."""

    FORMATS = {"parquet", "csv", "json", "orc", "text", "avro"}

    def __init__(self, conf: dict):
        self.path = conf["path"]
        self.format = conf.get("format", "parquet")
        if self.format not in self.FORMATS:
            raise ValueError(f"unsupported file format {self.format}")
        self.options = dict(conf.get("options", {}))
        self.schema = conf.get("schema")  # DDL string, required for streaming
        self.sql = conf.get("sql")
        # ingest rate limit: the reference bounds in-flight messages at 1024
        # (stream/mod.rs:37 backpressure); the micro-batch analog caps how
        # much each trigger pulls
        if conf.get("max_files_per_trigger"):
            self.options["maxFilesPerTrigger"] = str(conf["max_files_per_trigger"])

    def _reader(self, spark: SparkSession, streaming: bool):
        r = spark.readStream if streaming else spark.read
        r = r.format(self.format)
        for k, v in self.options.items():
            r = r.option(k, v)
        if self.schema:
            r = r.schema(self.schema)
        return r

    def _post(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        if self.sql:
            df.createOrReplaceTempView("flow")
            df = spark.sql(self.sql)
        return df

    def read_batch(self, spark: SparkSession) -> DataFrame:
        return self._post(spark, self._reader(spark, False).load(self.path))

    def read_stream(self, spark: SparkSession) -> DataFrame:
        if not self.schema:
            raise ValueError("streaming file input requires explicit 'schema'")
        return self._post(spark, self._reader(spark, True).load(self.path))


@INPUTS.register("kafka")
class KafkaInput:
    """Kafka consumer (reference: input/kafka.rs:314). Spark's Kafka source
    provides offsets/ack via checkpointing; metadata columns are renamed to
    the reference's ``__meta_*`` convention. Requires the
    spark-sql-kafka package on the classpath (not bundled in this image —
    construction works, read fails with a clear error if absent)."""

    def __init__(self, conf: dict):
        self.brokers = conf.get("brokers", ["localhost:9092"])
        self.topics = conf.get("topics", [])
        self.start = conf.get("start", "latest")
        # backpressure analog (stream/mod.rs:37): bound per-trigger pull
        self.max_offsets = conf.get("max_offsets_per_trigger")

    def _opts(self, r):
        r = (
            r.option("kafka.bootstrap.servers", ",".join(self.brokers))
            .option("subscribe", ",".join(self.topics))
            .option("startingOffsets", self.start)
        )
        if self.max_offsets:
            r = r.option("maxOffsetsPerTrigger", str(self.max_offsets))
        return r

    @staticmethod
    def _project(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("value").alias(VALUE_COL),
            F.col("topic").alias("__meta_source"),
            F.col("partition").alias("__meta_partition"),
            F.col("offset").alias("__meta_offset"),
            F.col("key").alias("__meta_key"),
            F.col("timestamp").alias("__meta_timestamp"),
        )

    def read_batch(self, spark: SparkSession) -> DataFrame:
        return self._project(self._opts(spark.read.format("kafka")).load())

    def read_stream(self, spark: SparkSession) -> DataFrame:
        return self._project(self._opts(spark.readStream.format("kafka")).load())


@INPUTS.register("sql")
class SqlInput:
    """One-shot JDBC query input (reference: input/sql.rs:341 — MySQL/
    Postgres/SQLite/DuckDB). ``spark.read.jdbc`` with partitioned reads;
    needs the JDBC driver jar on the classpath."""

    def __init__(self, conf: dict):
        self.url = conf["url"]
        self.query = conf.get("query")
        self.table = conf.get("table")
        self.options = dict(conf.get("options", {}))

    def read_batch(self, spark: SparkSession) -> DataFrame:
        r = spark.read.format("jdbc").option("url", self.url)
        if self.query:
            r = r.option("query", self.query)
        else:
            r = r.option("dbtable", self.table)
        for k, v in self.options.items():
            r = r.option(k, v)
        return r.load()

    def read_stream(self, spark: SparkSession) -> DataFrame:
        raise NotImplementedError(
            "sql input is batch/availableNow-only, as in the reference"
        )


class SpoolInput:
    """Spool-backed push input (reference: input/{mqtt,websocket,nats,
    pulsar,redis,modbus,http}.rs): reads the spool landing zone ``path``
    through the Python DataSource ``fmt`` with offset/commit semantics.
    ``spooldir`` serves a spool an external bridge fills
    (sources/push_source.py); the broker formats first pump their client
    into the spool (sources/brokers.py). Every other conf key passes
    through as a DataSource option (client/fake_count/host/port/topic/
    compact_on_commit/rowsperpartition/...)."""

    def __init__(self, conf: dict, fmt: str):
        self.format = fmt
        self.options = {k: str(v) for k, v in conf.items() if v is not None}
        self.options.setdefault("source_name", fmt)
        if "path" not in self.options:
            raise ValueError(f"{fmt} input needs a spool 'path'")

    def _load(self, spark: SparkSession, reader) -> DataFrame:
        from arkflow_spark.sources.brokers import register

        register(spark)
        r = reader.format(self.format)
        for k, v in self.options.items():
            r = r.option(k, v)
        return r.load()

    def read_batch(self, spark: SparkSession) -> DataFrame:
        return self._load(spark, spark.read)

    def read_stream(self, spark: SparkSession) -> DataFrame:
        return self._load(spark, spark.readStream)


for _fmt in ("spooldir", "mqtt_broker", "websocket", "nats", "pulsar",
             "redis_sub", "modbus"):
    INPUTS.register(_fmt)(functools.partial(SpoolInput, fmt=_fmt))


@INPUTS.register("http")
class HttpInput(SpoolInput):
    """HTTP input, both reference modes (input/http.rs:221-245):

    * **server** (``address``/``http_path``): a stdlib webhook server
      (sources/http_ingest.py) accepts POST/PUT bodies into the spool
      ``path``; Spark reads it as format ``spooldir``. The server starts
      before the first read.
    * **client poll** (``url`` [+ ``interval_ms``/``max_polls``]): the
      poll client pumps response bodies through format ``http_poll``.
    """

    def __init__(self, conf: dict):
        conf = dict(conf)
        self.server_conf = None
        if "url" not in conf:
            self.server_conf = {
                "address": conf.pop("address", "127.0.0.1:0"),
                "path": conf.pop("http_path", "/ingest"),
                "cors_enabled": bool(conf.pop("cors_enabled", False)),
                "auth": conf.pop("auth", None),
                "rate_limit": conf.pop("rate_limit", None),
            }
        fmt = "http_poll" if self.server_conf is None else "spooldir"
        super().__init__(conf, fmt)
        self._server = None

    def _load(self, spark: SparkSession, reader) -> DataFrame:
        if self.server_conf and self._server is None:
            from arkflow_spark.sources.http_ingest import WebhookIngestServer

            self._server = WebhookIngestServer(
                self.options["path"], **self.server_conf
            ).start()
            self.port = self._server.port
        return super()._load(spark, reader)


@INPUTS.register("multiple_inputs")
class MultipleInputs:
    """Fan-in N child inputs, each tagged with its name
    (reference: input/multiple_inputs.rs:181 + Resource.input_names).
    unionByName(allowMissingColumns=True) preserves per-child schemas."""

    def __init__(self, conf: dict):
        self.children: list[tuple[str, object]] = []
        for i, child in enumerate(conf.get("inputs", [])):
            name = child.pop("name", f"input_{i}")
            self.children.append((name, INPUTS.build(child)))

    def _union(self, dfs: list[DataFrame]) -> DataFrame:
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out

    def read_batch(self, spark: SparkSession) -> DataFrame:
        return self._union(
            [
                child.read_batch(spark).withColumn("__meta_source", F.lit(name))
                for name, child in self.children
            ]
        )

    def read_stream(self, spark: SparkSession) -> DataFrame:
        return self._union(
            [
                child.read_stream(spark).withColumn("__meta_source", F.lit(name))
                for name, child in self.children
            ]
        )
