"""Outputs: batch writers + streaming sink descriptors.

Interface: ``write_batch(df, epoch_id)`` — called per micro-batch under
foreachBatch (one call = one transaction unit, matching the reference's
``write_batch`` ack-range contract, output/mod.rs:41-49) — plus optional
``stream_format()/stream_options()`` for sinks Spark supports natively.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arkflow_spark.batch import VALUE_COL
from arkflow_spark.registry import OUTPUTS


@OUTPUTS.register("stdout")
class StdoutOutput:
    """Print batches (reference: output/stdout.rs:110). Truncates at
    ``limit`` rows per batch to keep logs sane."""

    def __init__(self, conf: dict):
        self.limit = int(conf.get("limit", 20))

    def write_batch(self, df: DataFrame, epoch_id: int = 0) -> None:
        df.show(self.limit, truncate=False)


@OUTPUTS.register("drop")
class DropOutput:
    """Discard (benchmark sink, reference: output/drop.rs:64) — still
    materializes the batch so upstream work is measured."""

    def __init__(self, conf: dict):
        pass

    def write_batch(self, df: DataFrame, epoch_id: int = 0) -> None:
        df.write.format("noop").mode("overwrite").save()


@OUTPUTS.register("memory")
class MemoryOutput:
    """Collect batches into a driver-side list (tests only — the one
    deliberate exception to the no-collect rule)."""

    def __init__(self, conf: dict):
        self.batches: list[list] = []

    def write_batch(self, df: DataFrame, epoch_id: int = 0) -> None:
        self.batches.append(df.collect())


@OUTPUTS.register("file")
class FileOutput:
    """Write parquet/csv/json/orc, optionally partitioned — the durable
    sink for batch pipelines."""

    def __init__(self, conf: dict):
        self.path = conf["path"]
        self.format = conf.get("format", "parquet")
        self.mode = conf.get("mode", "append")
        self.partition_by = conf.get("partition_by", [])
        self.options = dict(conf.get("options", {}))

    def write_batch(self, df: DataFrame, epoch_id: int = 0) -> None:
        w = df.write.format(self.format).mode(self.mode)
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        for k, v in self.options.items():
            w = w.option(k, v)
        w.save(self.path)


@OUTPUTS.register("kafka")
class KafkaOutput:
    """Kafka producer (reference: output/kafka.rs:499). At-least-once via
    foreachBatch by default; ``exactly_once: true`` + ``transactional_id``
    opts into the reference's L2 transactional path (kafka.rs:79-84,
    191-218, 341-401): per-partition transactional producers with stable
    ``{transactional_id}-p{partition}`` ids (broker fences zombies),
    begin -> produce all -> commit, abort-and-replay on failure. Layer
    :class:`arkflow_spark.streaming.eos.IdempotentBatchWriter` on top for
    replay-after-commit protection (see sinks/txn.py module docs).

    ``producer_factory`` (txn_id -> producer) is injectable; the default
    is the confluent-kafka client, import-gated."""

    def __init__(self, conf: dict):
        self.brokers = conf.get("brokers", ["localhost:9092"])
        # per-row topic/key routing by SQL expression (reference
        # Expr<String> topic + key config, expr/mod.rs:30-60,
        # kafka.rs:69-71); static `topic` otherwise
        self.topic_expr = conf.get("topic_expr")
        self.key_expr = conf.get("key_expr")
        self.topic = conf.get("topic")
        if not self.topic and not self.topic_expr:
            raise ValueError("kafka output needs 'topic' or 'topic_expr'")
        self.exactly_once = bool(conf.get("exactly_once", False))
        self.transactional_id = conf.get("transactional_id")
        if self.exactly_once and not self.transactional_id:
            # mirrors the reference builder's validation (kafka.rs:196-198)
            raise ValueError(
                "kafka output: exactly_once requires a stable transactional_id"
            )
        self.producer_factory = conf.get("producer_factory")

    def _payload(self, df: DataFrame) -> DataFrame:
        out = df
        if VALUE_COL not in out.columns:
            cols = [c for c in out.columns if not c.startswith("__meta_")]
            out = out.withColumn(VALUE_COL, F.to_json(F.struct(*cols)).cast("binary"))
        cols = [F.col(VALUE_COL).alias("value")]
        if self.topic_expr:
            cols.append(F.expr(self.topic_expr).cast("string").alias("topic"))
        if self.key_expr:
            # Spark's kafka sink partitions by the `key` column natively
            cols.append(F.expr(self.key_expr).cast("binary").alias("key"))
        return out.select(*cols)

    def write_batch(self, df: DataFrame, epoch_id: int = 0) -> None:
        if self.exactly_once:
            self._write_batch_transactional(df, epoch_id)
            return
        w = (
            self._payload(df)
            .write.format("kafka")
            .option("kafka.bootstrap.servers", ",".join(self.brokers))
        )
        if not self.topic_expr:  # else: Spark routes by the topic column
            w = w.option("topic", self.topic)
        w.save()

    def _write_batch_transactional(self, df: DataFrame, epoch_id: int = 0) -> None:
        """begin -> produce partition -> commit, abort-on-error (executor
        side, one transaction per partition; kafka.rs:341-401)."""
        from arkflow_spark.sinks.txn import confluent_producer_factory

        factory = self.producer_factory or confluent_producer_factory(self.brokers)
        topic, base = self.topic, self.transactional_id
        routed, keyed = bool(self.topic_expr), bool(self.key_expr)

        def write_partition(rows) -> None:
            from pyspark import TaskContext

            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx is not None else 0
            producer = factory(f"{base}-p{pid}")
            producer.begin_transaction()
            try:
                for r in rows:
                    producer.produce(
                        r["topic"] if routed else topic,
                        bytes(r["value"]),
                        key=bytes(r["key"]) if keyed and r["key"] is not None
                        else None,
                    )
                producer.commit_transaction()
            except BaseException:
                producer.abort_transaction()
                raise
            finally:
                producer.close()

        self._payload(df).foreachPartition(write_partition)


@OUTPUTS.register("sql")
class SqlOutput:
    """JDBC INSERT/upsert (reference: output/sql.rs:438). Plain modes map
    to df.write.jdbc; ``upsert`` needs a driver-side MERGE — documented
    limitation without a live database in this container."""

    def __init__(self, conf: dict):
        self.url = conf["url"]
        self.table = conf["table"]
        self.mode = conf.get("mode", "append")
        self.options = dict(conf.get("options", {}))

    def write_batch(self, df: DataFrame, epoch_id: int = 0) -> None:
        w = df.write.format("jdbc").option("url", self.url).option(
            "dbtable", self.table
        ).mode(self.mode)
        for k, v in self.options.items():
            w = w.option(k, v)
        w.save()


# client sinks register on import (http/mongodb/influxdb/redis/mqtt/nats/
# pulsar); serialization is pure-python, client libraries import-gated
from arkflow_spark.sinks import clients as _clients  # noqa: E402,F401
