"""Buffers / windows: cross-batch accumulation components.

Reference semantics (SURVEY.md §2.4): all reference windows are
processing-time, no watermarks. Spark's event-time windows + watermarks are
the strict superset; each buffer here works on an explicit time column
(default ``__meta_timestamp``, i.e. arrival time — processing-time parity)
and applies identically to batch DataFrames and streaming ones.

Interface: ``apply(spark, df) -> DataFrame``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.config import parse_duration_ms
from arkflow_spark.registry import BUFFERS


def _agg_exprs(aggregations: list[dict] | None) -> list:
    """[{expr: 'sum(value)', alias: 'total'}] -> Column list; default count."""
    if not aggregations:
        return [F.count("*").alias("n")]
    return [F.expr(a["expr"]).alias(a.get("alias") or a["expr"]) for a in aggregations]


class _WindowBuffer:
    def __init__(self, conf: dict):
        self.time_col = conf.get("time_col", "__meta_timestamp")
        self.group_by = conf.get("group_by", [])
        self.aggregations = conf.get("aggregations")
        self.watermark = conf.get("watermark")

    def _with_watermark(self, df: DataFrame) -> DataFrame:
        if df.isStreaming and self.watermark:
            return df.withWatermark(self.time_col, self.watermark)
        return df


@BUFFERS.register("tumbling_window")
class TumblingWindow(_WindowBuffer):
    """Fixed-interval window (reference: buffer/tumbling_window.rs:180).
    ``interval: 10s`` -> window(time_col, '10 seconds')."""

    def __init__(self, conf: dict):
        super().__init__(conf)
        self.interval_ms = parse_duration_ms(conf.get("interval", "10s"))

    def apply(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        dur = f"{self.interval_ms} milliseconds"
        return (
            self._with_watermark(df)
            .groupBy(F.window(self.time_col, dur), *self.group_by)
            .agg(*_agg_exprs(self.aggregations))
            .select(
                F.col("window.start").alias("window_start"),
                F.col("window.end").alias("window_end"),
                "*",
            )
            .drop("window")
        )


@BUFFERS.register("sliding_window")
class SlidingWindow(_WindowBuffer):
    """Time-based sliding window. The reference's sliding buffer is
    count-based (buffer/sliding_window.rs:283) — that exact semantics is
    :func:`arkflow_spark.streaming.state.sliding_count_window_stream`;
    this is the idiomatic time-based form."""

    def __init__(self, conf: dict):
        super().__init__(conf)
        self.size_ms = parse_duration_ms(conf.get("size", "60s"))
        self.slide_ms = parse_duration_ms(conf.get("slide", "30s"))

    def apply(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        return (
            self._with_watermark(df)
            .groupBy(
                F.window(
                    self.time_col,
                    f"{self.size_ms} milliseconds",
                    f"{self.slide_ms} milliseconds",
                ),
                *self.group_by,
            )
            .agg(*_agg_exprs(self.aggregations))
            .select(
                F.col("window.start").alias("window_start"),
                F.col("window.end").alias("window_end"),
                "*",
            )
            .drop("window")
        )


@BUFFERS.register("session_window")
class SessionWindow(_WindowBuffer):
    """Gap-based session window (reference: buffer/session_window.rs:194 —
    whole-stream gap; with ``group_by`` this is Spark's per-key superset,
    without it, exact whole-stream parity)."""

    def __init__(self, conf: dict):
        super().__init__(conf)
        self.gap_ms = parse_duration_ms(conf.get("gap", "30s"))

    def apply(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        return (
            self._with_watermark(df)
            .groupBy(
                F.session_window(self.time_col, f"{self.gap_ms} milliseconds"),
                *self.group_by,
            )
            .agg(*_agg_exprs(self.aggregations))
            .select(
                F.col("session_window.start").alias("window_start"),
                F.col("session_window.end").alias("window_end"),
                "*",
            )
            .drop("session_window")
        )


@BUFFERS.register("memory")
class MemoryBuffer:
    """Accumulate until capacity/timeout then emit concatenated
    (reference: buffer/memory.rs:275). Under micro-batching the trigger
    interval *is* the accumulation — this is a pass-through that exists so
    reference configs load unchanged; the engine maps ``timeout`` to the
    stream trigger interval."""

    def __init__(self, conf: dict):
        self.timeout_ms = parse_duration_ms(conf.get("timeout", "1s"))
        self.capacity = conf.get("capacity")

    def apply(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        return df


@BUFFERS.register("window_join")
class WindowJoinBuffer(_WindowBuffer):
    """Cross-source window join (reference: buffer/join.rs:62-130, wired via
    buffer/window.rs:148-177): within each window emission, register each
    source's rows as a view named by its input name and run arbitrary join
    SQL across them. Emits nothing when a source is missing from the window
    (join.rs:102-109 guard).

    Batch/foreachBatch only (the reference also joins only at emission
    time): the engine routes streaming through foreachBatch automatically.
    """

    def __init__(self, conf: dict):
        super().__init__(conf)
        from arkflow_spark.functions.compat import assert_query_only, translate_sql
        from arkflow_spark.registry import CODECS

        self.sources: list[str] = conf["sources"]
        self.query = translate_sql(conf["query"])
        assert_query_only(self.query)
        # per-source __value__ decode before the join, exactly as the
        # reference decodes via the configured codec (buffer/join.rs:132-145)
        self.codec = CODECS.build(dict(conf["codec"])) if conf.get("codec") else None

    def apply(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        session = df.sparkSession  # foreachBatch clones the session
        present = {
            r[0] for r in df.select("__meta_source").distinct().collect()
        }
        if self.codec is not None:
            df = self.codec.decode(session, df)
        for name in self.sources:
            df.filter(F.col("__meta_source") == name).createOrReplaceTempView(name)
        joined = session.sql(self.query)
        if not set(self.sources) <= present:
            # missing-source guard: silently emit empty (join.rs:102-109);
            # views exist (empty), so the join schema is still correct
            return joined.limit(0)
        return joined
