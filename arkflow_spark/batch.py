"""MessageBatch conventions: the ``__value__`` / ``__meta_*`` column model.

The reference wraps Arrow RecordBatches with a raw-bytes column and
standardized metadata columns (crates/arkflow-core/src/lib.rs:52-69,252-279).
Here a "MessageBatch" is simply a DataFrame carrying the same columns, so
every convention survives SQL, codecs, and windows unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# reference: DEFAULT_BINARY_VALUE_FIELD (lib.rs:52)
VALUE_COL = "__value__"

# reference: metadata column set (lib.rs:56-69)
META_SOURCE = "__meta_source"
META_PARTITION = "__meta_partition"
META_OFFSET = "__meta_offset"
META_KEY = "__meta_key"
META_TIMESTAMP = "__meta_timestamp"
META_INGEST_TIME = "__meta_ingest_time"
META_EXT = "__meta_ext"


def new_binary_df(spark: SparkSession, payloads: list[bytes]) -> DataFrame:
    """Build a raw batch: one Binary ``__value__`` row per message
    (reference: MessageBatch::new_binary, lib.rs:252-279)."""
    return spark.createDataFrame(
        [(p,) for p in payloads],
        T.StructType([T.StructField(VALUE_COL, T.BinaryType(), False)]),
    )


def with_meta(
    df: DataFrame,
    source: str | None = None,
    partition: Column | None = None,
    offset: Column | None = None,
    key: Column | None = None,
    timestamp: Column | None = None,
) -> DataFrame:
    """Attach any subset of the standard metadata columns
    (reference: metadata helper constructors, lib.rs:480-516)."""
    if source is not None:
        df = df.withColumn(META_SOURCE, F.lit(source))
    if partition is not None:
        df = df.withColumn(META_PARTITION, partition.cast("int"))
    if offset is not None:
        df = df.withColumn(META_OFFSET, offset.cast("long"))
    if key is not None:
        df = df.withColumn(META_KEY, key.cast("binary"))
    if timestamp is not None:
        df = df.withColumn(META_TIMESTAMP, timestamp.cast("timestamp"))
    return df


def infer_json_schema(
    spark: SparkSession, texts: DataFrame
) -> T.StructType | None:
    """Infer a schema from the first 1000 JSON strings of the one-column
    frame ``texts`` (reference: component/json.rs:22-52 infer); None when
    it has no rows, so callers can return an empty batch."""
    sample = [r[0] for r in texts.limit(1000).collect()]
    if not sample:
        return None
    return spark.read.json(spark.sparkContext.parallelize(sample)).schema


def meta_columns(df: DataFrame) -> list[str]:
    return [c for c in df.columns if c.startswith("__meta_")]

