"""Codecs: wire-format encode/decode between ``__value__`` bytes and typed
columns (reference traits: crates/arkflow-core/src/codec/mod.rs:25-37).

Interface: ``decode(spark, df) -> df`` (bytes -> columns) and
``encode(spark, df) -> df`` (columns -> bytes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.batch import VALUE_COL, infer_json_schema, meta_columns
from arkflow_spark.registry import CODECS


@CODECS.register("json")
class JsonCodec:
    """JSON lines <-> columns (reference: codec/json.rs:66). ``schema``
    (DDL) recommended for streaming; inferred per batch otherwise."""

    def __init__(self, conf: dict):
        self.schema = conf.get("schema")

    def decode(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        from arkflow_spark.operators import JsonToArrow

        return JsonToArrow({"schema": self.schema}).process(spark, df)

    def encode(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        from arkflow_spark.operators import ArrowToJson

        return ArrowToJson({}).process(spark, df)


@CODECS.register("debezium_json")
class DebeziumJsonCodec:
    """Debezium CDC envelope flattening (reference: codec/debezium.rs:143,
    flatten :75-110): promote ``after`` (or ``before`` on delete) to top
    level; add op/ts_ms/source_db/source_table; keep ``before`` and
    ``source`` as JSON text.

    ``schema``: DDL of the business columns inside after/before (required
    for streaming, inferred from ``after`` otherwise).
    """

    def __init__(self, conf: dict):
        self.schema = conf.get("schema")

    def decode(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        metas = meta_columns(df)
        s = F.col(VALUE_COL).cast("string")
        if self.schema:
            payload_schema = self.schema
        else:
            after = F.get_json_object(s, "$.after")
            payload_schema = infer_json_schema(
                spark, df.filter(after.isNotNull()).select(after)
            )
            if payload_schema is None:
                return df.limit(0)
        envelope = df.select(
            s.alias("__raw__"),
            F.get_json_object(s, "$.op").alias("op"),
            F.get_json_object(s, "$.ts_ms").cast("bigint").alias("ts_ms"),
            F.get_json_object(s, "$.source.db").alias("source_db"),
            F.get_json_object(s, "$.source.table").alias("source_table"),
            F.get_json_object(s, "$.before").alias("before"),
            F.get_json_object(s, "$.source").alias("source"),
            F.get_json_object(s, "$.after").alias("__after__"),
            *metas,
        )
        # delete events carry the row image in `before` (debezium.rs:88-95)
        business = F.when(
            F.col("op") == "d", F.from_json("before", payload_schema)
        ).otherwise(F.from_json("__after__", payload_schema))
        return envelope.select(
            business.alias("__data__"),
            "op",
            "ts_ms",
            "source_db",
            "source_table",
            "before",
            "source",
            *metas,
        ).select("__data__.*", "op", "ts_ms", "source_db", "source_table",
                 "before", "source", *metas)

    def encode(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        raise NotImplementedError("debezium codec is decode-only, as in the reference")


@CODECS.register("schema_registry")
class SchemaRegistryCodec:
    """Confluent wire format ``[0x00][4-byte schema id][payload]``
    (reference: codec/schema_registry.rs:109-126 parse_wire_format).

    Two resolution modes, mirroring the reference's resolver/codec split:

    * **registry mode** (``registry_url`` or an injected ``resolver``): the
      payload schema is fetched *by id* (``GET /schemas/ids/{id}``,
      schema_registry.rs:160-190), parsed once into a proto_wire descriptor
      and cached per id (:59-67) — each schema version is fetched at most
      once per driver. Distinct ids in a batch are decoded per-group and
      unioned by name (a superset of the reference's concat, which assumes
      compatible versions), so mixed schema-version batches work. The
      distinct-id collect is bounded by the number of schema *versions*,
      not rows.
    * **legacy mode** (no registry config): header split + per-id dispatch
      to a static inner ``payload_codec`` (default json).

    Config: ``registry_url``, ``message_type``, ``auth`` (basic/bearer),
    ``resolver`` (injectable object for tests/offline), ``payload_codec``.
    """

    def __init__(self, conf: dict):
        from arkflow_spark.codecs.schema_registry import RestSchemaResolver

        self.message_type = conf.get("message_type")
        # pins a stable output schema across micro-batches: its columns are
        # always present (empty batches decode zero rows through it), so
        # fixed-schema sinks and downstream SQL never see schema drift when
        # batches contain different schema-id subsets
        self.default_schema_id = conf.get("default_schema_id")
        self.resolver = conf.get("resolver")
        if self.resolver is None and conf.get("registry_url"):
            self.resolver = RestSchemaResolver(
                conf["registry_url"],
                auth=conf.get("auth"),
                transport=conf.get("transport"),
            )
        self._descriptor_cache: dict[int, ProtoWireCodec] = {}
        inner = conf.get("payload_codec", {"type": "json"})
        self.inner = CODECS.build(dict(inner))

    def _codec_for(self, schema_id: int) -> "ProtoWireCodec":
        """Per-id descriptor cache (reference: schema_registry.rs:59-67)."""
        codec = self._descriptor_cache.get(schema_id)
        if codec is None:
            source = self.resolver.fetch_schema(schema_id)
            codec = ProtoWireCodec(
                {"proto": source, "message_type": self.message_type}
            )
            self._descriptor_cache[schema_id] = codec
        return codec

    @staticmethod
    def _strip_header(df: DataFrame) -> DataFrame:
        """Validate magic byte + split header JVM-side; a bad header raises,
        failing the batch into DLQ routing like the reference's decode error
        (schema_registry.rs:111-122)."""
        payload = (
            f"CASE WHEN length({VALUE_COL}) >= 5"
            f"          AND substring({VALUE_COL}, 1, 1) = X'00'"
            f"     THEN substring({VALUE_COL}, 6, length({VALUE_COL}) - 5)"
            f"     ELSE raise_error('invalid Confluent wire-format header') END"
        )
        return df.withColumn(
            "__schema_id__",
            F.conv(F.hex(F.expr(f"substring({VALUE_COL}, 2, 4)")), 16, 10).cast(
                "int"
            ),
        ).withColumn(VALUE_COL, F.expr(payload))

    def decode(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        stripped = self._strip_header(df)
        if self.resolver is None:
            return self.inner.decode(spark, stripped)
        # registry mode: group rows by schema id, decode each group with its
        # fetched descriptor, union by name across schema versions. The id
        # column rides along as a meta column so decode preserves it.
        stripped = stripped.withColumn(
            "__meta_schema_id__", F.col("__schema_id__")
        ).drop("__schema_id__")
        ids = sorted(
            r[0]
            for r in stripped.select("__meta_schema_id__").distinct().collect()
        )
        parts = [
            self._codec_for(sid).decode(
                spark, stripped.filter(F.col("__meta_schema_id__") == sid)
            )
            for sid in ids
        ]
        if self.default_schema_id is not None:
            # zero-row decode through the pinned schema: anchors the output
            # columns for empty batches and batches missing the default id
            parts.insert(
                0,
                self._codec_for(int(self.default_schema_id)).decode(
                    spark, stripped.limit(0)
                ),
            )
        if not parts:
            # mirror the reference's empty-batch behavior (schema_registry.rs
            # decode of []): empty frame; set default_schema_id to pin a
            # stable schema instead
            return stripped.limit(0).drop(VALUE_COL)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def encode(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        encoded = self.inner.encode(spark, df)
        magic = F.lit(bytearray([0, 0, 0, 0, 1]))  # magic 0x00 + schema id 1
        return encoded.withColumn(
            VALUE_COL, F.concat(magic.cast("binary"), F.col(VALUE_COL))
        )


@CODECS.register("protobuf")
class ProtobufCodec:
    """Protobuf <-> columns via pyspark.sql.protobuf functions
    (reference: codec/protobuf.rs:144 — scalar proto3 fields only; Spark's
    from_protobuf/to_protobuf support nested/repeated/map, exceeding the
    reference). Requires the spark-protobuf package jar + a descriptor file;
    gated behind a clear error when absent."""

    def __init__(self, conf: dict):
        self.desc_file = conf.get("descriptor_file")
        self.message = conf.get("message_type")

    def _fns(self):
        try:
            from pyspark.sql.protobuf.functions import from_protobuf, to_protobuf
        except ImportError as e:  # pragma: no cover
            raise NotImplementedError(
                "protobuf codec requires the spark-protobuf package jar"
            ) from e
        return from_protobuf, to_protobuf

    def decode(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        from_protobuf, _ = self._fns()
        metas = meta_columns(df)
        return df.select(
            from_protobuf(VALUE_COL, self.message, self.desc_file).alias("__data__"),
            *metas,
        ).select("__data__.*", *metas)

    def encode(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        _, to_protobuf = self._fns()
        cols = [c for c in df.columns if not c.startswith("__meta_")]
        return df.withColumn(
            VALUE_COL,
            to_protobuf(F.struct(*cols), self.message, self.desc_file),
        )


@CODECS.register("protobuf_wire")
class ProtoWireCodec:
    """Pure-Python proto3 scalar codec — exact parity with the reference's
    protobuf support surface (codec/protobuf.rs:144; scalar-only limits
    processor/protobuf.rs:19-25) with no jar or client library.

    Config: ``proto`` (``.proto`` source text) or ``proto_file`` (path),
    optional ``message_type``. Decode/encode run as Arrow-batched
    ``mapInPandas`` so per-row Python cost stays inside one vectorized
    stage; at scale this parallelizes per partition like any narrow map.
    """

    def __init__(self, conf: dict):
        from arkflow_spark.codecs.proto_wire import parse_proto

        text = conf.get("proto")
        if text is None and conf.get("proto_file"):
            with open(conf["proto_file"]) as fh:
                text = fh.read()
        if text is None:
            raise ValueError("protobuf_wire codec needs 'proto' or 'proto_file'")
        self.msg = parse_proto(text, conf.get("message_type"))

    def decode(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        from arkflow_spark.codecs.proto_wire import decode_record

        msg = self.msg
        metas = [c for c in df.columns if c.startswith("__meta_")]
        meta_ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in df.schema.fields
            if f.name in metas
        )
        ddl = msg.spark_ddl() + (", " + meta_ddl if meta_ddl else "")
        names = [f.name for f in msg.fields]

        def decode_batches(batches):
            import pandas as pd

            for pdf in batches:
                decoded = [
                    decode_record(bytes(v) if v is not None else b"", msg)
                    for v in pdf[VALUE_COL]
                ]
                out = pd.DataFrame({n: [d[n] for d in decoded] for n in names})
                for m in metas:
                    out[m] = pdf[m].values
                yield out

        return df.mapInPandas(decode_batches, ddl)

    def encode(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        from arkflow_spark.codecs.proto_wire import encode_record

        msg = self.msg
        metas = [c for c in df.columns if c.startswith("__meta_")]
        meta_ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in df.schema.fields
            if f.name in metas
        )
        ddl = f"{VALUE_COL} binary" + (", " + meta_ddl if meta_ddl else "")
        names = [f.name for f in msg.fields]

        def encode_batches(batches):
            import pandas as pd

            for pdf in batches:
                vals = [
                    encode_record({n: row[n] for n in names if n in row}, msg)
                    for row in pdf.to_dict("records")
                ]
                out = pd.DataFrame({VALUE_COL: vals})
                for m in metas:
                    out[m] = pdf[m].values
                yield out

        return df.mapInPandas(encode_batches, ddl)
