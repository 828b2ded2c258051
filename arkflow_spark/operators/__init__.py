"""Processors: per-batch DataFrame -> DataFrame transforms.

Interface (duck-typed): ``process(spark, df) -> DataFrame``. The pipeline
applies processors in sequence (reference: Pipeline,
crates/arkflow-core/src/pipeline/mod.rs:57-85 — flatMap semantics: a
processor may drop all rows or expand them; both are plain DataFrame ops
here).
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.batch import VALUE_COL, infer_json_schema, meta_columns
from arkflow_spark.functions.compat import assert_query_only, translate_sql
from arkflow_spark.registry import CODECS, PROCESSORS, TEMPORARIES


@PROCESSORS.register("sql")
class SqlProcessor:
    """Run one SQL statement against the batch registered as table ``flow``
    (rename via ``table_name``), optionally joining lookup ("temporary")
    tables (reference: processor/sql.rs:244; lookup join :148-183).

    Catalyst replaces DataFusion; DataFusion-dialect function names are
    translated (functions/compat.py); DDL/DML rejected as in the reference.
    """

    def __init__(self, conf: dict):
        self.query = translate_sql(conf["query"])
        assert_query_only(self.query)
        self.table_name = conf.get("table_name", "flow")
        self.temporaries = [
            TEMPORARIES.build(t) for t in conf.get("temporary", []) or []
        ]

    def process(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        # under foreachBatch the micro-batch frame lives in a cloned session;
        # views must be registered and queried there, not on the driver session
        session = df.sparkSession
        df.createOrReplaceTempView(self.table_name)
        for t in self.temporaries:
            t.register(session, df)
        return session.sql(self.query)


@PROCESSORS.register("json_to_arrow")
class JsonToArrow:
    """Parse JSON-line ``__value__`` bytes into typed columns, schema
    inferred from the data (reference: processor/json.rs:157 +
    component/json.rs:22-52 infer). ``fields_to_include`` projects columns.

    Batch mode infers with spark.read.json over the values; under
    foreachBatch each micro-batch infers independently — matching the
    reference's per-batch inference. For fixed-schema streams pass
    ``schema`` (DDL) to skip inference (the production path).
    """

    def __init__(self, conf: dict):
        self.fields = conf.get("fields_to_include")
        self.schema = conf.get("schema")

    def process(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        metas = meta_columns(df)
        if self.schema:
            parsed = df.withColumn(
                "__data__",
                F.from_json(F.col(VALUE_COL).cast("string"), self.schema),
            )
        else:
            inferred = infer_json_schema(
                spark, df.select(F.col(VALUE_COL).cast("string"))
            )
            if inferred is None:
                return df.limit(0)
            parsed = df.withColumn(
                "__data__",
                F.from_json(F.col(VALUE_COL).cast("string"), inferred),
            )
        out = parsed.select("__data__.*", *metas)
        if self.fields:
            out = out.select(*self.fields, *metas)
        return out


@PROCESSORS.register("arrow_to_json")
class ArrowToJson:
    """Serialize data columns to a JSON ``__value__`` binary column,
    keeping originals (reference: processor/json.rs:94-113). Optional
    ``fields_to_include`` filters the serialized fields."""

    def __init__(self, conf: dict):
        self.fields = conf.get("fields_to_include")

    def process(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        cols = self.fields or [
            c for c in df.columns if not c.startswith("__meta_") and c != VALUE_COL
        ]
        value = F.to_json(F.struct(*[F.col(c) for c in cols])).cast("binary")
        return df.withColumn(VALUE_COL, value)


@PROCESSORS.register("python")
class PythonProcessor:
    """User Python function over Arrow batches via mapInArrow
    (reference: processor/python.rs:179 — PyArrow RecordBatch in, 0..N out).

    conf: ``script``/``function`` (inline source, the reference's YAML
    surface), ``module``/``function`` (import path, with optional
    ``python_path`` prepended to sys.path — processor/python.rs config), or
    ``function_ref`` (direct callable, for tests); ``schema`` = output DDL
    (Spark streams need a static schema, unlike the reference's inferred
    one). Script-mode functions use the reference contract — one
    RecordBatch in, list of 0..N RecordBatches out (ProcessResult::
    Multiple/None, lib.rs:186-193); module/function_ref mode uses the
    mapInArrow iterator contract (iterator of batches in, yield batches
    out). Set ``per_batch`` explicitly to override. Either way the work is
    vectorized and distributed (per partition, not per batch on one node).
    """

    def __init__(self, conf: dict):
        self.schema = conf["schema"]
        per_batch = conf.get("per_batch")
        if "function_ref" in conf:
            fn = conf["function_ref"]
        elif "script" in conf:
            ns: dict = {}
            exec(compile(conf["script"], "<python_processor>", "exec"), ns)
            fn = ns[conf["function"]]
            per_batch = True if per_batch is None else per_batch
        else:
            import importlib
            import sys as _sys

            for p in conf.get("python_path", []):
                if p not in _sys.path:
                    _sys.path.insert(0, p)
            mod = importlib.import_module(conf["module"])
            fn = getattr(mod, conf["function"])
        if per_batch:
            inner = fn

            def fn(batches):
                for b in batches:
                    out = inner(b)
                    if out is not None:
                        yield from out

        self.fn = fn

    def process(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        return df.mapInArrow(self.fn, self.schema)


@PROCESSORS.register("batch")
class BatchProcessor:
    """Accumulate-then-concat (reference: processor/batch.rs:147). Under
    micro-batching, accumulation is the trigger's job; this coalesces
    partitions so downstream per-partition work sees bigger chunks."""

    def __init__(self, conf: dict):
        self.partitions = int(conf.get("partitions", 1))

    def process(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        return df.coalesce(self.partitions)


@PROCESSORS.register("codec")
class CodecProcessor:
    """Apply a registered codec's decode/encode as a pipeline step."""

    def __init__(self, conf: dict):
        self.codec = CODECS.build(conf["codec"])
        self.mode = conf.get("mode", "decode")

    def process(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        fn = self.codec.decode if self.mode == "decode" else self.codec.encode
        return fn(spark, df)


@PROCESSORS.register("filter")
class FilterProcessor:
    """Row filter by SQL predicate — ProcessResult::None when nothing
    matches (reference: lib.rs:186-193 flatMap-to-empty semantics)."""

    def __init__(self, conf: dict):
        self.predicate = conf["predicate"]

    def process(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        return df.filter(self.predicate)


@PROCESSORS.register("ml_score")
class MlScoreProcessor:
    """Apply a saved MLlib model/pipeline to each batch — the "AI
    integration" the reference advertises but has no operator for
    (SURVEY §2.3), expressed Spark-natively per the north star
    ("Structured Streaming with ML integration via MLlib").

    conf:
      ``model_path``: directory of a saved fitted model;
      ``model_class`` (default ``pyspark.ml.PipelineModel``): import path
        of the model class to ``.load`` with;
      ``vector_cols``: array<numeric> columns converted via
        ``array_to_vector`` before transform (MLlib expects VectorUDT);
      ``drop``: columns to drop after scoring.

    The model loads lazily on first batch (a SparkSession must be active)
    and is reused across micro-batches; MLlib transforms are row-local, so
    scoring stays a narrow stage in both batch and streaming pipelines.
    """

    def __init__(self, conf: dict):
        self.model_path = conf["model_path"]
        self.model_class = conf.get("model_class", "pyspark.ml.PipelineModel")
        self.vector_cols = list(conf.get("vector_cols", []) or [])
        self.drop = list(conf.get("drop", []) or [])
        self._model = None

    def _load(self):
        if self._model is None:
            import importlib

            mod, _, name = self.model_class.rpartition(".")
            cls = getattr(importlib.import_module(mod), name)
            self._model = cls.load(self.model_path)
        return self._model

    def process(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        from pyspark.ml.functions import array_to_vector

        out = df
        for c in self.vector_cols:
            out = out.withColumn(c, array_to_vector(F.col(c)))
        out = self._load().transform(out)
        for c in self.drop:
            out = out.drop(c)
        return out


@PROCESSORS.register("remap")
class RemapProcessor:
    """Row-wise field remapping — the capability the reference's VRL
    processor provides (processor/vrl.rs:26: per-row parse/enrich/reshape
    DSL), expressed as named Spark SQL expressions instead of a bespoke
    language, so every assignment stays JVM-side in whole-stage codegen.

    conf:
      ``fields``: ordered mapping output_column -> SQL expression (may
        reference input columns and earlier outputs via subexpressions);
      ``keep`` (default true): keep untouched input columns;
      ``drop``: list of columns to remove after remapping — VRL ``del(.f)``;
      ``where``: SQL boolean keep-condition applied after remapping — rows
        failing it are dropped, the VRL ``abort``/route analog (divert the
        complement to another stream for full routing).

    VRL programs that parse JSON / route / type-convert translate 1:1
    via the :data:`arkflow_spark.functions.compat.VRL_TO_SPARK` table:
    ``.level = upcase(string!(.level))`` -> ``level: upper(level)``.
    """

    def __init__(self, conf: dict):
        self.fields: dict[str, str] = dict(conf.get("fields", {}))
        self.keep = bool(conf.get("keep", True))
        self.drop = list(conf.get("drop", []))
        self.where = conf.get("where")

    def process(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        out = df
        for name, expr in self.fields.items():
            out = out.withColumn(name, F.expr(expr))
        if not self.keep:
            out = out.select(*self.fields.keys(), *meta_columns(df))
        for c in self.drop:
            out = out.drop(c)
        if self.where:
            out = out.filter(F.expr(self.where))
        return out


@PROCESSORS.register("validate")
class ValidateProcessor:
    """In-pipeline data-quality gate (the Deequ `Check` shape as a
    processor; batch analog: the `dq_validation_suite` query): named
    row-level predicates and aggregate assertions evaluated per
    micro-batch, with configurable violation handling that plugs into
    the engine's DLQ contract (engine.py `handle`: a raised error
    dead-letters the batch and keeps the stream alive — the reference's
    error_output routing, lib.rs error path).

    conf:
      ``checks``: list of {name, predicate} row-level rules (SQL boolean;
        a row violating ANY rule is a violation) and/or
        {name, assert} aggregate rules (an aggregate SQL expression
        evaluated over the whole batch — registered under a one-off
        unique view name so concurrent streams never collide — must
        yield one boolean);
      ``on_violation`` (default ``fail``):
        ``fail``  — raise, so the engine routes the raw batch to the DLQ;
        ``drop``  — remove violating rows, pass the clean remainder;
        ``tag``   — pass all rows, adding a ``_dq_violations`` array
                    column naming the failed rules per row.

    Aggregate assertions always raise on failure (there is no row to
    drop). Row predicates are codegen'd filters — the gate adds no
    shuffle; aggregate assertions cost one reduction each.
    """

    def __init__(self, conf: dict):
        self.checks = list(conf.get("checks", []) or [])
        self.on_violation = conf.get("on_violation", "fail")
        if self.on_violation not in ("fail", "drop", "tag"):
            raise ValueError(
                f"validate: unknown on_violation {self.on_violation!r}"
            )
        for c in self.checks:
            if "name" not in c or ("predicate" not in c) == (
                "assert" not in c
            ):
                raise ValueError(
                    "validate: each check needs a name and exactly one "
                    "of predicate/assert"
                )

    def process(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        session = df.sparkSession
        agg = [c for c in self.checks if "assert" in c]
        rows = [c for c in self.checks if "predicate" in c]
        if agg:
            # One-off uniquely-named view: a fixed name ("flow") would
            # silently clobber a same-named temp view registered by
            # another stream or a user sql processor in this session.
            view = f"_dq_validate_{uuid.uuid4().hex}"
            df.createOrReplaceTempView(view)
            try:
                for c in agg:
                    res = session.sql(
                        f"SELECT ({c['assert']}) AS ok FROM {view}"
                    ).collect()
                    if not res or not all(r["ok"] for r in res):
                        raise ValueError(
                            f"validate: aggregate check {c['name']!r} failed"
                        )
            finally:
                session.catalog.dropTempView(view)
        if not rows:
            return df
        viols = F.array_compact(
            F.array(
                *[
                    F.when(
                        ~F.coalesce(F.expr(c["predicate"]), F.lit(False)),
                        F.lit(c["name"]),
                    )
                    for c in rows
                ]
            )
        )
        if self.on_violation == "tag":
            return df.withColumn("_dq_violations", viols)
        if self.on_violation == "drop":
            return df.filter(F.size(viols) == 0)
        # fail: any violating row dead-letters the batch via the engine
        bad = df.filter(F.size(viols) > 0).limit(1).collect()
        if bad:
            raise ValueError(
                "validate: row-level check violated "
                f"(first bad row: {bad[0].asDict()})"
            )
        return df

# Register the VRL mini-interpreter processor (separate module).
from arkflow_spark.operators import vrl as _vrl  # noqa: E402,F401
