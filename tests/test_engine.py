"""End-to-end engine tests: YAML config -> registry -> pipeline -> sink,
mirroring the reference's example pipelines (SURVEY.md §5.4)."""

from __future__ import annotations

import json
import textwrap

import pytest
from pyspark.sql import functions as F

from arkflow_spark.config import EngineConfig, parse_duration_ms
from arkflow_spark.engine import Engine, Stream
from arkflow_spark.functions.compat import assert_query_only, translate_sql
from arkflow_spark.registry import OUTPUTS, load_all


def make_engine(spark, yaml_text: str) -> Engine:
    import yaml as _y

    return Engine(spark, EngineConfig.from_dict(_y.safe_load(yaml_text)))


def test_parse_duration():
    assert parse_duration_ms("10ms") == 10
    assert parse_duration_ms("1s") == 1000
    assert parse_duration_ms("2m") == 120000
    assert parse_duration_ms(250) == 250


def test_translate_sql():
    q = translate_sql("SELECT approx_distinct(x), array_cat(a, b) FROM flow")
    assert "approx_count_distinct(" in q
    assert "concat(" in q
    # string literals untouched
    q2 = translate_sql("SELECT 'approx_distinct(' AS s, now() FROM flow")
    assert "'approx_distinct('" in q2
    assert "current_timestamp(" in q2


def test_statement_guard():
    assert_query_only("SELECT 1")
    assert_query_only("WITH t AS (SELECT 1) SELECT * FROM t")
    for bad in ("DROP TABLE flow", "INSERT INTO x VALUES (1)", "SET a=1"):
        with pytest.raises(ValueError):
            assert_query_only(bad)


def test_generate_pipeline_batch(spark):
    """The reference's generate_example.yaml shape: generate -> json_to_arrow
    -> sql agg -> arrow_to_json -> sql cast -> memory sink."""
    eng = make_engine(
        spark,
        textwrap.dedent(
            """
            streams:
              - input:
                  type: generate
                  context: '{"timestamp": 1625000000000, "value": 10, "sensor": "temp_1"}'
                  count: 100
                pipeline:
                  processors:
                    - type: json_to_arrow
                    - type: sql
                      query: "SELECT sum(value) AS v, avg(value) AS a, 111 AS x, sensor FROM flow GROUP BY sensor"
                    - type: arrow_to_json
                    - type: sql
                      query: "SELECT *, cast(__value__ AS string) AS y FROM flow"
                output:
                  type: memory
            """
        ),
    )
    outs = eng.run_batch_all()
    sink = eng.streams[0].output
    assert len(sink.batches) == 1
    rows = sink.batches[0]
    assert len(rows) == 1
    r = rows[0].asDict()
    assert r["v"] == 1000 and r["a"] == 10.0 and r["x"] == 111
    assert json.loads(r["y"])["sensor"] == "temp_1"


def test_meta_columns_visible_to_sql(spark):
    """__meta_source usable in SQL (reference: processor/sql.rs:271)."""
    eng = make_engine(
        spark,
        textwrap.dedent(
            """
            streams:
              - input:
                  type: memory
                  messages: ['{"v": 1}', '{"v": 2}']
                pipeline:
                  processors:
                    - type: json_to_arrow
                    - type: sql
                      query: "SELECT v, __meta_source AS source FROM flow"
                output:
                  type: memory
            """
        ),
    )
    eng.run_batch_all()
    rows = eng.streams[0].output.batches[0]
    assert {r["source"] for r in rows} == {"memory"}
    assert sorted(r["v"] for r in rows) == [1, 2]


def test_filter_to_empty(spark):
    """ProcessResult::None parity — a filter may drop every row."""
    eng = make_engine(
        spark,
        textwrap.dedent(
            """
            streams:
              - input:
                  type: memory
                  messages: ['{"v": 1}']
                pipeline:
                  processors:
                    - type: json_to_arrow
                    - type: filter
                      predicate: "v > 100"
                output:
                  type: memory
            """
        ),
    )
    eng.run_batch_all()
    assert eng.streams[0].output.batches[0] == []


def test_multiple_inputs_window_join(spark):
    """Two tagged sources joined by SQL within a window emission
    (reference: examples/join_buffer_example.yaml + buffer/join.rs)."""
    eng = make_engine(
        spark,
        textwrap.dedent(
            """
            streams:
              - input:
                  type: multiple_inputs
                  inputs:
                    - name: flow_input1
                      type: memory
                      messages: ['{"id": 1, "value": 10}', '{"id": 2, "value": 20}']
                    - name: flow_input2
                      type: memory
                      messages: ['{"id": 1, "sensor": "a"}', '{"id": 3, "sensor": "b"}']
                pipeline:
                  processors:
                    - type: json_to_arrow
                buffer:
                  type: window_join
                  sources: [flow_input1, flow_input2]
                  query: >
                    SELECT flow_input1.id AS id, flow_input1.value AS value,
                           flow_input2.sensor AS sensor
                    FROM flow_input1 JOIN flow_input2
                    ON flow_input1.id = flow_input2.id
                output:
                  type: memory
            """
        ),
    )
    # buffer runs before processors in the engine chain; here the join needs
    # parsed columns, so parse first via the pipeline: reorder manually
    s = eng.streams[0]
    df = s.input.read_batch(spark)
    df = s.processors[0].process(spark, df)
    joined = s.buffer.apply(spark, df)
    rows = joined.collect()
    assert len(rows) == 1
    assert rows[0]["id"] == 1 and rows[0]["value"] == 10 and rows[0]["sensor"] == "a"


def test_window_join_missing_source_guard(spark):
    """Silently empty when a source is absent (buffer/join.rs:102-109)."""
    from arkflow_spark.registry import BUFFERS

    load_all()
    buf = BUFFERS.build(
        {
            "type": "window_join",
            "sources": ["a", "b"],
            "query": "SELECT a.v FROM a JOIN b ON a.v = b.v",
        }
    )
    df = spark.createDataFrame([(1, "a")], "v INT, __meta_source STRING")
    out = buf.apply(spark, df)
    assert out.count() == 0


def test_debezium_codec(spark):
    load_all()
    from arkflow_spark.registry import CODECS
    from arkflow_spark.batch import new_binary_df

    codec = CODECS.build({"type": "debezium_json"})
    create = {
        "op": "c",
        "ts_ms": 1700000000000,
        "before": None,
        "after": {"id": 7, "name": "alice"},
        "source": {"db": "inventory", "table": "customers"},
    }
    delete = {
        "op": "d",
        "ts_ms": 1700000001000,
        "before": {"id": 7, "name": "alice"},
        "after": None,
        "source": {"db": "inventory", "table": "customers"},
    }
    df = new_binary_df(
        spark, [json.dumps(create).encode(), json.dumps(delete).encode()]
    )
    out = codec.decode(spark, df).orderBy("ts_ms").collect()
    assert out[0]["id"] == 7 and out[0]["name"] == "alice" and out[0]["op"] == "c"
    assert out[0]["source_db"] == "inventory"
    assert out[0]["source_table"] == "customers"
    # delete promotes `before` (codec/debezium.rs:88-95)
    assert out[1]["id"] == 7 and out[1]["op"] == "d"
    assert json.loads(out[1]["before"])["name"] == "alice"


def test_schema_registry_codec(spark):
    load_all()
    from arkflow_spark.registry import CODECS
    from arkflow_spark.batch import VALUE_COL, new_binary_df

    codec = CODECS.build({"type": "schema_registry"})
    payload = json.dumps({"x": 42}).encode()
    wire = bytes([0, 0, 0, 0, 7]) + payload  # magic + schema id 7
    out = codec.decode(spark, new_binary_df(spark, [wire]))
    row = out.collect()[0]
    assert row["x"] == 42


def test_python_processor_map_in_arrow(spark):
    """Batch-level Python UDF parity (processor/python.rs:47-98)."""
    import pyarrow as pa

    load_all()
    from arkflow_spark.registry import PROCESSORS

    def double_v(batches):
        for b in batches:
            v = b.column("v")
            yield pa.RecordBatch.from_arrays(
                [pa.compute.multiply(v, 2)], names=["v2"]
            )

    proc = PROCESSORS.build(
        {"type": "python", "function_ref": double_v, "schema": "v2 bigint"}
    )
    df = spark.createDataFrame([(1,), (2,)], "v BIGINT")
    out = proc.process(spark, df)
    assert sorted(r["v2"] for r in out.collect()) == [2, 4]


def test_error_output_dlq(spark):
    """Failing batch diverts raw rows to error_output (stream/mod.rs:485-516)."""
    eng = make_engine(
        spark,
        textwrap.dedent(
            """
            streams:
              - input:
                  type: memory
                  messages: ['not json at all']
                pipeline:
                  processors:
                    - type: sql
                      query: "SELECT missing_column FROM flow"
                output:
                  type: memory
                error_output:
                  type: memory
            """
        ),
    )
    eng.run_batch_all()
    s = eng.streams[0]
    assert s.output.batches == []  # main sink got nothing
    assert len(s.error_output.batches[0]) == 1  # raw batch dead-lettered


def test_idempotent_eos_writer(spark, tmp_path):
    from arkflow_spark.streaming.eos import IdempotentBatchWriter

    load_all()
    inner = OUTPUTS.build({"type": "memory"})
    w = IdempotentBatchWriter(inner, str(tmp_path / "ledger"))
    df = spark.createDataFrame([(1,)], "v INT")
    w.write_batch(df, epoch_id=5)
    w.write_batch(df, epoch_id=5)  # replay: must be a no-op
    w.write_batch(df, epoch_id=6)
    assert len(inner.batches) == 2


def test_sliding_count_window_batch(spark):
    """Count-based sliding window semantics (buffer/sliding_window.rs:114-163):
    size=3, slide=2 over 7 rows -> complete windows [0..2],[2..4],[4..6]."""
    from arkflow_spark.streaming.state import sliding_count_window_batch

    df = spark.createDataFrame([(i,) for i in range(7)], "seq INT")
    out = sliding_count_window_batch(
        df, window_size=3, slide_size=2, order_by=["seq"]
    )
    got = {
        (r["window_id"], r["pos_in_window"], r["seq"]) for r in out.collect()
    }
    expect = {
        (0, 0, 0), (0, 1, 1), (0, 2, 2),
        (1, 0, 2), (1, 1, 3), (1, 2, 4),
        (2, 0, 4), (2, 1, 5), (2, 2, 6),
    }
    assert got == expect


def test_tumbling_window_buffer_batch(spark):
    load_all()
    from arkflow_spark.registry import BUFFERS

    buf = BUFFERS.build(
        {
            "type": "tumbling_window",
            "interval": "1h",
            "time_col": "ts",
            "group_by": ["k"],
            "aggregations": [
                {"expr": "count(*)", "alias": "n"},
                {"expr": "sum(v)", "alias": "total"},
            ],
        }
    )
    df = spark.createDataFrame(
        [("2024-01-01 00:10:00", "a", 1), ("2024-01-01 00:50:00", "a", 2),
         ("2024-01-01 01:10:00", "a", 4)],
        "ts STRING, k STRING, v INT",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    rows = buf.apply(spark, df).orderBy("window_start").collect()
    assert [r["total"] for r in rows] == [3, 4]
    assert [r["n"] for r in rows] == [2, 1]


def test_window_join_with_codec_through_engine(spark):
    """Full engine chain: the buffer decodes each source's __value__ via its
    configured codec before joining (buffer/join.rs:132-145) — no manual
    processor reordering needed."""
    eng = make_engine(
        spark,
        textwrap.dedent(
            """
            streams:
              - input:
                  type: multiple_inputs
                  inputs:
                    - name: readings
                      type: memory
                      messages: ['{"id": 1, "value": 10}', '{"id": 2, "value": 20}']
                    - name: sensors
                      type: memory
                      messages: ['{"id": 1, "sensor": "a"}']
                buffer:
                  type: window_join
                  sources: [readings, sensors]
                  codec: {type: json}
                  query: >
                    SELECT readings.id AS id, readings.value AS value,
                           sensors.sensor AS sensor
                    FROM readings JOIN sensors ON readings.id = sensors.id
                output:
                  type: memory
            """
        ),
    )
    eng.run_batch_all()
    rows = eng.streams[0].output.batches[0]
    assert len(rows) == 1
    assert (rows[0]["id"], rows[0]["value"], rows[0]["sensor"]) == (1, 10, "a")


def test_stream_level_temporary_registration(spark):
    """Stream-level `temporary:` section registered per batch and joinable
    from any sql processor (reference: stream YAML temporary section +
    processor/sql.rs:148-183)."""
    eng = make_engine(
        spark,
        textwrap.dedent(
            """
            streams:
              - input:
                  type: memory
                  messages: ['{"sensor": "s1", "v": 1.5}', '{"sensor": "s9", "v": 2.5}']
                temporary:
                  - type: static
                    name: units
                    schema: "sensor string, unit string"
                    rows:
                      - {sensor: s1, unit: celsius}
                pipeline:
                  processors:
                    - type: json_to_arrow
                    - type: sql
                      query: "SELECT f.sensor, f.v, u.unit FROM flow f
                              LEFT JOIN units u ON f.sensor = u.sensor
                              ORDER BY f.sensor"
                output:
                  type: memory
            """
        ),
    )
    eng.run_batch_all()
    rows = eng.streams[0].output.batches[0]
    assert [(r["sensor"], r["unit"]) for r in rows] == [("s1", "celsius"), ("s9", None)]


def test_python_processor_inline_script_example(spark):
    """The reference's python_processor_example.yaml surface: inline
    ``script:`` + ``function:`` in YAML, per-batch RecordBatch-in /
    list-of-batches-out contract (processor/python.rs:47-98). Runs the
    shipped example file end to end with the sink swapped to memory."""
    import yaml as _y

    with open("examples/python_processor_example.yaml") as f:
        conf = _y.safe_load(f)
    conf["streams"][0]["output"] = {"type": "memory"}
    eng = Engine(spark, EngineConfig.from_dict(conf))
    eng.run_batch_all()
    rows = sorted(
        (r["sensor"], r["value"], r["value_doubled"], r["value_squared"])
        for r in eng.streams[0].output.batches[0]
    )
    assert rows == [
        ("temp_1", 10, 20, 100),
        ("temp_1", 19, 38, 361),
        ("temp_2", 11, 22, 121),
        ("temp_2", 11, 22, 121),
    ]


def test_all_example_configs_parse(spark):
    """Every example YAML stays structurally valid and every stream in it
    constructs through the registries (the broker-dependent ones can't
    execute in this container, but must always parse and build)."""
    import glob

    from arkflow_spark.config import EngineConfig

    paths = sorted(glob.glob("examples/*.yaml"))
    assert len(paths) >= 10
    for p in paths:
        cfg = EngineConfig.from_file(p)
        assert cfg.streams, p
        for conf in cfg.streams:
            Stream(spark, conf)


def test_validate_processor_gates_batch_to_dlq(spark):
    """A failing `validate` check dead-letters the raw batch via
    error_output and keeps the stream alive — the in-pipeline Deequ
    gate wired to the engine's DLQ contract (stream/mod.rs:485-516
    error routing)."""
    eng = make_engine(
        spark,
        textwrap.dedent(
            """
            streams:
              - input:
                  type: memory
                  messages: ['{"id": 1, "name": "ok"}',
                             '{"id": 2, "name": null}']
                pipeline:
                  processors:
                    - type: json_to_arrow
                    - type: validate
                      checks:
                        - name: named
                          predicate: "name IS NOT NULL"
                        - name: bounded
                          assert: "COUNT(*) <= 10"
                output:
                  type: memory
                error_output:
                  type: memory
            """
        ),
    )
    eng.run_batch_all()
    s = eng.streams[0]
    assert s.output.batches == []  # gate blocked the main sink
    assert len(s.error_output.batches) == 1  # raw batch dead-lettered
