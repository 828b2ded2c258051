"""Component tests: lookup (temporary) tables, multimodal operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from arkflow_spark.registry import PROCESSORS, load_all


def test_sql_processor_with_static_lookup(spark):
    """Lookup join parity with the reference's redis_temporary example:
    SELECT * FROM flow RIGHT JOIN redis_table ON flow.sensor = redis_table.x
    (processor/sql.rs:148-183)."""
    load_all()
    proc = PROCESSORS.build(
        {
            "type": "sql",
            "query": "SELECT flow.sensor, flow.v, lk.x, lk.site FROM flow "
            "JOIN lk ON flow.sensor = lk.x",
            "temporary": [
                {
                    "type": "static",
                    "name": "lk",
                    "schema": "x STRING, site STRING",
                    "rows": [["t1", "berlin"], ["t2", "oslo"], ["t9", "unused"]],
                    "key_expr": "sensor",
                    "key_column": "x",
                }
            ],
        }
    )
    df = spark.createDataFrame(
        [("t1", 10), ("t2", 20), ("t3", 30)], "sensor STRING, v INT"
    )
    rows = {r["sensor"]: r["site"] for r in proc.process(spark, df).collect()}
    assert rows == {"t1": "berlin", "t2": "oslo"}


def test_file_temporary_key_filter(spark, tmp_path):
    load_all()
    from arkflow_spark.registry import TEMPORARIES

    lk_path = str(tmp_path / "lk")
    spark.createDataFrame(
        [(i, f"name{i}") for i in range(100)], "k BIGINT, name STRING"
    ).write.parquet(lk_path)
    t = TEMPORARIES.build(
        {
            "type": "file",
            "name": "lkf",
            "path": lk_path,
            "key_expr": "id % 100",
            "key_column": "k",
        }
    )
    batch = spark.createDataFrame([(5,), (205,)], "id BIGINT")
    t.register(spark, batch)
    got = spark.sql("SELECT k, name FROM lkf ORDER BY k").collect()
    assert [r["k"] for r in got] == [5]  # key-filtered to the batch's keys


def test_multimodal_pipeline(spark):
    from arkflow_spark.operators.multimodal import (
        attach_fake_media,
        byte_stats,
        decode_image,
        frame_sample,
    )

    docs = spark.createDataFrame(
        [(1, "hello world " * 20), (2, "tiny")], "doc_id BIGINT, text STRING"
    )
    media = attach_fake_media(docs, "text", "doc_id")
    assert set(media.columns) == {"media_id", "payload", "media_type", "meta"}
    meta = media.select("meta.declared_w", "meta.declared_h").collect()
    assert all(1 <= r["declared_w"] <= 1920 for r in meta)

    stats = {r["media_id"]: r for r in byte_stats(media).collect()}
    assert stats[1]["n_bytes"] == len("hello world " * 20)
    assert stats[2]["n_bytes"] == 4
    assert stats[2]["first_byte"] == ord("t")

    dec = {r["media_id"]: r for r in decode_image(media).collect()}
    assert dec[1]["decoder"] in ("stub", "pil")
    assert dec[1]["channels"] == 3

    frames = frame_sample(media, every_n_bytes=64, max_frames=8).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r["media_id"], []).append(r["frame_idx"])
    # 240 bytes -> 3 frames; 4 bytes -> 1 frame (minimum)
    assert sorted(by_id[1]) == [0, 1, 2]
    assert by_id[2] == [0]


class FakeRedis:
    """mget-compatible fake (redis-py contract) for RedisTemporary."""

    def __init__(self, data):
        self.data = data
        self.calls = []

    def mget(self, keys):
        self.calls.append(list(keys))
        return [self.data.get(k) for k in keys]


def test_redis_temporary_mget_lookup(spark):
    """Parity with examples/redis_temporary_example.yaml: fetch by key expr,
    register as view, join from SQL (temporary/redis.rs:59-122)."""
    from arkflow_spark.registry import TEMPORARIES, load_all

    load_all()
    fake = FakeRedis({"s1": b"celsius", "s2": b"kelvin"})
    temp = TEMPORARIES.build(
        {"type": "redis", "name": "redis_table", "key_expr": "sensor",
         "key_column": "sensor", "value_column": "unit", "client": fake}
    )
    batch = spark.createDataFrame(
        [("s1", 21.5), ("s2", 300.1), ("s3", 7.0), ("s1", 22.0)],
        "sensor string, reading double",
    )
    temp.register(spark, batch)
    batch.createOrReplaceTempView("flow")
    out = spark.sql(
        "SELECT f.sensor, f.reading, r.unit FROM flow f "
        "JOIN redis_table r ON f.sensor = r.sensor ORDER BY f.sensor, f.reading"
    ).collect()
    assert [(r.sensor, r.unit) for r in out] == [
        ("s1", "celsius"), ("s1", "celsius"), ("s2", "kelvin"),
    ]
    # one MGET of the distinct non-null keys
    assert len(fake.calls) == 1 and sorted(fake.calls[0]) == ["s1", "s2", "s3"]


def test_remap_processor_vrl_capability(spark):
    """VRL-capability parity (processor/vrl.rs): enrich/reshape/drop as
    named SQL expressions, JVM-side."""
    from arkflow_spark.registry import PROCESSORS, load_all

    load_all()
    p = PROCESSORS.build(
        {
            "type": "remap",
            "fields": {
                "level": "upper(level)",
                "service": "split(host, '\\\\.')[0]",
                "is_error": "level IN ('ERROR', 'FATAL')",
                "ts_hour": "date_trunc('hour', ts)",
            },
            "drop": ["host"],
        }
    )
    df = spark.createDataFrame(
        [("error", "api.prod.example", "2024-01-01 10:34:56")],
        "level string, host string, ts_s string",
    ).withColumn("ts", F.to_timestamp("ts_s"))
    out = p.process(spark, df).collect()[0]
    assert out["level"] == "ERROR" and out["service"] == "api"
    assert out["is_error"] is True
    assert str(out["ts_hour"]) == "2024-01-01 10:00:00"
    assert "host" not in out.asDict()


def test_date_bin_pre_origin_floors_correctly(spark):
    """date_bin must floor toward -inf for timestamps before the origin
    (pmod construction), matching PostgreSQL/DataFusion semantics."""
    from arkflow_spark.functions import date_bin

    df = spark.createDataFrame(
        [("2023-12-31 23:59:00",), ("2024-01-01 00:00:00",),
         ("2024-01-01 00:14:59",), ("2024-01-01 00:15:00",)],
        "s string",
    ).select(F.to_timestamp("s").alias("ts"))
    out = [
        str(r[0])
        for r in df.select(
            date_bin("15m", F.col("ts"), "2024-01-01 00:00:00")
        ).collect()
    ]
    assert out == [
        "2023-12-31 23:45:00",  # pre-origin: floored, not truncated toward 0
        "2024-01-01 00:00:00",
        "2024-01-01 00:00:00",
        "2024-01-01 00:15:00",
    ]


def test_sketch_estimates_close_to_exact(spark):
    """HLL/theta union-of-parts must estimate within ~2% of the exact
    distinct count (mergeability = the distributed distinct-count path).
    Numeric accuracy asserted on raw estimates here; the registered
    `agg_sketches` query hashes the 5%-bound verdicts via its oracle."""
    from arkflow_spark.queries import QUERIES
    from arkflow_spark.tables import load
    from tests.conftest import SF_CORRECT

    load(spark, SF_CORRECT, "events").createOrReplaceTempView("ev_raw_sk")
    row = spark.sql(
        """
        WITH per_group AS (
          SELECT event_type, hll_sketch_agg(user_id) AS hll
          FROM ev_raw_sk GROUP BY event_type
        )
        SELECT
          (SELECT hll_sketch_estimate(hll_union_agg(hll)) FROM per_group)
            AS hll_union,
          (SELECT hll_sketch_estimate(hll_sketch_agg(user_id)) FROM ev_raw_sk)
            AS hll_direct,
          (SELECT theta_sketch_estimate(theta_sketch_agg(user_id))
           FROM ev_raw_sk) AS theta
        """
    ).collect()[0]
    exact = (
        spark.read.parquet(f"{SF_CORRECT}/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    for est in (row.hll_union, row.hll_direct, row.theta):
        assert abs(est - exact) / exact < 0.02, (est, exact)
    # unioned per-group sketches == direct sketch estimate (associativity)
    assert row.hll_union == row.hll_direct

    # the registered query's verdicts must all be TRUE with exact counts
    q = QUERIES["agg_sketches"](spark, SF_CORRECT).collect()[0]
    assert q.exact_users == exact and q.topk_size == 3
    assert q.hll_union_within_bound and q.hll_direct_within_bound
    assert q.theta_within_bound


def _mk_validate(conf):
    from arkflow_spark.registry import PROCESSORS, load_all

    load_all()
    return PROCESSORS.build({"type": "validate", **conf})


def test_validate_processor_drop_and_tag(spark):
    """Row-level checks: `drop` removes violating rows; `tag` annotates
    every row with the names of the rules it fails."""
    df = spark.createDataFrame(
        [(1, 10.0), (None, 5.0), (3, -2.0)], "id INT, v DOUBLE"
    )
    checks = [
        {"name": "id_present", "predicate": "id IS NOT NULL"},
        {"name": "v_nonneg", "predicate": "v >= 0"},
    ]
    dropped = _mk_validate(
        {"checks": checks, "on_violation": "drop"}
    ).process(spark, df)
    assert [r["id"] for r in dropped.collect()] == [1]

    tagged = _mk_validate(
        {"checks": checks, "on_violation": "tag"}
    ).process(spark, df)
    by_v = {r["v"]: list(r["_dq_violations"]) for r in tagged.collect()}
    assert by_v[10.0] == []
    assert by_v[5.0] == ["id_present"]
    assert by_v[-2.0] == ["v_nonneg"]


def test_validate_processor_fail_and_aggregate(spark):
    """`fail` raises on the first violating row (so the engine's DLQ
    path takes the batch); aggregate asserts always raise on failure."""
    import pytest

    df = spark.createDataFrame([(1,), (2,)], "id INT")
    ok = _mk_validate(
        {"checks": [{"name": "pk", "predicate": "id IS NOT NULL"},
                    {"name": "small", "assert": "COUNT(*) <= 5"}]}
    ).process(spark, df)
    assert ok.count() == 2

    with pytest.raises(ValueError, match="small"):
        _mk_validate(
            {"checks": [{"name": "small", "assert": "COUNT(*) <= 1"}]}
        ).process(spark, df)

    with pytest.raises(ValueError, match="row-level"):
        _mk_validate(
            {"checks": [{"name": "pos", "predicate": "id > 1"}]}
        ).process(spark, df)

