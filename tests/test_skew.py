from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from arkflow_spark.functions.skew import salted_agg, with_salt


def test_salted_agg_matches_plain(spark):
    df = spark.range(10000).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("v")
    )
    plain = {
        (r["k"]): (r["s"], r["n"], r["mx"])
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count("v").alias("n"), F.max("v").alias("mx"))
        .collect()
    }
    salted = {
        (r["k"]): (r["s"], r["n"], r["mx"])
        for r in salted_agg(
            df,
            ["k"],
            {"s": F.sum("v"), "n": F.count("v"), "mx": F.max("v")},
            n_salts=16,
        ).collect()
    }
    assert plain == salted


def test_salted_agg_rejects_nondecomposable(spark):
    df = spark.range(10).select((F.col("id") % 2).alias("k"), F.col("id").alias("v"))
    with pytest.raises(ValueError):
        salted_agg(df, ["k"], {"a": F.avg("v")})


def test_deterministic_salt(spark):
    df = spark.range(100).select(F.col("id"))
    a = with_salt(df, 8, deterministic_by="id").collect()
    b = with_salt(df, 8, deterministic_by="id").collect()
    assert a == b
