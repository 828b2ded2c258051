"""Hypothesis fuzz of the gap-fill operators against the DuckDB oracle on
generated event sets — hits the shapes real data rarely does: single
observations, same-bucket ties, long leading/trailing gaps, duplicate
timestamps across users."""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from arkflow_spark.plans.oracle import compare
from arkflow_spark.queries.base import ORACLE
from arkflow_spark.queries.timeseries_q import (
    events_gapfill_interpolate,
    events_gapfill_locf,
)


event = st.tuples(
    st.integers(min_value=0, max_value=3),          # user_id (< 8 filter)
    st.integers(min_value=0, max_value=60 * 48),    # minutes from t0
    st.integers(min_value=0, max_value=10_000),     # value in cents
)
event_sets = st.lists(event, min_size=1, max_size=25, unique=True)


@pytest.fixture(scope="module")
def spark_mod(spark):
    return spark


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=event_sets)
def test_gapfill_matches_duckdb_on_generated_series(
    spark_mod, tmp_path_factory, rows
):
    t0 = dt.datetime(2024, 1, 1)
    data = [
        (
            i,
            t0 + dt.timedelta(minutes=m),
            u,
            "m",
            c / 100.0,
            "{}",
        )
        for i, (u, m, c) in enumerate(sorted(rows))
    ]
    sf = tmp_path_factory.mktemp("gapfuzz")
    spark_mod.createDataFrame(
        data,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(sf / "events.parquet")
    )
    for name, fn in (
        ("events_gapfill_locf", events_gapfill_locf),
        ("events_gapfill_interpolate", events_gapfill_interpolate),
    ):
        res = compare(name, spark_mod, str(sf), fn, ORACLE[name])
        assert res.ok, (name, rows, str(res))
