"""Smoke tests of the driver contract: entry() runs, every query runs at
sf0.001, and every declared oracle passes the local DuckDB parity check."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from arkflow_spark.plans.oracle import compare
from tests.conftest import SF_SMOKE


def test_entry_runs(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_queries_and_oracles_registered(spark):
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert len(qs) >= 25
    assert set(oracles) <= set(qs)


def test_query_rejects_duplicate_name():
    from arkflow_spark.queries.base import ORACLE, QUERIES, query

    name = "q1_pricing_summary"
    queries_before, oracles_before = dict(QUERIES), dict(ORACLE)
    with pytest.raises(ValueError, match=name):
        query(name, oracle="SELECT 1 AS x")(lambda spark, sf_dir: None)
    assert QUERIES == queries_before
    assert ORACLE == oracles_before


def test_no_two_queries_share_an_oracle():
    """One query per oracle: two names whose oracle texts differ only in
    whitespace answer the same question twice."""
    from arkflow_spark.queries.base import ORACLE

    by_text: dict[str, list[str]] = {}
    for name, sql in ORACLE.items():
        by_text.setdefault(" ".join(sql.split()), []).append(name)
    shared = sorted(sorted(names) for names in by_text.values()
                    if len(names) > 1)
    assert shared == []


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_query_runs_smoke(spark, name):
    fn = entry_mod.queries()[name]
    df = fn(spark, SF_SMOKE)
    assert df.count() >= 0


@pytest.mark.parametrize("name", sorted(entry_mod.oracle_sql()))
def test_oracle_parity_smoke(spark, name):
    res = compare(
        name, spark, SF_SMOKE, entry_mod.queries()[name], entry_mod.oracle_sql()[name]
    )
    assert res.ok, str(res)
