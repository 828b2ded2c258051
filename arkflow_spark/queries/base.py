"""Query registry + determinism helpers for the DuckDB-oracle contract.

Every operator we claim in SURVEY.md §2 gets a named query here; the driver
runs the Spark callable and the DuckDB oracle SQL side-by-side and compares
row-count/schema/value-hash. Floating-point reductions are order-dependent,
and Spark (parallel, partitioned) will not sum doubles in the same order as
DuckDB (single-node) — so any SUM/AVG whose result must hash-match is
computed exactly:

    per-row cast to DECIMAL(18,6)  ->  exact decimal SUM  ->  cast DOUBLE

in BOTH engines. Variance-family statistics can't be made exact that way;
they are rounded to 4 decimals (error ~1e-12 relative, far below the
rounding quantum). Timestamps are emitted as formatted strings to sidestep
precision/timezone representation differences.

The rounding rule both engines share is :func:`quantize`: Spark's
``quantize(col, p)`` and the oracle's ``floor(x * 10^p + 0.5) / 10^p``
compute the same value from the same double.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a (spark, sf_dir) -> DataFrame callable, with optional
    DuckDB oracle SQL. No oracle => driver records a rows-only check.
    Raises ``ValueError`` if ``name`` is already registered."""
    if name in QUERIES:
        raise ValueError(f"query {name!r} is already registered")

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------- numerics

def dsum(col: Column | str, alias: str) -> Column:
    """Exact (decimal-backed) sum of a double expression, as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(18,6)")).cast("double").alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    """Exact-sum / exact-count average, as double (deterministic)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(c.cast("decimal(18,6)")).cast("double") / F.count(c)
    ).alias(alias)


def o_dsum(expr: str, alias: str) -> str:
    """DuckDB-side equivalent of :func:`dsum`."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(18,6))) AS DOUBLE) AS {alias}"


def o_davg(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST(({expr}) AS DECIMAL(18,6))) AS DOUBLE)"
        f" / COUNT({expr}) AS {alias}"
    )


def quantize(col: Column, places: int) -> Column:
    """``floor(col * 10^places + 0.5) / 10^places``: deterministic rounding
    to ``places`` decimals. Both engines floor the same double, so there is
    exactly one representable answer; ROUND's tie-breaking on exact
    half-quantum doubles differs between Spark and DuckDB. ``10**places``
    stays a Python int, so Spark sees an integer literal, as the oracle
    SQL does."""
    return F.floor(col * 10**places + 0.5) / 10**places


def r4(col: Column, alias: str) -> Column:
    """Round a statistic to 4 decimals (cross-engine hash stability)."""
    return F.round(col, 4).alias(alias)


def seq1(n: Column) -> Column:
    """``[1..n]``, EMPTY when n < 1. Spark's ``sequence(1, 0)`` returns the
    DESCENDING ``[1, 0]`` (step defaults to -1 when start > stop), so the
    common ``sequence(1, greatest(n, 0))`` guard still yields indices 1 and
    0 — and index 0 crashes element_at/slice. Every 1-based fan-out must go
    through this helper. DuckDB's generate_series(1, 0) is empty, so the
    oracles agree."""
    return F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )


# Spark: date_format(ts, SPARK_TS_FMT) ; DuckDB: strftime(ts, DUCK_TS_FMT)
SPARK_TS_FMT = "yyyy-MM-dd HH:mm:ss"
DUCK_TS_FMT = "%Y-%m-%d %H:%M:%S"


def fmt_ts(col: Column | str, alias: str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, SPARK_TS_FMT).alias(alias)


def materialize_bounded(df: DataFrame) -> DataFrame:
    """Pin a BOUNDED intermediate (shortlists, transition matrices,
    duel grids — tables whose row count is fixed by construction, not
    corpus-scaled) as a local DataFrame so iterative consumers don't
    re-execute its corpus-scan lineage once per round. The collect is
    sanctioned precisely because the input is bounded; passing a
    corpus-scaled frame here is a bug."""
    spark = df.sparkSession
    return spark.createDataFrame(df.collect(), df.schema)
