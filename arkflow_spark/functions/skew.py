"""Skew-mitigation utilities for hot keys at 100 TB.

AQE's skew-join splitting (on in session.py) handles sort-merge joins at
runtime; this helper covers the case AQE doesn't: salted two-phase
aggregation. A groupBy whose key distribution is pathological (one key >>
executor memory) aggregates first on (key, salt), then on key — both
phases map-side combinable.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt__"


def with_salt(df: DataFrame, n_salts: int, deterministic_by: str | None = None
              ) -> DataFrame:
    """Attach a salt in [0, n_salts). Random by default; pass a column name
    for a deterministic salt (reproducible tests / idempotent retries)."""
    if deterministic_by is not None:
        salt = F.pmod(F.xxhash64(F.col(deterministic_by)), F.lit(n_salts))
    else:
        salt = (F.rand() * n_salts).cast("int")
    return df.withColumn(SALT_COL, salt)


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, Column],
    n_salts: int = 32,
    deterministic_by: str | None = None,
) -> DataFrame:
    """Two-phase aggregation: groupBy(keys + salt) -> groupBy(keys).

    ``aggs`` maps output column name -> phase-1 aggregate Column; phase 2
    re-combines with the matching re-aggregate (sum for sums/counts, min/max
    for min/max). Only decomposable aggregates belong here — that's the
    price of skew immunity, same trade DataFusion/Spark make internally.
    """
    recombine = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    phase1 = with_salt(df, n_salts, deterministic_by).groupBy(
        *keys, SALT_COL
    )
    p1_cols, p2_cols = [], []
    for name, col in aggs.items():
        fn_name = col._jc.toString().split("(")[0].lower()
        if fn_name not in recombine:
            raise ValueError(
                f"{name}: only decomposable aggregates (sum/count/min/max)"
                " can be salted"
            )
        p1_cols.append(col.alias(f"__p1_{name}"))
        p2_cols.append(recombine[fn_name](f"__p1_{name}").alias(name))
    return phase1.agg(*p1_cols).groupBy(*keys).agg(*p2_cols)

