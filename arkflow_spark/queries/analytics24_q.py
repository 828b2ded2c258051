"""Round-3 fourth-session batch 20: classical seasonal indices and
market-concentration scoring.

- `orders_seasonal_index` — the ratio-to-moving-average seasonal index
  (the classical decomposition's seasonal step): monthly revenue over
  its centered 12-month moving average, averaged per calendar month —
  the de-seasonalization table planners divide by before comparing
  months (`events_seasonality_r2` scores an assumed cycle;
  `events_periodogram` finds one; this TABULATES it for adjustment).
- `lineitem_supplier_hhi` — the Herfindahl-Hirschman concentration
  index of supplier revenue share per part: HHI = sum(share^2), with
  the standard >0.25 concentration flag — the procurement
  single-source-risk scorecard (and the antitrust metric), one
  reduction plus a share window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import (
    DUCK_TS_FMT,
    SPARK_TS_FMT,
    quantize,
    query,
)
from arkflow_spark.tables import load


@query(
    "orders_seasonal_index",
    oracle=f"""
    WITH monthly AS (
      SELECT date_trunc('month', o_orderdate) AS mon,
             month(o_orderdate) AS cal_month,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS rev,
             row_number() OVER (ORDER BY date_trunc('month',
                                                    o_orderdate)) AS rn,
             COUNT(*) OVER () AS nm
      FROM orders GROUP BY 1, 2
    ),
    ma AS (
      SELECT mon, cal_month, rev,
             AVG(rev) OVER (ORDER BY rn
                            ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)
               AS ma13,
             rn, nm
      FROM monthly
    ),
    ratios AS (
      SELECT cal_month, rev / ma13 AS ratio
      FROM ma WHERE rn > 6 AND rn <= nm - 6
    )
    SELECT cal_month, COUNT(*) AS n_years,
           floor(AVG(ratio) * 10000 + 0.5) / 10000 AS seasonal_index
    FROM ratios
    GROUP BY cal_month
    ORDER BY cal_month
    """,
)
def orders_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical ratio-to-moving-average seasonal indices: monthly
    revenue divided by its centered 13-month moving average (edge
    months without a full window drop), averaged per calendar month —
    the seasonal-adjustment table of the classical decomposition
    (X-11's ancestor). An index of 1.08 for December means December
    runs 8% above trend; planners divide by it before comparing
    months. Revenue reduces as exact decimal; the MA and ratio are the
    only floats, quantized once after the per-month average.

    Scale: the window runs over the MONTHLY aggregate (months, not
    orders); the whole decomposition is two tiny window/agg passes
    after one map-side-combinable reduction.
    """
    o = load(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(
            F.date_trunc("month", "o_orderdate").alias("mon"),
            F.month("o_orderdate").alias("cal_month"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("rev")
        )
        .select(
            "mon",
            "cal_month",
            "rev",
            # scale: calendar-bounded (months)
            F.row_number().over(Window.orderBy("mon")).alias("rn"),
            F.count("*")
            .over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            .alias("nm"),
        )
    )
    w_ma = Window.orderBy("rn").rowsBetween(-6, 6)
    ma = monthly.select(
        "cal_month",
        "rev",
        F.avg("rev").over(w_ma).alias("ma13"),
        "rn",
        "nm",
    )
    ratios = ma.filter(
        (F.col("rn") > 6) & (F.col("rn") <= F.col("nm") - 6)
    ).select("cal_month", (F.col("rev") / F.col("ma13")).alias("ratio"))
    return (
        ratios.groupBy("cal_month")
        .agg(
            F.count("*").alias("n_years"),
            quantize(F.avg("ratio"), 4).alias("seasonal_index"),
        )
        .orderBy("cal_month")
    )


@query(
    "lineitem_supplier_hhi",
    oracle="""
    WITH rev AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                  AS DOUBLE) AS r
      FROM lineitem GROUP BY 1, 2
    ),
    shares AS (
      SELECT l_partkey, l_suppkey,
             r / SUM(r) OVER (PARTITION BY l_partkey) AS share
      FROM rev
    )
    SELECT l_partkey,
           COUNT(*) AS n_suppliers,
           floor(SUM(share * share) * 10000 + 0.5) / 10000 AS hhi,
           SUM(share * share) > 0.25 AS concentrated
    FROM shares
    GROUP BY l_partkey
    ORDER BY l_partkey
    """,
)
def lineitem_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier concentration per part via the Herfindahl-Hirschman
    index: HHI = sum over suppliers of (revenue share)^2 — 1/n for
    perfectly split supply, 1.0 for single-sourced — with the standard
    0.25 'highly concentrated' flag: the procurement single-source
    risk scorecard (and the regulator's merger metric). Shares come
    from a partition window over the (part, supplier) aggregate;
    revenue reduces as exact decimal first.

    Scale: one (part, supplier) reduction, one part-keyed window, one
    part-keyed aggregation — all on the same uniform key, one shuffle
    lineage, map-side combines throughout.
    """
    li = load(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("r")
    )
    w = Window.partitionBy("l_partkey")
    shares = rev.select(
        "l_partkey",
        (F.col("r") / F.sum("r").over(w)).alias("share"),
    )
    hhi = F.sum(F.col("share") * F.col("share"))
    return (
        shares.groupBy("l_partkey")
        .agg(
            F.count("*").alias("n_suppliers"),
            quantize(hhi, 4).alias("hhi"),
            (hhi > 0.25).alias("concentrated"),
        )
        .orderBy("l_partkey")
    )
