"""Round-6 batch 130: promo attach economics, degree-resolved
assortativity.

- `lineitem_promo_attach_rate` — the halo question: do orders that
  contain a PROMO-type part carry MORE non-promo revenue than orders
  without one? Reports both means, the attach lift, and the share of
  mixed orders. Promotions are judged on their own margin unless the
  halo is measured; `lineitem_promo_intensity_trend` tracks volume,
  this prices the spillover.
- `graph_avg_neighbor_degree` — the degree-resolved assortativity
  curve knn(d): mean neighbour degree per degree bucket of the
  co-purchase graph. `graph_degree_assortativity` compresses mixing
  into one coefficient; the curve shows WHERE it bends (rising =
  hub-hub core, falling tail = hubs feeding the periphery) — the
  same completion rich-club gave the density view.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.functions import copurchase
from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ promo attach


@query(
    "lineitem_promo_attach_rate",
    oracle="""
    WITH lines AS (
      SELECT l.l_orderkey,
             p.p_type LIKE 'PROMO%' AS is_promo,
             CAST(l.l_extendedprice * (1 - l.l_discount)
                  AS DECIMAL(18,6)) AS rev
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    per_order AS (
      SELECT l_orderkey,
             MAX(CASE WHEN is_promo THEN 1 ELSE 0 END) = 1 AS has_promo,
             SUM(CASE WHEN NOT is_promo THEN rev END) AS nonpromo_rev,
             SUM(CASE WHEN is_promo THEN rev END) AS promo_rev
      FROM lines GROUP BY l_orderkey
    ),
    agg AS (
      SELECT COUNT(*) AS n_orders,
             COUNT(*) FILTER (has_promo) AS promo_orders,
             COUNT(*) FILTER (has_promo AND nonpromo_rev IS NOT NULL)
               AS mixed_orders,
             CAST(SUM(nonpromo_rev) FILTER (has_promo) AS DOUBLE)
               / COUNT(*) FILTER (has_promo) AS np_rev_with_promo,
             CAST(SUM(nonpromo_rev) FILTER (NOT has_promo) AS DOUBLE)
               / COUNT(*) FILTER (NOT has_promo) AS np_rev_without
      FROM per_order
    )
    SELECT CAST(n_orders AS BIGINT) AS n_orders,
           CAST(promo_orders AS BIGINT) AS promo_orders,
           floor(mixed_orders * 1.0 / promo_orders * 10000 + 0.5)
             / 10000 AS mixed_share,
           floor(np_rev_with_promo * 100 + 0.5) / 100
             AS nonpromo_rev_with_promo,
           floor(np_rev_without * 100 + 0.5) / 100
             AS nonpromo_rev_without,
           floor(np_rev_with_promo / np_rev_without * 10000 + 0.5)
             / 10000 AS halo_lift,
           np_rev_with_promo > np_rev_without AS halo_positive
    FROM agg
    """,
)
def lineitem_promo_attach_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Promo halo economics: mean NON-promo revenue per order, split
    by whether the order contains a PROMO-type part; the halo lift
    ratio and the share of promo orders that are mixed. Lift > 1 =
    promotions pull full-margin items into the basket (the attach
    effect); ~1 = promo demand is isolated and must pay for itself.
    Null non-promo revenue (promo-only orders) stays out of both
    means by construction.

    Scale shape: one lineitem scan with the part dim broadcast, one
    order rollup, a single summary row of exact decimal means.
    """
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    lines = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "l_orderkey",
        F.col("p_type").startswith("PROMO").alias("is_promo"),
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).cast("decimal(18,6)").alias("rev"),
    )
    per_order = lines.groupBy("l_orderkey").agg(
        (F.max(F.when(F.col("is_promo"), 1).otherwise(0)) == 1).alias(
            "has_promo"
        ),
        F.sum(F.when(~F.col("is_promo"), F.col("rev"))).alias(
            "nonpromo_rev"
        ),
    )
    cnt = lambda c: F.count(F.when(c, 1))
    with_p = (
        F.sum(F.when(F.col("has_promo"), F.col("nonpromo_rev"))).cast(
            "double"
        )
        / cnt(F.col("has_promo"))
    )
    without = (
        F.sum(F.when(~F.col("has_promo"), F.col("nonpromo_rev"))).cast(
            "double"
        )
        / cnt(~F.col("has_promo"))
    )
    return per_order.agg(
        F.count("*").cast("bigint").alias("n_orders"),
        cnt(F.col("has_promo")).cast("bigint").alias("promo_orders"),
        quantize(
            cnt(F.col("has_promo") & F.col("nonpromo_rev").isNotNull())
            * 1.0
            / cnt(F.col("has_promo")), 4
        ).alias("mixed_share"),
        quantize(with_p, 2).alias("nonpromo_rev_with_promo"),
        quantize(without, 2).alias("nonpromo_rev_without"),
        quantize(with_p / without, 4).alias("halo_lift"),
        (with_p > without).alias("halo_positive"),
    )


# ------------------------------------------------ neighbor degree curve


@query(
    "graph_avg_neighbor_degree",
    oracle="""
    WITH basket AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pair AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    und AS (
      SELECT u, v FROM pair UNION ALL SELECT v, u FROM pair
    ),
    deg AS (SELECT u, COUNT(*) AS d FROM und GROUP BY u),
    nbr AS (
      SELECT du.d AS d_self, dv.d AS d_nbr
      FROM und e
      JOIN deg du ON du.u = e.u
      JOIN deg dv ON dv.u = e.v
    ),
    bucketed AS (
      SELECT CASE WHEN d_self < 2 THEN '1'
                  WHEN d_self < 4 THEN '2-3'
                  WHEN d_self < 8 THEN '4-7'
                  WHEN d_self < 16 THEN '8-15'
                  ELSE '16+' END AS degree_band,
             CASE WHEN d_self < 2 THEN 0 WHEN d_self < 4 THEN 1
                  WHEN d_self < 8 THEN 2 WHEN d_self < 16 THEN 3
                  ELSE 4 END AS band_ord,
             d_nbr
      FROM nbr
    )
    SELECT degree_band,
           CAST(COUNT(*) AS BIGINT) AS n_edge_ends,
           floor(CAST(SUM(CAST(d_nbr AS DECIMAL(18,1))) AS DOUBLE)
                 / COUNT(*) * 10000 + 0.5) / 10000
             AS avg_neighbor_degree
    FROM bucketed GROUP BY degree_band, band_ord ORDER BY band_ord
    """,
)
def graph_avg_neighbor_degree(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree-resolved assortativity knn(d): mean neighbour degree per
    degree band ({{1, 2-3, 4-7, 8-15, 16+}}) over the co-purchase
    graph's directed edge ends. A monotone-rising curve = assortative
    core (hubs co-sell with hubs); a falling high-degree tail = hubs
    feeding leaf products — the shape behind
    `graph_degree_assortativity`'s single coefficient.

    Scale shape: edges and degrees read the shared materialized
    co-purchase index; the curve is two degree-table joins onto the
    edge list and a 5-band rollup (exact decimal mean).
    """
    pair = copurchase.directed(spark, sf_dir).select("u", "v")
    und = pair.unionAll(
        pair.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count("*").alias("d"))
    du = deg.select(F.col("u").alias("eu"), F.col("d").alias("d_self"))
    dv = deg.select(F.col("u").alias("ev"), F.col("d").alias("d_nbr"))
    nbr = und.join(du, und.u == F.col("eu")).join(
        dv, und.v == F.col("ev")
    )
    band = (
        F.when(F.col("d_self") < 2, "1")
        .when(F.col("d_self") < 4, "2-3")
        .when(F.col("d_self") < 8, "4-7")
        .when(F.col("d_self") < 16, "8-15")
        .otherwise("16+")
    )
    band_ord = (
        F.when(F.col("d_self") < 2, 0)
        .when(F.col("d_self") < 4, 1)
        .when(F.col("d_self") < 8, 2)
        .when(F.col("d_self") < 16, 3)
        .otherwise(4)
    )
    return (
        nbr.select(band.alias("degree_band"), band_ord.alias("bo"), "d_nbr")
        .groupBy("degree_band", "bo")
        .agg(
            F.count("*").cast("bigint").alias("n_edge_ends"),
            quantize(
                F.sum(F.col("d_nbr").cast("decimal(18,1)")).cast("double")
                / F.count("*"), 4
            ).alias("avg_neighbor_degree"),
        )
        .orderBy("bo")
        .drop("bo")
    )
