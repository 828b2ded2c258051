"""Round-5 batch 110: brand loyalty, ANN serving cost, adoption
breadth.

- `part_brand_loyalty_repeat_rate` — per brand: customers who bought
  it, those who came back for it in a LATER order, and the repeat
  rate vs the catalog average. Loyalty lives at the brand-repurchase
  grain; revenue share (`part_brand_price_positioning`) can be all
  first-time trial.
- `ann_probe_cost_distribution` — ANN serving cost skew: each
  query's probe cost IS its assigned IVF bucket's size, so the
  bucket-size distribution WEIGHTED BY assignment is the per-query
  cost distribution (mean/P50/P90 via exact selection over the
  bucket histogram). `ann_ivf_bucket_balance` says buckets are
  skewed; this prices that skew in per-query work.
- `events_feature_adoption_breadth` — breadth adoption curve: mean
  cumulative DISTINCT event types used by tenure week (counting
  users whose observation window reaches each week). Depth curves
  (`events_activation_time_to_n`) count events; this counts
  capabilities adopted.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ brand repeat rate


@query(
    "part_brand_loyalty_repeat_rate",
    oracle="""
    WITH cb AS (
      SELECT p.p_brand AS brand, o.o_custkey AS cust,
             CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    per AS (
      SELECT brand,
             CAST(COUNT(*) AS BIGINT) AS n_buyers,
             CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_repeaters
      FROM cb GROUP BY brand
    ),
    tot AS (
      SELECT CAST(SUM(n_buyers) AS BIGINT) AS b,
             CAST(SUM(n_repeaters) AS BIGINT) AS r
      FROM per
    )
    SELECT p.brand, p.n_buyers, p.n_repeaters,
           floor(p.n_repeaters * 1.0 / p.n_buyers * 10000 + 0.5)
             / 10000 AS repeat_rate,
           floor((p.n_repeaters * 1.0 / p.n_buyers)
                 / (t.r * 1.0 / t.b) * 10000 + 0.5) / 10000
             AS rate_vs_catalog
    FROM per p CROSS JOIN tot t
    ORDER BY p.brand
    """,
)
def part_brand_loyalty_repeat_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Brand repurchase loyalty: per brand, buyers, buyers with the
    brand in 2+ DISTINCT orders, the repeat rate, and its lift over
    the catalog-average repeat rate. A high-revenue brand with a
    below-catalog repeat rate is trial without retention — the brand
    health number revenue share hides.

    Scale shape: one (brand, customer) distinct-order rollup (part
    dim broadcast into the line join), one brand rollup, one
    broadcast total.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    p = load(spark, sf_dir, "part")
    cb = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(p.select("p_partkey", "p_brand")),
            li.l_partkey == F.col("p_partkey"),
        )
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("o_custkey").alias("cust"),
        )
        .agg(F.count_distinct("o_orderkey").cast("bigint").alias("n_orders"))
    )
    per = cb.groupBy("brand").agg(
        F.count("*").cast("bigint").alias("n_buyers"),
        F.sum(F.when(F.col("n_orders") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_repeaters"),
    ).persist()  # brand-bounded; feeds the total and the final rows
    tot = per.agg(
        F.sum("n_buyers").cast("bigint").alias("b"),
        F.sum("n_repeaters").cast("bigint").alias("r"),
    )
    rate = F.col("n_repeaters") * 1.0 / F.col("n_buyers")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "brand",
            "n_buyers",
            "n_repeaters",
            quantize(rate, 4).alias("repeat_rate"),
            quantize(
                rate / (F.col("r") * 1.0 / F.col("b")), 4
            ).alias("rate_vs_catalog"),
        )
        .orderBy("brand")
    )


# ------------------------------------------- ANN probe cost


def _probe_cost_oracle() -> str:
    # vector_q registers the ann_ivf_assign oracle read below
    import arkflow_spark.queries.vector_q  # noqa: F401
    from arkflow_spark.queries.base import ORACLE

    ivf = ORACLE["ann_ivf_assign"]
    return f"""
    WITH occ AS (
      SELECT assigned_label AS bucket, CAST(COUNT(*) AS BIGINT) AS c
      FROM ({ivf}) a GROUP BY 1
    ),
    cum AS (
      SELECT bucket, c,
             CAST(SUM(c) OVER (ORDER BY c, bucket
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cm,
             CAST(SUM(c) OVER () AS BIGINT) AS n,
             CAST(SUM(c * c) OVER () AS BIGINT) AS sc2
      FROM occ
    )
    SELECT MAX(n) AS n_queries,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           floor(MAX(sc2) * 1.0 / MAX(n) * 10000 + 0.5) / 10000
             AS mean_probe_cost,
           MIN(CASE WHEN cm * 2 >= n THEN c END) AS p50_probe_cost,
           MIN(CASE WHEN cm * 10 >= n * 9 THEN c END)
             AS p90_probe_cost,
           MAX(c) AS max_probe_cost
    FROM cum
    """


@query("ann_probe_cost_distribution", oracle=_probe_cost_oracle())
def ann_probe_cost_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-query ANN serving cost: a query probing its assigned IVF
    bucket scans that bucket's occupancy, so the cost distribution
    over queries is the bucket-size histogram weighted by assignment
    — mean = sum(c^2)/N, P50/P90 by cumulative selection over buckets
    ordered by size. `ann_ivf_bucket_balance` reports the skew; this
    converts it into the tail latency the serving fleet will see.

    Scale shape: reuses the registered IVF assignment; everything
    after is a k-row bucket table with one ordered cumulative pass
    (bucket-count bounded).  # scale: bucket-summary-bounded window
    (one row per IVF bucket, nlist fixed by construction)
    """
    from arkflow_spark.queries.base import QUERIES

    assign = QUERIES["ann_ivf_assign"](spark, sf_dir).select(
        F.col("assigned_label").alias("bucket")
    )
    occ = assign.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("c")
    ).persist()  # k rows over the whole IVF lineage
    from pyspark.sql import Window

    wall = Window.partitionBy()
    wcum = Window.orderBy("c", "bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = occ.select(
        "c",
        F.sum("c").over(wcum).cast("bigint").alias("cm"),
        F.sum("c").over(wall).cast("bigint").alias("n"),
        F.sum(F.col("c") * F.col("c")).over(wall).cast("bigint").alias(
            "sc2"
        ),
    )
    return cum.agg(
        F.max("n").alias("n_queries"),
        F.count("*").cast("bigint").alias("n_buckets"),
        quantize(F.max("sc2") * 1.0 / F.max("n"), 4).alias(
            "mean_probe_cost"
        ),
        F.min(
            F.when(F.col("cm") * 2 >= F.col("n"), F.col("c"))
        ).alias("p50_probe_cost"),
        F.min(
            F.when(F.col("cm") * 10 >= F.col("n") * 9, F.col("c"))
        ).alias("p90_probe_cost"),
        F.max("c").alias("max_probe_cost"),
    )


# ------------------------------------------- adoption breadth

_BREADTH_MAX_W = 26


@query(
    "events_feature_adoption_breadth",
    oracle=f"""
    WITH u0 AS (
      SELECT user_id,
             CAST(floor(MIN(epoch_us(ts)) / 604800000000.0) AS BIGINT)
               AS w0
      FROM events GROUP BY user_id
    ),
    span AS (
      SELECT CAST(floor(MAX(epoch_us(ts)) / 604800000000.0) AS BIGINT)
               AS wmax
      FROM events
    ),
    fu AS (
      SELECT e.user_id,
             CAST(floor(MIN(epoch_us(e.ts)) / 604800000000.0)
                  AS BIGINT) - u.w0 AS w
      FROM events e JOIN u0 u USING (user_id)
      GROUP BY e.user_id, e.event_type, u.w0
    ),
    grid AS (SELECT g.i AS w FROM generate_series(0, {_BREADTH_MAX_W})
             g(i)),
    obs AS (
      SELECT g.w, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM u0 u CROSS JOIN span s JOIN grid g
        ON s.wmax - u.w0 >= g.w
      GROUP BY g.w
    ),
    adopted AS (
      SELECT g.w, CAST(COUNT(*) AS BIGINT) AS n_adoptions
      FROM fu f
      JOIN u0 u USING (user_id)
      CROSS JOIN span s
      JOIN grid g ON f.w <= g.w AND s.wmax - u.w0 >= g.w
      GROUP BY g.w
    )
    SELECT o.w AS tenure_week, o.n_users,
           floor(COALESCE(a.n_adoptions, 0) * 1.0 / o.n_users
                 * 10000 + 0.5) / 10000 AS mean_breadth
    FROM obs o LEFT JOIN adopted a USING (w)
    ORDER BY o.w
    """,
)
def events_feature_adoption_breadth(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Breadth adoption curve: mean cumulative DISTINCT event types a
    user has touched by tenure week w (0..{m}), over users whose
    observation window reaches w. Flattening early at ~1 type means
    users never discover the rest of the surface; the capability
    twin of the event-count depth curves.

    Scale shape: per-(user, type) first-use is one keyed rollup; the
    week grid fan-out is bounded ({m}+1 x users at worst); the curve
    is one rollup per week.
    """.format(m=_BREADTH_MAX_W)
    e = load(spark, sf_dir, "events")
    wk = lambda c: F.floor(
        F.unix_micros(c.cast("timestamp")) / 604800000000.0
    ).cast("bigint")
    u0 = e.groupBy("user_id").agg(
        F.min(wk(F.col("ts"))).alias("w0")
    ).persist()  # user-bounded; feeds observability + first-use joins
    span = e.agg(F.max(wk(F.col("ts"))).alias("wmax"))
    fu = (
        e.groupBy("user_id", "event_type")
        .agg(F.min(wk(F.col("ts"))).alias("wt"))
        .join(u0, "user_id")
        .select("user_id", (F.col("wt") - F.col("w0")).alias("w"))
    )
    grid = spark.range(_BREADTH_MAX_W + 1).select(
        F.col("id").cast("bigint").alias("gw")
    )
    obs = (
        u0.crossJoin(F.broadcast(span))
        .crossJoin(F.broadcast(grid))
        .filter(F.col("wmax") - F.col("w0") >= F.col("gw"))
        .groupBy(F.col("gw").alias("w"))
        .agg(F.count("*").cast("bigint").alias("n_users"))
    )
    adopted = (
        fu.join(u0, "user_id")
        .crossJoin(F.broadcast(span))
        .join(
            F.broadcast(grid),
            (F.col("w") <= F.col("gw"))
            & (F.col("wmax") - F.col("w0") >= F.col("gw")),
        )
        .groupBy(F.col("gw").alias("w"))
        .agg(F.count("*").cast("bigint").alias("n_adoptions"))
    )
    return (
        obs.join(adopted, "w", "left")
        .select(
            F.col("w").alias("tenure_week"),
            "n_users",
            quantize(
                F.coalesce("n_adoptions", F.lit(0))
                * 1.0
                / F.col("n_users"), 4
            ).alias("mean_breadth"),
        )
        .orderBy("tenure_week")
    )
