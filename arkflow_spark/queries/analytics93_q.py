"""Round-5 batch 93: whale curve, timestamp forensics, risk pooling.

- `customer_whale_curve` — cumulative revenue share at customer-rank
  percentiles {{1, 5, 10, 25, 50}} (customers ranked by revenue,
  distributed prefix-sum — no 1-partition sort). The whale curve:
  "the top 1% is X% of revenue" — concentration the Gini coefficient
  (`events_gini_concentration`) compresses into one number, read out
  at the percentiles executives actually ask about.
- `dq_timestamp_truncation` — timestamp-resolution forensics: the
  share of events landing exactly on second / minute / hour
  boundaries vs the ~1e-6 / ~1.7e-8 / ~2.8e-10 expected under
  microsecond-uniform arrivals. Excess mass at boundaries = some
  producer truncates timestamps, and every latency percentile
  computed downstream is quantization noise.
- `part_demand_pooling_benefit` — risk-pooling quantification per
  brand: the coefficient of variation of POOLED weekly brand demand
  vs the weighted mean CV of its parts; ratio << 1 = pooling works
  (stock at brand level, postpone differentiation) — the number
  behind every inventory-centralization decision.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ whale curve

_WHALE_PCTS = (1, 5, 10, 25, 50)


@query(
    "customer_whale_curve",
    oracle=f"""
    WITH spend AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS m
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT m,
             row_number() OVER (ORDER BY m DESC, o_custkey) AS rn,
             COUNT(*) OVER () AS n,
             SUM(CAST(m AS DECIMAL(28,2))) OVER (
               ORDER BY m DESC, o_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             SUM(CAST(m AS DECIMAL(28,2))) OVER () AS tot
      FROM spend
    ),
    pcts AS (
      SELECT p.p,
             CAST(GREATEST(1, (SELECT MAX(n) FROM ranked) * p.p // 100)
                  AS BIGINT) AS cutoff
      FROM (SELECT unnest(ARRAY{list(_WHALE_PCTS)}) AS p) p
    )
    SELECT p.p AS top_pct,
           p.cutoff AS n_customers,
           floor(CAST(MAX(CASE WHEN r.rn = p.cutoff THEN r.cum END)
                      AS DOUBLE)
                 / CAST(MAX(r.tot) AS DOUBLE) * 10000 + 0.5) / 10000
             AS revenue_share
    FROM pcts p JOIN ranked r ON r.rn <= p.cutoff
    GROUP BY p.p, p.cutoff
    ORDER BY top_pct
    """,
)
def customer_whale_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whale curve: revenue share captured by the top {p}% of
    customers (ranked by exact decimal spend, cumulative prefix sums
    via the distributed-rank construction — decimal-exact, no
    1-partition sort). Each row is the concentration soundbite at a
    standard percentile; a steep curve moves account-management
    economics from marketing to white-glove.

    Scale shape: one customer-keyed rollup, one distributed rank +
    prefix-sum pass, a 5-row percentile readout.
    """.format(p=list(_WHALE_PCTS))
    from arkflow_spark.functions.distributed_rank import (
        N,
        RN,
        with_global_order,
    )

    o = load(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("m")
    )
    ranked = with_global_order(
        spend,
        [F.desc("m"), F.asc("o_custkey")],
        sums={"m": F.col("m").cast("decimal(28,2)")},
    )
    pcts = spark.createDataFrame(
        [(p,) for p in _WHALE_PCTS], "p INT"
    )
    cut = pcts.crossJoin(
        F.broadcast(ranked.agg(F.max(N).alias("n_total")))
    ).select(
        "p",
        F.greatest(
            F.lit(1),
            F.floor(F.col("n_total") * F.col("p") / 100).cast("bigint"),
        ).alias("cutoff"),
    )
    return (
        ranked.join(
            F.broadcast(cut), F.col(RN) == F.col("cutoff"), "inner"
        )
        .select(
            F.col("p").alias("top_pct"),
            F.col("cutoff").alias("n_customers"),
            quantize(
                F.col("__cum_m").cast("double")
                / F.col("__tot_m").cast("double"), 4
            ).alias("revenue_share"),
        )
        .orderBy("top_pct")
    )


# ------------------------------------------------ timestamp forensics


@query(
    "dq_timestamp_truncation",
    oracle="""
    WITH lab AS (
      SELECT epoch_us(ts) AS ep FROM events
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN ep % 1000000 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS on_second,
             CAST(SUM(CASE WHEN ep % 60000000 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS on_minute,
             CAST(SUM(CASE WHEN ep % 3600000000 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS on_hour
      FROM lab
    )
    SELECT n AS n_events, on_second, on_minute, on_hour,
           floor(on_second * 1.0 / n * 1000000 + 0.5) / 1000000
             AS second_share,
           on_second * 1.0 / n > 0.0001 AS truncation_suspected
    FROM agg
    """,
)
def dq_timestamp_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp-resolution forensics: counts of events landing
    exactly on second / minute / hour boundaries. Microsecond-uniform
    arrivals hit an exact second with probability 1e-6 — material
    mass there means a producer truncates timestamps, and sub-second
    latency/ordering analysis downstream is fiction. The verdict
    column flags shares above 1e-4.

    Scale shape: one scan, one conditional aggregate — modular
    arithmetic only.
    """
    e = load(spark, sf_dir, "events")
    ep = F.unix_micros(F.col("ts"))
    agg = e.select(ep.alias("ep")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("ep") % 1000000 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("on_second"),
        F.sum(F.when(F.col("ep") % 60000000 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("on_minute"),
        F.sum(F.when(F.col("ep") % 3600000000 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("on_hour"),
    )
    return agg.select(
        F.col("n").alias("n_events"),
        "on_second",
        "on_minute",
        "on_hour",
        quantize(F.col("on_second") * 1.0 / F.col("n"), 6).alias(
            "second_share"
        ),
        (F.col("on_second") * 1.0 / F.col("n") > 0.0001).alias(
            "truncation_suspected"
        ),
    )


# ------------------------------------------------ risk pooling


@query(
    "part_demand_pooling_benefit",
    oracle="""
    WITH weekly AS (
      SELECT p.p_brand, l.l_partkey,
             CAST(floor(epoch_us(l.l_shipdate) / 604800000000.0)
                  AS BIGINT) AS wk,
             CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS q
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2, 3
    ),
    part_cv AS (
      SELECT p_brand, l_partkey,
             CAST(COUNT(*) AS BIGINT) AS nw,
             CAST(SUM(CAST(q AS DECIMAL(28,2))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(floor(q * q * 100 + 0.5) / 100
                  AS DECIMAL(38,2))) AS DOUBLE) AS s2
      FROM weekly GROUP BY 1, 2
      HAVING COUNT(*) > 1 AND SUM(CAST(q AS DECIMAL(28,2))) > 0
    ),
    brand_weekly AS (
      SELECT p_brand, wk,
             CAST(SUM(CAST(q AS DECIMAL(28,2))) AS DOUBLE) AS q
      FROM weekly GROUP BY 1, 2
    ),
    brand_cv AS (
      SELECT p_brand,
             CAST(COUNT(*) AS BIGINT) AS nw,
             CAST(SUM(CAST(q AS DECIMAL(28,2))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(floor(q * q * 100 + 0.5) / 100
                  AS DECIMAL(38,2))) AS DOUBLE) AS s2
      FROM brand_weekly GROUP BY 1
      HAVING COUNT(*) > 1 AND SUM(CAST(q AS DECIMAL(28,2))) > 0
    ),
    mean_part_cv AS (
      SELECT p_brand,
             CAST(COUNT(*) AS BIGINT) AS n_parts,
             floor(CAST(SUM(CAST(floor(
                 sqrt((s2 - s1 * s1 / nw) / (nw - 1)) / (s1 / nw)
                 * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)))
                 AS DOUBLE) / COUNT(*) * 10000 + 0.5) / 10000
               AS mean_cv
      FROM part_cv GROUP BY p_brand
    )
    SELECT b.p_brand, m.n_parts,
           m.mean_cv AS mean_part_cv,
           floor(sqrt((b.s2 - b.s1 * b.s1 / b.nw) / (b.nw - 1))
                 / (b.s1 / b.nw) * 10000 + 0.5) / 10000
             AS pooled_cv,
           floor(sqrt((b.s2 - b.s1 * b.s1 / b.nw) / (b.nw - 1))
                 / (b.s1 / b.nw) / m.mean_cv * 10000 + 0.5) / 10000
             AS pooling_ratio
    FROM brand_cv b JOIN mean_part_cv m USING (p_brand)
    ORDER BY p_brand
    """,
)
def part_demand_pooling_benefit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Risk-pooling benefit per brand: CV of pooled weekly brand
    demand over the mean CV of its parts' weekly demands (exact
    decimal moments, per-part CVs 6dp-quantized before the mean).
    Ratio near 1/sqrt(k) = independent demands pool perfectly;
    near 1 = demands are correlated and centralizing stock buys
    nothing — THE statistic behind warehouse consolidation.

    Scale shape: one (brand, part, week) rollup, re-aggregated two
    ways (part-level and brand-level moments), brand-bounded panels
    everywhere after.
    """
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    weekly = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            "p_brand",
            "l_partkey",
            F.floor(
                F.unix_micros(F.col("l_shipdate").cast("timestamp"))
                / 604800000000.0
            )
            .cast("bigint")
            .alias("wk"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("q")
        )
        .persist()  # r8: the only corpus-scaled stage; feeds both the
        # part-level and the brand-level moment rollups — without the
        # cache the lineitem join+rollup ran twice per action
    )

    def moments(df, keys):
        return (
            df.groupBy(*keys)
            .agg(
                F.count("*").cast("bigint").alias("nw"),
                F.sum(F.col("q").cast("decimal(28,2)"))
                .cast("double")
                .alias("s1"),
                F.sum(
                    quantize(F.col("q") * F.col("q"), 2).cast("decimal(38,2)")
                )
                .cast("double")
                .alias("s2"),
            )
            .filter((F.col("nw") > 1) & (F.col("s1") > 0))
        )

    part_cv = moments(weekly, ["p_brand", "l_partkey"])
    brand_weekly = weekly.groupBy("p_brand", "wk").agg(
        F.sum(F.col("q").cast("decimal(28,2)")).cast("double").alias("q")
    )
    brand_cv = moments(brand_weekly, ["p_brand"])
    cv = lambda: F.sqrt(
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("nw"))
        / (F.col("nw") - 1)
    ) / (F.col("s1") / F.col("nw"))
    mean_part_cv = (
        part_cv.select("p_brand", quantize(cv(), 6).alias("cv"))
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            quantize(
                F.sum(F.col("cv").cast("decimal(18,6)")).cast("double")
                / F.count("*"), 4
            ).alias("mean_cv"),
        )
    )
    return (
        brand_cv.join(F.broadcast(mean_part_cv), "p_brand")
        .select(
            "p_brand",
            "n_parts",
            F.col("mean_cv").alias("mean_part_cv"),
            quantize(cv(), 4).alias("pooled_cv"),
            quantize(cv() / F.col("mean_cv"), 4).alias("pooling_ratio"),
        )
        .orderBy("p_brand")
    )
