"""Round-5 batch 107: churn hazard, promo intensity, fan-out
stability.

- `customer_churn_hazard_by_tenure` — discrete churn hazard by
  tenure quarter: of customers who survived to tenure q, the share
  whose LAST order falls there. The hazard curve says when customers
  are actually lost (early-life vs fatigue), which a retention-curve
  average hides; right-edge tenures are censored, not churned, and
  are reported but flagged.
- `lineitem_promo_intensity_trend` — promotion intensity per order
  quarter: mean discount, the deep-discount (>= 8%) line share, and
  discounted revenue give-back. The promo calendar reconstructed
  from the fact table — drift here explains margin drift before any
  pricing review asks.
- `dq_fanout_ratio_stability` — cross-table fan-out stability: the
  lineitem-per-order ratio by order month vs the overall ratio. A
  month where the ratio jumps is a partial load or a duplicated
  extract on ONE side of the join — caught by the ratio, invisible
  to either table's own row count.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------- churn hazard by tenure


@query(
    "customer_churn_hazard_by_tenure",
    oracle="""
    WITH per AS (
      SELECT o_custkey,
             CAST(EXTRACT(year FROM MIN(o_orderdate)) * 4
                  + (EXTRACT(quarter FROM MIN(o_orderdate)) - 1)
                  AS BIGINT) AS q0,
             CAST(EXTRACT(year FROM MAX(o_orderdate)) * 4
                  + (EXTRACT(quarter FROM MAX(o_orderdate)) - 1)
                  AS BIGINT) AS qlast
      FROM orders GROUP BY o_custkey
    ),
    span AS (SELECT MAX(qlast) AS qmax FROM per),
    tenure AS (
      SELECT p.qlast - p.q0 AS last_tenure,
             CASE WHEN p.qlast = s.qmax THEN 1 ELSE 0 END AS censored
      FROM per p CROSS JOIN span s
    ),
    ended AS (
      SELECT last_tenure,
             CAST(COUNT(*) AS BIGINT) AS n_ending,
             CAST(SUM(censored) AS BIGINT) AS n_censored
      FROM tenure GROUP BY last_tenure
    ),
    tot AS (SELECT CAST(SUM(n_ending) AS BIGINT) AS n FROM ended),
    at_risk AS (
      SELECT e.last_tenure AS tenure_q, e.n_ending, e.n_censored,
             t.n - COALESCE(SUM(e2.n_ending), 0) AS n_at_risk
      FROM ended e
      CROSS JOIN tot t
      LEFT JOIN ended e2 ON e2.last_tenure < e.last_tenure
      GROUP BY e.last_tenure, e.n_ending, e.n_censored, t.n
    )
    SELECT tenure_q,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           n_ending, n_censored,
           floor((n_ending - n_censored) * 1.0 / n_at_risk
                 * 10000 + 0.5) / 10000 AS churn_hazard
    FROM at_risk ORDER BY tenure_q
    """,
)
def customer_churn_hazard_by_tenure(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Discrete churn hazard by tenure quarter: among customers still
    active at tenure q (their last order is at q or later), the share
    whose last order IS at q — minus the right-censored (last order
    in the final observed quarter: not churned, just out of runway).
    The curve's shape (early-life cliff vs late fatigue) is what
    retention programs are actually timed against.

    Scale shape: one per-customer first/last rollup; everything after
    runs on the tenure-bounded table (hazard denominators via a
    bounded triangular join, never a per-customer window).
    """
    o = load(spark, sf_dir, "orders")
    qcol = lambda c: (
        F.year(c) * 4 + (F.quarter(c) - 1)
    ).cast("bigint")
    per = o.groupBy("o_custkey").agg(
        qcol(F.min("o_orderdate")).alias("q0"),
        qcol(F.max("o_orderdate")).alias("qlast"),
    )
    span = per.agg(F.max("qlast").alias("qmax"))
    ended = (
        per.crossJoin(F.broadcast(span))
        .select(
            (F.col("qlast") - F.col("q0")).alias("last_tenure"),
            F.when(F.col("qlast") == F.col("qmax"), 1)
            .otherwise(0)
            .alias("censored"),
        )
        .groupBy("last_tenure")
        .agg(
            F.count("*").cast("bigint").alias("n_ending"),
            F.sum("censored").cast("bigint").alias("n_censored"),
        )
        .persist()  # tenure-bounded; feeds the total + both join sides
    )
    tot = ended.agg(F.sum("n_ending").cast("bigint").alias("n"))
    e2 = ended.select(
        F.col("last_tenure").alias("lt2"),
        F.col("n_ending").alias("ne2"),
    )
    return (
        ended.crossJoin(F.broadcast(tot))
        .join(
            F.broadcast(e2),
            F.col("lt2") < F.col("last_tenure"),
            "left",
        )
        .groupBy(
            F.col("last_tenure").alias("tenure_q"),
            "n_ending",
            "n_censored",
            "n",
        )
        .agg(
            (F.col("n") - F.coalesce(F.sum("ne2"), F.lit(0)))
            .cast("bigint")
            .alias("n_at_risk")
        )
        .select(
            "tenure_q",
            "n_at_risk",
            "n_ending",
            "n_censored",
            quantize(
                (F.col("n_ending") - F.col("n_censored"))
                * 1.0
                / F.col("n_at_risk"), 4
            ).alias("churn_hazard"),
        )
        .orderBy("tenure_q")
    )


# ------------------------------------------- promo intensity trend

_DEEP_DISCOUNT = 0.08


@query(
    "lineitem_promo_intensity_trend",
    oracle=f"""
    WITH q AS (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) * 4
                  + (EXTRACT(quarter FROM o.o_orderdate) - 1)
                  AS BIGINT) AS quarter,
             l.l_discount AS d,
             CAST(l.l_extendedprice AS DECIMAL(18,2)) AS p
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT quarter,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           floor(CAST(SUM(CAST(floor(d * 1000000 + 0.5) / 1000000
                 AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
                 * 10000 + 0.5) / 10000 AS mean_discount,
           floor(SUM(CASE WHEN d >= {_DEEP_DISCOUNT} THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*) * 10000 + 0.5) / 10000
             AS deep_discount_share,
           floor(CAST(SUM(p * d) AS DOUBLE) * 100 + 0.5) / 100
             AS revenue_given_back
    FROM q GROUP BY quarter ORDER BY quarter
    """,
)
def lineitem_promo_intensity_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Promotion intensity per order quarter: mean line discount,
    the deep-discount (>= {d:.0%}) line share, and the exact revenue
    given back to discounts. Reconstructs the promo calendar from the
    fact table — when margin drifts, this row-level view says whether
    pricing got deeper or just wider.

    Scale shape: one orderkey join + one quarter rollup, all map-side
    combinable; exact decimal give-back sums.
    """.format(d=_DEEP_DISCOUNT)
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            (
                F.year("o_orderdate") * 4 + (F.quarter("o_orderdate") - 1)
            )
            .cast("bigint")
            .alias("quarter")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            quantize(
                F.sum(
                    quantize(F.col("l_discount"), 6).cast("decimal(18,6)")
                ).cast("double")
                / F.count("*"), 4
            ).alias("mean_discount"),
            quantize(
                F.sum(
                    F.when(
                        F.col("l_discount") >= _DEEP_DISCOUNT, 1
                    ).otherwise(0)
                )
                * 1.0
                / F.count("*"), 4
            ).alias("deep_discount_share"),
            quantize(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * F.col("l_discount")
                ).cast("double"), 2
            ).alias("revenue_given_back"),
        )
        .orderBy("quarter")
    )


# ------------------------------------------- fan-out stability


@query(
    "dq_fanout_ratio_stability",
    oracle="""
    WITH per AS (
      SELECT date_trunc('month', o.o_orderdate) AS m,
             CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
             CAST(COUNT(l.l_orderkey) AS BIGINT) AS n_lines
      FROM orders o LEFT JOIN lineitem l
        ON l.l_orderkey = o.o_orderkey
      GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n_orders) AS BIGINT) AS o,
             CAST(SUM(n_lines) AS BIGINT) AS l
      FROM per
    )
    SELECT strftime(p.m, '%Y-%m') AS month,
           p.n_orders, p.n_lines,
           floor(p.n_lines * 1.0 / p.n_orders * 10000 + 0.5) / 10000
             AS lines_per_order,
           floor((p.n_lines * 1.0 / p.n_orders)
                 / (t.l * 1.0 / t.o) * 10000 + 0.5) / 10000
             AS ratio_vs_overall,
           abs((p.n_lines * 1.0 / p.n_orders) / (t.l * 1.0 / t.o) - 1)
             > 0.1 AS flagged
    FROM per p CROSS JOIN tot t
    ORDER BY month
    """,
)
def dq_fanout_ratio_stability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-table fan-out stability: lineitem-per-order ratio by
    order month against the overall ratio, with months deviating more
    than 10% flagged. Either table's own row counts can look healthy
    while ONE side of the join was partially loaded or doubled — the
    ratio is the cheapest detector of that class.

    Scale shape: one orderkey-keyed left join + month rollup, one
    broadcast total; the flag is pure arithmetic.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    per = (
        o.join(li, o.o_orderkey == li.l_orderkey, "left")
        .groupBy(F.date_trunc("month", "o_orderdate").alias("m"))
        .agg(
            F.count_distinct("o_orderkey")
            .cast("bigint")
            .alias("n_orders"),
            F.count("l_orderkey").cast("bigint").alias("n_lines"),
        )
        .persist()  # month-bounded; feeds the total and the final rows
    )
    tot = per.agg(
        F.sum("n_orders").cast("bigint").alias("o_t"),
        F.sum("n_lines").cast("bigint").alias("l_t"),
    )
    ratio = F.col("n_lines") * 1.0 / F.col("n_orders")
    overall = F.col("l_t") * 1.0 / F.col("o_t")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.date_format("m", "yyyy-MM").alias("month"),
            "n_orders",
            "n_lines",
            quantize(ratio, 4).alias("lines_per_order"),
            quantize(ratio / overall, 4).alias("ratio_vs_overall"),
            (F.abs(ratio / overall - 1) > 0.1).alias("flagged"),
        )
        .orderBy("month")
    )
