"""Round-5 batch 112: amount reconciliation, daily amplitude,
first-order predictiveness.

- `dq_amount_reconciliation` — cross-table MONEY reconciliation per
  month: the orders-side total (`o_totalprice`) against the
  lineitem-side gross (price x (1-discount)), their ratio, and >2%
  deviation flags. `dq_fanout_ratio_stability` reconciles row
  counts; this reconciles dollars — the books-close check, and on
  this synthetic fixture it documents that the two columns are
  generated independently (every month flagged: a finding, not a
  bug).
- `events_daily_amplitude` — capacity amplitude per stream: the mean
  and max of each day's peak-hour/mean-hour ratio. Autoscaling is
  sized by amplitude, not by volume — two streams with equal traffic
  and 2x vs 8x daily swings need different headroom.
- `customer_first_order_predictiveness` — does the FIRST order's
  value predict the rest? Pearson correlation (exact moment form)
  between first-order value and subsequent total revenue over repeat
  customers, per market segment. High correlation = acquisition
  spend can be graded on day one; near zero = early LTV models are
  astrology.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------- amount reconciliation


@query(
    "dq_amount_reconciliation",
    oracle="""
    WITH line_side AS (
      SELECT l_orderkey,
             SUM(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(18,6))) AS gross
      FROM lineitem GROUP BY l_orderkey
    ),
    per AS (
      SELECT date_trunc('month', o.o_orderdate) AS m,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS order_amt,
             SUM(ls.gross) AS line_amt
      FROM orders o JOIN line_side ls ON ls.l_orderkey = o.o_orderkey
      GROUP BY 1
    )
    SELECT strftime(m, '%Y-%m') AS month,
           floor(CAST(order_amt AS DOUBLE) * 100 + 0.5) / 100
             AS order_side_amount,
           floor(CAST(line_amt AS DOUBLE) * 100 + 0.5) / 100
             AS line_side_amount,
           floor(CAST(line_amt AS DOUBLE) / CAST(order_amt AS DOUBLE)
                 * 10000 + 0.5) / 10000 AS line_to_order_ratio,
           abs(CAST(line_amt AS DOUBLE) / CAST(order_amt AS DOUBLE)
               - 1) > 0.02 AS flagged
    FROM per ORDER BY month
    """,
)
def dq_amount_reconciliation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Monthly money reconciliation between the order header total
    and the line-level gross (price x (1-discount)): exact decimal
    sums on both sides, the ratio, and a >2% deviation flag. Counts
    can reconcile while dollars do not (missing lines with offsetting
    duplicates, discount logic drift) — the close-the-books check
    warehouses run before any revenue number ships.

    Scale shape: one orderkey-keyed line rollup joined to orders on
    the same key, one month rollup — exact decimals end to end.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    line_side = li.groupBy("l_orderkey").agg(
        F.sum(
            (
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).cast("decimal(18,6)")
        ).alias("gross")
    )
    per = (
        o.join(line_side, o.o_orderkey == line_side.l_orderkey)
        .groupBy(F.date_trunc("month", "o_orderdate").alias("m"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "order_amt"
            ),
            F.sum("gross").alias("line_amt"),
        )
    )
    ratio = F.col("line_amt").cast("double") / F.col("order_amt").cast(
        "double"
    )
    return per.select(
        F.date_format("m", "yyyy-MM").alias("month"),
        quantize(F.col("order_amt").cast("double"), 2).alias(
            "order_side_amount"
        ),
        quantize(F.col("line_amt").cast("double"), 2).alias(
            "line_side_amount"
        ),
        quantize(ratio, 4).alias("line_to_order_ratio"),
        (F.abs(ratio - 1) > 0.02).alias("flagged"),
    ).orderBy("month")


# ------------------------------------------------ daily amplitude


@query(
    "events_daily_amplitude",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('day', ts) AS d,
             date_trunc('hour', ts) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2, 3
    ),
    daily AS (
      SELECT event_type, d,
             CAST(MAX(c) AS BIGINT) AS peak,
             CAST(SUM(c) AS BIGINT) AS tot,
             CAST(COUNT(*) AS BIGINT) AS nh
      FROM hourly GROUP BY 1, 2
    ),
    amp AS (
      SELECT event_type,
             floor(peak * 1.0 / (tot * 1.0 / nh) * 10000 + 0.5)
               / 10000 AS a
      FROM daily
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           floor(SUM(CAST(a AS DECIMAL(18,4))) / COUNT(*)
                 * 10000 + 0.5) / 10000 AS mean_amplitude,
           MAX(a) AS max_amplitude
    FROM amp GROUP BY event_type ORDER BY event_type
    """,
)
def events_daily_amplitude(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Capacity amplitude per stream: each day's peak hourly count
    over its mean hourly count (active hours), averaged and maxed
    across days. Autoscaling headroom is sized by THIS number —
    volume says how big the fleet is, amplitude says how elastic it
    must be. Per-day ratios are 4dp-quantized and decimal-summed for
    the cross-day mean.

    Scale shape: one (stream, day, hour) rollup, a per-day reduce,
    and a per-stream reduce — all map-side combinable, no windows.
    """
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        F.date_trunc("day", "ts").alias("d"),
        F.date_trunc("hour", "ts").alias("h"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    daily = hourly.groupBy("event_type", "d").agg(
        F.max("c").cast("bigint").alias("peak"),
        F.sum("c").cast("bigint").alias("tot"),
        F.count("*").cast("bigint").alias("nh"),
    )
    amp = daily.select(
        "event_type",
        quantize(
            F.col("peak") * 1.0 / (F.col("tot") * 1.0 / F.col("nh")), 4
        ).alias("a"),
    )
    return (
        amp.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            quantize(
                F.sum(F.col("a").cast("decimal(18,4)")) / F.count("*"), 4
            ).alias("mean_amplitude"),
            F.max("a").alias("max_amplitude"),
        )
        .orderBy("event_type")
    )


# ------------------------------------- first-order predictiveness


@query(
    "customer_first_order_predictiveness",
    oracle="""
    WITH seq AS (
      SELECT o_custkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey)
               AS rn,
             CAST(o_totalprice AS DECIMAL(18,2)) AS v
      FROM orders
    ),
    per AS (
      SELECT o_custkey,
             MAX(CASE WHEN rn = 1 THEN v END) AS first_v,
             CAST(SUM(CASE WHEN rn > 1 THEN v ELSE 0 END)
                  AS DECIMAL(18,2)) AS rest_v,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM seq GROUP BY o_custkey
    ),
    rep AS (
      SELECT c.c_mktsegment AS segment, p.first_v AS x, p.rest_v AS y
      FROM per p JOIN customer c ON c.c_custkey = p.o_custkey
      WHERE p.n_orders >= 2
    ),
    mom AS (
      SELECT segment,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * x AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y * y AS DECIMAL(38,4))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(x * y AS DECIMAL(38,4))) AS DOUBLE) AS sxy
      FROM rep GROUP BY segment
    )
    SELECT segment, n AS n_repeat_customers,
           floor((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
                 * 10000 + 0.5) / 10000 AS first_rest_corr,
           floor((n * sxy - sx * sy) / (n * sxx - sx * sx)
                 * 10000 + 0.5) / 10000 AS rest_per_first_dollar
    FROM mom ORDER BY segment
    """,
)
def customer_first_order_predictiveness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Acquisition-grading signal per segment: over repeat customers,
    the Pearson correlation between the FIRST order's value and all
    SUBSEQUENT revenue, plus the regression slope (future dollars per
    first-order dollar). High correlation means day-one order value
    is a usable LTV proxy for bid decisions; near zero means early
    LTV scores are noise. Moments are exact (x, y from exact
    decimals; the double products are identical expressions in both
    engines, reduced on decimal-derived values).

    Scale shape: one customer-keyed sequence window (first order) +
    per-customer rollup; the correlation is a closed-form moment
    aggregate per segment with the customer dim broadcast.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    seq = o.select(
        "o_custkey",
        F.row_number().over(w).alias("rn"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
    )
    per = seq.groupBy("o_custkey").agg(
        F.max(F.when(F.col("rn") == 1, F.col("v"))).alias("x"),
        F.sum(F.when(F.col("rn") > 1, F.col("v")).otherwise(0))
        .cast("decimal(18,2)")
        .alias("y"),
        F.count("*").cast("bigint").alias("n_orders"),
    )
    rep = per.filter(F.col("n_orders") >= 2).join(
        F.broadcast(
            c.select(
                F.col("c_custkey").alias("o_custkey"),
                F.col("c_mktsegment").alias("segment"),
            )
        ),
        "o_custkey",
    )
    # decimal products + decimal sums: every moment is EXACT, so the
    # double arithmetic only starts at the closed form (identical in
    # both engines regardless of reduce order)
    mom = rep.groupBy("segment").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,4)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,4)"))
        .cast("double")
        .alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,4)"))
        .cast("double")
        .alias("sxy"),
    )
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return mom.select(
        "segment",
        F.col("n").alias("n_repeat_customers"),
        quantize(
            cov
            / F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ), 4
        ).alias("first_rest_corr"),
        quantize(
            cov / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")), 4
        ).alias("rest_per_first_dollar"),
    ).orderBy("segment")
