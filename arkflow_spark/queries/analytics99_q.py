"""Round-5 batch 99: peak-hour stability, transit-time profiles,
new-vs-returning revenue.

- `events_peak_hour_stability` — per stream, the modal daily peak
  hour and the share of days whose peak lands on it. A stable peak
  justifies capacity scheduling around the clock
  (`events_erlang_staffing`); an unstable one says the "peak hour" in
  the dashboard is an artifact of averaging.
- `lineitem_return_rate_by_delay` — return-flag rate as a function of
  fulfillment delay (order->ship days, week-bucketed): does slow
  fulfillment predict returns? The causal screen behind every "ship
  faster" business case, with exact integer counts per bucket and the
  overall rate for lift context.
- `orders_new_vs_returning_revenue` — calendar-major growth
  accounting: per order year, revenue and order share from customers
  whose FIRST order was in an earlier year. The board-deck complement
  to the cohort-major views (`orders_vintage_revenue_curves`,
  `orders_cohort_revenue_ltv`).

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ peak-hour stability


@query(
    "events_peak_hour_stability",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(hour(ts) AS BIGINT) AS hod,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2, 3
    ),
    peak AS (
      SELECT event_type, day, hod FROM (
        SELECT event_type, day, hod,
               row_number() OVER (PARTITION BY event_type, day
                                  ORDER BY c DESC, hod) AS rn
        FROM hourly
      ) WHERE rn = 1
    ),
    freq AS (
      SELECT event_type, hod, CAST(COUNT(*) AS BIGINT) AS n_days
      FROM peak GROUP BY 1, 2
    ),
    modal AS (
      SELECT event_type, hod AS modal_peak_hour, n_days AS n_modal
      FROM (
        SELECT event_type, hod, n_days,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY n_days DESC, hod) AS rn
        FROM freq
      ) WHERE rn = 1
    ),
    tot AS (
      SELECT event_type, CAST(SUM(n_days) AS BIGINT) AS n_days
      FROM freq GROUP BY event_type
    )
    SELECT m.event_type, t.n_days, m.modal_peak_hour,
           floor(m.n_modal * 1.0 / t.n_days * 10000 + 0.5) / 10000
             AS stability
    FROM modal m JOIN tot t USING (event_type)
    ORDER BY m.event_type
    """,
)
def events_peak_hour_stability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per stream: each day's peak hour (max hourly count, ties to the
    earlier hour), the modal peak hour across days, and the share of
    days that peak there. Stability near 1 = schedule capacity to the
    clock; near 1/24 = the daily shape is noise and the average-hour
    profile misleads.

    Scale shape: one (stream, day, hour) rollup; the daily argmax
    ranks 24-row partitions; everything after is (stream x 24)
    bounded.
    """
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        F.hour("ts").cast("bigint").alias("hod"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    wday = Window.partitionBy("event_type", "day").orderBy(
        F.col("c").desc(), "hod"
    )
    peak = (
        hourly.withColumn("rn", F.row_number().over(wday))
        .filter(F.col("rn") == 1)
        .select("event_type", "day", "hod")
    )
    freq = peak.groupBy("event_type", "hod").agg(
        F.count("*").cast("bigint").alias("n_days")
    ).persist()  # (stream x 24)-bounded; feeds the modal rank + totals
    wmod = Window.partitionBy("event_type").orderBy(
        F.col("n_days").desc(), "hod"
    )
    modal = (
        freq.withColumn("rn", F.row_number().over(wmod))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("hod").alias("modal_peak_hour"),
            F.col("n_days").alias("n_modal"),
        )
    )
    tot = freq.groupBy("event_type").agg(
        F.sum("n_days").cast("bigint").alias("n_days")
    )
    return (
        modal.join(tot, "event_type")
        .select(
            "event_type",
            "n_days",
            "modal_peak_hour",
            quantize(F.col("n_modal") * 1.0 / F.col("n_days"), 4).alias(
                "stability"
            ),
        )
        .orderBy("event_type")
    )


# ------------------------------------------------ transit-time profile


@query(
    "lineitem_return_rate_by_delay",
    oracle="""
    WITH d AS (
      SELECT CAST(floor(date_diff('day', o.o_orderdate, l.l_shipdate)
                  / 7.0) AS BIGINT) AS delay_weeks,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    per AS (
      SELECT delay_weeks,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             CAST(SUM(ret) AS BIGINT) AS n_returned
      FROM d GROUP BY delay_weeks
    ),
    tot AS (
      SELECT CAST(SUM(n_returned) AS BIGINT) AS tr,
             CAST(SUM(n_lines) AS BIGINT) AS tn
      FROM per
    )
    SELECT p.delay_weeks, p.n_lines, p.n_returned,
           floor(p.n_returned * 1.0 / p.n_lines * 10000 + 0.5) / 10000
             AS return_rate,
           floor((p.n_returned * 1.0 / p.n_lines)
                 / (t.tr * 1.0 / t.tn) * 10000 + 0.5) / 10000
             AS rate_vs_overall
    FROM per p CROSS JOIN tot t
    ORDER BY p.delay_weeks
    """,
)
def lineitem_return_rate_by_delay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Return-flag rate by fulfillment delay (order->ship days,
    week-bucketed): the screen for "slow fulfillment drives returns".
    Each bucket carries exact line/return counts, its return rate, and
    the lift over the overall rate — a ratio drifting above 1 with
    delay is the correlation that justifies (and sizes) the
    ship-faster investment before any experiment runs.

    Scale shape: one orderkey-keyed join (both sides partitioned on
    the key), one bucket rollup (delay-bounded), one broadcast total.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    per = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.floor(
                F.datediff("l_shipdate", "o_orderdate") / 7
            )
            .cast("bigint")
            .alias("delay_weeks"),
            F.when(F.col("l_returnflag") == "R", 1)
            .otherwise(0)
            .alias("ret"),
        )
        .groupBy("delay_weeks")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.sum("ret").cast("bigint").alias("n_returned"),
        )
        .persist()  # delay-bounded; feeds the total and the final rows
    )
    tot = per.agg(
        F.sum("n_returned").cast("bigint").alias("tr"),
        F.sum("n_lines").cast("bigint").alias("tn"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "delay_weeks",
            "n_lines",
            "n_returned",
            quantize(F.col("n_returned") * 1.0 / F.col("n_lines"), 4).alias(
                "return_rate"
            ),
            quantize(
                (F.col("n_returned") * 1.0 / F.col("n_lines"))
                / (F.col("tr") * 1.0 / F.col("tn")), 4
            ).alias("rate_vs_overall"),
        )
        .orderBy("delay_weeks")
    )


# ------------------------------------------ new vs returning revenue


@query(
    "orders_new_vs_returning_revenue",
    oracle="""
    WITH o AS (
      SELECT o_custkey,
             CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS y,
             CAST(o_totalprice AS DECIMAL(18,2)) AS rev
      FROM orders
    ),
    first_y AS (
      SELECT o_custkey, MIN(y) AS y0 FROM o GROUP BY o_custkey
    )
    SELECT o.y AS order_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           floor(CAST(SUM(o.rev) AS DOUBLE) * 100 + 0.5) / 100
             AS revenue,
           CAST(SUM(CASE WHEN o.y > f.y0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_returning_orders,
           floor(CAST(SUM(CASE WHEN o.y > f.y0 THEN o.rev
                      ELSE 0 END) AS DOUBLE) * 100 + 0.5) / 100
             AS returning_revenue,
           floor(CAST(SUM(CASE WHEN o.y > f.y0 THEN o.rev
                      ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(o.rev) AS DOUBLE) * 10000 + 0.5) / 10000
             AS returning_share
    FROM o JOIN first_y f USING (o_custkey)
    GROUP BY o.y ORDER BY o.y
    """,
)
def orders_new_vs_returning_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Calendar-major growth accounting: per order year, total
    revenue and the share contributed by RETURNING customers (first
    order in an earlier year). A rising returning share is retention
    compounding; a flat one says growth is bought acquisition —
    year-over-year, on exact decimal sums.

    Scale shape: one (customer, year) first-order aggregate
    (customer-bounded — broadcastable onto the order stream), one year
    rollup. No windows.
    """
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.year("o_orderdate").cast("bigint").alias("y"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("rev"),
    )
    first_y = o.groupBy("o_custkey").agg(
        F.min("y").alias("y0")
    )  # customer-bounded; the revenue pass joins it back
    ret = F.col("y") > F.col("y0")
    return (
        o.join(first_y, "o_custkey")
        .groupBy(F.col("y").alias("order_year"))
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            quantize(F.sum("rev").cast("double"), 2).alias("revenue"),
            F.sum(F.when(ret, 1).otherwise(0))
            .cast("bigint")
            .alias("n_returning_orders"),
            quantize(
                F.sum(F.when(ret, F.col("rev")).otherwise(0)).cast(
                    "double"
                ), 2
            ).alias("returning_revenue"),
            quantize(
                F.sum(F.when(ret, F.col("rev")).otherwise(0)).cast(
                    "double"
                )
                / F.sum("rev").cast("double"), 4
            ).alias("returning_share"),
        )
        .orderBy("order_year")
    )
