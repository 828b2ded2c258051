"""Round-5 batch 86: queue fairness, period-end loading, tail-weighted
two-sample testing.

- `orders_priority_lead_time` — fulfillment lead time (order date to
  first shipment) P50/P90 per order priority, rank-selected exact
  order statistics. If URGENT and LOW show the same percentiles, the
  priority field is decorative — the fairness audit behind
  `events_erlang_staffing`'s capacity math.
- `orders_month_end_loading` — the month-end loading effect: order
  volume in each month's last 3 days vs the uniform-share baseline,
  with the exact binomial z. Sales teams stuffing quarter ends shows
  up here first; downstream capacity models that assume uniform
  arrivals are wrong by exactly this lift.
- `events_anderson_darling_2sample` — tie-adjusted two-sample
  Anderson-Darling statistic between the timeline halves per stream:
  the ECDF discrepancy weighted by 1/(F(1-F)), so TAIL divergence
  counts — the drift test that completes the PSI (bins) / KS (max) /
  W1 (mass) family with tail sensitivity. Computed exactly on the
  value tick grid (integer cross-products, one final division).

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ priority lead time


@query(
    "orders_priority_lead_time",
    oracle="""
    WITH lead_t AS (
      SELECT o.o_orderpriority AS priority,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(MIN(l.l_shipdate) AS DATE)) AS days
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
    ),
    ranked AS (
      SELECT priority, days,
             row_number() OVER (PARTITION BY priority
                                ORDER BY days) AS rn,
             COUNT(*) OVER (PARTITION BY priority) AS n
      FROM lead_t
    )
    SELECT priority,
           CAST(MAX(n) AS BIGINT) AS n_orders,
           CAST(MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                    THEN days END) AS BIGINT) AS p50_days,
           CAST(MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT)
                    THEN days END) AS BIGINT) AS p90_days
    FROM ranked GROUP BY priority ORDER BY priority
    """,
)
def orders_priority_lead_time(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-to-first-shipment lead time percentiles per priority
    class: exact rank-selected P50/P90 (ceil(q n)-th order statistic
    — no interpolation, engine-identical). Equal percentiles across
    priorities = the priority flag buys nothing; inverted ones are a
    process defect.

    Scale shape: one order-keyed min-shipdate rollup, one per-
    priority rank window (priority-bounded partitions), rank-filter
    aggregation.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    lead_t = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(F.min("l_shipdate").alias("first_ship"))
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(
                F.col("first_ship").cast("date"),
                F.col("o_orderdate").cast("date"),
            ).alias("days"),
        )
    )
    wp = Window.partitionBy("priority")
    ranked = lead_t.select(
        "priority",
        "days",
        F.row_number().over(wp.orderBy("days")).alias("rn"),
        F.count("*").over(wp).alias("n"),
    )
    sel = lambda q: F.max(
        F.when(
            F.col("rn") == F.ceil(q * F.col("n")).cast("bigint"),
            F.col("days"),
        )
    ).cast("bigint")
    return (
        ranked.groupBy("priority")
        .agg(
            F.max("n").cast("bigint").alias("n_orders"),
            sel(0.5).alias("p50_days"),
            sel(0.9).alias("p90_days"),
        )
        .orderBy("priority")
    )


# ------------------------------------------------ month-end loading

_TAIL_DAYS = 3


@query(
    "orders_month_end_loading",
    oracle=f"""
    WITH lab AS (
      SELECT date_trunc('month', o_orderdate) AS mo,
             CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                    CAST(date_trunc('month', o_orderdate)
                         + INTERVAL 1 MONTH AS DATE))
                    <= {_TAIL_DAYS} THEN 1 ELSE 0 END AS in_tail,
             CASE WHEN date_diff('day',
                    CAST(date_trunc('month', o_orderdate) AS DATE),
                    CAST(date_trunc('month', o_orderdate)
                         + INTERVAL 1 MONTH AS DATE)) = 0
                  THEN 30
                  ELSE date_diff('day',
                    CAST(date_trunc('month', o_orderdate) AS DATE),
                    CAST(date_trunc('month', o_orderdate)
                         + INTERVAL 1 MONTH AS DATE)) END AS mdays
      FROM orders
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(in_tail) AS BIGINT) AS k,
             CAST(SUM(CAST({_TAIL_DAYS}.0 / mdays * 1000000 AS
                  DECIMAL(18,0))) AS DOUBLE) / 1000000 AS expected_p_n
      FROM lab
    )
    SELECT n AS n_orders, k AS tail_orders,
           floor(k * 1.0 / n * 10000 + 0.5) / 10000 AS tail_share,
           floor(expected_p_n / n * 10000 + 0.5) / 10000
             AS expected_share,
           floor((k * 1.0 / n) / (expected_p_n / n) * 10000 + 0.5)
             / 10000 AS loading_lift,
           floor((k - expected_p_n)
                 / sqrt(expected_p_n * (1 - expected_p_n / n))
                 * 10000 + 0.5) / 10000 AS z_stat
    FROM agg
    """,
)
def orders_month_end_loading(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Month-end loading: the share of orders landing in each month's
    last {d} days vs the calendar expectation ({d}/days-in-month per
    order, exactly accumulated), with the binomial z for the excess.
    Lift > 1 with a large z = period-end stuffing; capacity and cash
    forecasts that assume uniform arrivals are biased by exactly this
    factor.

    Scale shape: one labeled scan (calendar arithmetic only), one
    global conditional aggregate — no joins, no windows.
    """.format(d=_TAIL_DAYS)
    o = load(spark, sf_dir, "orders")
    mo = F.date_trunc("month", F.col("o_orderdate"))
    next_mo = F.add_months(mo, 1)
    mdays = F.datediff(next_mo.cast("date"), mo.cast("date"))
    days_to_end = F.datediff(
        next_mo.cast("date"), F.col("o_orderdate").cast("date")
    )
    lab = o.select(
        F.when(days_to_end <= _TAIL_DAYS, 1).otherwise(0).alias(
            "in_tail"
        ),
        mdays.alias("mdays"),
    )
    agg = lab.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("in_tail").cast("bigint").alias("k"),
        (
            F.sum(
                (F.lit(float(_TAIL_DAYS)) / F.col("mdays") * 1000000)
                .cast("decimal(18,0)")
            ).cast("double")
            / 1000000
        ).alias("expected_p_n"),
    )
    share = F.col("k") * 1.0 / F.col("n")
    eshare = F.col("expected_p_n") / F.col("n")
    return agg.select(
        F.col("n").alias("n_orders"),
        F.col("k").alias("tail_orders"),
        quantize(share, 4).alias("tail_share"),
        quantize(eshare, 4).alias("expected_share"),
        quantize(share / eshare, 4).alias("loading_lift"),
        quantize(
            (F.col("k") - F.col("expected_p_n"))
            / F.sqrt(F.col("expected_p_n") * (1 - eshare)), 4
        ).alias("z_stat"),
    )


# ------------------------------------------------ 2-sample AD


@query(
    "events_anderson_darling_2sample",
    oracle="""
    WITH hrs AS (
      SELECT event_type, value AS v,
             CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS hr
      FROM events
    ),
    cut AS (
      SELECT MIN(hr) + (MAX(hr) - MIN(hr)) // 2 AS chr FROM hrs
    ),
    per_v AS (
      SELECT h.event_type, h.v,
             CAST(SUM(CASE WHEN h.hr < c.chr THEN 1 ELSE 0 END)
                  AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN h.hr >= c.chr THEN 1 ELSE 0 END)
                  AS BIGINT) AS c2
      FROM hrs h CROSS JOIN cut c
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, v,
             CAST(SUM(c1) OVER w AS BIGINT) AS m,
             CAST(SUM(c1 + c2) OVER w AS BIGINT) AS j,
             CAST(c1 + c2 AS BIGINT) AS cblk
      FROM per_v
      WINDOW w AS (PARTITION BY event_type ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    tot AS (
      SELECT event_type, MAX(j) AS nn, MAX(m) AS n1
      FROM cum GROUP BY event_type
    ),
    terms AS (
      SELECT c.event_type, t.nn, t.n1, t.nn - t.n1 AS n2,
             CAST(SUM(CASE WHEN c.j < t.nn THEN
               CAST(floor((c.m * 1.0 * t.nn - c.j * 1.0 * t.n1)
                          * (c.m * 1.0 * t.nn - c.j * 1.0 * t.n1)
                          / (c.j * 1.0 * (t.nn - c.j)) * c.cblk
                          * 1000000 + 0.5) / 1000000
                    AS DECIMAL(38,6)) ELSE 0 END) AS DOUBLE) AS s
      FROM cum c JOIN tot t USING (event_type)
      GROUP BY 1, 2, 3
    )
    SELECT event_type, n1, n2,
           floor(s / (nn * 1.0 * n1 * n2 / nn) / nn * 10000 + 0.5)
             / 10000 AS a2_stat
    FROM terms ORDER BY event_type
    """,
)
def events_anderson_darling_2sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tie-adjusted two-sample Anderson-Darling between timeline
    halves per stream (Pettitt's discrete form): over the pooled
    value grid, sum c(v) * (M N - j n1)^2 / (j (N - j)) — M the
    first-half count below-or-at v, j the pooled rank — normalized by
    n1 n2 N. The 1/(F(1-F)) weight makes TAIL moves count, which is
    where risk lives and where KS/PSI are blind. All cross-products
    are exact integers; per-block terms quantize at 6dp before the
    decimal reduce.

    Scale shape: one rollup to the distinct-value tick grid, one
    cumulative window over that value-grid-bounded table
    (# scale: tick-grid-bounded), one exact reduce per stream.
    """
    e = load(spark, sf_dir, "events")
    hrs = e.select(
        "event_type",
        F.col("value").alias("v"),
        F.floor(F.unix_micros(F.col("ts")) / 3600000000.0)
        .cast("bigint")
        .alias("hr"),
    )
    cut = hrs.agg(
        (F.min("hr") + F.floor((F.max("hr") - F.min("hr")) / 2))
        .cast("bigint")
        .alias("chr")
    )
    per_v = (
        hrs.crossJoin(F.broadcast(cut))
        .groupBy("event_type", "v")
        .agg(
            F.sum(F.when(F.col("hr") < F.col("chr"), 1).otherwise(0))
            .cast("bigint")
            .alias("c1"),
            F.sum(F.when(F.col("hr") >= F.col("chr"), 1).otherwise(0))
            .cast("bigint")
            .alias("c2"),
        )
    )
    # scale: tick-grid-bounded window (distinct 2dp values)
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_v.select(
        "event_type",
        F.sum("c1").over(wcum).cast("bigint").alias("m"),
        F.sum(F.col("c1") + F.col("c2"))
        .over(wcum)
        .cast("bigint")
        .alias("j"),
        (F.col("c1") + F.col("c2")).cast("bigint").alias("cblk"),
    )
    tot = cum.groupBy("event_type").agg(
        F.max("j").cast("bigint").alias("nn"),
        F.max("m").cast("bigint").alias("n1"),
    )
    num = (
        F.col("m") * 1.0 * F.col("nn") - F.col("j") * 1.0 * F.col("n1")
    )
    term = quantize(
        num
        * num
        / (F.col("j") * 1.0 * (F.col("nn") - F.col("j")))
        * F.col("cblk"), 6
    ).cast("decimal(38,6)")
    terms = (
        cum.join(F.broadcast(tot), "event_type")
        .groupBy(
            "event_type",
            "nn",
            "n1",
            (F.col("nn") - F.col("n1")).alias("n2"),
        )
        .agg(
            F.sum(
                F.when(F.col("j") < F.col("nn"), term).otherwise(
                    F.lit(0).cast("decimal(38,6)")
                )
            )
            .cast("double")
            .alias("s")
        )
    )
    return terms.select(
        "event_type",
        "n1",
        "n2",
        quantize(
            F.col("s")
            / (
                F.col("nn")
                * 1.0
                * F.col("n1")
                * F.col("n2")
                / F.col("nn")
            )
            / F.col("nn"), 4
        ).alias("a2_stat"),
    ).orderBy("event_type")
