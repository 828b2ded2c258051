"""Round-5 batch 63: scan statistics, inventory safety stock, two-way
variance decomposition.

- `events_scan_statistic` — the maximum scan statistic: the busiest
  sliding 60-minute window per stream at minute resolution, its epoch
  minute, and the ratio to the mean window. The burst detector that
  reports WHERE the worst burst was, exactly — the retrospective
  counterpart to the streaming burst detectors
  (`events_burst_hysteresis`).
- `part_safety_stock_service_levels` — textbook safety stock per
  part: demand-over-leadtime variance composed from daily demand
  moments and observed order->ship lead times, sized at z for
  90/95/99% cycle service. The inventory-planning output the
  EOQ/newsvendor family (`orders_eoq_replenishment`,
  `lineitem_newsvendor_qstar`) plugs into.
- `events_twoway_anova_unweighted` — two-way ANOVA (stream x
  hour-of-day) by the unweighted-means method on the bounded cell
  grid: main-effect and interaction sums of squares tell you whether
  hour-of-day load patterns DIFFER BY STREAM (the interaction — the
  thing one-way tests can't see).

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ max scan statistic

_SCAN_MINUTES = 60


@query(
    "events_scan_statistic",
    oracle=f"""
    WITH minutes AS (
      SELECT event_type,
             epoch_us(ts) // 60000000 AS m,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    slid AS (
      SELECT event_type, m,
             CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY m
                 RANGE BETWEEN {_SCAN_MINUTES - 1} PRECEDING
                       AND CURRENT ROW) AS BIGINT) AS w
      FROM minutes
    ),
    tot AS (
      SELECT event_type, CAST(SUM(c) AS BIGINT) AS n,
             CAST(MAX(m) - MIN(m) + 1 AS BIGINT) AS span_m
      FROM minutes GROUP BY event_type
    ),
    best AS (
      SELECT event_type, m, w,
             row_number() OVER (PARTITION BY event_type
                 ORDER BY w DESC, m) AS rn
      FROM slid
    )
    SELECT b.event_type,
           b.w AS max_window_events,
           b.m AS window_end_minute,
           floor(b.w * 1.0
                 / (t.n * {_SCAN_MINUTES}.0 / t.span_m)
                 * 10000 + 0.5) / 10000 AS burst_ratio
    FROM best b JOIN tot t USING (event_type)
    WHERE b.rn = 1
    ORDER BY b.event_type
    """,
)
def events_scan_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum scan statistic at minute resolution: the busiest
    trailing-{w}-minute window per stream (RANGE frame over occupied
    minute buckets — empty minutes contribute zero and need no rows),
    the minute it ended, and the ratio to the expected window under a
    uniform rate. The exact retrospective answer to "how bad was the
    worst burst, and when".

    Determinism: all counts integers; the argmax tie-breaks on the
    minute index.

    Scale shape: one (stream x minute) rollup (map-side combinable),
    then a RANGE window partitioned by stream over the
    CALENDAR-bounded minute grid and a stream-keyed argmax.
    """.format(w=_SCAN_MINUTES)
    e = load(spark, sf_dir, "events")
    minutes = e.groupBy(
        "event_type",
        (F.unix_micros(F.col("ts")) / F.lit(60000000))
        .cast("bigint")
        .alias("m"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    wsl = (
        Window.partitionBy("event_type")
        .orderBy("m")
        .rangeBetween(-(_SCAN_MINUTES - 1), Window.currentRow)
    )
    slid = minutes.select(
        "event_type",
        "m",
        F.sum("c").over(wsl).cast("bigint").alias("w"),
    )
    tot = minutes.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("n"),
        (F.max("m") - F.min("m") + 1).cast("bigint").alias("span_m"),
    )
    wbest = Window.partitionBy("event_type").orderBy(
        F.desc("w"), F.asc("m")
    )
    return (
        slid.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            F.col("w").alias("max_window_events"),
            F.col("m").alias("window_end_minute"),
            quantize(
                F.col("w")
                * 1.0
                / (F.col("n") * float(_SCAN_MINUTES) / F.col("span_m")), 4
            ).alias("burst_ratio"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------------ safety stock

_SS_Z = ((90, 1.2816), (95, 1.6449), (99, 2.3263))


@query(
    "part_safety_stock_service_levels",
    oracle=f"""
    WITH daily AS (
      SELECT l_partkey,
             CAST(date_diff('day', DATE '1992-01-01', l_shipdate)
                  AS BIGINT) AS d,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
               AS q
      FROM lineitem GROUP BY 1, 2
    ),
    demand AS (
      SELECT l_partkey,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             SUM(q) / COUNT(*) AS mu_d,
             CASE WHEN COUNT(*) > 1 THEN
               (SUM(q * q) - SUM(q) * SUM(q) / COUNT(*))
               / (COUNT(*) - 1)
             ELSE 0.0 END AS var_d
      FROM daily GROUP BY 1
    ),
    lead AS (
      SELECT l.l_partkey,
             AVG(date_diff('day', o.o_orderdate, l.l_shipdate))
               AS lt_mean,
             CASE WHEN COUNT(*) > 1 THEN
               (SUM(CAST(date_diff('day', o.o_orderdate, l.l_shipdate)
                    AS DOUBLE) * date_diff('day', o.o_orderdate,
                    l.l_shipdate))
                - SUM(CAST(date_diff('day', o.o_orderdate,
                      l.l_shipdate) AS DOUBLE))
                  * SUM(CAST(date_diff('day', o.o_orderdate,
                        l.l_shipdate) AS DOUBLE)) / COUNT(*))
               / (COUNT(*) - 1)
             ELSE 0.0 END AS lt_var
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY 1
    ),
    ss AS (
      SELECT d.l_partkey, d.n_days,
             sqrt(GREATEST(l.lt_mean * d.var_d
                  + d.mu_d * d.mu_d * l.lt_var, 0.0)) AS sigma_ltd
      FROM demand d JOIN lead l USING (l_partkey)
      WHERE d.n_days >= 5
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
           {",".join(
               f"floor(AVG({z} * sigma_ltd) * 10000 + 0.5) / 10000"
               f" AS mean_ss_p{lvl}"
               for lvl, z in _SS_Z
           )},
           floor(AVG(sigma_ltd) * 10000 + 0.5) / 10000
             AS mean_sigma_ltd
    FROM ss
    """,
)
def part_safety_stock_service_levels(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Safety stock sizing: per part, the demand-over-lead-time sigma
    composed by the standard formula sigma_LTD^2 = LT_mean var(d) +
    mu_d^2 var(LT) (daily demand moments x observed order->ship lead
    times), then fleet-mean safety stock at z for 90/95/99% cycle
    service. The aggregate answer procurement actually asks for
    ("how much buffer capital does the assortment need per service
    tier").

    Determinism: demand sums are exact decimals; lead times are
    integer day diffs; the variance compositions are identical closed
    forms both engines.

    Scale shape: two part-keyed rollups (demand days, lead times —
    both map-side combinable over the orderkey-join), then one
    constant-size fleet aggregate.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    daily = li.groupBy(
        "l_partkey",
        F.datediff(F.col("l_shipdate"), F.lit("1992-01-01").cast("date"))
        .cast("bigint")
        .alias("d"),
    ).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,6)"))
        .cast("double")
        .alias("q")
    )
    demand = daily.groupBy("l_partkey").agg(
        F.count("*").cast("bigint").alias("n_days"),
        (F.sum("q") / F.count("*")).alias("mu_d"),
        F.when(
            F.count("*") > 1,
            (
                F.sum(F.col("q") * F.col("q"))
                - F.sum("q") * F.sum("q") / F.count("*")
            )
            / (F.count("*") - 1),
        )
        .otherwise(0.0)
        .alias("var_d"),
    )
    lt = F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).cast(
        "double"
    )
    lead = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_partkey")
        .agg(
            F.avg(lt).alias("lt_mean"),
            F.when(
                F.count("*") > 1,
                (
                    F.sum(lt * lt)
                    - F.sum(lt) * F.sum(lt) / F.count("*")
                )
                / (F.count("*") - 1),
            )
            .otherwise(0.0)
            .alias("lt_var"),
        )
    )
    ss = (
        demand.join(lead, "l_partkey")
        .filter(F.col("n_days") >= 5)
        .select(
            F.sqrt(
                F.greatest(
                    F.col("lt_mean") * F.col("var_d")
                    + F.col("mu_d") * F.col("mu_d") * F.col("lt_var"),
                    F.lit(0.0),
                )
            ).alias("sigma_ltd")
        )
    )
    return ss.agg(
        F.count("*").cast("bigint").alias("n_parts"),
        *[
            quantize(F.avg(z * F.col("sigma_ltd")), 4).alias(
                f"mean_ss_p{lvl}"
            )
            for lvl, z in _SS_Z
        ],
        quantize(F.avg("sigma_ltd"), 4).alias("mean_sigma_ltd"),
    )


# ------------------------------------------------ two-way ANOVA


@query(
    "events_twoway_anova_unweighted",
    oracle="""
    WITH cell AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*) AS m
      FROM events GROUP BY 1, 2
    ),
    marg_a AS (
      SELECT event_type, AVG(m) AS ma FROM cell GROUP BY 1
    ),
    marg_b AS (
      SELECT hod, AVG(m) AS mb FROM cell GROUP BY 1
    ),
    grand AS (
      SELECT AVG(m) AS g, CAST(COUNT(*) AS BIGINT) AS n_cells,
             CAST(COUNT(DISTINCT event_type) AS BIGINT) AS a,
             CAST(COUNT(DISTINCT hod) AS BIGINT) AS b
      FROM cell
    ),
    parts AS (
      SELECT g.a, g.b,
             g.b * (SELECT SUM(POW(ma - g.g, 2)) FROM marg_a) AS ss_a,
             g.a * (SELECT SUM(POW(mb - g.g, 2)) FROM marg_b) AS ss_b
      FROM grand g
    ),
    inter AS (
      SELECT SUM(POW(c.m - x.ma - y.mb + g.g, 2)) AS ss_ab
      FROM cell c
      JOIN marg_a x USING (event_type)
      JOIN marg_b y USING (hod)
      CROSS JOIN grand g
    )
    SELECT p.a AS n_streams, p.b AS n_hours,
           floor(p.ss_a * 10000 + 0.5) / 10000 AS ss_stream,
           floor(p.ss_b * 10000 + 0.5) / 10000 AS ss_hour,
           floor(i.ss_ab * 10000 + 0.5) / 10000 AS ss_interaction,
           floor(i.ss_ab / ((p.a - 1) * (p.b - 1))
                 / (p.ss_a / (p.a - 1))
                 * 10000 + 0.5) / 10000 AS interaction_vs_stream
    -- note: ss_a here is already b-scaled (matches the Spark twin)
    FROM parts p CROSS JOIN inter i
    """,
)
def events_twoway_anova_unweighted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-way ANOVA (stream x hour-of-day) by the unweighted-means
    method: cell means are the unit of analysis (robust to unequal
    cell counts), main-effect sums of squares from marginal means and
    the interaction SS from the residual m_ab - ma - mb + g. A large
    interaction says each stream has its OWN daily shape — the signal
    to fit per-stream seasonal baselines rather than one global
    profile.

    Determinism: cell means are exact-decimal-sum / count; everything
    downstream runs on the bounded 5x24 grid.

    Scale shape: one map-side-combinable cell rollup; marginals and
    SS terms all bounded-grid arithmetic.
    """
    e = load(spark, sf_dir, "events")
    cell = e.groupBy(
        "event_type", F.hour("ts").cast("bigint").alias("hod")
    ).agg(
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count("*")
        ).alias("m")
    ).persist()  # 5x24 grid consumed by both marginals, the grand
    # mean, and the interaction pass — scan the raw stream once
    marg_a = cell.groupBy("event_type").agg(F.avg("m").alias("ma"))
    marg_b = cell.groupBy("hod").agg(F.avg("m").alias("mb"))
    grand = cell.agg(
        F.avg("m").alias("g"),
        F.count_distinct("event_type").cast("bigint").alias("a"),
        F.count_distinct("hod").cast("bigint").alias("b"),
    )
    ssa = (
        marg_a.crossJoin(F.broadcast(grand))
        .agg(
            F.sum(F.pow(F.col("ma") - F.col("g"), F.lit(2))).alias("ssa"),
            F.max("a").alias("a"),
            F.max("b").alias("b"),
        )
    )
    ssb = (
        marg_b.crossJoin(F.broadcast(grand))
        .agg(F.sum(F.pow(F.col("mb") - F.col("g"), F.lit(2))).alias("ssb"))
    )
    inter = (
        cell.join(F.broadcast(marg_a), "event_type")
        .join(F.broadcast(marg_b), "hod")
        .crossJoin(F.broadcast(grand.select("g")))
        .agg(
            F.sum(
                F.pow(
                    F.col("m")
                    - F.col("ma")
                    - F.col("mb")
                    + F.col("g"),
                    F.lit(2),
                )
            ).alias("ss_ab")
        )
    )
    return (
        ssa.crossJoin(F.broadcast(ssb))
        .crossJoin(F.broadcast(inter))
        .select(
            F.col("a").alias("n_streams"),
            F.col("b").alias("n_hours"),
            quantize(F.col("b") * F.col("ssa"), 4).alias("ss_stream"),
            quantize(F.col("a") * F.col("ssb"), 4).alias("ss_hour"),
            quantize(F.col("ss_ab"), 4).alias("ss_interaction"),
            quantize(
                F.col("ss_ab")
                / ((F.col("a") - 1) * (F.col("b") - 1))
                / (F.col("b") * F.col("ssa") / (F.col("a") - 1)), 4
            ).alias("interaction_vs_stream"),
        )
    )
