"""Round-5 batch 82: experience curve, rate control chart, compound-
Poisson variance identity.

- `lineitem_experience_curve` — Henderson's experience curve per
  brand: OLS slope of ln(monthly mean unit price) on ln(cumulative
  quantity); learning_rate = 1 - 2^slope is the % price drop per
  doubling of cumulative volume. The cost-forecasting primitive
  behind every "will this get cheaper" sourcing decision.
- `events_u_chart_error_rate` — the u-chart (Poisson rate SPC with
  varying exposure): daily error count per total daily events, with
  per-day 3-sigma limits ubar +/- 3 sqrt(ubar/n_t) that WIDEN on
  low-traffic days — the chart `events_spc_xmr_chart` cannot be for
  rates, because XmR assumes constant exposure.
- `events_compound_poisson_check` — the compound-sum variance
  identity Var(S) = E[N] Var(X) + E[X]^2 Var(N) tested per stream:
  predicted daily-total variance from per-event value moments and
  daily count dispersion vs the OBSERVED daily-total variance. Ratio
  >> 1 means value and count are dependent (big days have different
  spend per event) and every "daily total" forecast that multiplies
  rate x mean is biased.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ experience curve


@query(
    "lineitem_experience_curve",
    oracle="""
    WITH monthly AS (
      SELECT p.p_brand,
             date_trunc('month', l.l_shipdate) AS mo,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                  AS DOUBLE) AS rev,
             CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS qty
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
      HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,2))) > 0
    ),
    cum AS (
      SELECT p_brand, mo,
             floor(ln(rev / qty) * 1000000 + 0.5) / 1000000 AS y,
             floor(ln(SUM(qty) OVER (PARTITION BY p_brand ORDER BY mo
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                   * 1000000 + 0.5) / 1000000 AS x
      FROM monthly
    ),
    ols AS (
      SELECT p_brand,
             CAST(COUNT(*) AS BIGINT) AS n_months,
             CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(floor(x * y * 1000000 + 0.5) / 1000000
                  AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(floor(x * x * 1000000 + 0.5) / 1000000
                  AS DECIMAL(18,6))) AS DOUBLE) AS sxx
      FROM cum GROUP BY p_brand HAVING COUNT(*) > 2
    )
    SELECT p_brand, n_months,
           floor((n_months * sxy - sx * sy)
                 / (n_months * sxx - sx * sx) * 10000 + 0.5) / 10000
             AS elasticity_slope,
           floor((1 - pow(2.0, (n_months * sxy - sx * sy)
                 / (n_months * sxx - sx * sx))) * 10000 + 0.5) / 10000
             AS learning_rate
    FROM ols
    ORDER BY p_brand
    """,
)
def lineitem_experience_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Experience curve per brand: regress ln(monthly mean unit
    price) on ln(cumulative quantity shipped); the classic learning
    rate is 1 - 2^slope (price drop per volume doubling). Negative
    slope = costs falling with scale; ~0 = commodity pricing.

    Scale shape: one (brand, month) rollup with exact decimal sums;
    the cumulative-quantity window runs per brand over the
    calendar-bounded monthly grid; OLS moments are decimal-quantized
    sums, closed-form slope.
    """
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    monthly = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            "p_brand", F.date_trunc("month", "l_shipdate").alias("mo")
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("rev"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("qty"),
        )
        .filter(F.col("qty") > 0)
    )
    wc = (
        Window.partitionBy("p_brand")
        .orderBy("mo")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = monthly.select(
        "p_brand",
        quantize(F.log(F.col("rev") / F.col("qty")), 6).alias("y"),
        quantize(F.log(F.sum("qty").over(wc)), 6).alias("x"),
    )
    ols = (
        cum.groupBy("p_brand")
        .agg(
            F.count("*").cast("bigint").alias("n_months"),
            F.sum(F.col("x").cast("decimal(18,6)"))
            .cast("double")
            .alias("sx"),
            F.sum(F.col("y").cast("decimal(18,6)"))
            .cast("double")
            .alias("sy"),
            F.sum(
                quantize(F.col("x") * F.col("y"), 6).cast("decimal(18,6)")
            )
            .cast("double")
            .alias("sxy"),
            F.sum(
                quantize(F.col("x") * F.col("x"), 6).cast("decimal(18,6)")
            )
            .cast("double")
            .alias("sxx"),
        )
        .filter(F.col("n_months") > 2)
    )
    slope = (
        F.col("n_months") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / (F.col("n_months") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return ols.select(
        "p_brand",
        "n_months",
        quantize(slope, 4).alias("elasticity_slope"),
        quantize(1 - F.pow(F.lit(2.0), slope), 4).alias("learning_rate"),
    ).orderBy("p_brand")


# ------------------------------------------------ u-chart


@query(
    "events_u_chart_error_rate",
    oracle="""
    WITH daily AS (
      SELECT CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS errs
      FROM events GROUP BY 1
    ),
    base AS (
      SELECT CAST(SUM(errs) AS BIGINT) AS te,
             CAST(SUM(n) AS BIGINT) AS tn
      FROM daily
    )
    SELECT d.d AS day_idx, d.n AS n_events, d.errs,
           floor(d.errs * 1.0 / d.n * 10000 + 0.5) / 10000 AS u_i,
           floor(b.te * 1.0 / b.tn * 10000 + 0.5) / 10000 AS u_bar,
           floor((b.te * 1.0 / b.tn
                  + 3 * sqrt(b.te * 1.0 / b.tn / d.n))
                 * 10000 + 0.5) / 10000 AS ucl,
           floor(GREATEST(b.te * 1.0 / b.tn
                  - 3 * sqrt(b.te * 1.0 / b.tn / d.n), 0)
                 * 10000 + 0.5) / 10000 AS lcl,
           d.errs * 1.0 / d.n
             > b.te * 1.0 / b.tn + 3 * sqrt(b.te * 1.0 / b.tn / d.n)
             OR d.errs * 1.0 / d.n
             < GREATEST(b.te * 1.0 / b.tn
                        - 3 * sqrt(b.te * 1.0 / b.tn / d.n), 0)
             AS out_of_control
    FROM daily d CROSS JOIN base b
    ORDER BY day_idx
    """,
)
def events_u_chart_error_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """u-chart for the daily error RATE: u_i = errors/events per day
    against limits ubar +/- 3 sqrt(ubar / n_i) — the exposure-aware
    Poisson control chart. Limits widen on quiet days, so a 2-error
    Sunday with 50 events doesn't page anyone while the same rate on
    a 50k-event Monday does. The rate complement to
    `events_spc_xmr_chart` (levels) and `events_error_budget_burn`
    (budgets).

    Scale shape: one calendar-bounded daily rollup, one broadcast
    baseline, closed-form limits per day.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        F.floor(F.unix_micros(F.col("ts")) / 86400000000.0)
        .cast("bigint")
        .alias("d")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("errs"),
    )
    base = daily.agg(
        F.sum("errs").cast("bigint").alias("te"),
        F.sum("n").cast("bigint").alias("tn"),
    )
    ub = F.col("te") * 1.0 / F.col("tn")
    sig = F.sqrt(ub / F.col("n"))
    u_i = F.col("errs") * 1.0 / F.col("n")
    return (
        daily.crossJoin(F.broadcast(base))
        .select(
            F.col("d").alias("day_idx"),
            F.col("n").alias("n_events"),
            "errs",
            quantize(u_i, 4).alias("u_i"),
            quantize(ub, 4).alias("u_bar"),
            quantize(ub + 3 * sig, 4).alias("ucl"),
            quantize(F.greatest(ub - 3 * sig, F.lit(0.0)), 4).alias("lcl"),
            (
                (u_i > ub + 3 * sig)
                | (u_i < F.greatest(ub - 3 * sig, F.lit(0.0)))
            ).alias("out_of_control"),
        )
        .orderBy("day_idx")
    )


# ------------------------------------------------ compound Poisson


@query(
    "events_compound_poisson_check",
    oracle="""
    WITH ev AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS d,
             value
      FROM events
    ),
    xmom AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(floor(value * value * 10000 + 0.5) / 10000
                  AS DECIMAL(28,4))) AS DOUBLE) AS s2
      FROM ev GROUP BY event_type
    ),
    daily AS (
      SELECT event_type, d,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS tot
      FROM ev GROUP BY 1, 2
    ),
    dmom AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS nd,
             CAST(SUM(cnt) AS BIGINT) AS sc,
             CAST(SUM(CAST(cnt AS DECIMAL(18,0)) * CAST(cnt AS
                  DECIMAL(18,0))) AS DOUBLE) AS sc2,
             CAST(SUM(CAST(tot AS DECIMAL(28,2))) AS DOUBLE) AS st,
             CAST(SUM(CAST(floor(tot * tot * 100 + 0.5) / 100
                  AS DECIMAL(38,2))) AS DOUBLE) AS st2
      FROM daily GROUP BY event_type
    )
    SELECT x.event_type,
           d.nd AS n_days,
           floor((d.st2 - d.st * d.st / d.nd) / (d.nd - 1)
                 * 100 + 0.5) / 100 AS observed_var,
           floor(((d.sc * 1.0 / d.nd)
                   * ((x.s2 - x.s1 * x.s1 / x.n) / x.n)
                  + pow(x.s1 / x.n, 2)
                    * ((d.sc2 - d.sc * 1.0 * d.sc / d.nd)
                       / (d.nd - 1)))
                 * 100 + 0.5) / 100 AS predicted_var,
           floor((d.st2 - d.st * d.st / d.nd) / (d.nd - 1)
                 / (((d.sc * 1.0 / d.nd)
                     * ((x.s2 - x.s1 * x.s1 / x.n) / x.n)
                    + pow(x.s1 / x.n, 2)
                      * ((d.sc2 - d.sc * 1.0 * d.sc / d.nd)
                         / (d.nd - 1))))
                 * 10000 + 0.5) / 10000 AS var_ratio
    FROM xmom x JOIN dmom d USING (event_type)
    ORDER BY x.event_type
    """,
)
def events_compound_poisson_check(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Compound-sum variance identity per stream: with S = daily
    total, N = daily count, X = per-event value, independence
    predicts Var(S) = E[N] Var(X) + E[X]^2 Var(N). Emits observed
    Var(S), the prediction from the two marginal moment sets, and
    their ratio. Ratio >> 1 = value-count dependence (busy days
    change per-event economics); ~1 = rate x mean forecasting is
    safe. All moments from exact decimal sums of quantized terms.

    Scale shape: one per-event moment rollup + one daily rollup with
    its own moments — three map-side-combinable aggregates,
    constant-size closed form per stream.
    """
    e = load(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.unix_micros(F.col("ts")) / 86400000000.0)
        .cast("bigint")
        .alias("d"),
        "value",
    )
    xmom = e.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("s1"),
        F.sum(
            quantize(F.col("value") * F.col("value"), 4).cast("decimal(28,4)")
        )
        .cast("double")
        .alias("s2"),
    )
    daily = e.groupBy("event_type", "d").agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("tot"),
    )
    dmom = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("nd"),
        F.sum("cnt").cast("bigint").alias("sc"),
        F.sum(
            F.col("cnt").cast("decimal(18,0)")
            * F.col("cnt").cast("decimal(18,0)")
        )
        .cast("double")
        .alias("sc2"),
        F.sum(F.col("tot").cast("decimal(28,2)"))
        .cast("double")
        .alias("st"),
        F.sum(
            quantize(F.col("tot") * F.col("tot"), 2)
            .cast("decimal(38,2)")
        )
        .cast("double")
        .alias("st2"),
    )
    j = xmom.join(dmom, "event_type")
    var_x = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / F.col(
        "n"
    )
    mean_x = F.col("s1") / F.col("n")
    mean_n = F.col("sc") * 1.0 / F.col("nd")
    var_n = (
        F.col("sc2") - F.col("sc") * 1.0 * F.col("sc") / F.col("nd")
    ) / (F.col("nd") - 1)
    obs = (F.col("st2") - F.col("st") * F.col("st") / F.col("nd")) / (
        F.col("nd") - 1
    )
    pred = mean_n * var_x + F.pow(mean_x, F.lit(2)) * var_n
    return j.select(
        "event_type",
        F.col("nd").alias("n_days"),
        quantize(obs, 2).alias("observed_var"),
        quantize(pred, 2).alias("predicted_var"),
        quantize(obs / pred, 4).alias("var_ratio"),
    ).orderBy("event_type")
