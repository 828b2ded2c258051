"""Round-4 batch 39: BG/NBD customer-alive probability, Weibull
cycle-time fit, Ljung-Box whiteness test, Wilson OTD confidence bounds.

- `customer_bgnbd_palive` — the BG/NBD P(alive) score (Fader/Hardie
  2005, closed form with the published CDNOW parameter fit): given each
  customer's repeat count x, recency t_x, and observation span T, how
  likely are they still active — the churn-scoring core of every
  customer-base LTV stack, computable without any model training.
- `orders_weibull_cycletime_fit` — Weibull shape/scale per order
  priority via median-rank regression (the probability-plot fit
  reliability engineering uses): shape < 1 means cycle times have a
  decreasing hazard (long tail), > 1 wear-out-like ageing.
- `events_ljung_box` — the portmanteau whiteness test on each stream's
  hourly series: Q = n(n+2) * sum_k rho_k^2/(n-k) for lags 1..6. The
  "is there ANY autocorrelation left" gate run on forecast residuals
  (`events_holt_winters`, `events_ar2_forecast`) and raw series alike.
- `supplier_wilson_otd_ci` — on-time-delivery rate per supplier with
  the Wilson 95% score interval: the ranking-safe proportion bound
  (never leaves [0,1], works at small n) that a raw rate + normal CI
  gets wrong exactly where it matters (few-shipment suppliers).

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------- BG/NBD P(alive)

# Fader/Hardie's published CDNOW maximum-likelihood fit — fixed literals
# so the score is a closed-form scalar (no training pass).
_R, _ALPHA = 0.243, 4.414
_A, _B = 0.793, 2.426


@query(
    "customer_bgnbd_palive",
    oracle=f"""
    WITH span AS (SELECT MAX(o_orderdate) AS t_end FROM orders),
    cust AS (
      SELECT o_custkey,
             CAST(COUNT(*) AS BIGINT) - 1 AS x,
             epoch(MAX(o_orderdate)) / 86400.0
               - epoch(MIN(o_orderdate)) / 86400.0 AS t_x,
             epoch((SELECT t_end FROM span)) / 86400.0
               - epoch(MIN(o_orderdate)) / 86400.0 AS big_t
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, x,
           floor(t_x * 10000 + 0.5) / 10000 AS recency_days,
           floor(big_t * 10000 + 0.5) / 10000 AS span_days,
           floor(CASE WHEN x = 0 THEN 1.0
                 ELSE 1.0 / (1.0 + {_A} / ({_B} + x - 1)
                             * pow(({_ALPHA} + big_t)
                                   / ({_ALPHA} + t_x), {_R} + x))
                 END * 10000 + 0.5) / 10000 AS p_alive
    FROM cust
    ORDER BY x DESC, o_custkey
    LIMIT 50
    """,
)
def customer_bgnbd_palive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BG/NBD P(alive) per customer from (x = repeat purchases, t_x =
    recency, T = observation span), using the published CDNOW parameter
    fit as fixed literals; top-50 by repeat count.

    Zero-repeat customers are alive with probability 1 under BG/NBD
    (death can only follow a repeat purchase). One aggregation over
    orders builds all three statistics; the corpus end broadcasts as a
    1-row scalar; scoring is per-row closed-form arithmetic (mirrored
    expression trees; pow agrees to ~1 ulp, far inside the 4-decimal
    quantum).
    """
    o = load(spark, sf_dir, "orders")
    t_end = o.agg(F.max("o_orderdate").alias("t_end"))
    cust = (
        o.groupBy("o_custkey")
        .agg(
            (F.count("*") - 1).alias("x"),
            F.min("o_orderdate").alias("first_o"),
            F.max("o_orderdate").alias("last_o"),
        )
        .crossJoin(F.broadcast(t_end))
        .select(
            "o_custkey",
            "x",
            (
                F.unix_timestamp("last_o") / 86400.0
                - F.unix_timestamp("first_o") / 86400.0
            ).alias("t_x"),
            (
                F.unix_timestamp("t_end") / 86400.0
                - F.unix_timestamp("first_o") / 86400.0
            ).alias("big_t"),
        )
    )
    p_alive = F.when(F.col("x") == 0, F.lit(1.0)).otherwise(
        1.0
        / (
            1.0
            + _A
            / (_B + F.col("x") - 1)
            * F.pow(
                (_ALPHA + F.col("big_t")) / (_ALPHA + F.col("t_x")),
                _R + F.col("x"),
            )
        )
    )
    return (
        cust.select(
            "o_custkey",
            "x",
            quantize(F.col("t_x"), 4).alias("recency_days"),
            quantize(F.col("big_t"), 4).alias("span_days"),
            quantize(p_alive, 4).alias("p_alive"),
        )
        .orderBy(F.desc("x"), F.asc("o_custkey"))
        .limit(50)
    )


# -------------------------------------------- Weibull median-rank fit


@query(
    "orders_weibull_cycletime_fit",
    oracle="""
    WITH cyc AS (
      SELECT o.o_orderkey, o.o_orderpriority,
             epoch(MAX(l.l_shipdate)) / 86400.0
               - epoch(o.o_orderdate) / 86400.0 AS t
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
      HAVING epoch(MAX(l.l_shipdate)) - epoch(o.o_orderdate) > 0
    ),
    ranked AS (
      SELECT o_orderpriority, t,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY t, o_orderkey) AS i,
             CAST(COUNT(*) OVER (PARTITION BY o_orderpriority) AS BIGINT)
               AS n
      FROM cyc
    ),
    pts AS (
      SELECT o_orderpriority, n,
             CAST(ln(t) AS DECIMAL(18,10)) AS x,
             CAST(ln(-ln(1.0 - (i - 0.3) / (n + 0.4)))
                  AS DECIMAL(18,10)) AS y
      FROM ranked
    ),
    m AS (
      SELECT o_orderpriority, n,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(x * y AS DECIMAL(28,12))) AS DOUBLE) AS sxy
      FROM pts GROUP BY 1, 2
      -- with a single distinct x the regression denominator is pure
      -- cancellation noise (quantized sxx vs double sx^2), not exact 0
      HAVING COUNT(DISTINCT x) >= 2
    )
    SELECT o_orderpriority, n,
           floor((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0)
                 * 10000 + 0.5) / 10000 AS shape_k,
           floor(exp(-(sy / n - (n * sxy - sx * sy)
                               / NULLIF(n * sxx - sx * sx, 0)
                               * (sx / n))
                     / ((n * sxy - sx * sy)
                        / NULLIF(n * sxx - sx * sx, 0)))
                 * 10000 + 0.5) / 10000 AS scale_days
    FROM m
    ORDER BY o_orderpriority
    """,
)
def orders_weibull_cycletime_fit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weibull shape/scale of order cycle time (order date -> last
    shipment) per priority class, via median-rank regression: plot
    ln(-ln(1 - F_i)) against ln(t_i) with Bernard's approximation
    F_i = (i-0.3)/(n+0.4); the slope IS the shape k and
    scale = exp(-intercept/k).

    Regression moments accumulate as exact decimals of per-point
    quantized ln terms (DECIMAL(18,10) — a possible 1-ulp ln flip moves
    a SUM by 1e-10, invisible at 4 decimals). Plan: one join + agg
    builds cycle times, one per-class rank window, one moment agg —
    three exchanges, all key-parallel.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    cyc = (
        li.join(
            o.select("o_orderkey", "o_orderpriority", "o_orderdate"),
            li["l_orderkey"] == o["o_orderkey"],
        )
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .filter(
            F.unix_timestamp("last_ship") - F.unix_timestamp("o_orderdate")
            > 0
        )
        .select(
            "o_orderkey",
            "o_orderpriority",
            (
                F.unix_timestamp("last_ship") / 86400.0
                - F.unix_timestamp("o_orderdate") / 86400.0
            ).alias("t"),
        )
    )
    wrk = Window.partitionBy("o_orderpriority").orderBy("t", "o_orderkey")
    wn = Window.partitionBy("o_orderpriority")
    ranked = cyc.select(
        "o_orderpriority",
        "t",
        F.row_number().over(wrk).alias("i"),
        F.count("*").over(wn).alias("n"),
    )
    pts = ranked.select(
        "o_orderpriority",
        "n",
        F.log(F.col("t")).cast("decimal(18,10)").alias("x"),
        F.log(-F.log(1.0 - (F.col("i") - 0.3) / (F.col("n") + 0.4)))
        .cast("decimal(18,10)")
        .alias("y"),
    )
    m = (
        pts.groupBy("o_orderpriority", "n")
        .agg(
            F.sum("x").cast("double").alias("sx"),
            F.sum("y").cast("double").alias("sy"),
            F.sum((F.col("x") * F.col("x")).cast("decimal(28,12)"))
            .cast("double")
            .alias("sxx"),
            F.sum((F.col("x") * F.col("y")).cast("decimal(28,12)"))
            .cast("double")
            .alias("sxy"),
            # single-distinct-x guard: the denominator would be pure
            # cancellation noise, not exact 0 (see oracle HAVING).
            # r8: min != max over the exact decimal x is the identical
            # ">= 2 distinct" predicate without the countDistinct
            # Expand (2x row duplication before the shuffle).
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
        )
        .filter(F.col("x_min") != F.col("x_max"))
        .drop("x_min", "x_max")
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    slope = F.try_divide(
        n * F.col("sxy") - sx * sy,
        F.nullif(n * F.col("sxx") - sx * sx, F.lit(0.0)),
    )
    intercept = sy / n - slope * (sx / n)
    return m.select(
        "o_orderpriority",
        "n",
        quantize(slope, 4).alias("shape_k"),
        quantize(F.exp(-intercept / slope), 4).alias("scale_days"),
    ).orderBy("o_orderpriority")


# ------------------------------------------------- Ljung-Box Q test

_LB_LAGS = 6


@query(
    "events_ljung_box",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, y,
             {", ".join(
                 f"lag(y, {k}) OVER (PARTITION BY event_type ORDER BY h)"
                 f" AS y{k}" for k in range(1, _LB_LAGS + 1)
             )}
      FROM hourly
    ),
    mom AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS s
      FROM hourly GROUP BY 1
    ),
    dev AS (
      SELECT l.event_type, m.n,
             CAST(SUM(CAST((l.y - m.s / m.n) * (l.y - m.s / m.n)
                           AS DECIMAL(28,8))) AS DOUBLE) AS c0,
             {", ".join(
                 "CAST(SUM(CASE WHEN l.y" + str(k) + " IS NULL THEN NULL"
                 " ELSE CAST((l.y - m.s / m.n) * (l.y" + str(k)
                 + " - m.s / m.n) AS DECIMAL(28,8)) END) AS DOUBLE)"
                 f" AS c{k}" for k in range(1, _LB_LAGS + 1)
             )}
      FROM lagged l JOIN mom m ON m.event_type = l.event_type
      GROUP BY 1, 2
    )
    SELECT event_type, n,
           floor(c1 / c0 * 10000 + 0.5) / 10000 AS rho1,
           floor(c2 / c0 * 10000 + 0.5) / 10000 AS rho2,
           floor(c3 / c0 * 10000 + 0.5) / 10000 AS rho3,
           floor(n * (n + 2) * (
             {" + ".join(
                 f"COALESCE((c{k} / c0) * (c{k} / c0) / (n - {k}), 0)"
                 for k in range(1, _LB_LAGS + 1)
             )}
           ) * 10000 + 0.5) / 10000 AS q_stat,
           {_LB_LAGS} AS dof
    FROM dev
    WHERE n > {_LB_LAGS} AND c0 > 0
    ORDER BY event_type
    """,
)
def events_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test per stream on the hourly volume
    series: Q = n(n+2) * sum_{{k=1..{k}}} rho_k^2/(n-k), with the
    standard biased-ACF estimator (lag-k cross products over the
    all-sample centered sum of squares).

    All {k} lag columns come from ONE ordered window pass; every
    deviation product is quantized to DECIMAL(28,8) and summed exactly,
    so rho_k and Q are scalar arithmetic over exact moments. Streams
    shorter than {k}+1 hours or with zero variance are excluded in both
    engines.
    """.format(k=_LB_LAGS)
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("y")
    )
    wlag = Window.partitionBy("event_type").orderBy("h")
    lagged = hourly.select(
        "event_type",
        "y",
        *[
            F.lag("y", k).over(wlag).alias(f"y{k}")
            for k in range(1, _LB_LAGS + 1)
        ],
    )
    mom = hourly.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("y").cast("decimal(18,6)")).cast("double").alias("s"),
    )
    mean = F.col("s") / F.col("n")
    dev = (
        lagged.join(F.broadcast(mom), "event_type")
        .groupBy("event_type", "n")
        .agg(
            F.sum(
                ((F.col("y") - mean) * (F.col("y") - mean)).cast(
                    "decimal(28,8)"
                )
            )
            .cast("double")
            .alias("c0"),
            *[
                F.sum(
                    F.when(F.col(f"y{k}").isNull(), None).otherwise(
                        (
                            (F.col("y") - mean)
                            * (F.col(f"y{k}") - mean)
                        ).cast("decimal(28,8)")
                    )
                )
                .cast("double")
                .alias(f"c{k}")
                for k in range(1, _LB_LAGS + 1)
            ],
        )
    )
    n = F.col("n")
    rho = {k: F.col(f"c{k}") / F.col("c0") for k in range(1, _LB_LAGS + 1)}
    q = n * (n + 2) * sum(
        F.coalesce(rho[k] * rho[k] / (n - k), F.lit(0.0))
        for k in range(1, _LB_LAGS + 1)
    )
    return (
        dev.filter((n > _LB_LAGS) & (F.col("c0") > 0))
        .select(
            "event_type",
            "n",
            quantize(rho[1], 4).alias("rho1"),
            quantize(rho[2], 4).alias("rho2"),
            quantize(rho[3], 4).alias("rho3"),
            quantize(q, 4).alias("q_stat"),
            F.lit(_LB_LAGS).alias("dof"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------------ Wilson OTD interval

_OTD_COMMIT_DAYS = 30
_Z = 1.96


@query(
    "supplier_wilson_otd_ci",
    oracle=f"""
    WITH ship AS (
      SELECT l.l_suppkey,
             CASE WHEN l.l_shipdate
                       <= o.o_orderdate + INTERVAL {_OTD_COMMIT_DAYS} DAY
                  THEN 1 ELSE 0 END AS on_time
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    agg AS (
      SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(on_time) AS BIGINT) AS k
      FROM ship GROUP BY 1
    )
    SELECT l_suppkey, n, k,
           floor(CAST(k AS DOUBLE) / n * 10000 + 0.5) / 10000 AS otd_rate,
           floor((CAST(k AS DOUBLE) / n + {_Z} * {_Z} / (2 * n)
                  - {_Z} * sqrt((CAST(k AS DOUBLE) / n)
                                * (1 - CAST(k AS DOUBLE) / n) / n
                                + {_Z} * {_Z} / (4.0 * n * n)))
                 / (1 + {_Z} * {_Z} / n) * 10000 + 0.5) / 10000
             AS wilson_lo,
           floor((CAST(k AS DOUBLE) / n + {_Z} * {_Z} / (2 * n)
                  + {_Z} * sqrt((CAST(k AS DOUBLE) / n)
                                * (1 - CAST(k AS DOUBLE) / n) / n
                                + {_Z} * {_Z} / (4.0 * n * n)))
                 / (1 + {_Z} * {_Z} / n) * 10000 + 0.5) / 10000
             AS wilson_hi
    FROM agg
    ORDER BY n DESC, l_suppkey
    LIMIT 20
    """,
)
def supplier_wilson_otd_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-time-delivery rate per supplier (shipment within {d} days of
    the order) with the Wilson 95% score interval — the small-n-safe
    proportion bound used to rank suppliers without crowning a 1-for-1
    newcomer; top-20 suppliers by shipment count.

    One broadcast-keyed join tags shipments, one map-side-combinable
    count/sum per supplier, then closed-form scalar arithmetic (mirrored
    expression trees) on the 20 surviving rows.
    """.format(d=_OTD_COMMIT_DAYS)
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    ship = li.join(
        o.select("o_orderkey", "o_orderdate"),
        li["l_orderkey"] == o["o_orderkey"],
    ).select(
        "l_suppkey",
        F.when(
            F.col("l_shipdate")
            <= F.col("o_orderdate") + F.expr(
                f"INTERVAL {_OTD_COMMIT_DAYS} DAY"
            ),
            1,
        )
        .otherwise(0)
        .alias("on_time"),
    )
    agg = ship.groupBy("l_suppkey").agg(
        F.count("*").alias("n"), F.sum("on_time").alias("k")
    )
    p = F.col("k").cast("double") / F.col("n")
    n = F.col("n")
    z2 = _Z * _Z
    half = _Z * F.sqrt(p * (1 - p) / n + z2 / (4.0 * n * n))
    center = p + z2 / (2 * n)
    denom = 1 + z2 / n
    return (
        agg.select(
            "l_suppkey",
            "n",
            "k",
            quantize(p, 4).alias("otd_rate"),
            quantize((center - half) / denom, 4).alias("wilson_lo"),
            quantize((center + half) / denom, 4).alias("wilson_hi"),
        )
        .orderBy(F.desc("n"), F.asc("l_suppkey"))
        .limit(20)
    )
