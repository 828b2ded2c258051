"""Round-6 batch 123: USL scalability fit, lead-time CVaR, price
ladder gaps.

- `events_usl_scalability_fit` — Gunther's Universal Scalability Law
  fitted to the hourly (concurrency, throughput) cloud: quadratic OLS
  on N/X = (kappa N^2 + (sigma-kappa) N + (1-sigma)) / lambda gives
  contention sigma, coherency kappa, ideal rate lambda, and the peak
  concurrency N* = sqrt((1-sigma)/kappa). `events_concurrency_sweep`
  measures concurrency; this turns load history into a capacity
  model — kappa > 0 means throughput eventually goes DOWN with load.
- `supplier_leadtime_cvar` — CVaR_95 (expected shortfall) of
  order-to-ship delay per supplier: the exact mean of the worst 5% of
  delays, rank-selected. P95 says where the tail starts; CVaR says
  how bad it is once you are in it — the difference between the two
  is the metric contractual penalties should price. (On this fixture
  ship dates are generated independently of order dates — the wide
  tails are a documented data finding, the estimator is the point.)
- `part_price_ladder_gaps` — price-architecture audit per brand: the
  sorted ladder of distinct retail price points, its largest
  consecutive ratio gap, and where it sits. A >2x hole in the ladder
  is a price segment competitors occupy alone.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ USL fit


@query(
    "events_usl_scalability_fit",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h,
             CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS n,
             CAST(COUNT(*) AS DOUBLE) AS x
      FROM events GROUP BY 1
    ),
    pts AS (SELECT n, n / x AS y FROM hourly),
    mom AS (
      SELECT COUNT(*) AS m,
             CAST(SUM(CAST(n AS DECIMAL(28,6))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(n * n AS DECIMAL(28,6))) AS DOUBLE) AS s2,
             CAST(SUM(CAST(n * n * n AS DECIMAL(28,6))) AS DOUBLE) AS s3,
             CAST(SUM(CAST(n * n * n * n AS DECIMAL(28,6))) AS DOUBLE)
               AS s4,
             CAST(SUM(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(n * y AS DECIMAL(28,12))) AS DOUBLE) AS sny,
             CAST(SUM(CAST(n * n * y AS DECIMAL(28,12))) AS DOUBLE)
               AS snny
      FROM pts
    ),
    fit AS (
      SELECT m, s1, s2, s3, s4, sy, sny, snny,
             m * (s2*s4 - s3*s3) - s1 * (s1*s4 - s2*s3)
               + s2 * (s1*s3 - s2*s2) AS det
      FROM mom
    ),
    coef AS (
      SELECT
        ((s2*s4 - s3*s3)*sy - (s1*s4 - s2*s3)*sny
         + (s1*s3 - s2*s2)*snny) / det AS a,
        ((s2*s3 - s1*s4)*sy + (m*s4 - s2*s2)*sny
         - (m*s3 - s1*s2)*snny) / det AS b,
        ((s1*s3 - s2*s2)*sy - (m*s3 - s1*s2)*sny
         + (m*s2 - s1*s1)*snny) / det AS c
      FROM fit
    )
    SELECT floor((a + b + c) * 1000000 + 0.5) / 1000000 AS inv_lambda,
           floor((b + c) / (a + b + c) * 10000 + 0.5) / 10000 AS sigma,
           floor(c / (a + b + c) * 1000000 + 0.5) / 1000000 AS kappa,
           CASE WHEN c > 0 AND a >= 0 THEN
             CAST(floor(sqrt((1 - (b + c) / (a + b + c))
                             / (c / (a + b + c)))) AS BIGINT) END
             AS peak_concurrency
    FROM coef
    """,
)
def events_usl_scalability_fit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Universal Scalability Law fit over hourly load points
    (N = distinct active users, X = events/hour): OLS quadratic on
    y = N/X via the 3x3 normal equations in closed form (Cramer),
    then sigma = (b+c)/(a+b+c) (contention / serial fraction),
    kappa = c/(a+b+c) (coherency / crosstalk), and the predicted
    throughput-peak concurrency sqrt((1-sigma)/kappa). kappa > 0 is
    retrograde scaling — the regime where adding load LOWERS
    throughput, which no linear model can represent.

    Determinism: every moment is per-term decimal-quantized before
    the exact sum; the Cramer solve is identical double arithmetic in
    both engines.

    Scale shape: one calendar-bounded hourly rollup; the fit is one
    row of arithmetic.
    """
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.countDistinct("user_id").cast("double").alias("n"),
        F.count("*").cast("double").alias("x"),
    )
    pts = hourly.select("n", (F.col("n") / F.col("x")).alias("y"))
    d6 = lambda c: F.sum(c.cast("decimal(28,6)")).cast("double")
    d12 = lambda c: F.sum(c.cast("decimal(28,12)")).cast("double")
    n = F.col("n")
    mom = pts.agg(
        F.count("*").alias("m"),
        d6(n).alias("s1"),
        d6(n * n).alias("s2"),
        d6(n * n * n).alias("s3"),
        d6(n * n * n * n).alias("s4"),
        d12(F.col("y")).alias("sy"),
        d12(n * F.col("y")).alias("sny"),
        d12(n * n * F.col("y")).alias("snny"),
    )
    m, s1, s2, s3, s4, sy, sny, snny = (
        F.col("m").cast("double"),
        F.col("s1"),
        F.col("s2"),
        F.col("s3"),
        F.col("s4"),
        F.col("sy"),
        F.col("sny"),
        F.col("snny"),
    )
    det = (
        m * (s2 * s4 - s3 * s3)
        - s1 * (s1 * s4 - s2 * s3)
        + s2 * (s1 * s3 - s2 * s2)
    )
    a = (
        (s2 * s4 - s3 * s3) * sy
        - (s1 * s4 - s2 * s3) * sny
        + (s1 * s3 - s2 * s2) * snny
    ) / det
    b = (
        (s2 * s3 - s1 * s4) * sy
        + (m * s4 - s2 * s2) * sny
        - (m * s3 - s1 * s2) * snny
    ) / det
    c = (
        (s1 * s3 - s2 * s2) * sy
        - (m * s3 - s1 * s2) * sny
        + (m * s2 - s1 * s1) * snny
    ) / det
    tot = a + b + c
    sigma = (b + c) / tot
    kappa = c / tot
    return mom.select(
        quantize(tot, 6).alias("inv_lambda"),
        quantize(sigma, 4).alias("sigma"),
        quantize(kappa, 6).alias("kappa"),
        F.when(
            (c > 0) & (a >= 0),
            F.floor(F.sqrt((1 - sigma) / kappa)).cast("bigint"),
        ).alias("peak_concurrency"),
    )


# ------------------------------------------------ lead-time CVaR

_CV_TOP = 15


@query(
    "supplier_leadtime_cvar",
    oracle=f"""
    WITH d AS (
      SELECT l.l_suppkey AS supp,
             date_diff('day', o.o_orderdate, l.l_shipdate) AS delay
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    ranked AS (
      SELECT supp, delay,
             row_number() OVER (PARTITION BY supp
                                ORDER BY delay DESC, delay) AS r,
             COUNT(*) OVER (PARTITION BY supp) AS n
      FROM d
    ),
    tail AS (
      SELECT supp, MAX(n) AS n,
             MAX(n) - CAST(ceil(0.95 * MAX(n)) AS BIGINT) + 1 AS k,
             CAST(SUM(CASE WHEN r <= n - CAST(ceil(0.95 * n) AS BIGINT)
                                    + 1
                           THEN CAST(delay AS DECIMAL(18,1)) END)
                  AS DOUBLE)
               / (MAX(n) - CAST(ceil(0.95 * MAX(n)) AS BIGINT) + 1)
               AS cvar95,
             CAST(MAX(CASE WHEN r = n - CAST(ceil(0.95 * n) AS BIGINT)
                                    + 1
                           THEN delay END) AS BIGINT) AS var95
      FROM ranked GROUP BY supp
    )
    SELECT CAST(supp AS BIGINT) AS supp, CAST(n AS BIGINT) AS n_lines,
           var95 AS p95_delay_days,
           floor(cvar95 * 10000 + 0.5) / 10000 AS cvar95_delay_days
    FROM tail
    ORDER BY cvar95 DESC, supp
    LIMIT {_CV_TOP}
    """,
)
def supplier_leadtime_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected shortfall of order-to-ship delay per supplier: the
    exact mean of each supplier's worst 5% of line delays (top-k by
    rank where k = n - ceil(0.95 n) + 1), alongside the P95 itself;
    worst {t} suppliers shown. Two suppliers with equal P95 can
    differ 10x in CVaR — tail MASS, not tail ONSET, is what late
    penalties and safety stock must absorb.

    Scale shape: supplier-partitioned rank windows (supplier-keyed,
    never single-partition), exact decimal tail means, top-{t} by
    TakeOrderedAndProject.
    """.format(t=_CV_TOP)
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    d = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("l_suppkey").alias("supp"),
        F.datediff("l_shipdate", "o_orderdate").alias("delay"),
    )
    w = Window.partitionBy("supp").orderBy(F.desc("delay"))
    wn = Window.partitionBy("supp")
    ranked = d.select(
        "supp",
        "delay",
        F.row_number().over(w).alias("r"),
        F.count("*").over(wn).alias("n"),
    )
    k = F.col("n") - F.ceil(0.95 * F.col("n")).cast("bigint") + 1
    tail = ranked.groupBy("supp").agg(
        F.max("n").alias("n"),
        (
            F.sum(
                F.when(
                    F.col("r") <= k, F.col("delay").cast("decimal(18,1)")
                )
            ).cast("double")
            / (
                F.max("n")
                - F.ceil(0.95 * F.max("n")).cast("bigint")
                + 1
            )
        ).alias("cvar95"),
        F.max(F.when(F.col("r") == k, F.col("delay")))
        .cast("bigint")
        .alias("var95"),
    )
    return (
        tail.select(
            F.col("supp").cast("bigint").alias("supp"),
            F.col("n").cast("bigint").alias("n_lines"),
            F.col("var95").alias("p95_delay_days"),
            quantize(F.col("cvar95"), 4).alias("cvar95_delay_days"),
            F.col("cvar95").alias("_c"),
        )
        .orderBy(F.desc("_c"), "supp")
        .limit(_CV_TOP)
        .drop("_c")
    )


# ------------------------------------------------ price ladder gaps


@query(
    "part_price_ladder_gaps",
    oracle="""
    WITH pts AS (
      SELECT DISTINCT p_brand AS brand,
             CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
      FROM part
    ),
    ladder AS (
      SELECT brand, cents,
             lead(cents) OVER (PARTITION BY brand ORDER BY cents)
               AS nxt
      FROM pts
    ),
    gaps AS (
      SELECT brand, cents, nxt,
             nxt * 1.0 / cents AS ratio,
             row_number() OVER (PARTITION BY brand
                                ORDER BY nxt * 1.0 / cents DESC, cents)
               AS r
      FROM ladder WHERE nxt IS NOT NULL
    )
    SELECT g.brand,
           CAST((SELECT COUNT(*) FROM pts p WHERE p.brand = g.brand)
                AS BIGINT) AS n_price_points,
           g.cents / 100.0 AS gap_low,
           g.nxt / 100.0 AS gap_high,
           floor(g.ratio * 10000 + 0.5) / 10000 AS max_gap_ratio,
           g.ratio > 2 AS ladder_hole
    FROM gaps g WHERE g.r = 1
    ORDER BY g.brand
    """,
)
def part_price_ladder_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-architecture audit per brand: the distinct retail price
    ladder (cents-exact), the largest consecutive price RATIO gap and
    its endpoints. A ratio hole above 2x is a price segment the brand
    simply does not play in — invisible to averages and percentiles,
    obvious on the ladder.

    Scale shape: distinct (brand, price-tick) rollup — tick-grid
    bounded — then brand-partitioned lead/rank windows on the bounded
    ladder.
    """
    p = load(spark, sf_dir, "part")
    pts = p.select(
        F.col("p_brand").alias("brand"),
        F.floor(F.col("p_retailprice") * 100 + 0.5)
        .cast("bigint")
        .alias("cents"),
    ).distinct()
    counts = pts.groupBy("brand").agg(F.count("*").alias("n_price_points"))
    wl = Window.partitionBy("brand").orderBy("cents")
    ladder = pts.select(
        "brand", "cents", F.lead("cents").over(wl).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    ratio = F.col("nxt") * 1.0 / F.col("cents")
    wr = Window.partitionBy("brand").orderBy(
        (F.col("nxt") * 1.0 / F.col("cents")).desc(), F.asc("cents")
    )
    return (
        ladder.withColumn("r", F.row_number().over(wr))
        .filter(F.col("r") == 1)
        .join(F.broadcast(counts), "brand")
        .select(
            "brand",
            F.col("n_price_points").cast("bigint").alias(
                "n_price_points"
            ),
            (F.col("cents") / 100.0).alias("gap_low"),
            (F.col("nxt") / 100.0).alias("gap_high"),
            quantize(ratio, 4).alias("max_gap_ratio"),
            (ratio > 2).alias("ladder_hole"),
        )
        .orderBy("brand")
    )
