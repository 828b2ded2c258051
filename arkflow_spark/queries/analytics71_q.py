"""Round-5 batch 71: partial autocorrelation, quantile-forecast
evaluation, split rate test.

- `events_pacf_durbin` — partial autocorrelation at lags 1..3 of each
  stream's hourly count series via the Durbin-Levinson closed forms:
  the AR-order fingerprint (an AR(p) process cuts off after lag p in
  PACF, decays in ACF) that `events_autocorr` alone can't resolve.
- `events_pinball_quantile_eval` — pinball (quantile) loss of a
  seasonal P90 forecast: the per-(stream, hour-of-day) empirical 90th
  percentile learned on the first half of the timeline, scored on the
  second half with the tau=0.9 pinball loss and the observed coverage.
  The proper scoring rule for quantile forecasts — WAPE/sMAPE only
  grade point forecasts.
- `events_split_rate_test` — two-sample Poisson rate test between the
  two timeline halves per stream via the conditional binomial: under
  equal rates and equal exposure, k1 | (k1+k2) ~ Binomial(n, 1/2); the
  normal-approximation z flags streams whose event rate genuinely
  moved between halves.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


_O_HOURLY = """
    hourly AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS hr,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    )
"""


def _spark_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return e.groupBy(
        "event_type",
        F.floor(F.unix_micros(F.col("ts")) / 3600000000.0)
        .cast("bigint")
        .alias("hr"),
    ).agg(F.count("*").cast("bigint").alias("c"))


# ------------------------------------------------ PACF (Durbin-Levinson)


def _o_acf_sums(k: int) -> str:
    return f"""
             CAST(COUNT(l{k}) AS BIGINT) AS n{k},
             CAST(SUM(CAST(c * l{k} AS BIGINT)) AS BIGINT) AS p{k},
             CAST(SUM(CASE WHEN l{k} IS NOT NULL THEN c END)
                  AS BIGINT) AS sx{k},
             CAST(SUM(l{k}) AS BIGINT) AS sy{k}"""


@query(
    "events_pacf_durbin",
    oracle=f"""
    WITH {_O_HOURLY},
    lagged AS (
      SELECT event_type, c,
             lag(c, 1) OVER w AS l1,
             lag(c, 2) OVER w AS l2,
             lag(c, 3) OVER w AS l3
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY hr)
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS sc,
             CAST(SUM(c * c) AS BIGINT) AS qc,
             {_o_acf_sums(1)},
             {_o_acf_sums(2)},
             {_o_acf_sums(3)}
      FROM lagged GROUP BY event_type
    ),
    acf AS (
      SELECT event_type, n,
             (p1 - (sc * 1.0 / n) * (sx1 + sy1) + n1 * (sc * 1.0 / n)
                * (sc * 1.0 / n))
               / (qc - n * (sc * 1.0 / n) * (sc * 1.0 / n)) AS r1,
             (p2 - (sc * 1.0 / n) * (sx2 + sy2) + n2 * (sc * 1.0 / n)
                * (sc * 1.0 / n))
               / (qc - n * (sc * 1.0 / n) * (sc * 1.0 / n)) AS r2,
             (p3 - (sc * 1.0 / n) * (sx3 + sy3) + n3 * (sc * 1.0 / n)
                * (sc * 1.0 / n))
               / (qc - n * (sc * 1.0 / n) * (sc * 1.0 / n)) AS r3
      FROM s
    ),
    dl AS (
      SELECT event_type, n, r1, r2, r3,
             (r2 - r1 * r1) / (1 - r1 * r1) AS phi22
      FROM acf
    )
    SELECT event_type, n AS n_hours,
           floor(r1 * 10000 + 0.5) / 10000 AS acf1,
           floor(r2 * 10000 + 0.5) / 10000 AS acf2,
           floor(r3 * 10000 + 0.5) / 10000 AS acf3,
           floor(r1 * 10000 + 0.5) / 10000 AS pacf1,
           floor(phi22 * 10000 + 0.5) / 10000 AS pacf2,
           floor((r3 - r1 * (1 - phi22) * r2 - phi22 * r1)
                 / ((1 - r1 * r1) * (1 - phi22 * phi22))
                 * 10000 + 0.5) / 10000 AS pacf3
    FROM dl ORDER BY event_type
    """,
)
def events_pacf_durbin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PACF at lags 1..3 per stream (hourly counts, observed hours in
    order): sample ACF from exact integer cross-products around the
    full-series mean, then the Durbin-Levinson recursion unrolled to
    closed forms — pacf2 = (r2 - r1^2)/(1 - r1^2), pacf3 from the
    level-2 coefficients. PACF cutting off after lag p is the AR(p)
    signature used to pick forecasting model order.

    Scale shape: one calendar-bounded hourly rollup; one partitioned
    lag window over the hourly grid; ALL moments are exact BIGINT sums
    in a single map-side-combinable aggregate; the recursion is scalar
    arithmetic per stream.
    """
    hourly = _spark_hourly(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("hr")
    lagged = hourly.select(
        "event_type",
        "c",
        F.lag("c", 1).over(w).alias("l1"),
        F.lag("c", 2).over(w).alias("l2"),
        F.lag("c", 3).over(w).alias("l3"),
    )

    def sums(k):
        lk = F.col(f"l{k}")
        return [
            F.count(lk).cast("bigint").alias(f"n{k}"),
            F.sum(F.col("c") * lk).cast("bigint").alias(f"p{k}"),
            F.sum(F.when(lk.isNotNull(), F.col("c")))
            .cast("bigint")
            .alias(f"sx{k}"),
            F.sum(lk).cast("bigint").alias(f"sy{k}"),
        ]

    s = lagged.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("qc"),
        *sums(1),
        *sums(2),
        *sums(3),
    )
    mu = F.col("sc") * 1.0 / F.col("n")
    den = F.col("qc") - F.col("n") * mu * mu

    def r(k):
        return (
            F.col(f"p{k}")
            - mu * (F.col(f"sx{k}") + F.col(f"sy{k}"))
            + F.col(f"n{k}") * mu * mu
        ) / den

    acf = s.select(
        "event_type",
        F.col("n").alias("n_hours"),
        r(1).alias("r1"),
        r(2).alias("r2"),
        r(3).alias("r3"),
    )
    phi22 = (F.col("r2") - F.col("r1") * F.col("r1")) / (
        1 - F.col("r1") * F.col("r1")
    )
    dl = acf.withColumn("phi22", phi22)
    pacf3 = (
        F.col("r3")
        - F.col("r1") * (1 - F.col("phi22")) * F.col("r2")
        - F.col("phi22") * F.col("r1")
    ) / (
        (1 - F.col("r1") * F.col("r1"))
        * (1 - F.col("phi22") * F.col("phi22"))
    )
    return dl.select(
        "event_type",
        "n_hours",
        quantize(F.col("r1"), 4).alias("acf1"),
        quantize(F.col("r2"), 4).alias("acf2"),
        quantize(F.col("r3"), 4).alias("acf3"),
        quantize(F.col("r1"), 4).alias("pacf1"),
        quantize(F.col("phi22"), 4).alias("pacf2"),
        quantize(pacf3, 4).alias("pacf3"),
    ).orderBy("event_type")


# ------------------------------------------------ pinball-loss eval

_TAU = 0.9


@query(
    "events_pinball_quantile_eval",
    oracle=f"""
    WITH {_O_HOURLY},
    cut AS (
      SELECT MIN(hr) + (MAX(hr) - MIN(hr)) // 2 AS chr
      FROM hourly
    ),
    train AS (
      SELECT h.event_type, h.hr % 24 AS hod, h.c,
             row_number() OVER (PARTITION BY h.event_type, h.hr % 24
                                ORDER BY h.c, h.hr) AS rn,
             COUNT(*) OVER (PARTITION BY h.event_type, h.hr % 24) AS m
      FROM hourly h CROSS JOIN cut WHERE h.hr < cut.chr
    ),
    q AS (
      SELECT event_type, hod, c AS q90
      FROM train
      WHERE rn = CAST(ceil({_TAU} * m) AS BIGINT)
    ),
    test AS (
      SELECT h.event_type, h.hr % 24 AS hod, h.c
      FROM hourly h CROSS JOIN cut WHERE h.hr >= cut.chr
    )
    SELECT t.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_test_hours,
           floor(SUM(CASE WHEN t.c >= q.q90
                          THEN {_TAU} * (t.c - q.q90)
                          ELSE ({_TAU} - 1) * (t.c - q.q90) END)
                 / COUNT(*) * 10000 + 0.5) / 10000 AS pinball_loss,
           floor(SUM(CASE WHEN t.c <= q.q90 THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*) * 10000 + 0.5) / 10000 AS coverage
    FROM test t JOIN q ON q.event_type = t.event_type AND q.hod = t.hod
    GROUP BY t.event_type
    ORDER BY t.event_type
    """,
)
def events_pinball_quantile_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pinball-loss evaluation of a seasonal quantile forecast: the
    per-(stream, hour-of-day) empirical P90 (rank-selected ceil(0.9 m)
    order statistic, engine-exact) learned on the first timeline half,
    scored on the second half with the tau={t} pinball loss plus
    observed coverage (should be ~{t} when calibrated). The proper
    scoring rule that decides between competing quantile forecasters —
    the eval twin of `events_percentile_bands`.

    Scale shape: calendar-bounded hourly rollup; the rank window runs
    per (stream, hour-of-day) over the bounded hourly grid; the test
    join broadcasts the 24-row-per-stream quantile table.
    """.format(t=_TAU)
    hourly = _spark_hourly(spark, sf_dir)
    cut = hourly.agg(
        (F.min("hr") + ((F.max("hr") - F.min("hr")) / 2).cast("bigint"))
        .cast("bigint")
        .alias("chr")
    )
    hc = hourly.crossJoin(F.broadcast(cut))
    wq = Window.partitionBy("event_type", "hod").orderBy("c", "hr")
    train = (
        hc.filter(F.col("hr") < F.col("chr"))
        .select("event_type", (F.col("hr") % 24).alias("hod"), "c", "hr")
        .withColumn("rn", F.row_number().over(wq))
        .withColumn(
            "m", F.count("*").over(Window.partitionBy("event_type", "hod"))
        )
    )
    q = train.filter(
        F.col("rn") == F.ceil(_TAU * F.col("m")).cast("bigint")
    ).select("event_type", "hod", F.col("c").alias("q90"))
    test = hc.filter(F.col("hr") >= F.col("chr")).select(
        "event_type", (F.col("hr") % 24).alias("hod"), "c"
    )
    diff = F.col("c") - F.col("q90")
    return (
        test.join(F.broadcast(q), ["event_type", "hod"])
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_test_hours"),
            quantize(
                F.sum(
                    F.when(diff >= 0, _TAU * diff).otherwise(
                        (_TAU - 1) * diff
                    )
                )
                / F.count("*"), 4
            ).alias("pinball_loss"),
            quantize(
                F.sum(F.when(F.col("c") <= F.col("q90"), 1).otherwise(0))
                * 1.0
                / F.count("*"), 4
            ).alias("coverage"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------------ split rate test


@query(
    "events_split_rate_test",
    oracle="""
    WITH span AS (
      SELECT MIN(epoch_us(ts))
             + (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 2 AS cut
      FROM events
    ),
    cts AS (
      SELECT e.event_type,
             CAST(SUM(CASE WHEN epoch_us(e.ts) < s.cut THEN 1 ELSE 0 END)
                  AS BIGINT) AS k1,
             CAST(SUM(CASE WHEN epoch_us(e.ts) >= s.cut THEN 1 ELSE 0 END)
                  AS BIGINT) AS k2
      FROM events e CROSS JOIN span s
      GROUP BY e.event_type
    )
    SELECT event_type, k1 AS first_half, k2 AS second_half,
           floor(k2 * 1.0 / k1 * 10000 + 0.5) / 10000 AS rate_ratio,
           floor((k1 - (k1 + k2) * 0.5)
                 / sqrt((k1 + k2) * 0.25) * 10000 + 0.5) / 10000
             AS z_stat
    FROM cts
    ORDER BY event_type
    """,
)
def events_split_rate_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Poisson rate test between equal timeline halves per
    stream via the conditional binomial: under H0 (equal rates, equal
    exposure) k1 | k1+k2 ~ Binomial(n, 1/2), so
    z = (k1 - n/2)/sqrt(n/4). |z| > 2-3 flags a genuine rate shift —
    the hypothesis-test companion to `events_counter_rate`'s plain
    ratios, robust to the total volume (which cancels in the
    conditioning).

    Scale shape: one bounded min/max broadcast for the cut, one
    conditional-count aggregate — two scans, no joins wider than the
    1-row span table.
    """
    e = load(spark, sf_dir, "events")
    ep = F.unix_micros(F.col("ts"))
    span = e.agg(
        (F.min(ep) + ((F.max(ep) - F.min(ep)) / 2).cast("bigint"))
        .cast("bigint")
        .alias("cut")
    )
    cts = (
        e.select("event_type", ep.alias("ep"))
        .crossJoin(F.broadcast(span))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("ep") < F.col("cut"), 1).otherwise(0))
            .cast("bigint")
            .alias("k1"),
            F.sum(F.when(F.col("ep") >= F.col("cut"), 1).otherwise(0))
            .cast("bigint")
            .alias("k2"),
        )
    )
    n = F.col("k1") + F.col("k2")
    return cts.select(
        "event_type",
        F.col("k1").alias("first_half"),
        F.col("k2").alias("second_half"),
        quantize(F.col("k2") * 1.0 / F.col("k1"), 4).alias("rate_ratio"),
        quantize(
            (F.col("k1") - n * 0.5) / F.sqrt(n * 0.25), 4
        ).alias("z_stat"),
    ).orderBy("event_type")
