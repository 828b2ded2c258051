"""Round-3 fourth-session batch 21: percentile band charts and
retention half-life.

- `events_percentile_bands` — p10/p50/p90 of `value` per (type, hour)
  via exact rank selection inside each group: the latency/metric band
  chart every dashboard draws (the per-bucket quantile complement of
  `events_m4_downsample`'s extrema and `events_ddsketch_quantile`'s
  global sketch).
- `events_retention_halflife` — exponential retention decay fitted by
  log-linear least squares over the aggregate retention curve:
  r(t) ~ a e^{{-bt}} -> ln r = ln a - b t, slope from exact-moment
  regression, half-life = ln 2 / b — the one-number retention summary
  ("users halve every N days") growth teams track, composed from the
  `events_retention_cohort` curve.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import (
    DUCK_TS_FMT,
    SPARK_TS_FMT,
    quantize,
    query,
)
from arkflow_spark.tables import load


_BAND_QS = (0.1, 0.5, 0.9)


@query(
    "events_percentile_bands",
    oracle=f"""
    WITH ranked AS (
      SELECT event_type, date_trunc('hour', ts) AS h, value,
             row_number() OVER (
               PARTITION BY event_type, date_trunc('hour', ts)
               ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (
               PARTITION BY event_type, date_trunc('hour', ts)) AS n
      FROM events
    )
    SELECT event_type, strftime(h, '{DUCK_TS_FMT}') AS h,
           MAX(n) AS n,
           MAX(CASE WHEN rn = CAST(ceil(0.1 * n) AS BIGINT)
                    THEN value END) AS p10,
           MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                    THEN value END) AS p50,
           MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT)
                    THEN value END) AS p90
    FROM ranked
    GROUP BY event_type, h
    ORDER BY event_type, h
    """,
)
def events_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The percentile band chart source: exact p10/p50/p90 of `value`
    per (type, hour), each an order statistic picked by the portable
    rank rule rn = ceil(q*n) (ties broken by event_id, the
    `events_ddsketch_quantile` selection discipline applied per
    bucket) — the latency band every SLO dashboard draws, with NO
    interpolation ambiguity between engines.

    Scale: one (type, hour) keyed window + the aggregation on the same
    partitioning — a single shuffle; per-group sort cost is bounded by
    in-bucket volume, and at 100 TB the same chart comes from the
    mergeable DDSketch per bucket instead (`events_ddsketch_quantile`
    is that path).
    """
    e = load(spark, sf_dir, "events").withColumn(
        "h", F.date_trunc("hour", "ts")
    )
    w = Window.partitionBy("event_type", "h").orderBy(
        "value", "event_id"
    )
    wn = Window.partitionBy("event_type", "h")
    ranked = e.select(
        "event_type",
        "h",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )

    def pick(q):
        return F.max(
            F.when(
                F.col("rn") == F.ceil(q * F.col("n")), F.col("value")
            )
        )

    return (
        ranked.groupBy("event_type", "h")
        .agg(
            F.max("n").alias("n"),
            pick(0.1).alias("p10"),
            pick(0.5).alias("p50"),
            pick(0.9).alias("p90"),
        )
        .select(
            "event_type",
            F.date_format("h", SPARK_TS_FMT).alias("h"),
            "n",
            "p10",
            "p50",
            "p90",
        )
        .orderBy("event_type", "h")
    )


@query(
    "events_retention_halflife",
    oracle="""
    WITH first_day AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id,
             datediff('day', f.cohort_day, CAST(e.ts AS DATE)) AS t
      FROM events e JOIN first_day f ON e.user_id = f.user_id
    ),
    curve AS (
      SELECT t, COUNT(*) * 1.0 /
               (SELECT COUNT(*) FROM first_day) AS r
      FROM activity WHERE t >= 1 AND t <= 14
      GROUP BY t
    ),
    mom AS (
      SELECT COUNT(*) AS n,
             SUM(t * 1.0) AS sx, SUM(ln(r)) AS sy,
             SUM(t * ln(r)) AS sxy, SUM(t * t * 1.0) AS sxx
      FROM curve WHERE r > 0
    )
    SELECT n AS n_points,
           floor((n * sxy - sx * sy) / (n * sxx - sx * sx)
                 * -10000 + 0.5) / 10000 AS decay_b,
           -- a slope within 1e-9 of zero is numerically flat (the ln
           -- moments differ by ulps across engines there): no finite
           -- half-life
           CASE WHEN (n * sxy - sx * sy) / (n * sxx - sx * sx) < -1e-9
                THEN floor(0.6931471805599453 /
                           (-(n * sxy - sx * sy)
                             / (n * sxx - sx * sx))
                           * 10000 + 0.5) / 10000
           END AS halflife_days
    FROM mom
    """,
)
def events_retention_halflife(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Retention half-life: the day-1..14 aggregate retention curve
    (share of all users active t days after their first day — the
    `events_retention_cohort` curve pooled across cohorts) fitted with
    log-linear least squares, ln r = ln a - b t, slope from the exact
    moment formula; half-life = ln2 / b is the one number ("actives
    halve every N days") a growth team tracks release over release.
    Moments use exact integer t sums; ln r and the final division are
    the only floats, quantized once.

    Scale: the regression runs over a <=14-row curve derived from two
    uniform-key reductions — the fit is free at any event volume.
    """
    e = load(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    activity = (
        e.join(first, "user_id")
        .select(
            "user_id",
            F.datediff(F.to_date("ts"), F.col("cohort_day")).alias("t"),
        )
        .distinct()
    )
    n_users = first.agg(F.count("*").alias("nu"))
    curve = (
        activity.filter((F.col("t") >= 1) & (F.col("t") <= 14))
        .groupBy("t")
        .agg(F.count("*").alias("active"))
        .crossJoin(F.broadcast(n_users))
        .select("t", (F.col("active") * 1.0 / F.col("nu")).alias("r"))
    )
    mom = curve.filter(F.col("r") > 0).agg(
        F.count("*").alias("n"),
        F.sum(F.col("t") * 1.0).alias("sx"),
        F.sum(F.log("r")).alias("sy"),
        F.sum(F.col("t") * F.log("r")).alias("sxy"),
        F.sum(F.col("t") * F.col("t") * 1.0).alias("sxx"),
    )
    # try_divide: a 1-point curve (denominator 0) must fit to NULL,
    # matching DuckDB's NULL-on-zero division (Spark ANSI raises);
    # a numerically-flat slope (|b| <= 1e-9 — engines' ln moments
    # differ by ulps there) gets no finite half-life on either side
    slope = F.try_divide(
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"),
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"),
    )
    return mom.select(
        F.col("n").alias("n_points"),
        quantize(-slope, 4).alias("decay_b"),
        quantize(
            F.when(
                slope < -1e-9,
                F.lit(0.6931471805599453) / (-slope),
            ), 4
        ).alias("halflife_days"),
    )
