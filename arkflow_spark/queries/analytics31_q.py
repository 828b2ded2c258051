"""Round-4 batch 31: Gini concentration, XmR control charts, Theil-Sen
robust trend, Fano-factor burstiness.

Four robust-statistics operators over the event stream:

- `events_gini_concentration` — Gini coefficient of per-user value
  concentration per stream (is 80% of the metric produced by 2% of
  users?), the standard inequality measure for load/revenue skew and
  the quantitative justification for the salting in
  `functions/skew.py`.
- `events_spc_xmr_chart` — Shewhart individuals/moving-range control
  chart: process mean, mean moving range, the +/-2.66*MRbar natural
  process limits, and the out-of-control point count per stream.
- `events_theil_sen_trend` — the Theil-Sen estimator (median of all
  pairwise slopes over the hourly series): a robust trend immune to
  the outliers that wreck the OLS slope `events_ar2_forecast` fits.
- `events_burstiness_fano` — Fano factor (variance/mean of per-minute
  counts) and the Goh-Barabási burstiness score (sigma-mu)/(sigma+mu):
  > 0 bursty, ~0 Poisson, < 0 regular — the arrival-process diagnosis
  that sizes stream buffers and rate limits.

Reference scope: the arkflow SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs) — monitoring analytics a
stream operator would run; oracled against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ----------------------------------------------------- Gini coefficient


@query(
    "events_gini_concentration",
    oracle=r"""
    WITH per_user AS (
      SELECT event_type, user_id,
             CAST(SUM(CAST(floor(value * 1000000 + 0.5) / 1000000
                           AS DECIMAL(18,6))) AS DOUBLE) AS x
      FROM events GROUP BY event_type, user_id
    ),
    ranked AS (
      SELECT event_type, x,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY x, user_id) AS i,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM per_user
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_users,
           floor(CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)
                 * 10000 + 0.5) / 10000 AS total_value,
           floor((2.0 * CAST(SUM(CAST(i * x AS DECIMAL(28,6)))
                             AS DOUBLE)
                  / NULLIF(MAX(n) * CAST(SUM(CAST(x AS DECIMAL(28,6)))
                                         AS DOUBLE), 0)
                  - (MAX(n) + 1.0) / MAX(n))
                 * 10000 + 0.5) / 10000 AS gini
    FROM ranked GROUP BY event_type ORDER BY event_type
    """,
)
def events_gini_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gini coefficient of per-user value concentration per stream, via
    the rank formula G = 2*sum(i*x_(i)) / (n*sum(x)) - (n+1)/n over the
    ascending-sorted user totals. Gini ~0 = uniform load, ~1 = one user
    produces everything — the printed justification for skew-aware
    partitioning: a stream with G > 0.6 is exactly where
    `events_skew_salted_agg`'s salting pays.

    Scale: user totals are one map-side-combinable aggregate; the rank
    window and final reduction run over the per-user table (cardinality
    = active users, not events). Totals are decimal-summed exactly so
    the engines agree; a zero-total stream yields NULL, never a
    divide-by-zero.
    """
    e = load(spark, sf_dir, "events")
    per_user = e.groupBy("event_type", "user_id").agg(
        F.sum(quantize(F.col("value"), 6).cast("decimal(18,6)"))
        .cast("double")
        .alias("x")
    )
    pw = Window.partitionBy("event_type")
    ranked = per_user.withColumn(
        "i", F.row_number().over(pw.orderBy("x", "user_id"))
    ).withColumn("n", F.count("*").over(pw))
    sum_x = F.sum(F.col("x").cast("decimal(28,6)")).cast("double")
    sum_ix = F.sum(
        (F.col("i") * F.col("x")).cast("decimal(28,6)")
    ).cast("double")
    n = F.max("n")
    return (
        ranked.groupBy("event_type")
        .agg(
            n.cast("bigint").alias("n_users"),
            quantize(sum_x, 4).alias("total_value"),
            quantize(
                F.try_divide(2.0 * sum_ix, n * sum_x)
                - (n + 1.0) / n, 4
            ).alias("gini"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------------------ XmR SPC chart

_XMR_K = 2.66  # d2-derived constant for n=2 moving ranges


@query(
    "events_spc_xmr_chart",
    oracle=f"""
    WITH seq AS (
      SELECT event_type,
             floor(value * 1000000 + 0.5) / 1000000 AS x,
             lag(floor(value * 1000000 + 0.5) / 1000000)
               OVER (PARTITION BY event_type
                     ORDER BY ts, event_id) AS prev
      FROM events
    ),
    stats AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_points,
             floor(CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*) * 10000 + 0.5) / 10000 AS xbar,
             floor(CAST(SUM(CAST(abs(x - prev) AS DECIMAL(18,6)))
                        AS DOUBLE)
                   / NULLIF(COUNT(prev), 0) * 10000 + 0.5) / 10000
               AS mrbar
      FROM seq GROUP BY event_type
    )
    SELECT s.event_type, s.n_points, s.xbar, s.mrbar,
           floor((s.xbar + {_XMR_K} * s.mrbar) * 10000 + 0.5) / 10000
             AS ucl,
           floor((s.xbar - {_XMR_K} * s.mrbar) * 10000 + 0.5) / 10000
             AS lcl,
           CAST(SUM(CASE WHEN q.x > floor((s.xbar + {_XMR_K} * s.mrbar)
                                          * 10000 + 0.5) / 10000
                           OR q.x < floor((s.xbar - {_XMR_K} * s.mrbar)
                                          * 10000 + 0.5) / 10000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_out
    FROM stats s JOIN seq q ON q.event_type = s.event_type
    GROUP BY s.event_type, s.n_points, s.xbar, s.mrbar
    ORDER BY s.event_type
    """,
)
def events_spc_xmr_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart XmR (individuals / moving-range) control chart per
    stream: process mean, mean |successive difference|, the natural
    process limits xbar +/- 2.66*MRbar, and how many points fall
    outside them — the classic SPC answer to "is this metric drifting
    or just noisy", complementary to the z-score/CUSUM detectors
    (which assume a known sigma; XmR estimates it from short-range
    variation, so slow drift does not inflate the limits).

    Scale: one keyed lag window (partition-local after a single
    event_type exchange), one aggregate, then a broadcast-sized
    per-stream limits table re-joined for the out-of-limit count.
    Means are decimal-summed and quantized so the limit comparison is
    bit-identical in both engines.
    """
    e = load(spark, sf_dir, "events")
    x = quantize(F.col("value"), 6)
    seq = e.select(
        "event_type",
        x.alias("x"),
        F.lag(x)
        .over(Window.partitionBy("event_type").orderBy("ts", "event_id"))
        .alias("prev"),
    )
    stats = seq.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_points"),
        quantize(
            F.sum(F.col("x").cast("decimal(18,6)")).cast("double")
            / F.count("*"), 4
        ).alias("xbar"),
        quantize(
            F.try_divide(
                F.sum(
                    F.abs(F.col("x") - F.col("prev")).cast(
                        "decimal(18,6)"
                    )
                ).cast("double"),
                F.count("prev"),
            ), 4
        ).alias("mrbar"),
    )
    ucl = quantize(F.col("xbar") + _XMR_K * F.col("mrbar"), 4)
    lcl = quantize(F.col("xbar") - _XMR_K * F.col("mrbar"), 4)
    limits = stats.select(
        "event_type",
        "n_points",
        "xbar",
        "mrbar",
        ucl.alias("ucl"),
        lcl.alias("lcl"),
    )
    return (
        seq.join(F.broadcast(limits), "event_type")
        .groupBy("event_type", "n_points", "xbar", "mrbar", "ucl", "lcl")
        .agg(
            F.sum(
                F.when(
                    (F.col("x") > F.col("ucl"))
                    | (F.col("x") < F.col("lcl")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_out")
        )
        .orderBy("event_type")
    )


# ------------------------------------------------- Theil-Sen robust trend


@query(
    "events_theil_sen_trend",
    oracle=r"""
    WITH hourly AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS h,
             floor(CAST(SUM(CAST(floor(value * 1000000 + 0.5) / 1000000
                                 AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*) * 1000000 + 0.5) / 1000000 AS y
      FROM events GROUP BY 1, 2
    ),
    slopes AS (
      SELECT a.event_type,
             floor((b.y - a.y) / (b.h - a.h) * 1000000 + 0.5) / 1000000
               AS slope,
             a.h AS h1, b.h AS h2
      FROM hourly a JOIN hourly b
        ON a.event_type = b.event_type AND a.h < b.h
    ),
    ranked AS (
      SELECT event_type, slope,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY slope, h1, h2) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM slopes
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_pairs,
           MAX(CASE WHEN rn = (n + 1) // 2 THEN slope END)
             AS sen_slope_per_hour
    FROM ranked GROUP BY event_type ORDER BY event_type
    """,
)
def events_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per stream: aggregate to an hourly mean
    series, form ALL pairwise slopes (y_j - y_i)/(h_j - h_i), and take
    their lower median (rank-selected, so both engines pick the
    identical element — no interpolation arithmetic). Breakdown point
    29%: a third of the hours can be garbage before the trend moves,
    which is why it belongs next to the OLS-based `events_ar2_forecast`
    and `events_trend_movers`.

    Scale: the quadratic pair join runs on the HOURLY table — its size
    is calendar time, not data volume (720 hours/month -> 259k pairs
    regardless of whether the month holds 1e5 or 1e12 events), so the
    operator is 100 TB-safe by construction; only the first hourly
    aggregate touches the raw stream, map-side combinable.
    """
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        F.floor(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600
        )
        .cast("bigint")
        .alias("h"),
    ).agg(
        quantize(
            F.sum(quantize(F.col("value"), 6).cast("decimal(18,6)")).cast(
                "double"
            )
            / F.count("*"), 6
        ).alias("y")
    ).persist()  # both sides of the pair join — scan the raw stream once
    a = hourly.alias("a")
    b = hourly.alias("b")
    # the hourly series is calendar-bounded (tiny) — broadcast one side
    # so the pair join never shuffles
    slopes = F.broadcast(a).join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.h") < F.col("b.h")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        quantize(
            (F.col("b.y") - F.col("a.y")) / (F.col("b.h") - F.col("a.h")), 6
        ).alias("slope"),
    )
    # r8 optimization round: the lower-median SLOPE VALUE is the k-th
    # order statistic of the slope multiset — it does not depend on the
    # (h1, h2) tie order the oracle's row_number uses, only on how many
    # pairs carry each quantized slope. Aggregate to per-(type, slope)
    # counts first (map-side combinable), then select the straddling
    # group with one cumulative window over DISTINCT slopes — the old
    # row_number + count windows sorted every pair row (calendar-
    # quadratic) across only #event_type partitions.
    sc = slopes.groupBy("event_type", "slope").agg(
        F.count("*").alias("c")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("slope")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = sc.withColumn("cum", F.sum("c").over(wcum))
    tot = sc.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("n")
    )
    k = F.floor((F.col("n") + 1) / 2)
    return (
        cum.join(F.broadcast(tot), "event_type")
        .filter((F.col("cum") >= k) & (F.col("cum") - F.col("c") < k))
        .select(
            "event_type",
            F.col("n").alias("n_pairs"),
            F.col("slope").alias("sen_slope_per_hour"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------- Fano factor / burstiness


@query(
    "events_burstiness_fano",
    oracle=r"""
    WITH counts AS (
      SELECT event_type, date_trunc('minute', ts) AS m,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_minutes,
             CAST(SUM(c) AS BIGINT) AS n_events,
             CAST(SUM(c * c) AS BIGINT) AS sum_c2
      FROM counts GROUP BY event_type
    )
    SELECT event_type, n_minutes, n_events,
           floor(n_events * 1.0 / n_minutes * 10000 + 0.5) / 10000
             AS mean_rate,
           floor((sum_c2 * 1.0 / n_minutes
                  - (n_events * 1.0 / n_minutes)
                    * (n_events * 1.0 / n_minutes))
                 * 10000 + 0.5) / 10000 AS var_rate,
           floor((sum_c2 * 1.0 / n_minutes
                  - (n_events * 1.0 / n_minutes)
                    * (n_events * 1.0 / n_minutes))
                 / (n_events * 1.0 / n_minutes) * 10000 + 0.5) / 10000
             AS fano,
           floor((sqrt(sum_c2 * 1.0 / n_minutes
                       - (n_events * 1.0 / n_minutes)
                         * (n_events * 1.0 / n_minutes))
                  - n_events * 1.0 / n_minutes)
                 / NULLIF(sqrt(sum_c2 * 1.0 / n_minutes
                               - (n_events * 1.0 / n_minutes)
                                 * (n_events * 1.0 / n_minutes))
                          + n_events * 1.0 / n_minutes, 0)
                 * 10000 + 0.5) / 10000 AS burstiness
    FROM stats ORDER BY event_type
    """,
)
def events_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival-process diagnosis per stream over OCCUPIED minutes: Fano
    factor variance/mean of per-minute counts (1 = Poisson, >> 1 =
    clustered/bursty) and the Goh-Barabási burstiness score
    (sigma - mu)/(sigma + mu) in [-1, 1]. Bursty streams need the
    hysteresis detector (`events_burst_hysteresis`) and deeper buffers;
    regular ones can run tighter rate limits. Empty minutes are
    deliberately excluded (gap handling lives in `events_gapfill_locf`)
    — documented, and identical in both engines.

    Scale: minute-counting is one map-side-combinable aggregate; every
    moment statistic derives from three EXACT integer sums (n, sum c,
    sum c^2), so no floating accumulation order can desync the engines
    — the entire reduction is two tiny keyed exchanges.
    """
    e = load(spark, sf_dir, "events")
    counts = e.groupBy(
        "event_type", F.date_trunc("minute", F.col("ts")).alias("m")
    ).agg(F.count("*").alias("c"))
    stats = counts.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_minutes"),
        F.sum("c").cast("bigint").alias("n_events"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_c2"),
    )
    mean = F.col("n_events") * 1.0 / F.col("n_minutes")
    var = F.col("sum_c2") * 1.0 / F.col("n_minutes") - mean * mean
    sigma = F.sqrt(var)
    return stats.select(
        "event_type",
        "n_minutes",
        "n_events",
        quantize(mean, 4).alias("mean_rate"),
        quantize(var, 4).alias("var_rate"),
        quantize(var / mean, 4).alias("fano"),
        quantize(F.try_divide(sigma - mean, sigma + mean), 4).alias(
            "burstiness"
        ),
    ).orderBy("event_type")
