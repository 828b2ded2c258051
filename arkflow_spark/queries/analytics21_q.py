"""Round-3 fourth-session batch 17: forecast accuracy evaluation.

- `events_forecast_eval_wape` — WAPE / sMAPE of the two standard
  forecasting baselines (naive = last hour, seasonal-naive = same hour
  yesterday) over each type's hourly series, plus which baseline wins:
  the forecast-accuracy harness (eval family alongside
  `dedup_lsh_eval_pr` / `text_langid_eval_confusion`) — and the bar
  any real model (`events_holt_trend`, `events_ar2_forecast`) has to
  clear, because a model that loses to seasonal-naive is worse than
  no model (the M-competition lesson).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


_SEASON_LAG = 24  # hours


@query(
    "events_forecast_eval_wape",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY date_trunc('hour', ts)) AS rn
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, c,
             lag(c, 1) OVER w AS naive,
             lag(c, {_SEASON_LAG}) OVER w AS snaive
      FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY rn)
    ),
    scored AS (
      SELECT event_type, COUNT(*) AS n_eval,
             SUM(abs(c - naive)) AS ae_naive,
             SUM(abs(c - snaive)) AS ae_snaive,
             SUM(c) AS actual_mass,
             SUM(2.0 * abs(c - naive) / (c + naive)) AS sm_naive,
             SUM(2.0 * abs(c - snaive) / (c + snaive)) AS sm_snaive
      FROM lagged WHERE snaive IS NOT NULL AND c + naive > 0
        AND c + snaive > 0
      GROUP BY event_type
    )
    SELECT event_type, n_eval,
           floor(ae_naive * 1.0 / actual_mass * 10000 + 0.5) / 10000
             AS wape_naive,
           floor(ae_snaive * 1.0 / actual_mass * 10000 + 0.5) / 10000
             AS wape_snaive,
           floor(sm_naive / n_eval * 10000 + 0.5) / 10000
             AS smape_naive,
           floor(sm_snaive / n_eval * 10000 + 0.5) / 10000
             AS smape_snaive,
           CASE WHEN ae_snaive < ae_naive THEN 'seasonal_naive'
                ELSE 'naive' END AS winner
    FROM scored
    ORDER BY event_type
    """,
)
def events_forecast_eval_wape(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Forecast-accuracy harness over the two baselines every model
    must beat: naive (last hour) and seasonal-naive (same hour, lag
    {s}) one-step forecasts of the hourly volume, scored with WAPE
    (sum |err| / sum actual — scale-free, mass-weighted) and sMAPE,
    on the common evaluation window where both baselines are defined.
    `winner = seasonal_naive` is the seasonality smoke test: if lag-{s}
    beats lag-1, the series has daily structure worth modeling
    (`events_periodogram` then finds the exact period). Absolute
    errors are exact integers; the two ratios quantize once.

    Scale: one keyed window over the hourly aggregate + one moment
    reduction — the evaluation costs no more than the forecast.
    """.format(s=_SEASON_LAG)
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("h")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("c"))
    lagged = hourly.select(
        "event_type",
        "c",
        F.lag("c", 1).over(w).alias("naive"),
        F.lag("c", _SEASON_LAG).over(w).alias("snaive"),
    )
    valid = (
        F.col("snaive").isNotNull()
        & (F.col("c") + F.col("naive") > 0)
        & (F.col("c") + F.col("snaive") > 0)
    )
    scored = lagged.filter(valid).groupBy("event_type").agg(
        F.count("*").alias("n_eval"),
        F.sum(F.abs(F.col("c") - F.col("naive"))).alias("ae_naive"),
        F.sum(F.abs(F.col("c") - F.col("snaive"))).alias("ae_snaive"),
        F.sum("c").alias("actual_mass"),
        F.sum(
            2.0
            * F.abs(F.col("c") - F.col("naive"))
            / (F.col("c") + F.col("naive"))
        ).alias("sm_naive"),
        F.sum(
            2.0
            * F.abs(F.col("c") - F.col("snaive"))
            / (F.col("c") + F.col("snaive"))
        ).alias("sm_snaive"),
    )
    return scored.select(
        "event_type",
        "n_eval",
        quantize(F.col("ae_naive") * 1.0 / F.col("actual_mass"), 4).alias(
            "wape_naive"
        ),
        quantize(F.col("ae_snaive") * 1.0 / F.col("actual_mass"), 4).alias(
            "wape_snaive"
        ),
        quantize(F.col("sm_naive") / F.col("n_eval"), 4).alias(
            "smape_naive"
        ),
        quantize(F.col("sm_snaive") / F.col("n_eval"), 4).alias(
            "smape_snaive"
        ),
        F.when(
            F.col("ae_snaive") < F.col("ae_naive"), "seasonal_naive"
        )
        .otherwise("naive")
        .alias("winner"),
    ).orderBy("event_type")
