"""Round-3 fourth-session batch 6: VARIANT semi-structured shredding,
lagged cross-correlation, SRE error-budget burn alerts, user path
analysis, and day-over-day trend movers.

- `scalar_variant_shred` — Spark 4's VARIANT type (`parse_json` /
  `variant_get` / `try_variant_get` / `schema_of_variant`): the
  open-schema semi-structured column (Parquet VARIANT spec), shredded
  back to typed columns. DataFusion reaches JSON only through string
  functions (docs/docs/sql/7-scalar_functions.md:4513 json_get_*);
  the oracle replays every extraction with DuckDB's JSON operators.
- `events_cross_correlation` — Pearson cross-correlation of two hourly
  series at lags -3..+3 h (does `view` volume lead `purchase`?), from
  EXACT integer co-moments so the result is engine-stable (same
  discipline as `events_autocorr`).
- `events_error_budget_burn` — the Google-SRE multi-window burn-rate
  alert: hourly error-rate vs a 0.1 budget, alert only when BOTH the
  1 h and the trailing-6 h burn exceed 2x — the two-window AND is what
  suppresses blips (fast window) and slow drifts (long window) alike.
- `events_top_paths` — top user journeys: first three event types per
  (user, day) concatenated to a path, counted corpus-wide — the Sankey
  source query of product analytics.
- `events_trend_movers` — day-over-day popularity rank deltas per event
  type ("movers & shakers"): two windows (rank within day, lag across
  days) on integer counts.
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


# -------------------------------------------------- VARIANT shredding


@query(
    "scalar_variant_shred",
    oracle="""
    WITH j AS (
      SELECT event_id,
             '{"u":{"id":' || user_id || ',"ty":"' || event_type ||
             '"},"cents":' || CAST(floor(value * 100) AS BIGINT) || '}'
               AS payload
      FROM events
    )
    SELECT event_id,
           CAST(json_extract(payload, '$.u.id') AS BIGINT) AS uid,
           json_extract_string(payload, '$.u.ty') AS uty,
           CAST(json_extract(payload, '$.cents') AS BIGINT) AS cents,
           json_extract_string(payload, '$.missing') AS absent
    FROM j
    ORDER BY event_id
    """,
)
def scalar_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shred a semi-structured payload through Spark 4's VARIANT type:
    `parse_json` -> binary variant, `variant_get(v, path, type)` typed
    extraction, `try_variant_get` NULL-on-missing — the open-schema
    column pattern (one VARIANT column instead of a rigid struct, typed
    on read). The payload is synthesized from events columns (float
    embedded as integer cents so no float-to-string formatting crosses
    engines); DuckDB replays each path with its JSON operators.

    Scale: VARIANT parses once per row and every extraction is a
    narrow codegen projection — no shuffle until the output sort. The
    binary variant encoding is columnar-shreddable (Parquet VARIANT),
    unlike get_json_object re-parsing the string per path.
    """
    e = load(spark, sf_dir, "events")
    payload = F.concat(
        F.lit('{"u":{"id":'),
        F.col("user_id").cast("string"),
        F.lit(',"ty":"'),
        F.col("event_type"),
        F.lit('"},"cents":'),
        F.floor(F.col("value") * 100).cast("bigint").cast("string"),
        F.lit("}"),
    )
    v = F.parse_json(payload)
    return (
        e.select("event_id", v.alias("v"))
        .select(
            "event_id",
            F.variant_get(F.col("v"), "$.u.id", "bigint").alias("uid"),
            F.variant_get(F.col("v"), "$.u.ty", "string").alias("uty"),
            F.variant_get(F.col("v"), "$.cents", "bigint").alias("cents"),
            F.try_variant_get(F.col("v"), "$.missing", "string").alias(
                "absent"
            ),
        )
        .orderBy("event_id")
    )


# -------------------------------------------------- cross-correlation

_XCORR_A = "view"
_XCORR_B = "purchase"
_XCORR_LAGS = (-3, -2, -1, 0, 1, 2, 3)


def _xcorr_oracle() -> str:
    lags = ", ".join(f"({l})" for l in _XCORR_LAGS)
    return f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h,
             SUM(CASE WHEN event_type = '{_XCORR_A}' THEN 1 ELSE 0 END)
               AS x,
             SUM(CASE WHEN event_type = '{_XCORR_B}' THEN 1 ELSE 0 END)
               AS y
      FROM events WHERE event_type IN ('{_XCORR_A}', '{_XCORR_B}')
      GROUP BY 1
    ),
    lags(lag_h) AS (VALUES {lags}),
    paired AS (
      SELECT l.lag_h, a.x, b.y
      FROM lags l
      JOIN hourly a ON TRUE
      JOIN hourly b ON epoch(b.h) = epoch(a.h) + l.lag_h * 3600
    ),
    mom AS (
      SELECT lag_h, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM paired GROUP BY lag_h
    )
    SELECT lag_h, n,
           floor((n * sxy - sx * sy) /
                 (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                  * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                 * 10000 + 0.5) / 10000 AS r
    FROM mom
    ORDER BY lag_h
    """


@query("events_cross_correlation", oracle=_xcorr_oracle())
def events_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the hourly '{a}' and '{b}'
    series: Pearson r of (x_t, y_t+lag) for lag in -3..+3 hours — the
    lead/lag diagnostic (does browsing volume predict buying volume an
    hour later?). All moments are EXACT integer sums (n*sxy - sx*sy
    etc.); only the final normalization is floating, then quantized —
    the `events_autocorr` determinism discipline.

    Scale: one hourly aggregation (map-side combinable, uniform key),
    then a 7-lag equi-join on the hour epoch (each row matches at most
    one partner per lag) and a tiny per-lag reduction. Nothing
    quadratic; the series length is hours-in-retention, not row count.
    """.format(a=_XCORR_A, b=_XCORR_B)
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_XCORR_A, _XCORR_B)
    )
    hourly = (
        e.groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == _XCORR_A, 1).otherwise(0)
            ).alias("x"),
            F.sum(
                F.when(F.col("event_type") == _XCORR_B, 1).otherwise(0)
            ).alias("y"),
        )
        .withColumn("epoch_h", F.unix_timestamp("h"))
    )
    lags = spark.createDataFrame(
        [(l,) for l in _XCORR_LAGS], ["lag_h"]
    )
    a = hourly.select("epoch_h", "x")
    b = hourly.select(
        F.col("epoch_h").alias("epoch_b"), "y"
    )
    paired = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            F.col("epoch_b")
            == F.col("epoch_h") + F.col("lag_h") * 3600,
        )
    )
    mom = paired.groupBy("lag_h").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
    ) * F.sqrt(
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
    )
    return (
        mom.select("lag_h", "n", quantize(num / den, 4).alias("r"))
        .orderBy("lag_h")
    )


# -------------------------------------------------- error-budget burn

_BURN_BUDGET = 0.1  # SLO: <=10% of events may be errors
_BURN_LONG_H = 6  # long window (trailing hours)
_BURN_FACTOR = 2.0  # alert when both windows burn > 2x budget


@query(
    "events_error_budget_burn",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, COUNT(*) AS total,
             SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               AS errors
      FROM events GROUP BY 1
    ),
    rates AS (
      SELECT h, total, errors,
             SUM(errors) OVER w AS err_l, SUM(total) OVER w AS tot_l
      FROM hourly
      WINDOW w AS (ORDER BY epoch(h)
                   RANGE BETWEEN {_BURN_LONG_H - 1} * 3600 PRECEDING
                   AND CURRENT ROW)
    )
    SELECT strftime(h, '{DUCK_TS_FMT}') AS h, total,
           CAST(errors AS BIGINT) AS errors,
           floor(errors * 1.0 / total / {_BURN_BUDGET} * 10000 + 0.5)
             / 10000 AS burn_fast,
           floor(err_l * 1.0 / tot_l / {_BURN_BUDGET} * 10000 + 0.5)
             / 10000 AS burn_slow,
           errors * 1.0 / total > {_BURN_BUDGET} * {_BURN_FACTOR}
             AND err_l * 1.0 / tot_l > {_BURN_BUDGET} * {_BURN_FACTOR}
             AS alert
    FROM rates
    ORDER BY h
    """,
)
def events_error_budget_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window error-budget burn-rate alerting (Google SRE
    workbook): hourly error rate over a {b:.0%} budget, alerting only
    when BOTH the fast (1 h) and the slow (trailing {l} h) windows burn
    faster than {f}x budget — the fast window catches the incident, the
    slow window confirms it isn't a blip. The alert boolean compares
    exact integer-count ratios, so the verdict can't flap on float
    noise between engines.

    Scale: one hourly aggregation then a value-based RANGE window over
    the hour epoch — state bounded by the window span, keyed time-
    ordered (the same shape a streaming SLO monitor maintains
    incrementally).
    """.format(b=_BURN_BUDGET, l=_BURN_LONG_H, f=_BURN_FACTOR)
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count("*").alias("total"),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).alias("errors"),
    )
    w = (
        # scale: calendar-bounded (hourly grid)
        Window.orderBy(F.unix_timestamp("h"))
        .rangeBetween(-(_BURN_LONG_H - 1) * 3600, Window.currentRow)
    )
    rates = hourly.select(
        "h",
        "total",
        "errors",
        F.sum("errors").over(w).alias("err_l"),
        F.sum("total").over(w).alias("tot_l"),
    )
    fast = F.col("errors") * 1.0 / F.col("total")
    slow = F.col("err_l") * 1.0 / F.col("tot_l")
    thresh = _BURN_BUDGET * _BURN_FACTOR
    return rates.select(
        F.date_format("h", SPARK_TS_FMT).alias("h"),
        "total",
        "errors",
        quantize(fast / _BURN_BUDGET, 4).alias("burn_fast"),
        quantize(slow / _BURN_BUDGET, 4).alias("burn_slow"),
        ((fast > thresh) & (slow > thresh)).alias("alert"),
    ).orderBy("h")


# -------------------------------------------------- top user paths

_PATH_LEN = 3
_PATH_TOPN = 15


@query(
    "events_top_paths",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, date_trunc('day', ts) AS day, event_type,
             row_number() OVER (
               PARTITION BY user_id, date_trunc('day', ts)
               ORDER BY ts, event_id) AS rn
      FROM events
    ),
    paths AS (
      SELECT user_id, day,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM ordered WHERE rn <= {_PATH_LEN}
      GROUP BY user_id, day
    )
    SELECT path, COUNT(*) AS n_journeys
    FROM paths
    GROUP BY path
    ORDER BY n_journeys DESC, path
    LIMIT {_PATH_TOPN}
    """,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys: the first {k} event types of each (user, day)
    concatenated into a path ('view>view>purchase'), counted across the
    corpus — the Sankey/flow source query of product analytics. Ties in
    the event order break on event_id so the path strings are
    deterministic.

    Scale: one (user, day) window for the ordering, one group-by for
    the path build (both on the same uniform composite key), then a
    bounded-cardinality path count finished by TakeOrderedAndProject.
    """.format(k=_PATH_LEN)
    e = load(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts")
    )
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    ordered = e.select(
        "user_id", "day", "event_type",
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") <= _PATH_LEN)
    paths = ordered.groupBy("user_id", "day").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_journeys"))
        .orderBy(F.col("n_journeys").desc(), "path")
        .limit(_PATH_TOPN)
    )


# -------------------------------------------------- trend movers


@query(
    "events_trend_movers",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, day, cnt,
             row_number() OVER (PARTITION BY day
                                ORDER BY cnt DESC, event_type) AS rnk
      FROM daily
    )
    SELECT event_type, strftime(day, '{DUCK_TS_FMT}') AS day, cnt, rnk,
           rnk - lag(rnk) OVER (PARTITION BY event_type ORDER BY day)
             AS rank_delta
    FROM ranked
    ORDER BY event_type, day
    """,
)
def events_trend_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day popularity movers: rank event types within each day
    by volume, then diff each type's rank against its previous day
    (negative delta = climbing) — the "movers & shakers" trending query.
    Rank ties break on the type name; all integers, no float anywhere.

    Scale: the daily aggregate is tiny (types x days); both windows run
    over it, not over raw events — the raw scan reduces map-side first.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("cnt"))
    w_day = Window.partitionBy("day").orderBy(
        F.col("cnt").desc(), "event_type"
    )
    w_type = Window.partitionBy("event_type").orderBy("day")
    ranked = daily.select(
        "event_type", "day", "cnt",
        F.row_number().over(w_day).alias("rnk"),
    )
    return ranked.select(
        "event_type",
        F.date_format("day", SPARK_TS_FMT).alias("day"),
        "cnt",
        "rnk",
        (F.col("rnk") - F.lag("rnk").over(w_type)).alias("rank_delta"),
    ).orderBy("event_type", "day")
