"""Time-series gap-fill operators over `events`: dense-grid resampling with
last-observation-carried-forward and linear interpolation.

The reference's stream surface (tumbling/sliding/session windows,
`date_bin`) covers *aggregation* over time; a metrics/IoT user also needs
the inverse — densifying an irregular series onto a regular grid and
filling the holes (Timescale `time_bucket_gapfill` + `locf()` /
`interpolate()`, InfluxDB `fill(previous)` / `fill(linear)`). Both are
expressed as pure DataFrame ops:

  1. resample: one `row_number` pass picks the latest observation per
     (key, bucket) — a single shuffle on (key, bucket);
  2. grid: per-key min/max bounds -> `explode(sequence(...))` — the
     fan-out is bounded by span/resolution, never by input rows, and is
     generated distributed (no driver-side ranges);
  3. fill: one window per key (`last(..., ignorenulls)` for LOCF; the
     prev/next pair for linear interpolation).

At 100 TB the plan keeps one partitioning — (user_id) — across steps 2-3;
step 1's (user_id, bucket) shuffle is the only extra exchange, and AQE
coalesces the small grid side. No Python, all WholeStageCodegen.
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

# Shared resample + dense-grid CTE prefix for the DuckDB oracles: latest
# event value per (user, hour), then a per-user hourly grid LEFT JOINed so
# empty buckets surface as NULL rows for the fill stage.
_ORACLE_GRID = """
    WITH e AS (SELECT * FROM events WHERE user_id < 8),
    hourly AS (
      SELECT user_id, h, value FROM (
        SELECT user_id, date_trunc('hour', ts) AS h, value,
               row_number() OVER (
                 PARTITION BY user_id, date_trunc('hour', ts)
                 ORDER BY ts DESC, event_id DESC) AS rn
        FROM e) WHERE rn = 1
    ),
    bounds AS (
      SELECT user_id, min(h) AS mn, max(h) AS mx FROM hourly GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
      FROM bounds
    ),
    j AS (
      SELECT g.user_id, g.h, hv.value
      FROM grid g LEFT JOIN hourly hv USING (user_id, h)
    )
"""


def _grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_ORACLE_GRID``: (user_id, h, value-or-null)."""
    e = load(spark, sf_dir, "events").where(F.col("user_id") < 8)
    h = F.date_trunc("hour", F.col("ts"))
    rn = F.row_number().over(
        Window.partitionBy("user_id", "h").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
    )
    hourly = (
        e.select("user_id", h.alias("h"), "value", "ts", "event_id")
        .withColumn("rn", rn)
        .where("rn = 1")
        .select("user_id", "h", "value")
    )
    bounds = hourly.groupBy("user_id").agg(
        F.min("h").alias("mn"), F.max("h").alias("mx")
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("mn", "mx", F.expr("interval 1 hour"))
        ).alias("h"),
    )
    return grid.join(hourly, ["user_id", "h"], "left")


@query(
    "events_gapfill_locf",
    oracle=_ORACLE_GRID
    + f"""
    SELECT user_id, strftime(h, '{DUCK_TS_FMT}') AS hour,
           ROUND(last_value(value IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
             AS value_locf,
           (value IS NULL) AS was_gap
    FROM j ORDER BY user_id, h
    """,
)
def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample + gap-fill with last-observation-carried-forward
    (Timescale ``locf()`` / InfluxDB ``fill(previous)``). Leading gaps
    (before the first observation) stay NULL, matching both."""
    j = _grid(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        F.date_format("h", SPARK_TS_FMT).alias("hour"),
        F.round(F.last("value", ignorenulls=True).over(w), 4).alias(
            "value_locf"
        ),
        F.col("value").isNull().alias("was_gap"),
    ).orderBy("user_id", "h")


@query(
    "events_gapfill_interpolate",
    oracle=_ORACLE_GRID
    + f""",
    f AS (
      SELECT user_id, h, value,
             last_value(value IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN value IS NOT NULL THEN h END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
             first_value(value IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY h
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN value IS NOT NULL THEN h END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY h
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
      FROM j
    )
    SELECT user_id, strftime(h, '{DUCK_TS_FMT}') AS hour,
           -- floor(x*1e4+0.5)/1e4 instead of ROUND: the interpolated
           -- doubles are bit-identical across engines (same op order), but
           -- ROUND tie-breaking on .00005 cases differs (HALF_UP vs
           -- half-even); floor has exactly one answer per double.
           floor(CASE
             WHEN value IS NOT NULL THEN value
             WHEN pv IS NULL THEN nv
             WHEN nv IS NULL THEN pv
             ELSE pv + (nv - pv) * ((epoch(h) - epoch(pt))
                                  / (epoch(nt) - epoch(pt)))
           END * 10000 + 0.5) / 10000 AS value_interp,
           (value IS NULL) AS was_gap
    FROM f ORDER BY user_id, h
    """,
)
def events_gapfill_interpolate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hourly resample + linear interpolation between the neighbouring
    observations (Timescale ``interpolate()`` / InfluxDB ``fill(linear)``).
    Edges (no prev / no next observation) fall back to the available side.

    Division order is identical in both engines, so the doubles agree
    bit-for-bit before the stabilizing ROUND(4)."""
    j = _grid(spark, sf_dir)
    wp = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_h = F.when(F.col("value").isNotNull(), F.col("h"))
    f = j.select(
        "user_id",
        "h",
        "value",
        F.last("value", ignorenulls=True).over(wp).alias("pv"),
        F.last(obs_h, ignorenulls=True).over(wp).alias("pt"),
        F.first("value", ignorenulls=True).over(wn).alias("nv"),
        F.first(obs_h, ignorenulls=True).over(wn).alias("nt"),
    )
    frac = (
        F.unix_timestamp("h") - F.unix_timestamp("pt")
    ) / (F.unix_timestamp("nt") - F.unix_timestamp("pt"))
    interp = (
        F.when(F.col("value").isNotNull(), F.col("value"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(F.col("pv") + (F.col("nv") - F.col("pv")) * frac)
    )
    return f.select(
        "user_id",
        F.date_format("h", SPARK_TS_FMT).alias("hour"),
        # deterministic round: see oracle comment (ROUND tie-breaks differ)
        quantize(interp, 4).alias("value_interp"),
        F.col("value").isNull().alias("was_gap"),
    ).orderBy("user_id", "h")


# ------------------------------------------------- multi-resolution rollup


_ROLLUP_ORACLE = f"""
    WITH m10 AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS b,
             count(*) AS n,
             SUM(CAST(value AS DECIMAL(18,6))) AS sv
      FROM events GROUP BY 1, 2
    ),
    h1 AS (
      SELECT event_type, (b // 3600) * 3600 AS b,
             SUM(n) AS n, SUM(sv) AS sv
      FROM m10 GROUP BY 1, 2
    ),
    d1 AS (
      SELECT event_type, (b // 86400) * 86400 AS b,
             SUM(n) AS n, SUM(sv) AS sv
      FROM h1 GROUP BY 1, 2
    )
    SELECT resolution, event_type,
           strftime(make_timestamp(b * 1000000), '{DUCK_TS_FMT}') AS bucket,
           CAST(n AS BIGINT) AS n,  -- SUM(BIGINT) is HUGEINT in DuckDB;
                                    -- pin to an Arrow-stable driver type
           CAST(sv AS DOUBLE) AS sum_value
    FROM (
      SELECT '10m' AS resolution, * FROM m10
      UNION ALL SELECT '1h', * FROM h1
      UNION ALL SELECT '1d', * FROM d1
    )
    ORDER BY resolution, event_type, bucket
"""


@query("events_multires_rollup", oracle=_ROLLUP_ORACLE)
def events_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical continuous-aggregate rollup (Timescale caggs /
    Influx downsampling tasks): 10-minute, hourly, and daily per-type
    count+sum materialized in ONE pass over the raw table.

    Each coarser level re-aggregates the next finer level, never the raw
    data — the 100 TB property: the raw scan happens once, the hourly
    level reads ~1/60th of it, the daily ~1/24th of that. Sums stay
    decimal across levels so re-aggregation is exact (a double sum-of-sums
    would drift from a direct group-by and break cross-engine hashing).
    Buckets are epoch-floored longs (date_bin semantics, UTC)."""
    e = load(spark, sf_dir, "events")
    # persist the finest level: Catalyst does NOT reuse the union branches'
    # identical aggregate subtrees (no ReusedExchange fires), so without
    # this each level would rescan raw — persisting makes the "one raw
    # pass" property real (at 100 TB: the materialized cagg table itself)
    m10 = e.groupBy(
        "event_type",
        (F.floor(F.unix_timestamp("ts") / 600) * 600).alias("b"),
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("sv"),
    ).persist()
    h1 = m10.groupBy(
        "event_type", (F.floor(F.col("b") / 3600) * 3600).alias("b")
    ).agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))
    d1 = h1.groupBy(
        "event_type", (F.floor(F.col("b") / 86400) * 86400).alias("b")
    ).agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))
    levels = (
        m10.select(F.lit("10m").alias("resolution"), "event_type", "b", "n", "sv")
        .unionAll(
            h1.select(F.lit("1h").alias("resolution"), "event_type", "b", "n", "sv")
        )
        .unionAll(
            d1.select(F.lit("1d").alias("resolution"), "event_type", "b", "n", "sv")
        )
    )
    return levels.select(
        "resolution",
        "event_type",
        F.date_format(F.timestamp_seconds("b"), SPARK_TS_FMT).alias("bucket"),
        "n",
        F.col("sv").cast("double").alias("sum_value"),
    ).orderBy("resolution", "event_type", "bucket")


# ------------------------------------------------------------------- OHLC


@query(
    "events_ohlc_bars",
    oracle=f"""
    SELECT event_type,
           strftime(date_trunc('hour', ts), '{DUCK_TS_FMT}') AS bucket,
           first(value ORDER BY ts, event_id) AS open,
           max(value) AS high,
           min(value) AS low,
           last(value ORDER BY ts, event_id) AS close,
           COUNT(*) AS volume,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type, date_trunc('hour', ts)
    ORDER BY event_type, bucket
    """,
)
def events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars per (series, hour) — the Timescale
    ``candlestick_agg`` / kdb bar-builder shape: open/close picked by a
    total (ts, event_id) order, high/low/volume plain aggregates.

    Spark expresses ordered-first/last as ``min_by``/``max_by`` over a
    (ts, event_id) struct — a single hash aggregate with map-side
    partials, one shuffle on (event_type, hour), no window/sort at all.
    That is the shape that survives 100 TB: bars re-aggregate from
    partials, so partition-local combines do nearly all the work.
    """
    e = load(spark, sf_dir, "events")
    okey = F.struct(F.col("ts"), F.col("event_id"))
    return (
        e.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("h")
        )
        .agg(
            F.min_by("value", okey).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", okey).alias("close"),
            F.count("*").alias("volume"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "event_type",
            F.date_format("h", SPARK_TS_FMT).alias("bucket"),
            "open",
            "high",
            "low",
            "close",
            "volume",
            "total_value",
        )
        .orderBy("event_type", "bucket")
    )


# ------------------------------------------------- PromQL-style counter rate


@query(
    "events_counter_rate",
    oracle=f"""
    WITH d AS (
      SELECT user_id, ts, value,
             lag(value) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS prev
      FROM events
    )
    SELECT user_id,
           strftime(date_trunc('hour', ts), '{DUCK_TS_FMT}') AS bucket,
           COUNT(*) AS n_samples,
           CAST(SUM(CAST(
             CASE WHEN prev IS NULL THEN 0
                  WHEN value >= prev THEN value - prev
                  ELSE value END AS DECIMAL(18,6))) AS DOUBLE) AS increase,
           CAST(SUM(CAST(
             CASE WHEN prev IS NULL THEN 0
                  WHEN value >= prev THEN value - prev
                  ELSE value END AS DECIMAL(18,6))) AS DOUBLE) / 3600
             AS rate_per_sec
    FROM d
    GROUP BY user_id, date_trunc('hour', ts)
    ORDER BY user_id, bucket
    """,
)
def events_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL-style ``increase()``/``rate()`` with counter-reset
    detection: per series (user_id), each sample's delta from the
    previous sample counts toward the bucket's increase; a negative
    delta means the counter reset, so the post-reset absolute value is
    the increase (Prometheus rate semantics). Exact-decimal accumulation
    so the hash matches cross-engine.

    Scale notes: one window pass partitioned on the series key computes
    the lags, then the hourly rollup re-shuffles on (series, bucket) —
    two exchanges total, the minimum for any ordered-delta metric. State
    never exceeds one previous sample per series, which is why the same
    recurrence runs as a streaming op (see streaming/state.py EWMA for
    the template).
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("value").over(w)
    inc = (
        F.when(prev.isNull(), F.lit(0.0))
        .when(F.col("value") >= prev, F.col("value") - prev)
        .otherwise(F.col("value"))
    )
    return (
        e.select("user_id", "ts", "value", inc.alias("__inc"))
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.count("*").alias("n_samples"),
            F.sum(F.col("__inc").cast("decimal(18,6)"))
            .cast("double")
            .alias("increase"),
            (
                F.sum(F.col("__inc").cast("decimal(18,6)")).cast("double")
                / 3600
            ).alias("rate_per_sec"),
        )
        .select(
            "user_id",
            F.date_format("h", SPARK_TS_FMT).alias("bucket"),
            "n_samples",
            "increase",
            "rate_per_sec",
        )
        .orderBy("user_id", "bucket")
    )
