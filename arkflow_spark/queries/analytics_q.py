"""Product/stream-analytics operators over `events` and `orders`: EWMA
smoothing, rolling z-score anomaly detection, SCD2 history build, funnel
conversion, and retention cohorts.

The reference is a stream-analytics engine; these are the standing queries
its users run downstream of ingestion (smoothing/anomaly on metric
streams, funnel/retention on product events, slowly-changing-dimension
maintenance on CDC output). All are single-partitioning window/agg
plans — one shuffle on the entity key, reused across the stages — with
exact-decimal accumulators wherever a statistic must hash cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.functions import copurchase
from arkflow_spark.queries.base import (
    DUCK_TS_FMT,
    SPARK_TS_FMT,
    quantize,
    query,
)
from arkflow_spark.tables import load


# ------------------------------------------------------------------- EWMA


@query(
    "events_ewma",
    oracle=f"""
    WITH o AS (
      SELECT user_id, ts, value,
             lag(value, 1) OVER w AS l1,
             lag(value, 2) OVER w AS l2,
             lag(value, 3) OVER w AS l3
      FROM events WHERE user_id < 20
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, strftime(ts, '{DUCK_TS_FMT}') AS ts, value,
           floor(
             (((value + coalesce(0.5 * l1, 0)) + coalesce(0.25 * l2, 0))
               + coalesce(0.125 * l3, 0))
             / (((1.0 + CASE WHEN l1 IS NULL THEN 0 ELSE 0.5 END)
               + CASE WHEN l2 IS NULL THEN 0 ELSE 0.25 END)
               + CASE WHEN l3 IS NULL THEN 0 ELSE 0.125 END)
             * 10000 + 0.5) / 10000 AS ewma
    FROM o ORDER BY user_id, ts, value
    """,
)
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha = 0.5) over each
    user's metric stream — the standard smoothing pass before alerting.

    EWMA is a linear recurrence, so the exact infinite-history form cannot
    be a distributed window; the standing-practice truncation (weights
    below 2^-k are noise) makes it a fixed set of LAGs — pure window
    arithmetic, one shuffle on the key, identical op order in both
    engines. Streaming twin: a transformWithState accumulator carrying
    one float per key."""
    e = load(spark, sf_dir, "events").where(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    l1, l2, l3 = (F.lag("value", k).over(w) for k in (1, 2, 3))
    num = (
        (F.col("value") + F.coalesce(0.5 * l1, F.lit(0)))
        + F.coalesce(0.25 * l2, F.lit(0))
    ) + F.coalesce(0.125 * l3, F.lit(0))
    den = (
        (
            F.lit(1.0)
            + F.when(l1.isNull(), 0.0).otherwise(0.5)
        )
        + F.when(l2.isNull(), 0.0).otherwise(0.25)
    ) + F.when(l3.isNull(), 0.0).otherwise(0.125)
    return (
        e.select(
            "user_id",
            F.date_format("ts", SPARK_TS_FMT).alias("ts"),
            "value",
            quantize(num / den, 4).alias("ewma"),
        )
        .orderBy("user_id", "ts", "value")
    )


# ------------------------------------------------------- rolling z-score


@query(
    "events_anomaly_zscore",
    oracle=f"""
    WITH s AS (
      SELECT user_id, ts, event_id, value,
             count(value) OVER w AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s1,
             CAST(SUM(CAST(value * value AS DECIMAL(28,10))) OVER w
                  AS DOUBLE) AS s2
      FROM events WHERE user_id < 20
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    ),
    z AS (
      SELECT user_id, ts, value, n,
             CASE WHEN n >= 5 AND (s2 - s1 * s1 / n) / (n - 1) > 1e-9
               THEN (value - s1 / n)
                    / sqrt((s2 - s1 * s1 / n) / (n - 1))
             END AS zs
      FROM s
    )
    SELECT user_id, strftime(ts, '{DUCK_TS_FMT}') AS ts, value, n,
           floor(zs * 10000 + 0.5) / 10000 AS zscore,
           coalesce(abs(zs) > 3, FALSE) AS is_anomaly
    FROM z ORDER BY user_id, ts, value
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flag: each value scored against the mean/
    stddev of its user's previous 20 observations (current row excluded —
    an outlier must not suppress its own score).

    Determinism across engines: the rolling sums are exact decimals
    (sum and sum-of-squares), so mean/variance/z are identical doubles;
    the double->decimal cast is tie-free (no finite binary double ends in
    an exact decimal .5 at the 10th place). Variance guarded > 1e-9
    against cancellation noise; warm-up (n < 5) scores NULL."""
    e = load(spark, sf_dir, "events").where(F.col("user_id") < 20)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    n = F.count("value").over(w)
    s1 = F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double")
    s2 = (
        F.sum((F.col("value") * F.col("value")).cast("decimal(28,10)"))
        .over(w)
        .cast("double")
    )
    s = e.select(
        "user_id", "ts", "value",
        n.alias("n"), s1.alias("s1"), s2.alias("s2"),
    )
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (
        F.col("n") - 1
    )
    zs = F.when(
        (F.col("n") >= 5) & (var > 1e-9),
        (F.col("value") - F.col("s1") / F.col("n")) / F.sqrt(var),
    )
    return (
        s.select(
            "user_id",
            F.date_format("ts", SPARK_TS_FMT).alias("ts"),
            "value",
            "n",
            quantize(zs, 4).alias("zscore"),
            F.coalesce(F.abs(zs) > 3, F.lit(False)).alias("is_anomaly"),
        )
        .orderBy("user_id", "ts", "value")
    )


# ------------------------------------------------------------ SCD2 build


@query(
    "orders_scd2_history",
    oracle=f"""
    WITH o AS (
      SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
             lag(o_orderstatus) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS prev_status
      FROM orders WHERE o_custkey < 100
    ),
    changes AS (
      SELECT o_custkey, o_orderstatus, o_orderdate AS valid_from
      FROM o
      WHERE prev_status IS NULL OR o_orderstatus <> prev_status
    )
    SELECT o_custkey, o_orderstatus,
           strftime(valid_from, '{DUCK_TS_FMT}') AS valid_from,
           strftime(lead(valid_from) OVER (PARTITION BY o_custkey
             ORDER BY valid_from) - INTERVAL 1 SECOND, '{DUCK_TS_FMT}')
             AS valid_to,
           (lead(valid_from) OVER (PARTITION BY o_custkey
             ORDER BY valid_from) IS NULL) AS is_current
    FROM changes ORDER BY o_custkey, valid_from
    """,
)
def orders_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history build from a change
    stream: collapse consecutive equal statuses per customer, emit
    [valid_from, valid_to) intervals with an is_current flag — what a CDC
    consumer (debezium codec upstream) materializes into a warehouse dim.

    Two window passes over the SAME (o_custkey, date) partitioning — the
    second sort reuses the first's shuffle, so the whole build is one
    exchange at any scale."""
    o = load(spark, sf_dir, "orders").where(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changes = (
        o.withColumn("prev_status", F.lag("o_orderstatus").over(w))
        .where(
            F.col("prev_status").isNull()
            | (F.col("o_orderstatus") != F.col("prev_status"))
        )
        .select(
            "o_custkey",
            "o_orderstatus",
            F.col("o_orderdate").alias("valid_from"),
        )
    )
    w2 = Window.partitionBy("o_custkey").orderBy("valid_from")
    nxt = F.lead("valid_from").over(w2)
    return (
        changes.select(
            "o_custkey",
            "o_orderstatus",
            F.date_format("valid_from", SPARK_TS_FMT).alias("valid_from"),
            F.date_format(
                nxt - F.expr("interval 1 second"), SPARK_TS_FMT
            ).alias("valid_to"),
            nxt.isNull().alias("is_current"),
        )
        .orderBy("o_custkey", "valid_from")
    )


# ---------------------------------------------------------------- funnel


@query(
    "events_funnel",
    oracle="""
    WITH t1 AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    t2 AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN t1 ON e.user_id = t1.user_id
      WHERE e.event_type = 'click' AND e.ts > t1.t_view
      GROUP BY e.user_id
    ),
    t3 AS (
      SELECT e.user_id, min(e.ts) AS t_buy
      FROM events e JOIN t2 ON e.user_id = t2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > t2.t_click
      GROUP BY e.user_id
    )
    SELECT (SELECT count(DISTINCT user_id) FROM events) AS n_users,
           (SELECT count(*) FROM t1) AS n_view,
           (SELECT count(*) FROM t2) AS n_view_click,
           (SELECT count(*) FROM t3) AS n_view_click_buy
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion (view -> click -> purchase): each stage
    counts users whose stage event strictly follows their previous stage's
    first occurrence — the sessionized product-analytics staple.

    Three aggregations all partitioned on user_id: one shuffle
    establishes the partitioning and every later stage reuses it (the
    stage tables are per-user singletons, orders of magnitude smaller
    than the event stream)."""
    e = load(spark, sf_dir, "events")
    # each stage table feeds the NEXT stage and its own count branch —
    # persist the per-user singletons so each stage filter scans the
    # raw stream once
    t1 = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
        .persist()
    )
    t2 = (
        e.where(F.col("event_type") == "click")
        .join(t1, "user_id")
        .where(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
        .persist()
    )
    t3 = (
        e.where(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .where(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_buy"))
    )
    return (
        e.agg(F.countDistinct("user_id").alias("n_users"))
        .crossJoin(t1.agg(F.count("*").alias("n_view")))
        .crossJoin(t2.agg(F.count("*").alias("n_view_click")))
        .crossJoin(t3.agg(F.count("*").alias("n_view_click_buy")))
    )


# ------------------------------------------------------- retention cohort


@query(
    "events_retention_cohort",
    oracle="""
    WITH first_day AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             datediff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
      FROM events e JOIN first_day f ON e.user_id = f.user_id
    ),
    sizes AS (
      SELECT cohort_day, count(*) AS cohort_size
      FROM first_day GROUP BY cohort_day
    )
    SELECT CAST(a.cohort_day AS VARCHAR) AS cohort_day, a.day_offset,
           count(*) AS n_active, min(s.cohort_size) AS cohort_size,
           floor(count(*) * 1.0 / min(s.cohort_size) * 10000 + 0.5) / 10000
             AS retention
    FROM activity a JOIN sizes s ON a.cohort_day = s.cohort_day
    WHERE a.day_offset <= 7
    GROUP BY a.cohort_day, a.day_offset
    ORDER BY a.cohort_day, a.day_offset
    """,
)
def events_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily retention cohorts: users grouped by first-seen day, activity
    counted per day-offset (0..7), retention = active / cohort size.

    One user_id shuffle derives cohorts; the distinct-activity and final
    aggregations are map-side-combinable counts. The cohort-size table is
    date-cardinality (tiny forever) and broadcasts."""
    e = load(spark, sf_dir, "events")
    first_day = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("cohort_day")
    )
    activity = (
        e.join(first_day, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("ts").cast("date"), F.col("cohort_day")).alias(
                "day_offset"
            ),
        )
        .distinct()
    )
    sizes = first_day.groupBy("cohort_day").agg(
        F.count("*").alias("cohort_size")
    )
    return (
        activity.where(F.col("day_offset") <= 7)
        .join(F.broadcast(sizes), "cohort_day")
        .groupBy("cohort_day", "day_offset")
        .agg(
            F.count("*").alias("n_active"),
            F.min("cohort_size").alias("cohort_size"),
        )
        .select(
            F.col("cohort_day").cast("string").alias("cohort_day"),
            "day_offset",
            "n_active",
            "cohort_size",
            quantize(F.col("n_active") * 1.0 / F.col("cohort_size"), 4).alias(
                "retention"
            ),
        )
        .orderBy("cohort_day", "day_offset")
    )


# -------------------------------------------------------- SCD1 merge/upsert


@query(
    "orders_merge_upsert",
    oracle=f"""
    WITH latest AS (
      SELECT *, row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    ),
    base AS (
      SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice, o_orderdate
      FROM (
        SELECT *, row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'
      ) WHERE rn = 1
    ),
    delta AS (
      SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice, o_orderdate
      FROM (
        SELECT *, row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01'
      ) WHERE rn = 1
    )
    SELECT coalesce(d.o_custkey, b.o_custkey) AS custkey,
           coalesce(d.o_orderkey, b.o_orderkey) AS last_orderkey,
           coalesce(d.o_orderstatus, b.o_orderstatus) AS last_status,
           coalesce(d.o_totalprice, b.o_totalprice) AS last_price,
           strftime(coalesce(d.o_orderdate, b.o_orderdate),
                    '{DUCK_TS_FMT}') AS last_date,
           CASE WHEN d.o_custkey IS NULL THEN 'unchanged'
                WHEN b.o_custkey IS NULL THEN 'inserted'
                ELSE 'updated' END AS merge_action
    FROM base b FULL OUTER JOIN delta d ON b.o_custkey = d.o_custkey
    ORDER BY custkey
    """,
)
def orders_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-1 (latest-wins) CDC merge: compact a base snapshot and an
    incoming delta batch to one current row per key — the MERGE INTO /
    upsert-compaction a Debezium-fed warehouse runs every batch.

    Both sides dedup to latest-per-key with the SAME (o_custkey)
    partitioning the merge join then reuses, so the whole merge is one
    logical co-partitioning; the delta side is typically a small fraction
    of the base and AQE broadcast-joins it. merge_action classifies each
    output row (inserted / updated / unchanged) — the audit column a CDC
    apply job emits."""
    o = load(spark, sf_dir, "orders")
    split = F.lit("1999-01-01").cast("timestamp")

    def latest(df):
        w = Window.partitionBy("o_custkey").orderBy(
            F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
        )
        return (
            df.withColumn("rn", F.row_number().over(w))
            .where("rn = 1")
            .select(
                "o_custkey", "o_orderkey", "o_orderstatus",
                "o_totalprice", "o_orderdate",
            )
        )

    base = latest(o.where(F.col("o_orderdate") < split))
    delta = latest(o.where(F.col("o_orderdate") >= split))
    d, b = delta.alias("d"), base.alias("b")
    j = b.join(d, F.col("b.o_custkey") == F.col("d.o_custkey"), "full_outer")
    return j.select(
        F.coalesce("d.o_custkey", "b.o_custkey").alias("custkey"),
        F.coalesce("d.o_orderkey", "b.o_orderkey").alias("last_orderkey"),
        F.coalesce("d.o_orderstatus", "b.o_orderstatus").alias("last_status"),
        F.coalesce("d.o_totalprice", "b.o_totalprice").alias("last_price"),
        F.date_format(
            F.coalesce("d.o_orderdate", "b.o_orderdate"), SPARK_TS_FMT
        ).alias("last_date"),
        F.when(F.col("d.o_custkey").isNull(), "unchanged")
        .when(F.col("b.o_custkey").isNull(), "inserted")
        .otherwise("updated")
        .alias("merge_action"),
    ).orderBy("custkey")


# --------------------------------------------------------------- histogram


@query(
    "events_value_histogram",
    oracle="""
    WITH b AS (
      SELECT event_type, min(value) AS lo, max(value) AS hi, count(*) AS n
      FROM events GROUP BY event_type
    ),
    binned AS (
      SELECT e.event_type,
             CAST(least(19, greatest(0, floor(
               (e.value - b.lo) / ((b.hi - b.lo) / 20)))) AS INTEGER)
               AS bin,
             b.lo, b.hi, b.n
      FROM events e JOIN b USING (event_type)
      WHERE b.hi > b.lo
    )
    SELECT event_type, bin,
           floor((lo + bin * ((hi - lo) / 20)) * 10000 + 0.5) / 10000
             AS bin_lo,
           count(*) AS cnt,
           floor(count(*) * 1.0 / n * 10000 + 0.5) / 10000 AS frac
    FROM binned
    GROUP BY event_type, bin, lo, hi, n
    ORDER BY event_type, bin
    """,
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bin histogram per series (the `width_bucket` /
    Postgres histogram shape, data-driven bounds): pass 1 computes
    per-series min/max/count, pass 2 bins every value against the
    broadcast bounds — two shuffles, both map-side combinable, no sort.

    Determinism: bin index is floor of a double ratio computed from the
    same exact min/max in both engines; edge values clamp into [0, 19]
    (the hi value itself lands in the last bin, as width_bucket does).
    Bin edges and fractions are floor-rounded to 4 decimals.

    At 100 TB this is the canonical NDV-cheap profiling pass: bounds from
    the first aggregate (or from table statistics for free), a narrow
    binning projection, and a (series, bin)-keyed count whose cardinality
    is series x 20 regardless of input size.
    """
    e = load(spark, sf_dir, "events")
    b = e.groupBy("event_type").agg(
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.count("*").alias("n"),
    )
    width = (F.col("lo") + F.col("bin") * ((F.col("hi") - F.col("lo")) / 20))
    binned = (
        e.join(F.broadcast(b), "event_type")
        .filter(F.col("hi") > F.col("lo"))
        .select(
            "event_type",
            "lo",
            "hi",
            "n",
            F.least(
                F.lit(19),
                F.greatest(
                    F.lit(0),
                    F.floor(
                        (F.col("value") - F.col("lo"))
                        / ((F.col("hi") - F.col("lo")) / 20)
                    ),
                ),
            )
            .cast("int")
            .alias("bin"),
        )
    )
    return (
        binned.groupBy("event_type", "bin", "lo", "hi", "n")
        .agg(F.count("*").alias("cnt"))
        .select(
            "event_type",
            "bin",
            quantize(width, 4).alias("bin_lo"),
            "cnt",
            quantize(F.col("cnt") * 1.0 / F.col("n"), 4).alias("frac"),
        )
        .orderBy("event_type", "bin")
    )


# ------------------------------------------------------------ changepoints


@query(
    "events_changepoint_score",
    oracle=f"""
    WITH s AS (
      SELECT event_type, ts, event_id, value,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING) AS DOUBLE)
               AS sum_before,
             COUNT(*) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING) AS n_before,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS DOUBLE)
               AS sum_after,
             COUNT(*) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS n_after
      FROM events
    ),
    scored AS (
      SELECT event_type, ts, event_id,
             floor(abs(sum_after / n_after - sum_before / n_before)
                   * 10000 + 0.5) / 10000 AS shift_score
      FROM s WHERE n_before = 8 AND n_after = 8
    )
    SELECT event_type, strftime(ts, '{DUCK_TS_FMT}') AS ts, shift_score,
           rnk
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY event_type
               ORDER BY shift_score DESC, ts, event_id) AS rnk
      FROM scored
    )
    WHERE rnk <= 5
    ORDER BY event_type, rnk
    """,
)
def events_changepoint_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-shift changepoint scoring: for every position in each
    series, compare the mean of the 8 samples before against the 8
    samples from here on; the top-5 largest window-mean shifts per series
    are the changepoint candidates (the two-window scan statistic —
    the window-arithmetic core of CUSUM/PELT-style detectors, which at
    scale run as this exact pre-scoring pass plus a driver-side refine
    on the tiny candidate set).

    One shuffle on the series key serves all four frame aggregates (same
    partitioning/ordering -> a single Window node); ranking on the
    floor-rounded score keeps cross-engine ordering identical; boundary
    positions (incomplete frames) are excluded exactly.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    before = w.rowsBetween(-8, -1)
    after = w.rowsBetween(0, 7)
    dsum = lambda fr: F.sum(F.col("value").cast("decimal(18,6)")).over(
        fr
    ).cast("double")
    s = e.select(
        "event_type",
        "ts",
        "event_id",
        dsum(before).alias("sum_before"),
        F.count("*").over(before).alias("n_before"),
        dsum(after).alias("sum_after"),
        F.count("*").over(after).alias("n_after"),
    ).filter((F.col("n_before") == 8) & (F.col("n_after") == 8))
    scored = s.select(
        "event_type",
        "ts",
        "event_id",
        quantize(
            F.abs(
                F.col("sum_after") / F.col("n_after")
                - F.col("sum_before") / F.col("n_before")
            ), 4
        ).alias("shift_score"),
    )
    rw = Window.partitionBy("event_type").orderBy(
        F.desc("shift_score"), F.asc("ts"), F.asc("event_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(rw))
        .filter(F.col("rnk") <= 5)
        .select(
            "event_type",
            F.date_format("ts", SPARK_TS_FMT).alias("ts"),
            "shift_score",
            "rnk",
        )
        .orderBy("event_type", "rnk")
    )


# --------------------------------------------------------------------- RFM


@query(
    "customer_rfm_segments",
    oracle="""
    WITH maxd AS (SELECT max(o_orderdate) AS d FROM orders),
    base AS (
      SELECT o_custkey,
             date_diff('day', max(o_orderdate), (SELECT d FROM maxd))
               AS recency_days,
             count(*) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT *,
             ntile(5) OVER (ORDER BY recency_days ASC, o_custkey) AS r,
             ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f,
             ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m
      FROM base
    )
    SELECT r, f, m,
           count(*) AS n_customers,
           CAST(SUM(CAST(monetary AS DECIMAL(18,6))) AS DOUBLE)
             AS segment_revenue
    FROM scored
    GROUP BY r, f, m
    ORDER BY r, f, m
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-customer recency (days since last
    order, against the corpus max date), frequency, and exact-decimal
    monetary value, each quintiled (deterministic o_custkey tie-break),
    rolled up to segment sizes and revenue.

    Scale notes: the customer aggregate is one shuffle; each quintile is
    an EXACT ntile computed scale-safely (functions/distributed_rank:
    range-partition on the sort key, per-partition rank, broadcast
    per-partition offsets, closed-form bucket from (row_number, n)) —
    bit-identical to the window ntile with no single-partition sort, so
    the plan survives any customer count. The max-date scalar rides
    along as a broadcast single-row aggregate.
    """
    from arkflow_spark.functions.distributed_rank import (
        N,
        RN,
        exact_ntile,
        with_global_order,
    )

    o = load(spark, sf_dir, "orders")
    maxd = o.agg(F.max("o_orderdate").alias("d"))
    base = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("monetary"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            "o_custkey",
            F.datediff(F.col("d"), F.col("last_order")).alias(
                "recency_days"
            ),
            "frequency",
            "monetary",
        )
    )
    scored = base
    for out, order in (
        ("r", [F.asc("recency_days"), F.asc("o_custkey")]),
        ("f", [F.desc("frequency"), F.asc("o_custkey")]),
        ("m", [F.desc("monetary"), F.asc("o_custkey")]),
    ):
        scored = (
            with_global_order(scored, order)
            .withColumn(out, exact_ntile(F.col(RN), F.col(N), 5))
            .drop(RN, N)
        )
    scored = scored.select("o_custkey", "monetary", "r", "f", "m")
    return (
        scored.groupBy("r", "f", "m")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.col("monetary").cast("decimal(18,6)"))
            .cast("double")
            .alias("segment_revenue"),
        )
        .orderBy("r", "f", "m")
    )


# -------------------------------------------------------- interval overlap


@query(
    "events_concurrency_sweep",
    oracle=f"""
    WITH iv AS (
      SELECT event_type, ts AS s, ts + INTERVAL 5 MINUTE AS e
      FROM events
    ),
    pts AS (
      SELECT event_type, s AS t, 1 AS d FROM iv
      UNION ALL
      SELECT event_type, e AS t, -1 AS d FROM iv
    ),
    swept AS (
      SELECT event_type, t,
             SUM(d) OVER (PARTITION BY event_type
                          ORDER BY t, d
                          ROWS UNBOUNDED PRECEDING) AS live
      FROM pts
    )
    SELECT event_type,
           strftime(date_trunc('hour', t), '{{fmt}}') AS bucket,
           CAST(max(live) AS BIGINT) AS peak_concurrency,
           count(*) AS n_points
    FROM swept
    GROUP BY event_type, date_trunc('hour', t)
    ORDER BY event_type, bucket
    """.replace("{fmt}", "%Y-%m-%d %H:%M:%S"),
)
def events_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap concurrency: treat each event as a 5-minute
    interval and compute peak concurrent intervals per (series, hour)
    with the classic +1/-1 boundary sweep — a running sum over boundary
    points, never an interval self-join (which is quadratic in overlap
    density). Ordering by (t, d) with d ascending puts the -1 end marker
    before the +1 start marker at an identical instant, so a
    back-to-back end+start does NOT double-count.

    One shuffle on the series key does the sweep; the hourly peak rollup
    re-aggregates the swept points. At 100 TB the sweep stays a single
    window pass — the same shape Postgres/kdb use for max-concurrent
    sessions — and the boundary fan-out is exactly 2x input rows.
    """
    e = load(spark, sf_dir, "events")
    iv = e.select(
        "event_type",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("e"),
    )
    pts = iv.select(
        "event_type", F.col("s").alias("t"), F.lit(1).alias("d")
    ).unionAll(
        iv.select(
            "event_type", F.col("e").alias("t"), F.lit(-1).alias("d")
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t", "d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    swept = pts.select(
        "event_type", "t", F.sum("d").over(w).alias("live")
    )
    return (
        swept.groupBy(
            "event_type", F.date_trunc("hour", "t").alias("h")
        )
        .agg(
            F.max("live").alias("peak_concurrency"),
            F.count("*").alias("n_points"),
        )
        .select(
            "event_type",
            F.date_format("h", SPARK_TS_FMT).alias("bucket"),
            "peak_concurrency",
            "n_points",
        )
        .orderBy("event_type", "bucket")
    )


# ------------------------------------------------------------ market basket


@query(
    "lineitem_copurchase_pairs",
    oracle="""
    WITH basket AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM basket),
    item AS (
      SELECT l_partkey, COUNT(*) AS n_item FROM basket GROUP BY l_partkey
    ),
    pair AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             COUNT(*) AS n_pair
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, n_pair,
           floor(n_pair * 1.0 * n.n_orders
                 / (ia.n_item * ib.n_item) * 10000 + 0.5) / 10000 AS lift,
           rnk
    FROM (
      SELECT *, row_number() OVER (
               ORDER BY n_pair DESC, part_a, part_b) AS rnk
      FROM pair
    ) p
    JOIN item ia ON ia.l_partkey = p.part_a
    JOIN item ib ON ib.l_partkey = p.part_b
    CROSS JOIN n
    WHERE rnk <= 20
    ORDER BY rnk
    """,
)
def lineitem_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: top-20 part pairs bought in the same
    order, with lift (= P(a,b) / (P(a)P(b))) from the item marginals —
    the a-priori first pass every recommender/affinity pipeline runs.

    The pair generation self-joins the DISTINCT (order, item) basket on
    the order key: fan-out is items-per-basket choose 2 (here <= 13 items
    -> <= 78 pairs per order), NEVER corpus-quadratic — basket size, not
    catalog size, bounds the explosion. Pair counts aggregate with
    map-side partials; the top-20 is TakeOrderedAndProject; marginals
    join broadcast onto 20 rows.
    """
    basket = copurchase.basket(spark, sf_dir).persist()
    n = basket.agg(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    item = basket.groupBy("l_partkey").agg(F.count("*").alias("n_item"))
    pair = copurchase.directed(spark, sf_dir).select(
        F.col("u").alias("part_a"),
        F.col("v").alias("part_b"),
        F.col("n").alias("n_pair"),
    )
    top = pair.orderBy(
        F.desc("n_pair"), F.asc("part_a"), F.asc("part_b")
    ).limit(20)
    # scale: top-k-bounded (window after limit 20)
    rw = Window.orderBy(F.desc("n_pair"), F.asc("part_a"), F.asc("part_b"))
    ia = item.select(
        F.col("l_partkey").alias("part_a"), F.col("n_item").alias("n_a")
    )
    ib = item.select(
        F.col("l_partkey").alias("part_b"), F.col("n_item").alias("n_b")
    )
    return (
        top.withColumn("rnk", F.row_number().over(rw))
        .join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "n_pair",
            quantize(
                F.col("n_pair")
                * 1.0
                * F.col("n_orders")
                / (F.col("n_a") * F.col("n_b")), 4
            ).alias("lift"),
            "rnk",
        )
        .orderBy("rnk")
    )


# ------------------------------------------------------- Markov transitions


@query(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ),
    t AS (
      SELECT prev, event_type AS next, COUNT(*) AS n
      FROM seq WHERE prev IS NOT NULL
      GROUP BY prev, next
    ),
    row_tot AS (SELECT prev, SUM(n) AS tot FROM t GROUP BY prev)
    SELECT t.prev, t.next, t.n,
           floor(t.n * 1.0 / r.tot * 10000 + 0.5) / 10000 AS p
    FROM t JOIN row_tot r ON r.prev = t.prev
    ORDER BY t.prev, t.next
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (the Sankey/user-journey source every product-analytics
    stack computes): one lag window on the user key, transition counts,
    and row-normalized probabilities.

    Two exchanges — the sequence window on user_id and the (prev, next)
    count (map-side combinable; the matrix is event-type², tiny at any
    corpus size). Row totals re-aggregate the matrix itself, so the
    normalization join is a broadcast of a #states-sized table.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    t = seq.groupBy(
        "prev", F.col("event_type").alias("next")
    ).agg(F.count("*").alias("n"))
    tot = t.groupBy("prev").agg(F.sum("n").alias("tot"))
    return (
        t.join(F.broadcast(tot), "prev")
        .select(
            "prev",
            "next",
            "n",
            quantize(F.col("n") * 1.0 / F.col("tot"), 4).alias("p"),
        )
        .orderBy("prev", "next")
    )
