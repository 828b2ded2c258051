"""Round-3 analytics batch: sequence-pattern matching (MATCH_RECOGNIZE
lite), theta-sketch set operations, Welch's t-test, reset-on-event running
sums, seasonal-baseline residuals, ABC/Pareto classification, equi-depth
histograms, and geometric/harmonic means.

These extend the standing-query surface a stream-analytics engine's users
run downstream of ingestion (the reference's SQL processor is the analog:
crates/arkflow-plugin/src/processor/sql.rs): funnel-style path regexes
(Flink/Trino MATCH_RECOGNIZE territory — Spark has no MATCH_RECOGNIZE, so
the per-key ordered event string + regex is the idiomatic rewrite),
sketch-algebra audience overlap (|A∩B| without re-reading raw keys),
two-sample significance testing, PromQL-style resetting counters,
same-hour seasonal baselines, and inventory ABC rollups.

Every statistic that must hash cross-engine goes through the exact-decimal
accumulators from queries.base (see that module's docstring); doubles are
compared after a deterministic floor-based 4-decimal quantization.
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


# -------------------------------------------------- sequence patterns


@query(
    "events_sequence_pattern",
    oracle="""
    WITH s AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS seq
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(seq) AS BIGINT) AS seq_len,
           CAST(len(regexp_extract_all(seq, 'vc*p')) AS BIGINT)
             AS n_view_to_purchase,
           CAST(len(regexp_extract_all(seq, 'ee+')) AS BIGINT)
             AS n_error_runs,
           CAST(strpos(seq, 'p') AS BIGINT) AS first_purchase_pos
    FROM s ORDER BY user_id
    """,
)
def events_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite: per-user ordered event-initial string, then
    regex pattern counts over it — path patterns (view -> clicks ->
    purchase funnels, error bursts) as one groupBy plus narrow regex
    projections. Spark has no MATCH_RECOGNIZE (Flink/Trino do); the
    scalable rewrite is exactly this: ONE shuffle to assemble each key's
    ordered sequence (collect_list + array_sort — sequence length is
    bounded by per-user activity, not corpus size), then pattern logic
    runs as JVM regex in whole-stage codegen. Non-overlapping greedy
    match semantics agree between Java regex and DuckDB's RE2.
    """
    e = load(spark, sf_dir, "events")
    seq = e.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("ts"),
                            F.col("event_id"),
                            F.substring("event_type", 1, 1).alias("ini"),
                        )
                    )
                ),
                lambda s: s["ini"],
            ),
            "",
        ).alias("seq")
    )
    return seq.select(
        "user_id",
        F.length("seq").cast("bigint").alias("seq_len"),
        F.regexp_count("seq", F.lit("vc*p"))
        .cast("bigint")
        .alias("n_view_to_purchase"),
        F.regexp_count("seq", F.lit("ee+"))
        .cast("bigint")
        .alias("n_error_runs"),
        F.instr("seq", "p").cast("bigint").alias("first_purchase_pos"),
    ).orderBy("user_id")


# -------------------------------------------------- sketch set algebra


@query(
    "agg_sketch_setops",
    oracle="""
    WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
         b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
    SELECT
      (SELECT COUNT(*) FROM a) AS exact_a,
      (SELECT COUNT(*) FROM b) AS exact_b,
      (SELECT COUNT(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b))
        AS exact_intersection,
      (SELECT COUNT(*) FROM (SELECT * FROM a UNION SELECT * FROM b))
        AS exact_union,
      (SELECT COUNT(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b))
        AS exact_difference,
      TRUE AS intersection_within_bound,
      TRUE AS union_within_bound,
      TRUE AS difference_within_bound,
      TRUE AS inclusion_exclusion_within_bound
    """,
)
def agg_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra (Spark 4 datasketches): audience overlap
    |A∩B|, |A∪B|, |A\\B| between two event cohorts computed on kilobyte
    sketches — the 100 TB shape for segment-overlap questions, where the
    raw-key INTERSECT would shuffle both full key sets. Also checks the
    classic inclusion-exclusion estimate (|A|+|B|-|A∪B|) against the
    native intersection sketch.

    Oracle contract (same pattern as `agg_sketches`): exact cohort
    arithmetic plus deterministic within-bound verdicts (5% of exact, or
    absolute slack 2 for the small intersection), so sketch drift is a
    driver hash mismatch, not an invisible approximation.
    """
    e = load(spark, sf_dir, "events")
    e.createOrReplaceTempView("ev_setops")
    return spark.sql(
        """
        WITH sk AS (
          SELECT
            theta_sketch_agg(CASE WHEN event_type = 'click'
                             THEN user_id END) AS sk_a,
            theta_sketch_agg(CASE WHEN event_type = 'purchase'
                             THEN user_id END) AS sk_b,
            COUNT(DISTINCT CASE WHEN event_type = 'click'
                           THEN user_id END) AS exact_a,
            COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                           THEN user_id END) AS exact_b
          FROM ev_setops
        ),
        ex AS (
          SELECT
            (SELECT COUNT(DISTINCT user_id) FROM ev_setops
             WHERE event_type = 'click'
               AND user_id IN (SELECT user_id FROM ev_setops
                               WHERE event_type = 'purchase'))
              AS exact_intersection,
            (SELECT COUNT(DISTINCT user_id) FROM ev_setops
             WHERE event_type IN ('click', 'purchase')) AS exact_union,
            (SELECT COUNT(DISTINCT user_id) FROM ev_setops
             WHERE event_type = 'click'
               AND user_id NOT IN (SELECT user_id FROM ev_setops
                                   WHERE event_type = 'purchase'))
              AS exact_difference
        ),
        est AS (
          SELECT exact_a, exact_b,
                 exact_intersection, exact_union, exact_difference,
                 theta_sketch_estimate(theta_intersection(sk_a, sk_b))
                   AS est_intersection,
                 theta_sketch_estimate(theta_union(sk_a, sk_b)) AS est_union,
                 theta_sketch_estimate(theta_difference(sk_a, sk_b))
                   AS est_difference,
                 theta_sketch_estimate(sk_a)
                   + theta_sketch_estimate(sk_b)
                   - theta_sketch_estimate(theta_union(sk_a, sk_b))
                   AS est_ie
          FROM sk CROSS JOIN ex
        )
        SELECT exact_a, exact_b, exact_intersection, exact_union,
               exact_difference,
               abs(est_intersection - exact_intersection)
                 <= greatest(2.0, 0.05 * exact_intersection)
                 AS intersection_within_bound,
               abs(est_union - exact_union)
                 <= greatest(2.0, 0.05 * exact_union)
                 AS union_within_bound,
               abs(est_difference - exact_difference)
                 <= greatest(2.0, 0.05 * exact_difference)
                 AS difference_within_bound,
               abs(est_ie - exact_intersection)
                 <= greatest(2.0, 0.05 * exact_intersection)
                 AS inclusion_exclusion_within_bound
        FROM est
        """
    )


# -------------------------------------------------- Welch's t-test


@query(
    "events_welch_ttest",
    oracle="""
    WITH g AS (
      SELECT event_type,
             COUNT(*) AS n1,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(value * value AS DECIMAL(24,6))) AS DOUBLE) AS q1
      FROM events GROUP BY event_type
    ),
    tot AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s,
             CAST(SUM(CAST(value * value AS DECIMAL(24,6))) AS DOUBLE) AS q
      FROM events
    ),
    m AS (
      SELECT event_type, n1, s1, q1,
             n - n1 AS n0, s - s1 AS s0, q - q1 AS q0
      FROM g CROSS JOIN tot
    ),
    v AS (
      SELECT event_type, n1, n0,
             s1 / n1 AS m1, s0 / n0 AS m0,
             (q1 - s1 * s1 / n1) / (n1 - 1) AS v1,
             (q0 - s0 * s0 / n0) / (n0 - 1) AS v0
      FROM m
    )
    SELECT event_type, n1 AS n_group,
           floor(m1 * 10000 + 0.5) / 10000 AS mean_group,
           floor(m0 * 10000 + 0.5) / 10000 AS mean_rest,
           floor((m1 - m0) / sqrt(v1 / n1 + v0 / n0)
                 * 10000 + 0.5) / 10000 AS t_stat,
           floor(pow(v1 / n1 + v0 / n0, 2)
                 / (pow(v1 / n1, 2) / (n1 - 1)
                    + pow(v0 / n0, 2) / (n0 - 1))
                 * 10000 + 0.5) / 10000 AS df_welch
    FROM v
    ORDER BY event_type
    """,
)
def events_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test, one event type vs the rest —
    the A/B significance readout every experimentation pipeline computes.
    All moments come from a SINGLE aggregation pass (exact decimal sums of
    value and value², map-side combinable); the "rest" cohort's moments
    are derived by subtracting group sums from broadcast global sums, so
    no second scan and no self-join. t and the Welch–Satterthwaite df are
    scalar double arithmetic over those exact sums — bit-identical across
    engines given the mirrored expression tree.
    """
    e = load(spark, sf_dir, "events")
    g = e.groupBy("event_type").agg(
        F.count("*").alias("n1"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("s1"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(24,6)"))
        .cast("double")
        .alias("q1"),
    )
    tot = e.agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("s"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(24,6)"))
        .cast("double")
        .alias("q"),
    )
    m = g.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n1",
        "s1",
        "q1",
        (F.col("n") - F.col("n1")).alias("n0"),
        (F.col("s") - F.col("s1")).alias("s0"),
        (F.col("q") - F.col("q1")).alias("q0"),
    )
    v = m.select(
        "event_type",
        "n1",
        "n0",
        (F.col("s1") / F.col("n1")).alias("m1"),
        (F.col("s0") / F.col("n0")).alias("m0"),
        ((F.col("q1") - F.col("s1") * F.col("s1") / F.col("n1"))
         / (F.col("n1") - 1)).alias("v1"),
        ((F.col("q0") - F.col("s0") * F.col("s0") / F.col("n0"))
         / (F.col("n0") - 1)).alias("v0"),
    )
    se2 = F.col("v1") / F.col("n1") + F.col("v0") / F.col("n0")
    return v.select(
        "event_type",
        F.col("n1").alias("n_group"),
        quantize(F.col("m1"), 4).alias("mean_group"),
        quantize(F.col("m0"), 4).alias("mean_rest"),
        quantize((F.col("m1") - F.col("m0")) / F.sqrt(se2), 4).alias("t_stat"),
        quantize(
            F.pow(se2, 2)
            / (
                F.pow(F.col("v1") / F.col("n1"), 2) / (F.col("n1") - 1)
                + F.pow(F.col("v0") / F.col("n0"), 2) / (F.col("n0") - 1)
            ), 4
        ).alias("df_welch"),
    ).orderBy("event_type")


# -------------------------------------------------- reset-on-event cumsum


@query(
    "events_running_reset_sum",
    oracle=f"""
    WITH seg AS (
      SELECT user_id, ts, event_id, event_type, value,
             COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS seg
      FROM events
    )
    SELECT user_id, strftime(ts, '{DUCK_TS_FMT}') AS ts, event_type, value,
           CAST(seg AS BIGINT) AS seg,
           CAST(SUM(CAST(value AS DECIMAL(18,6)))
             OVER (PARTITION BY user_id, seg ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DOUBLE) AS run_sum
    FROM seg
    ORDER BY user_id, ts, event_id
    """,
)
def events_running_reset_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum that RESETS after each 'purchase' event — the
    basket-accumulator / counter-reset window shape (PromQL counters,
    session spend). Two stacked windows over the SAME (user_id) partition
    key and sort order: the segment id is a running purchase count over
    the exclusive-preceding frame (a purchase closes its own segment),
    then the cumulative decimal sum restarts per (user, segment). One
    shuffle, one sort — Spark executes both windows in a single Window
    physical node chain without re-partitioning.
    """
    e = load(spark, sf_dir, "events")
    w_seg = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seg = F.coalesce(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).over(w_seg),
        F.lit(0),
    ).alias("seg")
    seg_df = e.select(
        "user_id", "ts", "event_id", "event_type", "value", seg
    )
    w_run = (
        Window.partitionBy("user_id", "seg")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return seg_df.select(
        "user_id",
        F.date_format("ts", SPARK_TS_FMT).alias("ts"),
        "event_type",
        "value",
        F.col("seg").cast("bigint").alias("seg"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w_run)
        .cast("double")
        .alias("run_sum"),
    ).orderBy("user_id", "ts", "event_id")


# -------------------------------------------------- seasonal residuals


@query(
    "events_seasonal_residual",
    oracle="""
    SELECT event_id, event_type,
           CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr, value,
           floor(sm * 10000 + 0.5) / 10000 AS seasonal_mean,
           floor((value - sm) * 10000 + 0.5) / 10000 AS residual
    FROM (
      SELECT event_id, event_type, ts, value,
             CAST(SUM(CAST(value AS DECIMAL(18,6)))
                  OVER (PARTITION BY event_type, EXTRACT(hour FROM ts))
                  AS DOUBLE)
               / COUNT(*) OVER (PARTITION BY event_type,
                                EXTRACT(hour FROM ts)) AS sm
      FROM events
    )
    ORDER BY event_id
    """,
)
def events_seasonal_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline residual: each event's value minus the mean of
    its (event_type, hour-of-day) cell — the same-hour seasonal-naive
    detrending step ahead of anomaly thresholds. One shuffle on the
    seasonal cell key; the baseline is an unordered window aggregate
    (exact decimal sum / count) so no join back is needed.
    """
    e = load(spark, sf_dir, "events")
    hr = F.hour("ts").cast("bigint")
    w = Window.partitionBy("event_type", hr)
    sm = (
        F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double")
        / F.count("*").over(w)
    )
    return e.select(
        "event_id",
        "event_type",
        hr.alias("hr"),
        "value",
        quantize(sm, 4).alias("seasonal_mean"),
        quantize(F.col("value") - sm, 4).alias("residual"),
    ).orderBy("event_id")


# -------------------------------------------------- ABC / Pareto


@query(
    "lineitem_abc_pareto",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
               AS rev
      FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
      SELECT l_partkey, rev,
             SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             SUM(rev) OVER () AS tot
      FROM rev
    ),
    classed AS (
      SELECT CASE WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.8
                  THEN 'A'
                  WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.95
                  THEN 'B'
                  ELSE 'C' END AS abc_class,
             rev, tot
      FROM ranked
    )
    SELECT abc_class,
           COUNT(*) AS n_parts,
           CAST(SUM(rev) AS DOUBLE) AS class_revenue,
           floor(CAST(SUM(rev) AS DOUBLE) / CAST(MAX(tot) AS DOUBLE)
                 * 10000 + 0.5) / 10000 AS revenue_share
    FROM classed
    GROUP BY abc_class
    ORDER BY abc_class
    """,
)
def lineitem_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto inventory classification: parts ranked by revenue,
    cumulative-share cut at 80% (A) and 95% (B). The cumulative revenue
    is a distributed prefix sum (functions/distributed_rank:
    range-partition on (revenue desc, partkey), per-partition running
    sums, broadcast per-partition offsets) — no single-partition sort,
    so the plan holds at any part-catalog size. Sums stay DECIMAL until
    the final share division, which ALSO makes the split local+offset
    sum bit-identical to a sequential running sum (decimal addition is
    associative), keeping the A/B boundary comparison engine-stable.
    """
    from arkflow_spark.functions.distributed_rank import with_global_order

    li = load(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,6)"
            )
        ).alias("rev")
    )
    ranked = with_global_order(
        rev,
        [F.desc("rev"), F.asc("l_partkey")],
        sums={"rev": F.col("rev")},
    ).select(
        "rev",
        F.col("__cum_rev").alias("cum"),
        F.col("__tot_rev").alias("tot"),
    )
    share = F.col("cum").cast("double") / F.col("tot").cast("double")
    classed = ranked.select(
        F.when(share <= 0.8, "A")
        .when(share <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
        "rev",
        "tot",
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("rev").cast("double").alias("class_revenue"),
            quantize(
                F.sum("rev").cast("double") / F.max("tot").cast("double"), 4
            ).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


# -------------------------------------------------- equi-depth histogram


@query(
    "events_histogram_equidepth",
    oracle="""
    SELECT event_type, CAST(quartile AS BIGINT) AS quartile,
           COUNT(*) AS n_points,
           MIN(value) AS lo, MAX(value) AS hi,
           floor(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*) * 10000 + 0.5) / 10000 AS mean_value
    FROM (
      SELECT event_type, value,
             ntile(4) OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS quartile
      FROM events
    )
    GROUP BY event_type, quartile
    ORDER BY event_type, quartile
    """,
)
def events_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile-binned) histogram per series: ntile(4) over
    the ordered values, then per-bin count/min/max/mean — the
    equal-population companion to the equi-width `events_value_histogram`.
    One shuffle on event_type (the ntile window), one map-side-combinable
    aggregation; the tie-break on event_id makes bin assignment exactly
    reproducible across engines.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    binned = e.select(
        "event_type", "value", F.ntile(4).over(w).alias("quartile")
    )
    return (
        binned.groupBy("event_type", F.col("quartile").cast("bigint").alias("quartile"))
        .agg(
            F.count("*").alias("n_points"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
            quantize(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count("*"), 4
            ).alias("mean_value"),
        )
        .orderBy("event_type", "quartile")
    )


# -------------------------------------------------- geometric/harmonic


@query(
    "agg_geo_harmonic_mean",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           floor(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
                 * 10000 + 0.5) / 10000 AS arith_mean,
           floor(exp(CAST(SUM(CAST(ln(value) AS DECIMAL(18,6))) AS DOUBLE)
                     / COUNT(*)) * 10000 + 0.5) / 10000 AS geo_mean,
           floor(COUNT(*)
                 / CAST(SUM(CAST(1.0 / value AS DECIMAL(18,6))) AS DOUBLE)
                 * 10000 + 0.5) / 10000 AS harm_mean
    FROM events
    WHERE value > 0
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def agg_geo_harmonic_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric and harmonic means per group (rate/ratio averaging —
    throughput, latency, index returns) via the log-sum and
    reciprocal-sum identities: single aggregation pass, exact decimal
    accumulators over ln(x) and 1/x so the reductions are
    order-independent, then one scalar exp/div per group. Non-positive
    values (undefined for both means) are gated before the log — the
    filter is pushed to the parquet scan.
    """
    e = load(spark, sf_dir, "events").filter(F.col("value") > 0)
    n = F.count("*")
    return (
        e.groupBy("event_type")
        .agg(
            n.alias("n"),
            quantize(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / n, 4
            ).alias("arith_mean"),
            quantize(
                F.exp(
                    F.sum(F.log(F.col("value")).cast("decimal(18,6)")).cast(
                        "double"
                    )
                    / n
                ), 4
            ).alias("geo_mean"),
            quantize(
                n
                / F.sum((F.lit(1.0) / F.col("value")).cast("decimal(18,6)")).cast(
                    "double"
                ), 4
            ).alias("harm_mean"),
        )
        .orderBy("event_type")
    )
