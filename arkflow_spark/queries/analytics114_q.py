"""Round-6 batch 114: log-rank test, McNemar filter agreement,
daily growth accounting.

- `events_logrank_test` — the log-rank (Mantel-Cox) test comparing
  inter-purchase survival between the two id-hash experiment arms:
  observed vs expected events per arm at every pooled event time,
  hypergeometric variance, chi-square on 1 df. THE standard test for
  "did the treatment change time-to-repeat" — `events_survival_km`
  draws the curves, this says whether they differ.
- `documents_mcnemar_filters` — McNemar's paired test on two quality
  gates over the same documents (char-count gate vs word-count gate):
  the discordant-pair counts b/c and the continuity-corrected
  (|b-c|-1)^2/(b+c) statistic. Paired design — a chi-square on the
  2x2 would be wrong; this is the correct test for "do the two
  filters disagree systematically, and in which direction".
- `events_growth_accounting` — daily active-user growth accounting:
  DAU decomposed into new / retained / resurrected, churn counted
  against the previous day, and the quick ratio
  (new + resurrected) / churned. The standard growth decomposition —
  flat DAU can hide high-churn-high-acquisition treadmills that only
  this split exposes.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.functions.distributed_rank import with_global_order
from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ log-rank test


@query(
    "events_logrank_test",
    oracle="""
    WITH p AS (
      SELECT user_id, user_id % 2 AS arm, ts,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS nxt
      FROM events WHERE event_type = 'purchase'
    ),
    mx AS (SELECT MAX(ts) AS tmax FROM events),
    d AS (
      SELECT arm,
             CASE WHEN nxt IS NOT NULL
                  THEN date_diff('second', ts, nxt)
                  ELSE date_diff('second', ts, tmax) END AS dur,
             CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS obs
      FROM p CROSS JOIN mx
    ),
    tot AS (
      SELECT COUNT(*) FILTER (arm = 0) AS na,
             COUNT(*) FILTER (arm = 1) AS nb
      FROM d
    ),
    grp AS (
      SELECT dur,
             COUNT(*) FILTER (arm = 0) AS m0,
             COUNT(*) FILTER (arm = 1) AS m1,
             SUM(CASE WHEN arm = 0 THEN obs ELSE 0 END) AS d0,
             SUM(CASE WHEN arm = 1 THEN obs ELSE 0 END) AS d1
      FROM d GROUP BY dur
    ),
    risk AS (
      SELECT dur, d0, d1,
             t.na - COALESCE(SUM(m0) OVER (ORDER BY dur
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS r0,
             t.nb - COALESCE(SUM(m1) OVER (ORDER BY dur
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS r1
      FROM grp CROSS JOIN tot t
    ),
    terms AS (
      SELECT d0, d1, r0, r1, d0 + d1 AS dt, r0 + r1 AS rt,
             CAST((d0 + d1) * 1.0 * r0 / (r0 + r1)
                  AS DECIMAL(28,10)) AS e0,
             CAST(CASE WHEN r0 + r1 > 1 THEN
                    (d0 + d1) * 1.0 * r0 * r1
                    * (r0 + r1 - d0 - d1)
                    / ((r0 + r1) * 1.0 * (r0 + r1) * (r0 + r1 - 1))
                  ELSE 0 END AS DECIMAL(28,10)) AS v
      FROM risk WHERE d0 + d1 > 0
    ),
    s AS (
      SELECT CAST(SUM(d0) AS BIGINT) AS observed_a,
             CAST(SUM(e0) AS DOUBLE) AS expected_a,
             CAST(SUM(v) AS DOUBLE) AS variance
      FROM terms
    )
    SELECT CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
           observed_a,
           floor(expected_a * 10000 + 0.5) / 10000 AS expected_a,
           floor((observed_a - expected_a) / sqrt(variance)
                 * 10000 + 0.5) / 10000 AS z,
           floor((observed_a - expected_a) * (observed_a - expected_a)
                 / variance * 10000 + 0.5) / 10000 AS chi2,
           (observed_a - expected_a) * (observed_a - expected_a)
             / variance > 3.841459 AS reject_05
    FROM s CROSS JOIN tot t
    """,
)
def events_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test between the two id-hash arms (user_id % 2) on
    inter-purchase survival (the `events_survival_km` duration
    construction: gaps observed, horizon tail censored). At every
    pooled event time the test accumulates arm A's observed events
    against the hypergeometric expectation d_t r_A/r_t and variance
    d_t r_A r_B (r_t - d_t) / (r_t^2 (r_t - 1)); chi2 = (O-E)^2 / V on
    1 df, reject at 3.84. Under a null id-hash split this should
    accept — a rejection flags assignment bias, not treatment effect.

    Determinism + scale: at-risk counts are EXCLUSIVE distributed
    prefix sums over the per-arm duration-grid pivot
    (functions/distributed_rank — distinct durations scale with the
    corpus); every E/V term is quantized to DECIMAL(28,10) before the
    final exact sum, so the order-free aggregation matches the
    oracle's sequential one bit-for-bit.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = (
        e.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            (F.col("user_id") % 2).alias("arm"),
            "ts",
            F.lead("ts").over(w).alias("nxt"),
        )
    )
    mx = e.agg(F.max("ts").alias("tmax"))
    d = p.crossJoin(F.broadcast(mx)).select(
        "arm",
        F.when(
            F.col("nxt").isNotNull(),
            F.unix_timestamp("nxt") - F.unix_timestamp("ts"),
        )
        .otherwise(F.unix_timestamp("tmax") - F.unix_timestamp("ts"))
        .alias("dur"),
        F.when(F.col("nxt").isNotNull(), 1).otherwise(0).alias("obs"),
    )
    tot = d.agg(
        F.count(F.when(F.col("arm") == 0, 1)).alias("na"),
        F.count(F.when(F.col("arm") == 1, 1)).alias("nb"),
    )
    grp = d.groupBy("dur").agg(
        F.count(F.when(F.col("arm") == 0, 1)).alias("m0"),
        F.count(F.when(F.col("arm") == 1, 1)).alias("m1"),
        F.sum(F.when(F.col("arm") == 0, F.col("obs")).otherwise(0)).alias(
            "d0"
        ),
        F.sum(F.when(F.col("arm") == 1, F.col("obs")).otherwise(0)).alias(
            "d1"
        ),
    )
    risk = (
        with_global_order(
            grp,
            [F.asc("dur")],
            sums={"m0": F.col("m0"), "m1": F.col("m1")},
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "d0",
            "d1",
            # exclusive prefix: inclusive cum minus the row's own count
            (F.col("na") - (F.col("__cum_m0") - F.col("m0"))).alias("r0"),
            (F.col("nb") - (F.col("__cum_m1") - F.col("m1"))).alias("r1"),
        )
        .filter(F.col("d0") + F.col("d1") > 0)
    )
    dt = F.col("d0") + F.col("d1")
    rt = F.col("r0") + F.col("r1")
    e0 = (dt * 1.0 * F.col("r0") / rt).cast("decimal(28,10)")
    v = (
        F.when(
            rt > 1,
            dt * 1.0 * F.col("r0") * F.col("r1") * (rt - dt)
            / (rt * 1.0 * rt * (rt - 1)),
        )
        .otherwise(0.0)
        .cast("decimal(28,10)")
    )
    s = risk.select(
        F.col("d0"), e0.alias("e0"), v.alias("v")
    ).agg(
        F.sum("d0").cast("bigint").alias("observed_a"),
        F.sum("e0").cast("double").alias("expected_a"),
        F.sum("v").cast("double").alias("variance"),
    )
    diff = F.col("observed_a") - F.col("expected_a")
    chi2 = diff * diff / F.col("variance")
    return s.crossJoin(F.broadcast(tot)).select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        "observed_a",
        quantize(F.col("expected_a"), 4).alias("expected_a"),
        quantize(diff / F.sqrt(F.col("variance")), 4).alias("z"),
        quantize(chi2, 4).alias("chi2"),
        (chi2 > 3.841459).alias("reject_05"),
    )


# ------------------------------------------------ McNemar's test

_MC_CHARS_MIN = 500
_MC_WORDS_MIN = 100


@query(
    "documents_mcnemar_filters",
    oracle=rf"""
    WITH gates AS (
      SELECT n_chars >= {_MC_CHARS_MIN} AS ga,
             len(regexp_split_to_array(trim(text), '\s+'))
               >= {_MC_WORDS_MIN} AS gb
      FROM documents
    ),
    cells AS (
      SELECT COUNT(*) FILTER (ga AND gb) AS both_pass,
             COUNT(*) FILTER (ga AND NOT gb) AS only_chars,
             COUNT(*) FILTER (NOT ga AND gb) AS only_words,
             COUNT(*) FILTER (NOT ga AND NOT gb) AS both_fail
      FROM gates
    )
    SELECT CAST(both_pass AS BIGINT) AS both_pass,
           CAST(only_chars AS BIGINT) AS only_chars,
           CAST(only_words AS BIGINT) AS only_words,
           CAST(both_fail AS BIGINT) AS both_fail,
           floor((abs(only_chars - only_words) - 1)
                 * (abs(only_chars - only_words) - 1)
                 * 1.0 / (only_chars + only_words) * 10000 + 0.5)
             / 10000 AS mcnemar_chi2,
           (abs(only_chars - only_words) - 1)
             * (abs(only_chars - only_words) - 1)
             * 1.0 / (only_chars + only_words) > 3.841459 AS reject_05
    FROM cells
    """,
)
def documents_mcnemar_filters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """McNemar's test on two binary quality gates applied to the SAME
    documents (char-count >= {c} vs word-count >= {w}): only the
    discordant cells b (chars-only pass) and c (words-only pass) are
    informative, and the continuity-corrected (|b-c|-1)^2/(b+c)
    statistic tests whether the gates disagree SYSTEMATICALLY (one
    strictly more permissive) rather than symmetrically. The right
    test for comparing filters on paired data — an unpaired 2x2
    chi-square would double-count the concordant mass.

    Scale shape: one documents scan, four conditional counts, one row.
    """.format(c=_MC_CHARS_MIN, w=_MC_WORDS_MIN)
    d = load(spark, sf_dir, "documents")
    ga = F.col("n_chars") >= _MC_CHARS_MIN
    gb = (
        F.size(F.split(F.trim(F.col("text")), r"\s+")) >= _MC_WORDS_MIN
    )
    cells = d.select(ga.alias("ga"), gb.alias("gb")).agg(
        F.count(F.when(F.col("ga") & F.col("gb"), 1)).alias("both_pass"),
        F.count(F.when(F.col("ga") & ~F.col("gb"), 1)).alias(
            "only_chars"
        ),
        F.count(F.when(~F.col("ga") & F.col("gb"), 1)).alias(
            "only_words"
        ),
        F.count(F.when(~F.col("ga") & ~F.col("gb"), 1)).alias(
            "both_fail"
        ),
    )
    b, c = F.col("only_chars"), F.col("only_words")
    num = (F.abs(b - c) - 1) * (F.abs(b - c) - 1) * 1.0
    stat = num / (b + c)
    return cells.select(
        F.col("both_pass").cast("bigint").alias("both_pass"),
        b.cast("bigint").alias("only_chars"),
        c.cast("bigint").alias("only_words"),
        F.col("both_fail").cast("bigint").alias("both_fail"),
        quantize(stat, 4).alias("mcnemar_chi2"),
        (stat > 3.841459).alias("reject_05"),
    )


# ------------------------------------------------ growth accounting


@query(
    "events_growth_accounting",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ),
    first AS (SELECT user_id, MIN(d) AS d0 FROM ud GROUP BY user_id),
    today AS (
      SELECT ud.d, ud.user_id, f.d0,
             y.user_id IS NOT NULL AS active_yday
      FROM ud
      JOIN first f ON f.user_id = ud.user_id
      LEFT JOIN ud y ON y.user_id = ud.user_id AND y.d = ud.d - 1
    ),
    daily AS (
      SELECT d,
             COUNT(*) AS dau,
             COUNT(*) FILTER (d = d0) AS new_users,
             COUNT(*) FILTER (active_yday) AS retained,
             COUNT(*) FILTER (d > d0 AND NOT active_yday)
               AS resurrected
      FROM today GROUP BY d
    ),
    churn AS (
      SELECT d + 1 AS d, COUNT(*) AS active_prev
      FROM ud GROUP BY ud.d
    )
    SELECT strftime(dd.d, '%Y-%m-%d') AS day,
           CAST(dau AS BIGINT) AS dau,
           CAST(new_users AS BIGINT) AS new_users,
           CAST(retained AS BIGINT) AS retained,
           CAST(resurrected AS BIGINT) AS resurrected,
           CAST(COALESCE(c.active_prev, 0) - retained AS BIGINT)
             AS churned,
           CASE WHEN COALESCE(c.active_prev, 0) - retained > 0
                THEN floor((new_users + resurrected) * 1.0
                           / (COALESCE(c.active_prev, 0) - retained)
                           * 10000 + 0.5) / 10000
                END AS quick_ratio
    FROM daily dd LEFT JOIN churn c ON c.d = dd.d
    ORDER BY dd.d
    """,
)
def events_growth_accounting(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Daily growth accounting: DAU = new (first-ever day) + retained
    (also active yesterday) + resurrected (seen before, idle
    yesterday); churned(d) = active yesterday but not today; quick
    ratio = (new + resurrected) / churned (> 1 = growing engine, < 1
    = the treadmill). Days with zero churn report a NULL ratio. The
    decomposition behind every growth dashboard — flat DAU with a
    quick ratio near 1 is high-churn acquisition, invisible in
    `events_dau_mau_stickiness`.

    Scale shape: one distinct user-day rollup (map-side combinable),
    a min-day aggregate joined back on user, a self-join on
    (user, day-1) — all user-keyed hash joins — and a calendar-bounded
    daily output.
    """
    e = load(spark, sf_dir, "events")
    ud = e.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).distinct()
    first = ud.groupBy("user_id").agg(F.min("d").alias("d0"))
    y = ud.select(
        F.col("user_id").alias("y_user"),
        F.date_add(F.col("d"), 1).alias("y_next"),
    )
    today = (
        ud.join(first, "user_id")
        .join(
            y,
            (F.col("user_id") == F.col("y_user"))
            & (F.col("d") == F.col("y_next")),
            "left",
        )
        .select(
            "d",
            "d0",
            F.col("y_user").isNotNull().alias("active_yday"),
        )
    )
    daily = today.groupBy("d").agg(
        F.count("*").alias("dau"),
        F.count(F.when(F.col("d") == F.col("d0"), 1)).alias("new_users"),
        F.count(F.when(F.col("active_yday"), 1)).alias("retained"),
        F.count(
            F.when((F.col("d") > F.col("d0")) & ~F.col("active_yday"), 1)
        ).alias("resurrected"),
    )
    churn = ud.groupBy("d").agg(F.count("*").alias("active_prev")).select(
        F.date_add(F.col("d"), 1).alias("cd"), "active_prev"
    )
    j = daily.join(churn, daily.d == F.col("cd"), "left")
    churned = F.coalesce(F.col("active_prev"), F.lit(0)) - F.col(
        "retained"
    )
    return j.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("dau").cast("bigint").alias("dau"),
        F.col("new_users").cast("bigint").alias("new_users"),
        F.col("retained").cast("bigint").alias("retained"),
        F.col("resurrected").cast("bigint").alias("resurrected"),
        churned.cast("bigint").alias("churned"),
        F.when(
            churned > 0,
            quantize(
                (F.col("new_users") + F.col("resurrected")) * 1.0
                / churned, 4
            ),
        ).alias("quick_ratio"),
    ).orderBy("day")
