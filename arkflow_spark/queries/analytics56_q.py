"""Round-5 batch 56: inequality decomposition, exact multi-changepoint
segmentation, empirical-Bayes shrinkage.

- `lineitem_theil_decomposition` — Theil-T inequality of supplier
  revenue, decomposed EXACTLY into within-nation and between-nation
  components (T = sum_g s_g T_g + sum_g s_g ln(ybar_g/ybar)). Answers
  "is revenue concentration a global phenomenon or a within-market
  one" — the additive decomposition Gini cannot give.
- `events_segmentation_2cp_daily` — exact two-changepoint least-
  squares segmentation of each stream's daily volume: enumerate all
  (a, b) splits on the calendar-bounded day grid via prefix sums, pick
  the global SSE minimizer. The "when did the level change (twice)"
  answer with optimality guaranteed, not greedy
  (`events_changepoint_score` finds the single best split).
- `events_eb_shrinkage` — empirical-Bayes (James-Stein flavored)
  shrinkage of per-user mean values toward the global mean with a
  method-of-moments prior strength: the leaderboard fix that stops
  3-event users from topping "highest average value" rankings.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs); methods published
(Theil 1967; Bai-Perron-style exact segmentation; Efron-Morris 1975).
All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ Theil decomposition


@query(
    "lineitem_theil_decomposition",
    oracle="""
    WITH sup AS (
      SELECT l.l_suppkey AS sk, n.n_name AS nation,
             CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE) AS x
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS xx FROM sup
    ),
    g AS (
      SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_g, SUM(x) AS x_g,
             SUM(CASE WHEN x > 0 THEN x * ln(x) ELSE 0 END) AS sxlnx
      FROM sup GROUP BY nation
    )
    SELECT g.nation, g.n_g AS n_suppliers,
           floor(g.x_g / t.xx * 10000 + 0.5) / 10000 AS revenue_share,
           floor((g.sxlnx / g.x_g - ln(g.x_g / g.n_g))
                 * 10000 + 0.5) / 10000 AS theil_within,
           floor(g.x_g / t.xx * (g.sxlnx / g.x_g - ln(g.x_g / g.n_g))
                 * 10000 + 0.5) / 10000 AS within_contribution,
           floor(g.x_g / t.xx
                 * ln((g.x_g / g.n_g) / (t.xx / t.n))
                 * 10000 + 0.5) / 10000 AS between_contribution
    FROM g CROSS JOIN tot t
    ORDER BY g.nation
    """,
)
def lineitem_theil_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Theil-T inequality of per-supplier revenue with the exact
    within/between-nation decomposition: per nation, the internal
    Theil T_g = sum (x/X_g) ln(x / ybar_g), its revenue-share-weighted
    contribution s_g T_g, and the between term s_g ln(ybar_g / ybar).
    Summing the two contribution columns over nations reproduces total
    Theil exactly — the additivity that makes Theil the decomposition
    tool (Gini's overlap term is not interpretable).

    Determinism: supplier revenues are exact decimal sums cast once to
    double; logs of those exact ratios are bit-identical; group sums
    of doubles carry ~1e-12 relative reduction noise, under the
    quantum.

    Scale shape: lineitem rolls up by supplier key (map-side
    combinable, one shuffle), nation metadata joins broadcast, and all
    Theil arithmetic runs on the supplier-count-bounded table (then
    the nation-bounded one).
    """
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    sup = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("l_suppkey").alias("sk"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("decimal(18,6)")
            )
            .cast("double")
            .alias("x")
        )
    )
    tot = sup.agg(
        F.count("*").cast("bigint").alias("n"), F.sum("x").alias("xx")
    )
    gg = sup.groupBy("nation").agg(
        F.count("*").cast("bigint").alias("n_g"),
        F.sum("x").alias("x_g"),
        (
            F.sum(
                F.when(
                    F.col("x") > 0,
                    F.col("x") * F.log(F.col("x")),
                ).otherwise(0.0)
            )
        ).alias("sxlnx"),
    )
    # T_g = sum x ln(x / ybar_g) / X_g  with ybar_g = X_g / n_g
    t_g = (
        F.col("sxlnx") / F.col("x_g")
        - F.log(F.col("x_g") / F.col("n_g"))
    )
    share = F.col("x_g") / F.col("xx")
    return (
        gg.crossJoin(F.broadcast(tot))
        .select(
            "nation",
            F.col("n_g").alias("n_suppliers"),
            quantize(share, 4).alias("revenue_share"),
            quantize(t_g, 4).alias("theil_within"),
            quantize(share * t_g, 4).alias("within_contribution"),
            quantize(
                share
                * F.log(
                    (F.col("x_g") / F.col("n_g"))
                    / (F.col("xx") / F.col("n"))
                ), 4
            ).alias("between_contribution"),
        )
        .orderBy("nation")
    )


# ------------------------------------------------ 2-changepoint exact


@query(
    "events_segmentation_2cp_daily",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, c,
             row_number() OVER (PARTITION BY event_type ORDER BY d) AS t,
             CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY d
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS p,
             CAST(SUM(c * c) OVER (PARTITION BY event_type ORDER BY d
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS q
      FROM daily
    ),
    tt AS (
      SELECT event_type, CAST(MAX(t) AS BIGINT) AS tmax,
             MAX(p) AS ptot, MAX(q) AS qtot
      FROM idx GROUP BY event_type
    ),
    cand AS (
      SELECT a.event_type, a.t AS a, b.t AS b,
             t.tmax, t.ptot, t.qtot,
             a.p AS pa, a.q AS qa, b.p AS pb, b.q AS qb
      FROM idx a
      JOIN idx b ON b.event_type = a.event_type AND b.t > a.t
      JOIN tt t ON t.event_type = a.event_type
      WHERE b.t < t.tmax
    ),
    sse AS (
      SELECT event_type, a, b, tmax,
             (qa - pa * pa / a)
             + ((qb - qa) - (pb - pa) * (pb - pa) / (b - a))
             + ((qtot - qb) - (ptot - pb) * (ptot - pb) / (tmax - b))
               AS sse3,
             qtot - ptot * ptot / tmax AS sse1
      FROM cand
    ),
    best AS (
      SELECT event_type, a, b, tmax, sse3, sse1,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY sse3, a, b) AS rn
      FROM sse
    )
    SELECT event_type, tmax AS n_days,
           a AS break1_day, b AS break2_day,
           floor(sse3 * 10000 + 0.5) / 10000 AS sse_3seg,
           floor(sse1 * 10000 + 0.5) / 10000 AS sse_1seg,
           floor((1 - sse3 / sse1) * 10000 + 0.5) / 10000
             AS variance_explained
    FROM best WHERE rn = 1
    ORDER BY event_type
    """,
)
def events_segmentation_2cp_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact two-changepoint segmentation of each stream's daily
    volume: among all (a, b) break pairs, minimize the total
    within-segment SSE (piecewise-constant model), via per-stream
    prefix sums P_t, Q_t so each candidate costs O(1):
    SSE(i..j) = (Q_j - Q_i) - (P_j - P_i)^2/(j - i). Deterministic
    argmin tie-break (sse, a, b). variance_explained = 1 - SSE3/SSE1
    tells you whether the 3-segment story is real.

    Determinism: prefix sums are exact integers below 2^53 read
    through doubles, so every candidate SSE is bit-identical in both
    engines; the argmin ordering is therefore identical too.

    Scale shape: one (stream x day) rollup, prefix windows partitioned
    by stream over the CALENDAR-bounded day grid, then the O(days^2)
    candidate join — still calendar-bounded (a year = 66k candidates
    per stream), embarrassingly parallel, no DP loop.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.floor(F.unix_micros(F.col("ts")) / 86400000000.0)
        .cast("bigint")
        .alias("d"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    w = Window.partitionBy("event_type").orderBy("d")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    idx = daily.select(
        "event_type",
        F.row_number().over(w).alias("t"),
        F.sum("c").over(wc).cast("double").alias("p"),
        F.sum(F.col("c") * F.col("c")).over(wc).cast("double").alias("q"),
    )
    tt = (
        idx.groupBy("event_type")
        .agg(
            F.max("t").cast("bigint").alias("tmax"),
            F.max("p").alias("ptot"),
            F.max("q").alias("qtot"),
        )
        .withColumnRenamed("event_type", "etype_t")
    )
    a = idx.alias("a")
    b = idx.alias("b")
    cand = (
        a.join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.t") > F.col("a.t")),
        )
        .join(
            F.broadcast(tt),
            F.col("a.event_type") == F.col("etype_t"),
        )
        .filter(F.col("b.t") < F.col("tmax"))
        .select(
            F.col("a.event_type").alias("etype"),
            F.col("a.t").alias("ca"),
            F.col("b.t").alias("cb"),
            "tmax",
            "ptot",
            "qtot",
            F.col("a.p").alias("pa"),
            F.col("a.q").alias("qa"),
            F.col("b.p").alias("pb"),
            F.col("b.q").alias("qb"),
        )
    )
    sse3 = (
        (F.col("qa") - F.col("pa") * F.col("pa") / F.col("ca"))
        + (
            (F.col("qb") - F.col("qa"))
            - (F.col("pb") - F.col("pa"))
            * (F.col("pb") - F.col("pa"))
            / (F.col("cb") - F.col("ca"))
        )
        + (
            (F.col("qtot") - F.col("qb"))
            - (F.col("ptot") - F.col("pb"))
            * (F.col("ptot") - F.col("pb"))
            / (F.col("tmax") - F.col("cb"))
        )
    )
    sse1 = F.col("qtot") - F.col("ptot") * F.col("ptot") / F.col("tmax")
    scored = cand.select(
        "etype",
        "ca",
        "cb",
        "tmax",
        sse3.alias("sse3"),
        sse1.alias("sse1"),
    )
    wbest = Window.partitionBy("etype").orderBy("sse3", "ca", "cb")
    return (
        scored.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .select(
            F.col("etype").alias("event_type"),
            F.col("tmax").alias("n_days"),
            F.col("ca").alias("break1_day"),
            F.col("cb").alias("break2_day"),
            quantize(F.col("sse3"), 4).alias("sse_3seg"),
            quantize(F.col("sse1"), 4).alias("sse_1seg"),
            quantize(1 - F.col("sse3") / F.col("sse1"), 4).alias(
                "variance_explained"
            ),
        )
        .orderBy("event_type")
    )


# ------------------------------------------------ EB shrinkage


@query(
    "events_eb_shrinkage",
    oracle="""
    WITH u AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*) AS m,
             SUM(value * value) AS q,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn,
             CAST(COUNT(*) AS BIGINT) AS k,
             SUM(s) / SUM(n) AS mg,
             SUM(q - s * s / n) / (SUM(n) - COUNT(*)) AS var_within,
             CAST(SUM(n * n) AS DOUBLE) AS sum_n2,
             SUM(n * m) AS snm,
             SUM(n * m * m) AS snmm
      FROM u
    ),
    h AS (
      SELECT *,
             var_within
               / (((snmm - 2 * mg * snm + nn * mg * mg)
                   - (k - 1) * var_within)
                  / (nn - sum_n2 / nn)) AS alpha
      FROM g
    )
    SELECT u.user_id, u.n AS n_events,
           floor(u.m * 10000 + 0.5) / 10000 AS raw_mean,
           floor((u.n * u.m + h.alpha * h.mg) / (u.n + h.alpha)
                 * 10000 + 0.5) / 10000 AS shrunk_mean,
           floor(h.alpha * 10000 + 0.5) / 10000 AS alpha
    FROM u CROSS JOIN h
    ORDER BY u.n DESC, u.user_id LIMIT 20
    """,
)
def events_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-user mean values toward the
    grand mean: prior strength alpha = sigma2_within / tau2 with the
    one-way random-effects method-of-moments tau2 estimate
    (ss_between - (k-1) sigma2w) / (N - sum n_i^2 / N); each user's
    posterior mean is the precision-weighted blend
    (n m_u + alpha m_g) / (n + alpha). Top-20 heaviest users shown
    with raw vs shrunk — the leaderboard correction.

    Determinism: user means are exact-decimal-sum / count; the
    variance components are doubles with reduction noise far below
    the quantum; identical closed forms both engines.

    Scale shape: one user-keyed rollup (map-side combinable), a
    broadcast 1-row hyperparameter aggregate, and an orderBy+limit
    top-k (TakeOrderedAndProject). The shrinkage itself is per-row
    arithmetic — appliable to EVERY user in the same scan at 100 TB.
    """
    e = load(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n"),
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count("*")
        ).alias("m"),
        F.sum(F.col("value") * F.col("value")).alias("q"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("s"),
    )
    g = u.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.count("*").cast("bigint").alias("k"),
        (F.sum("s") / F.sum("n")).alias("mg"),
        (
            F.sum(F.col("q") - F.col("s") * F.col("s") / F.col("n"))
            / (F.sum("n") - F.count("*"))
        ).alias("var_within"),
        F.sum(F.col("n") * F.col("n")).cast("double").alias("sum_n2"),
        F.sum(F.col("n") * F.col("m")).alias("snm"),
        F.sum(F.col("n") * F.col("m") * F.col("m")).alias("snmm"),
    )
    # ss_between = sum n (m - mg)^2 = snmm - 2 mg snm + nn mg^2
    ssb = (
        F.col("snmm")
        - 2 * F.col("mg") * F.col("snm")
        + F.col("nn") * F.col("mg") * F.col("mg")
    )
    tau2 = (ssb - (F.col("k") - 1) * F.col("var_within")) / (
        F.col("nn") - F.col("sum_n2") / F.col("nn")
    )
    alpha = F.col("var_within") / tau2
    return (
        u.crossJoin(F.broadcast(g))
        .select(
            "user_id",
            F.col("n").alias("n_events"),
            quantize(F.col("m"), 4).alias("raw_mean"),
            quantize(
                (F.col("n") * F.col("m") + alpha * F.col("mg"))
                / (F.col("n") + alpha), 4
            ).alias("shrunk_mean"),
            quantize(alpha, 4).alias("alpha"),
        )
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(20)
    )
