"""Round-5 batch 51: the hypothesis-testing family — omnibus and paired
non-parametric tests plus multiple-testing control.

- `events_kruskal_wallis` — rank-based one-way ANOVA (Kruskal-Wallis H)
  across the event streams: does ANY stream's value distribution differ
  in location? The omnibus gate that runs before per-pair tests
  (`events_mann_whitney`) to control the fishing expedition.
- `events_levene_bf` — Brown-Forsythe variance-homogeneity test
  (Levene with group medians): the precondition check for pooled-
  variance methods, and an operational "did a stream's DISPERSION blow
  up" alarm that mean-based monitors miss.
- `events_jarque_bera` — normality screen per stream via skewness +
  excess kurtosis (JB = n/6 (g1^2 + g2^2/4)): tells you whether
  z-score-based alerting (`events_anomaly_zscore`) is even calibrated
  for this stream or whether quantile methods are required.
- `events_wilcoxon_signed_rank` — PAIRED location test: per user,
  mean click value vs mean view value; signed ranks of the differences
  with the normal approximation. The within-subject complement to the
  unpaired Mann-Whitney.
- `events_benjamini_hochberg` — multiple-testing control over the
  (stream x hour-of-day) grid: per-cell mean-vs-global z-tests produce
  120 p-values; BH step-up marks the discoveries at FDR 0.05. The
  difference between "36 cells look weird at p<0.05" and "these 7
  survive FDR control".

Reference scope: arkflow's SQL processor + aggregate surface
(crates/arkflow-plugin/src/processor/sql.rs); the tests themselves are
classical published statistics (Kruskal-Wallis 1952; Brown-Forsythe
1974; Jarque-Bera 1980; Wilcoxon 1945; Benjamini-Hochberg 1995).
All oracled vs DuckDB.

Determinism notes (house rules, base.py): every mean is exact-decimal
sum -> double divide (bit-identical across engines); rank orderings
carry a unique tie-break column; variance-family outputs quantize to 4
decimals. The one-sided normal tail uses the published closed
approximation p = exp(-0.717 z - 0.416 z^2) mirrored verbatim in both
engines (same trick as `events_ks_test`'s asymptotic p).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ Kruskal-Wallis H


@query(
    "events_kruskal_wallis",
    oracle="""
    WITH r AS (
      SELECT event_type,
             row_number() OVER (ORDER BY value, event_id) AS rn
      FROM events
    ),
    g AS (
      SELECT event_type, COUNT(*) AS n_i,
             CAST(SUM(rn) AS DOUBLE) AS s_i
      FROM r GROUP BY event_type
    ),
    t AS (
      SELECT CAST(SUM(n_i) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k,
             SUM(s_i * s_i / n_i) AS srr
      FROM g
    )
    SELECT n AS n_total, k AS k_groups,
           floor((12.0 / (n * (n + 1.0)) * srr - 3 * (n + 1.0))
                 * 10000 + 0.5) / 10000 AS h_stat,
           floor(((12.0 / (n * (n + 1.0)) * srr - 3 * (n + 1.0)) - k + 1)
                 / (n - k) * 10000 + 0.5) / 10000 AS epsilon_sq
    FROM t
    """,
)
def events_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis omnibus H over the event streams: rank every value
    globally (unique tie-break = event_id, so ranks are row_numbers —
    the operator is defined on the tie-broken ordering; value ties are
    measure-zero on this column), then H = 12/(N(N+1)) sum R_i^2/n_i
    - 3(N+1), plus the epsilon-squared effect size (H - k + 1)/(n - k).

    Scale shape: the global rank uses functions/distributed_rank (range
    partition + per-partition window + partition-count-bounded offsets
    — NO single-partition sort); per-group rank sums are exact BIGINTs
    cast to double only for the final 5-row arithmetic. Rank sums stay
    integer-exact below ~2^53 total rows.
    """
    from arkflow_spark.functions.distributed_rank import (
        N,
        RN,
        with_global_order,
    )

    e = load(spark, sf_dir, "events").select("event_type", "value", "event_id")
    ranked = with_global_order(e, [F.asc("value"), F.asc("event_id")])
    g = ranked.groupBy("event_type").agg(
        F.count("*").alias("n_i"),
        F.sum(RN).cast("double").alias("s_i"),
    )
    t = g.agg(
        F.sum("n_i").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("k"),
        F.sum(F.col("s_i") * F.col("s_i") / F.col("n_i")).alias("srr"),
    )
    h = 12.0 / (F.col("n") * (F.col("n") + 1.0)) * F.col("srr") - 3 * (
        F.col("n") + 1.0
    )
    return t.select(
        F.col("n").alias("n_total"),
        F.col("k").alias("k_groups"),
        quantize(h, 4).alias("h_stat"),
        quantize((h - F.col("k") + 1) / (F.col("n") - F.col("k")), 4).alias(
            "epsilon_sq"
        ),
    )


# ------------------------------------------------ Brown-Forsythe Levene


@query(
    "events_levene_bf",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    z AS (
      SELECT e.event_type, ABS(e.value - m.med) AS z
      FROM events e JOIN med m USING (event_type)
    ),
    g AS (
      SELECT event_type, COUNT(*) AS n_i,
             CAST(SUM(CAST(z AS DECIMAL(18,6))) AS DOUBLE) AS sz,
             SUM(z * z) AS szz
      FROM z GROUP BY event_type
    ),
    t AS (
      SELECT CAST(SUM(n_i) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k,
             SUM(sz) AS s_all
      FROM g
    ),
    parts AS (
      SELECT t.n, t.k,
             SUM(g.n_i * POW(g.sz / g.n_i - t.s_all / t.n, 2)) AS num,
             SUM(g.szz - g.sz * g.sz / g.n_i) AS den
      FROM g CROSS JOIN t GROUP BY t.n, t.k
    )
    SELECT n AS n_total, k AS k_groups,
           floor(((n - k) * 1.0 / (k - 1)) * num / den
                 * 10000 + 0.5) / 10000 AS f_stat
    FROM parts
    """,
)
def events_levene_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-homogeneity F: one-way ANOVA on the
    absolute deviations from each stream's MEDIAN (robust to the heavy
    tails these value streams actually have; Levene's mean-centered
    original is anti-conservative there).

    Determinism: group medians are interpolated identically by Spark's
    exact `percentile` and DuckDB's `quantile_cont` (both pos =
    q*(n-1)); |x - med| sums go through exact DECIMAL; the squared-
    deviation sums are doubles whose reduction-order noise (~1e-12
    relative) is far below the 4-decimal quantum.

    Scale shape: exact percentile aggregates per group over the
    VALUE-TICK-bounded distinct grid (prices quantize to cents — the
    accumulator is O(distinct values), not O(rows)); then one broadcast
    join of 5 medians and two map-side-combinable aggregations.
    """
    e = load(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    z = e.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("z")
    )
    g = z.groupBy("event_type").agg(
        F.count("*").alias("n_i"),
        F.sum(F.col("z").cast("decimal(18,6)")).cast("double").alias("sz"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
    )
    t = g.agg(
        F.sum("n_i").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("k"),
        F.sum("sz").alias("s_all"),
    )
    parts = (
        g.crossJoin(F.broadcast(t))
        .groupBy("n", "k")
        .agg(
            F.sum(
                F.col("n_i")
                * F.pow(
                    F.col("sz") / F.col("n_i") - F.col("s_all") / F.col("n"),
                    F.lit(2),
                )
            ).alias("num"),
            F.sum(
                F.col("szz") - F.col("sz") * F.col("sz") / F.col("n_i")
            ).alias("den"),
        )
    )
    return parts.select(
        F.col("n").alias("n_total"),
        F.col("k").alias("k_groups"),
        quantize(
            ((F.col("n") - F.col("k")) * 1.0 / (F.col("k") - 1))
            * F.col("num")
            / F.col("den"), 4
        ).alias("f_stat"),
    )


# ------------------------------------------------ Jarque-Bera normality


@query(
    "events_jarque_bera",
    oracle="""
    WITH m AS (
      SELECT event_type,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*) AS mu
      FROM events GROUP BY event_type
    ),
    d AS (
      SELECT e.event_type, e.value - m.mu AS d
      FROM events e JOIN m USING (event_type)
    ),
    g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(d * d) AS m2s, SUM(d * d * d) AS m3s,
             SUM(d * d * d * d) AS m4s
      FROM d GROUP BY event_type
    )
    SELECT event_type, n,
           floor((m3s / n) / POW(m2s / n, 1.5) * 10000 + 0.5) / 10000
             AS skewness_g1,
           floor(((m4s / n) / POW(m2s / n, 2) - 3) * 10000 + 0.5) / 10000
             AS excess_kurtosis_g2,
           floor(n / 6.0 * (POW((m3s / n) / POW(m2s / n, 1.5), 2)
                 + POW((m4s / n) / POW(m2s / n, 2) - 3, 2) / 4)
                 * 10000 + 0.5) / 10000 AS jb_stat
    FROM g
    ORDER BY event_type
    """,
)
def events_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality screen per stream: moment-based skewness
    g1 = m3/m2^1.5 and excess kurtosis g2 = m4/m2^2 - 3 from TWO-PASS
    central moments (mean first — exact decimal — then powered
    deviations; the one-pass raw-moment form would lose ~8 digits to
    cancellation on these magnitudes), JB = n/6 (g1^2 + g2^2/4),
    asymptotically chi-square(2) under normality.

    Scale shape: one broadcast of 5 group means, one map-side-
    combinable power-sum aggregation — scan-bound. Reduction-order
    noise in the double power sums is ~1e-12 relative (n * ulp), far
    below the 4-decimal quantum.
    """
    e = load(spark, sf_dir, "events")
    m = e.groupBy("event_type").agg(
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count("*")
        ).alias("mu")
    )
    d = e.join(F.broadcast(m), "event_type").select(
        "event_type", (F.col("value") - F.col("mu")).alias("d")
    )
    g = d.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("d") * F.col("d")).alias("m2s"),
        F.sum(F.col("d") * F.col("d") * F.col("d")).alias("m3s"),
        F.sum(F.col("d") * F.col("d") * F.col("d") * F.col("d")).alias(
            "m4s"
        ),
    )
    g1 = (F.col("m3s") / F.col("n")) / F.pow(
        F.col("m2s") / F.col("n"), F.lit(1.5)
    )
    g2 = (F.col("m4s") / F.col("n")) / F.pow(
        F.col("m2s") / F.col("n"), F.lit(2)
    ) - 3
    return g.select(
        "event_type",
        "n",
        quantize(g1, 4).alias("skewness_g1"),
        quantize(g2, 4).alias("excess_kurtosis_g2"),
        quantize(
            F.col("n") / 6.0
            * (F.pow(g1, F.lit(2)) + F.pow(g2, F.lit(2)) / 4), 4
        ).alias("jb_stat"),
    ).orderBy("event_type")


# ------------------------------------------------ Wilcoxon signed-rank


@query(
    "events_wilcoxon_signed_rank",
    oracle="""
    WITH ua AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'click'
                      THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)
               / COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS a,
             CAST(SUM(CASE WHEN event_type = 'view'
                      THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)
               / COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS v
      FROM events
      WHERE event_type IN ('click', 'view')
      GROUP BY user_id
      HAVING COUNT(CASE WHEN event_type = 'click' THEN 1 END) > 0
         AND COUNT(CASE WHEN event_type = 'view' THEN 1 END) > 0
    ),
    d AS (
      SELECT user_id, a - v AS d FROM ua WHERE a <> v
    ),
    r AS (
      SELECT d, row_number() OVER (ORDER BY ABS(d), user_id) AS rn
      FROM d
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN d > 0 THEN rn ELSE 0 END) AS DOUBLE)
               AS wp
      FROM r
    )
    SELECT n AS n_pairs,
           CAST(wp AS BIGINT) AS w_plus,
           CAST(n * (n + 1) / 2 - wp AS BIGINT) AS w_minus,
           floor((wp - n * (n + 1) / 4.0)
                 / sqrt(n * (n + 1.0) * (2 * n + 1) / 24.0)
                 * 10000 + 0.5) / 10000 AS z_stat,
           floor(LEAST(1.0,
                 2 * exp(-0.717 * ABS((wp - n * (n + 1) / 4.0)
                          / sqrt(n * (n + 1.0) * (2 * n + 1) / 24.0))
                         - 0.416 * POW((wp - n * (n + 1) / 4.0)
                          / sqrt(n * (n + 1.0) * (2 * n + 1) / 24.0), 2)))
                 * 1000000 + 0.5) / 1000000 AS p_approx
    FROM s
    """,
)
def events_wilcoxon_signed_rank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Wilcoxon signed-rank paired test: per user, mean click value vs
    mean view value (users exhibiting both); zero differences drop
    (standard practice), |d| is ranked ascending with user_id as the
    unique tie-break, W+ = sum of ranks of positive differences, then
    the normal approximation z = (W+ - n(n+1)/4)/sqrt(n(n+1)(2n+1)/24)
    and the closed-form tail p = min(1, 2 exp(-0.717|z| - 0.416 z^2)).

    Determinism: per-user means are exact-decimal-sum / count -> IEEE
    double divide — bit-identical in both engines, so d and the |d|
    ordering are bit-identical. Rank sums are exact integers.

    Scale shape: one user-keyed aggregation (conditional sums, map-side
    combinable), then functions/distributed_rank for the global |d|
    rank — no single-partition sort anywhere.
    """
    from arkflow_spark.functions.distributed_rank import (
        RN,
        with_global_order,
    )

    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    is_a = F.col("event_type") == "click"
    ua = (
        e.groupBy("user_id")
        .agg(
            (
                F.sum(
                    F.when(is_a, F.col("value").cast("decimal(18,6)"))
                ).cast("double")
                / F.count(F.when(is_a, F.lit(1)))
            ).alias("a"),
            (
                F.sum(
                    F.when(~is_a, F.col("value").cast("decimal(18,6)"))
                ).cast("double")
                / F.count(F.when(~is_a, F.lit(1)))
            ).alias("v"),
        )
        .filter(F.col("a").isNotNull() & F.col("v").isNotNull())
    )
    d = ua.select(
        "user_id", (F.col("a") - F.col("v")).alias("d")
    ).filter(F.col("a") != F.col("v"))
    ranked = with_global_order(
        d, [F.asc(F.abs(F.col("d"))), F.asc("user_id")]
    )
    s = ranked.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("d") > 0, F.col(RN)).otherwise(0))
        .cast("double")
        .alias("wp"),
    )
    n = F.col("n")
    z = (F.col("wp") - n * (n + 1) / 4.0) / F.sqrt(
        n * (n + 1.0) * (2 * n + 1) / 24.0
    )
    return s.select(
        n.alias("n_pairs"),
        F.col("wp").cast("bigint").alias("w_plus"),
        (n * (n + 1) / 2 - F.col("wp")).cast("bigint").alias("w_minus"),
        quantize(z, 4).alias("z_stat"),
        quantize(
            F.least(
                F.lit(1.0),
                2
                * F.exp(
                    -0.717 * F.abs(z) - 0.416 * F.pow(z, F.lit(2))
                ),
            ), 6
        ).alias("p_approx"),
    )


# ------------------------------------------------ Benjamini-Hochberg FDR


@query(
    "events_benjamini_hochberg",
    oracle="""
    WITH g_all AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s,
             SUM(value * value) AS q
      FROM events
    ),
    cell AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
             CAST(COUNT(*) AS BIGINT) AS n_c,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s_c
      FROM events GROUP BY 1, 2
    ),
    zp AS (
      SELECT c.event_type, c.hod, c.n_c,
             c.s_c / c.n_c AS mean_c,
             (c.s_c / c.n_c - g.s / g.n)
               / sqrt(((g.q - g.s * g.s / g.n) / (g.n - 1)) / c.n_c)
               AS z
      FROM cell c CROSS JOIN g_all g
    ),
    p AS (
      SELECT event_type, hod, n_c, mean_c, z,
             LEAST(1.0, 2 * exp(-0.717 * ABS(z) - 0.416 * z * z)) AS pv
      FROM zp
    ),
    r AS (
      SELECT *,
             row_number() OVER (ORDER BY pv, event_type, hod) AS rn,
             CAST(COUNT(*) OVER () AS BIGINT) AS m
      FROM p
    ),
    kmax AS (
      SELECT COALESCE(MAX(CASE WHEN pv <= 0.05 * rn / m
                          THEN rn END), 0) AS k
      FROM r
    )
    SELECT r.event_type, r.hod, r.n_c,
           floor(r.mean_c * 10000 + 0.5) / 10000 AS mean_cell,
           floor(r.z * 10000 + 0.5) / 10000 AS z_stat,
           floor(r.pv * 1000000 + 0.5) / 1000000 AS p_approx,
           r.rn AS p_rank,
           CASE WHEN r.rn <= k.k THEN 1 ELSE 0 END AS is_discovery
    FROM r CROSS JOIN kmax k
    ORDER BY r.rn
    """,
)
def events_benjamini_hochberg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Benjamini-Hochberg FDR control over the (stream x hour-of-day)
    cell grid: each cell's mean value gets a z-test against the global
    mean (global variance, so cells are comparable), p-values via the
    closed normal-tail approximation, then the BH step-up: sort p
    ascending, k* = max{k : p_k <= alpha k/m} at alpha = 0.05, flag
    ranks <= k* as discoveries. Converts "which of 120 cells look
    weird" into an FDR-controlled discovery list.

    Determinism: cell means are exact-decimal-sum / count; the global
    variance's double reduction noise (~1e-12 relative) perturbs every
    z identically and is far below the quantization quanta.

    Scale shape: one map-side-combinable cell rollup (bounded: streams
    x 24 hours) and one global moment aggregate; the BH ranking window
    runs over the BOUNDED cell grid.
    """
    e = load(spark, sf_dir, "events")
    glob = e.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("s"),
        F.sum(F.col("value") * F.col("value")).alias("q"),
    )
    cell = e.groupBy(
        "event_type", F.hour("ts").cast("bigint").alias("hod")
    ).agg(
        F.count("*").cast("bigint").alias("n_c"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("s_c"),
    )
    var_g = (F.col("q") - F.col("s") * F.col("s") / F.col("n")) / (
        F.col("n") - 1
    )
    zp = cell.crossJoin(F.broadcast(glob)).select(
        "event_type",
        "hod",
        "n_c",
        (F.col("s_c") / F.col("n_c")).alias("mean_c"),
        (
            (F.col("s_c") / F.col("n_c") - F.col("s") / F.col("n"))
            / F.sqrt(var_g / F.col("n_c"))
        ).alias("z"),
    )
    p = zp.withColumn(
        "pv",
        F.least(
            F.lit(1.0),
            2 * F.exp(-0.717 * F.abs("z") - 0.416 * F.col("z") * F.col("z")),
        ),
    )
    # scale: calendar-bounded window — the BH ranking runs over the
    # (event_type x 24 hour-of-day) cell grid, never over raw events
    wr = Window.orderBy("pv", "event_type", "hod")
    r = p.withColumn("rn", F.row_number().over(wr)).withColumn(
        "m", F.count("*").over(Window.partitionBy())
    )
    kmax = r.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("pv") <= 0.05 * F.col("rn") / F.col("m"),
                    F.col("rn"),
                )
            ),
            F.lit(0),
        ).alias("k")
    )
    return (
        r.crossJoin(F.broadcast(kmax))
        .select(
            "event_type",
            "hod",
            "n_c",
            quantize(F.col("mean_c"), 4).alias("mean_cell"),
            quantize(F.col("z"), 4).alias("z_stat"),
            quantize(F.col("pv"), 6).alias("p_approx"),
            F.col("rn").alias("p_rank"),
            F.when(F.col("rn") <= F.col("k"), 1)
            .otherwise(0)
            .alias("is_discovery"),
        )
        .orderBy("p_rank")
    )
