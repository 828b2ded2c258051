"""Round-5 batch 48: Mann-Kendall trend test, empirical-Bayes rate
shrinkage, stopword stylometry, simplified silhouette.

- `events_mann_kendall_trend` — the non-parametric Mann-Kendall trend
  test per stream over hourly counts: Kendall's S with the tie-corrected
  variance and normal-approximation Z. `events_theil_sen_trend` gives
  the robust slope; this gives its significance — together they are the
  standard monotone-trend pair.
- `lineitem_return_shrinkage` — empirical-Bayes (beta-binomial,
  method-of-moments prior) shrinkage of per-part return rates: small-n
  parts pull toward the global rate, high-volume parts keep their own —
  the estimator every "worst parts" leaderboard needs before ranking by
  raw rates.
- `text_stopword_stylometry` — function-word usage profiles per source
  and the chi-square distance matrix between sources: function words
  are topic-free, so distance here is REGISTER/STYLE drift
  (`text_js_divergence_sources` measures content drift).
- `embedding_silhouette_simplified` — centroid-based (simplified)
  silhouette per label: (b - a) / max(a, b) with a = distance to own
  label centroid, b = nearest other centroid — the clustering-quality
  readout for the IVF coarse quantizer, O(n·k) not O(n^2).

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ Mann-Kendall trend


@query(
    "events_mann_kendall_trend",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT a.event_type,
             CAST(SUM(CASE WHEN b.c > a.c THEN 1
                           WHEN b.c < a.c THEN -1 ELSE 0 END)
                  AS BIGINT) AS s_stat
      FROM hourly a JOIN hourly b
        ON a.event_type = b.event_type AND a.h < b.h
      GROUP BY 1
    ),
    nn AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM hourly GROUP BY 1
    ),
    ties AS (
      SELECT event_type,
             CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      FROM (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS t
        FROM hourly GROUP BY event_type, c
      ) GROUP BY 1
    )
    SELECT s.event_type, nn.n AS n_hours, s.s_stat,
           floor((CAST(nn.n AS DOUBLE) * (nn.n - 1) * (2 * nn.n + 5)
                  - ties.tie_term) / 18 * 10000 + 0.5) / 10000
             AS var_s,
           floor(CASE WHEN s.s_stat > 0 THEN (s.s_stat - 1)
                      WHEN s.s_stat < 0 THEN (s.s_stat + 1)
                      ELSE 0 END
                 / NULLIF(sqrt((CAST(nn.n AS DOUBLE) * (nn.n - 1)
                                * (2 * nn.n + 5) - ties.tie_term) / 18),
                          0)
                 * 10000 + 0.5) / 10000 AS z_score
    FROM s JOIN nn USING (event_type) JOIN ties USING (event_type)
    ORDER BY event_type
    """,
)
def events_mann_kendall_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mann-Kendall monotone-trend test per stream over the hourly
    counts: S = sum of sign(c_j - c_i) over hour pairs i < j, the
    tie-corrected variance (n(n-1)(2n+5) - sum t(t-1)(2t+5)) / 18, and
    the continuity-corrected Z. |Z| > 1.96 rejects "no trend" at 5% —
    the significance companion to `events_theil_sen_trend`'s robust
    slope (both are rank-based, so spikes do not fake trends).

    The pair join is per-stream over the hourly AGGREGATE — hours are
    calendar-bounded, so the fan-out is hours^2 per stream regardless
    of corpus size (the same boundedness argument as
    `events_tail_codependence`); S and the tie term are exact integer
    sums, Z is one mirrored double expression.
    """
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("c"))
    a = hourly.select(
        "event_type", F.col("h").alias("ha"), F.col("c").alias("ca")
    )
    b = hourly.select(
        "event_type", F.col("h").alias("hb"), F.col("c").alias("cb")
    )
    s = (
        a.join(b, "event_type")
        .filter(F.col("ha") < F.col("hb"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("cb") > F.col("ca"), 1)
                .when(F.col("cb") < F.col("ca"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    nn = hourly.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    t = F.col("t")
    ties = (
        hourly.groupBy("event_type", "c")
        .agg(F.count("*").cast("bigint").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(t * (t - 1) * (2 * t + 5))
            .cast("bigint")
            .alias("tie_term")
        )
    )
    n = F.col("n").cast("double")
    var_s = (n * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col(
        "tie_term"
    )) / 18
    s_adj = (
        F.when(F.col("s_stat") > 0, F.col("s_stat") - 1)
        .when(F.col("s_stat") < 0, F.col("s_stat") + 1)
        .otherwise(0)
    )
    return (
        s.join(nn, "event_type")
        .join(ties, "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_hours"),
            "s_stat",
            quantize(var_s, 4).alias("var_s"),
            quantize(
                s_adj / F.nullif(F.sqrt(var_s), F.lit(0.0)), 4
            ).alias("z_score"),
        )
        .orderBy("event_type")
    )


# ------------------------------------- empirical-Bayes rate shrinkage


@query(
    "lineitem_return_shrinkage",
    oracle="""
    WITH per_part AS (
      SELECT l_partkey,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM lineitem GROUP BY 1
    ),
    prior AS (
      SELECT CAST(SUM(k) AS DOUBLE) / SUM(n) AS m,
             CAST(SUM(CAST(
               (k * 1.0 / n) * (k * 1.0 / n) AS DECIMAL(28,12)))
               AS DOUBLE) / COUNT(*)
             - (CAST(SUM(CAST(k * 1.0 / n AS DECIMAL(18,10)))
                     AS DOUBLE) / COUNT(*))
               * (CAST(SUM(CAST(k * 1.0 / n AS DECIMAL(18,10)))
                       AS DOUBLE) / COUNT(*)) AS v
      FROM per_part
    ),
    ab AS (
      SELECT m, v,
             CASE WHEN v > 0 AND m * (1 - m) / v - 1 > 0
                  THEN m * (m * (1 - m) / v - 1) END AS alpha,
             CASE WHEN v > 0 AND m * (1 - m) / v - 1 > 0
                  THEN (1 - m) * (m * (1 - m) / v - 1) END AS beta
      FROM prior
    )
    SELECT p.l_partkey, p.n, p.k,
           floor(p.k * 1.0 / p.n * 10000 + 0.5) / 10000 AS raw_rate,
           floor((p.k + ab.alpha) / (p.n + ab.alpha + ab.beta)
                 * 10000 + 0.5) / 10000 AS shrunk_rate
    FROM per_part p CROSS JOIN ab
    ORDER BY p.l_partkey
    """,
)
def lineitem_return_shrinkage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Empirical-Bayes shrinkage of per-part return rates: a
    beta-binomial prior fit by method of moments over the per-part raw
    rates (pooled mean m, rate variance v => alpha+beta =
    m(1-m)/v - 1), then each part's posterior mean
    (k + alpha)/(n + alpha + beta). One-lineitem parts collapse to the
    prior; high-volume parts keep their own rate — rank THIS, not the
    raw rate, or the "worst parts" list is all n=1 flukes.

    Plan: one part-keyed reduction, one single-row prior aggregate
    (rate moments as exact decimal sums of mirrored doubles), a
    broadcast cross join of the 1-row prior. NULL prior (degenerate
    variance) propagates NULL shrunk rates in both engines.
    """
    li = load(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("k"),
    )
    rate = F.col("k") * 1.0 / F.col("n")
    prior = per_part.agg(
        (F.sum("k").cast("double") / F.sum("n")).alias("m"),
        (
            F.sum((rate * rate).cast("decimal(28,12)")).cast("double")
            / F.count("*")
            - (
                F.sum(rate.cast("decimal(18,10)")).cast("double")
                / F.count("*")
            )
            * (
                F.sum(rate.cast("decimal(18,10)")).cast("double")
                / F.count("*")
            )
        ).alias("v"),
    )
    m, v = F.col("m"), F.col("v")
    tot = m * (1 - m) / v - 1
    ab = prior.select(
        F.when((v > 0) & (tot > 0), m * tot).alias("alpha"),
        F.when((v > 0) & (tot > 0), (1 - m) * tot).alias("beta"),
    )
    return (
        per_part.crossJoin(F.broadcast(ab))
        .select(
            "l_partkey",
            "n",
            "k",
            quantize(rate, 4).alias("raw_rate"),
            quantize(
                (F.col("k") + F.col("alpha"))
                / (F.col("n") + F.col("alpha") + F.col("beta")), 4
            ).alias("shrunk_rate"),
        )
        .orderBy("l_partkey")
    )


# ---------------------------------------------- stopword stylometry

_FUNCTION_WORDS = (
    "the of and to in a is that it for on with as was at by be this"
    " have from"
).split()


@query(
    "text_stopword_stylometry",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]+'))
               AS w
      FROM documents
    ),
    tot AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tok
      FROM tok GROUP BY 1
    ),
    fw AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok
      WHERE w IN ({",".join("'" + w + "'" for w in _FUNCTION_WORDS)})
      GROUP BY 1, 2
    ),
    words(w) AS (
      VALUES {",".join("('" + w + "')" for w in _FUNCTION_WORDS)}
    ),
    prof AS (
      SELECT t.source, words.w,
             COALESCE(f.c, 0) * 1.0 / t.n_tok AS p
      FROM tot t CROSS JOIN words
      LEFT JOIN fw f ON f.source = t.source AND f.w = words.w
    )
    SELECT a.source AS source_a, b.source AS source_b,
           floor(CAST(SUM(CAST(
                   CASE WHEN a.p + b.p > 0
                        THEN (a.p - b.p) * (a.p - b.p) / (a.p + b.p)
                        ELSE 0 END AS DECIMAL(18,12))) AS DOUBLE)
                 * 10000 + 0.5) / 10000 AS chi2_distance
    FROM prof a JOIN prof b
      ON a.w = b.w AND a.source < b.source
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def text_stopword_stylometry(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stylometric distance matrix between sources over a fixed
    {n}-word function-word profile (the/of/and/...): chi-square
    distance sum (p_a - p_b)^2 / (p_a + p_b). Function words carry no
    topic, so a large distance is REGISTER drift (formal vs chat vs
    code-comment prose) — it flags shards needing their own quality
    thresholds even when `text_js_divergence_sources` (content words)
    looks uniform.

    Plan: one token explode feeding two source-keyed reductions, a
    vocabulary-bounded profile grid (sources x {n} words), and a
    word-keyed pair join bounded by sources^2. Per-pair terms quantize
    to DECIMAL(18,12) and sum exactly.
    """.format(n=len(_FUNCTION_WORDS))
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "source",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
        ).alias("w"),
    )
    tot = tok.groupBy("source").agg(F.count("*").alias("n_tok"))
    fw = (
        tok.filter(F.col("w").isin(_FUNCTION_WORDS))
        .groupBy("source", "w")
        .agg(F.count("*").alias("c"))
    )
    words = spark.createDataFrame(
        [(w,) for w in _FUNCTION_WORDS], ["w"]
    )
    prof = (
        tot.crossJoin(F.broadcast(words))
        .join(fw, ["source", "w"], "left")
        .select(
            "source",
            "w",
            (F.coalesce("c", F.lit(0)) * 1.0 / F.col("n_tok")).alias(
                "p"
            ),
        )
    )
    a = prof.select(
        F.col("source").alias("source_a"), "w", F.col("p").alias("pa")
    )
    b = prof.select(
        F.col("source").alias("source_b"), "w", F.col("p").alias("pb")
    )
    term = F.when(
        F.col("pa") + F.col("pb") > 0,
        (F.col("pa") - F.col("pb"))
        * (F.col("pa") - F.col("pb"))
        / (F.col("pa") + F.col("pb")),
    ).otherwise(0.0)
    return (
        a.join(b, "w")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            quantize(
                F.sum(term.cast("decimal(18,12)")).cast("double"), 4
            ).alias("chi2_distance")
        )
        .orderBy("source_a", "source_b")
    )


# --------------------------------------------- simplified silhouette


@query(
    "embedding_silhouette_simplified",
    oracle="""
    WITH x AS (
      SELECT vec_id, label, g.i AS i, CAST(embedding[g.i] AS DOUBLE) AS v
      FROM embeddings CROSS JOIN generate_series(1, 64) g(i)
      WHERE g.i <= len(embedding)
    ),
    cent AS (
      SELECT label AS c_label, i,
             CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
               AS cv
      FROM x GROUP BY 1, 2
    ),
    d2 AS (
      SELECT x.vec_id, x.label, c.c_label,
             SUM((x.v - c.cv) * (x.v - c.cv)) AS dd
      FROM x JOIN cent c ON c.i = x.i
      GROUP BY 1, 2, 3
    ),
    ab AS (
      SELECT vec_id, label,
             sqrt(MIN(CASE WHEN c_label = label THEN dd END)) AS a,
             sqrt(MIN(CASE WHEN c_label <> label THEN dd END)) AS b
      FROM d2 GROUP BY 1, 2
    ),
    s AS (
      SELECT vec_id, label,
             CAST((b - a) / NULLIF(greatest(a, b), 0)
                  AS DECIMAL(18,12)) AS s
      FROM ab
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
           floor(CAST(SUM(s) AS DOUBLE) / COUNT(*) * 10000 + 0.5)
             / 10000 AS mean_silhouette,
           floor(CAST(MIN(s) AS DOUBLE) * 10000 + 0.5) / 10000
             AS min_silhouette
    FROM s GROUP BY label ORDER BY label
    """,
)
def embedding_silhouette_simplified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Simplified (centroid-based) silhouette per label: a = Euclidean
    distance to the OWN label centroid, b = distance to the nearest
    OTHER centroid, s = (b - a) / max(a, b). Means near 0 or negative
    say the label geometry won't support IVF probes
    (`ann_ivf_assign`'s buckets) or the label-centroid outlier screen —
    run this before trusting either. Centroid-based a/b makes it
    O(n*k), the form that scales; full silhouette is O(n^2).

    Centroids use exact decimal sums (identical doubles both engines,
    the `ann_ivf_assign` discipline); per-vector s quantizes to
    DECIMAL(18,12) and aggregates exactly. Plan: one exploded
    reduction for centroids (k x dim, broadcast), one narrow
    distance-per-label pass, two label-keyed rollups.
    """
    e = load(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding")).alias("i", "vf"),
    ).select(
        "vec_id", "label", "i", F.col("vf").cast("double").alias("v")
    )
    cent = x.groupBy(F.col("label").alias("c_label"), "i").agg(
        (
            F.sum(F.col("v").cast("decimal(28,12)")).cast("double")
            / F.count("*")
        ).alias("cv")
    )
    d2 = (
        x.join(F.broadcast(cent), "i")
        .groupBy("vec_id", "label", "c_label")
        .agg(
            F.sum(
                (F.col("v") - F.col("cv")) * (F.col("v") - F.col("cv"))
            ).alias("dd")
        )
    )
    ab = d2.groupBy("vec_id", "label").agg(
        F.sqrt(
            F.min(F.when(F.col("c_label") == F.col("label"), F.col("dd")))
        ).alias("a"),
        F.sqrt(
            F.min(F.when(F.col("c_label") != F.col("label"), F.col("dd")))
        ).alias("b"),
    )
    s = ab.select(
        "label",
        (
            (F.col("b") - F.col("a"))
            / F.nullif(F.greatest("a", "b"), F.lit(0.0))
        )
        .cast("decimal(18,12)")
        .alias("s"),
    )
    return (
        s.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            quantize(F.sum("s").cast("double") / F.count("*"), 4).alias(
                "mean_silhouette"
            ),
            quantize(F.min("s").cast("double"), 4).alias("min_silhouette"),
        )
        .orderBy("label")
    )
