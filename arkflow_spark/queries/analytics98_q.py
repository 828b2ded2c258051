"""Round-5 batch 98: seasonal strength, dedup cluster sizing,
language signatures.

- `events_seasonal_strength` — per-stream variance decomposition by
  hour-of-day: strength = 1 - SSE_within / SST, the share of value
  variance the daily clock explains. Streams near 1 deserve seasonal
  baselines (`events_hourweek_profile`); streams near 0 make hourly
  profiles noise. The quantitative gate before fitting any seasonal
  model.
- `dedup_cluster_size_histogram` — distribution of exact-duplicate
  cluster sizes over the normalized-content fingerprint
  (`dedup_exact`'s key): how many groups of size 1, 2, 3, ... and the
  doc mass in each. The planning view for dedup: mass in size-2
  clusters dedups cheaply; a giant cluster means boilerplate to
  handle specially.
- `text_char_trigram_lang_signature` — top-20 character trigrams per
  language and the pairwise overlap (Jaccard of the top sets) between
  languages. High overlap predicts exactly which language pairs an
  n-gram identifier (`text_lang_id`) will confuse — the a-priori twin
  of `text_langid_eval_confusion`.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ seasonal strength


@query(
    "events_seasonal_strength",
    oracle="""
    WITH q AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
             floor(value * 1000000 + 0.5) / 1000000 AS v
      FROM events
    ),
    cell AS (
      SELECT event_type, hod,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(floor(v * v * 1000000 + 0.5) / 1000000
                  AS DECIMAL(18,6))) AS DOUBLE) AS s2
      FROM q GROUP BY 1, 2
    ),
    per AS (
      SELECT event_type,
             CAST(SUM(n) AS BIGINT) AS n,
             CAST(SUM(CAST(s1 AS DECIMAL(28,6))) AS DOUBLE) AS t1,
             CAST(SUM(CAST(s2 AS DECIMAL(28,6))) AS DOUBLE) AS t2,
             CAST(SUM(CAST(floor((s2 - s1 * s1 / n) * 1000000 + 0.5)
                  / 1000000 AS DECIMAL(28,6))) AS DOUBLE) AS sse
      FROM cell GROUP BY event_type
    )
    SELECT event_type, n AS n_events,
           floor((t2 - t1 * t1 / n) / n * 10000 + 0.5) / 10000
             AS var_total,
           floor(sse / n * 10000 + 0.5) / 10000 AS var_within_hod,
           floor(GREATEST(1 - sse / NULLIF(t2 - t1 * t1 / n, 0), 0)
                 * 10000 + 0.5) / 10000 AS seasonal_strength
    FROM per ORDER BY event_type
    """,
)
def events_seasonal_strength(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonal strength per stream: 1 - SSE_within_hour / SST over
    the hour-of-day grouping — the exact ANOVA share of value variance
    the daily clock explains. Near 1: fit the seasonal baseline
    before alerting; near 0: hour-of-day profiles are noise for this
    stream. Per-cell sums are 6dp-quantized decimals and the per-hour
    SSE terms are quantized before the stream reduce, so both engines
    sum identical numbers in any order.

    Scale shape: ONE map-side-combinable (stream x 24h) moment
    rollup; the decomposition is bounded-grid arithmetic.
    """
    e = load(spark, sf_dir, "events")
    v = quantize(F.col("value"), 6)
    cell = e.select(
        "event_type",
        F.hour("ts").cast("bigint").alias("hod"),
        v.alias("v"),
    ).groupBy("event_type", "hod").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("v").cast("decimal(18,6)"))
        .cast("double")
        .alias("s1"),
        F.sum(quantize(F.col("v") * F.col("v"), 6).cast("decimal(18,6)"))
        .cast("double")
        .alias("s2"),
    )
    per = cell.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum(F.col("s1").cast("decimal(28,6)"))
        .cast("double")
        .alias("t1"),
        F.sum(F.col("s2").cast("decimal(28,6)"))
        .cast("double")
        .alias("t2"),
        F.sum(
            quantize(
                F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"), 6
            ).cast("decimal(28,6)")
        )
        .cast("double")
        .alias("sse"),
    )
    sst = F.col("t2") - F.col("t1") * F.col("t1") / F.col("n")
    return per.select(
        "event_type",
        F.col("n").alias("n_events"),
        quantize(sst / F.col("n"), 4).alias("var_total"),
        quantize(F.col("sse") / F.col("n"), 4).alias("var_within_hod"),
        quantize(
            F.greatest(
                1 - F.col("sse") / F.nullif(sst, F.lit(0)), F.lit(0)
            ), 4
        ).alias("seasonal_strength"),
    ).orderBy("event_type")


# --------------------------------------- dedup cluster-size histogram


@query(
    "dedup_cluster_size_histogram",
    oracle=r"""
    WITH fp AS (
      SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
               AS f
      FROM documents
    ),
    grp AS (
      SELECT f, CAST(COUNT(*) AS BIGINT) AS size FROM fp GROUP BY f
    ),
    tot AS (SELECT CAST(SUM(size) AS BIGINT) AS n_docs FROM grp)
    SELECT g.size AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(g.size) AS BIGINT) AS n_docs,
           floor(SUM(g.size) * 1.0 / t.n_docs * 10000 + 0.5) / 10000
             AS doc_share
    FROM grp g CROSS JOIN tot t
    GROUP BY g.size, t.n_docs
    ORDER BY cluster_size
    """,
)
def dedup_cluster_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact-duplicate cluster-size distribution over `dedup_exact`'s
    normalized-content fingerprint: for each cluster size, the number
    of clusters, the documents they hold, and their corpus share. The
    dedup PLANNING view — mass in size-2 clusters disappears with one
    keep-first pass, while one giant cluster is boilerplate that
    deserves its own rule (and would chain badly through near-dup
    canonicalization, `dedup_transitivity_audit`).

    Scale shape: one fingerprint-keyed count (the dedup_exact
    shuffle), one size-keyed rollup over the group table (bounded by
    the largest cluster), one broadcast total.
    """
    from arkflow_spark.queries.dedup_q import _norm_text

    d = load(spark, sf_dir, "documents")
    grp = (
        d.select(F.md5(_norm_text(F.col("text"))).alias("f"))
        .groupBy("f")
        .agg(F.count("*").cast("bigint").alias("size"))
    )
    tot = grp.agg(F.sum("size").cast("bigint").alias("n_docs_t"))
    return (
        grp.groupBy("size")
        .agg(
            F.count("*").cast("bigint").alias("n_clusters"),
            F.sum("size").cast("bigint").alias("n_docs"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("size").alias("cluster_size"),
            "n_clusters",
            "n_docs",
            quantize(F.col("n_docs") * 1.0 / F.col("n_docs_t"), 4).alias(
                "doc_share"
            ),
        )
        .orderBy("cluster_size")
    )


# --------------------------------------- char-trigram lang signature

_SIG_TOP = 20


@query(
    "text_char_trigram_lang_signature",
    oracle=rf"""
    WITH norm AS (
      SELECT lang,
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
      FROM documents
    ),
    tri AS (
      SELECT lang, substr(t, g.i, 3) AS tg
      FROM norm, generate_series(1, 100000) g(i)
      WHERE g.i <= len(t) - 2
    ),
    cnt AS (
      SELECT lang, tg, CAST(COUNT(*) AS BIGINT) AS c
      FROM tri GROUP BY 1, 2
    ),
    top AS (
      SELECT lang, tg FROM (
        SELECT lang, tg,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY c DESC, tg) AS rn
        FROM cnt
      ) WHERE rn <= {_SIG_TOP}
    )
    SELECT a.lang AS lang_a, b.lang AS lang_b,
           CAST(COUNT(*) AS BIGINT) AS shared_trigrams,
           floor(COUNT(*) * 1.0 / ({2 * _SIG_TOP} - COUNT(*))
                 * 10000 + 0.5) / 10000 AS jaccard_top
    FROM top a JOIN top b
      ON a.tg = b.tg AND a.lang < b.lang
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def text_char_trigram_lang_signature(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Language discriminability a priori: top-{t} character trigrams
    per language (whitespace-normalized text), then the pairwise
    Jaccard overlap of those top sets. Pairs with high overlap are
    exactly the ones an n-gram language identifier will confuse —
    check BEFORE trusting `text_lang_id` on a new corpus (the
    post-hoc confusion twin is `text_langid_eval_confusion`).

    Scale shape: the trigram explode is narrow (2n-ish per doc); the
    count table is (lang x trigram-vocab) bounded; the top-{t} rank
    runs over vocab-bounded per-language partitions; the pair join
    touches {t} rows per language.
    """.format(t=_SIG_TOP)
    d = load(spark, sf_dir, "documents")
    norm = d.select(
        "lang",
        F.regexp_replace(
            F.lower(F.trim(F.col("text"))), r"\s+", " "
        ).alias("t"),
    )
    # filter len >= 3 BEFORE sequence(): Spark's sequence(1, 0) yields
    # the DESCENDING [1, 0], not an empty array
    tri = norm.filter(F.length("t") >= 3).select(
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, length(t) - 2),"
                " i -> substring(t, i, 3))"
            )
        ).alias("tg"),
    )
    cnt = tri.groupBy("lang", "tg").agg(
        F.count("*").cast("bigint").alias("c")
    )
    w = Window.partitionBy("lang").orderBy(F.col("c").desc(), "tg")
    top = (
        cnt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _SIG_TOP)
        .select("lang", "tg")
        .persist()  # {top} rows/lang; feeds both pair-join sides
    )
    a = top.select(F.col("lang").alias("lang_a"), "tg")
    b = top.select(F.col("lang").alias("lang_b"), "tg")
    return (
        a.join(b, "tg")
        .filter(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(
            F.count("*").cast("bigint").alias("shared_trigrams"),
            quantize(
                F.count("*")
                * 1.0
                / (2 * _SIG_TOP - F.count("*")), 4
            ).alias("jaccard_top"),
        )
        .orderBy("lang_a", "lang_b")
    )
