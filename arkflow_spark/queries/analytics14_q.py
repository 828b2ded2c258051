"""Round-3 fourth-session batch 10: classifier evaluation, weighted
reservoir sampling, and hashed feature crosses.

- `text_langid_eval_confusion` — confusion matrix + per-class recall +
  overall accuracy of the `text_lang_id` heuristic against the labeled
  `lang` column: the evaluation harness for a classifier-gated corpus
  (the second eval operator after `dedup_lsh_eval_pr` — a pipeline you
  can't score, you can't tune).
- `documents_weighted_sample_ares` — weighted sampling without
  replacement (Efraimidis-Spirakis A-Res): key = ln(u)/w with u a
  DETERMINISTIC md5-derived uniform, top-k by key — the
  mixture-weighted corpus sampler (longer docs here; domain weights in
  production), reproducible across engines and cluster sizes because
  the randomness is content-derived, not RNG state.
- `events_feature_crosses_hashed` — the feature-hashing trick for
  crossed categorical features (type x day-of-week x value band ->
  md5-hash % D buckets): the ML featurizer that avoids a vocabulary
  shuffle entirely, with per-bucket collision stats as the audit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.queries.text_q import _lang_score_sql, text_lang_id
from arkflow_spark.tables import load


# -------------------------------------------------- lang-id confusion


@query(
    "text_langid_eval_confusion",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang AS true_lang,
             {_lang_score_sql('en')} AS s_en,
             {_lang_score_sql('es')} AS s_es,
             {_lang_score_sql('fr')} AS s_fr,
             {_lang_score_sql('de')} AS s_de
      FROM documents
    ),
    pred AS (
      SELECT true_lang,
             CASE GREATEST(s_en, s_es, s_fr, s_de)
               WHEN s_en THEN 'en' WHEN s_es THEN 'es'
               WHEN s_fr THEN 'fr' ELSE 'de' END AS pred_lang
      FROM scored
    ),
    cm AS (
      SELECT true_lang, pred_lang, COUNT(*) AS n FROM pred GROUP BY 1, 2
    ),
    tot AS (
      SELECT true_lang, SUM(n) AS n_true FROM cm GROUP BY true_lang
    ),
    acc AS (
      SELECT SUM(CASE WHEN true_lang = pred_lang THEN n ELSE 0 END)
               * 1.0 / SUM(n) AS a
      FROM cm
    )
    SELECT cm.true_lang, cm.pred_lang, cm.n,
           floor(cm.n * 1.0 / t.n_true * 10000 + 0.5) / 10000 AS share,
           floor(acc.a * 10000 + 0.5) / 10000 AS accuracy
    FROM cm JOIN tot t ON t.true_lang = cm.true_lang
    CROSS JOIN acc
    ORDER BY cm.true_lang, cm.pred_lang
    """,
)
def text_langid_eval_confusion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Evaluation harness for the `text_lang_id` heuristic: the full
    confusion matrix against the labeled `lang` column, each cell's
    share of its true class (the diagonal = per-class recall), and the
    corpus accuracy — what you check before letting a classifier gate a
    corpus (pairs with `dedup_lsh_eval_pr` as the second eval
    operator). Reuses the production query verbatim, so the harness
    can never drift from what it evaluates.

    Scale: per-doc scoring is the narrow lang-id projection; the matrix
    is a languages^2-cardinality aggregate — free at any corpus size.
    """
    per_doc = text_lang_id(spark, sf_dir)
    cm = per_doc.groupBy("true_lang", "pred_lang").agg(
        F.count("*").alias("n")
    )
    tot = cm.groupBy("true_lang").agg(F.sum("n").alias("n_true"))
    acc = cm.agg(
        (
            F.sum(
                F.when(
                    F.col("true_lang") == F.col("pred_lang"), F.col("n")
                ).otherwise(0)
            )
            * 1.0
            / F.sum("n")
        ).alias("a")
    )
    return (
        cm.join(tot, "true_lang")
        .crossJoin(F.broadcast(acc))
        .select(
            "true_lang",
            "pred_lang",
            "n",
            quantize(F.col("n") * 1.0 / F.col("n_true"), 4).alias("share"),
            quantize(F.col("a"), 4).alias("accuracy"),
        )
        .orderBy("true_lang", "pred_lang")
    )


# -------------------------------------------------- weighted A-Res sample

_ARES_K = 50


@query(
    "documents_weighted_sample_ares",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             ln(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
                     AS BIGINT) * 1.0 / 4503599627370496)
               / n_chars AS k
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, n_chars,
           floor(k * 100000000 + 0.5) / 100000000 AS sample_key
    FROM keyed
    ORDER BY k DESC, doc_id
    LIMIT {_ARES_K}
    """,
)
def documents_weighted_sample_ares(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis
    A-Res): each doc gets key ln(u)/w — u a deterministic uniform in
    (0,1) derived from md5(doc_id) (13 hex digits / 16^13), w = doc
    length — and the k largest keys are the sample, each doc's
    inclusion probability proportional to its weight. Content-derived
    randomness makes the sample REPRODUCIBLE across engines, retries,
    and cluster sizes — the property a training-mix sampler needs so
    reruns produce the same corpus (production swaps w for domain
    mixture weights; `documents_stratified_sample` is the unweighted
    sibling).

    Scale: a narrow key projection + TakeOrderedAndProject — no global
    sort, no shuffle of the corpus.
    """
    d = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13),
            16,
            10,
        ).cast("bigint")
        * 1.0
        / 4503599627370496  # 16^13
    )
    k = F.log(u) / F.col("n_chars")
    return (
        d.select(
            "doc_id",
            "n_chars",
            k.alias("k"),
        )
        .orderBy(F.col("k").desc(), "doc_id")
        .limit(_ARES_K)
        .select(
            "doc_id",
            "n_chars",
            quantize(F.col("k"), 8).alias(
                "sample_key"
            ),
        )
    )


# -------------------------------------------------- hashed feature crosses

_CROSS_BUCKETS = 256


@query(
    "events_feature_crosses_hashed",
    oracle=f"""
    WITH crossed AS (
      -- DuckDB dayofweek is 0-6 Sunday-first; Spark's is 1-7 -> +1
      SELECT event_type || '|' || CAST(dayofweek(ts) + 1 AS VARCHAR) || '|'
               || CAST(CAST(floor(value / 50) AS BIGINT) AS VARCHAR)
               AS cross_key
      FROM events
    ),
    bucketed AS (
      SELECT cross_key,
             CAST(('0x' || substr(md5(cross_key), 1, 15)) AS BIGINT)
               % {_CROSS_BUCKETS} AS bucket
      FROM crossed
    )
    SELECT bucket, COUNT(*) AS n_rows,
           COUNT(DISTINCT cross_key) AS n_crosses
    FROM bucketed
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def events_feature_crosses_hashed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The feature-hashing trick for crossed categoricals: the
    (event_type x day-of-week x value-band) cross hashes into
    {d} buckets via a portable md5-derived integer — the featurizer
    that needs NO vocabulary (no shuffle to build one, no driver-side
    dictionary, new crosses never break the model), at the price of
    collisions. The output is the per-bucket audit — row mass and
    distinct-cross count (n_crosses > 1 = collision) — which is exactly
    what you check before committing to a bucket count D.

    Scale: one narrow hash projection + a D-bounded aggregate; same
    shape as `text_tfidf`'s HashingTF path, generalized to crossed
    features.
    """.format(d=_CROSS_BUCKETS)
    e = load(spark, sf_dir, "events")
    cross_key = F.concat_ws(
        "|",
        F.col("event_type"),
        F.dayofweek("ts").cast("string"),
        F.floor(F.col("value") / 50).cast("bigint").cast("string"),
    )
    bucket = (
        F.conv(F.substring(F.md5(cross_key), 1, 15), 16, 10).cast(
            "bigint"
        )
        % _CROSS_BUCKETS
    )
    return (
        e.select(cross_key.alias("cross_key"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("cross_key").alias("n_crosses"),
        )
        .orderBy("bucket")
    )
