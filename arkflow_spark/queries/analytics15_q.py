"""Round-3 fourth-session batch 11: contrastive hard-negative mining,
curriculum ordering, and experiment power analysis.

- `ann_hard_negatives` — hard-negative mining for contrastive training:
  per query vector, the most-similar candidates with a DIFFERENT label
  (high-cosine impostors — the negatives that actually teach a
  retriever; random negatives are trivially separable). Composes the
  exact-cosine machinery of `ann_cosine_topk` with a label filter.
- `documents_curriculum_order` — curriculum construction: rank-average
  difficulty signals (length, inverse readability) into a
  deterministic training order + 4 curriculum stages — the
  easy-to-hard data ordering used in curriculum learning.
- `events_power_analysis` — two-sample power analysis per metric
  stream: required per-arm sample size for a 5% minimum detectable
  effect at alpha=0.05 / power=0.8 from the variance estimate — the
  pre-experiment sizing calculation `events_diff_in_diff` and
  `events_welch_ttest` assume someone ran.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.queries.vector_q import (
    _ORACLE_EXPLODED,
    _dot,
    _norm,
    N_QUERIES,
)
from arkflow_spark.tables import load


# -------------------------------------------------- hard negatives

_HN_K = 5


@query(
    "ann_hard_negatives",
    oracle=f"""
    WITH {_ORACLE_EXPLODED},
    lab AS (SELECT vec_id, label FROM embeddings),
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id, SUM(q.v * c.v) AS dot
      FROM x q JOIN x c ON q.i = c.i
      WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.query_id, d.cand_id,
             lq.label AS query_label, lc.label AS neg_label,
             ROUND(d.dot / (nq.nrm * nc.nrm), 6) AS cosine,
             row_number() OVER (PARTITION BY d.query_id
                                ORDER BY d.dot / (nq.nrm * nc.nrm) DESC,
                                         d.cand_id) AS rnk
      FROM dots d
      JOIN nrm nq ON nq.vec_id = d.query_id
      JOIN nrm nc ON nc.vec_id = d.cand_id
      JOIN lab lq ON lq.vec_id = d.query_id
      JOIN lab lc ON lc.vec_id = d.cand_id
      WHERE lc.label <> lq.label
    )
    SELECT query_id, cand_id, query_label, neg_label, cosine, rnk
    FROM scored WHERE rnk <= {_HN_K}
    ORDER BY query_id, rnk
    """,
)
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: for each query vector, the top-{k}
    most-similar candidates whose LABEL differs — the high-cosine
    impostors contrastive training needs (random negatives are too easy
    to teach a retriever anything; Karpukhin et al.'s DPR popularized
    exactly this mining step). Same exact-cosine scoring as
    `ann_cosine_topk`, with the cross-label filter applied BEFORE the
    rank so every returned row is a usable negative.

    Scale: query side broadcast, candidates stream narrow; the label
    filter prunes before the per-query bounded rank. At 100 TB the
    candidate pool swaps brute-force for the IVF probe
    (`ann_ivf_search`) — the mining logic is unchanged.
    """.format(k=_HN_K)
    e = load(spark, sf_dir, "embeddings")
    withn = e.select(
        "vec_id", "label", "embedding",
        _norm(F.col("embedding")).alias("nrm"),
    )
    q = withn.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_n"),
    )
    c = withn.select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("neg_label"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_n"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(
            (F.col("cand_id") != F.col("query_id"))
            & (F.col("neg_label") != F.col("query_label"))
        )
        .select(
            "query_id",
            "cand_id",
            "query_label",
            "neg_label",
            (
                _dot(F.col("q_emb"), F.col("c_emb"))
                / (F.col("q_n") * F.col("c_n"))
            ).alias("raw_cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("raw_cos"), F.asc("cand_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _HN_K)
        .select(
            "query_id",
            "cand_id",
            "query_label",
            "neg_label",
            F.round("raw_cos", 6).alias("cosine"),
            "rnk",
        )
        .orderBy("query_id", "rnk")
    )


# -------------------------------------------------- curriculum order


@query(
    "documents_curriculum_order",
    oracle=r"""
    WITH sig AS (
      SELECT doc_id, n_chars,
             len(regexp_extract_all(lower(trim(text)), '\S+')) AS words,
             greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
               AS sentences,
             greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')),
                      1) AS syllables
      FROM documents WHERE n_chars > 0
    ),
    scored AS (
      SELECT doc_id, n_chars,
             206.835 - 1.015 * (words * 1.0 / sentences)
               - 84.6 * (syllables * 1.0 / words) AS flesch
      FROM sig WHERE words > 0
    ),
    ranked AS (
      SELECT doc_id, n_chars,
             floor(flesch * 10000 + 0.5) / 10000 AS flesch,
             percent_rank() OVER (ORDER BY n_chars, doc_id) AS r_len,
             percent_rank() OVER (ORDER BY flesch DESC, doc_id) AS r_hard
      FROM scored
    )
    SELECT doc_id, n_chars, flesch,
           floor((r_len + r_hard) / 2 * 10000 + 0.5) / 10000
             AS difficulty,
           row_number() OVER (ORDER BY (r_len + r_hard) / 2, doc_id)
             AS curriculum_rank,
           ntile(4) OVER (ORDER BY (r_len + r_hard) / 2, doc_id) AS stage
    FROM ranked
    ORDER BY curriculum_rank
    """,
)
def documents_curriculum_order(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Curriculum construction: average the percent-ranks of two
    difficulty signals — document length and INVERSE Flesch readability
    (harder text ranks higher) — into a deterministic easy-to-hard
    training order with 4 ntile stages. Rank-averaging makes the
    signals commensurable without distributional assumptions, and the
    (value, doc_id) rank ordering makes the curriculum reproducible to
    the row — rerun it anywhere, same training order (the property the
    A-Res sampler provides for sampling, applied to ordering).

    Scale: the three global orderings (length rank, hardness rank,
    final curriculum order) are exact distributed ranks
    (functions/distributed_rank: range partition -> per-partition rank
    -> broadcast offsets), bit-identical to the window forms with no
    single-partition sort — the plan survives any corpus size.
    """
    from arkflow_spark.functions.distributed_rank import (
        N,
        RN,
        exact_ntile,
        percent_rank_of,
        with_global_order,
    )

    d = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    words = F.regexp_count(F.lower(F.trim(F.col("text"))), F.lit(r"\S+"))
    sentences = F.greatest(
        F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1)
    )
    syllables = F.greatest(
        F.regexp_count(F.lower(F.col("text")), F.lit(r"[aeiouy]+")),
        F.lit(1),
    )
    flesch = (
        206.835
        - 1.015 * (words * 1.0 / sentences)
        - 84.6 * (syllables * 1.0 / words)
    )
    scored = d.select(
        "doc_id", "n_chars", flesch.alias("flesch")
    ).filter(words > 0)
    g1 = (
        with_global_order(scored, [F.asc("n_chars"), F.asc("doc_id")])
        .withColumn("r_len", percent_rank_of(F.col(RN), F.col(N)))
        .drop(RN, N)
    )
    ranked = (
        with_global_order(g1, [F.desc("flesch"), F.asc("doc_id")])
        .withColumn("r_hard", percent_rank_of(F.col(RN), F.col(N)))
        .drop(RN, N)
        .select(
            "doc_id",
            "n_chars",
            quantize(F.col("flesch"), 4).alias("flesch"),
            "r_len",
            "r_hard",
        )
    )
    diff = (F.col("r_len") + F.col("r_hard")) / 2
    cur = with_global_order(
        ranked.withColumn("__diff", diff),
        [F.asc("__diff"), F.asc("doc_id")],
    )
    return cur.select(
        "doc_id",
        "n_chars",
        "flesch",
        quantize(F.col("__diff"), 4).alias("difficulty"),
        F.col(RN).alias("curriculum_rank"),
        exact_ntile(F.col(RN), F.col(N), 4).alias("stage"),
    ).orderBy("curriculum_rank")


# -------------------------------------------------- power analysis

# two-sided alpha=0.05, power=0.8: (z_{alpha/2} + z_{beta})^2
_Z_SUM_SQ = (1.959964 + 0.841621) ** 2
_MDE_FRAC = 0.05  # detect a 5% lift over the baseline mean


@query(
    "events_power_analysis",
    oracle=f"""
    WITH mom AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(value) AS sv, SUM(value * value) AS svv
      FROM events GROUP BY event_type
    )
    SELECT event_type, n,
           floor(sv / n * 10000 + 0.5) / 10000 AS mean_value,
           floor((svv - sv * sv / n) / (n - 1) * 10000 + 0.5) / 10000
             AS variance,
           floor(sv / n * {_MDE_FRAC} * 10000 + 0.5) / 10000 AS mde,
           CAST(ceil(2 * {_Z_SUM_SQ} * ((svv - sv * sv / n) / (n - 1))
                     / ((sv / n * {_MDE_FRAC})
                        * (sv / n * {_MDE_FRAC}))) AS BIGINT)
             AS n_per_arm
    FROM mom
    ORDER BY event_type
    """,
)
def events_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-experiment power analysis per metric stream: the per-arm
    sample size n = 2 (z_a/2 + z_b)^2 sigma^2 / delta^2 needed to detect
    a {m:.0%} lift over the baseline mean at alpha=0.05, power=0.8 —
    the sizing step that belongs BEFORE `events_diff_in_diff` /
    `events_welch_ttest` (an underpowered test is a random-number
    generator). Variance comes from one exact-moment pass; z constants
    are shared literals.

    Scale: a single map-side-combinable moment aggregation — the whole
    analysis is one reduction regardless of stream size.
    """.format(m=_MDE_FRAC)
    e = load(spark, sf_dir, "events")
    mom = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("value").alias("sv"),
        F.sum(F.col("value") * F.col("value")).alias("svv"),
    )
    mean = F.col("sv") / F.col("n")
    var = (F.col("svv") - F.col("sv") * F.col("sv") / F.col("n")) / (
        F.col("n") - 1
    )
    mde = mean * _MDE_FRAC
    return mom.select(
        "event_type",
        "n",
        quantize(mean, 4).alias("mean_value"),
        quantize(var, 4).alias("variance"),
        quantize(mde, 4).alias("mde"),
        F.ceil(2 * _Z_SUM_SQ * var / (mde * mde))
        .cast("bigint")
        .alias("n_per_arm"),
    ).orderBy("event_type")
