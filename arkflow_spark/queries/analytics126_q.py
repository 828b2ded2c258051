"""Round-6 batch 126: diversity-aware retrieval eval, temporal Ripley
K, length-conditioned dedup rates.

- `ann_retrieval_alpha_ndcg` — alpha-NDCG@5 (Clarke et al. 2008) of
  the cosine ranking: each additional result from an already-covered
  label earns (1-alpha)^seen of its gain, so redundant
  neighbour lists score below diverse ones at equal relevance.
  `ann_retrieval_ndcg` scores relevance, `ann_mmr_rerank` OPTIMIZES
  diversity — this EVALUATES it, closing the loop.
- `events_ripley_k` — Ripley's K for the 1-D error-event process:
  the mean number of other errors within t seconds of an error,
  normalized by intensity, against the 2t expectation of a Poisson
  process. K >> 2t = temporal clustering beyond rate variation (the
  spatial-statistics complement to `events_interarrival_burstiness`,
  which summarizes a single scale; K profiles WHICH scales cluster).
- `dedup_rate_by_length_band` — exact-duplicate rate conditioned on
  document length bands: short boilerplate dupes and long mirrored
  dumps need different dedup knobs, and a flat overall rate
  (`dedup_exact`) hides which regime dominates.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ alpha-NDCG

_AN_QUERIES = 20
_AN_K = 5
_AN_ALPHA = 0.5
# discount weights and the ideal DCG (with >= 5 labels the ideal list
# covers a fresh label at every rank: all gains 1) as shared literals
_AN_DISC = [repr(1.0 / math.log2(i + 1)) for i in range(1, _AN_K + 1)]
_AN_IDEAL = repr(sum(1.0 / math.log2(i + 1) for i in range(1, _AN_K + 1)))


@query(
    "ann_retrieval_alpha_ndcg",
    oracle=f"""
    WITH x AS (
      SELECT vec_id, label, g.i AS i, CAST(embedding[g.i] AS DOUBLE) AS v
      FROM embeddings CROSS JOIN generate_series(1, 64) g(i)
      WHERE g.i <= len(embedding)
    ),
    nrm AS (
      SELECT vec_id, sqrt(SUM(v * v)) AS nrm FROM x GROUP BY vec_id
    ),
    lab AS (SELECT vec_id, label FROM embeddings),
    dots AS (
      SELECT a.vec_id AS qid, b.vec_id AS cid, SUM(a.v * b.v) AS dot
      FROM x a JOIN x b ON b.i = a.i AND b.vec_id <> a.vec_id
      WHERE a.vec_id < {_AN_QUERIES}
      GROUP BY 1, 2
    ),
    topk AS (
      SELECT d.qid, d.cid, cl.label,
             row_number() OVER (PARTITION BY d.qid
               ORDER BY d.dot / (nq.nrm * nc.nrm) DESC, d.cid) AS r
      FROM dots d
      JOIN nrm nq ON nq.vec_id = d.qid
      JOIN nrm nc ON nc.vec_id = d.cid
      JOIN lab cl ON cl.vec_id = d.cid
      QUALIFY r <= {_AN_K}
    ),
    seen AS (
      SELECT qid, r,
             COUNT(*) OVER (PARTITION BY qid, label ORDER BY r
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prior_same
      FROM topk
    ),
    disc(r, w) AS (VALUES
      {", ".join(f"({i + 1}, {w})" for i, w in enumerate(_AN_DISC))}
    ),
    gains AS (
      SELECT s.qid,
             CAST(power(1 - {_AN_ALPHA}, s.prior_same) * d.w
                  AS DECIMAL(28,12)) AS g,
             CASE WHEN s.prior_same = 0 THEN 1 ELSE 0 END AS novel
      FROM seen s JOIN disc d ON d.r = s.r
    )
    SELECT CAST(qid AS BIGINT) AS query_id,
           CAST(SUM(novel) AS BIGINT) AS distinct_labels,
           floor(CAST(SUM(g) AS DOUBLE) / {_AN_IDEAL} * 10000 + 0.5)
             / 10000 AS alpha_ndcg
    FROM gains GROUP BY qid ORDER BY query_id
    """,
)
def ann_retrieval_alpha_ndcg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """alpha-NDCG@{k} of the brute-force cosine top-{k} per query
    (alpha = {a}): the i-th result from an already-seen label
    contributes (1-alpha)^seen / log2(rank+1); normalized by the
    ideal list (a fresh label at every rank — this corpus has more
    labels than {k}). 1.0 = relevant AND diverse; a high-NDCG
    low-alpha-NDCG query is a redundancy pocket where
    `ann_mmr_rerank` would pay off. Discount weights and the ideal
    DCG ship as shared literal doubles; the per-rank gains are
    decimal-quantized; power() inputs are exact small integers.

    Scale shape: the `ann_cosine_topk` broadcast-query brute force
    (per-IVF-bucket at 100 TB), one partitioned prior-same window on
    {q} x {k} rows, a literal discount join.
    """.format(k=_AN_K, a=_AN_ALPHA, q=_AN_QUERIES)
    from arkflow_spark.queries.vector_q import _dot, _norm

    e = load(spark, sf_dir, "embeddings")
    withn = e.select(
        "vec_id", "label", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    q = withn.filter(F.col("vec_id") < _AN_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    c = withn.select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("clab"),
        F.col("embedding").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("cid") != F.col("qid"))
        .select(
            "qid",
            "cid",
            "clab",
            (
                _dot(F.col("qe"), F.col("ce"))
                / (F.col("qn") * F.col("cn"))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("cid"))
    topk = (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _AN_K)
    )
    wseen = (
        Window.partitionBy("qid", "clab")
        .orderBy("r")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seen = topk.select(
        "qid", "r", F.count("*").over(wseen).alias("prior_same")
    )
    disc = spark.createDataFrame(
        [(i + 1, float(wv)) for i, wv in enumerate(_AN_DISC)],
        "r INT, w DOUBLE",
    )
    gains = seen.join(F.broadcast(disc), "r").select(
        "qid",
        (
            F.pow(F.lit(1 - _AN_ALPHA), F.col("prior_same")) * F.col("w")
        )
        .cast("decimal(28,12)")
        .alias("g"),
        F.when(F.col("prior_same") == 0, 1).otherwise(0).alias("novel"),
    )
    return (
        gains.groupBy("qid")
        .agg(
            F.sum("novel").cast("bigint").alias("distinct_labels"),
            quantize(
                F.sum("g").cast("double") / float(_AN_IDEAL), 4
            ).alias("alpha_ndcg"),
        )
        .select(
            F.col("qid").cast("bigint").alias("query_id"),
            "distinct_labels",
            "alpha_ndcg",
        )
        .orderBy("query_id")
    )


# ------------------------------------------------ Ripley's K (1-D)

_RK_TS = (60, 300, 900)


@query(
    "events_ripley_k",
    oracle=f"""
    WITH err AS (
      SELECT event_id, epoch_us(ts) // 1000000 AS s
      FROM events WHERE event_type = 'error'
    ),
    spanv AS (
      SELECT CAST(MAX(s) - MIN(s) AS DOUBLE) AS span,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM err
    ),
    ts(t) AS (VALUES {", ".join(f"({t})" for t in _RK_TS)}),
    pairs AS (
      SELECT ts.t, COUNT(*) AS within
      FROM err a
      JOIN err b ON b.event_id <> a.event_id
      JOIN ts ON abs(b.s - a.s) <= ts.t
      GROUP BY ts.t
    )
    SELECT ts.t AS t_seconds,
           CAST(COALESCE(p.within, 0) AS BIGINT) AS pairs_within,
           floor(COALESCE(p.within, 0) / s.n / (s.n / s.span)
                 * 10000 + 0.5) / 10000 AS k_hat,
           CAST(2 * ts.t AS DOUBLE) AS k_poisson,
           COALESCE(p.within, 0) / s.n / (s.n / s.span) > 2 * ts.t
             AS clustered
    FROM ts LEFT JOIN pairs p ON p.t = ts.t CROSS JOIN spanv s
    ORDER BY t_seconds
    """,
)
def events_ripley_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ripley's K for the error-event point process on the time line:
    K(t) = (mean number of OTHER errors within t seconds of an error)
    / intensity, vs the 2t expectation under complete randomness.
    K >> 2t at small t with ~2t at large t = micro-bursts (retry
    storms); elevated at every t = rate-level clustering. The
    multi-scale profile single-number burstiness indices
    (`events_interarrival_burstiness`, Fano) cannot express.

    Scale shape: the minority error stream self-joins under a
    +/-t band constraint (the interval-join shape, pair count bounded
    by rate x t, never corpus-quadratic), a 3-value literal t grid,
    exact counts into one ratio per t.
    """
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "error"
    )
    err = e.select(
        "event_id",
        (F.unix_micros(F.col("ts").cast("timestamp")) / 1000000)
        .cast("bigint")
        .alias("s"),
    )
    spanv = err.agg(
        (F.max("s") - F.min("s")).cast("double").alias("span"),
        F.count("*").cast("double").alias("n"),
    )
    ts = spark.createDataFrame([(t,) for t in _RK_TS], "t INT")
    # band join as an EQUI join: bucket the line into t-sized blocks
    # and probe each event against its own and the two adjacent
    # blocks — hash-joinable, pair count bounded by rate x t (the
    # BroadcastNestedLoopJoin a raw |a-b|<=t predicate would produce
    # is corpus-quadratic work even when the output is small)
    a = (
        err.crossJoin(F.broadcast(ts))
        .select(
            "event_id",
            "s",
            "t",
            F.explode(
                F.array(
                    F.floor(F.col("s") / F.col("t")) - 1,
                    F.floor(F.col("s") / F.col("t")),
                    F.floor(F.col("s") / F.col("t")) + 1,
                )
            ).alias("blk"),
        )
    )
    b = err.crossJoin(F.broadcast(ts)).select(
        F.col("t").alias("bt"),
        F.col("event_id").alias("bid"),
        F.col("s").alias("bs"),
        F.floor(F.col("s") / F.col("t")).alias("bblk"),
    )
    pairs = (
        a.join(
            b,
            (F.col("bt") == F.col("t"))
            & (F.col("bblk") == F.col("blk"))
            & (F.col("bid") != F.col("event_id"))
            & (F.abs(F.col("bs") - F.col("s")) <= F.col("t")),
        )
        .groupBy("t")
        .agg(F.count("*").alias("within"))
    )
    within = F.coalesce(F.col("within"), F.lit(0))
    khat = within / F.col("n") / (F.col("n") / F.col("span"))
    return (
        F.broadcast(ts)
        .join(pairs, "t", "left")
        .crossJoin(F.broadcast(spanv))
        .select(
            F.col("t").alias("t_seconds"),
            within.cast("bigint").alias("pairs_within"),
            quantize(khat, 4).alias("k_hat"),
            (2 * F.col("t")).cast("double").alias("k_poisson"),
            (khat > 2 * F.col("t")).alias("clustered"),
        )
        .orderBy("t_seconds")
    )


# ------------------------------------------------ dedup rate by length

_DL_BANDS = ((0, 200), (200, 500), (500, 1000), (1000, 10**9))


@query(
    "dedup_rate_by_length_band",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, md5(text) AS h, n_chars,
             CASE {" ".join(
               f"WHEN n_chars >= {lo} AND n_chars < {hi} THEN '{lo}+'"
               for lo, hi in _DL_BANDS)}
             END AS band,
             CASE {" ".join(
               f"WHEN n_chars >= {lo} AND n_chars < {hi} THEN {i}"
               for i, (lo, hi) in enumerate(_DL_BANDS))}
             END AS band_ord
      FROM documents
    ),
    grp AS (
      SELECT band, band_ord, h, COUNT(*) AS c FROM b GROUP BY 1, 2, 3
    )
    SELECT band,
           CAST(SUM(c) AS BIGINT) AS n_docs,
           CAST(SUM(c) - COUNT(*) AS BIGINT) AS n_redundant,
           floor((SUM(c) - COUNT(*)) * 1.0 / SUM(c) * 10000 + 0.5)
             / 10000 AS dup_rate,
           CAST(MAX(c) AS BIGINT) AS largest_group
    FROM grp GROUP BY band, band_ord ORDER BY band_ord
    """,
)
def dedup_rate_by_length_band(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact-duplicate rate by document length band ({bands} chars):
    redundant copies (group size - 1 per md5 group) over docs in the
    band, and the largest duplicate group. Duplication concentrated
    in the short band = templated boilerplate (route to
    `text_boilerplate_shingles`); in the long band = mirrored dumps
    (route to `dedup_minhash_lsh` with looser thresholds). One knob
    per regime beats one global knob.

    Scale shape: one md5 rollup (map-side combinable), band-bounded
    output.
    """.format(bands=[f"{lo}-{hi}" for lo, hi in _DL_BANDS])
    d = load(spark, sf_dir, "documents")
    band = None
    band_ord = None
    for i, (lo, hi) in enumerate(_DL_BANDS):
        cond = (F.col("n_chars") >= lo) & (F.col("n_chars") < hi)
        band = (
            F.when(cond, F.lit(f"{lo}+"))
            if band is None
            else band.when(cond, F.lit(f"{lo}+"))
        )
        band_ord = (
            F.when(cond, F.lit(i))
            if band_ord is None
            else band_ord.when(cond, F.lit(i))
        )
    grp = d.select(
        band.alias("band"), band_ord.alias("band_ord"), F.md5("text").alias("h")
    ).groupBy("band", "band_ord", "h").agg(F.count("*").alias("c"))
    return (
        grp.groupBy("band", "band_ord")
        .agg(
            F.sum("c").cast("bigint").alias("n_docs"),
            (F.sum("c") - F.count("*")).cast("bigint").alias(
                "n_redundant"
            ),
            quantize(
                (F.sum("c") - F.count("*")) * 1.0 / F.sum("c"), 4
            ).alias("dup_rate"),
            F.max("c").cast("bigint").alias("largest_group"),
        )
        .orderBy("band_ord")
        .drop("band_ord")
    )
