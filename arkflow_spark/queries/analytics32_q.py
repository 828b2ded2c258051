"""Round-4 batch 32: scalar-quantized ANN, binary-sign Hamming ANN with
exact rerank, label-centroid embedding outliers, degree power-law.

The two vector-compression schemes production vector stores actually
deploy alongside PQ (`pq_q`), plus two embedding/graph QA operators:

- `ann_sq8_topk` — int8 scalar quantization: per-dimension min/max over
  the corpus, 8-bit codes (4x compression over float32), asymmetric
  search (full-precision query vs dequantized candidates).
- `ann_binary_hamming_topk` — 1-bit sign binarization (32x
  compression): Hamming-distance candidate generation over the bit
  codes, then EXACT cosine rerank of the 3k-deep candidate pool — the
  standard two-stage binary-quantization search.
- `embedding_label_outliers` — distance of every vector to its label
  centroid, top-5 farthest per label: the mislabeled-example / corrupt-
  embedding detector run before any contrastive training job.
- `graph_degree_powerlaw` — supplier->part degree distribution in
  doubling (log2) buckets plus the log-log OLS slope: is the graph
  scale-free (slope ~ -2) or bounded? — decides whether graph joins
  need skew handling (`functions/skew.py`).

Determinism: quantization arithmetic is identical double expressions in
both engines; distance folds are left-associated in array order (see
pq_q module docstring); centroid means are decimal-summed.

Reference scope: the arkflow SQL-processor surface (crates/
arkflow-plugin/src/processor/sql.rs); vector ops beyond the reference
per the LLM-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load

DIM = 64
N_QUERIES = 5
TOP_K = 10
RERANK_POOL = 30  # Hamming candidates reranked exactly


def _fold_sum(terms):
    """Left-associated double fold in array order — bit-identical to the
    oracle's ordered ``list_reduce`` (0.0 + t == t in IEEE)."""
    return F.aggregate(terms, F.lit(0.0), lambda acc, t: acc + t)


# ----------------------------------------------------------- SQ8 ANN


@query(
    "ann_sq8_topk",
    oracle=f"""
    WITH x AS (
      SELECT vec_id, g.i AS i, CAST(embedding[g.i] AS DOUBLE) AS v
      FROM embeddings CROSS JOIN generate_series(1, {DIM}) g(i)
      WHERE g.i <= len(embedding)
    ),
    stats AS (
      SELECT i, MIN(v) AS mn, MAX(v) AS mx FROM x GROUP BY i
    ),
    recon AS (
      SELECT x.vec_id, x.i,
             s.mn + floor(COALESCE((x.v - s.mn)
                                   / NULLIF(s.mx - s.mn, 0) * 255, 0)
                          + 0.5) / 255 * (s.mx - s.mn) AS r
      FROM x JOIN stats s ON x.i = s.i
    ),
    d AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             list_reduce(list((q.v - c.r) * (q.v - c.r) ORDER BY q.i),
                         (acc, t) -> acc + t) AS d2
      FROM x q JOIN recon c ON q.i = c.i
      WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
      GROUP BY 1, 2
    )
    SELECT query_id, cand_id, ROUND(d2, 6) AS approx_d2,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT query_id, cand_id, d2,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY d2, cand_id) AS rnk
      FROM d
    )
    WHERE rnk <= {TOP_K}
    ORDER BY query_id, rnk
    """,
)
def ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (SQ8) nearest neighbour: learn per-dimension
    [min, max] over the corpus in one aggregate, store each vector as 64
    uint8 codes (4x smaller than float32), search asymmetrically — the
    full-precision query against dequantized candidates. The quantizer
    every production vector store offers before PQ, because it is
    training-free and loses ~1% recall at 4x compression.

    Scale: the 64-row stats table broadcasts; quantize+dequantize is a
    single codegen'd array `transform` per candidate (no explode of the
    corpus); the query side (constant rows) broadcasts into the
    distance crossJoin, and per-query top-k is a keyed window over the
    candidate stream. One corpus pass, zero wide shuffles of vectors.
    """
    e = load(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id",
        F.posexplode("embedding").alias("i0", "v_f"),
    ).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.col("v_f").cast("double").alias("v"),
    )
    stats = x.groupBy("i").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    )
    arrays = stats.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "mn"))),
            lambda s: s.mn,
        ).alias("mns"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "mx"))),
            lambda s: s.mx,
        ).alias("mxs"),
    )

    def _recon(emb, mns, mxs):
        def dequant(v, i):
            mn = F.element_at(mns, i + 1)
            mx = F.element_at(mxs, i + 1)
            code = F.floor(
                F.when(mx == mn, 0.0).otherwise(
                    (v.cast("double") - mn) / (mx - mn) * 255
                )
                + 0.5
            )
            return mn + code / 255 * (mx - mn)

        return F.transform(emb, dequant)

    cand = e.crossJoin(F.broadcast(arrays)).select(
        F.col("vec_id").alias("cand_id"),
        _recon(F.col("embedding"), F.col("mns"), F.col("mxs")).alias("r"),
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.transform(
            "embedding", lambda v: v.cast("double")
        ).alias("qv"),
    )
    d2 = _fold_sum(
        F.zip_with(
            F.col("qv"), F.col("r"), lambda a, b: (a - b) * (a - b)
        )
    )
    pairs = (
        cand.join(F.broadcast(q), F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", d2.alias("d2"))
    )
    w = Window.partitionBy("query_id").orderBy("d2", "cand_id")
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id",
            "cand_id",
            F.round("d2", 6).alias("approx_d2"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
        .orderBy("query_id", "rnk")
    )


# ------------------------------------------- binary Hamming + rerank


@query(
    "ann_binary_hamming_topk",
    oracle=f"""
    WITH x AS (
      SELECT vec_id, g.i AS i, CAST(embedding[g.i] AS DOUBLE) AS v,
             CASE WHEN CAST(embedding[g.i] AS DOUBLE) > 0
                  THEN 1 ELSE 0 END AS bit
      FROM embeddings CROSS JOIN generate_series(1, {DIM}) g(i)
      WHERE g.i <= len(embedding)
    ),
    ham AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             CAST(SUM(CASE WHEN q.bit <> c.bit THEN 1 ELSE 0 END)
                  AS BIGINT) AS hamming
      FROM x q JOIN x c ON q.i = c.i
      WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
      GROUP BY 1, 2
    ),
    pool AS (
      SELECT query_id, cand_id, hamming FROM (
        SELECT query_id, cand_id, hamming,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY hamming, cand_id) AS hrnk
        FROM ham
      ) WHERE hrnk <= {RERANK_POOL}
    ),
    rer AS (
      SELECT p.query_id, p.cand_id, p.hamming,
             list_reduce(list(q.v * c.v ORDER BY q.i),
                         (acc, t) -> acc + t) AS dot,
             sqrt(list_reduce(list(q.v * q.v ORDER BY q.i),
                              (acc, t) -> acc + t)) AS qn,
             sqrt(list_reduce(list(c.v * c.v ORDER BY q.i),
                              (acc, t) -> acc + t)) AS cn
      FROM pool p
      JOIN x q ON q.vec_id = p.query_id
      JOIN x c ON c.vec_id = p.cand_id AND c.i = q.i
      GROUP BY 1, 2, 3
    )
    SELECT query_id, cand_id, hamming,
           floor(dot / NULLIF(qn * cn, 0) * 10000 + 0.5) / 10000
             AS cosine,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT query_id, cand_id, hamming,  dot, qn, cn,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY dot / NULLIF(qn * cn, 0) DESC, cand_id) AS rnk
      FROM rer
    )
    WHERE rnk <= {TOP_K}
    ORDER BY query_id, rnk
    """,
)
def ann_binary_hamming_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-stage binary-quantization search: binarize every vector to
    its sign bits (32x compression), generate a {pool}-deep candidate
    pool per query by Hamming distance over the bit codes, then rerank
    the pool by EXACT cosine — the retrieve-then-rerank shape every
    binary-quantized vector store (and every RAG stack over one) runs.

    Scale: the Hamming stage is a fold over 64 ints per pair — at a
    real corpus the bit codes pack to one UInt64 and the stage reads
    1/32 of the vector bytes, which is the point of the scheme; the
    exact rerank touches only {pool} candidates/query regardless of
    corpus size. Query side broadcasts; candidate pool per query is a
    keyed top-k window.
    """
    e = load(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda v: v.cast("double"))
    bits = F.transform(
        "embedding",
        lambda v: F.when(v.cast("double") > 0, 1).otherwise(0),
    )
    c = e.select(
        F.col("vec_id").alias("cand_id"),
        as_double.alias("cv"),
        bits.alias("cbits"),
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        as_double.alias("qv"),
        bits.alias("qbits"),
    )
    hamming = _fold_sum(
        F.zip_with(
            F.col("qbits"),
            F.col("cbits"),
            lambda a, b: F.when(a != b, 1.0).otherwise(0.0),
        )
    ).cast("bigint")
    ham = c.join(
        F.broadcast(q), F.col("cand_id") != F.col("query_id")
    ).select("query_id", "cand_id", "qv", "cv", hamming.alias("hamming"))
    hw = Window.partitionBy("query_id").orderBy("hamming", "cand_id")
    pool = ham.withColumn("hrnk", F.row_number().over(hw)).filter(
        F.col("hrnk") <= RERANK_POOL
    )
    dot = _fold_sum(F.zip_with("qv", "cv", lambda a, b: a * b))
    qn = F.sqrt(_fold_sum(F.zip_with("qv", "qv", lambda a, b: a * b)))
    cn = F.sqrt(_fold_sum(F.zip_with("cv", "cv", lambda a, b: a * b)))
    cos = F.try_divide(dot, qn * cn)
    rw = Window.partitionBy("query_id").orderBy(
        F.desc_nulls_last("cos_raw"), "cand_id"
    )
    return (
        pool.select(
            "query_id", "cand_id", "hamming", cos.alias("cos_raw")
        )
        .withColumn("rnk", F.row_number().over(rw))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id",
            "cand_id",
            "hamming",
            quantize(F.col("cos_raw"), 4).alias("cosine"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
        .orderBy("query_id", "rnk")
    )


ann_binary_hamming_topk.__doc__ = ann_binary_hamming_topk.__doc__.replace(
    "{pool}", str(RERANK_POOL)
)


# ------------------------------------------- label-centroid outliers

_OUTLIER_K = 5


@query(
    "embedding_label_outliers",
    oracle=f"""
    WITH x AS (
      SELECT vec_id, label, g.i AS i,
             CAST(embedding[g.i] AS DOUBLE) AS v
      FROM embeddings CROSS JOIN generate_series(1, {DIM}) g(i)
      WHERE g.i <= len(embedding)
    ),
    cent AS (
      SELECT label, i,
             CAST(SUM(CAST(floor(v * 1000000 + 0.5) / 1000000
                           AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*) AS c
      FROM x GROUP BY label, i
    ),
    d AS (
      SELECT x.vec_id, x.label,
             list_reduce(list((x.v - cent.c) * (x.v - cent.c)
                              ORDER BY x.i),
                         (acc, t) -> acc + t) AS d2
      FROM x JOIN cent ON x.label = cent.label AND x.i = cent.i
      GROUP BY 1, 2
    )
    SELECT label, vec_id,
           floor(sqrt(d2) * 10000 + 0.5) / 10000 AS centroid_dist,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT label, vec_id, d2,
             row_number() OVER (PARTITION BY label
                                ORDER BY d2 DESC, vec_id) AS rnk
      FROM d
    )
    WHERE rnk <= {_OUTLIER_K}
    ORDER BY label, rnk
    """,
)
def embedding_label_outliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding QA before contrastive/classifier training: compute each
    label's centroid, rank every vector by distance to its OWN label
    centroid, surface the top-{k} farthest per label — the standard
    mislabeled-example / corrupt-embedding sweep (a vector far from its
    class center is either mislabeled, truncated, or from a different
    encoder checkpoint).

    Scale: centroids are label x dim cells (tiny — broadcast); the
    distance pass is one codegen'd fold per vector against its
    broadcast centroid row, and the per-label top-{k} is a keyed
    window. Per-dimension means are decimal-summed so both engines
    produce bit-identical centroids.
    """
    e = load(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("i0", "v_f"),
    ).select(
        "vec_id",
        "label",
        (F.col("i0") + 1).alias("i"),
        F.col("v_f").cast("double").alias("v"),
    )
    cent = x.groupBy("label", "i").agg(
        (
            F.sum(
                quantize(F.col("v"), 6).cast(
                    "decimal(18,6)"
                )
            ).cast("double")
            / F.count("*")
        ).alias("c")
    )
    cent_arr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))),
            lambda s: s.c,
        ).alias("cs")
    )
    d2 = _fold_sum(
        F.zip_with(
            F.transform("embedding", lambda v: v.cast("double")),
            F.col("cs"),
            lambda a, b: (a - b) * (a - b),
        )
    )
    w = Window.partitionBy("label").orderBy(F.desc("d2"), "vec_id")
    return (
        e.join(F.broadcast(cent_arr), "label")
        .select("label", "vec_id", d2.alias("d2"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _OUTLIER_K)
        .select(
            "label",
            "vec_id",
            quantize(F.sqrt("d2"), 4).alias("centroid_dist"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
        .orderBy("label", "rnk")
    )


embedding_label_outliers.__doc__ = embedding_label_outliers.__doc__.replace(
    "{k}", str(_OUTLIER_K)
)


# ------------------------------------------------ degree power-law


@query(
    "graph_degree_powerlaw",
    oracle=r"""
    WITH deg AS (
      SELECT l_suppkey AS node,
             COUNT(DISTINCT l_partkey) AS degree
      FROM lineitem GROUP BY l_suppkey
    ),
    buckets AS (
      -- floor(log2(degree)) via the binary-string length: integer-exact,
      -- immune to the power-of-two ulp flips a double log2 can produce
      SELECT CAST(length(format('{:b}', degree)) - 1 AS BIGINT)
               AS log2_bucket,
             COUNT(*) AS n_nodes
      FROM deg GROUP BY 1
    ),
    pts AS (
      SELECT log2_bucket, n_nodes,
             log2_bucket * 1.0 AS lx,
             floor(ln(n_nodes) / ln(2) * 1000000 + 0.5) / 1000000 AS ly
      FROM buckets
    ),
    fit AS (
      SELECT COUNT(*) AS k,
             CAST(SUM(CAST(lx AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(ly AS DECIMAL(18,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(lx * lx AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(floor(lx * ly * 1000000 + 0.5) / 1000000
                           AS DECIMAL(18,6))) AS DOUBLE) AS sxy
      FROM pts
    )
    SELECT p.log2_bucket, CAST(p.n_nodes AS BIGINT) AS n_nodes,
           floor((f.k * f.sxy - f.sx * f.sy)
                 / NULLIF(f.k * f.sxx - f.sx * f.sx, 0)
                 * 10000 + 0.5) / 10000 AS loglog_slope
    FROM pts p CROSS JOIN fit f
    ORDER BY p.log2_bucket
    """,
)
def graph_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution shape of the supplier->part bipartite graph:
    node degrees in doubling (log2) buckets plus the OLS slope of
    log2(count) on log2(degree) — slope near -2 says scale-free hubs
    exist and every graph join over this edge set needs the skew
    toolkit (`events_skew_salted_agg` / AQE skew join); a flat shallow
    slope says uniform degrees and plain hash joins are safe. The
    pre-flight check before running `graph_pagerank_bucketed` on a new
    edge table.

    Scale: degree = one count-distinct aggregate on the edge table;
    everything after runs on the log2-bucket histogram (<= 64 rows) —
    the fit is a single-row broadcast back onto the bucket list.
    """
    li = load(spark, sf_dir, "lineitem")
    deg = li.groupBy(F.col("l_suppkey").alias("node")).agg(
        F.count_distinct("l_partkey").alias("degree")
    )
    # floor(log2(degree)) via binary-string length: integer-exact in
    # both engines (a double log2 can ulp-flip on powers of two)
    pts = deg.groupBy(
        (F.length(F.bin("degree")) - 1)
        .cast("bigint")
        .alias("log2_bucket")
    ).agg(F.count("*").alias("n_nodes"))
    ly = quantize(F.log(2.0, "n_nodes"), 6)
    pts = pts.select(
        "log2_bucket",
        "n_nodes",
        (F.col("log2_bucket") * 1.0).alias("lx"),
        ly.alias("ly"),
    )
    fit = pts.agg(
        F.count("*").alias("k"),
        F.sum(F.col("lx").cast("decimal(18,6)")).cast("double").alias("sx"),
        F.sum(F.col("ly").cast("decimal(18,6)")).cast("double").alias("sy"),
        F.sum((F.col("lx") * F.col("lx")).cast("decimal(18,6)"))
        .cast("double")
        .alias("sxx"),
        F.sum(
            quantize(F.col("lx") * F.col("ly"), 6).cast("decimal(18,6)")
        )
        .cast("double")
        .alias("sxy"),
    )
    slope = F.try_divide(
        F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"),
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx"),
    )
    return (
        pts.crossJoin(F.broadcast(fit))
        .select(
            "log2_bucket",
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            quantize(slope, 4).alias("loglog_slope"),
        )
        .orderBy("log2_bucket")
    )
