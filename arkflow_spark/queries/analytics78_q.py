"""Round-5 batch 78: cross-modal audits (embeddings joined to their
source documents on vec_id = doc_id).

- `embedding_length_centroid_corr` — Pearson correlation between a
  document's length (raw and log) and its cosine to the corpus
  centroid: the length-leakage audit for UNIT-NORM embeddings (this
  corpus's norms are all 1, so the classic norm-vs-length check is
  vacuous — centroid affinity is where length bias hides instead).
  |r| >> 0 means similarity is partly a length detector.
- `embedding_source_cohesion` — per-source centroid cohesion: the
  mean cosine of each source's documents to their own source
  centroid. Low cohesion = the source is semantically scattered;
  near-1 cohesion = the source is a template factory (near-dup risk
  before `dedup_semantic_cluster` even runs).
- `ann_retrieval_length_bias` — does retrieval drift toward long
  documents? For each held-out query, its top-5 cosine neighbors'
  mean length percentile vs the query's own — aggregated per query
  length quartile. Drift toward 0.5 from both ends is regression to
  the mean; uniform positive drift plus a positive
  `embedding_length_centroid_corr` is the actionable bias.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


_O_NORMS = """
    x AS (
      SELECT vec_id, g.i AS i,
             floor(CAST(embedding[g.i] AS DOUBLE) * 1000000 + 0.5)
               / 1000000 AS v
      FROM embeddings CROSS JOIN generate_series(1, 64) g(i)
      WHERE g.i <= len(embedding)
    ),
    nrm AS (
      SELECT vec_id,
             floor(sqrt(CAST(SUM(CAST(floor(v * v * 1000000 + 0.5)
                        / 1000000 AS DECIMAL(18,6))) AS DOUBLE))
                   * 1000000 + 0.5) / 1000000 AS nrm
      FROM x GROUP BY vec_id
    )
"""


def _spark_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id", F.posexplode("embedding").alias("i0", "raw")
    ).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        quantize(F.col("raw").cast("double"), 6).alias("v"),
    )
    nrm = x.groupBy("vec_id").agg(
        quantize(
            F.sqrt(
                F.sum(
                    quantize(F.col("v") * F.col("v"), 6).cast(
                        "decimal(18,6)"
                    )
                ).cast("double")
            ), 6
        ).alias("nrm")
    )
    return x, nrm


# ------------------------------------------- length-centroid corr


@query(
    "embedding_length_centroid_corr",
    oracle=f"""
    WITH {_O_NORMS},
    cent AS (
      SELECT i,
             floor(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*) * 1000000 + 0.5) / 1000000 AS c
      FROM x GROUP BY i
    ),
    cnorm AS (
      SELECT floor(sqrt(CAST(SUM(CAST(floor(c * c * 1000000 + 0.5)
                        / 1000000 AS DECIMAL(18,6))) AS DOUBLE))
                   * 1000000 + 0.5) / 1000000 AS cn
      FROM cent
    ),
    cosc AS (
      SELECT x.vec_id,
             floor(CAST(SUM(CAST(floor(x.v * ct.c * 1000000 + 0.5)
                  / 1000000 AS DECIMAL(18,6))) AS DOUBLE)
                   / (MAX(n.nrm) * MAX(cn.cn)) * 1000000 + 0.5)
               / 1000000 AS y
      FROM x
      JOIN cent ct ON ct.i = x.i
      JOIN nrm n ON n.vec_id = x.vec_id
      CROSS JOIN cnorm cn
      GROUP BY x.vec_id
    ),
    joined AS (
      SELECT CAST(d.n_chars AS BIGINT) AS len,
             floor(ln(d.n_chars) * 1000000 + 0.5) / 1000000 AS loglen,
             c.y
      FROM cosc c JOIN documents d ON d.doc_id = c.vec_id
      WHERE d.n_chars > 0
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(len) AS BIGINT) AS sx,
             CAST(SUM(CAST(len AS DECIMAL(18,0)) * CAST(len AS
                  DECIMAL(18,0))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(loglen AS DECIMAL(18,6))) AS DOUBLE) AS sl,
             CAST(SUM(CAST(floor(loglen * loglen * 1000000 + 0.5)
                  / 1000000 AS DECIMAL(18,6))) AS DOUBLE) AS sll,
             CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(floor(y * y * 1000000 + 0.5) / 1000000
                  AS DECIMAL(18,6))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(floor(len * y * 1000000 + 0.5) / 1000000
                  AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(floor(loglen * y * 1000000 + 0.5)
                  / 1000000 AS DECIMAL(18,6))) AS DOUBLE) AS sly
      FROM joined
    )
    SELECT n AS n_docs,
           floor((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * 1.0 * sx) * (n * syy - sy * sy))
                 * 10000 + 0.5) / 10000 AS r_centroid_length,
           floor((n * sly - sl * sy)
                 / sqrt((n * sll - sl * sl) * (n * syy - sy * sy))
                 * 10000 + 0.5) / 10000 AS r_centroid_loglength
    FROM s
    """,
)
def embedding_length_centroid_corr(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Length-leakage audit for unit-norm embeddings: Pearson r
    between document length (raw and log) and the document's cosine
    to the CORPUS CENTROID (this corpus's norms are all 1.0 — zero
    variance — so the classic norm-vs-length check is vacuous;
    centroid affinity is where length bias hides on the sphere). All
    moments are decimal-exact sums of 6dp-quantized terms. |r| >> 0 =
    similarity is partly a length detector; normalize or debias
    before retrieval.

    Scale shape: one 64-way explode; the centroid is a 64-row
    broadcast; per-doc dots are bounded decimal reduces; one moment
    aggregate closes it.
    """
    x, nrm = _spark_norms(spark, sf_dir)
    cent = x.groupBy("i").agg(
        quantize(
            F.sum(F.col("v").cast("decimal(18,6)")).cast("double")
            / F.count("*"), 6
        ).alias("c")
    )
    cnorm = cent.agg(
        quantize(
            F.sqrt(
                F.sum(
                    quantize(F.col("c") * F.col("c"), 6).cast("decimal(18,6)")
                ).cast("double")
            ), 6
        ).alias("cn")
    )
    dots = (
        x.join(F.broadcast(cent), "i")
        .groupBy("vec_id")
        .agg(
            F.sum(
                quantize(F.col("v") * F.col("c"), 6).cast("decimal(18,6)")
            )
            .cast("double")
            .alias("dot")
        )
    )
    cosc = (
        dots.join(F.broadcast(nrm), "vec_id")
        .crossJoin(F.broadcast(cnorm))
        .select(
            "vec_id",
            quantize(
                F.col("dot") / (F.col("nrm") * F.col("cn")), 6
            ).alias("y"),
        )
    )
    d = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    joined = cosc.join(
        d.select(F.col("doc_id").alias("vec_id"), "n_chars"), "vec_id"
    ).select(
        F.col("n_chars").cast("bigint").alias("len"),
        quantize(F.log(F.col("n_chars")), 6).alias("loglen"),
        "y",
    )
    s = joined.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("len").cast("bigint").alias("sx"),
        F.sum(
            F.col("len").cast("decimal(18,0)")
            * F.col("len").cast("decimal(18,0)")
        )
        .cast("double")
        .alias("sxx"),
        F.sum(F.col("loglen").cast("decimal(18,6)"))
        .cast("double")
        .alias("sl"),
        F.sum(
            quantize(F.col("loglen") * F.col("loglen"), 6).cast(
                "decimal(18,6)"
            )
        )
        .cast("double")
        .alias("sll"),
        F.sum(F.col("y").cast("decimal(18,6)"))
        .cast("double")
        .alias("sy"),
        F.sum(
            quantize(F.col("y") * F.col("y"), 6).cast("decimal(18,6)")
        )
        .cast("double")
        .alias("syy"),
        F.sum(
            quantize(F.col("len") * F.col("y"), 6).cast("decimal(28,6)")
        )
        .cast("double")
        .alias("sxy"),
        F.sum(
            quantize(F.col("loglen") * F.col("y"), 6).cast("decimal(18,6)")
        )
        .cast("double")
        .alias("sly"),
    )
    n = F.col("n")
    r_len = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (n * F.col("sxx") - F.col("sx") * 1.0 * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    r_log = (n * F.col("sly") - F.col("sl") * F.col("sy")) / F.sqrt(
        (n * F.col("sll") - F.col("sl") * F.col("sl"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        n.alias("n_docs"),
        quantize(r_len, 4).alias("r_centroid_length"),
        quantize(r_log, 4).alias("r_centroid_loglength"),
    )


# ------------------------------------------------ source cohesion


@query(
    "embedding_source_cohesion",
    oracle=f"""
    WITH {_O_NORMS},
    xs AS (
      SELECT x.vec_id, d.source, x.i, x.v
      FROM x JOIN documents d ON d.doc_id = x.vec_id
    ),
    cent AS (
      SELECT source, i,
             floor(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*) * 1000000 + 0.5) / 1000000 AS c
      FROM xs GROUP BY source, i
    ),
    cnorm AS (
      SELECT source,
             floor(sqrt(CAST(SUM(CAST(floor(c * c * 1000000 + 0.5)
                        / 1000000 AS DECIMAL(18,6))) AS DOUBLE))
                   * 1000000 + 0.5) / 1000000 AS cn
      FROM cent GROUP BY source
    ),
    dots AS (
      SELECT xs.source, xs.vec_id,
             CAST(SUM(CAST(floor(xs.v * ct.c * 1000000 + 0.5)
                  / 1000000 AS DECIMAL(18,6))) AS DOUBLE) AS dot
      FROM xs JOIN cent ct ON ct.source = xs.source AND ct.i = xs.i
      GROUP BY xs.source, xs.vec_id
    ),
    coh AS (
      SELECT d.source,
             floor(d.dot / (n.nrm * cn.cn) * 1000000 + 0.5) / 1000000
               AS cos_c
      FROM dots d
      JOIN nrm n ON n.vec_id = d.vec_id
      JOIN cnorm cn ON cn.source = d.source
      WHERE n.nrm > 0 AND cn.cn > 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           floor(CAST(SUM(CAST(cos_c AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*) * 10000 + 0.5) / 10000 AS cohesion_mean,
           floor(MIN(cos_c) * 10000 + 0.5) / 10000 AS cohesion_min
    FROM coh GROUP BY source ORDER BY source
    """,
)
def embedding_source_cohesion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source embedding cohesion: each source's centroid (per-dim
    decimal-exact means, 6dp), then every member's cosine to its own
    centroid; emits mean and minimum cohesion per source. Near-1 mean
    = template factory (semantic near-dup risk); a low minimum names
    sources with polluted membership (mislabeled provenance).

    Scale shape: one 64-way explode joined to the doc dim; centroids
    are (source x 64) rows; the member-dot stage joins on (source, i)
    — bounded panel broadcast; all reductions decimal-quantized.
    """
    x, nrm = _spark_norms(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    xs = x.join(F.broadcast(d), "vec_id")
    cent = xs.groupBy("source", "i").agg(
        quantize(
            F.sum(F.col("v").cast("decimal(18,6)")).cast("double")
            / F.count("*"), 6
        ).alias("c")
    )
    cnorm = cent.groupBy("source").agg(
        quantize(
            F.sqrt(
                F.sum(
                    quantize(F.col("c") * F.col("c"), 6).cast("decimal(18,6)")
                ).cast("double")
            ), 6
        ).alias("cn")
    )
    dots = (
        xs.join(F.broadcast(cent), ["source", "i"])
        .groupBy("source", "vec_id")
        .agg(
            F.sum(
                quantize(F.col("v") * F.col("c"), 6).cast("decimal(18,6)")
            )
            .cast("double")
            .alias("dot")
        )
    )
    coh = (
        dots.join(F.broadcast(nrm), "vec_id")
        .join(F.broadcast(cnorm), "source")
        .filter((F.col("nrm") > 0) & (F.col("cn") > 0))
        .select(
            "source",
            quantize(
                F.col("dot") / (F.col("nrm") * F.col("cn")), 6
            ).alias("cos_c"),
        )
    )
    return (
        coh.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            quantize(
                F.sum(F.col("cos_c").cast("decimal(18,6)")).cast(
                    "double"
                )
                / F.count("*"), 4
            ).alias("cohesion_mean"),
            quantize(F.min("cos_c"), 4).alias("cohesion_min"),
        )
        .orderBy("source")
    )


# ------------------------------------------------ retrieval length bias

_BIAS_K = 5


@query(
    "ann_retrieval_length_bias",
    oracle=f"""
    WITH {_O_NORMS},
    lenpct AS (
      SELECT doc_id,
             floor((percent_rank() OVER (ORDER BY n_chars, doc_id))
                   * 1000000 + 0.5) / 1000000 AS lp,
             source
      FROM documents
    ),
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             SUM(q.v * c.v) AS dot
      FROM x q JOIN x c ON q.i = c.i
      WHERE q.vec_id % 10 = 0 AND c.vec_id % 10 <> 0
      GROUP BY 1, 2
    ),
    top AS (
      SELECT query_id, cand_id
      FROM (
        SELECT query_id, cand_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dot / (nq.nrm * nc.nrm)
                                           DESC, cand_id) AS rnk
        FROM dots
        JOIN nrm nq ON nq.vec_id = query_id
        JOIN nrm nc ON nc.vec_id = cand_id
      ) WHERE rnk <= {_BIAS_K}
    ),
    scored AS (
      SELECT LEAST(CAST(floor(lq.lp * 4) AS BIGINT), 3) AS query_len_q,
             ln.lp AS neigh_lp,
             lq.lp AS query_lp
      FROM top t
      JOIN lenpct ln ON ln.doc_id = t.cand_id
      JOIN lenpct lq ON lq.doc_id = t.query_id
    )
    SELECT query_len_q,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           floor(CAST(SUM(CAST(neigh_lp AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*) * 10000 + 0.5) / 10000
             AS mean_neighbor_len_pct,
           floor(CAST(SUM(CAST(query_lp AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*) * 10000 + 0.5) / 10000
             AS mean_query_len_pct,
           floor((CAST(SUM(CAST(neigh_lp AS DECIMAL(18,6))) AS DOUBLE)
                  - CAST(SUM(CAST(query_lp AS DECIMAL(18,6)))
                         AS DOUBLE)) / COUNT(*) * 10000 + 0.5) / 10000
             AS length_drift
    FROM scored GROUP BY query_len_q ORDER BY query_len_q
    """,
)
def ann_retrieval_length_bias(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Retrieval length-bias eval: for held-out queries (vec_id % 10
    = 0), the mean length percentile of their top-{k} cosine
    neighbors vs the queries' own, per query length QUARTILE. Drift =
    neighbor-minus-query percentile; uniformly positive drift means
    retrieval favors long documents (pair with
    `embedding_length_centroid_corr` for the mechanism). Length
    percentiles are exact percent_rank over (n_chars, doc_id) — here
    via the distributed-rank construction, no 1-partition sort.

    Scale shape: the brute-force scorer is the exact baseline
    (`ann_knn_classify`'s shape — swap in the IVF probe at corpus
    scale); the per-query top-{k} executes as WindowGroupLimit; the
    percentile table broadcasts onto the k x queries pairs.
    """.format(k=_BIAS_K)
    from arkflow_spark.functions.distributed_rank import (
        N,
        RN,
        percent_rank_of,
        with_global_order,
    )
    from arkflow_spark.functions.fanout import parallelize_fanout
    from arkflow_spark.queries.vector_q import _dot, _norm

    d = load(spark, sf_dir, "documents")
    lenpct = with_global_order(
        d.select("doc_id", "n_chars", "source"),
        [F.asc("n_chars"), F.asc("doc_id")],
    ).select(
        "doc_id",
        "source",
        quantize(percent_rank_of(F.col(RN), F.col(N)), 6).alias("lp"),
    )
    e = parallelize_fanout(load(spark, sf_dir, "embeddings"))
    withn = e.select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    q = withn.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_n"),
    )
    c = withn.filter(F.col("vec_id") % 10 != 0).select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_n"),
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "cand_id",
        (
            _dot(F.col("q_emb"), F.col("c_emb"))
            / (F.col("q_n") * F.col("c_n"))
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    top = scored.select(
        "query_id", "cand_id", F.row_number().over(w).alias("rnk")
    ).filter(F.col("rnk") <= _BIAS_K)
    ln = lenpct.select(
        F.col("doc_id").alias("cand_id"), F.col("lp").alias("neigh_lp")
    )
    lq = lenpct.select(
        F.col("doc_id").alias("query_id"),
        F.col("lp").alias("query_lp"),
    )
    scored2 = (
        top.join(F.broadcast(ln), "cand_id")
        .join(F.broadcast(lq), "query_id")
        .withColumn(
            "query_len_q",
            F.least(
                F.floor(F.col("query_lp") * 4).cast("bigint"), F.lit(3)
            ),
        )
    )
    dsum6 = lambda c: F.sum(F.col(c).cast("decimal(18,6)")).cast("double")
    return (
        scored2.groupBy("query_len_q")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            quantize(dsum6("neigh_lp") / F.count("*"), 4).alias(
                "mean_neighbor_len_pct"
            ),
            quantize(dsum6("query_lp") / F.count("*"), 4).alias(
                "mean_query_len_pct"
            ),
            quantize(
                (dsum6("neigh_lp") - dsum6("query_lp")) / F.count("*"), 4
            ).alias("length_drift"),
        )
        .orderBy("query_len_q")
    )
