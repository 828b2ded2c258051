"""ML feature queries: exact TF-IDF (oracled) and MLlib KMeans-IVF
(rows-only; iterative algorithm, not SQL-expressible).

The exact TF-IDF here is the correctness contract for the hashed
``arkflow_spark.ml.tfidf_pipeline`` scale path: same tokenizer regex, same
idf formula (MLlib's ``ln((N+1)/(df+1))``), computed with explicit
DataFrame ops so DuckDB can verify it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load

TERM_RE = "[a-z]{2,}"
TOP_TERMS = 5


@query(
    "text_tfidf",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '{TERM_RE}')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2
    ),
    dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             ROUND(tf.tf * ln((n.n_docs + 1.0) / (dfreq.df + 1.0)), 4)
               AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf, rnk
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
      FROM scored
    )
    WHERE rnk <= {TOP_TERMS}
    ORDER BY doc_id, rnk
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact TF-IDF, top-{TOP_TERMS} terms per document (MLlib idf formula
    ``ln((N+1)/(df+1))``; ranking on the ROUNDED score so both engines rank
    identical doubles, term as deterministic tie-break).

    Scale notes: tf is one shuffle on (doc_id, term) with map-side partial
    aggregation; df aggregates the (already distinct) tf pairs on term and
    is vocabulary-sized → broadcast into the scoring join; N rides along as
    a broadcast single-row aggregate (no driver-side collect). The hashed
    MLlib pipeline (`arkflow_spark.ml.tfidf_pipeline`) replaces the
    vocabulary join entirely at 100 TB; this query is its oracle-checked
    semantic baseline.
    """
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit(TERM_RE), 0)
        ).alias("term"),
    )
    # tf feeds BOTH the df aggregation and the scoring join; persist it so
    # the shingle-style DAG computes the (doc_id, term) shuffle once (at
    # 100 TB: a staging table — Spark has no cross-subtree CSE)
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf")).persist()
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                4,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_TERMS)
        .select("doc_id", "term", "tf", "df", "tfidf", "rnk")
        .orderBy("doc_id", "rnk")
    )


@query(
    "ml_kmeans_ivf",
    oracle="""
    SELECT COUNT(*) AS n_vectors,
           TRUE AS buckets_within_k,
           TRUE AS all_assigned_nearest
    FROM embeddings
    """,
)
def ml_kmeans_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib KMeans coarse quantizer over `embeddings` (k=8, fixed seed).

    Centroid positions are MLlib-internal (no cross-engine value oracle),
    but the *contract* of a correct quantizer is checkable and hashed:
    every vector is assigned (exact count), bucket ids stay within [0, k),
    and every assignment is the argmin centroid — verified by re-computing
    all k distances per vector against the model's own centroids (a
    broadcast of k×dim floats, narrow stage) and expecting zero
    violations. An MLlib regression or a drifted assignment path flips a
    boolean and hash-mismatches the driver row.

    Scale notes: KMeans cost = iterations × (one pass + k×dim centroid
    broadcast); assignment and the verification join are narrow row-local
    transforms — the same shapes MLlib runs on real clusters.
    """
    from arkflow_spark.ml import assign_buckets, fit_kmeans_ivf

    k = 8
    e = load(spark, sf_dir, "embeddings")
    model = fit_kmeans_ivf(e, k=k, seed=42)
    assigned = assign_buckets(model, e).select("vec_id", "bucket")
    centers = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cid int, center array<double>",
    )
    dist2 = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            F.col("center"),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    per_vec = (
        e.select("vec_id", "embedding")
        .join(assigned, "vec_id")
        .crossJoin(F.broadcast(centers))
        .select(
            "vec_id",
            "bucket",
            "cid",
            dist2.alias("d2"),
        )
        .groupBy("vec_id", "bucket")
        .agg(
            F.min("d2").alias("min_d2"),
            F.min(F.when(F.col("cid") == F.col("bucket"), F.col("d2"))).alias(
                "own_d2"
            ),
        )
    )
    return per_vec.agg(
        F.count("*").alias("n_vectors"),
        (
            (F.min("bucket") >= 0) & (F.max("bucket") < k)
        ).alias("buckets_within_k"),
        (
            F.count(
                F.when(F.col("own_d2") > F.col("min_d2") + 1e-9, True)
            )
            == 0
        ).alias("all_assigned_nearest"),
    )


@query(
    "documents_quality_classifier",
    oracle=r"""
    WITH f AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
             len(list_distinct(regexp_split_to_array(trim(text), '\s+')))
               * 1.0
               / len(regexp_split_to_array(trim(text), '\s+'))
               AS uniq_ratio
      FROM documents
    )
    SELECT COUNT(*) AS n_docs,
           COUNT(*) FILTER (
             WHERE n_words >= 30 AND n_words <= 400 AND uniq_ratio >= 0.3
           ) AS n_pos_labels,
           TRUE AS preds_match_linear,
           TRUE AS accuracy_ge_bound
    FROM f
    """,
)
def documents_quality_classifier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fasttext-style document-quality classifier, MLlib edition: build
    deterministic per-doc features (word count, mean word length, unique-
    token ratio), label with a heuristic quality rule, train MLlib
    LogisticRegression, and score the corpus — the standard bootstrap for
    a learned quality filter when no human labels exist yet.

    Like `ml_kmeans_ivf`, the learned weights are MLlib-internal, so the
    hashable contract is: exact corpus/label counts (the feature+label
    pipeline is re-computed independently by DuckDB), a ``bool_and`` that
    every MLlib prediction equals the sign of the model's own linear
    score re-derived with DataFrame arithmetic (catches feature-assembly
    or scoring drift), and a >= 0.85 training-accuracy floor (measured
    0.93; the label rule is near-linearly separable by construction).

    Scale notes: features are a narrow projection; LBFGS does
    treeAggregate rounds over the cached feature frame (no shuffle
    growth with corpus size beyond the aggregate tree); scoring is
    row-local. The same fitted model streams via ``ml.score_stream``.
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    d = load(spark, sf_dir, "documents")
    words = F.split(F.trim("text"), r"\s+")
    feats = d.select(
        "doc_id",
        F.size(words).alias("n_words"),
        (
            F.length(F.regexp_replace("text", r"\s+", "")) / F.size(words)
        ).alias("mean_wlen"),
        (F.size(F.array_distinct(words)) / F.size(words)).alias(
            "uniq_ratio"
        ),
    ).withColumn(
        "label",
        (
            (F.col("n_words") >= 30)
            & (F.col("n_words") <= 400)
            & (F.col("uniq_ratio") >= 0.3)
        ).cast("double"),
    )
    cols = ["n_words", "mean_wlen", "uniq_ratio"]
    tr = VectorAssembler(inputCols=cols, outputCol="features").transform(
        feats
    )
    model = LogisticRegression(maxIter=50, regParam=0.01).fit(tr)
    w = model.coefficients.toArray()
    b = float(model.intercept)
    margin = (
        sum(F.col(c) * float(w[i]) for i, c in enumerate(cols)) + F.lit(b)
    )
    pred = model.transform(tr).select(
        "label",
        "prediction",
        (margin > 0).cast("double").alias("manual_pred"),
    )
    return pred.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("label").cast("bigint")).alias("n_pos_labels"),
        F.bool_and(F.col("prediction") == F.col("manual_pred")).alias(
            "preds_match_linear"
        ),
        (
            F.avg((F.col("prediction") == F.col("label")).cast("double"))
            >= 0.85
        ).alias("accuracy_ge_bound"),
    )


PCA_ITERS = 3


def _pca_oracle() -> str:
    head = """
    WITH x AS (
      SELECT vec_id, g.i AS i, CAST(embedding[g.i] AS DOUBLE) AS v
      FROM embeddings CROSS JOIN generate_series(1, 64) g(i)
      WHERE g.i <= len(embedding)
    ),
    mu AS (
      SELECT i, CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
               AS m
      FROM x GROUP BY i
    ),
    c AS (
      SELECT x.vec_id, x.i, x.v - mu.m AS cv FROM x JOIN mu USING (i)
    ),
    v0 AS (SELECT i, 0.125 AS w FROM generate_series(1, 64) t(i))"""
    steps = []
    for t in range(1, PCA_ITERS + 1):
        steps.append(f""",
    d{t} AS (
      SELECT c.vec_id,
             CAST(SUM(CAST(c.cv * v.w AS DECIMAL(28,16))) AS DOUBLE)
               AS dot
      FROM c JOIN v{t - 1} v USING (i) GROUP BY c.vec_id
    ),
    s{t} AS (
      SELECT c.i,
             CAST(SUM(CAST(c.cv * d.dot AS DECIMAL(28,16))) AS DOUBLE)
               AS s
      FROM c JOIN d{t} d USING (vec_id) GROUP BY c.i
    ),
    n{t} AS (
      SELECT sqrt(CAST(SUM(CAST(s * s AS DECIMAL(38,18))) AS DOUBLE))
               AS nrm
      FROM s{t}
    ),
    v{t} AS (SELECT i, s / n{t}.nrm AS w FROM s{t} CROSS JOIN n{t})""")
    tail = f"""
    SELECT v.i,
           floor(v.w * 1000000 + 0.5) / 1000000 AS loading,
           floor(n.nrm * 10000 + 0.5) / 10000 AS sigma2_scaled
    FROM v{PCA_ITERS} v CROSS JOIN n{PCA_ITERS} n
    ORDER BY v.i"""
    return head + "".join(steps) + tail


@query("embedding_pca_power", oracle=_pca_oracle())
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus via POWER
    ITERATION (3 unrolled steps), covariance-free: each step computes
    per-row projections t = (x-mu)·v then re-accumulates s = Σ t(x-mu)
    and renormalizes — never materializing the DxD covariance, which is
    the trick that scales PCA to arbitrary row counts (two shuffles per
    iteration: one per-row reduce, one per-dimension reduce).

    Determinism: per-term products are identical doubles; every
    reduction accumulates DECIMAL so partition order cannot drift;
    the final loadings floor-round to 6 decimals (sign is pinned by the
    deterministic all-positive v0). Oracled against an
    identically-unrolled DuckDB CTE chain.
    """
    e = load(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id", F.posexplode("embedding").alias("i0", "vf")
    ).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.col("vf").cast("double").alias("v"),
    )
    mu = x.groupBy("i").agg(
        (
            F.sum(F.col("v").cast("decimal(28,12)")).cast("double")
            / F.count("*")
        ).alias("m")
    )
    c = (
        x.join(F.broadcast(mu), "i")
        .select("vec_id", "i", (F.col("v") - F.col("m")).alias("cv"))
        # r8: pre-partition + sort the cached frame on vec_id so each
        # iteration's s-step joins dots without an exchange (the cache
        # preserves partitioning/ordering); dots was previously
        # BROADCAST — corpus-sized (one row per vector), a driver OOM
        # at scale.
        .repartition("vec_id")
        .persist()
    )
    v = spark.range(1, 65).select(
        F.col("id").alias("i"), F.lit(0.125).alias("w")
    )
    nrm = None
    for _ in range(PCA_ITERS):
        dots = (
            c.join(F.broadcast(v), "i")
            .groupBy("vec_id")
            .agg(
                F.sum(
                    (F.col("cv") * F.col("w")).cast("decimal(28,16)")
                )
                .cast("double")
                .alias("dot")
            )
        )
        s = (
            c.join(dots, "vec_id")
            .groupBy("i")
            .agg(
                F.sum(
                    (F.col("cv") * F.col("dot")).cast("decimal(28,16)")
                )
                .cast("double")
                .alias("s")
            )
            # r8: 64-row frame, but its lineage is a corpus pass and it
            # is referenced by BOTH nrm and the next v — unpersisted,
            # the unrolled 3-step lineage re-instantiated the dots/s
            # corpus aggregates 42x per action (142 Spark jobs).
            .persist()
        )
        nrm = s.agg(
            F.sqrt(
                F.sum(
                    (F.col("s") * F.col("s")).cast("decimal(38,18)")
                ).cast("double")
            ).alias("nrm")
        )
        v = s.crossJoin(F.broadcast(nrm)).select(
            "i", (F.col("s") / F.col("nrm")).alias("w")
        )
    return (
        v.crossJoin(F.broadcast(nrm))
        .select(
            "i",
            quantize(F.col("w"), 6).alias(
                "loading"
            ),
            quantize(F.col("nrm"), 4).alias(
                "sigma2_scaled"
            ),
        )
        .orderBy("i")
    )
