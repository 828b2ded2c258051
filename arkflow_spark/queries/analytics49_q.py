"""Round-5 batch 49: Matryoshka prefix-dimension recall, b-bit minhash
calibration.

- `embedding_matryoshka_prefix_recall` — recall@5 of exact top-k
  retrieval using only the first 16 / 32 dimensions vs the full
  64-dim ranking: the evaluation behind Matryoshka-style dimension
  truncation (store/scan a prefix, rerank with the full vector). High
  prefix recall means the cheap index can be 4x smaller — the
  measurement to run BEFORE adopting truncation, per corpus.
- `dedup_minhash_bbit_calibration` — b-bit minwise hashing (b=1, Li &
  Koenig): keep only the lowest bit of each of the 16 minhash slots (16
  bits vs 16 BIGINTs per doc) and compare, per LSH candidate pair, the
  exact Jaccard vs the full-slot estimate (agreeing slots / 16) vs the
  1-bit estimate (2 * agreeing bits / 16 - 1). The calibration table
  that justifies shrinking a 100 TB signature store ~64x.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------- Matryoshka prefix-dim recall

_MAT_N_QUERIES = 25
_MAT_K = 5
_MAT_PREFIXES = (16, 32)


@query(
    "embedding_matryoshka_prefix_recall",
    oracle=f"""
    WITH x AS (
      SELECT vec_id, g.i AS i, CAST(embedding[g.i] AS DOUBLE) AS v
      FROM embeddings CROSS JOIN generate_series(1, 64) g(i)
      WHERE g.i <= len(embedding)
    ),
    nrm AS (
      SELECT vec_id,
             sqrt(SUM(v * v)) AS n64,
             sqrt(SUM(CASE WHEN i <= 16 THEN v * v ELSE 0 END)) AS n16,
             sqrt(SUM(CASE WHEN i <= 32 THEN v * v ELSE 0 END)) AS n32
      FROM x GROUP BY vec_id
      HAVING SUM(CASE WHEN i <= 16 THEN v * v ELSE 0 END) > 0
    ),
    dots AS (
      SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
             SUM(a.v * b.v) AS d64,
             SUM(CASE WHEN a.i <= 16 THEN a.v * b.v ELSE 0 END) AS d16,
             SUM(CASE WHEN a.i <= 32 THEN a.v * b.v ELSE 0 END) AS d32
      FROM x a JOIN x b ON a.i = b.i AND a.vec_id <> b.vec_id
      WHERE a.vec_id < {_MAT_N_QUERIES}
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.query_id, d.cand_id,
             row_number() OVER (PARTITION BY d.query_id
               ORDER BY d.d64 / (qa.n64 * qb.n64) DESC, d.cand_id)
               AS r64,
             row_number() OVER (PARTITION BY d.query_id
               ORDER BY d.d16 / (qa.n16 * qb.n16) DESC, d.cand_id)
               AS r16,
             row_number() OVER (PARTITION BY d.query_id
               ORDER BY d.d32 / (qa.n32 * qb.n32) DESC, d.cand_id)
               AS r32
      FROM dots d
      JOIN nrm qa ON qa.vec_id = d.query_id
      JOIN nrm qb ON qb.vec_id = d.cand_id
    )
    SELECT query_id,
           floor(SUM(CASE WHEN r64 <= {_MAT_K} AND r16 <= {_MAT_K}
                          THEN 1 ELSE 0 END) * 1.0 / {_MAT_K}
                 * 10000 + 0.5) / 10000 AS recall_16,
           floor(SUM(CASE WHEN r64 <= {_MAT_K} AND r32 <= {_MAT_K}
                          THEN 1 ELSE 0 END) * 1.0 / {_MAT_K}
                 * 10000 + 0.5) / 10000 AS recall_32
    FROM scored
    GROUP BY query_id
    ORDER BY query_id
    """,
)
def embedding_matryoshka_prefix_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Matryoshka truncation eval: for each of the first {q} query
    vectors, exact cosine top-{k} using ONLY the first 16 / 32
    dimensions, scored as recall against the full 64-dim top-{k}.
    Prefix recall near 1 licenses a 4x (or 2x) smaller scan index with
    full-dim rerank (`ann_ivf_pq_rerank`'s shape); near-random recall
    says the embedding packs no information into its prefix and
    truncation needs a trained Matryoshka model instead.

    One pair-dots aggregate produces all three prefix dot products in a
    single pass (conditional sums over the shared index join); the
    query side is bounded ({q} vectors) and broadcastable. Rankings
    tie-break on cand_id; cosines are mirrored double expressions
    (anisotropy discipline). Vectors whose 16-dim prefix is all zero
    are excluded in both engines (prefix cosine undefined).
    """.format(q=_MAT_N_QUERIES, k=_MAT_K)
    from arkflow_spark.queries.vector_q import _dot, _norm

    e = load(spark, sf_dir, "embeddings")

    def pre(col, d):
        return F.slice(col, 1, d)

    emb = F.col("embedding")
    withn = e.select(
        "vec_id",
        "embedding",
        _norm(emb).alias("n64"),
        _norm(pre(emb, 16)).alias("n16"),
        _norm(pre(emb, 32)).alias("n32"),
    ).filter(F.col("n16") > 0)
    q = withn.filter(F.col("vec_id") < _MAT_N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("n64").alias("qn64"),
        F.col("n16").alias("qn16"),
        F.col("n32").alias("qn32"),
    )
    qe = F.col("q_emb")
    scored = withn.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("cand_id"),
        (_dot(qe, emb) / (F.col("qn64") * F.col("n64"))).alias("c64"),
        (
            _dot(pre(qe, 16), pre(emb, 16))
            / (F.col("qn16") * F.col("n16"))
        ).alias("c16"),
        (
            _dot(pre(qe, 32), pre(emb, 32))
            / (F.col("qn32") * F.col("n32"))
        ).alias("c32"),
    )

    def rnk(c):
        return F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.desc(c), F.asc("cand_id")
            )
        )

    ranked = (
        scored.withColumn("r64", rnk("c64"))
        .withColumn("r16", rnk("c16"))
        .withColumn("r32", rnk("c32"))
    )
    k = _MAT_K
    return (
        ranked.groupBy("query_id")
        .agg(
            quantize(
                F.sum(
                    F.when(
                        (F.col("r64") <= k) & (F.col("r16") <= k), 1
                    ).otherwise(0)
                )
                * 1.0
                / k, 4
            ).alias("recall_16"),
            quantize(
                F.sum(
                    F.when(
                        (F.col("r64") <= k) & (F.col("r32") <= k), 1
                    ).otherwise(0)
                )
                * 1.0
                / k, 4
            ).alias("recall_32"),
        )
        .orderBy("query_id")
    )


# --------------------------------------- b-bit minhash calibration


def _bbit_oracle() -> str:
    from arkflow_spark.queries.dedup_q import (
        _ORACLE_SHINGLES,
        N_HASHES,
    )

    sig_cols = ", ".join(
        f"MIN(h1 + {i} * h2) AS s{i}" for i in range(N_HASHES)
    )
    band_rows = ", ".join(
        "({b}, CAST(s{a0} AS VARCHAR) || ',' || CAST(s{a1} AS VARCHAR)"
        " || ',' || CAST(s{a2} AS VARCHAR) || ',' ||"
        " CAST(s{a3} AS VARCHAR))".format(
            b=b, a0=4 * b, a1=4 * b + 1, a2=4 * b + 2, a3=4 * b + 3
        )
        for b in range(N_HASHES // 4)
    )
    mh_agree = " + ".join(
        f"CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END"
        for i in range(N_HASHES)
    )
    bit_agree = " + ".join(
        f"CASE WHEN sa.s{i} % 2 = sb.s{i} % 2 THEN 1 ELSE 0 END"
        for i in range(N_HASHES)
    )
    return f"""
    WITH {_ORACLE_SHINGLES},
    hashed AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h1,
             CAST(('0x' || substr(md5(shingle), 16, 10)) AS BIGINT) AS h2
      FROM sh
    ),
    sig AS (
      SELECT doc_id, {sig_cols} FROM hashed GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, b.band, b.band_key
      FROM sig, LATERAL (VALUES {band_rows}) AS b(band, band_key)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS shared
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT c.doc_a, c.doc_b,
           floor(COALESCE(v.shared, 0) * 1.0
                 / (za.n + zb.n - COALESCE(v.shared, 0))
                 * 10000 + 0.5) / 10000 AS j_exact,
           CAST(({mh_agree}) AS BIGINT) AS mh_agree,
           CAST(({bit_agree}) AS BIGINT) AS bit_agree,
           floor(({mh_agree}) * 1.0 / {N_HASHES} * 10000 + 0.5)
             / 10000 AS j_minhash,
           floor((2.0 * ({bit_agree}) / {N_HASHES} - 1)
                 * 10000 + 0.5) / 10000 AS j_bbit
    FROM cand c
    LEFT JOIN verified v
      ON v.doc_a = c.doc_a AND v.doc_b = c.doc_b
    JOIN sig sa ON sa.doc_id = c.doc_a
    JOIN sig sb ON sb.doc_id = c.doc_b
    JOIN sizes za ON za.doc_id = c.doc_a
    JOIN sizes zb ON zb.doc_id = c.doc_b
    ORDER BY 1, 2
    """


@query("dedup_minhash_bbit_calibration", oracle=_bbit_oracle())
def dedup_minhash_bbit_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """b-bit minwise hashing calibration (b=1, Li & Koenig 2010): for
    every LSH candidate pair, the exact shingle Jaccard next to the
    full-slot minhash estimate (agreeing slots / 16) and the 1-bit
    estimate (2 * agreeing-lowest-bits / 16 - 1, the unbiased b=1
    estimator for large hash domains). Storing 1 bit per slot shrinks a
    signature store 64x; this table shows, on THIS corpus, what that
    costs in estimator noise — the measurement behind choosing b.

    Reuses `dedup_minhash_lsh`'s portable hash family (h_i = h1 + i*h2
    from one md5 per shingle) and banded candidate generation, so
    candidates are bucket-bounded, never all-pairs; the exact-Jaccard
    join touches candidates only.
    """
    from arkflow_spark.queries.dedup_q import (
        N_HASHES,
        _mh_signatures,
        _shingles,
    )

    # r9: no persist on the shingle frame — it is already a
    # materialized doc_id-bucketed INDEX table, so its two join-side
    # reads are cheap parallel bucket scans; caching it pinned a
    # corpus-scaled frame in executor memory for no local win
    # (interleaved A/B: persist 3.05s vs lazy 3.02s warm) and is
    # backwards at 100 TB (the triangle-family r8 lesson). The
    # candidate table keeps its persist: it is join-derived, bounded
    # by LSH collisions, and referenced twice.
    sh = _shingles(spark, sf_dir)
    # r7: sig reads the materialized signature table (one build per
    # session shared by the MinHash family); it feeds the band explode
    # AND both signature join sides from bucketed storage.
    sig = _mh_signatures(spark, sf_dir)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"s{4 * b + j}").cast("string")
                        for j in range(4)
                    ],
                ).alias("band_key"),
            )
            for b in range(N_HASHES // 4)
        ]
    )
    bands = sig.select(
        "doc_id", F.explode(band_structs).alias("bk")
    ).select(
        "doc_id",
        F.col("bk.band").alias("band"),
        F.col("bk.band_key").alias("band_key"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
        .persist()
    )
    shared = (
        cand.join(
            sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a"
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared"))
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n").alias("n_a"),
        *[F.col(f"s{i}").alias(f"a{i}") for i in range(N_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n").alias("n_b"),
        *[F.col(f"s{i}").alias(f"b{i}") for i in range(N_HASHES)],
    )
    mh_agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    )
    bit_agree = sum(
        F.when(
            F.col(f"a{i}") % 2 == F.col(f"b{i}") % 2, 1
        ).otherwise(0)
        for i in range(N_HASHES)
    )
    shr = F.coalesce("shared", F.lit(0))
    return (
        cand.join(shared, ["doc_a", "doc_b"], "left")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            quantize(
                shr * 1.0 / (F.col("n_a") + F.col("n_b") - shr), 4
            ).alias("j_exact"),
            mh_agree.cast("bigint").alias("mh_agree"),
            bit_agree.cast("bigint").alias("bit_agree"),
            quantize(mh_agree * 1.0 / N_HASHES, 4).alias("j_minhash"),
            quantize(2.0 * bit_agree / N_HASHES - 1, 4).alias("j_bbit"),
        )
        .orderBy("doc_a", "doc_b")
    )
