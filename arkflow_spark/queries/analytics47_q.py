"""Round-5 batch 47: Heaps-law vocabulary growth, within-media duplicate
frames, cross-shard overlap matrix, cosine range search.

- `text_heaps_law_fit` — fit Heaps' law V = k N^beta (vocabulary size
  vs tokens seen) over the deterministic doc_id ingestion order: the
  corpus-growth diagnostic (beta far from ~0.4-0.6 flags synthetic or
  highly duplicated text). The running token/vocabulary totals are
  DISTRIBUTED prefix sums (functions/distributed_rank) — a showcase of
  the round-5 machinery on a corpus-scaled cumulation.
- `multimodal_duplicate_frames` — duplicate-frame detection inside each
  media payload via the frame-sample fingerprints: repeated 64-byte
  chunks = static/padding segments; the per-media dup ratio is the
  standard cheap screen before expensive perceptual hashing.
- `documents_cross_shard_overlap` — the shard-overlap matrix: exact
  Jaccard between each source pair's document-fingerprint sets — the
  corpus-governance readout for "which crawl shards duplicate each
  other" that decides dedup ordering at ingestion.
- `ann_cosine_range_search` — radius search: every candidate within
  cosine >= tau of each query vector (the dual of `ann_cosine_topk`'s
  top-k); the exact broadcast-scan baseline the IVF probe path
  approximates.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------- Heaps' law fit


@query(
    "text_heaps_law_fit",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+'))
               AS w
      FROM documents
    ),
    ntok AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok
      FROM tok GROUP BY 1
    ),
    firstd AS (SELECT w, MIN(doc_id) AS d0 FROM tok GROUP BY 1),
    neww AS (
      SELECT d0 AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_new
      FROM firstd GROUP BY 1
    ),
    perdoc AS (
      SELECT d.doc_id, COALESCE(n.n_tok, 0) AS n_tok,
             COALESCE(w.n_new, 0) AS n_new
      FROM documents d
      LEFT JOIN ntok n USING (doc_id)
      LEFT JOIN neww w USING (doc_id)
    ),
    cum AS (
      SELECT CAST(SUM(n_tok) OVER win AS BIGINT) AS nn,
             CAST(SUM(n_new) OVER win AS BIGINT) AS vv
      FROM perdoc
      WINDOW win AS (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
    ),
    pts AS (
      SELECT ln(nn) AS x, ln(vv) AS y FROM cum WHERE nn > 0 AND vv > 0
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS DECIMAL(18,10))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(18,10))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * y AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sxx
      FROM pts
    )
    SELECT n AS n_points,
           floor((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0)
                 * 10000 + 0.5) / 10000 AS heaps_beta,
           floor(exp((sy - (n * sxy - sx * sy)
                             / NULLIF(n * sxx - sx * sx, 0) * sx) / n)
                 * 10000 + 0.5) / 10000 AS heaps_k
    FROM m
    """,
)
def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V(N) = k N^beta over the deterministic doc_id
    ingestion order: cumulative alphabetic-token count N and cumulative
    distinct-vocabulary size V at every document, then log-log OLS for
    the growth exponent beta and coefficient k. Natural corpora sit
    near beta ~ 0.4-0.6; beta near 0 means the vocabulary saturated
    (heavy duplication / template text), near 1 means near-disjoint
    token streams (IDs, noise) — a one-row corpus-health gauge next to
    `text_zipf_slope` and `text_vocab_coverage_curve`.

    The running-distinct-vocabulary trick: a word contributes to V at
    exactly its FIRST containing document (min doc_id per word — one
    word-keyed reduction), so V's cumulation is an ordinary prefix sum
    of per-doc first-occurrence counts. Both corpus-scaled prefix sums
    run through functions/distributed_rank (range partition ->
    per-partition sums -> broadcast offsets): integer sums, exact at
    any partitioning — no single-partition window. Log points quantize
    to decimals for the OLS moments (mirrored double expressions, exact
    sums); divisions happen once at the end.
    """
    from arkflow_spark.functions.distributed_rank import with_global_order

    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
        ).alias("w"),
    )
    ntok = tok.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    neww = (
        tok.groupBy("w")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_new"))
    )
    perdoc = (
        d.select("doc_id")
        .join(ntok, "doc_id", "left")
        .join(neww, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tok", F.lit(0)).alias("n_tok"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
    )
    cum = with_global_order(
        perdoc,
        [F.asc("doc_id")],
        sums={"tok": F.col("n_tok"), "new": F.col("n_new")},
    ).select(
        F.col("__cum_tok").cast("bigint").alias("nn"),
        F.col("__cum_new").cast("bigint").alias("vv"),
    )
    pts = cum.filter((F.col("nn") > 0) & (F.col("vv") > 0)).select(
        F.log("nn").alias("x"), F.log("vv").alias("y")
    )
    m = pts.agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(18,10)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(18,10)")).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(28,12)"))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,12)"))
        .cast("double")
        .alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    beta = (n * F.col("sxy") - sx * sy) / F.nullif(
        n * F.col("sxx") - sx * sx, F.lit(0.0)
    )
    return m.select(
        F.col("n").alias("n_points"),
        quantize(beta, 4).alias("heaps_beta"),
        quantize(F.exp((sy - beta * sx) / n), 4).alias("heaps_k"),
    )


# ------------------------------------------- duplicate frames per media


@query(
    "multimodal_duplicate_frames",
    oracle="""
    WITH b AS (
      SELECT doc_id AS media_id, text,
             octet_length(encode(text)) AS n
      FROM documents
    ),
    frames AS (
      -- document text is ASCII, so char slicing == byte slicing
      -- (same arithmetic as multimodal_frame_sample's oracle)
      SELECT media_id,
             sha256(substr(text, g.i * 64 + 1, 64)) AS frame_sha
      FROM b CROSS JOIN generate_series(0, 7) g(i)
      WHERE g.i < greatest(1, n // 64)
    )
    SELECT media_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(COUNT(DISTINCT frame_sha) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) - COUNT(DISTINCT frame_sha) AS BIGINT)
             AS n_dup_frames,
           floor((COUNT(*) - COUNT(DISTINCT frame_sha)) * 1.0 / COUNT(*)
                 * 10000 + 0.5) / 10000 AS dup_ratio
    FROM frames
    GROUP BY media_id
    ORDER BY media_id
    """,
)
def multimodal_duplicate_frames(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Within-media duplicate-frame screen: fingerprint each sampled
    frame (the `multimodal_frame_sample` machinery — real mapInPandas
    over binary payloads) and count frames repeating an earlier
    fingerprint. High dup_ratio = static scenes / padding / corrupted
    repeats — the cheap filter run before any perceptual hashing or
    model-based frame scoring, directly on the Arrow batches.

    Plan: the frame fan-out is payload-bounded (<= 8 frames/media),
    then ONE media-keyed distinct-count aggregate; integer-exact.
    """
    from arkflow_spark.operators.multimodal import (
        attach_fake_media,
        frame_sample,
    )

    d = load(spark, sf_dir, "documents")
    media = attach_fake_media(d, text_col="text", id_col="doc_id")
    frames = frame_sample(media, every_n_bytes=64, max_frames=8)
    return (
        frames.groupBy("media_id")
        .agg(
            F.count("*").alias("n_frames"),
            F.countDistinct("frame_sha").alias("n_distinct"),
            (F.count("*") - F.countDistinct("frame_sha"))
            .cast("bigint")
            .alias("n_dup_frames"),
            quantize(
                (F.count("*") - F.countDistinct("frame_sha"))
                * 1.0
                / F.count("*"), 4
            ).alias("dup_ratio"),
        )
        .orderBy("media_id")
    )


# ------------------------------------------- cross-shard overlap matrix


@query(
    "documents_cross_shard_overlap",
    oracle="""
    WITH fps AS (
      SELECT DISTINCT source, md5(text) AS fp FROM documents
    ),
    sizes AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM fps GROUP BY 1
    ),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM fps a JOIN fps b
        ON a.fp = b.fp AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT sa.source AS source_a, sb.source AS source_b,
           sa.n AS n_a, sb.n AS n_b,
           COALESCE(i.n_shared, 0) AS n_shared,
           floor(COALESCE(i.n_shared, 0) * 1.0
                 / (sa.n + sb.n - COALESCE(i.n_shared, 0))
                 * 10000 + 0.5) / 10000 AS jaccard
    FROM sizes sa JOIN sizes sb ON sa.source < sb.source
    LEFT JOIN inter i
      ON i.source_a = sa.source AND i.source_b = sb.source
    ORDER BY source_a, source_b
    """,
)
def documents_cross_shard_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shard-overlap matrix: exact Jaccard between every source pair's
    document-fingerprint sets (0-filled for disjoint pairs). The corpus
    governance readout that decides ingestion/dedup ORDER — dedup the
    most-overlapping shard pair first and the later anti-joins shrink.

    Plan: one distinct (source, fp) reduction; the pair join keys on
    the fingerprint so its fan-out is (shards containing fp choose 2)
    per fingerprint — shard-count-bounded, never corpus-quadratic; the
    final matrix is sources^2 (vocabulary-bounded) with broadcast size
    joins. Integer-exact throughout.
    """
    d = load(spark, sf_dir, "documents")
    fps = d.select("source", F.md5("text").alias("fp")).distinct()
    sizes = fps.groupBy("source").agg(F.count("*").alias("n"))
    a = fps.select(F.col("source").alias("source_a"), "fp")
    b = fps.select(F.col("source").alias("source_b"), "fp")
    inter = (
        a.join(b, "fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("n").alias("n_a")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("n").alias("n_b")
    )
    shared = F.coalesce("n_shared", F.lit(0))
    return (
        sa.join(sb, F.col("source_a") < F.col("source_b"))
        .join(F.broadcast(inter), ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            shared.cast("bigint").alias("n_shared"),
            quantize(
                shared * 1.0 / (F.col("n_a") + F.col("n_b") - shared), 4
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


# ------------------------------------------------- cosine range search

_RANGE_N_QUERIES = 10
_RANGE_TAU = 0.3


@query(
    "ann_cosine_range_search",
    oracle=f"""
    WITH x AS (
      SELECT vec_id, g.i AS i, CAST(embedding[g.i] AS DOUBLE) AS v
      FROM embeddings CROSS JOIN generate_series(1, 64) g(i)
      WHERE g.i <= len(embedding)
    ),
    nrm AS (
      SELECT vec_id, sqrt(SUM(v * v)) AS nrm FROM x GROUP BY vec_id
      HAVING SUM(v * v) > 0
    ),
    q AS (SELECT vec_id FROM nrm WHERE vec_id < {_RANGE_N_QUERIES}),
    dots AS (
      SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
             SUM(a.v * b.v) AS dot
      FROM x a JOIN x b ON a.i = b.i AND a.vec_id <> b.vec_id
      WHERE a.vec_id < {_RANGE_N_QUERIES}
      GROUP BY 1, 2
    )
    SELECT d.query_id, d.cand_id,
           floor(d.dot / (nq.nrm * nc.nrm) * 1000000 + 0.5) / 1000000
             AS cosine
    FROM dots d
    JOIN nrm nq ON nq.vec_id = d.query_id
    JOIN nrm nc ON nc.vec_id = d.cand_id
    WHERE d.dot / (nq.nrm * nc.nrm) >= {_RANGE_TAU}
    ORDER BY query_id, cand_id
    """,
)
def ann_cosine_range_search(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Radius (range) search: every candidate within cosine >= {t} of
    each of the first {q} query vectors — the dual of
    `ann_cosine_topk`'s top-k, used when the CALLER owns the quality
    bar (dedup at a similarity threshold, recall-complete retrieval)
    rather than a result budget. This is the exact broadcast-scan
    baseline; the IVF probe path (`ann_ivf_search`) approximates it at
    scale by scanning only cells whose centroid can beat tau.

    Plan: the bounded query side broadcasts; candidates stream through
    one scan with the dot product in whole-stage codegen — no shuffle
    of the corpus, no all-pairs. Cosines are mirrored double
    expressions; the tau compare and 6-dp quantization agree exactly
    across engines (anisotropy discipline).
    """.format(t=_RANGE_TAU, q=_RANGE_N_QUERIES)
    from arkflow_spark.queries.vector_q import _dot, _norm

    e = load(spark, sf_dir, "embeddings")
    withn = e.select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
    ).filter(F.col("nrm") > 0)
    q = withn.filter(F.col("vec_id") < _RANGE_N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    cos = (
        withn.join(
            F.broadcast(q), F.col("vec_id") != F.col("query_id")
        )
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            (
                _dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("q_nrm") * F.col("nrm"))
            ).alias("c"),
        )
        .filter(F.col("c") >= _RANGE_TAU)
    )
    return cos.select(
        "query_id",
        "cand_id",
        quantize(F.col("c"), 6).alias("cosine"),
    ).orderBy("query_id", "cand_id")
