"""Round-7 batch 132: dedup policy and index-health audits — consumers
of the r7 materialized MinHash signature table and the near-dup
cluster machinery.

- `documents_dedup_quality_survivorship` — the keep-WHICH-duplicate
  question: within each MinHash near-dup cluster, compare the
  keep-min-id policy (`dedup_cluster_canonical`'s rule) against
  keep-best-quality (distinct-word ratio). Reports the mean kept
  quality under both policies, how often the min-id canonical already
  IS the best member, and the quality gain a quality-aware survivor
  rule buys. Dedup decides what the model never sees; this prices the
  selection rule, not just the removal rate.
- `dedup_signature_slot_health` — MinHash index health: per signature
  slot, distinct-value count, collision rate, and the heaviest
  value's share. A degenerate slot (one value dominating) stops
  discriminating and inflates LSH candidate fan-out quadratically in
  that band — the audit a production dedup index runs after every
  permutation-family change.
- `dedup_cross_source_pairs` — the near-dup pair graph's
  source-mixing matrix: verified pairs per (source, source) with the
  share of all pairs, unordered. Cross-source mass = mirrors /
  syndication between feeds; within-source mass = internal
  re-posting. `dedup_source_impact` prices exact-dup removal per
  source; this shows WHERE near-dups come from.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import QUERIES, quantize, query
from arkflow_spark.queries.dedup_q import (
    N_HASHES,
    _cc_oracle,
    _mh_oracle,
    _mh_signatures,
)
from arkflow_spark.tables import load


# -------------------------------------------- quality survivorship

_QUALITY_SQL = r"""len(list_distinct(regexp_split_to_array(
        lower(trim(text)), '\s+'))) * 1.0
      / greatest(len(regexp_split_to_array(lower(trim(text)), '\s+')), 1)"""


@query(
    "documents_dedup_quality_survivorship",
    oracle=f"""
    WITH clusters AS (
      SELECT doc_id, cluster_id FROM ({_cc_oracle()}) c
    ),
    q AS (
      SELECT doc_id, {_QUALITY_SQL} AS quality FROM documents
    ),
    memb AS (
      SELECT c.cluster_id, c.doc_id, q.quality
      FROM clusters c JOIN q ON q.doc_id = c.doc_id
    ),
    sz AS (
      SELECT cluster_id, COUNT(*) AS n FROM memb GROUP BY 1
    ),
    multi AS (
      SELECT m.* FROM memb m JOIN sz ON sz.cluster_id = m.cluster_id
      WHERE sz.n > 1
    ),
    pol AS (
      SELECT cluster_id,
             MAX(CASE WHEN doc_id = cluster_id THEN quality END)
               AS minid_q,
             MAX(quality) AS best_q
      FROM multi GROUP BY cluster_id
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_multi_clusters,
             CAST((SELECT COUNT(*) FROM multi) AS BIGINT)
               - CAST(COUNT(*) AS BIGINT) AS n_dup_docs,
             CAST(SUM(CAST(minid_q AS DECIMAL(28,15))) AS DOUBLE)
               / COUNT(*) AS minid_mean,
             CAST(SUM(CAST(best_q AS DECIMAL(28,15))) AS DOUBLE)
               / COUNT(*) AS best_mean,
             SUM(CASE WHEN minid_q = best_q THEN 1 ELSE 0 END) * 1.0
               / COUNT(*) AS canonical_best_share
      FROM pol
    )
    SELECT n_multi_clusters, n_dup_docs,
           floor(minid_mean * 10000 + 0.5) / 10000
             AS minid_policy_quality,
           floor(best_mean * 10000 + 0.5) / 10000
             AS best_policy_quality,
           floor(canonical_best_share * 10000 + 0.5) / 10000
             AS canonical_is_best_share,
           floor((best_mean - minid_mean) * 10000 + 0.5) / 10000
             AS quality_gain
    FROM agg
    """,
)
def documents_dedup_quality_survivorship(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality-aware dedup survivor audit over the MinHash near-dup
    clusters (multi-member only): mean kept quality under keep-min-id
    vs keep-best-quality (distinct-word ratio), the share of clusters
    where the min-id canonical is already the best member, and the
    mean quality gain of switching policy. The min-id quality uses the
    fact that the cluster id IS the minimum member id.

    Scale shape: clusters come from the LSH pair graph (bounded by
    candidates, not corpus^2); quality is one narrow projection;
    policies are two cluster-keyed aggregates with exact decimal
    means. At 100 TB this audit runs on the stored cluster table the
    dedup pass already writes — and since r9 it literally does:
    cluster labels are read from the materialized doc_id-bucketed
    cluster-labels index (`dedup_q._cc_labels`, built once per
    (session, sf_dir) by the same convergence loop
    `dedup_cluster_canonical` still runs live as the driver-verified
    witness; equality is pinned by
    test_labels_and_sig_indexes.py::test_cc_labels_equal_live_loop).
    """
    from arkflow_spark.queries.dedup_q import _cc_labels

    clusters = _cc_labels(spark, sf_dir).select(
        "doc_id", F.col("label").alias("cluster_id")
    )
    d = load(spark, sf_dir, "documents")
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    q = d.select(
        "doc_id",
        (
            F.size(F.array_distinct(words)) * 1.0
            / F.greatest(F.size(words), F.lit(1))
        ).alias("quality"),
    )
    memb = clusters.join(q, "doc_id")
    sz = memb.groupBy("cluster_id").agg(F.count("*").alias("n"))
    multi = memb.join(
        sz.filter(F.col("n") > 1).select("cluster_id"), "cluster_id"
    ).persist()
    pol = multi.groupBy("cluster_id").agg(
        F.max(
            F.when(F.col("doc_id") == F.col("cluster_id"), F.col("quality"))
        ).alias("minid_q"),
        F.max("quality").alias("best_q"),
    )
    n_members = multi.agg(
        F.count("*").cast("bigint").alias("n_members")
    )
    dec = lambda c: F.sum(F.col(c).cast("decimal(28,15)")).cast(
        "double"
    ) / F.count("*")
    agg = pol.agg(
        F.count("*").cast("bigint").alias("n_multi_clusters"),
        dec("minid_q").alias("minid_mean"),
        dec("best_q").alias("best_mean"),
        (
            F.sum(
                F.when(F.col("minid_q") == F.col("best_q"), 1).otherwise(0)
            )
            * 1.0
            / F.count("*")
        ).alias("canonical_best_share"),
    )
    return agg.crossJoin(F.broadcast(n_members)).select(
        "n_multi_clusters",
        (F.col("n_members") - F.col("n_multi_clusters"))
        .cast("bigint")
        .alias("n_dup_docs"),
        quantize(F.col("minid_mean"), 4).alias("minid_policy_quality"),
        quantize(F.col("best_mean"), 4).alias("best_policy_quality"),
        quantize(F.col("canonical_best_share"), 4).alias(
            "canonical_is_best_share"
        ),
        quantize(F.col("best_mean") - F.col("minid_mean"), 4).alias(
            "quality_gain"
        ),
    )


# ---------------------------------------------- signature health


def _slot_health_oracle() -> str:
    sig_cols = ", ".join(
        f"MIN(h1 + {i} * h2) AS s{i}" for i in range(N_HASHES)
    )
    slot_rows = ", ".join(f"({i}, s{i})" for i in range(N_HASHES))
    return f"""
    WITH docs AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             w[g.i] || ' ' || w[g.i+1] || ' ' || w[g.i+2] AS shingle
      FROM docs CROSS JOIN generate_series(1, 4000) g(i)
      WHERE g.i <= len(w) - 2
    ),
    hashed AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h1,
             CAST(('0x' || substr(md5(shingle), 16, 10)) AS BIGINT) AS h2
      FROM sh
    ),
    sig AS (SELECT doc_id, {sig_cols} FROM hashed GROUP BY doc_id),
    slots AS (
      SELECT doc_id, sl.slot, sl.v
      FROM sig, LATERAL (VALUES {slot_rows}) AS sl(slot, v)
    ),
    vc AS (
      SELECT slot, v, CAST(COUNT(*) AS BIGINT) AS c
      FROM slots GROUP BY 1, 2
    )
    SELECT slot,
           CAST(SUM(c) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           floor((1 - COUNT(*) * 1.0 / SUM(c)) * 10000 + 0.5) / 10000
             AS collision_rate,
           floor(MAX(c) * 1.0 / SUM(c) * 10000 + 0.5) / 10000
             AS top_value_share
    FROM vc GROUP BY slot ORDER BY slot
    """


@query("dedup_signature_slot_health", oracle=_slot_health_oracle())
def dedup_signature_slot_health(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-slot MinHash signature health off the materialized
    signature table: distinct values, collision rate
    (1 - distinct/docs), and the heaviest value's share. A slot whose
    top value covers a large share of the corpus has stopped
    discriminating (e.g. a boilerplate shingle winning every min) —
    its band's LSH buckets blow up quadratically. Healthy slots show
    collision ~ birthday-bound for the corpus size.

    Scale shape: ONE scan of the bucketed signature table, unpivoted
    {n}x, then a (slot, value) rollup — no joins, map-side
    combinable.
    """.format(n=N_HASHES)
    sig = _mh_signatures(spark, sf_dir)
    slot_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("slot"), F.col(f"s{i}").alias("v")
            )
            for i in range(N_HASHES)
        ]
    )
    slots = sig.select(F.explode(slot_structs).alias("sv")).select(
        F.col("sv.slot").alias("slot"), F.col("sv.v").alias("v")
    )
    vc = slots.groupBy("slot", "v").agg(
        F.count("*").cast("bigint").alias("c")
    )
    return (
        vc.groupBy("slot")
        .agg(
            F.sum("c").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_distinct"),
            quantize(1 - F.count("*") * 1.0 / F.sum("c"), 4).alias(
                "collision_rate"
            ),
            quantize(F.max("c") * 1.0 / F.sum("c"), 4).alias(
                "top_value_share"
            ),
        )
        .orderBy("slot")
    )


# ---------------------------------------------- cross-source pairs


@query(
    "dedup_cross_source_pairs",
    oracle=f"""
    WITH pairs AS (SELECT doc_a, doc_b FROM ({_mh_oracle()}) p),
    lab AS (
      SELECT LEAST(da.source, db.source) AS source_a,
             GREATEST(da.source, db.source) AS source_b
      FROM pairs p
      JOIN documents da ON da.doc_id = p.doc_a
      JOIN documents db ON db.doc_id = p.doc_b
    ),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total_pairs FROM lab)
    SELECT source_a, source_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           floor(COUNT(*) / total_pairs * 10000 + 0.5) / 10000
             AS pair_share,
           source_a <> source_b AS is_cross_source
    FROM lab CROSS JOIN tot
    GROUP BY source_a, source_b, total_pairs
    ORDER BY n_pairs DESC, source_a, source_b
    """,
)
def dedup_cross_source_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Source-mixing matrix of the verified MinHash near-dup pairs:
    unordered (source, source) cells with pair counts and shares.
    Cross-source cells are syndication/mirror mass (dedup there
    changes the source MIX); within-source cells are internal
    re-posting (dedup there is safe). Complements
    `dedup_source_impact` (exact dedup, removal-rate view).

    Scale shape: the pair list is LSH-bounded; the documents source
    column joins in via two broadcast-sized narrow projections; one
    cell rollup with a broadcast total.
    """
    pairs = QUERIES["dedup_minhash_lsh"](spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    da = d.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")
    )
    db = d.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")
    )
    lab = (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .persist()
    )
    tot = lab.agg(F.count("*").cast("double").alias("t"))
    return (
        lab.groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            quantize(F.col("n_pairs") / F.col("t"), 4).alias("pair_share"),
            (F.col("source_a") != F.col("source_b")).alias(
                "is_cross_source"
            ),
        )
        .orderBy(F.desc("n_pairs"), "source_a", "source_b")
    )
