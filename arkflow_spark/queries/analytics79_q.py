"""Round-5 batch 79: referential integrity, payload compressibility,
near-dup graph quality.

- `dq_referential_integrity` — orphan audit of every foreign key in
  the star schema (lineitem->orders/part/supplier, orders->customer,
  customer/supplier->nation, nation->region): row counts, orphan
  counts, integrity rate. The first data-quality gate any warehouse
  load runs; `dq_profile_columns` profiles values, this one profiles
  the JOINS.
- `multimodal_payload_entropy` — Shannon byte entropy per media
  payload (vectorized np.bincount histogram kernel), rolled up per
  media type: mean/min/max bits-per-byte. Entropy near 8 = already
  compressed (recompression wastes CPU); entropy well below the
  corpus norm flags padded/truncated payloads. The storage-planning
  twin of `documents_partition_advisor`.
- `dedup_transitivity_audit` — is near-duplicate similarity behaving
  like an equivalence? Over the LSH candidate pairs, the fraction of
  open wedges (a~b, b~c, but not a~c): high openness means connected-
  component canonicalization (`dedup_cluster_canonical`) is chaining
  unrelated docs through hubs and a stricter verify threshold is
  needed.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.queries.dedup_q import _mh_oracle
from arkflow_spark.tables import load


# ------------------------------------------------ referential integrity

_FKS = (
    # (child table, fk col, parent table, pk col)
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


def _ri_oracle() -> str:
    parts = []
    for child, fk, parent, pk in _FKS:
        parts.append(f"""
    SELECT '{child}.{fk} -> {parent}.{pk}' AS relation,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_orphans,
           floor((1 - SUM(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END)
                      * 1.0 / COUNT(*)) * 1000000 + 0.5) / 1000000
             AS integrity_rate
    FROM {child} c LEFT JOIN {parent} p ON p.{pk} = c.{fk}""")
    return (
        "\nUNION ALL\n".join(parts) + "\nORDER BY relation"
    )


@query("dq_referential_integrity", oracle=_ri_oracle())
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit across the whole star schema: for each
    of the {n} declared relationships, the child row count, the rows
    whose key finds no parent (LEFT JOIN ... IS NULL — the anti-join
    Catalyst compiles this to), and the integrity rate. Any rate below
    1.0 fails the load gate before analytics run on broken joins.

    Scale shape: ONE scan per CHILD table (r8 — previously one scan
    per relation, so lineitem was read three times): all of a child's
    parent dims chain as broadcast left joins onto the same scan and
    one aggregate counts every relation's orphans; the per-relation
    rows unfold from that single-row aggregate with inline(). Chained
    joins stay row-preserving because each parent key is a unique PK
    by star-schema construction — the same precondition the oracle's
    per-relation LEFT JOIN counts already rely on.
    """.format(n=len(_FKS))
    by_child: dict = {}
    for child, fk, parent, pk in _FKS:
        by_child.setdefault(child, []).append((fk, parent, pk))
    out = None
    for child, rels in by_child.items():
        c = load(spark, sf_dir, child).select(
            *[F.col(fk) for fk, _, _ in rels]
        )
        for idx, (fk, parent, pk) in enumerate(rels):
            p = load(spark, sf_dir, parent).select(
                F.col(pk).alias(f"_pk{idx}")
            )
            c = c.join(
                F.broadcast(p), c[fk] == p[f"_pk{idx}"], "left"
            )
        agg = c.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            *[
                F.sum(
                    F.when(F.col(f"_pk{idx}").isNull(), 1).otherwise(0)
                )
                .cast("bigint")
                .alias(f"_orph{idx}")
                for idx in range(len(rels))
            ],
        )
        rows = agg.select(
            F.inline(
                F.array(
                    *[
                        F.struct(
                            F.lit(
                                f"{child}.{fk} -> {parent}.{pk}"
                            ).alias("relation"),
                            F.col("n_rows"),
                            F.col(f"_orph{idx}").alias("n_orphans"),
                        )
                        for idx, (fk, parent, pk) in enumerate(rels)
                    ]
                )
            )
        )
        out = rows if out is None else out.unionAll(rows)
    return out.select(
        "relation",
        "n_rows",
        "n_orphans",
        quantize(1 - F.col("n_orphans") * 1.0 / F.col("n_rows"), 6).alias(
            "integrity_rate"
        ),
    ).orderBy("relation")


# ------------------------------------------------ payload entropy


@query(
    "multimodal_payload_entropy",
    oracle="""
    WITH by_byte AS (
      SELECT d.doc_id, d.lang,
             ascii(substr(d.text, g.i, 1)) AS b
      FROM documents d CROSS JOIN generate_series(1, 100000) g(i)
      WHERE g.i <= length(d.text)
    ),
    hist AS (
      SELECT doc_id, lang, b, CAST(COUNT(*) AS BIGINT) AS c
      FROM by_byte GROUP BY 1, 2, 3
    ),
    tot AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM hist
      GROUP BY doc_id
    ),
    ent AS (
      SELECT h.lang, h.doc_id,
             floor(-SUM(CAST(floor((h.c * 1.0 / t.n)
                   * log2(h.c * 1.0 / t.n) * 1000000 + 0.5) / 1000000
                   AS DECIMAL(18,6))) * 10000 + 0.5) / 10000 AS ent
      FROM hist h JOIN tot t USING (doc_id)
      GROUP BY h.lang, h.doc_id
    )
    SELECT lang AS media_group,
           CAST(COUNT(*) AS BIGINT) AS n_payloads,
           floor(CAST(SUM(CAST(ent AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*) * 10000 + 0.5) / 10000 AS mean_entropy,
           MIN(ent) AS min_entropy,
           MAX(ent) AS max_entropy
    FROM ent GROUP BY lang ORDER BY media_group
    """,
)
def multimodal_payload_entropy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shannon byte entropy per payload, rolled up per media group
    (the fixture reuses the document `lang` as the group key):
    bits-per-byte from the 256-bin byte histogram, per-term
    6dp-quantized so both engines reduce identically. Entropy ~ 8 =
    already-compressed media (skip recompression); far-below-norm
    payloads are padding/truncation defects.

    The Spark kernel is a vectorized numpy pass (np.bincount over the
    byte buffer + one vectorized xlogx) in ONE mapInPandas stage —
    the brief's Arrow-batch shape for media feature extraction.
    """
    import numpy as np
    import pandas as pd

    from arkflow_spark.operators.multimodal import attach_fake_media

    d = load(spark, sf_dir, "documents")
    media = attach_fake_media(
        d, text_col="text", id_col="doc_id"
    ).select("media_id", "payload")
    groups = d.select(
        F.col("doc_id").alias("media_id"), F.col("lang").alias("media_group")
    )

    def entropy_fn(batches):
        for pdf in batches:
            ents = []
            for buf in pdf["payload"]:
                a = np.frombuffer(bytes(buf), dtype=np.uint8)
                n = len(a)
                if n == 0:
                    ents.append(0.0)
                    continue
                c = np.bincount(a, minlength=256).astype(np.float64)
                p = c[c > 0] / n
                # per-term quantization mirrors the oracle's decimal sum
                terms = np.floor(p * np.log2(p) * 1000000 + 0.5) / 1000000
                ents.append(
                    np.floor(-terms.sum() * 10000 + 0.5) / 10000
                )
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "ent": ents}
            )

    ent = media.mapInPandas(entropy_fn, "media_id BIGINT, ent DOUBLE")
    return (
        ent.join(F.broadcast(groups), "media_id")
        .groupBy("media_group")
        .agg(
            F.count("*").cast("bigint").alias("n_payloads"),
            quantize(
                F.sum(F.col("ent").cast("decimal(18,6)")).cast("double")
                / F.count("*"), 4
            ).alias("mean_entropy"),
            F.min("ent").alias("min_entropy"),
            F.max("ent").alias("max_entropy"),
        )
        .orderBy("media_group")
    )


# ------------------------------------------------ transitivity audit


@query(
    "dedup_transitivity_audit",
    oracle=f"""
    WITH base AS ({_mh_oracle()}),
    und AS (
      SELECT doc_a AS a, doc_b AS b FROM base
      UNION ALL
      SELECT doc_b, doc_a FROM base
    ),
    wedges AS (
      SELECT e1.a AS x, e1.b AS hub, e2.b AS z
      FROM und e1 JOIN und e2
        ON e2.a = e1.b AND e1.a < e2.b
    ),
    closed AS (
      SELECT w.x, w.hub, w.z,
             CASE WHEN p.a IS NULL THEN 0 ELSE 1 END AS is_closed
      FROM wedges w
      LEFT JOIN (SELECT a, b FROM und) p
        ON p.a = w.x AND p.b = w.z
    )
    SELECT CAST((SELECT COUNT(*) FROM base) AS BIGINT) AS n_pairs,
           CAST(COUNT(*) AS BIGINT) AS n_wedges,
           CAST(SUM(is_closed) AS BIGINT) AS n_closed,
           floor(SUM(is_closed) * 1.0 / GREATEST(COUNT(*), 1)
                 * 10000 + 0.5) / 10000 AS transitivity_rate
    FROM closed
    """,
)
def dedup_transitivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitivity of the LSH near-dup candidate graph: over wedges
    (x ~ hub ~ z through a shared hub), the fraction whose closing
    edge (x ~ z) is also a candidate pair. Near-1 = similarity is
    behaving like an equivalence and connected-component
    canonicalization is safe; low transitivity = hub docs are chaining
    unrelated content and `dedup_cluster_canonical` needs a stricter
    verify threshold before the union step.

    Scale shape: wedges join the candidate EDGE list to itself on the
    hub (fan-out bounded by candidate degree — LSH-banded, never
    corpus-quadratic); the closure check is one more edge-list join.
    """
    from arkflow_spark.queries.base import QUERIES

    # The candidate-pair list is tiny (band-collision bounded) but its
    # lineage is the whole MinHash pipeline; it feeds FOUR branches
    # below (both union arms, the closure probe, and the pair count) —
    # persist so the shingle/minhash stages run once, not four times.
    pairs = (
        QUERIES["dedup_minhash_lsh"](spark, sf_dir)
        .select("doc_a", "doc_b")
        .persist()
    )
    und = pairs.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    ).unionAll(
        pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
    )
    e1 = und.select(F.col("a").alias("x"), F.col("b").alias("hub"))
    e2 = und.select(F.col("a").alias("hub"), F.col("b").alias("z"))
    wedges = e1.join(e2, "hub").filter(F.col("x") < F.col("z"))
    closing = und.select(
        F.col("a").alias("x"), F.col("b").alias("z"), F.lit(1).alias("hit")
    )
    closed = wedges.join(closing, ["x", "z"], "left").select(
        F.coalesce(F.col("hit"), F.lit(0)).alias("is_closed")
    )
    n_pairs = pairs.agg(F.count("*").cast("bigint").alias("n_pairs"))
    return (
        closed.agg(
            F.count("*").cast("bigint").alias("n_wedges"),
            F.sum("is_closed").cast("bigint").alias("n_closed"),
            quantize(
                F.sum("is_closed")
                * 1.0
                / F.greatest(F.count("*"), F.lit(1)), 4
            ).alias("transitivity_rate"),
        )
        .crossJoin(F.broadcast(n_pairs))
        .select("n_pairs", "n_wedges", "n_closed", "transitivity_rate")
    )
