"""Round-6 batch 129: contrastive-representation diagnostics, brand
switching.

- `embedding_uniformity_alignment` — Wang & Isola (2020) diagnostics
  on L2-normalized embeddings: ALIGNMENT = mean squared distance over
  same-label pairs (how tight positives are), UNIFORMITY =
  log mean exp(-2 d^2) over cross-label pairs (how evenly the sphere
  is used). The pair of numbers contrastive training explicitly
  optimizes; bad uniformity with good alignment = collapsed cone
  (`embedding_anisotropy`'s failure mode, scored the way the
  representation-learning literature scores it).
- `customer_brand_switching` — the brand-switching matrix: each
  order's dominant brand (by revenue), consecutive-order transitions
  per customer, the top switching pairs and the overall loyalty
  (diagonal) share. Switching matrices are how category managers
  read competitive pressure; repeat-rate (`part_brand_loyalty_
  repeat_rate`) sees only the diagonal.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ uniformity/alignment

_UA_STRIDE = 7


@query(
    "embedding_uniformity_alignment",
    oracle=f"""
    WITH x AS (
      SELECT vec_id, label, g.i AS i, CAST(embedding[g.i] AS DOUBLE) AS v
      FROM embeddings CROSS JOIN generate_series(1, 64) g(i)
      WHERE g.i <= len(embedding)
    ),
    nrm AS (
      SELECT vec_id, sqrt(SUM(v * v)) AS nrm FROM x GROUP BY vec_id
    ),
    xn AS (
      SELECT x.vec_id, x.label, x.i, x.v / n.nrm AS v
      FROM x JOIN nrm n ON n.vec_id = x.vec_id
    ),
    pairs AS (
      SELECT a.vec_id AS ida, b.vec_id AS idb,
             a.label = b.label AS same_label,
             SUM((a.v - b.v) * (a.v - b.v)) AS d2
      FROM xn a
      JOIN xn b ON b.vec_id = a.vec_id + {_UA_STRIDE} AND b.i = a.i
      GROUP BY 1, 2, 3
    )
    SELECT CAST(COUNT(*) FILTER (same_label) AS BIGINT) AS n_pos_pairs,
           CAST(COUNT(*) FILTER (NOT same_label) AS BIGINT)
             AS n_neg_pairs,
           floor(CAST(SUM(CASE WHEN same_label THEN
                              CAST(d2 AS DECIMAL(28,12)) END) AS DOUBLE)
                 / COUNT(*) FILTER (same_label) * 10000 + 0.5) / 10000
             AS alignment,
           floor(ln(CAST(SUM(CASE WHEN NOT same_label THEN
                              CAST(exp(-2 * d2) AS DECIMAL(28,15)) END)
                         AS DOUBLE)
                    / COUNT(*) FILTER (NOT same_label))
                 * 10000 + 0.5) / 10000 AS uniformity
    FROM pairs
    """,
)
def embedding_uniformity_alignment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Wang-Isola alignment and uniformity over the deterministic
    stride-{s} pair sample of L2-NORMALIZED embeddings: alignment =
    E[d^2] on same-label pairs (0 = positives coincide), uniformity =
    log E[exp(-2 d^2)] on cross-label pairs (more negative = points
    spread over the sphere; 0 = total collapse). The two-number
    health check of any contrastive embedding space — retrieval decay
    with good alignment but poor uniformity is the collapsed-cone
    signature.

    Determinism: normalized coordinates are exact double divisions;
    per-pair d^2 terms and exp(-2 d^2) terms are decimal-quantized
    before the order-free sums.

    Scale shape: the id-shifted O(n) pair sample (never quadratic),
    one dim-keyed join, one row out.
    """.format(s=_UA_STRIDE)
    e = load(spark, sf_dir, "embeddings")
    from arkflow_spark.queries.vector_q import _norm

    xn = e.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda z: z.cast("double") / _norm(F.col("embedding")),
        ).alias("nv"),
    )
    a = xn.select(
        F.col("vec_id").alias("ida"),
        F.col("label").alias("la"),
        F.col("nv").alias("na"),
    )
    b = xn.select(
        (F.col("vec_id") - _UA_STRIDE).alias("ida"),
        F.col("label").alias("lb"),
        F.col("nv").alias("nb"),
    )
    d2 = F.aggregate(
        F.zip_with(F.col("na"), F.col("nb"), lambda p, q: (p - q) * (p - q)),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )
    pairs = a.join(b, "ida").select(
        (F.col("la") == F.col("lb")).alias("same_label"),
        d2.alias("d2"),
    )
    pos = F.count(F.when(F.col("same_label"), 1))
    neg = F.count(F.when(~F.col("same_label"), 1))
    align = (
        F.sum(
            F.when(F.col("same_label"), F.col("d2").cast("decimal(28,12)"))
        ).cast("double")
        / pos
    )
    unif = F.log(
        F.sum(
            F.when(
                ~F.col("same_label"),
                F.exp(-2 * F.col("d2")).cast("decimal(28,15)"),
            )
        ).cast("double")
        / neg
    )
    return pairs.agg(
        pos.cast("bigint").alias("n_pos_pairs"),
        neg.cast("bigint").alias("n_neg_pairs"),
        quantize(align, 4).alias("alignment"),
        quantize(unif, 4).alias("uniformity"),
    )


# ------------------------------------------------ brand switching

_BS_TOP = 10


@query(
    "customer_brand_switching",
    oracle=f"""
    WITH rev AS (
      SELECT l.l_orderkey, p.p_brand,
             SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(18,6))) AS r
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    ob AS (
      SELECT l_orderkey, p_brand AS brand FROM (
        SELECT l_orderkey, p_brand,
               row_number() OVER (PARTITION BY l_orderkey
                                  ORDER BY r DESC, p_brand) AS rk
        FROM rev
      ) WHERE rk = 1
    ),
    order_brand AS (
      SELECT o.o_custkey, o.o_orderkey, o.o_orderdate, ob.brand
      FROM orders o JOIN ob ON ob.l_orderkey = o.o_orderkey
    ),
    seq AS (
      SELECT o_custkey, brand,
             lead(brand) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey)
               AS next_brand
      FROM order_brand
    ),
    trans AS (
      SELECT brand AS from_brand, next_brand AS to_brand,
             COUNT(*) AS c
      FROM seq WHERE next_brand IS NOT NULL
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT CAST(SUM(c) AS DOUBLE) AS t,
             CAST(SUM(c) FILTER (from_brand = to_brand) AS DOUBLE)
               AS stay
      FROM trans
    )
    SELECT from_brand, to_brand, CAST(c AS BIGINT) AS n_transitions,
           floor(c / t.t * 1000000 + 0.5) / 1000000 AS share,
           floor(t.stay / t.t * 10000 + 0.5) / 10000 AS loyalty_share
    FROM trans CROSS JOIN tot t
    WHERE from_brand <> to_brand
    ORDER BY c DESC, from_brand, to_brand
    LIMIT {_BS_TOP}
    """,
)
def customer_brand_switching(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Brand-switching matrix: each order's dominant brand (arg-max
    revenue; exact decimal revenue makes the arg-max deterministic),
    consecutive-order transitions per customer, and the top-{t}
    OFF-diagonal switching pairs with the overall loyalty share. The
    directed flows say who loses customers TO whom — competitive
    pressure that the symmetric co-purchase graph cannot attribute.

    Scale shape: one order-level arg-max rollup (part dim broadcast),
    a customer-partitioned lead window, a brand-pair-bounded (25x25)
    transition matrix, top-{t}.
    """.format(t=_BS_TOP)
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_orderkey", "p_brand")
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("decimal(18,6)")
            ).alias("r")
        )
    )
    # r8: the dominant brand is an arg-max per order — min(struct(-r,
    # brand)) picks exactly the row_number()=1 row of the oracle's
    # (r DESC, p_brand ASC) ordering (decimal negation is exact), but
    # runs as a map-side-combinable hash aggregate instead of sorting
    # the whole order-level rollup under a per-order rank window.
    # PRECONDITION (r8 ADVICE): the struct-min equivalence needs r to
    # be NON-NULL — struct ordering sorts a NULL first field FIRST
    # ascending, while the replaced F.desc("r") window (and the
    # oracle's ORDER BY r DESC) put NULLs LAST. r is a SUM of
    # non-null TPC-H decimals within each non-empty (order, brand)
    # group, so it can never be null here; revisit if the rollup ever
    # admits null revenue.
    order_brand = (
        rev.groupBy("l_orderkey")
        .agg(
            F.min(
                F.struct(
                    (-F.col("r")).alias("nr"),
                    F.col("p_brand").alias("b"),
                )
            ).alias("m")
        )
        .select("l_orderkey", F.col("m.b").alias("brand"))
        .join(o, F.col("l_orderkey") == o.o_orderkey)
    )
    ws = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    seq = order_brand.select(
        "brand", F.lead("brand").over(ws).alias("next_brand")
    ).filter(F.col("next_brand").isNotNull())
    trans = seq.groupBy(
        F.col("brand").alias("from_brand"),
        F.col("next_brand").alias("to_brand"),
    ).agg(F.count("*").alias("c")).persist()
    # r8: brand-pair-bounded (<= 625 rows) but its lineage is the full
    # lineitem/orders pipeline; the totals anchor and the top-k arm
    # each replayed it (6 corpus scans per action) — cache the matrix
    tot = trans.agg(
        F.sum("c").cast("double").alias("t"),
        F.sum(
            F.when(F.col("from_brand") == F.col("to_brand"), F.col("c"))
        )
        .cast("double")
        .alias("stay"),
    )
    return (
        trans.filter(F.col("from_brand") != F.col("to_brand"))
        .crossJoin(F.broadcast(tot))
        .select(
            "from_brand",
            "to_brand",
            F.col("c").cast("bigint").alias("n_transitions"),
            quantize(F.col("c") / F.col("t"), 6)
            .alias("share"),
            quantize(F.col("stay") / F.col("t"), 4).alias("loyalty_share"),
            F.col("c").alias("_c"),
        )
        .orderBy(F.desc("_c"), "from_brand", "to_brand")
        .limit(_BS_TOP)
        .drop("_c")
    )
