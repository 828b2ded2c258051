"""Round-5 batch 100: cross-table status DQ, brand price positioning,
label separability margins.

- `dq_order_line_status_consistency` — cross-table state-machine
  audit: does each order's `o_orderstatus` agree with its lines'
  `l_linestatus` under the canonical rule (F => every line F,
  O => no line F, P => mixed)? Joins are where state drifts apart in
  real warehouses (partial backfills, replayed CDC); this is the gate
  `dq_referential_integrity` (key presence) doesn't cover — key-valid
  rows can still disagree about WHAT HAPPENED.
- `part_brand_price_positioning` — mix-adjusted brand premium: mean
  log retail price residual against the part-TYPE baseline, so a
  brand selling expensive types isn't called premium for its mix.
  The two-line hedonic (`part_hedonic_price_2var` regresses size;
  this ranks brands).
- `embedding_label_centroid_margin` — per-label separability: mean
  squared distance of members to their centroid (spread) vs the
  squared distance to the NEAREST other centroid (margin); ratio < 1
  predicts which labels a centroid classifier
  (`embedding_centroid_classifier`) will confuse.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------- order/line status consistency


@query(
    "dq_order_line_status_consistency",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_f
      FROM lineitem GROUP BY l_orderkey
    ),
    joined AS (
      SELECT o.o_orderstatus AS status, p.n_lines, p.n_f,
             CASE
               WHEN o.o_orderstatus = 'F' THEN
                 CASE WHEN p.n_f = p.n_lines THEN 1 ELSE 0 END
               WHEN o.o_orderstatus = 'O' THEN
                 CASE WHEN p.n_f = 0 THEN 1 ELSE 0 END
               ELSE
                 CASE WHEN p.n_f > 0 AND p.n_f < p.n_lines
                      THEN 1 ELSE 0 END
             END AS ok
      FROM orders o JOIN per_order p ON p.l_orderkey = o.o_orderkey
    )
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(ok) AS BIGINT) AS n_consistent,
           floor(SUM(ok) * 1.0 / COUNT(*) * 10000 + 0.5) / 10000
             AS consistency_rate
    FROM joined GROUP BY status ORDER BY status
    """,
)
def dq_order_line_status_consistency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-table state-machine audit: per order status, the share of
    orders whose line statuses agree with it (F => all lines F,
    O => no line F, P => a true mix). Rates far below 1 mean the two
    tables describe different realities — replayed CDC, partial
    backfill, or (as in this synthetic fixture) independently
    generated columns; every downstream open/filled analysis inherits
    the disagreement.

    Scale shape: one per-order line rollup (orderkey-partitioned),
    one key join, one status rollup — no windows.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    per_order = li.groupBy("l_orderkey").agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.sum(F.when(F.col("l_linestatus") == "F", 1).otherwise(0))
        .cast("bigint")
        .alias("n_f"),
    )
    ok = (
        F.when(
            F.col("o_orderstatus") == "F",
            F.when(F.col("n_f") == F.col("n_lines"), 1).otherwise(0),
        )
        .when(
            F.col("o_orderstatus") == "O",
            F.when(F.col("n_f") == 0, 1).otherwise(0),
        )
        .otherwise(
            F.when(
                (F.col("n_f") > 0) & (F.col("n_f") < F.col("n_lines")),
                1,
            ).otherwise(0)
        )
    )
    return (
        o.join(per_order, o.o_orderkey == per_order.l_orderkey)
        .select(F.col("o_orderstatus").alias("status"), ok.alias("ok"))
        .groupBy("status")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("ok").cast("bigint").alias("n_consistent"),
            quantize(F.sum("ok") * 1.0 / F.count("*"), 4).alias(
                "consistency_rate"
            ),
        )
        .orderBy("status")
    )


# ------------------------------------------ brand price positioning


@query(
    "part_brand_price_positioning",
    oracle="""
    WITH px AS (
      SELECT p_brand AS brand, p_type AS type,
             floor(ln(p_retailprice) * 1000000 + 0.5) / 1000000 AS lp
      FROM part WHERE p_retailprice > 0
    ),
    type_base AS (
      SELECT type,
             CAST(SUM(CAST(lp AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*) AS mt
      FROM px GROUP BY type
    ),
    resid AS (
      SELECT px.brand,
             floor((px.lp - t.mt) * 1000000 + 0.5) / 1000000 AS r
      FROM px JOIN type_base t USING (type)
    )
    SELECT brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           floor(CAST(SUM(CAST(r AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*) * 10000 + 0.5) / 10000
             AS mean_log_premium,
           floor(exp(CAST(SUM(CAST(r AS DECIMAL(18,6))) AS DOUBLE)
                     / COUNT(*)) * 10000 + 0.5) / 10000
             AS premium_ratio
    FROM resid GROUP BY brand
    ORDER BY mean_log_premium DESC, brand
    """,
)
def part_brand_price_positioning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mix-adjusted brand price positioning: each part's log retail
    price minus its part-TYPE mean, averaged per brand — a brand that
    only sells expensive types lands at 0, genuine premium pricing
    shows as a positive residual (reported also as the exp ratio).
    Residuals are 6dp-quantized and decimal-summed, so both engines
    reduce identically.

    Scale shape: one per-type baseline aggregate (type-bounded,
    broadcast back), one brand rollup — the two-aggregate hedonic.
    """
    p = load(spark, sf_dir, "part").filter(F.col("p_retailprice") > 0)
    px = p.select(
        F.col("p_brand").alias("brand"),
        F.col("p_type").alias("type"),
        quantize(F.log("p_retailprice"), 6).alias("lp"),
    )
    type_base = px.groupBy("type").agg(
        (
            F.sum(F.col("lp").cast("decimal(18,6)")).cast("double")
            / F.count("*")
        ).alias("mt")
    )
    resid = px.join(F.broadcast(type_base), "type").select(
        "brand", quantize(F.col("lp") - F.col("mt"), 6).alias("r")
    )
    mean_r = (
        F.sum(F.col("r").cast("decimal(18,6)")).cast("double")
        / F.count("*")
    )
    return (
        resid.groupBy("brand")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            quantize(mean_r, 4).alias("mean_log_premium"),
            quantize(F.exp(mean_r), 4).alias("premium_ratio"),
        )
        .orderBy(F.col("mean_log_premium").desc(), "brand")
    )


# --------------------------------------- label centroid margins

_DIM = 64


@query(
    "embedding_label_centroid_margin",
    oracle=f"""
    WITH x AS (
      SELECT vec_id, label, g.i AS i,
             CAST(embedding[g.i] AS DOUBLE) AS v
      FROM embeddings CROSS JOIN generate_series(1, {_DIM}) g(i)
      WHERE g.i <= len(embedding)
    ),
    cent AS (
      SELECT label, i,
             CAST(SUM(CAST(floor(v * 1000000 + 0.5) / 1000000
                  AS DECIMAL(18,6))) AS DOUBLE) / COUNT(DISTINCT vec_id)
               AS c
      FROM x GROUP BY label, i
    ),
    within_terms AS (
      SELECT x.vec_id, x.label,
             floor((x.v - c.c) * (x.v - c.c) * 1000000 + 0.5) / 1000000
               AS t
      FROM x JOIN cent c ON c.label = x.label AND c.i = x.i
    ),
    per_vec AS (
      SELECT label, vec_id,
             CAST(SUM(CAST(t AS DECIMAL(18,6))) AS DOUBLE) AS d2
      FROM within_terms GROUP BY label, vec_id
    ),
    within AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(SUM(CAST(floor(d2 * 1000000 + 0.5) / 1000000
                  AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS msd
      FROM per_vec GROUP BY label
    ),
    cpairs AS (
      SELECT a.label AS la, b.label AS lb,
             CAST(SUM(CAST(floor((a.c - b.c) * (a.c - b.c)
                  * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)))
                  AS DOUBLE) AS cd2
      FROM cent a JOIN cent b ON a.i = b.i AND a.label <> b.label
      GROUP BY 1, 2
    ),
    nearest AS (
      SELECT la AS label, MIN(cd2) AS nearest_cd2 FROM cpairs
      GROUP BY la
    )
    SELECT w.label, w.n_members,
           floor(w.msd * 10000 + 0.5) / 10000 AS within_msd,
           floor(n.nearest_cd2 * 10000 + 0.5) / 10000 AS nearest_cd2,
           floor(n.nearest_cd2 / w.msd * 10000 + 0.5) / 10000
             AS margin_ratio
    FROM within w JOIN nearest n USING (label)
    ORDER BY w.label
    """,
)
def embedding_label_centroid_margin(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-label separability: mean squared member-to-centroid
    distance (spread) against the squared distance to the NEAREST
    other label centroid. margin_ratio < ~1 marks labels whose
    nearest neighbor class sits inside their own scatter — exactly
    the ones `embedding_centroid_classifier` will confuse, ranked
    before any classifier runs. Per-dim terms and per-vector
    distances are 6dp-quantized and decimal-summed (order-free both
    engines).

    Scale shape: one (label, dim) centroid aggregate (label x {d}
    bounded, broadcast back), one member-distance reduce, and a
    label x label centroid-pair table (bounded) for the margins.
    """
    e = load(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("i0", "v0"),
    ).select(
        "vec_id",
        "label",
        (F.col("i0") + 1).alias("i"),
        F.col("v0").cast("double").alias("v"),
    )
    cent = x.groupBy("label", "i").agg(
        (
            F.sum(quantize(F.col("v"), 6).cast("decimal(18,6)")).cast(
                "double"
            )
            / F.count_distinct("vec_id")
        ).alias("c")
    ).persist()  # label x dim bounded; feeds the member join AND both
    # centroid-pair sides
    per_vec = (
        x.join(F.broadcast(cent), ["label", "i"])
        .select(
            "label",
            "vec_id",
            quantize(
                (F.col("v") - F.col("c")) * (F.col("v") - F.col("c")), 6
            ).alias("t"),
        )
        .groupBy("label", "vec_id")
        .agg(
            F.sum(F.col("t").cast("decimal(18,6)"))
            .cast("double")
            .alias("d2")
        )
    )
    within = per_vec.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_members"),
        (
            F.sum(quantize(F.col("d2"), 6).cast("decimal(18,6)")).cast(
                "double"
            )
            / F.count("*")
        ).alias("msd"),
    )
    ca = cent.select(
        F.col("label").alias("la"), "i", F.col("c").alias("cva")
    )
    cb = cent.select(
        F.col("label").alias("lb"), "i", F.col("c").alias("cvb")
    )
    cpairs = (
        ca.join(cb, "i")
        .filter(F.col("la") != F.col("lb"))
        .groupBy("la", "lb")
        .agg(
            F.sum(
                quantize(
                    (F.col("cva") - F.col("cvb"))
                    * (F.col("cva") - F.col("cvb")), 6
                ).cast("decimal(18,6)")
            )
            .cast("double")
            .alias("cd2")
        )
    )
    nearest = cpairs.groupBy(F.col("la").alias("label")).agg(
        F.min("cd2").alias("nearest_cd2")
    )
    return (
        within.join(nearest, "label")
        .select(
            "label",
            "n_members",
            quantize(F.col("msd"), 4).alias("within_msd"),
            quantize(F.col("nearest_cd2"), 4).alias("nearest_cd2"),
            quantize(F.col("nearest_cd2") / F.col("msd"), 4).alias(
                "margin_ratio"
            ),
        )
        .orderBy("label")
    )
