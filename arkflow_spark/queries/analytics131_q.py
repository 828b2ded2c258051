"""Round-7 batch 131: community conductance, brand homophily,
community-size inequality — consumers of the r7 materialized
component-labels index (`functions/graph_labels.py`).

- `graph_community_conductance` — per-community conductance
  phi(c) = cut(c) / min(vol(c), 2m - vol(c)) of the 3-round min-label
  partition: the boundary-permeability number modularity hides. A
  community with phi ~ 1 leaks every other edge outward (a labeling
  artifact, not a market segment); phi << 1 is a real cluster. Top
  communities by size with their conductance.
- `graph_brand_homophily` — categorical (Newman) assortativity of the
  co-purchase graph by part brand: the observed within-brand edge
  share vs the degree-preserving expectation, and the assortativity
  coefficient r = (tr(e) - sum(a_i^2)) / (1 - sum(a_i^2)). r > 0 =
  buyers co-purchase within brands (brand loyalty shapes the graph);
  r ~ 0 = brands mix freely and cross-brand merchandising is free.
- `graph_community_size_gini` — inequality of the support-2 component
  sizes: Gini coefficient and normalized size entropy beside the
  giant share. The histogram (`graph_component_size_histogram`) shows
  the shape; this compresses it into the two numbers a capacity
  planner tracks across snapshots (rising Gini = consolidation into
  one giant market).

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.functions import copurchase
from arkflow_spark.queries.analytics43_q import _lp_round_sql
from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


_CD_SUPPORT = 2
_CD_ROUNDS = 3
_CD_TOP = 15


def _lp_cte(min_support: int, rounds: int) -> str:
    """The shared label-prop CTE chain (identical unrolled rounds to
    `functions/graph_labels.component_labels`)."""
    support = (
        ""
        if min_support <= 1
        else f"WHERE n >= {min_support}"
    )
    return f"""
    basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pair AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS n
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    edges AS (SELECT u, v FROM pair {support}),
    und AS (
      SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ),
    nodes AS (SELECT DISTINCT u FROM und),
    lp0 AS (SELECT u, u AS lbl FROM nodes),
    {",".join(_lp_round_sql(f"lp{r}", r + 1) for r in range(rounds))}
    """


@query(
    "graph_community_conductance",
    oracle=f"""
    WITH {_lp_cte(_CD_SUPPORT, _CD_ROUNDS)},
    lbl AS (SELECT u, lbl FROM lp{_CD_ROUNDS}),
    deg AS (SELECT u, COUNT(*) AS d FROM und GROUP BY u),
    m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m FROM edges),
    vol AS (
      SELECT l.lbl, CAST(COUNT(*) AS BIGINT) AS size,
             CAST(SUM(d.d) AS BIGINT) AS vol
      FROM lbl l JOIN deg d ON d.u = l.u GROUP BY 1
    ),
    cut AS (
      SELECT la.lbl, CAST(COUNT(*) AS BIGINT) AS cut
      FROM edges e
      JOIN lbl la ON la.u = e.u
      JOIN lbl lb ON lb.u = e.v AND lb.lbl <> la.lbl
      GROUP BY 1
    ),
    -- the cut is symmetric: count each cross edge for BOTH sides
    cut2 AS (
      SELECT lb.lbl, CAST(COUNT(*) AS BIGINT) AS cut
      FROM edges e
      JOIN lbl la ON la.u = e.u
      JOIN lbl lb ON lb.u = e.v AND lb.lbl <> la.lbl
      GROUP BY 1
    ),
    cuts AS (
      SELECT lbl, CAST(SUM(cut) AS BIGINT) AS cut FROM (
        SELECT * FROM cut UNION ALL SELECT * FROM cut2
      ) GROUP BY 1
    ),
    phi AS (
      SELECT v.lbl AS community, v.size, v.vol,
             COALESCE(c.cut, 0) AS cut,
             CASE WHEN LEAST(v.vol, CAST(2 * m.m AS BIGINT) - v.vol) = 0
                  THEN 0.0
                  ELSE COALESCE(c.cut, 0) * 1.0
                       / LEAST(v.vol, CAST(2 * m.m AS BIGINT) - v.vol)
             END AS phi
      FROM vol v LEFT JOIN cuts c ON c.lbl = v.lbl CROSS JOIN m
    )
    SELECT CAST(community AS BIGINT) AS community, size,
           vol, cut,
           floor(phi * 10000 + 0.5) / 10000 AS conductance
    FROM phi
    ORDER BY size DESC, community
    LIMIT {_CD_TOP}
    """,
)
def graph_community_conductance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Conductance of each min-label community (support {s}, {r}
    rounds): cut(c) / min(vol(c), 2m - vol(c)), with the cut counted
    once per (cross-edge, side). Top {t} communities by size.
    Complements `graph_community_modularity` (one global number) with
    the per-community boundary-permeability readout that says WHICH
    segments are real.

    Scale shape: labels come from the materialized component-labels
    index (one propagation per session, shared family-wide); the cut
    join is edge-keyed against the bucketed label table; volumes are
    label-keyed rollups.
    """.format(s=_CD_SUPPORT, r=_CD_ROUNDS, t=_CD_TOP)
    from arkflow_spark.functions.graph_labels import component_labels

    lbl = component_labels(spark, sf_dir, _CD_SUPPORT, _CD_ROUNDS)
    edges = copurchase.directed(
        spark, sf_dir, min_support=_CD_SUPPORT
    ).select("u", "v")
    und = copurchase.undirected(
        spark, sf_dir, min_support=_CD_SUPPORT
    ).select("u", "v")
    deg = und.groupBy("u").agg(F.count("*").alias("d"))
    m = edges.agg(F.count("*").cast("double").alias("m"))
    vol = (
        lbl.join(deg, "u")
        .groupBy("lbl")
        .agg(
            F.count("*").cast("bigint").alias("size"),
            F.sum("d").cast("bigint").alias("vol"),
        )
    )
    la = lbl.select(F.col("u").alias("eu"), F.col("lbl").alias("la"))
    lb = lbl.select(F.col("u").alias("ev"), F.col("lbl").alias("lb"))
    cross = (
        edges.join(la, edges.u == F.col("eu"))
        .join(lb, (edges.v == F.col("ev")) & (F.col("lb") != F.col("la")))
        .select("la", "lb")
    )
    cuts = (
        cross.select(F.col("la").alias("lbl"))
        .unionAll(cross.select(F.col("lb").alias("lbl")))
        .groupBy("lbl")
        .agg(F.count("*").cast("bigint").alias("cut"))
    )
    denom = F.least(
        F.col("vol"), (2 * F.col("m")).cast("bigint") - F.col("vol")
    )
    phi = F.when(denom == 0, F.lit(0.0)).otherwise(
        F.coalesce(F.col("cut"), F.lit(0)) * 1.0 / denom
    )
    return (
        vol.join(cuts, "lbl", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.col("lbl").cast("bigint").alias("community"),
            "size",
            "vol",
            F.coalesce(F.col("cut"), F.lit(0)).alias("cut"),
            quantize(phi, 4).alias("conductance"),
        )
        .orderBy(F.desc("size"), "community")
        .limit(_CD_TOP)
    )


# ------------------------------------------------ brand homophily


@query(
    "graph_brand_homophily",
    oracle="""
    WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    be AS (
      SELECT pu.p_brand AS bu, pv.p_brand AS bv
      FROM edges e
      JOIN part pu ON pu.p_partkey = e.u
      JOIN part pv ON pv.p_partkey = e.v
    ),
    m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m FROM be),
    -- symmetric end-share per brand: each edge contributes both ends
    ends AS (
      SELECT bu AS b FROM be UNION ALL SELECT bv AS b FROM be
    ),
    a AS (
      SELECT b, COUNT(*) / (2.0 * (SELECT m FROM m)) AS a_share
      FROM ends GROUP BY b
    ),
    tr AS (
      SELECT SUM(CASE WHEN bu = bv THEN 1 ELSE 0 END)
             / (SELECT m FROM m) AS within_share
      FROM be
    ),
    ex AS (SELECT SUM(a_share * a_share) AS expected_share FROM a)
    SELECT CAST((SELECT m FROM m) AS BIGINT) AS n_edges,
           CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n_brands,
           floor(t.within_share * 10000 + 0.5) / 10000 AS within_share,
           floor(e.expected_share * 10000 + 0.5) / 10000
             AS expected_share,
           floor((t.within_share - e.expected_share)
                 / (1 - e.expected_share) * 10000 + 0.5) / 10000
             AS assortativity_r
    FROM tr t CROSS JOIN ex e
    """,
)
def graph_brand_homophily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Newman categorical assortativity of the co-purchase graph by
    part brand: within-brand edge share observed vs the
    degree-preserving expectation sum(a_i^2) (a_i = brand i's share of
    edge ENDS), and r = (within - expected) / (1 - expected). r > 0
    means baskets cluster within brands — cross-brand recommendations
    fight the graph; r ~ 0 means brand is irrelevant to co-purchase.

    Scale shape: edges read the shared co-purchase index; the part
    brand dim broadcasts to both endpoints; everything after is three
    scalar aggregates.
    """
    edges = copurchase.directed(spark, sf_dir).select("u", "v")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pu = p.select(
        F.col("p_partkey").alias("u"), F.col("p_brand").alias("bu")
    )
    pv = p.select(
        F.col("p_partkey").alias("v"), F.col("p_brand").alias("bv")
    )
    be = edges.join(F.broadcast(pu), "u").join(
        F.broadcast(pv), "v"
    ).select("bu", "bv").persist()
    m = be.agg(F.count("*").cast("double").alias("m"))
    ends = be.select(F.col("bu").alias("b")).unionAll(
        be.select(F.col("bv").alias("b"))
    )
    a = (
        ends.groupBy("b")
        .agg(F.count("*").alias("n_ends"))
        .crossJoin(F.broadcast(m))
        .select("b", (F.col("n_ends") / (2.0 * F.col("m"))).alias("a_share"))
    )
    ex = a.agg(
        F.sum(F.col("a_share") * F.col("a_share")).alias("expected_share"),
        F.count("*").cast("bigint").alias("n_brands"),
    )
    tr = be.crossJoin(F.broadcast(m)).agg(
        (
            F.sum(F.when(F.col("bu") == F.col("bv"), 1).otherwise(0))
            / F.max("m")
        ).alias("within_share"),
        F.max("m").cast("bigint").alias("n_edges"),
    )
    return tr.crossJoin(F.broadcast(ex)).select(
        "n_edges",
        "n_brands",
        quantize(F.col("within_share"), 4).alias("within_share"),
        quantize(F.col("expected_share"), 4).alias("expected_share"),
        quantize(
            (F.col("within_share") - F.col("expected_share"))
            / (1 - F.col("expected_share")), 4
        ).alias("assortativity_r"),
    )


# ------------------------------------------------ size inequality

_SG_SUPPORT = 2
_SG_ROUNDS = 3


@query(
    "graph_community_size_gini",
    oracle=f"""
    WITH {_lp_cte(_SG_SUPPORT, _SG_ROUNDS)},
    comp AS (
      SELECT lbl, CAST(COUNT(*) AS BIGINT) AS size
      FROM lp{_SG_ROUNDS} GROUP BY lbl
    ),
    ranked AS (
      SELECT size,
             row_number() OVER (ORDER BY size, lbl) AS rnk
      FROM comp
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(size) AS BIGINT) AS n_nodes,
             CAST(MAX(size) AS BIGINT) AS giant,
             SUM(CAST(rnk AS DOUBLE) * size) AS wsum,
             SUM(CASE WHEN size > 0 THEN
                 (size * 1.0 / (SELECT SUM(size) FROM comp))
                 * ln(size * 1.0 / (SELECT SUM(size) FROM comp))
                 ELSE 0 END) AS negent
      FROM ranked
    )
    SELECT k AS n_communities, n_nodes,
           floor((2.0 * wsum / (k * n_nodes) - (k + 1.0) / k)
                 * 10000 + 0.5) / 10000 AS size_gini,
           floor(CASE WHEN k > 1 THEN -negent / ln(k) ELSE 0.0 END
                 * 10000 + 0.5) / 10000 AS size_entropy_norm,
           floor(giant * 1.0 / n_nodes * 10000 + 0.5) / 10000
             AS giant_share
    FROM agg
    """,
)
def graph_community_size_gini(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Inequality of the support-{s} component sizes after {r}
    min-label rounds: the Gini coefficient (rank-weighted form over
    ascending sizes, ties broken by label for determinism), the
    normalized size entropy H/ln(k), and the giant share. One number
    pair to track consolidation across corpus snapshots where the
    full histogram is too wide to eyeball.

    Scale shape: sizes are one rollup off the materialized
    component-labels index; the Gini rank uses
    `functions/distributed_rank.with_global_order` (component count
    grows with the corpus — islands multiply with the catalog — so the
    global sort must not single-partition).
    """.format(s=_SG_SUPPORT, r=_SG_ROUNDS)
    from arkflow_spark.functions import distributed_rank as dr
    from arkflow_spark.functions.graph_labels import component_labels

    lbl = component_labels(spark, sf_dir, _SG_SUPPORT, _SG_ROUNDS)
    comp = lbl.groupBy("lbl").agg(
        F.count("*").cast("bigint").alias("size")
    )
    ranked = dr.with_global_order(
        comp, [F.asc("size"), F.asc("lbl")]
    ).select("size", F.col(dr.RN).alias("rnk")).persist()
    tot = ranked.agg(F.sum("size").cast("double").alias("tot"))
    share = F.col("size") / F.col("tot")
    agg = ranked.crossJoin(F.broadcast(tot)).agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("size").cast("bigint").alias("n_nodes"),
        F.max("size").cast("bigint").alias("giant"),
        F.sum(F.col("rnk").cast("double") * F.col("size")).alias("wsum"),
        F.sum(share * F.log(share)).alias("negent"),
    )
    return agg.select(
        F.col("k").alias("n_communities"),
        "n_nodes",
        quantize(
            2.0 * F.col("wsum") / (F.col("k") * F.col("n_nodes"))
            - (F.col("k") + 1.0) / F.col("k"), 4
        ).alias("size_gini"),
        quantize(
            F.when(
                F.col("k") > 1, -F.col("negent") / F.log(F.col("k"))
            ).otherwise(F.lit(0.0)), 4
        ).alias("size_entropy_norm"),
        quantize(F.col("giant") * 1.0 / F.col("n_nodes"), 4).alias(
            "giant_share"
        ),
    )
