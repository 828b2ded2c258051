"""Graph analytics over the order graph: weighted bipartite PageRank.

`dedup_cluster_canonical` (queries/dedup_q.py) already demonstrates
iterative min-label propagation; this adds the other canonical iterative
graph workload — PageRank — over the customer<->supplier graph induced by
orders/lineitem. The driver loop unrolls a FIXED number of power
iterations (deterministic, oracle-matched by an identically-unrolled CTE
chain in DuckDB), which is exactly how productionized Spark PageRank runs:
edges partitioned once and stored, each iteration one join + one
aggregate, ranks re-used across iterations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.functions import copurchase
from arkflow_spark.functions.indexes import bucketed_index
from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load

DAMPING = 0.85
ITERS = 3
TOP = 25

_ORACLE = f"""
    WITH pair AS (
      SELECT 'c' || o.o_custkey AS c, 's' || l.l_suppkey AS s,
             COUNT(*) AS w
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT c AS src, s AS dst, w FROM pair
      UNION ALL
      SELECT s AS src, c AS dst, w FROM pair
    ),
    outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
    {{iter_ctes}}
    SELECT node, floor(r * 1000000 + 0.5) / 1000000 AS rank_r, rnk
    FROM (
      SELECT node, r,
             row_number() OVER (ORDER BY r DESC, node) AS rnk
      FROM r{ITERS}
    )
    WHERE rnk <= {TOP}
    ORDER BY rnk
"""


def _oracle_sql() -> str:
    steps = []
    for t in range(1, ITERS + 1):
        steps.append(
            f"""r{t} AS (
      SELECT n.node,
             (1 - {DAMPING}) / nn.n + {DAMPING} * COALESCE(c.contrib, 0)
               AS r
      FROM nodes n CROSS JOIN nn
      LEFT JOIN (
        SELECT e.dst AS node,
               CAST(SUM(CAST(p.r * (e.w * 1.0 / o.ow) AS DECIMAL(28,16)))
                    AS DOUBLE) AS contrib
        FROM r{t - 1} p
        JOIN edges e ON e.src = p.node
        JOIN outw o ON o.src = p.node
        GROUP BY e.dst
      ) c ON c.node = n.node
    )"""
        )
    return _ORACLE.replace("{iter_ctes}", ",\n    ".join(steps))


def _edge_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, share) weight-share edges for the bipartite order
    graph — the iteration-invariant input."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    pair = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.concat(F.lit("c"), "o_custkey").alias("c"),
            F.concat(F.lit("s"), "l_suppkey").alias("s"),
        )
        .agg(F.count("*").alias("w"))
    )
    edges = pair.select(
        F.col("c").alias("src"), F.col("s").alias("dst"), "w"
    ).unionAll(
        pair.select(F.col("s").alias("src"), F.col("c").alias("dst"), "w")
    )
    # weight share is iteration-invariant: ONE src-keyed window pass
    # (r8 optimization round — replaces the old groupBy-sum + join-back,
    # which cost an extra aggregate exchange plus a join per run; the
    # BIGINT window sum is the identical exact divisor)
    from pyspark.sql import Window

    ow = F.sum("w").over(Window.partitionBy("src"))
    return edges.select(
        "src", "dst", (F.col("w") * 1.0 / ow).alias("share")
    )


def _power_iterations(ew, nodes, n_nodes: int):
    """ITERS damped power iterations from the uniform rank vector.

    r8 optimization round: the old per-iteration ``nodes LEFT JOIN
    contrib`` (+ a second broadcast per iteration) was a provable
    no-op on this graph — the edge list is SYMMETRIZED (both directions
    of every (c, s) pair), so every node appears as a dst and
    ``contrib`` already covers the full node set each iteration; the
    coalesce(contrib, 0) dangling-node fallback can never fire. The
    damping update is now a plain projection of the dst-aggregate,
    halving the joins and broadcast jobs per iteration (plan evidence:
    plans/r08/graph_pagerank_bipartite_{before,after}.txt). The DuckDB
    oracle keeps the nodes-join form as the independent witness that
    results are unchanged."""
    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("r"))
    for _ in range(ITERS):
        contrib = _contrib_step(ranks, ew)
        ranks = contrib.select(
            "node",
            (
                F.lit((1 - DAMPING) / n_nodes)
                + DAMPING * F.col("contrib")
            ).alias("r"),
        )
    return ranks


def _contrib_step(ranks, ew):
    """One power-iteration transpose: rank-weighted contributions
    gathered per destination. The ranks-x-edges join and the dst
    aggregate are the whole per-iteration dataflow.

    The edges read from bucket-partitioned storage, so the join is an
    exchange-free SMJ with no size cap on the rank vector
    (tests/test_plans.py asserts the plan shape). The MERGE hint pins
    that strategy: without it Catalyst's size estimates flip iterations
    2+ to broadcasting the EDGE TABLE (the bucketed scan's file stats
    sit under the broadcast threshold while the rank-chain's estimate
    balloons through the aggregates) — backwards at any scale, and
    measured 2x slower even at sf0.1."""
    return (
        ew.join(ranks.hint("merge"), ranks.node == ew.src)
        .select(
            F.col("dst").alias("node"),
            (F.col("r") * F.col("share")).alias("contrib"),
        )
        .groupBy("node")
        .agg(
            F.sum(F.col("contrib").cast("decimal(28,16)"))
            .cast("double")
            .alias("contrib")
        )
    )


def _topk_ranks(ranks):
    from pyspark.sql import Window

    # TakeOrderedAndProject bounds the input; the numbering window then
    # runs over TOP rows  # scale: top-k-bounded (limit before window)
    w = Window.orderBy(F.desc("r"), F.asc("node"))
    return (
        ranks.orderBy(F.desc("r"), F.asc("node"))
        .limit(TOP)
        .withColumn("rnk", F.row_number().over(w))
        .select(
            "node",
            quantize(F.col("r"), 6).alias(
                "rank_r"
            ),
            "rnk",
        )
        .orderBy("rnk")
    )


@query("graph_pagerank_bucketed", oracle=_oracle_sql())
def graph_pagerank_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (3 power iterations, damping 0.85) over the
    bipartite customer<->supplier order graph; top-25 nodes.

    Determinism: per-edge contributions are identical doubles in both
    engines (rank x weight-share), summed exactly as DECIMAL(28,16); the
    damping update is then pure double arithmetic. Final ranks floor-
    rounded to 6 decimals with (rank, node) ordering.

    Scale path: the weight-share edge table and the node list are
    materialized ONCE per (session, dataset) as indexes bucketed on the
    per-iteration join key (`src` / `node`), so every power iteration
    reads pre-shuffled storage — the ranks-x-edges join needs NO
    exchange on either side (the edge scan is bucket-partitioned; the
    rank vector arrives hash-partitioned on `node` from the previous
    dst-aggregate), leaving exactly ONE exchange per iteration: the
    unavoidable transpose (groupBy dst). The write cost amortizes over
    iterations and repeated queries — at 100 TB over tens of them.

    Plan evidence: tests/test_plans.py::test_pagerank_bucketed_iteration
    asserts the iteration join subtree has zero Exchange operators.
    """
    ew_b = bucketed_index(
        spark, "_pr_edges_b", sf_dir, "src",
        lambda: _edge_shares(spark, sf_dir),
    )
    # the edge list is symmetrized, so every node is a src
    nodes_b = bucketed_index(
        spark, "_pr_nodes_b", sf_dir, "node",
        lambda: ew_b.select(F.col("src").alias("node")).distinct(),
    )
    n_nodes = nodes_b.count()
    ranks = _power_iterations(ew_b, nodes_b, n_nodes)
    return _topk_ranks(ranks)


# -------------------------------------------------- triangle counting


@query(
    "graph_triangle_count",
    oracle="""
    WITH basket AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pair AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS n
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    edges AS (SELECT u, v FROM pair WHERE n >= 2),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e2.u = e1.v
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT
      (SELECT COUNT(*) FROM (SELECT u FROM edges
                             UNION SELECT v FROM edges)) AS n_nodes,
      (SELECT COUNT(*) FROM edges) AS n_edges,
      n_triangles
    FROM tri
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the co-purchase graph (parts appearing in the
    same order at least twice) — the clustering-coefficient primitive for
    community/affinity analysis. Edges are oriented u < v, so each
    triangle is produced exactly once by the wedge join (e1=(a,b),
    e2=(b,c), closure (a,c)): no /6 correction and no duplicate wedges.
    The edge list is basket-bounded (pair support >= 2 keeps it ~constant
    per catalog segment); both joins are hash joins on edge endpoints and
    the small edge side broadcasts. The wedge join is degree-ORIENTED
    (r8, `functions/triangles.triangle_count` — the compact-forward
    discipline: wedges enumerate from each triangle's (degree, id)-
    minimum apex, capping hub fan-out at ~sqrt(m); the r8 densified-
    graph probe measured the id-oriented form growing 3.5x at 10x
    facts). The count is exact and unchanged — the oracle keeps the
    naive SQL as the independent witness. Edges come from the shared
    materialized co-purchase index (`functions/copurchase.py`) — one
    build per session, reused by the whole graph family.
    """
    from arkflow_spark.functions.triangles import triangle_count

    edges = copurchase.directed(spark, sf_dir, min_support=2).select(
        "u", "v"
    )
    # r9: hand the symmetric index view to the counter so the degree
    # aggregate and the node census both group on the bucket key
    # (exchange-free) instead of shuffling a transposed union
    und = copurchase.undirected(spark, sf_dir, min_support=2).select(
        "u", "v"
    )
    tri = triangle_count(edges, und=und).select(
        F.col("t").alias("n_triangles")
    )
    nodes = und.select("u").distinct().agg(F.count("*").alias("n_nodes"))
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    return (
        nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select("n_nodes", "n_edges", "n_triangles")
    )
