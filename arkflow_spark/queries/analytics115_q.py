"""Round-6 batch 115: rank-biased overlap drift, local bridges,
rich-club coefficient.

- `events_topk_rbo_drift` — rank-biased overlap (RBO, Webber et al.
  2010) between consecutive days' top-20 user leaderboards: a
  top-weighted, truncation-aware similarity that fixes what
  `events_topk_drift_jaccard` cannot express — two lists sharing the
  same top 3 but differing at ranks 15-20 should score far higher
  than the reverse. The geometric p^(d-1) weights make it THE
  standard rank-stability metric for search/feed evaluations.
- `graph_local_bridges` — Granovetter's weak-ties audit on the
  co-purchase graph: an edge is a LOCAL BRIDGE when its endpoints
  share no common neighbour (no triangle closes it), and the theory
  predicts bridges are WEAKER (lower co-purchase support) than
  embedded edges. Reports the bridge share and the mean-support
  comparison — bridges are the edges whose removal fragments
  recommendation reach.
- `graph_rich_club` — the rich-club coefficient phi(k): edge density
  among nodes of degree > k, for k in {2,4,8,16}. A rising phi(k)
  means high-degree parts preferentially co-sell with each other
  (a connected premium core); flat/falling means hubs fan out to the
  periphery. Complements `graph_degree_assortativity` (one global
  correlation) with the per-threshold density profile.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.functions import copurchase
from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ RBO drift

_RBO_K = 20
_RBO_P = 0.9
# p^(d-1) weights as literal doubles so BOTH engines use identical
# values (Math.pow vs C pow differ in the last ulp; a literal table
# cannot)
_RBO_W = [(d, repr(_RBO_P ** (d - 1))) for d in range(1, _RBO_K + 1)]
_RBO_NORM = repr(sum(_RBO_P ** (d - 1) for d in range(1, _RBO_K + 1)))


@query(
    "events_topk_rbo_drift",
    oracle=f"""
    WITH ud AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d, user_id,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT d, user_id,
             row_number() OVER (PARTITION BY d
                                ORDER BY c DESC, user_id) AS r
      FROM ud QUALIFY r <= {_RBO_K}
    ),
    pairs AS (
      SELECT a.d, a.r AS ra, b.r AS rb
      FROM ranked a JOIN ranked b
        ON b.user_id = a.user_id AND b.d = a.d - 1
    ),
    w(depth, wt) AS (VALUES
      {", ".join(f"({d}, {w})" for d, w in _RBO_W)}
    ),
    terms AS (
      SELECT p.d, w.depth,
             CAST(w.wt * COUNT(*) FILTER (p.ra <= w.depth
                                          AND p.rb <= w.depth)
                  * 1.0 / w.depth AS DECIMAL(28,12)) AS t,
             COUNT(*) FILTER (p.ra <= {_RBO_K} AND p.rb <= {_RBO_K})
               AS full_overlap
      FROM pairs p CROSS JOIN w
      GROUP BY 1, 2, w.wt
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           floor(CAST(SUM(t) AS DOUBLE) / {_RBO_NORM} * 10000 + 0.5)
             / 10000 AS rbo,
           CAST(MAX(full_overlap) AS BIGINT) AS overlap_20
    FROM terms GROUP BY d ORDER BY day
    """,
)
def events_topk_rbo_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap between each day's top-{k} users (by event
    count, id tiebreak) and the previous day's: RBO = sum over depths
    d of p^(d-1) |A_d ∩ B_d| / d, normalized by the truncated weight
    mass, p = {p}. 1.0 = identical leaderboards, and early-rank
    agreement dominates by design. Low RBO days flag churn in WHO
    drives load, which total-volume monitors miss entirely.

    Determinism: the p^(d-1) weights are literal doubles shared
    verbatim by both engines (pow() differs in the last ulp between
    libm and the JVM); each depth term is quantized to DECIMAL(28,12)
    before the order-free sum. Missing pairs (user absent yesterday)
    contribute zero by construction of the inner join.

    Scale shape: per-day rank is a partitioned window (day-keyed) over
    the corpus aggregate, run ONCE — the (days x {k}) leaderboard is
    persisted so the consecutive-day self-join reads it from cache on
    both sides instead of replaying the event rollup; everything after
    runs on those bounded rows with a literal {k}-depth grid —
    calendar-bounded.
    """.format(k=_RBO_K, p=_RBO_P)
    e = load(spark, sf_dir, "events")
    ud = e.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("d"), "user_id"
    ).agg(F.count("*").alias("c"))
    w = Window.partitionBy("d").orderBy(F.desc("c"), F.asc("user_id"))
    ranked = (
        ud.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _RBO_K)
        .select("d", "user_id", "r")
        .persist()
    )
    # ^ days x k rows: both sides of the day-over-day join read this
    # cache — one corpus rollup + rank pass, not two
    prev = ranked.select(
        F.col("user_id").alias("p_user"),
        F.date_add(F.col("d"), 1).alias("p_next"),
        F.col("r").alias("rb"),
    )
    pairs = ranked.join(
        prev,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("d") == F.col("p_next")),
    ).select("d", F.col("r").alias("ra"), "rb")
    wtab = spark.createDataFrame(
        [(d, float(wv)) for d, wv in _RBO_W], "depth INT, wt DOUBLE"
    )
    terms = (
        pairs.crossJoin(F.broadcast(wtab))
        .groupBy("d", "depth", "wt")
        .agg(
            (
                F.col("wt")
                * F.count(
                    F.when(
                        (F.col("ra") <= F.col("depth"))
                        & (F.col("rb") <= F.col("depth")),
                        1,
                    )
                )
                * 1.0
                / F.col("depth")
            )
            .cast("decimal(28,12)")
            .alias("t"),
            F.count(
                F.when(
                    (F.col("ra") <= _RBO_K) & (F.col("rb") <= _RBO_K), 1
                )
            ).alias("full_overlap"),
        )
    )
    return (
        terms.groupBy("d")
        .agg(
            quantize(
                F.sum("t").cast("double") / float(_RBO_NORM), 4
            ).alias("rbo"),
            F.max("full_overlap").cast("bigint").alias("overlap_20"),
        )
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "rbo",
            "overlap_20",
        )
        .orderBy("day")
    )


# ------------------------------------------------ local bridges

_LB_SUPPORT = 2


@query(
    "graph_local_bridges",
    oracle=f"""
    WITH basket AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pair AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS n
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    edges AS (SELECT u, v, n FROM pair WHERE n >= {_LB_SUPPORT}),
    und AS (
      SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges
    ),
    closed AS (
      SELECT DISTINCT e.u, e.v
      FROM edges e
      JOIN und a ON a.u = e.u
      JOIN und b ON b.u = e.v AND b.v = a.v
    ),
    marked AS (
      SELECT e.u, e.v, e.n, c.u IS NULL AS is_bridge
      FROM edges e LEFT JOIN closed c ON c.u = e.u AND c.v = e.v
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
           CAST(COUNT(*) FILTER (is_bridge) AS BIGINT)
             AS n_local_bridges,
           floor(COUNT(*) FILTER (is_bridge) * 1.0 / COUNT(*)
                 * 10000 + 0.5) / 10000 AS bridge_share,
           floor(CAST(SUM(CAST(n AS DECIMAL(18,2)))
                      FILTER (is_bridge) AS DOUBLE)
                 / COUNT(*) FILTER (is_bridge) * 10000 + 0.5) / 10000
             AS mean_support_bridges,
           floor(CAST(SUM(CAST(n AS DECIMAL(18,2)))
                      FILTER (NOT is_bridge) AS DOUBLE)
                 / COUNT(*) FILTER (NOT is_bridge) * 10000 + 0.5)
             / 10000 AS mean_support_embedded,
           CAST(SUM(CAST(n AS DECIMAL(18,2))) FILTER (is_bridge)
                AS DOUBLE) / COUNT(*) FILTER (is_bridge)
             < CAST(SUM(CAST(n AS DECIMAL(18,2))) FILTER (NOT is_bridge)
                    AS DOUBLE) / COUNT(*) FILTER (NOT is_bridge)
             AS weak_ties_confirmed
    FROM marked
    """,
)
def graph_local_bridges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local bridges on the support>={s} co-purchase graph: edges whose
    endpoints share NO common neighbour (zero triangles through them)
    — the weak ties of Granovetter's theory, and the links whose loss
    disconnects local neighbourhoods. Reports the bridge share and
    tests the theory's signature: bridges should carry LOWER
    co-purchase support than triangle-embedded edges
    (`weak_ties_confirmed`).

    Scale shape (r8): edges read the shared materialized co-purchase
    index (`functions/copurchase.py`); closure membership reads the
    shared materialized closure index
    (`functions/graph_closure.closed_edges` — the degree-oriented
    wedge join runs ONCE per (session, support) and is shared with
    `graph_weak_tie_removal_impact`); one left join and one row of
    exact counts and decimal-sum means follow.
    """.format(s=_LB_SUPPORT)
    from arkflow_spark.functions.graph_closure import closed_edges

    edges = copurchase.directed(
        spark, sf_dir, min_support=_LB_SUPPORT
    )
    closed = closed_edges(spark, sf_dir, _LB_SUPPORT).withColumn(
        "closed", F.lit(True)
    )
    marked = edges.join(closed, ["u", "v"], "left").select(
        "n", F.col("closed").isNull().alias("is_bridge")
    )
    dsum = lambda cond: F.sum(
        F.when(cond, F.col("n").cast("decimal(18,2)"))
    ).cast("double")
    cnt = lambda cond: F.count(F.when(cond, 1))
    mb = dsum(F.col("is_bridge")) / cnt(F.col("is_bridge"))
    me = dsum(~F.col("is_bridge")) / cnt(~F.col("is_bridge"))
    return marked.agg(
        F.count("*").cast("bigint").alias("n_edges"),
        cnt(F.col("is_bridge")).cast("bigint").alias("n_local_bridges"),
        quantize(cnt(F.col("is_bridge")) * 1.0 / F.count("*"), 4).alias(
            "bridge_share"
        ),
        quantize(mb, 4).alias("mean_support_bridges"),
        quantize(me, 4).alias("mean_support_embedded"),
        (mb < me).alias("weak_ties_confirmed"),
    )


# ------------------------------------------------ rich club

_RC_KS = (2, 4, 8, 16)


@query(
    "graph_rich_club",
    oracle=f"""
    WITH basket AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pair AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM pair UNION ALL SELECT v FROM pair
      ) GROUP BY node
    ),
    ks(k) AS (VALUES {", ".join(f"({k})" for k in _RC_KS)}),
    rich AS (
      SELECT ks.k, d.node FROM ks JOIN deg d ON d.d > ks.k
    ),
    re AS (
      SELECT r1.k, COUNT(*) AS e_rich
      FROM pair p
      JOIN rich r1 ON r1.node = p.u
      JOIN rich r2 ON r2.node = p.v AND r2.k = r1.k
      GROUP BY r1.k
    ),
    rn AS (SELECT k, COUNT(*) AS n_rich FROM rich GROUP BY k)
    SELECT rn.k AS k,
           CAST(rn.n_rich AS BIGINT) AS n_nodes,
           CAST(COALESCE(re.e_rich, 0) AS BIGINT) AS n_edges,
           CASE WHEN rn.n_rich > 1 THEN
             floor(2.0 * COALESCE(re.e_rich, 0)
                   / (rn.n_rich * (rn.n_rich - 1.0)) * 10000 + 0.5)
               / 10000 END AS phi
    FROM rn LEFT JOIN re ON re.k = rn.k
    ORDER BY k
    """,
)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient phi(k) = 2 E_k / (N_k (N_k - 1)) on the
    full co-purchase graph, for k in {ks}: the realized edge density
    among parts of degree > k. phi rising with k = the best-connected
    parts form a premium core that co-sells internally;
    `graph_degree_assortativity` summarizes the same tendency in one
    number, this shows WHERE on the degree axis it lives.

    Scale shape: edges and degrees derive from the shared co-purchase
    index; the degree>k membership tables are broadcast-sized for
    every k (degree tails thin exponentially), and the density count
    is two membership semi-joins per k over the edge list.
    """.format(ks=_RC_KS)
    pair = copurchase.directed(spark, sf_dir).select("u", "v")
    deg = (
        pair.select(F.col("u").alias("node"))
        .unionAll(pair.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    ks = spark.createDataFrame([(k,) for k in _RC_KS], "k INT")
    rich = F.broadcast(ks).join(deg, deg.d > ks.k).select("k", "node")
    r1 = rich.select(F.col("k"), F.col("node").alias("n1"))
    r2 = rich.select(F.col("k").alias("k2"), F.col("node").alias("n2"))
    re = (
        pair.join(F.broadcast(r1), F.col("u") == F.col("n1"))
        .join(
            F.broadcast(r2),
            (F.col("v") == F.col("n2")) & (F.col("k") == F.col("k2")),
        )
        .groupBy("k")
        .agg(F.count("*").alias("e_rich"))
    )
    rn = rich.groupBy("k").agg(F.count("*").alias("n_rich"))
    er = F.coalesce(F.col("e_rich"), F.lit(0))
    return (
        rn.join(re, "k", "left")
        .select(
            "k",
            F.col("n_rich").cast("bigint").alias("n_nodes"),
            er.cast("bigint").alias("n_edges"),
            F.when(
                F.col("n_rich") > 1,
                quantize(
                    2.0 * er / (F.col("n_rich") * (F.col("n_rich") - 1.0)), 4
                ),
            ).alias("phi"),
        )
        .orderBy("k")
    )
