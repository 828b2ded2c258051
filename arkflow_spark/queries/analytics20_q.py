"""Round-3 fourth-session batch 16: dedup threshold tuning, ABC class
migration, and bounded k-core peeling.

- `dedup_threshold_curve` — near-dup pair counts at every candidate
  Jaccard threshold from ONE exact pairs table: the tuning curve that
  picks the dedup threshold (and the banding scheme via the LSH
  S-curve) before a 100 TB pass — the aggregate sibling of
  `dedup_lsh_eval_pr` (which scores one chosen threshold).
- `lineitem_abc_migration` — ABC class transition matrix between two
  periods: which parts moved between revenue classes (the inventory
  re-planning trigger) — `lineitem_abc_pareto`'s cumulative-share
  classing applied per period + a self-join on the part.
- `graph_kcore_peel` — bounded k-core peeling (3 unrolled rounds,
  k=3) over the co-purchase graph: iteratively drop nodes with degree
  < k; survivors of round r are an upper bound on the true k-core
  that tightens each round — the dense-subgraph filter (community
  seeds, spam rings), unrolled exactly like `graph_pagerank_bucketed`
  so both engines run the identical bounded computation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import query
from arkflow_spark.queries.dedup_q import _ORACLE_SHINGLES, _shingles
from arkflow_spark.tables import load


# -------------------------------------------------- threshold curve

_CURVE_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


def _curve_oracle() -> str:
    rows = ", ".join(f"({t})" for t in _CURVE_THRESHOLDS)
    return f"""
    WITH {_ORACLE_SHINGLES},
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT doc_a, doc_b,
             shared * 1.0 / (sa.n + sb.n - shared) AS j
      FROM pairs
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
    ),
    th(t) AS (VALUES {rows})
    SELECT CAST(th.t AS DOUBLE) AS threshold,
           CAST(SUM(CASE WHEN j.j >= th.t THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pairs,
           COUNT(DISTINCT CASE WHEN j.j >= th.t THEN j.doc_b END)
             AS docs_removed
    FROM th CROSS JOIN jac j
    GROUP BY th.t
    ORDER BY threshold
    """


@query("dedup_threshold_curve", oracle=_curve_oracle())
def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup threshold-tuning curve: exact-Jaccard pair counts and
    removed-doc counts (min-id-keeps convention: a doc is removed if it
    is the LARGER id of any qualifying pair) at each candidate
    threshold, all from ONE pairs computation — the curve you read
    before choosing the threshold (and hence the LSH banding) for a
    100 TB dedup pass. The all-pairs base is the documented quadratic
    verification path (`dedup_prefix_filter`'s oracle); production computes the
    same curve over LSH candidates.

    Scale: the per-threshold sweep is a broadcast of 5 rows over the
    pairs table — thresholds cost nothing beyond the pairs you already
    have.
    """
    sh = _shingles(spark, sf_dir).persist()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    jac = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("shared")
                * 1.0
                / (F.col("n_a") + F.col("n_b") - F.col("shared"))
            ).alias("j"),
        )
    )
    th = spark.createDataFrame(
        [(t,) for t in _CURVE_THRESHOLDS], ["t"]
    )
    return (
        F.broadcast(th)
        .crossJoin(jac)
        .groupBy(F.col("t").alias("threshold"))
        .agg(
            F.sum(
                F.when(F.col("j") >= F.col("t"), 1).otherwise(0)
            ).alias("n_pairs"),
            F.countDistinct(
                F.when(F.col("j") >= F.col("t"), F.col("doc_b"))
            ).alias("docs_removed"),
        )
        .orderBy("threshold")
    )


# -------------------------------------------------- ABC migration

_ABC_CUTOVER = "1995-01-01"


def _abc_class_sql(pred: str) -> str:
    # rev stays DECIMAL through the running sum (associative => the
    # distributed local+offset prefix sum on the Spark side is
    # bit-identical); only the share division goes to double
    return f"""
      SELECT l_partkey,
             CASE WHEN cum <= 0.8 THEN 'A'
                  WHEN cum <= 0.95 THEN 'B' ELSE 'C' END AS cls
      FROM (
        SELECT l_partkey,
               CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey)
                    AS DOUBLE)
                 / CAST(SUM(rev) OVER () AS DOUBLE) AS cum
        FROM (
          SELECT l_partkey,
                 SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
          FROM lineitem WHERE {pred}
          GROUP BY l_partkey
        )
      )
    """


@query(
    "lineitem_abc_migration",
    oracle=f"""
    WITH pre AS ({_abc_class_sql(f"l_shipdate < TIMESTAMP '{_ABC_CUTOVER}'")}),
    post AS ({_abc_class_sql(f"l_shipdate >= TIMESTAMP '{_ABC_CUTOVER}'")})
    SELECT COALESCE(pre.cls, '-') AS cls_pre,
           COALESCE(post.cls, '-') AS cls_post,
           COUNT(*) AS n_parts
    FROM pre FULL OUTER JOIN post ON pre.l_partkey = post.l_partkey
    GROUP BY 1, 2
    ORDER BY cls_pre, cls_post
    """,
)
def lineitem_abc_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC class migration: Pareto revenue classes (A = top 80% of
    cumulative revenue, B = next 15%, C = rest — the
    `lineitem_abc_pareto` convention) computed independently for the
    pre/post {c} periods, then the part-level transition matrix
    ('-' = absent that period) — the re-planning trigger report
    (a part decaying A->C changes its stocking policy). Revenue
    reduces as exact decimal; the cumulative share is a distributed
    prefix sum (functions/distributed_rank), not a single-partition
    window, and stays decimal until the share division so the split
    local+offset sum is bit-identical to a sequential one.

    Scale: each period is one part-keyed reduction + a range-partitioned
    prefix sum over parts (dim-sized, not fact-sized); the transition
    join keys on the part.
    """.format(c=_ABC_CUTOVER)
    from arkflow_spark.functions.distributed_rank import with_global_order

    li = load(spark, sf_dir, "lineitem")
    cutoff = F.lit(_ABC_CUTOVER).cast("timestamp_ntz")

    def classes(df):
        rev = df.groupBy("l_partkey").agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .alias("rev")
        )
        g = with_global_order(
            rev,
            [F.col("rev").desc(), F.asc("l_partkey")],
            sums={"rev": F.col("rev")},
        )
        cum = F.col("__cum_rev").cast("double") / F.col(
            "__tot_rev"
        ).cast("double")
        return g.select(
            "l_partkey",
            F.when(cum <= 0.8, "A")
            .when(cum <= 0.95, "B")
            .otherwise("C")
            .alias("cls"),
        )

    pre = classes(li.filter(F.col("l_shipdate") < cutoff)).alias("pre")
    post = classes(li.filter(F.col("l_shipdate") >= cutoff)).alias(
        "post"
    )
    return (
        pre.join(
            post,
            F.col("pre.l_partkey") == F.col("post.l_partkey"),
            "full_outer",
        )
        .groupBy(
            F.coalesce(F.col("pre.cls"), F.lit("-")).alias("cls_pre"),
            F.coalesce(F.col("post.cls"), F.lit("-")).alias("cls_post"),
        )
        .agg(F.count("*").alias("n_parts"))
        .orderBy("cls_pre", "cls_post")
    )


# -------------------------------------------------- k-core peeling

_KCORE_K = 3
_KCORE_ROUNDS = 3


@query(
    "graph_kcore_peel",
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
    e0 AS (SELECT u, v FROM pair WHERE n >= 2),
    d0 AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0
      ) GROUP BY node
    ),
    s0 AS (SELECT node FROM d0 WHERE deg >= {_KCORE_K}),
    e1 AS (
      SELECT e.u, e.v FROM e0 e
      JOIN s0 a ON a.node = e.u JOIN s0 b ON b.node = e.v
    ),
    d1 AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT u AS node FROM e1 UNION ALL SELECT v FROM e1
      ) GROUP BY node
    ),
    s1 AS (SELECT node FROM d1 WHERE deg >= {_KCORE_K}),
    e2 AS (
      SELECT e.u, e.v FROM e1 e
      JOIN s1 a ON a.node = e.u JOIN s1 b ON b.node = e.v
    ),
    d2 AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT u AS node FROM e2 UNION ALL SELECT v FROM e2
      ) GROUP BY node
    ),
    s2 AS (SELECT node FROM d2 WHERE deg >= {_KCORE_K}),
    e3 AS (
      SELECT e.u, e.v FROM e2 e
      JOIN s2 a ON a.node = e.u JOIN s2 b ON b.node = e.v
    )
    SELECT
      (SELECT COUNT(*) FROM d0) AS nodes_0,
      (SELECT COUNT(*) FROM s0) AS after_round_1,
      (SELECT COUNT(*) FROM s1) AS after_round_2,
      (SELECT COUNT(*) FROM s2) AS after_round_3,
      (SELECT COUNT(*) FROM e3) AS edges_remaining
    """,
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling (k={k}, {r} unrolled rounds) on the
    support->=2 co-purchase graph: each round drops nodes of degree
    < k and the edges touching them; the surviving set shrinks toward
    the true {k}-core (an upper bound that tightens monotonically —
    both engines run the IDENTICAL bounded computation, the
    `graph_pagerank_bucketed` unrolling discipline). The dense-core
    filter behind community seeding and collusion/spam-ring detection.

    Scale: each round is one gather join on the bucketed co-purchase
    index (exchange-free on the edge side) + one per-target transpose
    aggregate; the only retained state per round is the ALIVE NODE SET
    (node ids — linear in the part catalog, never edge-sized); rounds
    are data-independent in number, so the plan is a fixed-depth DAG,
    not a driver loop.
    """.format(k=_KCORE_K, r=_KCORE_ROUNDS)
    # r8: edges come from the shared materialized co-purchase index
    # (`functions/copurchase.py`) — the same `u < v`, support >= 2
    # construction this query previously re-joined from raw lineitem
    # on every run (the r5 consolidation missed this call site).
    #
    # r9 (VERDICT r8 item 4): GATHER-FORM peel, the `lp_rounds`
    # discipline applied to degrees. The old form filtered and
    # persisted a fresh EDGE frame every round (e_r = two semi-joins
    # against the survivor set), so the per-round caches were
    # corpus-sized and the fixed-depth DAG re-referenced each round's
    # degree frame — plan 3,089 lines, the heaviest remaining graph
    # query. The peel only ever needs the NODE survivor sets:
    #
    #   deg_r(x) over e_r  =  |{alive neighbours of x}|   (x alive)
    #
    # so each round joins the alive set onto the SYMMETRIC bucketed
    # index by its source key `u` (exchange-free edge side, MERGE hint
    # pins the SMJ — same reasoning as lp_rounds: Catalyst's estimates
    # balloon through nested round aggregates and otherwise broadcast
    # the EDGE LIST, backwards at any scale) and each alive-source row
    # emits a degree CREDIT (1) to its target and an ALIVENESS MARKER
    # (0) to its source. Per-node: min(c)=0 <=> the node itself is
    # alive (it has >=1 out-row, every alive node does); sum(c) = its
    # alive-neighbour count = its degree in the induced subgraph.
    # s_r = {min(c)=0 AND sum(c)>=k} — one reference to the previous
    # round per round => LINEAR lineage; the persisted frames are the
    # tiny alive sets, not edges.
    from arkflow_spark.functions import copurchase

    und = copurchase.undirected(spark, sf_dir, min_support=2).select(
        "u", "v"
    )
    # d0: every node's degree is its out-row count in the symmetric
    # list — a groupBy on the index's bucket key, exchange-free.
    d0 = und.groupBy("u").agg(F.count("*").alias("deg"))
    counts = [d0.agg(F.count("*").alias("c"))]
    alive = (
        d0.filter(F.col("deg") >= _KCORE_K).select("u").persist()
    )
    counts.append(alive.agg(F.count("*").alias("c")))
    for _ in range(_KCORE_ROUNDS - 1):
        gathered = und.join(alive.hint("merge"), "u").select(
            F.explode(
                F.array(
                    F.struct(F.col("v").alias("node"), F.lit(1).alias("c")),
                    F.struct(F.col("u").alias("node"), F.lit(0).alias("c")),
                )
            ).alias("t")
        )
        alive = (
            gathered.groupBy("t.node")
            .agg(F.min("t.c").alias("self_alive"), F.sum("t.c").alias("deg"))
            .filter(
                (F.col("self_alive") == 0) & (F.col("deg") >= _KCORE_K)
            )
            .select(F.col("node").alias("u"))
            .persist()
        )
        counts.append(alive.agg(F.count("*").alias("c")))
    # edges_remaining = |{(u, v) in e0, u < v : both endpoints in s_R}|
    final = alive
    edge_count = (
        und.filter(F.col("u") < F.col("v"))
        .join(final.hint("merge"), "u", "left_semi")
        .join(
            final.withColumnRenamed("u", "v"), "v", "left_semi"
        )
        .agg(F.count("*").alias("c"))
    )
    out = (
        counts[0]
        .select(F.col("c").alias("nodes_0"))
        .crossJoin(counts[1].select(F.col("c").alias("after_round_1")))
        .crossJoin(counts[2].select(F.col("c").alias("after_round_2")))
        .crossJoin(counts[3].select(F.col("c").alias("after_round_3")))
        .crossJoin(edge_count.select(F.col("c").alias("edges_remaining")))
    )
    return out
