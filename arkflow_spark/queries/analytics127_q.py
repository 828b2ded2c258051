"""Round-6 batch 127: Holm step-down multiplicity control, weak-tie
removal impact.

- `events_holm_stepdown` — Holm's step-down procedure over the five
  per-event-type rate-change z-statistics (first vs second half of
  the corpus): |z| ranked descending, each compared to the critical
  value for alpha/(m-rank+1), rejections stop at the first
  non-rejection. Familywise-error control — the conservative sibling
  of `events_benjamini_hochberg`'s FDR; running five drift tests and
  eyeballing 1.96 is how false "regressions" ship.
- `graph_weak_tie_removal_impact` — Granovetter's claim, quantified:
  the co-purchase graph's giant-component share before and after
  deleting its LOCAL BRIDGES (`graph_local_bridges`' edges with no
  common neighbour). A large drop = cross-sell reach depends on a
  thin set of weak ties that no triangle backs up — the structural
  risk number behind the bridge list.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.functions import copurchase
from arkflow_spark.functions.graph_labels import component_labels, lp_rounds
from arkflow_spark.queries.base import quantize, query
from arkflow_spark.queries.analytics43_q import _lp_round_sql
from arkflow_spark.tables import load


# ------------------------------------------------ Holm step-down

# two-sided critical z for alpha/(m-k+1), alpha=0.05, m=5 — literal
# doubles shared by both engines (no inverse-normal to disagree on)
_HOLM_CRIT = (
    (1, "2.5758293035489"),
    (2, "2.4977054744123737"),
    (3, "2.3939797998185104"),
    (4, "2.2414027276049464"),
    (5, "1.9599639845400536"),
)


@query(
    "events_holm_stepdown",
    oracle=f"""
    WITH split AS (
      SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid
      FROM events
    ),
    halves AS (
      SELECT event_type,
             COUNT(*) FILTER (epoch_us(ts) < mid) AS n1,
             COUNT(*) FILTER (epoch_us(ts) >= mid) AS n2
      FROM events CROSS JOIN split GROUP BY event_type
    ),
    tot AS (
      SELECT CAST(SUM(n1) AS DOUBLE) AS t1,
             CAST(SUM(n2) AS DOUBLE) AS t2
      FROM halves
    ),
    z AS (
      SELECT event_type,
             (n1 / t.t1 - n2 / t.t2)
               / sqrt((n1 + n2) / (t.t1 + t.t2)
                      * (1 - (n1 + n2) / (t.t1 + t.t2))
                      * (1 / t.t1 + 1 / t.t2)) AS zval
      FROM halves CROSS JOIN tot t
    ),
    ranked AS (
      SELECT event_type, zval,
             row_number() OVER (ORDER BY abs(zval) DESC, event_type)
               AS r
      FROM z
    ),
    crit(r, zc) AS (VALUES
      {", ".join(f"({k}, CAST({v} AS DOUBLE))" for k, v in _HOLM_CRIT)}
    ),
    marked AS (
      SELECT rk.event_type, rk.zval, rk.r, c.zc,
             abs(rk.zval) > c.zc AS passes
      FROM ranked rk JOIN crit c ON c.r = rk.r
    ),
    stepped AS (
      SELECT event_type, zval, r, zc,
             -- Holm: reject while every EARLIER rank also rejected
             CAST(MIN(CASE WHEN passes THEN 1 ELSE 0 END)
                  OVER (ORDER BY r ROWS UNBOUNDED PRECEDING)
                  AS BOOLEAN) AS reject
      FROM marked
    )
    SELECT event_type,
           CAST(r AS INTEGER) AS rank,
           floor(zval * 10000 + 0.5) / 10000 AS z_share_shift,
           floor(zc * 10000 + 0.5) / 10000 AS critical_z,
           reject
    FROM stepped ORDER BY r
    """,
)
def events_holm_stepdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm step-down over the five per-type traffic-share-shift
    z-statistics (pooled two-proportion z of the type's share of
    events, first vs second half): |z| ranked descending, rank k
    tested at alpha/(m-k+1), and rejection stops at the first
    failure (the step-down rule — later ranks cannot reject once an
    earlier one accepts). FWER <= 0.05 across all five drift checks;
    critical values ship as literal doubles.

    Scale shape: one conditional-count rollup per type, a 5-row rank,
    a literal critical table, one cumulative-min over 5 rows
    (# scale: schema-domain-bounded — one row per event type).
    """
    e = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    split = e.agg(
        ((F.min(us) + F.max(us)) / 2).cast("bigint").alias("mid")
    )
    halves = (
        e.crossJoin(F.broadcast(split))
        .groupBy("event_type")
        .agg(
            F.count(F.when(us < F.col("mid"), 1)).alias("n1"),
            F.count(F.when(us >= F.col("mid"), 1)).alias("n2"),
        )
    )
    tot = halves.agg(
        F.sum("n1").cast("double").alias("t1"),
        F.sum("n2").cast("double").alias("t2"),
    )
    n1, n2, t1, t2 = (
        F.col("n1"), F.col("n2"), F.col("t1"), F.col("t2")
    )
    p = (n1 + n2) / (t1 + t2)
    zval = (n1 / t1 - n2 / t2) / F.sqrt(
        p * (1 - p) * (1 / t1 + 1 / t2)
    )
    z = halves.crossJoin(F.broadcast(tot)).select(
        "event_type", zval.alias("zval")
    )
    # scale: schema-domain-bounded (one row per event type)
    wr = Window.orderBy(F.abs(F.col("zval")).desc(), F.asc("event_type"))
    ranked = z.withColumn("r", F.row_number().over(wr))
    crit = spark.createDataFrame(
        [(k, float(v)) for k, v in _HOLM_CRIT], "r INT, zc DOUBLE"
    )
    marked = ranked.join(F.broadcast(crit), "r").withColumn(
        "passes",
        (F.abs(F.col("zval")) > F.col("zc")).cast("int"),
    )
    # scale: schema-domain-bounded (cumulative min over the 5-row panel)
    ws = Window.orderBy("r").rowsBetween(Window.unboundedPreceding, 0)
    return (
        marked.withColumn(
            "reject", F.min("passes").over(ws).cast("boolean")
        )
        .select(
            "event_type",
            F.col("r").cast("int").alias("rank"),
            quantize(F.col("zval"), 4).alias("z_share_shift"),
            quantize(F.col("zc"), 4).alias("critical_z"),
            "reject",
        )
        .orderBy("rank")
    )


# ------------------------------------------------ weak-tie removal

_WT_SUPPORT = 2
_WT_ROUNDS = 3


def _wt_oracle() -> str:
    rounds_a = ",".join(
        _lp_round_sql(f"lp{r}", r + 1) for r in range(_WT_ROUNDS)
    )
    # second label-prop over the bridge-free edge set: rename tables by
    # suffix via a nested WITH scope
    return f"""
    WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pair AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS n
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    base AS (
      WITH edges AS (SELECT u, v FROM pair WHERE n >= {_WT_SUPPORT}),
      und AS (
        SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
      ),
      nodes AS (SELECT DISTINCT u FROM und),
      lp0 AS (SELECT u, u AS lbl FROM nodes),
      {rounds_a},
      comp AS (SELECT lbl, COUNT(*) AS sz FROM lp{_WT_ROUNDS} GROUP BY lbl)
      SELECT (SELECT COUNT(*) FROM edges) AS n_edges,
             (SELECT COUNT(*) FROM nodes) AS n_nodes,
             MAX(sz) AS giant
      FROM comp
    ),
    pruned AS (
      WITH alledges AS (SELECT u, v FROM pair WHERE n >= {_WT_SUPPORT}),
      undall AS (
        SELECT u, v FROM alledges
        UNION ALL SELECT v AS u, u AS v FROM alledges
      ),
      closed AS (
        SELECT DISTINCT e.u, e.v
        FROM alledges e
        JOIN undall a ON a.u = e.u
        JOIN undall b ON b.u = e.v AND b.v = a.v
      ),
      edges AS (
        SELECT e.u, e.v FROM alledges e
        JOIN closed c ON c.u = e.u AND c.v = e.v
      ),
      und AS (
        SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
      ),
      nodes AS (SELECT DISTINCT u FROM und),
      lp0 AS (SELECT u, u AS lbl FROM nodes),
      {rounds_a},
      comp AS (SELECT lbl, COUNT(*) AS sz FROM lp{_WT_ROUNDS} GROUP BY lbl)
      SELECT (SELECT COUNT(*) FROM edges) AS n_edges,
             (SELECT COUNT(*) FROM nodes) AS n_nodes,
             MAX(sz) AS giant
      FROM comp
    )
    SELECT CAST(b.n_edges AS BIGINT) AS n_edges,
           CAST(b.n_edges - p.n_edges AS BIGINT) AS n_bridges_removed,
           CAST(b.n_nodes AS BIGINT) AS n_nodes,
           floor(b.giant * 1.0 / b.n_nodes * 10000 + 0.5) / 10000
             AS giant_share_before,
           floor(p.giant * 1.0 / b.n_nodes * 10000 + 0.5) / 10000
             AS giant_share_after,
           floor((b.giant - p.giant) * 1.0 / b.n_nodes * 10000 + 0.5)
             / 10000 AS reach_lost
    FROM base b CROSS JOIN pruned p
    """


@query("graph_weak_tie_removal_impact", oracle=_wt_oracle())
def graph_weak_tie_removal_impact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Granovetter's strength-of-weak-ties claim, measured: the giant
    component's node share on the support>={s} co-purchase graph
    before vs after deleting every LOCAL BRIDGE (edges with no common
    neighbour — `graph_local_bridges`' set), components approximated
    by the standard {r} unrolled min-label rounds in BOTH engines.
    `reach_lost` is the share of the catalog the cross-sell giant
    drops when the un-backed-up ties vanish — the structural-risk
    number that says whether the bridge list is trivia or exposure.

    Scale shape (r8): the BASE giant comes from the materialized
    component-labels index (`functions/graph_labels.component_labels`
    — one propagation per session, shared across the graph family);
    the closed-edge set comes from the materialized closure index
    (`functions/graph_closure.closed_edges` — the degree-oriented
    wedge join runs ONCE per (session, support), shared with
    `graph_local_bridges`); only the pruned graph's propagation runs
    in-query (its edge set is query-specific by construction). Giant
    shares are label-keyed rollups.
    """.format(s=_WT_SUPPORT, r=_WT_ROUNDS)
    from arkflow_spark.functions.graph_closure import closed_edges

    edges = copurchase.directed(
        spark, sf_dir, min_support=_WT_SUPPORT
    ).select("u", "v")
    und = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    nodes = und.select("u").distinct()

    def giant_of(lbl):
        return lbl.groupBy("lbl").agg(F.count("*").alias("sz")).agg(
            F.max("sz").alias("giant")
        )

    def giant(und_df, nodes_df):
        lbl = lp_rounds(
            nodes_df.select("u", F.col("u").alias("lbl")),
            und_df,
            _WT_ROUNDS,
        )
        return giant_of(lbl)

    base_counts = edges.agg(F.count("*").alias("n_edges")).crossJoin(
        F.broadcast(nodes.agg(F.count("*").alias("n_nodes")))
    )
    closed = closed_edges(spark, sf_dir, _WT_SUPPORT)
    # the pruned edge set feeds the pruned propagation (3 rounds x 2
    # references) plus two counts — persist it once
    pruned_edges = edges.join(
        closed, ["u", "v"], "left_semi"
    ).persist()
    # no pre-partition / second persist needed (r8 optimization round):
    # the single-reference propagation rounds all shuffle the SAME
    # edges∪self-loops subtree on v, which the planner deduplicates to
    # ONE physical exchange via ReusedExchange — the cached
    # pruned_edges above bounds the recompute
    pruned_und = pruned_edges.unionAll(
        pruned_edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    pruned_nodes = pruned_und.select("u").distinct()
    g_before = giant_of(
        component_labels(spark, sf_dir, _WT_SUPPORT, _WT_ROUNDS)
    )
    g_after = giant(pruned_und, pruned_nodes)
    pn = pruned_edges.agg(F.count("*").alias("p_edges"))
    gb, ga = F.col("giant"), F.col("p_giant")
    return (
        base_counts.crossJoin(F.broadcast(g_before))
        .crossJoin(
            F.broadcast(g_after.select(F.col("giant").alias("p_giant")))
        )
        .crossJoin(F.broadcast(pn))
        .select(
            F.col("n_edges").cast("bigint").alias("n_edges"),
            (F.col("n_edges") - F.col("p_edges"))
            .cast("bigint")
            .alias("n_bridges_removed"),
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            quantize(gb * 1.0 / F.col("n_nodes"), 4).alias(
                "giant_share_before"
            ),
            quantize(ga * 1.0 / F.col("n_nodes"), 4).alias(
                "giant_share_after"
            ),
            quantize((gb - ga) * 1.0 / F.col("n_nodes"), 4).alias(
                "reach_lost"
            ),
        )
    )
