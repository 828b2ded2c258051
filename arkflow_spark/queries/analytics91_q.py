"""Round-5 batch 91: vintage curves, corpus self-similarity, trade
imbalance.

- `orders_vintage_revenue_curves` — loan-book-style vintage analysis:
  customers cohorted by first-order quarter, cumulative revenue per
  customer at cohort age 0..3 quarters, only over cohorts old enough
  to be observed at each age. Vintage curves bending down = newer
  acquisition cohorts monetize worse — visible YEARS before lifetime
  CLV (`customer_clv_discounted`) converges.
- `text_self_similarity_stride` — corpus diversity audit: mean
  trigram-shingle Jaccard between each document and its id+13
  neighbor (O(n) deterministic pairing). The MEAN overlap level —
  dedup hunts the high tail; a high mean with a clean dedup report
  means the corpus is templated everywhere and token budgets buy
  less than they appear to (Self-BLEU's job, shingle-exact).
- `nation_trade_imbalance` — supplier-nation -> customer-nation
  revenue flow matrix with the round-trip imbalance
  |flow(a,b) - flow(b,a)| / total, top-10 pairs. The directional
  structure TPC-H q7 reads for one nation pair, audited for all.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.queries.dedup_q import _ORACLE_SHINGLES, _shingles
from arkflow_spark.tables import load


# ------------------------------------------------ vintage curves

_VINTAGE_MAX_AGE_Q = 3


@query(
    "orders_vintage_revenue_curves",
    oracle=f"""
    WITH po AS (
      SELECT o_custkey,
             CAST(EXTRACT(year FROM o_orderdate) * 4
                  + (EXTRACT(quarter FROM o_orderdate) - 1)
                  AS BIGINT) AS q,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS rev
      FROM orders GROUP BY 1, 2
    ),
    first_q AS (
      SELECT o_custkey, MIN(q) AS q0 FROM po GROUP BY o_custkey
    ),
    span AS (SELECT MAX(q) AS qmax FROM po),
    sizes AS (
      SELECT f.q0,
             g.i AS age,
             CAST(COUNT(*) AS BIGINT) AS n_cust
      FROM first_q f
      CROSS JOIN span s
      CROSS JOIN generate_series(0, {_VINTAGE_MAX_AGE_Q}) g(i)
      WHERE s.qmax - f.q0 >= g.i
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT f.q0, g.i AS age,
             CAST(SUM(CAST(p.rev AS DECIMAL(28,2))) AS DOUBLE) AS crev
      FROM po p
      JOIN first_q f USING (o_custkey)
      CROSS JOIN span s
      JOIN generate_series(0, {_VINTAGE_MAX_AGE_Q}) g(i)
        ON p.q - f.q0 <= g.i AND s.qmax - f.q0 >= g.i
      GROUP BY 1, 2
    )
    SELECT s.q0 AS cohort_quarter, s.age, s.n_cust,
           floor(COALESCE(c.crev, 0) / s.n_cust * 100 + 0.5) / 100
             AS cum_rev_per_customer
    FROM sizes s LEFT JOIN cum c ON c.q0 = s.q0 AND c.age = s.age
    ORDER BY 1, 2
    """,
)
def orders_vintage_revenue_curves(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Vintage curves: cohorts keyed by first-order quarter, exact
    cumulative revenue per customer at ages 0..{a} quarters,
    restricted to cohorts whose observation window covers each age
    (no survivorship-of-the-young bias). Read down a column to
    compare acquisition quality across vintages at EQUAL age — the
    only fair comparison, and the one calendar-time revenue charts
    cannot make.

    Scale shape: one (customer, quarter) rollup, first-quarter join,
    a bounded ({a}+1)-way age fan-out via the grid range join, exact
    decimal revenue sums.
    """.format(a=_VINTAGE_MAX_AGE_Q)
    o = load(spark, sf_dir, "orders")
    po = o.groupBy(
        "o_custkey",
        (
            F.year("o_orderdate") * 4 + (F.quarter("o_orderdate") - 1)
        )
        .cast("bigint")
        .alias("q"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("rev")
    ).persist()  # (customer x quarter)-bounded; feeds first-quarter,
    # span, and the cumulative join — one raw-orders rollup
    first_q = po.groupBy("o_custkey").agg(
        F.min("q").alias("q0")
    ).persist()  # feeds both the cohort sizes and the revenue join
    span = po.agg(F.max("q").alias("qmax"))
    grid = spark.range(_VINTAGE_MAX_AGE_Q + 1).select(
        F.col("id").cast("bigint").alias("age")
    )
    sizes = (
        first_q.crossJoin(F.broadcast(span))
        .crossJoin(F.broadcast(grid))
        .filter(F.col("qmax") - F.col("q0") >= F.col("age"))
        .groupBy("q0", "age")
        .agg(F.count("*").cast("bigint").alias("n_cust"))
    )
    cum = (
        po.join(first_q, "o_custkey")
        .crossJoin(F.broadcast(span))
        .join(
            F.broadcast(grid),
            (F.col("q") - F.col("q0") <= F.col("age"))
            & (F.col("qmax") - F.col("q0") >= F.col("age")),
        )
        .groupBy("q0", "age")
        .agg(
            F.sum(F.col("rev").cast("decimal(28,2)"))
            .cast("double")
            .alias("crev")
        )
    )
    return (
        sizes.join(cum, ["q0", "age"], "left")
        .select(
            F.col("q0").alias("cohort_quarter"),
            "age",
            "n_cust",
            quantize(
                F.coalesce(F.col("crev"), F.lit(0.0))
                / F.col("n_cust"), 2
            ).alias("cum_rev_per_customer"),
        )
        .orderBy("cohort_quarter", "age")
    )


# ------------------------------------------------ self-similarity

_SS_STRIDE = 13


@query(
    "text_self_similarity_stride",
    oracle=f"""
    WITH {_ORACLE_SHINGLES},
    pairs AS (
      SELECT a.doc_id AS ida, a.doc_id + {_SS_STRIDE} AS idb
      FROM sizes a JOIN sizes b ON b.doc_id = a.doc_id + {_SS_STRIDE}
    ),
    shared AS (
      SELECT p.ida, CAST(COUNT(*) AS BIGINT) AS inter
      FROM pairs p
      JOIN sh sa ON sa.doc_id = p.ida
      JOIN sh sb ON sb.doc_id = p.idb AND sb.shingle = sa.shingle
      GROUP BY p.ida
    ),
    jac AS (
      SELECT p.ida,
             floor(COALESCE(s.inter, 0) * 1.0
                   / (za.n + zb.n - COALESCE(s.inter, 0))
                   * 1000000 + 0.5) / 1000000 AS j
      FROM pairs p
      LEFT JOIN shared s ON s.ida = p.ida
      JOIN sizes za ON za.doc_id = p.ida
      JOIN sizes zb ON zb.doc_id = p.idb
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           floor(CAST(SUM(CAST(j AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*) * 10000 + 0.5) / 10000 AS mean_jaccard,
           floor(MAX(j) * 10000 + 0.5) / 10000 AS max_jaccard,
           CAST(SUM(CASE WHEN j > 0.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_above_half
    FROM jac
    """,
)
def text_self_similarity_stride(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus self-similarity over the deterministic stride-{s} pair
    sample: trigram-shingle Jaccard between doc i and doc i+{s}
    (O(n) pairs), reporting the mean, max and the >0.5 count. The
    MEAN templatedness number — `dedup_prefix_filter` surfaces the
    worst pairs; this one prices the whole corpus (Self-BLEU's role,
    made exact and cheap).

    Scale shape: the pair sample is an id-shifted 1:1 join; shared
    shingles come from one equi-join on (shingle) restricted to the
    sampled pairs; one summary aggregate.
    """.format(s=_SS_STRIDE)
    sh = _shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n")
    )
    pairs = sizes.select(F.col("doc_id").alias("ida")).join(
        sizes.select(
            (F.col("doc_id") - _SS_STRIDE).alias("ida"),
            F.col("doc_id").alias("idb"),
        ),
        "ida",
    )
    sa = sh.select(F.col("doc_id").alias("ida"), "shingle")
    sb = sh.select(F.col("doc_id").alias("idb"), "shingle")
    shared = (
        pairs.join(sa, "ida")
        .join(sb, ["idb", "shingle"])
        .groupBy("ida")
        .agg(F.count("*").cast("bigint").alias("inter"))
    )
    za = sizes.select(F.col("doc_id").alias("ida"), F.col("n").alias("na"))
    zb = sizes.select(F.col("doc_id").alias("idb"), F.col("n").alias("nb"))
    jac = (
        pairs.join(shared, "ida", "left")
        .join(F.broadcast(za), "ida")
        .join(F.broadcast(zb), "idb")
        .select(
            quantize(
                F.coalesce(F.col("inter"), F.lit(0))
                * 1.0
                / (
                    F.col("na")
                    + F.col("nb")
                    - F.coalesce(F.col("inter"), F.lit(0))
                ), 6
            ).alias("j")
        )
    )
    return jac.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        quantize(
            F.sum(F.col("j").cast("decimal(18,6)")).cast("double")
            / F.count("*"), 4
        ).alias("mean_jaccard"),
        quantize(F.max("j"), 4).alias("max_jaccard"),
        F.sum(F.when(F.col("j") > 0.5, 1).otherwise(0))
        .cast("bigint")
        .alias("n_above_half"),
    )


# ------------------------------------------------ trade imbalance

_TRADE_TOP = 10


@query(
    "nation_trade_imbalance",
    oracle=f"""
    WITH flows AS (
      SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                  AS DOUBLE) AS flow
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation ns ON ns.n_nationkey = s.s_nationkey
      JOIN nation nc ON nc.n_nationkey = c.c_nationkey
      WHERE ns.n_nationkey <> nc.n_nationkey
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT f.supp_nation AS nation_a, f.cust_nation AS nation_b,
             f.flow AS flow_ab,
             COALESCE(r.flow, 0) AS flow_ba
      FROM flows f
      LEFT JOIN flows r ON r.supp_nation = f.cust_nation
                       AND r.cust_nation = f.supp_nation
      WHERE f.supp_nation < f.cust_nation
    )
    SELECT nation_a, nation_b,
           floor(flow_ab * 100 + 0.5) / 100 AS flow_ab,
           floor(flow_ba * 100 + 0.5) / 100 AS flow_ba,
           floor(abs(flow_ab - flow_ba)
                 / (flow_ab + flow_ba) * 10000 + 0.5) / 10000
             AS imbalance_ratio
    FROM pairs
    WHERE flow_ab + flow_ba > 0
    ORDER BY imbalance_ratio DESC, nation_a, nation_b
    LIMIT {_TRADE_TOP}
    """,
)
def nation_trade_imbalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation-to-nation revenue flow imbalance: supplier-nation ->
    customer-nation flows (cross-border only), paired with the
    reverse direction, top-{t} by |A->B - B->A| / (A->B + B->A).
    TPC-H q7 reads one corridor; this audits the whole matrix for
    one-way corridors (imbalance 1.0 = all flow one direction).

    Scale shape: the flow rollup joins the fact table to four
    broadcast dims (nation is fixed-size by contract, supplier /
    customer broadcast-eligible); the imbalance pairing is a self-
    join on the nation-pair panel (<= 25x24 rows).
    """.format(t=_TRADE_TOP)
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    ns = n.select(
        F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation")
    )
    nc = n.select(
        F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation")
    )
    flows = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("sk"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("ck"))
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("flow")
        )
        .persist()  # r8: <= 25x24 panel consumed by both sides of the
        # direction-pairing self-join — one corpus join, not two
    )
    rev = flows.select(
        F.col("supp_nation").alias("cust_nation"),
        F.col("cust_nation").alias("supp_nation"),
        F.col("flow").alias("flow_ba"),
    )
    pairs = (
        flows.join(rev, ["supp_nation", "cust_nation"], "left")
        .filter(F.col("supp_nation") < F.col("cust_nation"))
        .select(
            F.col("supp_nation").alias("nation_a"),
            F.col("cust_nation").alias("nation_b"),
            F.col("flow").alias("flow_ab"),
            F.coalesce(F.col("flow_ba"), F.lit(0.0)).alias("flow_ba"),
        )
        .filter(F.col("flow_ab") + F.col("flow_ba") > 0)
    )
    return (
        pairs.select(
            "nation_a",
            "nation_b",
            quantize(F.col("flow_ab"), 2).alias("flow_ab"),
            quantize(F.col("flow_ba"), 2).alias("flow_ba"),
            quantize(
                F.abs(F.col("flow_ab") - F.col("flow_ba"))
                / (F.col("flow_ab") + F.col("flow_ba")), 4
            ).alias("imbalance_ratio"),
        )
        .orderBy(F.col("imbalance_ratio").desc(), "nation_a", "nation_b")
        .limit(_TRADE_TOP)
    )
