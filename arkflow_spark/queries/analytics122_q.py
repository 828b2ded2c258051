"""Round-6 batch 122: community modularity, dead-stock aging,
accumulator overflow margins.

- `graph_community_modularity` — Newman modularity Q of the
  label-propagation communities: sum over communities of
  (within-edges/m - (degree-mass/2m)^2). The number that says
  whether `graph_community_label_prop_bucketed`'s communities are real
  structure (Q >> 0) or noise (Q ~ 0) — detection without evaluation
  is how bad segmentations ship.
- `part_dead_stock_aging` — dead-stock report per brand: the share
  of catalog parts with no sale in the trailing 90 days of the
  corpus and the age distribution of last sales. The assortment
  sibling of `orders_open_aging_buckets`; dead share drives
  clearance and de-listing decisions.
- `dq_sum_overflow_margin` — accumulator-sizing audit for the money
  columns: the decimal digits a FULL-corpus sum needs today and at
  1000x scale, against the DECIMAL(38) ceiling. Exactly the class of
  bug this repo's own oracle discipline kept hitting (HUGEINT
  widenings) — at 100 TB an undersized sum accumulator is a silent
  wraparound or a hard error mid-job; this reads the required
  precision off the data.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.functions import copurchase
from arkflow_spark.queries.base import quantize, query
from arkflow_spark.queries.analytics43_q import (
    _LP_ROUNDS,
    _lp_round_sql,
)
from arkflow_spark.tables import load


# ------------------------------------------------ modularity


@query(
    "graph_community_modularity",
    oracle=f"""
    WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    und AS (
      SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ),
    nodes AS (SELECT DISTINCT u FROM und),
    lp0 AS (SELECT u, u AS lbl FROM nodes),
    {",".join(_lp_round_sql(f"lp{r}", r + 1) for r in range(_LP_ROUNDS))},
    m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m FROM edges),
    deg AS (SELECT u, COUNT(*) AS d FROM und GROUP BY u),
    ec AS (
      SELECT ca.lbl, COUNT(*) AS e_in
      FROM edges e
      JOIN lp{_LP_ROUNDS} ca ON ca.u = e.u
      JOIN lp{_LP_ROUNDS} cb ON cb.u = e.v AND cb.lbl = ca.lbl
      GROUP BY 1
    ),
    dc AS (
      SELECT c.lbl, CAST(SUM(d.d) AS DOUBLE) AS dsum
      FROM lp{_LP_ROUNDS} c JOIN deg d ON d.u = c.u GROUP BY 1
    ),
    terms AS (
      SELECT dc.lbl,
             CAST(COALESCE(ec.e_in, 0) / m.m
                  - (dc.dsum / (2 * m.m)) * (dc.dsum / (2 * m.m))
                  AS DECIMAL(28,15)) AS q
      FROM dc LEFT JOIN ec ON ec.lbl = dc.lbl CROSS JOIN m
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
           (SELECT CAST(m AS BIGINT) FROM m) AS n_edges,
           floor(CAST(SUM(q) AS DOUBLE) * 10000 + 0.5) / 10000
             AS modularity
    FROM terms
    """,
)
def graph_community_modularity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Newman modularity of the {r}-round min-label communities over
    the co-purchase graph: Q = sum_c (e_c/m - (d_c/2m)^2). Both
    engines run the IDENTICAL unrolled rounds (the
    `graph_community_label_prop_bucketed` discipline), so the partition — and
    therefore Q — is deterministic. Q near 0 means the label-prop
    segmentation carries no more within-community edge mass than a
    degree-preserving random graph would; shipping those segments to
    merchandising would be noise laundering.

    Scale shape (r7): the label partition comes from the MATERIALIZED
    component-labels index (`functions/graph_labels.component_labels`
    — one propagation per session shared with the label-prop /
    histogram / percolation / weak-tie family); this query's own cost
    is the edge-endpoint label joins (bucketed on the node key) and
    the community-bounded Q rollup, decimal-quantized before the final
    exact sum.
    """.format(r=_LP_ROUNDS)
    from arkflow_spark.functions.graph_labels import component_labels

    und = copurchase.undirected(spark, sf_dir).select("u", "v")
    edges = copurchase.directed(spark, sf_dir).select("u", "v")
    lbl = component_labels(spark, sf_dir, 1, _LP_ROUNDS)
    m = edges.agg(F.count("*").cast("double").alias("m"))
    deg = und.groupBy("u").agg(F.count("*").alias("d"))
    ca = lbl.select(F.col("u").alias("eu"), F.col("lbl").alias("la"))
    cb = lbl.select(F.col("u").alias("ev"), F.col("lbl").alias("lb"))
    ec = (
        edges.join(ca, edges.u == F.col("eu"))
        .join(cb, (edges.v == F.col("ev")) & (F.col("lb") == F.col("la")))
        .groupBy(F.col("la").alias("lbl"))
        .agg(F.count("*").alias("e_in"))
    )
    dc = (
        lbl.join(deg, "u")
        .groupBy("lbl")
        .agg(F.sum("d").cast("double").alias("dsum"))
    )
    q = (
        (
            F.coalesce(F.col("e_in"), F.lit(0)) / F.col("m")
            - (F.col("dsum") / (2 * F.col("m")))
            * (F.col("dsum") / (2 * F.col("m")))
        )
    ).cast("decimal(28,15)")
    terms = (
        dc.join(ec, "lbl", "left")
        .crossJoin(F.broadcast(m))
        .select("lbl", q.alias("q"), F.col("m"))
    )
    return terms.agg(
        F.count("*").cast("bigint").alias("n_communities"),
        F.max("m").cast("bigint").alias("n_edges"),
        quantize(F.sum("q").cast("double"), 4).alias("modularity"),
    )


# ------------------------------------------------ dead stock

_DS_FRESH_DAYS = 90


@query(
    "part_dead_stock_aging",
    oracle=f"""
    WITH horizon AS (SELECT MAX(l_shipdate) AS h FROM lineitem),
    last_sale AS (
      SELECT l_partkey, MAX(l_shipdate) AS last_dt
      FROM lineitem GROUP BY 1
    ),
    per AS (
      SELECT p.p_brand AS brand, p.p_partkey,
             date_diff('day', ls.last_dt, h.h) AS age_days
      FROM part p
      LEFT JOIN last_sale ls ON ls.l_partkey = p.p_partkey
      CROSS JOIN horizon h
    )
    SELECT brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(COUNT(*) FILTER (age_days IS NULL) AS BIGINT)
             AS never_sold,
           CAST(COUNT(*) FILTER (age_days > {_DS_FRESH_DAYS})
                AS BIGINT) AS stale,
           floor((COUNT(*) FILTER (age_days > {_DS_FRESH_DAYS})
                  + COUNT(*) FILTER (age_days IS NULL)) * 1.0
                 / COUNT(*) * 10000 + 0.5) / 10000 AS dead_share,
           CAST(MAX(age_days) AS BIGINT) AS oldest_age_days
    FROM per GROUP BY brand ORDER BY brand
    """,
)
def part_dead_stock_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-stock report per brand: parts whose LAST sale is more than
    {d} days before the corpus horizon (or that never sold at all),
    the dead share of the assortment, and the oldest age. The
    de-listing screen every assortment review starts from — revenue
    reports never surface what ISN'T selling.

    Scale shape: one per-part max-date rollup, a part-dimension left
    join (broadcast), brand-bounded output.
    """.format(d=_DS_FRESH_DAYS)
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    horizon = li.agg(F.max("l_shipdate").alias("h"))
    last_sale = li.groupBy("l_partkey").agg(
        F.max("l_shipdate").alias("last_dt")
    )
    per = (
        p.join(last_sale, p.p_partkey == last_sale.l_partkey, "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.col("p_brand").alias("brand"),
            F.datediff(F.col("h"), F.col("last_dt")).alias("age_days"),
        )
    )
    dead = F.count(
        F.when(F.col("age_days") > _DS_FRESH_DAYS, 1)
    ) + F.count(F.when(F.col("age_days").isNull(), 1))
    return (
        per.groupBy("brand")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            F.count(F.when(F.col("age_days").isNull(), 1))
            .cast("bigint")
            .alias("never_sold"),
            F.count(F.when(F.col("age_days") > _DS_FRESH_DAYS, 1))
            .cast("bigint")
            .alias("stale"),
            quantize(dead * 1.0 / F.count("*"), 4).alias("dead_share"),
            F.max("age_days").cast("bigint").alias("oldest_age_days"),
        )
        .orderBy("brand")
    )


# ------------------------------------------------ overflow margins

_OM_COLS = (
    ("lineitem", "l_extendedprice", 2),
    ("lineitem", "l_quantity", 2),
    ("orders", "o_totalprice", 2),
    ("customer", "c_acctbal", 2),
)


def _om_oracle() -> str:
    blocks = []
    for tbl, col, s in _OM_COLS:
        blocks.append(f"""
      SELECT '{tbl}.{col}' AS col,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(MAX(abs({col})) AS DOUBLE) AS max_abs,
             CAST(SUM(CAST(abs({col}) AS DECIMAL(30,{s}))) AS DOUBLE)
               AS sum_abs
      FROM {tbl}""")
    union = "\n      UNION ALL\n".join(blocks)
    return f"""
    WITH m AS (
    {union}
    )
    SELECT col, n_rows,
           floor(max_abs * 100 + 0.5) / 100 AS max_abs,
           CAST(floor(log10(sum_abs)) + 1 AS INTEGER)
             AS sum_digits_now,
           CAST(floor(log10(sum_abs * 1000)) + 1 AS INTEGER)
             AS sum_digits_1000x,
           CAST(38 - 2 - (floor(log10(sum_abs * 1000)) + 1) AS INTEGER)
             AS headroom_digits,
           floor(log10(sum_abs * 1000)) + 1 + 2 <= 38
             AS fits_decimal_38
    FROM m ORDER BY col
    """


@query("dq_sum_overflow_margin", oracle=_om_oracle())
def dq_sum_overflow_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accumulator-sizing audit for the money columns: integer digits
    a full-corpus |sum| needs now and at 1000x this corpus, and the
    headroom left in a DECIMAL(38, 2) accumulator. The exact failure
    class this repo's DuckDB oracles kept surfacing (HUGEINT
    widenings) and the one that bites at 100 TB: a per-partition
    partial sum that fits at test scale can exceed the declared
    precision in production and fail mid-job. `fits_decimal_38` false
    means the pipeline must pre-aggregate or split the sum.

    Scale shape: per column one max+sum aggregate (decimal-exact),
    four-row output of pure arithmetic.
    """
    outs = []
    for tbl, col, s in _OM_COLS:
        t = load(spark, sf_dir, tbl)
        outs.append(
            t.agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.max(F.abs(F.col(col))).cast("double").alias("max_abs"),
                F.sum(F.abs(F.col(col)).cast(f"decimal(30,{s})"))
                .cast("double")
                .alias("sum_abs"),
            ).select(F.lit(f"{tbl}.{col}").alias("col"), "*")
        )
    m = outs[0]
    for o in outs[1:]:
        m = m.unionByName(o)
    digits_now = (F.floor(F.log10("sum_abs")) + 1).cast("int")
    digits_1k = (F.floor(F.log10(F.col("sum_abs") * 1000)) + 1).cast(
        "int"
    )
    return m.select(
        "col",
        "n_rows",
        quantize(F.col("max_abs"), 2).alias("max_abs"),
        digits_now.alias("sum_digits_now"),
        digits_1k.alias("sum_digits_1000x"),
        (F.lit(38) - 2 - digits_1k).cast("int").alias("headroom_digits"),
        (digits_1k + 2 <= 38).alias("fits_decimal_38"),
    ).orderBy("col")
