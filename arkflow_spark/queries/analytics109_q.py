"""Round-5 batch 109: supplier market overlap, digit-token semantics,
component sizes.

- `supplier_top20_customer_overlap` — customer-base overlap (shared
  customers + Jaccard) between the top-20 suppliers by revenue. High
  overlap = substitutable suppliers competing for the same accounts
  (negotiating leverage); zero overlap = segmented books. Bounded by
  construction: the matrix is top-k x top-k.
- `text_digit_token_profile` — what the numbers in a corpus ARE:
  per source, the share of tokens that are pure digit runs,
  year-like (19xx/20xx), price-like (d+.dd), or alphanumeric ids.
  Gopher-style symbol ratios count digits; this says whether they
  are dates, prices, or serial numbers — different cleaning rules
  for each.
- `graph_component_size_histogram` — size distribution of
  co-purchase graph components after 3 bounded min-label rounds
  (the `dedup_cluster_canonical` / `graph_community_label_prop_bucketed`
  unrolling discipline, oracle-mirrored): how much of the catalog is
  one connected mass vs isolated islands.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.functions import copurchase
from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


_TOP_SUPP = 20


# --------------------------------------- supplier customer overlap


@query(
    "supplier_top20_customer_overlap",
    oracle=f"""
    WITH rev AS (
      SELECT l.l_suppkey AS s,
             SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(18,6))) AS r
      FROM lineitem l GROUP BY 1
    ),
    top AS (
      SELECT s FROM rev ORDER BY r DESC, s LIMIT {_TOP_SUPP}
    ),
    cust AS (
      SELECT DISTINCT l.l_suppkey AS s, o.o_custkey AS c
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN top t ON t.s = l.l_suppkey
    ),
    sizes AS (
      SELECT s, CAST(COUNT(*) AS BIGINT) AS n FROM cust GROUP BY s
    ),
    pairs AS (
      SELECT a.s AS supp_a, b.s AS supp_b,
             CAST(COUNT(*) AS BIGINT) AS shared
      FROM cust a JOIN cust b
        ON a.c = b.c AND a.s < b.s
      GROUP BY 1, 2
    )
    SELECT p.supp_a, p.supp_b, p.shared AS shared_customers,
           za.n AS customers_a, zb.n AS customers_b,
           floor(p.shared * 1.0 / (za.n + zb.n - p.shared)
                 * 10000 + 0.5) / 10000 AS jaccard
    FROM pairs p
    JOIN sizes za ON za.s = p.supp_a
    JOIN sizes zb ON zb.s = p.supp_b
    ORDER BY p.supp_a, p.supp_b
    """,
)
def supplier_top20_customer_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Customer-base overlap among the top-{k} suppliers by revenue:
    shared customers and Jaccard per supplier pair. Overlapping books
    mean substitutable suppliers (price leverage, easy failover);
    disjoint books mean every supplier is a single point of failure
    for ITS accounts — `part_dual_sourcing_shares` at the
    customer-relationship grain.

    Scale shape: the top-{k} head bounds everything — the distinct
    (supplier, customer) table is k x customers, the pair join
    k^2-bounded on the customer key; at any corpus size the matrix
    stays {k} x {k}.
    """.format(k=_TOP_SUPP)
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    top = (
        li.groupBy(F.col("l_suppkey").alias("s"))
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("decimal(18,6)")
            ).alias("r")
        )
        .orderBy(F.col("r").desc(), "s")
        .limit(_TOP_SUPP)
        .select("s")
    )
    cust = (
        li.join(F.broadcast(top), li.l_suppkey == top.s)
        .join(o, li.l_orderkey == o.o_orderkey)
        .select("s", F.col("o_custkey").alias("c"))
        .distinct()
        .persist()  # k x customers; feeds sizes + both pair sides
    )
    sizes = cust.groupBy("s").agg(F.count("*").cast("bigint").alias("n"))
    a = cust.select(F.col("s").alias("supp_a"), "c")
    b = cust.select(F.col("s").alias("supp_b"), "c")
    pairs = (
        a.join(b, "c")
        .filter(F.col("supp_a") < F.col("supp_b"))
        .groupBy("supp_a", "supp_b")
        .agg(F.count("*").cast("bigint").alias("shared"))
    )
    za = sizes.select(
        F.col("s").alias("supp_a"), F.col("n").alias("customers_a")
    )
    zb = sizes.select(
        F.col("s").alias("supp_b"), F.col("n").alias("customers_b")
    )
    return (
        pairs.join(F.broadcast(za), "supp_a")
        .join(F.broadcast(zb), "supp_b")
        .select(
            "supp_a",
            "supp_b",
            F.col("shared").alias("shared_customers"),
            "customers_a",
            "customers_b",
            quantize(
                F.col("shared")
                * 1.0
                / (
                    F.col("customers_a")
                    + F.col("customers_b")
                    - F.col("shared")
                ), 4
            ).alias("jaccard"),
        )
        .orderBy("supp_a", "supp_b")
    )


# ------------------------------------------- digit token semantics


@query(
    "text_digit_token_profile",
    oracle=r"""
    WITH tok AS (
      SELECT source,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      FROM documents
    ),
    cls AS (
      SELECT source,
             CASE
               WHEN regexp_matches(w, '^(19|20)[0-9][0-9]$')
                 THEN 'year'
               WHEN regexp_matches(w, '^[0-9]+\.[0-9][0-9]$')
                 THEN 'price'
               WHEN regexp_matches(w, '^[0-9]+$') THEN 'digits'
               WHEN regexp_matches(w, '[0-9]')
                AND regexp_matches(w, '[A-Za-z]') THEN 'alnum_id'
               ELSE 'other'
             END AS kind
      FROM tok WHERE w <> ''
    ),
    cnt AS (
      SELECT source, kind, CAST(COUNT(*) AS BIGINT) AS c
      FROM cls GROUP BY 1, 2
    ),
    tot AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM cls
      GROUP BY source
    )
    SELECT c.source, c.kind, c.c AS n_tokens,
           floor(c.c * 1.0 / t.n * 10000 + 0.5) / 10000 AS share
    FROM cnt c JOIN tot t USING (source)
    ORDER BY c.source, c.kind
    """,
)
def text_digit_token_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Numeric-token semantics per source: shares of year-like
    (19xx/20xx), price-like (d+.dd), pure-digit, and alphanumeric-id
    tokens. A symbol-ratio filter (Gopher) counts them all the same;
    the cleaning rules differ — years stay, serial numbers are noise,
    prices mark commerce pages — and this profile is what picks the
    rule per source.

    Scale shape: one token explode into a (source x 4-kind) count
    table; shares from exact integer sums.
    """
    d = load(spark, sf_dir, "documents")
    tok = (
        d.select(
            "source",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w"),
        )
        .filter(F.col("w") != "")
    )
    kind = (
        F.when(F.col("w").rlike("^(19|20)[0-9][0-9]$"), "year")
        .when(F.col("w").rlike(r"^[0-9]+\.[0-9][0-9]$"), "price")
        .when(F.col("w").rlike("^[0-9]+$"), "digits")
        .when(
            F.col("w").rlike("[0-9]") & F.col("w").rlike("[A-Za-z]"),
            "alnum_id",
        )
        .otherwise("other")
    )
    cls = tok.select("source", kind.alias("kind")).persist()
    # ^ feeds the kind counts AND the per-source totals
    # 'other' (plain words) is included so the profile always has a
    # denominator row per source — a corpus with NO numeric tokens
    # (like this fixture) still reports that fact positively
    cnt = cls.groupBy("source", "kind").agg(
        F.count("*").cast("bigint").alias("c")
    )
    tot = cls.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n")
    )
    return (
        cnt.join(F.broadcast(tot), "source")
        .select(
            "source",
            "kind",
            F.col("c").alias("n_tokens"),
            quantize(F.col("c") * 1.0 / F.col("n"), 4).alias("share"),
        )
        .orderBy("source", "kind")
    )


# ------------------------------------------- component size histogram

_CC_ROUNDS = 3
_CC_MIN_SUPPORT = 2


def _cc_oracle() -> str:
    rounds = []
    prev = "lbl0"
    for t in range(1, _CC_ROUNDS + 1):
        rounds.append(f"""lbl{t} AS (
      SELECT n.node,
             LEAST(n.lbl, COALESCE(MIN(m.lbl), n.lbl)) AS lbl
      FROM {prev} n
      LEFT JOIN und e ON e.u = n.node
      LEFT JOIN {prev} m ON m.node = e.v
      GROUP BY n.node, n.lbl
    )""")
        prev = f"lbl{t}"
    return f"""
    WITH basket AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pair AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS n
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    edges AS (SELECT u, v FROM pair WHERE n >= {_CC_MIN_SUPPORT}),
    und AS (
      SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges
    ),
    nodes AS (SELECT DISTINCT u AS node FROM und),
    lbl0 AS (SELECT node, node AS lbl FROM nodes),
    {','.join(rounds)},
    comp AS (
      SELECT lbl, CAST(COUNT(*) AS BIGINT) AS size
      FROM {prev} GROUP BY lbl
    ),
    tot AS (SELECT CAST(SUM(size) AS BIGINT) AS n FROM comp)
    SELECT c.size AS component_size,
           CAST(COUNT(*) AS BIGINT) AS n_components,
           CAST(SUM(c.size) AS BIGINT) AS n_nodes,
           floor(SUM(c.size) * 1.0 / t.n * 10000 + 0.5) / 10000
             AS node_share
    FROM comp c CROSS JOIN tot t
    GROUP BY c.size, t.n
    ORDER BY component_size
    """


@query("graph_component_size_histogram", oracle=_cc_oracle())
def graph_component_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Component-size distribution of the co-purchase graph after
    {r} bounded min-label rounds (both engines run the IDENTICAL
    unrolled computation — the `graph_pagerank_bucketed`
    discipline, so the histogram is deterministic even where labels
    have not fully converged). A giant component holding most nodes
    says cross-sell paths reach the whole catalog; many small islands
    say assortments are siloed.

    Scale shape (r7): the labels come from the MATERIALIZED
    component-labels index (`functions/graph_labels.component_labels`,
    keyed by (sf_dir, support={s}, rounds={r}) — one propagation per
    session shared across the graph family, built on bucketed
    edge/node staging so every round's neighbour join is
    exchange-free); this query's own cost is two label-keyed rollups.
    """.format(r=_CC_ROUNDS, s=_CC_MIN_SUPPORT)
    from arkflow_spark.functions.graph_labels import component_labels

    lbl = component_labels(
        spark, sf_dir, _CC_MIN_SUPPORT, _CC_ROUNDS
    )
    comp = lbl.groupBy("lbl").agg(
        F.count("*").cast("bigint").alias("size")
    ).persist()
    tot = comp.agg(F.sum("size").cast("bigint").alias("n"))
    return (
        comp.groupBy(F.col("size").alias("component_size"))
        .agg(
            F.count("*").cast("bigint").alias("n_components"),
            F.sum("size").cast("bigint").alias("n_nodes"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "component_size",
            "n_components",
            "n_nodes",
            quantize(F.col("n_nodes") * 1.0 / F.col("n"), 4).alias(
                "node_share"
            ),
        )
        .orderBy("component_size")
    )
