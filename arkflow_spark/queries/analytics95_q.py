"""Round-5 batch 95: purchase clumpiness, Simpson's paradox screen,
enum domain drift.

- `customer_purchase_clumpiness` — Zhang/Bradlow/Small clumpiness
  Hp = 1 + sum(x ln x)/ln(n+1) over each customer's normalized
  inter-order gaps (customers with >= 3 orders), rolled up per market
  segment. Clumpy != frequent: two customers with identical
  frequency and recency can differ hugely in binge-ness, and
  clumpiness predicts churn where RFM (`customer_rfm_segments`) is
  blind.
- `lineitem_simpson_paradox_check` — does the aggregate price-
  realization trend reverse within brands? Overall year-over-year
  realization delta vs the per-brand delta signs: aggregate up while
  most brands are down = a mix shift is lying to the dashboard
  (Simpson's paradox), and `part_price_realization` must be read
  per-brand only.
- `dq_enum_domain_drift` — categorical-domain drift between timeline
  halves for the enum-ish columns (event_type; doc lang/source):
  values appearing only in one half. New enum values arriving
  mid-stream break every hard-coded CASE/dimension mapping
  downstream — the schema-on-read failure mode schema checks miss.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ clumpiness


@query(
    "customer_purchase_clumpiness",
    oracle="""
    WITH gaps AS (
      SELECT o_custkey,
             epoch_us(o_orderdate) - lag(epoch_us(o_orderdate))
               OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey) AS g
      FROM orders
    ),
    pos AS (
      SELECT o_custkey, g,
             CAST(SUM(g) OVER (PARTITION BY o_custkey) AS BIGINT)
               AS tot,
             CAST(COUNT(*) OVER (PARTITION BY o_custkey) AS BIGINT)
               AS n
      FROM gaps WHERE g IS NOT NULL AND g > 0
    ),
    hp AS (
      SELECT o_custkey,
             floor((1 + SUM(CAST(floor((g * 1.0 / tot)
                   * ln(g * 1.0 / tot) * 1000000 + 0.5) / 1000000
                   AS DECIMAL(18,6))) / ln(MAX(n) + 1.0))
                   * 1000000 + 0.5) / 1000000 AS hp
      FROM pos
      GROUP BY o_custkey
      HAVING MAX(n) >= 2
    )
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           floor(CAST(SUM(CAST(h.hp AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*) * 10000 + 0.5) / 10000
             AS mean_clumpiness,
           floor(MAX(h.hp) * 10000 + 0.5) / 10000 AS max_clumpiness
    FROM hp h JOIN customer c ON c.c_custkey = h.o_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def customer_purchase_clumpiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Purchase clumpiness per market segment: for each customer with
    >= 3 orders (>= 2 positive gaps), normalize the inter-order gaps
    to shares x_i and compute Hp = 1 + sum(x ln x)/ln(n+1) (0 =
    perfectly regular, -> 1 = one binge). Per-gap entropy terms are
    6dp-quantized before the decimal reduce. Segment-level mean
    clumpiness separates habitual buyers from binge-and-vanish ones
    at equal frequency.

    Scale shape: one keyed lag window over orders, per-customer
    bounded entropy fold, a segment rollup over the customer dim
    (broadcast join).
    """
    o = load(spark, sf_dir, "orders")
    ep = F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    gaps = o.select(
        "o_custkey", (ep - F.lag(ep).over(w)).alias("g")
    ).filter(F.col("g").isNotNull() & (F.col("g") > 0))
    wp = Window.partitionBy("o_custkey")
    pos = gaps.select(
        "o_custkey",
        "g",
        F.sum("g").over(wp).cast("bigint").alias("tot"),
        F.count("*").over(wp).cast("bigint").alias("n"),
    )
    x = F.col("g") * 1.0 / F.col("tot")
    hp = (
        pos.groupBy("o_custkey")
        .agg(
            F.max("n").alias("n"),
            F.sum(
                quantize(x * F.log(x), 6).cast("decimal(18,6)")
            )
            .cast("double")
            .alias("sx"),
        )
        .filter(F.col("n") >= 2)
        .select(
            "o_custkey",
            quantize(
                1 + F.col("sx") / F.log(F.col("n") + 1.0), 6
            ).alias("hp"),
        )
    )
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return (
        hp.join(F.broadcast(c), hp.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            quantize(
                F.sum(F.col("hp").cast("decimal(18,6)")).cast("double")
                / F.count("*"), 4
            ).alias("mean_clumpiness"),
            quantize(F.max("hp"), 4).alias("max_clumpiness"),
        )
        .orderBy("c_mktsegment")
    )


# ------------------------------------------------ Simpson screen

_SIMPSON_Y1 = 1998
_SIMPSON_Y2 = 1999


@query(
    "lineitem_simpson_paradox_check",
    oracle=f"""
    WITH lines AS (
      SELECT p.p_brand,
             EXTRACT(year FROM l.l_shipdate) AS y,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                  AS DOUBLE) AS realized,
             CAST(SUM(CAST(floor(p.p_retailprice * l.l_quantity
                  * 100 + 0.5) / 100 AS DECIMAL(28,2))) AS DOUBLE)
               AS list_rev
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_quantity > 0
        AND EXTRACT(year FROM l.l_shipdate)
              IN ({_SIMPSON_Y1}, {_SIMPSON_Y2})
      GROUP BY 1, 2
    ),
    pv AS (
      SELECT p_brand,
             MAX(CASE WHEN y = {_SIMPSON_Y1}
                 THEN realized / list_rev END) AS r1,
             MAX(CASE WHEN y = {_SIMPSON_Y2}
                 THEN realized / list_rev END) AS r2
      FROM lines GROUP BY p_brand
      HAVING COUNT(DISTINCT y) = 2
    ),
    overall AS (
      SELECT SUM(CASE WHEN y = {_SIMPSON_Y1} THEN realized END)
               / SUM(CASE WHEN y = {_SIMPSON_Y1} THEN list_rev END)
               AS r1,
             SUM(CASE WHEN y = {_SIMPSON_Y2} THEN realized END)
               / SUM(CASE WHEN y = {_SIMPSON_Y2} THEN list_rev END)
               AS r2
      FROM lines
    )
    SELECT floor((o.r2 - o.r1) * 1000000 + 0.5) / 1000000
             AS overall_delta,
           CAST(COUNT(*) AS BIGINT) AS n_brands,
           CAST(SUM(CASE WHEN p.r2 > p.r1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_brands_up,
           CAST(SUM(CASE WHEN p.r2 < p.r1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_brands_down,
           (o.r2 > o.r1 AND SUM(CASE WHEN p.r2 < p.r1 THEN 1 ELSE 0
              END) * 2 > COUNT(*))
           OR (o.r2 < o.r1 AND SUM(CASE WHEN p.r2 > p.r1 THEN 1
              ELSE 0 END) * 2 > COUNT(*)) AS simpson_flag
    FROM pv p CROSS JOIN overall o
    GROUP BY o.r1, o.r2
    """,
)
def lineitem_simpson_paradox_check(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Simpson's paradox screen on price realization {y1} -> {y2}:
    the aggregate realization delta vs the per-brand delta signs
    (brands present both years). The flag fires when the aggregate
    moves one way while the MAJORITY of brands move the other — the
    mix-shift illusion; when set, every aggregate trend on this
    metric must be reported within-brand.

    Scale shape: one (brand, year) rollup with exact decimal sums;
    the brand pivot and the verdict are brand-bounded panels.
    """.format(y1=_SIMPSON_Y1, y2=_SIMPSON_Y2)
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") > 0)
        & F.year("l_shipdate").isin(_SIMPSON_Y1, _SIMPSON_Y2)
    )
    p = load(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_retailprice"
    )
    lines = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", F.year("l_shipdate").alias("y"))
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("realized"),
            F.sum(
                quantize(
                    F.col("p_retailprice") * F.col("l_quantity"), 2
                ).cast("decimal(28,2)")
            )
            .cast("double")
            .alias("list_rev"),
        )
    )
    pv = (
        lines.groupBy("p_brand")
        .agg(
            F.max(
                F.when(
                    F.col("y") == _SIMPSON_Y1,
                    F.col("realized") / F.col("list_rev"),
                )
            ).alias("r1"),
            F.max(
                F.when(
                    F.col("y") == _SIMPSON_Y2,
                    F.col("realized") / F.col("list_rev"),
                )
            ).alias("r2"),
            F.countDistinct("y").alias("ny"),
        )
        .filter(F.col("ny") == 2)
    )
    overall = lines.agg(
        (
            F.sum(F.when(F.col("y") == _SIMPSON_Y1, F.col("realized")))
            / F.sum(F.when(F.col("y") == _SIMPSON_Y1, F.col("list_rev")))
        ).alias("o_r1"),
        (
            F.sum(F.when(F.col("y") == _SIMPSON_Y2, F.col("realized")))
            / F.sum(F.when(F.col("y") == _SIMPSON_Y2, F.col("list_rev")))
        ).alias("o_r2"),
    )
    up = F.sum(F.when(F.col("r2") > F.col("r1"), 1).otherwise(0)).cast(
        "bigint"
    )
    down = F.sum(F.when(F.col("r2") < F.col("r1"), 1).otherwise(0)).cast(
        "bigint"
    )
    return (
        pv.crossJoin(F.broadcast(overall))
        .groupBy("o_r1", "o_r2")
        .agg(
            F.count("*").cast("bigint").alias("n_brands"),
            up.alias("n_brands_up"),
            down.alias("n_brands_down"),
        )
        .select(
            quantize(F.col("o_r2") - F.col("o_r1"), 6).alias(
                "overall_delta"
            ),
            "n_brands",
            "n_brands_up",
            "n_brands_down",
            (
                (
                    (F.col("o_r2") > F.col("o_r1"))
                    & (F.col("n_brands_down") * 2 > F.col("n_brands"))
                )
                | (
                    (F.col("o_r2") < F.col("o_r1"))
                    & (F.col("n_brands_up") * 2 > F.col("n_brands"))
                )
            ).alias("simpson_flag"),
        )
    )


# ------------------------------------------------ enum domain drift


@query(
    "dq_enum_domain_drift",
    oracle="""
    WITH vals AS (
      SELECT 'events.event_type' AS col_name, event_type AS v,
             CASE WHEN epoch_us(ts) <
               (SELECT MIN(epoch_us(ts))
                + (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 2
                FROM events)
             THEN 1 ELSE 2 END AS half
      FROM events
      UNION ALL
      SELECT 'documents.lang', lang,
             CASE WHEN doc_id * 2 <
               (SELECT MAX(doc_id) + MIN(doc_id) FROM documents)
             THEN 1 ELSE 2 END
      FROM documents
      UNION ALL
      SELECT 'documents.source', source,
             CASE WHEN doc_id * 2 <
               (SELECT MAX(doc_id) + MIN(doc_id) FROM documents)
             THEN 1 ELSE 2 END
      FROM documents
    ),
    domains AS (
      SELECT col_name, v,
             CAST(MAX(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS INT)
               AS in_h1,
             CAST(MAX(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS INT)
               AS in_h2
      FROM vals GROUP BY 1, 2
    )
    SELECT col_name,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           CAST(SUM(CASE WHEN in_h1 = 1 AND in_h2 = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS disappeared,
           CAST(SUM(CASE WHEN in_h1 = 0 AND in_h2 = 1
                    THEN 1 ELSE 0 END) AS BIGINT) AS appeared,
           SUM(CASE WHEN in_h1 + in_h2 = 1 THEN 1 ELSE 0 END) > 0
             AS domain_drifted
    FROM domains GROUP BY col_name ORDER BY col_name
    """,
)
def dq_enum_domain_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical-domain drift between halves for the enum-ish
    columns (event_type by timeline half; doc lang/source by id
    half): values present in exactly one half. A new enum value
    mid-stream breaks hard-coded CASE mappings and dimension tables
    downstream — caught here before the NULL-explosion does it.

    Scale shape: three labeled scans unioned, one (column, value)
    domain rollup (enum-vocabulary-bounded), a per-column verdict.
    """
    e = load(spark, sf_dir, "events")
    ep = F.unix_micros(F.col("ts"))
    cut_e = e.agg(
        (F.min(ep) + F.floor((F.max(ep) - F.min(ep)) / 2))
        .cast("bigint")
        .alias("cut")
    )
    ev = (
        e.crossJoin(F.broadcast(cut_e))
        .select(
            F.lit("events.event_type").alias("col_name"),
            F.col("event_type").alias("v"),
            F.when(ep < F.col("cut"), 1).otherwise(2).alias("half"),
        )
    )
    d = load(spark, sf_dir, "documents")
    cut_d = d.agg(
        (F.max("doc_id") + F.min("doc_id")).alias("s")
    )
    dd = d.crossJoin(F.broadcast(cut_d))
    half_d = F.when(F.col("doc_id") * 2 < F.col("s"), 1).otherwise(2)
    dl = dd.select(
        F.lit("documents.lang").alias("col_name"),
        F.col("lang").alias("v"),
        half_d.alias("half"),
    )
    ds = dd.select(
        F.lit("documents.source").alias("col_name"),
        F.col("source").alias("v"),
        half_d.alias("half"),
    )
    vals = ev.unionAll(dl).unionAll(ds)
    domains = vals.groupBy("col_name", "v").agg(
        F.max(F.when(F.col("half") == 1, 1).otherwise(0)).alias("in_h1"),
        F.max(F.when(F.col("half") == 2, 1).otherwise(0)).alias("in_h2"),
    )
    return (
        domains.groupBy("col_name")
        .agg(
            F.count("*").cast("bigint").alias("n_values"),
            F.sum(
                F.when(
                    (F.col("in_h1") == 1) & (F.col("in_h2") == 0), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("disappeared"),
            F.sum(
                F.when(
                    (F.col("in_h1") == 0) & (F.col("in_h2") == 1), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("appeared"),
            (
                F.sum(
                    F.when(
                        F.col("in_h1") + F.col("in_h2") == 1, 1
                    ).otherwise(0)
                )
                > 0
            ).alias("domain_drifted"),
        )
        .orderBy("col_name")
    )
