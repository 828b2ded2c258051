"""Round-5 batch 102: wallet trajectories, concentration trend, dedup
source impact.

- `customer_value_trajectory` — per-customer OLS slope of order value
  over the order SEQUENCE (1st, 2nd, ... order), rolled up by market
  segment: share of growing customers and the mean slope. Wallet
  expansion vs decay — the trajectory view that segment revenue
  totals average away.
- `orders_concentration_trend` — supplier revenue HHI per order
  quarter plus the OLS trend of HHI over quarters: is the book
  concentrating? `lineitem_supplier_hhi` is the static number;
  `supplier_share_shift` names the movers; this dates the drift.
- `dedup_source_impact` — what exact dedup does to the corpus MIX:
  per source, docs before/after keep-first dedup
  (`dedup_exact`'s rule), the removal rate, and the corpus-share
  delta. Dedup that silently halves one source changes every
  downstream statistic — this is the before/after audit.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------- customer value trajectory


@query(
    "customer_value_trajectory",
    oracle="""
    WITH seq AS (
      SELECT o_custkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey)
               AS x,
             CAST(o_totalprice AS DECIMAL(18,2)) AS y
      FROM orders
    ),
    mom AS (
      SELECT o_custkey,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y) AS DECIMAL(28,2)) AS sy,
             CAST(SUM(x * y) AS DECIMAL(28,2)) AS sxy
      FROM seq GROUP BY o_custkey
    ),
    slope AS (
      SELECT o_custkey,
             floor((n * CAST(sxy AS DOUBLE) - sx * CAST(sy AS DOUBLE))
                   / (n * sxx - sx * sx) * 1000000 + 0.5) / 1000000
               AS b
      FROM mom WHERE n >= 2
    )
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN s.b > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_growing,
           floor(SUM(CASE WHEN s.b > 0 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*) * 10000 + 0.5) / 10000 AS growing_share,
           floor(CAST(SUM(CAST(s.b AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*) * 10000 + 0.5) / 10000 AS mean_slope
    FROM slope s JOIN customer c ON c.c_custkey = s.o_custkey
    GROUP BY c.c_mktsegment ORDER BY segment
    """,
)
def customer_value_trajectory(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Wallet trajectory per market segment: each repeat customer's
    OLS slope of order value against order NUMBER (1st, 2nd, ...),
    rolled up to the share of growing customers and the mean slope.
    Segment revenue can be flat while every customer inside shrinks
    and churn replaces them — this is the view that catches it.

    Determinism: x is an integer sequence (date, orderkey ties), y an
    exact decimal, so the closed-form moments are exact; slopes are
    6dp-quantized before the decimal-summed segment mean.

    Scale shape: the sequence window partitions on the customer key;
    per-customer moments are one keyed rollup; the segment join
    broadcasts the customer dim.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    seq = o.select(
        "o_custkey",
        F.row_number().over(w).alias("x"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("y"),
    )
    mom = seq.groupBy("o_custkey").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum("y").cast("decimal(28,2)").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(28,2)").alias("sxy"),
    )
    slope = mom.filter(F.col("n") >= 2).select(
        "o_custkey",
        quantize(
            (
                F.col("n") * F.col("sxy").cast("double")
                - F.col("sx") * F.col("sy").cast("double")
            )
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")), 6
        ).alias("b"),
    )
    return (
        slope.join(
            F.broadcast(
                c.select(
                    F.col("c_custkey").alias("o_custkey"),
                    F.col("c_mktsegment").alias("segment"),
                )
            ),
            "o_custkey",
        )
        .groupBy("segment")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.sum(F.when(F.col("b") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_growing"),
            quantize(
                F.sum(F.when(F.col("b") > 0, 1).otherwise(0))
                * 1.0
                / F.count("*"), 4
            ).alias("growing_share"),
            quantize(
                F.sum(F.col("b").cast("decimal(18,6)")).cast("double")
                / F.count("*"), 4
            ).alias("mean_slope"),
        )
        .orderBy("segment")
    )


# ------------------------------------------- concentration trend


@query(
    "orders_concentration_trend",
    oracle="""
    WITH rev AS (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) * 4
                  + (EXTRACT(quarter FROM o.o_orderdate) - 1)
                  AS BIGINT) AS q,
             l.l_suppkey AS s,
             SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(18,6))) AS r
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
    ),
    qt AS (SELECT q, SUM(r) AS tr, CAST(COUNT(*) AS BIGINT) AS ns
           FROM rev GROUP BY q),
    hhi AS (
      SELECT r.q, MAX(t.ns) AS n_suppliers,
             floor(SUM(CAST(floor(POW(CAST(r.r AS DOUBLE)
                   / CAST(t.tr AS DOUBLE), 2) * 100000000 + 0.5)
                   / 100000000 AS DECIMAL(18,8))) * 10000 + 0.5) / 10000
               AS hhi
      FROM rev r JOIN qt t USING (q)
      GROUP BY r.q
    ),
    idx AS (
      SELECT q, n_suppliers, hhi,
             row_number() OVER (ORDER BY q) AS i,
             CAST(COUNT(*) OVER () AS BIGINT) AS k
      FROM hhi
    ),
    tr AS (
      SELECT CAST(MAX(k) AS BIGINT) AS k,
             SUM(i) AS si, SUM(i * i) AS sii,
             SUM(hhi) AS sh,
             SUM(i * hhi) AS sih
      FROM idx
    )
    SELECT x.q AS quarter, x.n_suppliers, x.hhi,
           floor((t.k * t.sih - t.si * t.sh)
                 / (t.k * t.sii - t.si * t.si) * 1000000 + 0.5)
             / 1000000 AS hhi_trend_per_quarter
    FROM idx x CROSS JOIN tr t
    ORDER BY x.q
    """,
)
def orders_concentration_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Supplier-concentration drift: revenue HHI per order quarter and
    the OLS slope of HHI over the quarter sequence. A positive trend
    is the book consolidating (single-supplier risk building);
    `lineitem_supplier_hhi` gives today's level, `supplier_share_shift`
    the movers, this the direction and rate. HHI terms are 8dp-
    quantized squares of exact-decimal shares, decimal-summed.

    Scale shape: one (quarter, supplier) decimal rollup; HHI and the
    trend run on the (quarters x suppliers) bounded table; the trend
    is a closed form over the quarter count.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            (
                F.year("o_orderdate") * 4 + (F.quarter("o_orderdate") - 1)
            )
            .cast("bigint")
            .alias("q"),
            F.col("l_suppkey").alias("s"),
        )
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("decimal(18,6)")
            ).alias("r")
        )
        .persist()  # (quarter x supplier)-bounded; feeds totals + HHI
    )
    qt = rev.groupBy("q").agg(
        F.sum("r").alias("tr"), F.count("*").cast("bigint").alias("ns")
    )
    term = quantize(
        F.pow(
            F.col("r").cast("double") / F.col("tr").cast("double"),
            F.lit(2),
        ), 8
    )
    hhi = (
        rev.join(F.broadcast(qt), "q")
        .groupBy("q")
        .agg(
            F.max("ns").alias("n_suppliers"),
            quantize(
                F.sum(term.cast("decimal(18,8)")), 4
            ).alias("hhi"),
        )
    )
    wq = Window.orderBy("q")
    # quarters are calendar-bounded  # scale: calendar-bounded window
    idx = hhi.select(
        "q",
        "n_suppliers",
        "hhi",
        F.row_number().over(wq).alias("i"),
    ).persist()
    tr = idx.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("i").alias("si"),
        F.sum(F.col("i") * F.col("i")).alias("sii"),
        F.sum("hhi").alias("sh"),
        F.sum(F.col("i") * F.col("hhi")).alias("sih"),
    )
    return (
        idx.crossJoin(F.broadcast(tr))
        .select(
            F.col("q").alias("quarter"),
            "n_suppliers",
            "hhi",
            quantize(
                (F.col("k") * F.col("sih") - F.col("si") * F.col("sh"))
                / (
                    F.col("k") * F.col("sii")
                    - F.col("si") * F.col("si")
                ), 6
            ).alias("hhi_trend_per_quarter"),
        )
        .orderBy("quarter")
    )


# ------------------------------------------------ dedup source impact


@query(
    "dedup_source_impact",
    oracle=r"""
    WITH fp AS (
      SELECT doc_id, source,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
               AS f
      FROM documents
    ),
    keepers AS (
      SELECT doc_id, source,
             CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY f)
                  THEN 1 ELSE 0 END AS keep
      FROM fp
    ),
    per AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_before,
             CAST(SUM(keep) AS BIGINT) AS n_after
      FROM keepers GROUP BY source
    ),
    tot AS (
      SELECT CAST(SUM(n_before) AS BIGINT) AS tb,
             CAST(SUM(n_after) AS BIGINT) AS ta
      FROM per
    )
    SELECT p.source, p.n_before, p.n_after,
           floor((1 - p.n_after * 1.0 / p.n_before) * 10000 + 0.5)
             / 10000 AS removal_rate,
           floor(p.n_before * 1.0 / t.tb * 10000 + 0.5) / 10000
             AS share_before,
           floor(p.n_after * 1.0 / t.ta * 10000 + 0.5) / 10000
             AS share_after,
           floor((p.n_after * 1.0 / t.ta - p.n_before * 1.0 / t.tb)
                 * 10000 + 0.5) / 10000 AS share_delta
    FROM per p CROSS JOIN tot t
    ORDER BY p.source
    """,
)
def dedup_source_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What keep-first exact dedup (`dedup_exact`'s rule) does to the
    corpus MIX: per source, documents before/after, the removal rate,
    and the corpus-share delta. A dedup pass that strips one mirror-
    heavy source reshapes every downstream language/quality statistic
    — this audit quantifies the reshaping before it ships.

    Scale shape: one fingerprint window (fingerprint-partitioned, the
    dedup_exact shuffle), one source rollup, one broadcast total.
    """
    from arkflow_spark.queries.dedup_q import _norm_text

    d = load(spark, sf_dir, "documents")
    wf = Window.partitionBy("f")
    keepers = d.select(
        "doc_id",
        "source",
        F.md5(_norm_text(F.col("text"))).alias("f"),
    ).select(
        "source",
        F.when(
            F.col("doc_id") == F.min("doc_id").over(wf), 1
        )
        .otherwise(0)
        .alias("keep"),
    )
    per = keepers.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_before"),
        F.sum("keep").cast("bigint").alias("n_after"),
    ).persist()  # source-bounded; feeds the totals and the final rows
    tot = per.agg(
        F.sum("n_before").cast("bigint").alias("tb"),
        F.sum("n_after").cast("bigint").alias("ta"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_before",
            "n_after",
            quantize(
                1 - F.col("n_after") * 1.0 / F.col("n_before"), 4
            ).alias("removal_rate"),
            quantize(F.col("n_before") * 1.0 / F.col("tb"), 4).alias(
                "share_before"
            ),
            quantize(F.col("n_after") * 1.0 / F.col("ta"), 4).alias(
                "share_after"
            ),
            quantize(
                F.col("n_after") * 1.0 / F.col("ta")
                - F.col("n_before") * 1.0 / F.col("tb"), 4
            ).alias("share_delta"),
        )
        .orderBy("source")
    )
