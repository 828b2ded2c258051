"""Relational operator surface: clauses, joins, subqueries, grouping.

Parity targets: the reference exposes DataFusion's SQL surface through its
``sql`` processor (docs/docs/sql/2-select.md: WITH/SELECT/WHERE/JOINs/
GROUP BY/HAVING/UNION/ORDER BY/LIMIT; 4-subqueries.md: EXISTS/IN/scalar).
Everything here is declarative DataFrame/SQL so Catalyst applies pushdown,
pruning, join re-ordering, and AQE picks broadcast/skew strategies at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import (
    davg,
    dsum,
    o_davg,
    o_dsum,
    query,
)
from arkflow_spark.tables import load


# --------------------------------------------------------------- flagship
@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {o_dsum('l_quantity', 'sum_qty')},
           {o_dsum('l_extendedprice', 'sum_base_price')},
           {o_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
           {o_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
           {o_davg('l_quantity', 'avg_qty')},
           {o_davg('l_extendedprice', 'avg_price')},
           {o_davg('l_discount', 'avg_disc')},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1999-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary (GROUP BY + 8 aggregates).

    Scale notes: single scan + partial aggregation (map-side combine) into a
    32-way (configurable) final agg on a 6-group key — no join, no skew risk;
    the shipdate filter is pushed to the parquet scan.
    """
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1999-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority,
           {o_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: selective 3-way join + group + deterministic top-k.

    Scale notes: both filters push to the scans; customer (filtered) is far
    below the broadcast threshold so the orders join avoids a shuffle; the
    lineitem join shuffles on orderkey, the natural key. Top-k runs as
    TakeOrderedAndProject (no global sort).
    """
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


@query(
    "q5_region_revenue",
    oracle=f"""
    SELECT n_name, {o_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style 6-way join with explicit broadcast of fixed-size dims.

    Scale notes: region(5)/nation(25) are broadcast unconditionally (their
    cardinality does not grow with sf). customer/supplier joins are left to
    AQE, which broadcasts while they fit and falls back to shuffle joins at
    100 TB. The double predicate s_nationkey = c_nationkey makes the supplier
    join selective before aggregation.
    """
    region = F.broadcast(load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    nation = F.broadcast(load(spark, sf_dir, "nation"))
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    return (
        region.join(nation, nation.n_regionkey == region.r_regionkey)
        .join(cust, cust.c_nationkey == nation.n_nationkey)
        .join(orders, orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(
            supp,
            (supp.s_suppkey == li.l_suppkey) & (supp.s_nationkey == cust.c_nationkey),
        )
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


# ------------------------------------------------------------------ joins
@query(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
           COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 0.0)
             AS total_spend
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
    ORDER BY c_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving customers with zero orders
    (reference: docs/docs/sql/2-select.md:102)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        cust.join(orders, orders.o_custkey == cust.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double"),
                F.lit(0.0),
            ).alias("total_spend"),
        )
        .orderBy("c_custkey")
    )


@query(
    "join_full_outer",
    oracle="""
    WITH big_cust AS (
      SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 9000
    ), big_orders AS (
      SELECT o_custkey, COUNT(*) AS n FROM orders
      WHERE o_totalprice > 300000 GROUP BY o_custkey
    )
    SELECT COALESCE(c_custkey, o_custkey) AS custkey, c_name,
           COALESCE(n, 0) AS n_big_orders,
           (c_custkey IS NOT NULL) AS has_profile,
           (o_custkey IS NOT NULL) AS has_big_order
    FROM big_cust FULL OUTER JOIN big_orders ON o_custkey = c_custkey
    ORDER BY custkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join (reference: docs/docs/sql/2-select.md:130)."""
    cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select("c_custkey", "c_name")
    )
    big = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n"))
    )
    return (
        cust.join(big, big.o_custkey == cust.c_custkey, "full")
        .select(
            F.coalesce("c_custkey", "o_custkey").alias("custkey"),
            "c_name",
            F.coalesce("n", F.lit(0)).alias("n_big_orders"),
            F.col("c_custkey").isNotNull().alias("has_profile"),
            F.col("o_custkey").isNotNull().alias("has_big_order"),
        )
        .orderBy("custkey")
    )


@query(
    "join_semi_anti",
    oracle="""
    SELECT 'with_orders' AS bucket, COUNT(*) AS n_customers
    FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
    UNION ALL
    SELECT 'without_orders' AS bucket, COUNT(*) AS n_customers
    FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    ORDER BY bucket
    """,
)
def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI / LEFT ANTI joins = IN / NOT IN subqueries
    (reference: docs/docs/sql/4-subqueries.md:57)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    on = orders.o_custkey == cust.c_custkey
    semi = cust.join(orders, on, "left_semi").agg(
        F.lit("with_orders").alias("bucket"), F.count("*").alias("n_customers")
    )
    anti = cust.join(orders, on, "left_anti").agg(
        F.lit("without_orders").alias("bucket"), F.count("*").alias("n_customers")
    )
    return semi.unionByName(anti).orderBy("bucket")


@query(
    "join_cross",
    oracle="""
    SELECT r.r_name AS region_a, s.r_name AS region_b
    FROM region r CROSS JOIN region s
    WHERE r.r_name < s.r_name
    ORDER BY region_a, region_b
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS JOIN (reference: docs/docs/sql/2-select.md:160)."""
    r = load(spark, sf_dir, "region").select(F.col("r_name").alias("region_a"))
    s = load(spark, sf_dir, "region").select(F.col("r_name").alias("region_b"))
    return (
        r.crossJoin(s)
        .filter(F.col("region_a") < F.col("region_b"))
        .orderBy("region_a", "region_b")
    )


# -------------------------------------------------------------- subqueries
@query(
    "subquery_exists",
    oracle="""
    SELECT s_suppkey, s_name FROM supplier s
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_suppkey = s.s_suppkey AND l_quantity >= 49
    )
    ORDER BY s_suppkey
    """,
)
def subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS (reference: docs/docs/sql/4-subqueries.md:46)."""
    for t in ("supplier", "lineitem"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT s_suppkey, s_name FROM supplier s
        WHERE EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_suppkey = s.s_suppkey AND l_quantity >= 49
        )
        ORDER BY s_suppkey
        """
    )


@query(
    "subquery_scalar_correlated",
    oracle="""
    SELECT p_partkey, p_name,
           CAST((SELECT SUM(CAST(l_quantity AS DECIMAL(18,6))) FROM lineitem
                 WHERE l_partkey = p.p_partkey) AS DOUBLE) AS total_qty
    FROM part p
    WHERE p_size = 50
    ORDER BY p_partkey
    """,
)
def subquery_scalar_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery in SELECT
    (reference: docs/docs/sql/4-subqueries.md:360-389)."""
    for t in ("part", "lineitem"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT p_partkey, p_name,
               CAST((SELECT SUM(CAST(l_quantity AS DECIMAL(18,6))) FROM lineitem
                     WHERE l_partkey = p.p_partkey) AS DOUBLE) AS total_qty
        FROM part p
        WHERE p_size = 50
        ORDER BY p_partkey
        """
    )


@query(
    "subquery_in_uncorrelated",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_custkey IN (
      SELECT c_custkey FROM customer WHERE c_acctbal < -900
    )
    ORDER BY o_orderkey
    """,
)
def subquery_in_uncorrelated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated IN subquery (reference: docs/docs/sql/4-subqueries.md:57)."""
    for t in ("orders", "customer"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_custkey IN (
          SELECT c_custkey FROM customer WHERE c_acctbal < -900
        )
        ORDER BY o_orderkey
        """
    )


# ------------------------------------------------- CTE / set ops / grouping
@query(
    "cte_union_intersect_except",
    oracle="""
    WITH asia AS (
      SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
    ), rich AS (
      SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
      WHERE c_acctbal > 8000
    )
    SELECT 'union' AS op, COUNT(*) AS n FROM (
      SELECT * FROM asia UNION SELECT * FROM rich
    )
    UNION ALL
    SELECT 'intersect' AS op, COUNT(*) AS n FROM (
      SELECT * FROM asia INTERSECT SELECT * FROM rich
    )
    UNION ALL
    SELECT 'except' AS op, COUNT(*) AS n FROM (
      SELECT * FROM asia EXCEPT SELECT * FROM rich
    )
    ORDER BY op
    """,
)
def cte_union_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH/CTE + UNION/INTERSECT/EXCEPT
    (reference: docs/docs/sql/2-select.md:34,199)."""
    for t in ("nation", "region", "customer"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        WITH asia AS (
          SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'ASIA'
        ), rich AS (
          SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
          WHERE c_acctbal > 8000
        )
        SELECT 'union' AS op, COUNT(*) AS n FROM (
          SELECT * FROM asia UNION SELECT * FROM rich
        )
        UNION ALL
        SELECT 'intersect' AS op, COUNT(*) AS n FROM (
          SELECT * FROM asia INTERSECT SELECT * FROM rich
        )
        UNION ALL
        SELECT 'except' AS op, COUNT(*) AS n FROM (
          SELECT * FROM asia EXCEPT SELECT * FROM rich
        )
        ORDER BY op
        """
    )


@query(
    "grouping_sets_rollup",
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           GROUPING(o_orderstatus) + 2 * GROUPING(o_orderpriority) AS gid,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    ORDER BY gid, status, priority
    """,
)
def grouping_sets_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP + GROUPING() (reference: docs/docs/sql/5-aggregate_functions.md:226)."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("total"),
            (
                F.grouping("o_orderstatus") + 2 * F.grouping("o_orderpriority")
            ).alias("gid"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "gid",
            "n_orders",
            "total",
        )
        .orderBy("gid", "status", "priority")
    )


@query(
    "having_filter",
    oracle=f"""
    SELECT l_suppkey, COUNT(*) AS n_items, {o_dsum('l_quantity', 'total_qty')}
    FROM lineitem
    GROUP BY l_suppkey
    HAVING COUNT(*) > 500
    ORDER BY l_suppkey
    """,
)
def having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ... HAVING (reference: docs/docs/sql/2-select.md:191)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(F.count("*").alias("n_items"), dsum("l_quantity", "total_qty"))
        .filter(F.col("n_items") > 500)
        .orderBy("l_suppkey")
    )


@query(
    "case_conditional",
    oracle="""
    SELECT
      CASE WHEN c_acctbal < 0 THEN 'debt'
           WHEN c_acctbal < 5000 THEN 'mid'
           ELSE 'rich' END AS bucket,
      COUNT(*) AS n,
      COUNT(*) FILTER (WHERE c_mktsegment = 'BUILDING') AS n_building,
      MIN(GREATEST(c_acctbal, 0.0)) AS min_clamped,
      MAX(LEAST(c_acctbal, 9000.0)) AS max_clamped,
      COALESCE(MAX(NULLIF(c_mktsegment, 'MACHINERY')), 'none') AS top_seg
    FROM customer
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def case_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE/COALESCE/NULLIF/GREATEST/LEAST + FILTER clause
    (reference: docs/docs/sql/7-scalar_functions.md:524-702)."""
    cust = load(spark, sf_dir, "customer")
    bucket = (
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("rich")
        .alias("bucket")
    )
    return (
        cust.groupBy(bucket)
        .agg(
            F.count("*").alias("n"),
            F.count(F.when(F.col("c_mktsegment") == "BUILDING", 1)).alias(
                "n_building"
            ),
            F.min(F.greatest("c_acctbal", F.lit(0.0))).alias("min_clamped"),
            F.max(F.least("c_acctbal", F.lit(9000.0))).alias("max_clamped"),
            F.coalesce(
                F.max(F.nullif("c_mktsegment", F.lit("MACHINERY"))), F.lit("none")
            ).alias("top_seg"),
        )
        .orderBy("bucket")
    )


@query(
    "order_limit_distinct",
    oracle="""
    SELECT DISTINCT o_custkey
    FROM orders
    ORDER BY o_custkey DESC
    LIMIT 25
    """,
)
def order_limit_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT + ORDER BY + LIMIT (reference: docs/docs/sql/2-select.md:217-230)."""
    return (
        load(spark, sf_dir, "orders")
        .select("o_custkey")
        .distinct()
        .orderBy(F.desc("o_custkey"))
        .limit(25)
    )
