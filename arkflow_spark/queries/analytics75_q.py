"""Round-5 batch 75: sketch set-intersection, value-segment migration,
market concentration.

- `sketch_theta_intersection` — KMV (k-minimum-values) theta-sketch
  estimate of |purchase users INTERSECT error users| next to the exact
  count: each set keeps its k smallest md5 hash values, theta = the
  k-th smallest, and the intersection estimate counts union-sketch
  members below min(theta) present in both — the mergeable
  set-INTERSECTION the HLL family cannot do (HLL unions only). The
  hash family is engine-portable, so the oracle reproduces the sketch
  bit-for-bit, not just within a tolerance.
- `customer_value_migration` — 5x5 spend-quintile transition matrix
  between the two timeline halves (quintiles via the distributed
  exact-ntile, no single-partition sort; absent halves bucket to 0).
  The segment-migration report behind every retention deck: diagonal
  mass = stable value, below-diagonal = decay.
- `lineitem_brand_concentration` — CR4 / CR8 concentration ratios and
  the Herfindahl index of brand revenue per ship year: the market-
  structure numbers (is this category consolidating?) that
  `lineitem_price_index` and the revenue bridge presuppose.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ KMV theta intersection

_KMV_K = 64
_SET_A = "purchase"
_SET_B = "error"


@query(
    "sketch_theta_intersection",
    oracle=f"""
    WITH hashed AS (
      SELECT DISTINCT event_type, user_id,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
               ::BIGINT AS h
      FROM events WHERE event_type IN ('{_SET_A}', '{_SET_B}')
    ),
    ranked AS (
      SELECT event_type, user_id, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h)
               AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM hashed
    ),
    sk AS (
      SELECT event_type, user_id, h,
             CASE WHEN n <= {_KMV_K} THEN NULL
                  ELSE MAX(CASE WHEN rn = {_KMV_K} THEN h END)
                         OVER (PARTITION BY event_type) END AS theta_h
      FROM ranked WHERE rn <= {_KMV_K}
    ),
    thetas AS (
      SELECT MIN(theta_h) AS tmin,
             BOOL_AND(theta_h IS NULL) AS all_exact
      FROM (SELECT event_type, MAX(theta_h) AS theta_h
            FROM sk GROUP BY event_type)
    ),
    inter_sk AS (
      SELECT a.user_id, a.h
      FROM sk a JOIN sk b
        ON a.user_id = b.user_id
       AND a.event_type = '{_SET_A}' AND b.event_type = '{_SET_B}'
    ),
    est AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_in_both
      FROM inter_sk i CROSS JOIN thetas t
      WHERE t.tmin IS NULL OR i.h < t.tmin
    ),
    exact AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS exact_intersection
      FROM (SELECT user_id FROM hashed
            WHERE event_type = '{_SET_A}'
            INTERSECT
            SELECT user_id FROM hashed
            WHERE event_type = '{_SET_B}')
    )
    SELECT x.exact_intersection,
           e.n_in_both AS sketch_members,
           floor(CASE WHEN t.tmin IS NULL THEN e.n_in_both * 1.0
                 ELSE e.n_in_both / (t.tmin / 1152921504606846976.0)
                 END * 10000 + 0.5) / 10000 AS kmv_estimate
    FROM exact x CROSS JOIN est e CROSS JOIN thetas t
    """,
)
def sketch_theta_intersection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """KMV theta-sketch intersection of the {a!r} and {b!r} user sets
    (k = {k}): each side keeps its {k} smallest 60-bit md5 hashes;
    theta = the k-th smallest (NULL = the set fit entirely, exact
    mode); the estimate counts sketch members below min(theta) present
    in both sketches, scaled by 1/theta. Every number is a
    deterministic function of md5, so the oracle reproduces the sketch
    EXACTLY — the correctness bar the within-bound sketch oracles
    (`agg_approx_distinct`) can't offer.

    Scale shape: the per-set top-k rank executes as WindowGroupLimit
    over the per-set hash stream (2 sets), the sketches are <= {k}
    rows each, and everything after is constant-size. At 100 TB the
    same sketches merge associatively across partitions.
    """.format(a=_SET_A, b=_SET_B, k=_KMV_K)
    e = load(spark, sf_dir, "events")
    hashed = (
        e.filter(F.col("event_type").isin(_SET_A, _SET_B))
        .select("event_type", "user_id")
        .distinct()
        .withColumn(
            "h",
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 15),
                16,
                10,
            ).cast("bigint"),
        )
        .persist()  # feeds the rank pass and both exact-intersect arms
    )
    wp = Window.partitionBy("event_type")
    ranked = hashed.select(
        "event_type",
        "user_id",
        "h",
        F.row_number().over(wp.orderBy("h")).alias("rn"),
        F.count("*").over(wp).alias("n"),
    )
    sk = ranked.filter(F.col("rn") <= _KMV_K).select(
        "event_type",
        "user_id",
        "h",
        F.when(
            F.col("n") <= _KMV_K, F.lit(None).cast("bigint")
        )
        .otherwise(
            F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).over(wp)
        )
        .alias("theta_h"),
    ).persist()  # <= 2k sketch rows; feeds thetas + both join sides
    thetas = (
        sk.groupBy("event_type")
        .agg(F.max("theta_h").alias("theta_h"))
        .agg(
            F.min("theta_h").alias("tmin"),
            F.bool_and(F.col("theta_h").isNull()).alias("all_exact"),
        )
    )
    a = sk.filter(F.col("event_type") == _SET_A).select("user_id", "h")
    b = sk.filter(F.col("event_type") == _SET_B).select("user_id")
    inter_sk = a.join(F.broadcast(b), "user_id")
    est = (
        inter_sk.crossJoin(F.broadcast(thetas))
        .filter(F.col("tmin").isNull() | (F.col("h") < F.col("tmin")))
        .agg(F.count("*").cast("bigint").alias("n_in_both"))
    )
    pa = hashed.filter(F.col("event_type") == _SET_A).select("user_id")
    pb = hashed.filter(F.col("event_type") == _SET_B).select("user_id")
    exact = pa.intersect(pb).agg(
        F.count("*").cast("bigint").alias("exact_intersection")
    )
    theta_frac = F.col("tmin") / F.lit(1152921504606846976.0)  # 2^60
    return (
        exact.crossJoin(F.broadcast(est))
        .crossJoin(F.broadcast(thetas))
        .select(
            "exact_intersection",
            F.col("n_in_both").alias("sketch_members"),
            quantize(
                F.when(
                    F.col("tmin").isNull(), F.col("n_in_both") * 1.0
                ).otherwise(F.col("n_in_both") / theta_frac), 4
            ).alias("kmv_estimate"),
        )
    )


# ------------------------------------------------ value migration


@query(
    "customer_value_migration",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             CASE WHEN epoch_us(o_orderdate) <
               (SELECT MIN(epoch_us(o_orderdate))
                + (MAX(epoch_us(o_orderdate))
                   - MIN(epoch_us(o_orderdate))) // 2 FROM orders)
             THEN 1 ELSE 2 END AS half,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS m
      FROM orders GROUP BY 1, 2
    ),
    q1 AS (
      SELECT o_custkey, ntile(5) OVER (ORDER BY m, o_custkey) AS q
      FROM spend WHERE half = 1
    ),
    q2 AS (
      SELECT o_custkey, ntile(5) OVER (ORDER BY m, o_custkey) AS q
      FROM spend WHERE half = 2
    )
    SELECT COALESCE(q1.q, 0) AS quintile_h1,
           COALESCE(q2.q, 0) AS quintile_h2,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM q1 FULL OUTER JOIN q2 USING (o_custkey)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def customer_value_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend-quintile transition matrix between timeline halves:
    per-half customer spend (exact decimal sums), quintiles 1..5 via
    the DISTRIBUTED exact-ntile (range partition + offsets — never a
    single-partition window; bit-identical to SQL ntile), customers
    absent from a half land in bucket 0. Diagonal mass = stable value
    segments; the 5->1/0 row is the churn the retention team owns.

    Scale shape: one customer-keyed rollup; two distributed-rank
    passes over the (already reduced) per-half spend tables; the
    matrix aggregate is 36 cells.
    """
    from arkflow_spark.functions.distributed_rank import (
        N,
        RN,
        exact_ntile,
        with_global_order,
    )

    o = load(spark, sf_dir, "orders")
    # o_orderdate arrives as TIMESTAMP_NTZ; normalize (UTC session ->
    # value-preserving) before epoch arithmetic
    ep = F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    cut = o.agg(
        (F.min(ep) + F.floor((F.max(ep) - F.min(ep)) / 2))
        .cast("bigint")
        .alias("cut")
    )
    spend = (
        o.crossJoin(F.broadcast(cut))
        .groupBy(
            "o_custkey",
            F.when(ep < F.col("cut"), 1).otherwise(2).alias("half"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("m")
        )
    )

    def quintiles(half):
        h = spend.filter(F.col("half") == half).select("o_custkey", "m")
        g = with_global_order(h, [F.asc("m"), F.asc("o_custkey")])
        return g.select(
            "o_custkey",
            exact_ntile(F.col(RN), F.col(N), 5).alias(f"q{half}"),
        )

    q1, q2 = quintiles(1), quintiles(2)
    return (
        q1.join(q2, "o_custkey", "full_outer")
        .groupBy(
            F.coalesce(F.col("q1"), F.lit(0)).alias("quintile_h1"),
            F.coalesce(F.col("q2"), F.lit(0)).alias("quintile_h2"),
        )
        .agg(F.count("*").cast("bigint").alias("n_customers"))
        .orderBy("quintile_h1", "quintile_h2")
    )


# ------------------------------------------------ brand concentration


@query(
    "lineitem_brand_concentration",
    oracle="""
    WITH rev AS (
      SELECT EXTRACT(year FROM l.l_shipdate) AS yr, p.p_brand,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                  AS DOUBLE) AS r
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT yr, CAST(SUM(CAST(r AS DECIMAL(18,2))) AS DOUBLE) AS t,
             CAST(COUNT(*) AS BIGINT) AS n_brands
      FROM rev GROUP BY yr
    ),
    shr AS (
      SELECT r.yr, t.n_brands,
             floor(r.r / t.t * 1000000 + 0.5) / 1000000 AS s,
             row_number() OVER (PARTITION BY r.yr
                                ORDER BY r.r DESC, r.p_brand) AS rk
      FROM rev r JOIN tot t USING (yr)
    )
    SELECT yr, n_brands,
           floor(SUM(CASE WHEN rk <= 4 THEN CAST(s AS DECIMAL(18,6))
                     ELSE 0 END) * 10000 + 0.5) / 10000 AS cr4,
           floor(SUM(CASE WHEN rk <= 8 THEN CAST(s AS DECIMAL(18,6))
                     ELSE 0 END) * 10000 + 0.5) / 10000 AS cr8,
           CAST(floor(SUM(CAST(floor(s * s * 1000000 + 0.5) / 1000000
                          AS DECIMAL(18,6))) * 10000 + 0.5) AS BIGINT)
             AS hhi
    FROM shr GROUP BY yr, n_brands
    ORDER BY yr
    """,
)
def lineitem_brand_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Brand revenue concentration per ship year: CR4 / CR8 (top-4 /
    top-8 share, ranked revenue DESC with brand tie-break) and the
    Herfindahl-Hirschman index on the 0-10000 scale (HHI > 2500 =
    "highly concentrated" in the DOJ bands). Shares quantize to 6dp
    before the decimal reduces, so both engines agree exactly.

    Scale shape: one lineitem rollup with the part dim broadcast; the
    share/rank stages run on the (year x brand) panel — the p_brand
    domain is closed by the TPC-H data spec
    (# scale: schema-domain-bounded window, 25 brands),
    never corpus-scaled.
    """
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            F.year("l_shipdate").alias("yr"), "p_brand"
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("r")
        )
    )
    tot = rev.groupBy("yr").agg(
        F.sum(F.col("r").cast("decimal(18,2)")).cast("double").alias("t"),
        F.count("*").cast("bigint").alias("n_brands"),
    )
    # scale: schema-domain-bounded (25 brands per year — closed
    # p_brand domain, corpus-independent)
    wr = Window.partitionBy("yr").orderBy(F.col("r").desc(), "p_brand")
    shr = (
        rev.join(F.broadcast(tot), "yr")
        .select(
            "yr",
            "n_brands",
            quantize(F.col("r") / F.col("t"), 6)
            .alias("s"),
            F.row_number().over(wr).alias("rk"),
        )
    )
    return (
        shr.groupBy("yr", "n_brands")
        .agg(
            quantize(
                F.sum(
                    F.when(
                        F.col("rk") <= 4, F.col("s").cast("decimal(18,6)")
                    ).otherwise(F.lit(0).cast("decimal(18,6)"))
                ), 4
            ).alias("cr4"),
            quantize(
                F.sum(
                    F.when(
                        F.col("rk") <= 8, F.col("s").cast("decimal(18,6)")
                    ).otherwise(F.lit(0).cast("decimal(18,6)"))
                ), 4
            ).alias("cr8"),
            F.floor(
                F.sum(
                    quantize(F.col("s") * F.col("s"), 6).cast("decimal(18,6)")
                )
                * 10000
                + 0.5
            )
            .cast("bigint")
            .alias("hhi"),
        )
        .orderBy("yr")
    )
