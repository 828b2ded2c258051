"""Round-6 batch 113: bullwhip effect, power-of-two replenishment,
trade gravity residuals.

- `orders_bullwhip_ratio` — the bullwhip effect per brand: variance
  amplification between the demand signal (monthly quantity by ORDER
  date) and the replenishment signal (monthly quantity by SHIP date).
  CV^2 ratios > 1 mean batching/lead-time dynamics amplify noise up
  the chain — the classic Lee/Padmanabhan/Whang diagnostic that sizes
  upstream safety stock.
- `part_power_of_two_policy` — EOQ reorder intervals rounded to
  power-of-two days: the chosen 2^k interval per brand, its cost
  ratio vs the optimal interval, and whether it respects the 1.06
  worst-case bound (the power-of-two policy theorem). Synchronized
  2^k schedules are what real warehouses run; this audits how much
  that synchronization costs.
- `nation_gravity_model` — gravity residuals of the supplier-nation x
  customer-nation trade matrix: log(observed flow / expected flow)
  where expected = (supplier mass x customer mass) / total — the
  independence benchmark of the gravity model of trade. Top
  over/under-trading corridors by residual.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ bullwhip effect


@query(
    "orders_bullwhip_ratio",
    oracle="""
    WITH joined AS (
      SELECT p.p_brand AS brand, o.o_orderdate, l.l_shipdate,
             CAST(l.l_quantity AS DECIMAL(18,2)) AS qty
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
    ),
    dem AS (
      SELECT brand, date_trunc('month', o_orderdate) AS m,
             CAST(SUM(qty) AS DOUBLE) AS q
      FROM joined GROUP BY 1, 2
    ),
    shp AS (
      SELECT brand, date_trunc('month', l_shipdate) AS m,
             CAST(SUM(qty) AS DOUBLE) AS q
      FROM joined GROUP BY 1, 2
    ),
    md AS (
      SELECT brand, COUNT(*) AS n,
             CAST(SUM(CAST(q AS DECIMAL(18,2))) AS DOUBLE) AS s,
             CAST(SUM(CAST(q * q AS DECIMAL(28,4))) AS DOUBLE) AS ss
      FROM dem GROUP BY brand
    ),
    ms AS (
      SELECT brand, COUNT(*) AS n,
             CAST(SUM(CAST(q AS DECIMAL(18,2))) AS DOUBLE) AS s,
             CAST(SUM(CAST(q * q AS DECIMAL(28,4))) AS DOUBLE) AS ss
      FROM shp GROUP BY brand
    )
    SELECT md.brand,
           CAST(md.n AS BIGINT) AS n_months,
           floor((md.ss / md.n - (md.s / md.n) * (md.s / md.n))
                 / ((md.s / md.n) * (md.s / md.n)) * 10000 + 0.5)
             / 10000 AS cv2_demand,
           floor((ms.ss / ms.n - (ms.s / ms.n) * (ms.s / ms.n))
                 / ((ms.s / ms.n) * (ms.s / ms.n)) * 10000 + 0.5)
             / 10000 AS cv2_shipments,
           floor(((ms.ss / ms.n - (ms.s / ms.n) * (ms.s / ms.n))
                  / ((ms.s / ms.n) * (ms.s / ms.n)))
                 / ((md.ss / md.n - (md.s / md.n) * (md.s / md.n))
                    / ((md.s / md.n) * (md.s / md.n)))
                 * 10000 + 0.5) / 10000 AS bullwhip_ratio,
           ((ms.ss / ms.n - (ms.s / ms.n) * (ms.s / ms.n))
            / ((ms.s / ms.n) * (ms.s / ms.n)))
           > ((md.ss / md.n - (md.s / md.n) * (md.s / md.n))
              / ((md.s / md.n) * (md.s / md.n))) AS amplified
    FROM md JOIN ms ON ms.brand = md.brand
    ORDER BY md.brand
    """,
)
def orders_bullwhip_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bullwhip diagnostic per brand: CV^2 of the monthly SHIPMENT
    series over CV^2 of the monthly DEMAND series (same quantities,
    bucketed by ship date vs order date). Ratio > 1 = the fulfilment
    side amplifies demand noise (batching, lead-time phasing) — the
    upstream-variance multiplier safety-stock models must absorb.

    Determinism: monthly quantities are exact 2dp decimal sums cast to
    double; the moment sums over the (brand x month) panel re-enter
    decimals (18,2 / 28,4 — both exact for 2dp values at this scale),
    so every engine computes identical doubles before the one
    quantized division chain.

    Scale shape: one lineitem scan with part/orders joined (part
    broadcasts; orders is keyed on the join key), two calendar-bounded
    monthly rollups, brand-bounded output (25 rows).
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(
            F.col("p_brand").alias("brand"),
            "o_orderdate",
            "l_shipdate",
            F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
        )
    )

    def monthly(df, date_col):
        return df.groupBy(
            "brand", F.date_trunc("month", date_col).alias("m")
        ).agg(F.sum("qty").cast("double").alias("q"))

    def moments(df):
        return df.groupBy("brand").agg(
            F.count("*").alias("n"),
            F.sum(F.col("q").cast("decimal(18,2)"))
            .cast("double")
            .alias("s"),
            F.sum((F.col("q") * F.col("q")).cast("decimal(28,4)"))
            .cast("double")
            .alias("ss"),
        )

    md = moments(monthly(joined, "o_orderdate"))
    ms = moments(monthly(joined, "l_shipdate")).select(
        F.col("brand").alias("sbrand"),
        F.col("n").alias("sn"),
        F.col("s").alias("sss"),
        F.col("ss").alias("sqq"),
    )

    def cv2(ss, s, n):
        mu = s / n
        return (ss / n - mu * mu) / (mu * mu)

    cv2_d = cv2(F.col("ss"), F.col("s"), F.col("n"))
    cv2_s = cv2(F.col("sqq"), F.col("sss"), F.col("sn"))
    return (
        md.join(F.broadcast(ms), md.brand == F.col("sbrand"))
        .select(
            "brand",
            F.col("n").cast("bigint").alias("n_months"),
            quantize(cv2_d, 4).alias("cv2_demand"),
            quantize(cv2_s, 4).alias("cv2_shipments"),
            quantize(cv2_s / cv2_d, 4).alias("bullwhip_ratio"),
            (cv2_s > cv2_d).alias("amplified"),
        )
        .orderBy("brand")
    )


# ------------------------------------------------ power-of-two policy

_POT_ORDER_COST = 200.0  # fixed cost per replenishment
_POT_HOLD_RATE = 0.04  # holding cost per unit-value per day


@query(
    "part_power_of_two_policy",
    oracle=f"""
    WITH span AS (
      SELECT CAST(date_diff('day', MIN(l_shipdate), MAX(l_shipdate))
                  AS DOUBLE) + 1 AS days
      FROM lineitem
    ),
    dem AS (
      SELECT p.p_brand AS brand,
             CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2)))
                  AS DOUBLE) AS total_qty,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                  AS DOUBLE)
               / CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2)))
                      AS DOUBLE) AS unit_value
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1
    ),
    base AS (
      SELECT brand,
             sqrt(2 * {_POT_ORDER_COST}
                  / ((total_qty / s.days) * unit_value
                     * {_POT_HOLD_RATE})) AS t_star
      FROM dem CROSS JOIN span s
    ),
    grid AS (
      SELECT b.brand, b.t_star, g.k, power(2.0, g.k) AS t_pow,
             0.5 * (power(2.0, g.k) / b.t_star
                    + b.t_star / power(2.0, g.k)) AS cost_ratio
      FROM base b CROSS JOIN generate_series(-5, 8) g(k)
    ),
    best AS (
      SELECT brand, t_star, k, t_pow, cost_ratio,
             row_number() OVER (PARTITION BY brand
                                ORDER BY cost_ratio, k) AS rn
      FROM grid
    )
    SELECT brand,
           floor(t_star * 10000 + 0.5) / 10000 AS optimal_days,
           CAST(k AS INTEGER) AS chosen_k,
           t_pow AS chosen_days,
           floor(cost_ratio * 10000 + 0.5) / 10000 AS cost_ratio,
           cost_ratio <= 1.06067 AS within_bound
    FROM best WHERE rn = 1 ORDER BY brand
    """,
)
def part_power_of_two_policy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Power-of-two replenishment audit per brand: EOQ optimal reorder
    interval T* = sqrt(2K / (D h)) (K = fixed order cost, D = daily
    demand value rate, h = daily holding rate), the best 2^k-day
    interval, and its cost ratio 0.5 (T/T* + T*/T). The power-of-two
    policy theorem bounds the ratio by sqrt(2)/2 + 1/sqrt(2) ~ 1.0607
    — synchronized 2^k schedules cost at most 6% over optimal, which
    is why real DCs run them; `within_bound` must be all-true.

    Determinism: the chosen k comes from an ARGMIN over an explicit
    14-value grid of cost ratios (row_number over identical IEEE
    doubles in both engines) — never from floor(log2(T*)), whose ulp
    flips at power-of-two boundaries split engines (the analytics32
    lesson).

    Scale shape: one brand rollup (exact decimal sums), a 25 x 14
    literal grid, one bucket-summary-bounded rank.
    """
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    span = li.agg(
        (
            F.datediff(F.max("l_shipdate"), F.min("l_shipdate")).cast(
                "double"
            )
            + 1
        ).alias("days")
    )
    dem = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_qty"),
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                .cast("double")
                / F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                .cast("double")
            ).alias("unit_value"),
        )
    )
    t_star = F.sqrt(
        2 * _POT_ORDER_COST
        / (
            (F.col("total_qty") / F.col("days"))
            * F.col("unit_value")
            * _POT_HOLD_RATE
        )
    )
    base = dem.crossJoin(F.broadcast(span)).select(
        "brand", t_star.alias("t_star")
    )
    grid = base.select(
        "brand",
        "t_star",
        F.explode(F.sequence(F.lit(-5), F.lit(8))).alias("k"),
    ).select(
        "brand",
        "t_star",
        "k",
        F.pow(F.lit(2.0), F.col("k")).alias("t_pow"),
        (
            0.5
            * (
                F.pow(F.lit(2.0), F.col("k")) / F.col("t_star")
                + F.col("t_star") / F.pow(F.lit(2.0), F.col("k"))
            )
        ).alias("cost_ratio"),
    )
    w = Window.partitionBy("brand").orderBy("cost_ratio", "k")
    return (
        grid.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "brand",
            quantize(F.col("t_star"), 4).alias("optimal_days"),
            F.col("k").cast("int").alias("chosen_k"),
            F.col("t_pow").alias("chosen_days"),
            quantize(F.col("cost_ratio"), 4).alias("cost_ratio"),
            (F.col("cost_ratio") <= 1.06067).alias("within_bound"),
        )
        .orderBy("brand")
    )


# ------------------------------------------------ trade gravity model


@query(
    "nation_gravity_model",
    oracle="""
    WITH flow AS (
      SELECT ns.n_name AS supplier_nation, nc.n_name AS customer_nation,
             SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(18,6))) AS f
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation ns ON ns.n_nationkey = s.s_nationkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation nc ON nc.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    ),
    sm AS (
      SELECT supplier_nation, SUM(f) AS ms FROM flow GROUP BY 1
    ),
    cm AS (
      SELECT customer_nation, SUM(f) AS mc FROM flow GROUP BY 1
    ),
    tot AS (SELECT SUM(f) AS t FROM flow),
    resid AS (
      SELECT fl.supplier_nation, fl.customer_nation,
             CAST(fl.f AS DOUBLE) AS observed,
             CAST(sm.ms AS DOUBLE) * CAST(cm.mc AS DOUBLE)
               / CAST(tot.t AS DOUBLE) AS expected,
             ln(CAST(fl.f AS DOUBLE)
                / (CAST(sm.ms AS DOUBLE) * CAST(cm.mc AS DOUBLE)
                   / CAST(tot.t AS DOUBLE))) AS g
      FROM flow fl
      JOIN sm ON sm.supplier_nation = fl.supplier_nation
      JOIN cm ON cm.customer_nation = fl.customer_nation
      CROSS JOIN tot
    )
    SELECT supplier_nation, customer_nation,
           floor(observed * 100 + 0.5) / 100 AS observed,
           floor(expected * 100 + 0.5) / 100 AS expected,
           floor(g * 10000 + 0.5) / 10000 AS gravity_residual
    FROM resid
    ORDER BY g DESC, supplier_nation, customer_nation
    LIMIT 15
    """,
)
def nation_gravity_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gravity residuals of the nation-to-nation trade matrix:
    log(observed corridor revenue / expected), expected being the
    gravity-model independence benchmark (supplier mass x customer
    mass / total trade). Positive residuals = corridors trading above
    what the two economies' sizes predict (preferential routes);
    top-15 shown. The same log(O/E) functional as `text_pmi_cooccurrence`
    applied to the trade graph — econometricians call it the gravity
    model, the workhorse of empirical trade analysis.

    Determinism: all flows and masses are exact decimal sums; the one
    ln() runs on identical doubles in both engines.

    Scale shape: one lineitem scan (dims broadcast), a nation-pair
    matrix bounded at 625 cells, broadcast mass joins, top-15.
    """
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    ns = n.select(
        F.col("n_nationkey").alias("snk"),
        F.col("n_name").alias("supplier_nation"),
    )
    nc = n.select(
        F.col("n_nationkey").alias("cnk"),
        F.col("n_name").alias("customer_nation"),
    )
    flow = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("snk"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("cnk"))
        .groupBy("supplier_nation", "customer_nation")
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("decimal(18,6)")
            ).alias("f")
        )
        .persist()  # r8: <= 625-cell matrix referenced by sm/cm/tot AND
        # the residual probe — without the cache the corpus-scaled
        # 5-way join ran four times per action
    )
    sm = flow.groupBy("supplier_nation").agg(F.sum("f").alias("ms"))
    cm = flow.groupBy("customer_nation").agg(F.sum("f").alias("mc"))
    tot = flow.agg(F.sum("f").alias("t"))
    obs = F.col("f").cast("double")
    exp_ = (
        F.col("ms").cast("double")
        * F.col("mc").cast("double")
        / F.col("t").cast("double")
    )
    g = F.log(obs / exp_)
    return (
        flow.join(F.broadcast(sm), "supplier_nation")
        .join(F.broadcast(cm), "customer_nation")
        .crossJoin(F.broadcast(tot))
        .select(
            "supplier_nation",
            "customer_nation",
            quantize(obs, 2).alias("observed"),
            quantize(exp_, 2).alias("expected"),
            quantize(g, 4).alias("gravity_residual"),
            g.alias("_g"),
        )
        .orderBy(
            F.desc("_g"), "supplier_nation", "customer_nation"
        )
        .limit(15)
        .drop("_g")
    )
