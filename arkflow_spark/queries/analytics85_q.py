"""Round-5 batch 85: distance concentration, behavioral lift, wealth
propensity.

- `embedding_distance_concentration` — the curse-of-dimensionality
  audit: over a deterministic O(n) pair sample (each vector paired
  with vec_id + 17), the cosine distribution's mean, P5, P95 and the
  relative contrast (P95-P5)/(1-mean). Contrast collapsing toward 0
  means nearest-neighbor distances stop being informative and every
  ANN recall number (`ann_ivf_pq_recall_eval`) should be read with
  suspicion.
- `events_behavior_cooccurrence_lift` — market-basket lift over user
  behavior: for every event-type pair, P(both in a user's history) /
  P(a)P(b). Lift >> 1 ("users who error also purchase") is the
  cross-feature signal segmentation teams mine; the machinery is
  `orders_market_basket_lift` pointed at behavior instead of parts.
- `customer_balance_order_propensity` — order propensity by account-
  balance quartile (distributed exact-ntile over customers): orders
  per customer and revenue share per quartile. The "do rich accounts
  order more" baseline behind credit-driven treatment decisions.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ distance concentration

_PAIR_STRIDE = 17


@query(
    "embedding_distance_concentration",
    oracle=f"""
    WITH x AS (
      SELECT vec_id, g.i AS i,
             CAST(embedding[g.i] AS DOUBLE) AS v
      FROM embeddings CROSS JOIN generate_series(1, 64) g(i)
      WHERE g.i <= len(embedding)
    ),
    nrm AS (
      SELECT vec_id, sqrt(SUM(v * v)) AS nrm FROM x GROUP BY vec_id
    ),
    pairs AS (
      SELECT a.vec_id AS ida, b.vec_id AS idb
      FROM embeddings a JOIN embeddings b
        ON b.vec_id = a.vec_id + {_PAIR_STRIDE}
    ),
    cosd AS (
      SELECT p.ida,
             floor(SUM(xa.v * xb.v) / (na.nrm * nb.nrm)
                   * 1000000 + 0.5) / 1000000 AS c
      FROM pairs p
      JOIN x xa ON xa.vec_id = p.ida
      JOIN x xb ON xb.vec_id = p.idb AND xb.i = xa.i
      JOIN nrm na ON na.vec_id = p.ida
      JOIN nrm nb ON nb.vec_id = p.idb
      GROUP BY p.ida, na.nrm, nb.nrm
    ),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c, ida) AS rn,
             COUNT(*) OVER () AS n
      FROM cosd
    ),
    qs AS (
      SELECT MAX(CASE WHEN rn = CAST(ceil(0.05 * n) AS BIGINT)
                      THEN c END) AS p05,
             MAX(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
                      THEN c END) AS p95,
             CAST(MAX(n) AS BIGINT) AS n_pairs,
             CAST(SUM(CAST(c AS DECIMAL(18,6))) AS DOUBLE)
               / MAX(n) AS mean_c
      FROM ranked
    )
    SELECT n_pairs,
           floor(mean_c * 10000 + 0.5) / 10000 AS mean_cosine,
           floor(p05 * 10000 + 0.5) / 10000 AS p05_cosine,
           floor(p95 * 10000 + 0.5) / 10000 AS p95_cosine,
           floor((p95 - p05) / (1 - mean_c) * 10000 + 0.5) / 10000
             AS relative_contrast
    FROM qs
    """,
)
def embedding_distance_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distance-concentration audit over the deterministic stride-{s}
    pair sample (each vector vs vec_id+{s} — O(n) pairs, id-bounded
    fan-out): mean/P5/P95 of pairwise cosine (rank-selected order
    statistics) and the relative contrast (P95-P5)/(1-mean). In a
    healthy space the spread is wide relative to the mean distance;
    contrast near 0 is the concentration regime where kNN ranking
    degenerates (Beyer et al. 1999).

    Scale shape: the pair sample is an id-shifted self-join (1:1,
    never quadratic) but still O(corpus) rows, so the rank selection
    runs through `functions/distributed_rank.with_global_order`
    (range-partitioned local rank + bounded offsets) — no
    single-partition sort of the pair table (r6: converted from an
    unpartitioned rank window the r5 gate had only soft-justified).
    """.format(s=_PAIR_STRIDE)
    from arkflow_spark.functions import distributed_rank as dr
    from arkflow_spark.queries.vector_q import _dot, _norm

    e = load(spark, sf_dir, "embeddings")
    withn = e.select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    a = withn.select(
        F.col("vec_id").alias("ida"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = withn.select(
        (F.col("vec_id") - _PAIR_STRIDE).alias("ida"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cosd = a.join(b, "ida").select(
        "ida",
        quantize(
            _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6
        ).alias("c"),
    )
    ranked = dr.with_global_order(
        cosd, [F.asc("c"), F.asc("ida")]
    ).select("c", F.col(dr.RN).alias("rn"), F.col(dr.N).alias("n"))
    qs = ranked.agg(
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.05 * F.col("n")).cast("bigint"),
                F.col("c"),
            )
        ).alias("p05"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.95 * F.col("n")).cast("bigint"),
                F.col("c"),
            )
        ).alias("p95"),
        F.max("n").cast("bigint").alias("n_pairs"),
        (
            F.sum(F.col("c").cast("decimal(18,6)")).cast("double")
            / F.max("n")
        ).alias("mean_c"),
    )
    return qs.select(
        "n_pairs",
        quantize(F.col("mean_c"), 4).alias("mean_cosine"),
        quantize(F.col("p05"), 4).alias("p05_cosine"),
        quantize(F.col("p95"), 4).alias("p95_cosine"),
        quantize(
            (F.col("p95") - F.col("p05")) / (1 - F.col("mean_c")), 4
        ).alias("relative_contrast"),
    )


# ------------------------------------------------ behavior lift


@query(
    "events_behavior_cooccurrence_lift",
    oracle="""
    WITH ut AS (
      SELECT DISTINCT user_id, event_type FROM events
    ),
    n AS (
      SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM ut
    ),
    item AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM ut GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.c_ab AS users_both,
           floor(p.c_ab * 1.0 / ia.c * 10000 + 0.5) / 10000
             AS confidence_a_to_b,
           floor(p.c_ab * 1.0 * n.n_users / (ia.c * ib.c)
                 * 10000 + 0.5) / 10000 AS lift
    FROM pairs p
    JOIN item ia ON ia.event_type = p.type_a
    JOIN item ib ON ib.event_type = p.type_b
    CROSS JOIN n
    ORDER BY type_a, type_b
    """,
)
def events_behavior_cooccurrence_lift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Association rules over user behavior: for each event-type
    pair, the users exhibiting both, P(b|a), and the lift
    P(ab)/(P(a)P(b)) over the user base. Lift below 1 between
    'purchase' and 'error' would be the reliability-to-revenue
    causal smoke every SRE deck wants.

    Scale shape: the basket is (user, type) DISTINCT (5 types —
    fan-out bounded at 10 pairs/user); supports broadcast; output is
    the type-pair panel.
    """
    e = load(spark, sf_dir, "events")
    ut = e.select("user_id", "event_type").distinct().persist()
    # ^ (user x type) basket; feeds the user count, the supports, and
    # both pair-join sides — one distinct pass over the raw stream
    n = ut.agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users")
    )
    item = ut.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("c")
    )
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("c_ab"))
    )
    ia = item.select(
        F.col("event_type").alias("type_a"), F.col("c").alias("ca")
    )
    ib = item.select(
        F.col("event_type").alias("type_b"), F.col("c").alias("cb")
    )
    return (
        pairs.join(F.broadcast(ia), "type_a")
        .join(F.broadcast(ib), "type_b")
        .crossJoin(F.broadcast(n))
        .select(
            "type_a",
            "type_b",
            F.col("c_ab").alias("users_both"),
            quantize(F.col("c_ab") * 1.0 / F.col("ca"), 4).alias(
                "confidence_a_to_b"
            ),
            quantize(
                F.col("c_ab") * 1.0 * F.col("n_users")
                / (F.col("ca") * F.col("cb")), 4
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


# ------------------------------------------------ balance propensity


@query(
    "customer_balance_order_propensity",
    oracle="""
    WITH q AS (
      SELECT c_custkey,
             ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile
      FROM customer
    ),
    per_cust AS (
      SELECT q.quartile, q.c_custkey,
             CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
             CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))),
                  0) AS DOUBLE) AS rev
      FROM q LEFT JOIN orders o ON o.o_custkey = q.c_custkey
      GROUP BY 1, 2
    ),
    agg AS (
      SELECT quartile,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(n_orders) AS BIGINT) AS n_orders,
             CAST(SUM(CASE WHEN n_orders > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_active,
             CAST(SUM(CAST(rev AS DECIMAL(28,2))) AS DOUBLE) AS rev
      FROM per_cust GROUP BY quartile
    ),
    tot AS (
      SELECT CAST(SUM(CAST(rev AS DECIMAL(28,2))) AS DOUBLE) AS tr
      FROM agg
    )
    SELECT a.quartile AS balance_quartile,
           a.n_customers,
           floor(a.n_orders * 1.0 / a.n_customers * 10000 + 0.5)
             / 10000 AS orders_per_customer,
           floor(a.n_active * 1.0 / a.n_customers * 10000 + 0.5)
             / 10000 AS active_rate,
           floor(a.rev / t.tr * 10000 + 0.5) / 10000
             AS revenue_share
    FROM agg a CROSS JOIN tot t
    ORDER BY balance_quartile
    """,
)
def customer_balance_order_propensity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order propensity by account-balance quartile: customers
    quartiled on acctbal (distributed exact-ntile — bit-identical to
    SQL ntile, no 1-partition sort), left-joined to orders; per
    quartile the orders-per-customer, the active rate, and the
    revenue share. A flat profile = balance is not a demand signal;
    a steep one justifies balance-tiered treatment.

    Scale shape: one rank pass over the customer dim, one broadcast-
    able customer join on orders, one quartile rollup (4 rows).
    """
    from arkflow_spark.functions.distributed_rank import (
        N,
        RN,
        exact_ntile,
        with_global_order,
    )

    c = load(spark, sf_dir, "customer")
    q = with_global_order(
        c.select("c_custkey", "c_acctbal"),
        [F.asc("c_acctbal"), F.asc("c_custkey")],
    ).select(
        "c_custkey", exact_ntile(F.col(RN), F.col(N), 4).alias("quartile")
    )
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    per_cust = (
        q.join(o, q.c_custkey == o.o_custkey, "left")
        .groupBy("quartile", "c_custkey")
        .agg(
            F.count("o_orderkey").cast("bigint").alias("n_orders"),
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")),
                F.lit(0).cast("decimal(18,2)"),
            )
            .cast("double")
            .alias("rev"),
        )
    )
    agg = per_cust.groupBy("quartile").agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.sum("n_orders").cast("bigint").alias("n_orders"),
        F.sum(F.when(F.col("n_orders") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_active"),
        F.sum(F.col("rev").cast("decimal(28,2)"))
        .cast("double")
        .alias("rev"),
    )
    tot = agg.agg(
        F.sum(F.col("rev").cast("decimal(28,2)"))
        .cast("double")
        .alias("tr")
    )
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            F.col("quartile").alias("balance_quartile"),
            "n_customers",
            quantize(
                F.col("n_orders") * 1.0 / F.col("n_customers"), 4
            ).alias("orders_per_customer"),
            quantize(
                F.col("n_active") * 1.0 / F.col("n_customers"), 4
            ).alias("active_rate"),
            quantize(F.col("rev") / F.col("tr"), 4).alias("revenue_share"),
        )
        .orderBy("balance_quartile")
    )
