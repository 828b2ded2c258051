"""Round-5 batch 68: long-range dependence, forecast calibration,
association rules.

- `events_hurst_aggvar` — the Hurst exponent of each event stream by
  the aggregated-variance method: variance of block counts at window
  sizes m in {1,2,4,8,16} hours scales as m^(2H); the log-log OLS
  slope halves to H. H > 0.5 = long-range dependence (bursts cluster
  across hours — capacity planning from Poisson math will undersize),
  H ~ 0.5 = memoryless.
- `events_brier_calibration` — reliability diagram + Brier score for
  a purchase-propensity predictor (per-user Laplace-smoothed purchase
  rate learned on the first half of the timeline, scored on the
  second half): 10 probability bins with observed frequency vs mean
  forecast, plus the overall Brier score. The standard probabilistic
  forecast audit that WAPE/sMAPE point metrics can't express.
- `orders_market_basket_lift` — association rules over parts
  co-purchased in the same order: support / confidence / lift for the
  top-20 pairs by lift at a minimum pair support. The classic
  market-basket operator (Agrawal et al.) on TPC-H baskets.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ Hurst (agg. variance)

_HURST_MS = (1, 2, 4, 8, 16)


@query(
    "events_hurst_aggvar",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS hr,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    blocks AS (
      SELECT h.event_type, g.m,
             CAST(floor(h.hr / g.m) AS BIGINT) AS blk,
             CAST(SUM(h.c) AS BIGINT) AS bc
      FROM hourly h
      CROSS JOIN (SELECT unnest(ARRAY{list(_HURST_MS)}) AS m) g
      GROUP BY 1, 2, 3
    ),
    vars AS (
      SELECT event_type, m,
             CAST(COUNT(*) AS BIGINT) AS nb,
             (CAST(SUM(bc * bc) AS BIGINT)
              - CAST(SUM(bc) AS BIGINT) * CAST(SUM(bc) AS BIGINT)
                * 1.0 / COUNT(*)) / (COUNT(*) - 1) AS v
      FROM blocks GROUP BY 1, 2
      HAVING COUNT(*) > 1
    ),
    pts AS (
      SELECT event_type, ln(CAST(m AS DOUBLE)) AS x, ln(v) AS y
      FROM vars WHERE v > 0
    ),
    ols AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_scales,
             (SUM(x * y) - SUM(x) * SUM(y) / COUNT(*))
               / (SUM(x * x) - SUM(x) * SUM(x) / COUNT(*)) AS slope
      FROM pts GROUP BY event_type HAVING COUNT(*) > 1
    )
    SELECT event_type, n_scales,
           floor(slope * 10000 + 0.5) / 10000 AS var_slope,
           floor(slope / 2 * 10000 + 0.5) / 10000 AS hurst_h
    FROM ols ORDER BY event_type
    """,
)
def events_hurst_aggvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregated-variance Hurst exponent per stream: block event
    counts at windows of m = {ms} hours; for an H-self-similar count
    process Var(block count) ~ m^(2H), so the OLS slope of ln Var vs
    ln m estimates 2H. The block sums come from ONE calendar-bounded
    hourly rollup re-aggregated 5 ways (missing hours contribute the
    correct zero), variances are exact integer arithmetic, and only
    the final logs/slope are floating point (rounded 4dp).

    Scale shape: one shuffle to the hourly grid (calendar-bounded),
    then all block/variance/OLS stages operate on hours x 5 rows per
    stream — trivially bounded at any corpus size.
    """.format(ms=_HURST_MS)
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        F.floor(F.unix_micros(F.col("ts")) / 3600000000.0)
        .cast("bigint")
        .alias("hr"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    grid = F.explode(
        F.array(*[F.lit(m) for m in _HURST_MS])
    ).alias("m")
    blocks = (
        hourly.select("event_type", "hr", "c", grid)
        .groupBy(
            "event_type",
            "m",
            F.floor(F.col("hr") / F.col("m")).cast("bigint").alias("blk"),
        )
        .agg(F.sum("c").cast("bigint").alias("bc"))
    )
    vars_ = (
        blocks.groupBy("event_type", "m")
        .agg(
            F.count("*").cast("bigint").alias("nb"),
            F.sum(F.col("bc") * F.col("bc")).cast("bigint").alias("s2"),
            F.sum("bc").cast("bigint").alias("s1"),
        )
        .filter(F.col("nb") > 1)
        .select(
            "event_type",
            "m",
            (
                (
                    F.col("s2")
                    - F.col("s1") * F.col("s1") * 1.0 / F.col("nb")
                )
                / (F.col("nb") - 1)
            ).alias("v"),
        )
        .filter(F.col("v") > 0)
    )
    pts = vars_.select(
        "event_type",
        F.log(F.col("m").cast("double")).alias("x"),
        F.log("v").alias("y"),
    )
    ols = (
        pts.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_scales"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
        .filter(F.col("n_scales") > 1)
    )
    slope = (
        F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n_scales")
    ) / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n_scales"))
    return ols.select(
        "event_type",
        "n_scales",
        quantize(slope, 4).alias("var_slope"),
        quantize(slope / 2, 4).alias("hurst_h"),
    ).orderBy("event_type")


# ------------------------------------------------ Brier calibration

_CAL_BINS = 10


@query(
    "events_brier_calibration",
    oracle=f"""
    WITH span AS (
      SELECT MIN(epoch_us(ts)) AS t0,
             MIN(epoch_us(ts))
             + (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 2 AS cut
      FROM events
    ),
    train AS (
      SELECT e.user_id,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN e.event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS k
      FROM events e CROSS JOIN span s
      WHERE epoch_us(e.ts) < s.cut
      GROUP BY e.user_id
    ),
    test AS (
      SELECT COALESCE((t.k + 1.0) / (t.n + 2.0), 0.5) AS p,
             CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events e CROSS JOIN span s
      LEFT JOIN train t ON t.user_id = e.user_id
      WHERE epoch_us(e.ts) >= s.cut
    ),
    binned AS (
      SELECT LEAST(CAST(floor(p * {_CAL_BINS}) AS BIGINT),
                   {_CAL_BINS - 1}) AS bin,
             p, y,
             floor((p - y) * (p - y) * 1000000 + 0.5) / 1000000 AS se,
             floor(p * 1000000 + 0.5) / 1000000 AS pq
      FROM test
    ),
    overall AS (
      SELECT CAST(SUM(CAST(se AS DECIMAL(28,6))) AS DOUBLE)
               / COUNT(*) AS brier
      FROM binned
    )
    SELECT b.bin,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(b.pq AS DECIMAL(28,6))) AS DOUBLE)
             / COUNT(*) AS mean_p,
           CAST(SUM(b.y) AS BIGINT) * 1.0 / COUNT(*) AS frac_pos,
           floor(o.brier * 10000 + 0.5) / 10000 AS brier_overall
    FROM binned b CROSS JOIN overall o
    GROUP BY b.bin, o.brier
    ORDER BY b.bin
    """,
)
def events_brier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for a purchase-propensity forecast: the
    predictor is each user's Laplace-smoothed purchase rate
    (k+1)/(n+2) learned on the first half of the timeline (unseen
    users get the 0.5 prior), scored on every second-half event
    against y = [event is a purchase]. Emits the {b}-bin calibration
    table (mean forecast vs observed frequency — a calibrated model
    tracks the diagonal) and the overall Brier score. Squared errors
    and forecasts are 6dp-quantized and decimal-summed so both
    engines reduce identically.

    Scale shape: timeline split is one bounded min/max broadcast; the
    train pass is one user-keyed rollup; scoring is a broadcast-able
    user join; the calibration table is {b} rows.
    """.format(b=_CAL_BINS)
    e = load(spark, sf_dir, "events")
    ep = F.unix_micros(F.col("ts"))
    span = e.agg(
        (
            F.min(ep)
            + ((F.max(ep) - F.min(ep)) / 2).cast("bigint")
        ).alias("cut")
    )
    with_cut = e.select(
        "user_id", "event_type", ep.alias("ep")
    ).crossJoin(F.broadcast(span))
    train = (
        with_cut.filter(F.col("ep") < F.col("cut"))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("k"),
        )
    )
    test = (
        with_cut.filter(F.col("ep") >= F.col("cut"))
        .join(F.broadcast(train), "user_id", "left")
        .select(
            F.coalesce(
                (F.col("k") + 1.0) / (F.col("n") + 2.0), F.lit(0.5)
            ).alias("p"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    binned = test.select(
        F.least(
            F.floor(F.col("p") * _CAL_BINS).cast("bigint"),
            F.lit(_CAL_BINS - 1),
        ).alias("bin"),
        "y",
        quantize(
            (F.col("p") - F.col("y")) * (F.col("p") - F.col("y")), 6
        ).alias("se"),
        quantize(F.col("p"), 6).alias("pq"),
    )
    # ONE pass over the event-scaled test set: the per-bin aggregate
    # ({b}-row table, persisted) carries exact decimal SE sums, so the
    # overall Brier is derived from it (decimal addition is
    # associative) instead of a second corpus-scale reduction.
    binagg = binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.col("pq").cast("decimal(28,6)")).alias("sum_pq"),
        F.sum("y").cast("bigint").alias("sum_y"),
        F.sum(F.col("se").cast("decimal(28,6)")).alias("sum_se"),
    ).persist()
    overall = binagg.agg(
        (
            F.sum("sum_se").cast("double") / F.sum("n_events")
        ).alias("brier")
    )
    return (
        binagg.select(
            "bin",
            "n_events",
            (F.col("sum_pq").cast("double") / F.col("n_events")).alias(
                "mean_p"
            ),
            (F.col("sum_y") * 1.0 / F.col("n_events")).alias("frac_pos"),
        )
        .crossJoin(F.broadcast(overall))
        .select(
            "bin",
            "n_events",
            "mean_p",
            "frac_pos",
            quantize(F.col("brier"), 4).alias("brier_overall"),
        )
        .orderBy("bin")
    )


# ------------------------------------------------ market-basket lift

_MB_MIN_PAIRS = 3
_MB_TOP = 20


@query(
    "orders_market_basket_lift",
    oracle=f"""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
      FROM baskets
    ),
    item AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c
      FROM baskets GROUP BY l_partkey
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_MB_MIN_PAIRS}
    )
    SELECT p.part_a, p.part_b, p.c_ab AS pair_orders,
           floor(p.c_ab * 1.0 / ia.c * 10000 + 0.5) / 10000
             AS confidence_a_to_b,
           floor(p.c_ab * 1.0 * n.n_orders / (ia.c * ib.c)
                 * 10000 + 0.5) / 10000 AS lift
    FROM pairs p
    JOIN item ia ON ia.l_partkey = p.part_a
    JOIN item ib ON ib.l_partkey = p.part_b
    CROSS JOIN n
    ORDER BY lift DESC, part_a, part_b
    LIMIT {_MB_TOP}
    """,
)
def orders_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over parts co-purchased in one order: for
    every part pair appearing in >= {ms} shared baskets, confidence
    P(b|a) and lift P(ab)/(P(a)P(b)); top-{t} by lift. Lift >> 1 is
    the cross-sell / bundle signal; the support floor kills the
    one-off coincidences that dominate raw lift rankings.

    Scale shape (r8 optimization round): the pair supports ARE the
    shared materialized co-purchase index (`functions/copurchase.py` —
    identical definition: distinct baskets self-joined on the order
    key with u < v, support-counted), so the basket self-join no
    longer re-runs per bench pass; the remaining basket scan feeds
    only the order count and per-part supports. Fan-out stays bounded
    by basket size squared (TPC-H baskets are <= 13 lines — <= 78
    pairs per order), never corpus-quadratic; item supports broadcast
    onto the filtered pairs; the final top-{t} is ORDER BY + LIMIT
    (TakeOrderedAndProject, no global sort).
    """.format(ms=_MB_MIN_PAIRS, t=_MB_TOP)
    from arkflow_spark.functions import copurchase

    li = load(spark, sf_dir, "lineitem")
    baskets = li.select("l_orderkey", "l_partkey").distinct().persist()
    # ^ consumed by the order count and the supports
    n = baskets.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders")
    )
    item = baskets.groupBy("l_partkey").agg(
        F.count("*").cast("bigint").alias("c")
    )
    pairs = copurchase.directed(
        spark, sf_dir, min_support=_MB_MIN_PAIRS
    ).select(
        F.col("u").alias("part_a"),
        F.col("v").alias("part_b"),
        F.col("n").cast("bigint").alias("c_ab"),
    )
    ia = item.select(
        F.col("l_partkey").alias("part_a"), F.col("c").alias("ca")
    )
    ib = item.select(
        F.col("l_partkey").alias("part_b"), F.col("c").alias("cb")
    )
    return (
        pairs.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            F.col("c_ab").alias("pair_orders"),
            quantize(F.col("c_ab") * 1.0 / F.col("ca"), 4).alias(
                "confidence_a_to_b"
            ),
            quantize(
                F.col("c_ab") * 1.0 * F.col("n_orders")
                / (F.col("ca") * F.col("cb")), 4
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "part_a", "part_b")
        .limit(_MB_TOP)
    )
