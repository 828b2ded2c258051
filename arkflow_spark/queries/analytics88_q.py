"""Round-5 batch 88: recurrent-event MCF, record statistics, intra-
order consistency.

- `events_mean_cumulative_function` — the mean cumulative function
  for recurrent events: average cumulative events per user as a
  function of user age (days since the user's first event), the
  recurrent-events analog of Kaplan-Meier (`events_survival_km`
  handles time-to-FIRST; MCF handles "how many by age t"), computed
  only over users old enough to be observed at each age (risk-set
  correct).
- `events_record_surprise` — observed running-maximum records per
  stream vs the exchangeability expectation E = H_n (harmonic
  number) and Var = H_n - H_n2: the z-score tells whether "new
  all-time highs" are arriving faster than luck — the sharpest
  trivially-computable trend test there is (records are invariant to
  any monotone transform of the values).
- `dq_intra_order_consistency` — rows of the same (order, part) with
  conflicting discounts or unit prices: line-item contradictions
  that silently corrupt any per-part rollup. Completes the DQ gate
  family (profile -> PK -> FK -> intra-row consistency).

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ MCF

_MCF_MAX_AGE = 29


@query(
    "events_mean_cumulative_function",
    oracle=f"""
    WITH ue AS (
      SELECT user_id,
             CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS d
      FROM events
    ),
    first_d AS (
      SELECT user_id, MIN(d) AS d0 FROM ue GROUP BY user_id
    ),
    span AS (SELECT MAX(d) AS dmax FROM ue),
    aged AS (
      SELECT u.user_id, u.d - f.d0 AS age
      FROM ue u JOIN first_d f USING (user_id)
    ),
    cum AS (
      SELECT g.i AS age,
             CAST(COUNT(*) AS BIGINT) AS cum_events
      FROM aged a
      JOIN generate_series(0, {_MCF_MAX_AGE}) g(i)
        ON a.age <= g.i
      GROUP BY g.i
    ),
    risk AS (
      SELECT g.i AS age,
             CAST(COUNT(*) AS BIGINT) AS n_at_risk,
             CAST(SUM(CASE WHEN s.dmax - f.d0 >= g.i
                      THEN 1 ELSE 0 END) AS BIGINT) AS observable
      FROM first_d f
      CROSS JOIN span s
      CROSS JOIN generate_series(0, {_MCF_MAX_AGE}) g(i)
      GROUP BY g.i
    ),
    obs_cum AS (
      SELECT g.i AS age, CAST(COUNT(*) AS BIGINT) AS cum_obs
      FROM aged a
      JOIN first_d f USING (user_id)
      CROSS JOIN span s
      JOIN generate_series(0, {_MCF_MAX_AGE}) g(i)
        ON a.age <= g.i AND s.dmax - f.d0 >= g.i
      GROUP BY g.i
    )
    SELECT r.age,
           r.observable AS n_users_observable,
           COALESCE(o.cum_obs, 0) AS cum_events,
           floor(COALESCE(o.cum_obs, 0) * 1.0
                 / NULLIF(r.observable, 0) * 10000 + 0.5) / 10000
             AS mcf
    FROM risk r LEFT JOIN obs_cum o ON o.age = r.age
    ORDER BY r.age
    """,
)
def events_mean_cumulative_function(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mean cumulative function by user age (0..{m} days): for each
    age t, cumulative events through age t summed over users whose
    observation window covers age t, divided by that observable
    count. Rising-slope MCF = engagement accelerates with tenure;
    flattening = novelty decay at the USER level (the behavioral twin
    of `documents_novelty_decay_fit`).

    Scale shape: user ages are one first-event join; the age grid is
    a bounded {m}+1-way fan-out over the (user, age) rows (a range
    join on the small bounded grid); the MCF is one rollup per age.
    """.format(m=_MCF_MAX_AGE)
    e = load(spark, sf_dir, "events")
    ue = e.select(
        "user_id",
        F.floor(F.unix_micros(F.col("ts")) / 86400000000.0)
        .cast("bigint")
        .alias("d"),
    )
    first_d = ue.groupBy("user_id").agg(F.min("d").alias("d0")).persist()
    # ^ user-bounded; consumed by the age join, the risk rollup, and
    # the observable filter — one first-event aggregate, not three
    span = ue.agg(F.max("d").alias("dmax"))
    aged = ue.join(first_d, "user_id").select(
        "user_id", (F.col("d") - F.col("d0")).alias("age")
    )
    grid = spark.range(_MCF_MAX_AGE + 1).select(
        F.col("id").cast("bigint").alias("age_t")
    )
    risk = (
        first_d.crossJoin(F.broadcast(span))
        .crossJoin(F.broadcast(grid))
        .groupBy(F.col("age_t").alias("age"))
        .agg(
            F.sum(
                F.when(
                    F.col("dmax") - F.col("d0") >= F.col("age_t"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("observable")
        )
    )
    obs_cum = (
        aged.join(first_d, "user_id")
        .crossJoin(F.broadcast(span))
        .join(
            F.broadcast(grid),
            (F.col("age") <= F.col("age_t"))
            & (F.col("dmax") - F.col("d0") >= F.col("age_t")),
        )
        .groupBy(F.col("age_t").alias("age"))
        .agg(F.count("*").cast("bigint").alias("cum_obs"))
    )
    return (
        risk.join(obs_cum, "age", "left")
        .select(
            "age",
            F.col("observable").alias("n_users_observable"),
            F.coalesce(F.col("cum_obs"), F.lit(0))
            .cast("bigint")
            .alias("cum_events"),
            quantize(
                F.coalesce(F.col("cum_obs"), F.lit(0))
                * 1.0
                / F.nullif(F.col("observable"), F.lit(0)), 4
            ).alias("mcf"),
        )
        .orderBy("age")
    )


# ------------------------------------------------ record surprise


@query(
    "events_record_surprise",
    oracle="""
    WITH seq AS (
      SELECT event_type, value,
             MAX(value) OVER (PARTITION BY event_type ORDER BY ts,
               event_id ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING) AS prev_max
      FROM events
    ),
    obs AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN prev_max IS NULL OR value > prev_max
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_records
      FROM seq GROUP BY event_type
    ),
    harm AS (
      SELECT o.event_type, o.n, o.n_records,
             (SELECT CAST(SUM(CAST(floor(1.0 / k.i * 1e12 + 0.5)
                / 1e12 AS DECIMAL(28,12))) AS DOUBLE)
              FROM generate_series(1, 1000000) k(i)
              WHERE k.i <= o.n) AS h1,
             (SELECT CAST(SUM(CAST(floor(1.0 / (k.i * 1.0 * k.i)
                * 1e12 + 0.5) / 1e12 AS DECIMAL(28,12))) AS DOUBLE)
              FROM generate_series(1, 1000000) k(i)
              WHERE k.i <= o.n) AS h2
      FROM obs o
    )
    SELECT event_type, n AS n_events, n_records,
           floor(h1 * 10000 + 0.5) / 10000 AS expected_records,
           floor((n_records - h1) / sqrt(h1 - h2) * 10000 + 0.5)
             / 10000 AS z_stat
    FROM harm ORDER BY event_type
    """,
)
def events_record_surprise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-maximum record counts per stream vs the
    exchangeability law: under any i.i.d. (even arbitrary continuous)
    distribution, E[records in n draws] = H_n and Var = H_n - H_n2 —
    ~10 records in 100k events. A positive z means genuine upward
    drift, detected WITHOUT any distributional assumption (records
    survive any monotone transform), where mean-based trend tests
    need variance conditions.

    Scale shape: one keyed running-max window; the harmonic constants
    are a bounded 1..n fold per stream (5 scalar subqueries over a
    generator — constant work); the verdict is closed-form.
    """
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = e.select(
        "event_type",
        "value",
        F.max("value").over(w).alias("prev_max"),
    )
    obs = seq.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(
            F.when(
                F.col("prev_max").isNull()
                | (F.col("value") > F.col("prev_max")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_records"),
    )
    # harmonic sums via a bounded per-stream fan-out (n <= corpus/streams)
    harm = (
        obs.select(
            "event_type",
            "n",
            "n_records",
            F.explode(F.sequence(F.lit(1), F.col("n"))).alias("k"),
        )
        .groupBy("event_type", "n", "n_records")
        .agg(
            F.sum(
                (F.floor(1.0 / F.col("k") * 1e12 + 0.5) / 1e12).cast(
                    "decimal(28,12)"
                )
            )
            .cast("double")
            .alias("h1"),
            F.sum(
                (
                    F.floor(
                        1.0 / (F.col("k") * 1.0 * F.col("k")) * 1e12
                        + 0.5
                    )
                    / 1e12
                ).cast("decimal(28,12)")
            )
            .cast("double")
            .alias("h2"),
        )
    )
    return harm.select(
        "event_type",
        F.col("n").alias("n_events"),
        "n_records",
        quantize(F.col("h1"), 4).alias("expected_records"),
        quantize(
            (F.col("n_records") - F.col("h1"))
            / F.sqrt(F.col("h1") - F.col("h2")), 4
        ).alias("z_stat"),
    ).orderBy("event_type")


# ------------------------------------------------ intra-order DQ


@query(
    "dq_intra_order_consistency",
    oracle="""
    WITH op AS (
      SELECT l_orderkey, l_partkey,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             CAST(COUNT(DISTINCT l_discount) AS BIGINT) AS n_discounts,
             CAST(COUNT(DISTINCT CAST(floor(l_extendedprice
                  / NULLIF(l_quantity, 0) * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS n_unit_prices
      FROM lineitem
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_multi_line_order_parts,
           CAST(SUM(CASE WHEN n_discounts > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_discount_conflicts,
           CAST(SUM(CASE WHEN n_unit_prices > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_price_conflicts,
           floor(SUM(CASE WHEN n_discounts > 1 OR n_unit_prices > 1
                     THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
                 * 10000 + 0.5) / 10000 AS conflict_share
    FROM op
    """,
)
def dq_intra_order_consistency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Intra-order line consistency: among (order, part) groups with
    >= 2 lines, how many carry conflicting discounts or conflicting
    unit prices (cent-quantized price = extendedprice/quantity).
    Conflicts are legal in TPC-H but poison naive per-part price
    rollups — any non-zero count here mandates the quantity-weighted
    forms (`lineitem_part_price_dispersion` uses them).

    Scale shape (r8 optimization round): one (order, part) rollup, one
    summary row. The conflict predicates only need WHETHER a group
    carries >1 distinct value, which is exactly ``min != max`` (same
    null handling: aggregates skip nulls, an all-null group compares
    null -> no conflict) — so the two count-distinct aggregates are
    gone, and with them the 3x Expand duplication of every lineitem
    row that multi-distinct aggregation plans.
    """
    li = load(spark, sf_dir, "lineitem")
    unit_cents = F.floor(
        F.col("l_extendedprice")
        / F.nullif(F.col("l_quantity"), F.lit(0))
        * 100
        + 0.5
    ).cast("bigint")
    op = (
        li.groupBy("l_orderkey", "l_partkey")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.min("l_discount").alias("dmin"),
            F.max("l_discount").alias("dmax"),
            F.min(unit_cents).alias("pmin"),
            F.max(unit_cents).alias("pmax"),
        )
        .filter(F.col("n_lines") >= 2)
    )
    disc_conflict = F.col("dmin") != F.col("dmax")
    price_conflict = F.col("pmin") != F.col("pmax")
    return op.agg(
        F.count("*").cast("bigint").alias("n_multi_line_order_parts"),
        F.sum(F.when(disc_conflict, 1).otherwise(0))
        .cast("bigint")
        .alias("n_discount_conflicts"),
        F.sum(F.when(price_conflict, 1).otherwise(0))
        .cast("bigint")
        .alias("n_price_conflicts"),
        quantize(
            F.sum(
                F.when(disc_conflict | price_conflict, 1).otherwise(0)
            )
            * 1.0
            / F.count("*"), 4
        ).alias("conflict_share"),
    )
