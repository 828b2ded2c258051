"""Round-5 batch 105: retry duplicates, trading-day adjustment,
product family mix.

- `dq_event_retry_duplicates` — client-retry detection: pairs of
  events with the same (user, type, value) and DIFFERENT event_ids
  within 1 second. Exact-row dedup never sees them (the ids differ);
  they double-count every funnel and rate metric. Reports per-stream
  retry-pair counts and the affected-event share.
- `orders_trading_day_adjustment` — calendar-adjusted monthly
  revenue: raw revenue, the month's weekday count, revenue per
  trading day, and the month-over-month change of the ADJUSTED
  series. A 19-weekday February "drop" is a calendar artifact; this
  is the adjustment official statistics apply before any trend call.
- `part_product_family_mix` — merchandising mix over the `p_name`
  "adjective noun" structure: revenue by product family (noun), its
  share, and the family's dominant variant (adjective) with its
  within-family share. The facet rollup a flat part-key GROUP BY
  cannot see.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ retry duplicates

_RETRY_WINDOW_US = 1_000_000  # 1 second


@query(
    "dq_event_retry_duplicates",
    oracle=f"""
    WITH e AS (
      SELECT event_id, user_id, event_type,
             floor(value * 1000000 + 0.5) / 1000000 AS v,
             epoch_us(ts) AS ep
      FROM events
    ),
    pairs AS (
      SELECT a.event_type, a.event_id AS id_a, b.event_id AS id_b
      FROM e a JOIN e b
        ON a.user_id = b.user_id
       AND a.event_type = b.event_type
       AND a.v = b.v
       AND a.event_id < b.event_id
       AND abs(a.ep - b.ep) <= {_RETRY_WINDOW_US}
    ),
    per AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_retry_pairs,
             CAST(COUNT(DISTINCT id_b) AS BIGINT) AS n_suspect_events
      FROM pairs GROUP BY event_type
    ),
    tot AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM e GROUP BY event_type
    )
    SELECT t.event_type,
           t.n_events,
           COALESCE(p.n_retry_pairs, 0) AS n_retry_pairs,
           COALESCE(p.n_suspect_events, 0) AS n_suspect_events,
           floor(COALESCE(p.n_suspect_events, 0) * 1.0 / t.n_events
                 * 10000 + 0.5) / 10000 AS suspect_share
    FROM tot t LEFT JOIN per p USING (event_type)
    ORDER BY t.event_type
    """,
)
def dq_event_retry_duplicates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Client-retry duplicate detection: same (user, stream, value),
    different event_ids, within 1 second — invisible to exact-row
    dedup because the ids differ, yet each pair double-counts a
    funnel step or a rate. Per stream: retry-pair count, distinct
    suspect events (the later id of each pair), and the suspect
    share of the stream.

    Scale shape: the self-join keys on (user, type, quantized value)
    — per-key fan-out is bounded by one user's same-valued events in
    a second, never corpus-quadratic; the time predicate prunes
    inside the join.
    """
    e = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        quantize(F.col("value"), 6).alias("v"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ep"),
    ).persist()  # feeds both self-join sides and the per-stream totals
    a = e.alias("a")
    b = e.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.event_id") < F.col("b.event_id"))
            & (
                F.abs(F.col("a.ep") - F.col("b.ep"))
                <= _RETRY_WINDOW_US
            ),
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            F.col("b.event_id").alias("id_b"),
        )
    )
    per = pairs.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_retry_pairs"),
        F.count_distinct("id_b").cast("bigint").alias("n_suspect_events"),
    )
    tot = e.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events")
    )
    return (
        tot.join(per, "event_type", "left")
        .select(
            "event_type",
            "n_events",
            F.coalesce("n_retry_pairs", F.lit(0))
            .cast("bigint")
            .alias("n_retry_pairs"),
            F.coalesce("n_suspect_events", F.lit(0))
            .cast("bigint")
            .alias("n_suspect_events"),
            quantize(
                F.coalesce("n_suspect_events", F.lit(0))
                * 1.0
                / F.col("n_events"), 4
            ).alias("suspect_share"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------- trading-day adjustment


@query(
    "orders_trading_day_adjustment",
    oracle="""
    WITH months AS (
      SELECT date_trunc('month', o_orderdate) AS m,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1
    ),
    wd AS (
      SELECT m.m,
             CAST(SUM(CASE WHEN dayofweek(m.m + g.i * INTERVAL 1 DAY)
                           NOT IN (0, 6) THEN 1 ELSE 0 END) AS BIGINT)
               AS weekdays
      FROM months m
      JOIN generate_series(0, 30) g(i)
        ON m.m + g.i * INTERVAL 1 DAY
           < m.m + INTERVAL 1 MONTH
      GROUP BY m.m
    ),
    adj AS (
      SELECT m.m, m.rev, w.weekdays,
             floor(CAST(m.rev AS DOUBLE) / w.weekdays * 100 + 0.5)
               / 100 AS rev_per_trading_day
      FROM months m JOIN wd w USING (m)
    )
    SELECT strftime(m, '%Y-%m') AS month,
           floor(CAST(rev AS DOUBLE) * 100 + 0.5) / 100 AS revenue,
           weekdays,
           rev_per_trading_day,
           floor((rev_per_trading_day
                  / lag(rev_per_trading_day) OVER (ORDER BY m) - 1)
                 * 10000 + 0.5) / 10000 AS adjusted_mom_change
    FROM adj ORDER BY m
    """,
)
def orders_trading_day_adjustment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Trading-day-adjusted monthly revenue: raw revenue, the month's
    weekday count (Mon-Fri), revenue per trading day, and the
    month-over-month change of the ADJUSTED series. Month lengths and
    weekend mixes inject +/-10% artifacts into raw MoM numbers; this
    is the official-statistics adjustment applied before calling a
    trend.

    Scale shape: one monthly decimal rollup; the weekday count is a
    calendar-bounded grid explode; the MoM lag runs over the bounded
    month table.  # scale: calendar-bounded window
    """
    o = load(spark, sf_dir, "orders")
    months = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    ).persist()  # month-bounded; feeds the weekday grid and the final
    days = months.select(
        "m",
        F.explode(
            F.sequence(
                F.lit(0),
                F.datediff(
                    F.add_months(F.col("m").cast("date"), 1),
                    F.col("m").cast("date"),
                )
                - 1,
            )
        ).alias("i"),
    )
    wd = days.groupBy("m").agg(
        F.sum(
            F.when(
                ~F.dayofweek(
                    F.date_add(F.col("m").cast("date"), F.col("i"))
                ).isin(1, 7),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("weekdays")
    )
    adj = months.join(wd, "m").select(
        "m",
        "rev",
        "weekdays",
        quantize(F.col("rev").cast("double") / F.col("weekdays"), 2).alias(
            "rev_per_trading_day"
        ),
    )
    wlag = Window.orderBy("m")
    return adj.select(
        F.date_format("m", "yyyy-MM").alias("month"),
        quantize(F.col("rev").cast("double"), 2).alias("revenue"),
        "weekdays",
        "rev_per_trading_day",
        quantize(
            F.col("rev_per_trading_day")
            / F.lag("rev_per_trading_day").over(wlag)
            - 1, 4
        ).alias("adjusted_mom_change"),
    ).orderBy("month")


# ------------------------------------------- product family mix


@query(
    "part_product_family_mix",
    oracle=r"""
    WITH facets AS (
      SELECT p.p_partkey,
             regexp_extract(p.p_name, '^(\S+)\s+(\S+)$', 1) AS variant,
             regexp_extract(p.p_name, '^(\S+)\s+(\S+)$', 2) AS family
      FROM part p
    ),
    rev AS (
      SELECT f.family, f.variant,
             SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(18,6))) AS r
      FROM lineitem l JOIN facets f ON f.p_partkey = l.l_partkey
      WHERE f.family <> ''
      GROUP BY 1, 2
    ),
    fam AS (
      SELECT family, SUM(r) AS fr FROM rev GROUP BY family
    ),
    tot AS (SELECT SUM(fr) AS t FROM fam),
    top_var AS (
      SELECT family, variant, r FROM (
        SELECT family, variant, r,
               row_number() OVER (PARTITION BY family
                                  ORDER BY r DESC, variant) AS rn
        FROM rev
      ) WHERE rn = 1
    )
    SELECT f.family,
           floor(CAST(f.fr AS DOUBLE) * 100 + 0.5) / 100 AS revenue,
           floor(CAST(f.fr AS DOUBLE) / CAST(t.t AS DOUBLE)
                 * 10000 + 0.5) / 10000 AS revenue_share,
           v.variant AS top_variant,
           floor(CAST(v.r AS DOUBLE) / CAST(f.fr AS DOUBLE)
                 * 10000 + 0.5) / 10000 AS top_variant_share
    FROM fam f
    JOIN top_var v USING (family)
    CROSS JOIN tot t
    ORDER BY f.family
    """,
)
def part_product_family_mix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Merchandising facet rollup over the `p_name` "variant family"
    structure: revenue and share per product family (the noun), plus
    each family's dominant variant (the adjective) and its
    within-family share. Families with one dominant variant are
    rationalization candidates; the facet view a flat partkey GROUP
    BY cannot produce.

    Scale shape: the facet extraction is a narrow regexp projection
    on the part dim (broadcast into the lineitem join); rollups are
    family/variant-vocabulary bounded.
    """
    p = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem")
    facets = p.select(
        "p_partkey",
        F.regexp_extract("p_name", r"^(\S+)\s+(\S+)$", 1).alias(
            "variant"
        ),
        F.regexp_extract("p_name", r"^(\S+)\s+(\S+)$", 2).alias(
            "family"
        ),
    ).filter(F.col("family") != "")
    rev = (
        li.join(F.broadcast(facets), li.l_partkey == facets.p_partkey)
        .groupBy("family", "variant")
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("decimal(18,6)")
            ).alias("r")
        )
        .persist()  # facet-vocabulary bounded; feeds fam + top_var
    )
    fam = rev.groupBy("family").agg(F.sum("r").alias("fr"))
    tot = fam.agg(F.sum("fr").alias("t"))
    wv = Window.partitionBy("family").orderBy(
        F.col("r").desc(), "variant"
    )
    top_var = (
        rev.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("family", F.col("variant").alias("top_variant"), "r")
    )
    return (
        fam.join(top_var, "family")
        .crossJoin(F.broadcast(tot))
        .select(
            "family",
            quantize(F.col("fr").cast("double"), 2).alias("revenue"),
            quantize(
                F.col("fr").cast("double") / F.col("t").cast("double"), 4
            ).alias("revenue_share"),
            "top_variant",
            quantize(
                F.col("r").cast("double") / F.col("fr").cast("double"), 4
            ).alias("top_variant_share"),
        )
        .orderBy("family")
    )
