"""Round-5 batch 76: interarrival burstiness, sessionization tuning,
shuffle-key planning.

- `events_interarrival_burstiness` — the Goh-Barabasi burstiness
  B = (cv - 1)/(cv + 1) of interarrival times per stream: B ~ -1
  regular, 0 Poisson, -> 1 bursty. Complements `events_burstiness_fano`
  (count dispersion) with the gap-side view — the two disagree exactly
  when bursts hide inside single count bins.
- `events_session_gap_sweep` — session count and mean session length
  at gap thresholds {{5, 15, 30, 60}} minutes, ALL from one pass over
  the per-user gap stream (sessions(g) = users + gaps > g — no
  re-sessionization per threshold). The tuning table behind every
  "what inactivity gap defines a session" decision
  (`events_session_window` hard-codes one).
- `events_groupby_key_advisor` — shuffle-key planning table for
  candidate GROUP BY keys (stream, user, hour, stream x hour):
  cardinality, biggest-group share, skew ratio (max/mean), and the
  strategy verdict a planner wants (broadcast-size / skew-salt /
  plain-shuffle). The engine-side advisor that decides whether
  `events_skew_salted_agg`'s salting is worth it BEFORE running it.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ burstiness (CV form)


@query(
    "events_interarrival_burstiness",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY event_type ORDER BY ts, event_id)
               AS g
      FROM events
    ),
    mom AS (
      SELECT event_type,
             CAST(COUNT(g) AS BIGINT) AS n,
             CAST(SUM(g) AS BIGINT) AS s1,
             CAST(SUM(CAST(g AS DECIMAL(19,0))
                      * CAST(g AS DECIMAL(19,0))) AS DOUBLE) AS s2
      FROM gaps WHERE g IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n AS n_gaps,
           floor(s1 * 1.0 / n / 1000000 * 10000 + 0.5) / 10000
             AS mean_gap_s,
           floor(sqrt((s2 - s1 * 1.0 * s1 / n) / (n - 1))
                 / (s1 * 1.0 / n) * 10000 + 0.5) / 10000 AS cv,
           floor((sqrt((s2 - s1 * 1.0 * s1 / n) / (n - 1))
                  - s1 * 1.0 / n)
                 / (sqrt((s2 - s1 * 1.0 * s1 / n) / (n - 1))
                    + s1 * 1.0 / n) * 10000 + 0.5) / 10000
             AS burstiness_b
    FROM mom ORDER BY event_type
    """,
)
def events_interarrival_burstiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Goh-Barabasi burstiness per stream from interarrival gaps:
    B = (sigma - mu)/(sigma + mu) of the microsecond gaps (exact
    BIGINT moment sums; sample sd). B ~ -1 metronome, ~0 Poisson,
    -> +1 heavy-tailed bursts. The gap-side twin of
    `events_burstiness_fano`: Fano bins counts (misses within-bin
    bursts), B reads the gaps directly.

    Scale shape: one keyed lag window (partitioned by stream), one
    exact moment aggregate; everything after is scalar arithmetic.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    ep = F.unix_micros(F.col("ts"))
    gaps = e.select(
        "event_type", (ep - F.lag(ep).over(w)).alias("g")
    ).filter(F.col("g").isNotNull())
    # microsecond gaps square past BIGINT range: exact DECIMAL(38)
    # products, double only at the closed form
    mom = gaps.groupBy("event_type").agg(
        F.count("g").cast("bigint").alias("n"),
        F.sum("g").cast("bigint").alias("s1"),
        F.sum(
            F.col("g").cast("decimal(19,0)")
            * F.col("g").cast("decimal(19,0)")
        )
        .cast("double")
        .alias("s2"),
    )
    mu = F.col("s1") * 1.0 / F.col("n")
    sd = F.sqrt(
        (F.col("s2") - F.col("s1") * 1.0 * F.col("s1") / F.col("n"))
        / (F.col("n") - 1)
    )
    return mom.select(
        "event_type",
        F.col("n").alias("n_gaps"),
        quantize(mu / 1000000, 4).alias("mean_gap_s"),
        quantize(sd / mu, 4).alias("cv"),
        quantize((sd - mu) / (sd + mu), 4).alias("burstiness_b"),
    ).orderBy("event_type")


# ------------------------------------------------ session gap sweep

_GAPS_MIN = (5, 15, 30, 60)


@query(
    "events_session_gap_sweep",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS g
      FROM events
    ),
    base AS (
      SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events
    ),
    breaks AS (
      SELECT m.m,
             CAST(SUM(CASE WHEN g.g > CAST(m.m AS BIGINT) * 60000000
                           THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_breaks
      FROM gaps g
      CROSS JOIN (SELECT unnest(ARRAY{list(_GAPS_MIN)}) AS m) m
      WHERE g.g IS NOT NULL
      GROUP BY m.m
    )
    SELECT b.m AS gap_minutes,
           base.n_users + b.n_breaks AS n_sessions,
           floor(base.n_events * 1.0 / (base.n_users + b.n_breaks)
                 * 10000 + 0.5) / 10000 AS events_per_session
    FROM breaks b CROSS JOIN base
    ORDER BY gap_minutes
    """,
)
def events_session_gap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization tuning sweep: session counts at inactivity gaps
    of {g} minutes, all from ONE pass — a session starts at each
    user's first event or any gap above the threshold, so
    sessions(g) = users + |gaps > g|, a conditional count per
    threshold, not a re-sessionization. The elbow of this table is
    the defensible gap parameter for `events_session_window`.

    Scale shape: one keyed lag window (partitioned by user), one
    4-threshold conditional aggregate; thresholds fan out the tiny
    gap rows, never the raw events.
    """.format(g=_GAPS_MIN)
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ep = F.unix_micros(F.col("ts"))
    gaps = e.select(
        "user_id", (ep - F.lag(ep).over(w)).alias("g")
    ).filter(F.col("g").isNotNull())
    base = e.agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.count("*").cast("bigint").alias("n_events"),
    )
    grid = F.explode(F.array(*[F.lit(m) for m in _GAPS_MIN])).alias("m")
    breaks = (
        gaps.select("g", grid)
        .groupBy("m")
        .agg(
            F.sum(
                F.when(
                    F.col("g")
                    > F.col("m").cast("bigint") * 60000000,
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_breaks")
        )
    )
    return (
        breaks.crossJoin(F.broadcast(base))
        .select(
            F.col("m").alias("gap_minutes"),
            (F.col("n_users") + F.col("n_breaks")).alias("n_sessions"),
            quantize(
                F.col("n_events")
                * 1.0
                / (F.col("n_users") + F.col("n_breaks")), 4
            ).alias("events_per_session"),
        )
        .orderBy("gap_minutes")
    )


# ------------------------------------------------ group-by key advisor

_BROADCAST_GROUPS = 10000  # result small enough to collect/broadcast
_SKEW_RATIO = 4.0  # max/mean group size above this -> salt


@query(
    "events_groupby_key_advisor",
    oracle=f"""
    WITH keyed AS (
      SELECT 'event_type' AS key_set, event_type AS k FROM events
      UNION ALL
      SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
      UNION ALL
      SELECT 'hour', CAST(CAST(floor(epoch_us(ts) / 3600000000.0)
                          AS BIGINT) AS VARCHAR) FROM events
      UNION ALL
      SELECT 'event_type_x_hour',
             event_type || '|' || CAST(CAST(floor(epoch_us(ts)
                / 3600000000.0) AS BIGINT) AS VARCHAR) FROM events
    ),
    per_key AS (
      SELECT key_set, k, CAST(COUNT(*) AS BIGINT) AS c
      FROM keyed GROUP BY 1, 2
    ),
    prof AS (
      SELECT key_set,
             CAST(COUNT(*) AS BIGINT) AS n_groups,
             CAST(SUM(c) AS BIGINT) AS n_rows,
             CAST(MAX(c) AS BIGINT) AS max_group
      FROM per_key GROUP BY key_set
    )
    SELECT key_set, n_groups, max_group,
           floor(max_group * 1.0 / n_rows * 10000 + 0.5) / 10000
             AS max_share,
           floor(max_group * 1.0 * n_groups / n_rows * 10000 + 0.5)
             / 10000 AS skew_ratio,
           CASE WHEN n_groups <= {_BROADCAST_GROUPS}
                  THEN 'partial-agg+broadcast-result'
                WHEN max_group * 1.0 * n_groups / n_rows > {_SKEW_RATIO}
                  THEN 'salt-hot-keys'
                ELSE 'plain-shuffle' END AS advice
    FROM prof ORDER BY key_set
    """,
)
def events_groupby_key_advisor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shuffle-key planning table for candidate GROUP BY key sets:
    group cardinality, biggest-group row share, skew ratio
    (max group / mean group), and the strategy verdict — few groups =>
    partial aggregation makes the shuffle trivial; skew ratio > {r} =>
    pre-salt the hot keys (`events_skew_salted_agg`); otherwise a
    plain hash shuffle is fine. The profile a query planner (or a
    human) reads BEFORE picking the aggregation strategy at 100 TB.

    Scale shape: the candidate keys union-scan the events table 4x
    (each branch map-side combinable to its group table); profiles
    are per-group-table aggregates — no row ever carries more than
    its key string.
    """.format(r=_SKEW_RATIO)
    e = load(spark, sf_dir, "events")
    hr = (
        F.floor(F.unix_micros(F.col("ts")) / 3600000000.0)
        .cast("bigint")
        .cast("string")
    )
    branches = [
        e.select(
            F.lit("event_type").alias("key_set"),
            F.col("event_type").alias("k"),
        ),
        e.select(
            F.lit("user_id").alias("key_set"),
            F.col("user_id").cast("string").alias("k"),
        ),
        e.select(F.lit("hour").alias("key_set"), hr.alias("k")),
        e.select(
            F.lit("event_type_x_hour").alias("key_set"),
            F.concat_ws("|", F.col("event_type"), hr).alias("k"),
        ),
    ]
    keyed = branches[0]
    for b in branches[1:]:
        keyed = keyed.unionAll(b)
    per_key = keyed.groupBy("key_set", "k").agg(
        F.count("*").cast("bigint").alias("c")
    )
    prof = per_key.groupBy("key_set").agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.sum("c").cast("bigint").alias("n_rows"),
        F.max("c").cast("bigint").alias("max_group"),
    )
    skew = F.col("max_group") * 1.0 * F.col("n_groups") / F.col("n_rows")
    return prof.select(
        "key_set",
        "n_groups",
        "max_group",
        quantize(F.col("max_group") * 1.0 / F.col("n_rows"), 4).alias(
            "max_share"
        ),
        quantize(skew, 4).alias("skew_ratio"),
        F.when(
            F.col("n_groups") <= _BROADCAST_GROUPS,
            "partial-agg+broadcast-result",
        )
        .when(skew > _SKEW_RATIO, "salt-hot-keys")
        .otherwise("plain-shuffle")
        .alias("advice"),
    ).orderBy("key_set")
