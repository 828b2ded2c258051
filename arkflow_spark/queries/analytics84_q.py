"""Round-5 batch 84: hedonic pricing, activity persistence, bounce
sessions.

- `part_hedonic_price_2var` — two-regressor hedonic OLS: retail price
  on size and an ECONOMY-type dummy, closed-form via the covariance
  normal equations. Separates "bigger costs more" from the brand-tier
  premium — the single-regressor `lineitem_segmented_price_quantity`
  can't hold one fixed while reading the other.
- `events_user_activity_markov` — two-state Markov chain on the
  user-day activity grid (active/inactive, INCLUDING the silent days
  the events table never materializes): P(active | active yesterday),
  P(active | inactive), the implied stationary activity rate, and its
  gap to the observed rate. The generative story underneath
  `events_dau_mau_stickiness` — same activity rate with higher p11
  means a habit product, not a broadcast one.
- `events_bounce_sessions` — single-event-session (bounce) rate by
  the session's entry event type, sessions delimited by 30-minute
  inactivity within user: runs of length 1 found with one lag/lead
  window pass, no sessionization explosion. The top-of-funnel number
  `events_session_window` aggregates away.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ hedonic 2-var OLS


@query(
    "part_hedonic_price_2var",
    oracle="""
    WITH obs AS (
      SELECT CAST(p_size AS DOUBLE) AS x1,
             CASE WHEN p_type = 'ECONOMY' THEN 1.0 ELSE 0.0 END AS x2,
             p_retailprice AS y
      FROM part
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x1 AS DECIMAL(18,2))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(x2 AS DECIMAL(18,2))) AS DOUBLE) AS s2,
             CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x1 * x1 AS DECIMAL(28,4))) AS DOUBLE)
               AS s11,
             CAST(SUM(CAST(x1 * x2 AS DECIMAL(28,4))) AS DOUBLE)
               AS s12,
             CAST(SUM(CAST(x2 * x2 AS DECIMAL(28,4))) AS DOUBLE)
               AS s22,
             CAST(SUM(CAST(floor(x1 * y * 100 + 0.5) / 100
                  AS DECIMAL(28,2))) AS DOUBLE) AS s1y,
             CAST(SUM(CAST(floor(x2 * y * 100 + 0.5) / 100
                  AS DECIMAL(28,2))) AS DOUBLE) AS s2y
      FROM obs
    ),
    cov AS (
      SELECT n,
             s11 - s1 * s1 / n AS c11,
             s12 - s1 * s2 / n AS c12,
             s22 - s2 * s2 / n AS c22,
             s1y - s1 * sy / n AS c1y,
             s2y - s2 * sy / n AS c2y,
             s1 / n AS m1, s2 / n AS m2, sy / n AS my
      FROM m
    )
    SELECT n AS n_parts,
           floor((c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12)
                 * 10000 + 0.5) / 10000 AS beta_size,
           floor((c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12)
                 * 10000 + 0.5) / 10000 AS beta_economy,
           floor((my - (c1y * c22 - c2y * c12)
                        / (c11 * c22 - c12 * c12) * m1
                     - (c2y * c11 - c1y * c12)
                        / (c11 * c22 - c12 * c12) * m2)
                 * 10000 + 0.5) / 10000 AS intercept
    FROM cov
    """,
)
def part_hedonic_price_2var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hedonic price regression with two regressors: retail price on
    part size and the ECONOMY-type dummy, solved in closed form from
    the 2x2 covariance normal equations (exact decimal moment sums;
    one determinant division). beta_size is the per-unit size premium
    holding tier fixed; beta_economy the tier discount holding size
    fixed — the partial effects a univariate fit confounds.

    Scale shape: one moment aggregate over the part dim; everything
    after is constant-size linear algebra.
    """
    p = load(spark, sf_dir, "part")
    obs = p.select(
        F.col("p_size").cast("double").alias("x1"),
        F.when(F.col("p_type") == "ECONOMY", 1.0)
        .otherwise(0.0)
        .alias("x2"),
        F.col("p_retailprice").alias("y"),
    )
    m = obs.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("x1").cast("decimal(18,2)"))
        .cast("double")
        .alias("s1"),
        F.sum(F.col("x2").cast("decimal(18,2)"))
        .cast("double")
        .alias("s2"),
        F.sum(F.col("y").cast("decimal(18,2)"))
        .cast("double")
        .alias("sy"),
        F.sum((F.col("x1") * F.col("x1")).cast("decimal(28,4)"))
        .cast("double")
        .alias("s11"),
        F.sum((F.col("x1") * F.col("x2")).cast("decimal(28,4)"))
        .cast("double")
        .alias("s12"),
        F.sum((F.col("x2") * F.col("x2")).cast("decimal(28,4)"))
        .cast("double")
        .alias("s22"),
        F.sum(quantize(F.col("x1") * F.col("y"), 2).cast("decimal(28,2)"))
        .cast("double")
        .alias("s1y"),
        F.sum(quantize(F.col("x2") * F.col("y"), 2).cast("decimal(28,2)"))
        .cast("double")
        .alias("s2y"),
    )
    n = F.col("n")
    c11 = F.col("s11") - F.col("s1") * F.col("s1") / n
    c12 = F.col("s12") - F.col("s1") * F.col("s2") / n
    c22 = F.col("s22") - F.col("s2") * F.col("s2") / n
    c1y = F.col("s1y") - F.col("s1") * F.col("sy") / n
    c2y = F.col("s2y") - F.col("s2") * F.col("sy") / n
    det = c11 * c22 - c12 * c12
    b1 = (c1y * c22 - c2y * c12) / det
    b2 = (c2y * c11 - c1y * c12) / det
    return m.select(
        n.alias("n_parts"),
        quantize(b1, 4).alias("beta_size"),
        quantize(b2, 4).alias("beta_economy"),
        quantize(
            F.col("sy") / n - b1 * F.col("s1") / n - b2 * F.col("s2") / n, 4
        ).alias("intercept"),
    )


# ------------------------------------------------ activity Markov


@query(
    "events_user_activity_markov",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS d
      FROM events
    ),
    span AS (
      SELECT MIN(d) AS d0, MAX(d) AS d1 FROM ud
    ),
    grid AS (
      SELECT u.user_id, s.d0 + g.i AS d
      FROM (SELECT DISTINCT user_id FROM ud) u
      CROSS JOIN span s
      CROSS JOIN generate_series(0, 100000) g(i)
      WHERE s.d0 + g.i <= s.d1
    ),
    states AS (
      SELECT g.user_id, g.d,
             CASE WHEN ud.d IS NULL THEN 0 ELSE 1 END AS a,
             lag(CASE WHEN ud.d IS NULL THEN 0 ELSE 1 END)
               OVER (PARTITION BY g.user_id ORDER BY g.d) AS prev_a
      FROM grid g LEFT JOIN ud
        ON ud.user_id = g.user_id AND ud.d = g.d
    ),
    trans AS (
      SELECT CAST(SUM(CASE WHEN prev_a = 1 AND a = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n11,
             CAST(SUM(CASE WHEN prev_a = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n1x,
             CAST(SUM(CASE WHEN prev_a = 0 AND a = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n01,
             CAST(SUM(CASE WHEN prev_a = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n0x,
             CAST(SUM(a) AS BIGINT) AS act,
             CAST(COUNT(*) AS BIGINT) AS tot
      FROM states WHERE prev_a IS NOT NULL
    )
    SELECT n1x + n0x AS n_transitions,
           floor(n11 * 1.0 / n1x * 10000 + 0.5) / 10000 AS p_stay,
           floor(n01 * 1.0 / n0x * 10000 + 0.5) / 10000 AS p_return,
           floor((n01 * 1.0 / n0x)
                 / (1 - n11 * 1.0 / n1x + n01 * 1.0 / n0x)
                 * 10000 + 0.5) / 10000 AS stationary_rate,
           floor(act * 1.0 / tot * 10000 + 0.5) / 10000
             AS observed_rate
    FROM trans
    """,
)
def events_user_activity_markov(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-state Markov chain on the user-day activity grid (silent
    days manufactured by the calendar grid — they carry the
    inactive->* transitions no events row records): p_stay =
    P(active | active), p_return = P(active | inactive), the implied
    stationary activity rate p01/(1 - p11 + p01), and the observed
    rate it should match if the chain is homogeneous. High stickiness
    with LOW p_return = a churn-and-reacquire business; same
    stationary rate with high p_return = habitual use.

    Scale shape: one DISTINCT user-day rollup, the calendar grid is
    users x days (bounded fan-out via sequence), one lag window per
    user over the grid, one conditional-count aggregate.
    """
    e = load(spark, sf_dir, "events")
    ud = e.select(
        "user_id",
        F.floor(F.unix_micros(F.col("ts")) / 86400000000.0)
        .cast("bigint")
        .alias("d"),
    ).distinct()
    span = ud.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    users = ud.select("user_id").distinct()
    grid = users.crossJoin(F.broadcast(span)).select(
        "user_id",
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("d"),
    )
    w = Window.partitionBy("user_id").orderBy("d")
    states = (
        grid.join(ud.withColumn("hit", F.lit(1)), ["user_id", "d"], "left")
        .select(
            "user_id",
            "d",
            F.coalesce(F.col("hit"), F.lit(0)).alias("a"),
        )
        .withColumn("prev_a", F.lag("a").over(w))
        .filter(F.col("prev_a").isNotNull())
    )
    trans = states.agg(
        F.sum(F.when((F.col("prev_a") == 1) & (F.col("a") == 1), 1)
              .otherwise(0)).cast("bigint").alias("n11"),
        F.sum(F.when(F.col("prev_a") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1x"),
        F.sum(F.when((F.col("prev_a") == 0) & (F.col("a") == 1), 1)
              .otherwise(0)).cast("bigint").alias("n01"),
        F.sum(F.when(F.col("prev_a") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0x"),
        F.sum("a").cast("bigint").alias("act"),
        F.count("*").cast("bigint").alias("tot"),
    )
    p11 = F.col("n11") * 1.0 / F.col("n1x")
    p01 = F.col("n01") * 1.0 / F.col("n0x")
    return trans.select(
        (F.col("n1x") + F.col("n0x")).alias("n_transitions"),
        quantize(p11, 4).alias("p_stay"),
        quantize(p01, 4).alias("p_return"),
        quantize(p01 / (1 - p11 + p01), 4).alias("stationary_rate"),
        quantize(F.col("act") * 1.0 / F.col("tot"), 4).alias(
            "observed_rate"
        ),
    )


# ------------------------------------------------ bounce sessions

_BOUNCE_GAP_US = 30 * 60000000  # 30 minutes


@query(
    "events_bounce_sessions",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type, epoch_us(ts) AS ep,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS gap_prev,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)
               - epoch_us(ts) AS gap_next
      FROM events
    ),
    starts AS (
      SELECT event_type AS entry_type,
             CASE WHEN (gap_next IS NULL
                        OR gap_next > {_BOUNCE_GAP_US})
                  THEN 1 ELSE 0 END AS is_bounce
      FROM seq
      WHERE gap_prev IS NULL OR gap_prev > {_BOUNCE_GAP_US}
    )
    SELECT entry_type,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(is_bounce) AS BIGINT) AS n_bounces,
           floor(SUM(is_bounce) * 1.0 / COUNT(*) * 10000 + 0.5)
             / 10000 AS bounce_rate
    FROM starts GROUP BY entry_type ORDER BY entry_type
    """,
)
def events_bounce_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate by session entry type: sessions are 30-minute
    inactivity runs per user; a session START is an event whose
    previous gap exceeds the threshold (or first ever), and it is a
    BOUNCE when its next gap also exceeds it — one lag/lead window
    pass finds every length-1 session with no sessionization blowup.
    Per entry event type: which doors people leave straight through.

    Scale shape: one keyed window pass (lag+lead share the sort), one
    filtered conditional aggregate over session starts (a minority of
    rows).
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ep = F.unix_micros(F.col("ts"))
    seq = e.select(
        "event_type",
        (ep - F.lag(ep).over(w)).alias("gap_prev"),
        (F.lead(ep).over(w) - ep).alias("gap_next"),
    )
    starts = seq.filter(
        F.col("gap_prev").isNull() | (F.col("gap_prev") > _BOUNCE_GAP_US)
    ).select(
        F.col("event_type").alias("entry_type"),
        F.when(
            F.col("gap_next").isNull()
            | (F.col("gap_next") > _BOUNCE_GAP_US),
            1,
        )
        .otherwise(0)
        .alias("is_bounce"),
    )
    return (
        starts.groupBy("entry_type")
        .agg(
            F.count("*").cast("bigint").alias("n_sessions"),
            F.sum("is_bounce").cast("bigint").alias("n_bounces"),
            quantize(F.sum("is_bounce") * 1.0 / F.count("*"), 4).alias(
                "bounce_rate"
            ),
        )
        .orderBy("entry_type")
    )
