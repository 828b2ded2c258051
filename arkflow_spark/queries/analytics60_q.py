"""Round-5 batch 60: rate-limiter auditing, demand-pattern
classification, Markov hitting times.

- `events_sliding_rate_limit_audit` — what a 60-second sliding-window
  rate limiter WOULD have dropped, per stream: each event counts its
  predecessors within the trailing minute for the same user (RANGE
  window on event time); events whose trailing count exceeds the
  limit are marked dropped. The capacity-planning dry run you do
  before turning a limiter on.
- `part_demand_classification_syntetos` — Syntetos-Boylan-Croston
  demand classification per part: mean inter-demand interval (ADI)
  and squared CV of demand sizes put every part into the
  smooth / intermittent / erratic / lumpy quadrant (cutoffs 1.32 /
  0.49) — the router that decides Croston vs exponential smoothing
  (`orders_croston_forecast` is the intermittent leg).
- `events_markov_hitting_time` — expected steps to reach the 'error'
  state from each other state under the empirical transition matrix,
  by 16 unrolled Jacobi value-iteration rounds h <- 1 + P_transient h
  on the states-bounded grid. Turns `events_markov_transitions` into
  an actionable "how far is any user from an error, on average".

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs); methods published
(sliding-log limiters; Syntetos-Boylan 2005; absorbing-chain value
iteration). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ rate-limit audit

_RL_WINDOW_S = 60
_RL_LIMIT = 5  # max events per user per trailing window


@query(
    "events_sliding_rate_limit_audit",
    oracle=f"""
    WITH t AS (
      SELECT event_type, user_id,
             epoch_us(ts) // 1000000 AS sec,
             event_id
      FROM events
    ),
    counted AS (
      SELECT event_type, user_id,
             COUNT(*) OVER (PARTITION BY user_id ORDER BY sec
                 RANGE BETWEEN {_RL_WINDOW_S - 1} PRECEDING
                       AND CURRENT ROW) AS in_window
      FROM t
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN in_window > {_RL_LIMIT}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           floor(SUM(CASE WHEN in_window > {_RL_LIMIT}
                     THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
                 * 10000 + 0.5) / 10000 AS drop_share
    FROM counted
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_sliding_rate_limit_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dry-run of a {lim}-per-{w}s sliding-window limiter per user:
    each event's trailing-window population comes from ONE
    RANGE-frame count over event seconds (ties inside the same second
    count together — the sliding-log semantics); an event is dropped
    when its window exceeds the limit. Reports per-stream drop share —
    the SLO impact estimate BEFORE enabling enforcement (the
    streaming enforcement twin is `sources/http_ingest`'s token
    bucket).

    Determinism: window population is an integer count over exact
    integer seconds — no floats anywhere until the final share.

    Scale shape: one user-partitioned RANGE window (shuffle on
    user_id — the limiter's own key, so skew mirrors real limiter
    load), one map-side-combinable stream rollup.
    """.format(lim=_RL_LIMIT, w=_RL_WINDOW_S)
    e = load(spark, sf_dir, "events")
    t = e.select(
        "event_type",
        "user_id",
        (F.unix_micros(F.col("ts")) / F.lit(1000000))
        .cast("bigint")
        .alias("sec"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-(_RL_WINDOW_S - 1), Window.currentRow)
    )
    counted = t.withColumn("in_window", F.count("*").over(w))
    dropped = F.when(F.col("in_window") > _RL_LIMIT, 1).otherwise(0)
    return (
        counted.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(dropped).cast("bigint").alias("n_dropped"),
            quantize(F.sum(dropped) * 1.0 / F.count("*"), 4).alias(
                "drop_share"
            ),
        )
        .orderBy("event_type")
    )


# ------------------------------------------------ Syntetos-Boylan


@query(
    "part_demand_classification_syntetos",
    oracle="""
    WITH daily AS (
      SELECT l_partkey,
             CAST(date_diff('day', DATE '1992-01-01', l_shipdate)
                  AS BIGINT) AS d,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
               AS q
      FROM lineitem GROUP BY 1, 2
    ),
    per AS (
      SELECT l_partkey,
             CAST(COUNT(*) AS BIGINT) AS n_periods,
             (MAX(d) - MIN(d) + 1.0) / COUNT(*) AS adi,
             CASE WHEN COUNT(*) > 1 THEN
               ((SUM(q * q) - SUM(q) * SUM(q) / COUNT(*))
                / (COUNT(*) - 1))
               / POW(SUM(q) / COUNT(*), 2)
             ELSE 0.0 END AS cv2
      FROM daily GROUP BY 1
    ),
    cls AS (
      SELECT l_partkey, n_periods, adi, cv2,
             CASE WHEN adi < 1.32 AND cv2 < 0.49 THEN 'smooth'
                  WHEN adi >= 1.32 AND cv2 < 0.49 THEN 'intermittent'
                  WHEN adi < 1.32 THEN 'erratic'
                  ELSE 'lumpy' END AS demand_class
      FROM per WHERE n_periods >= 2
    )
    SELECT demand_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           floor(AVG(adi) * 10000 + 0.5) / 10000 AS mean_adi,
           floor(AVG(cv2) * 10000 + 0.5) / 10000 AS mean_cv2
    FROM cls
    GROUP BY demand_class
    ORDER BY demand_class
    """,
)
def part_demand_classification_syntetos(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Syntetos-Boylan demand classification: per part, ADI = demand
    span / demand-period count and CV^2 of daily demand sizes; the
    (1.32, 0.49) cutoffs route each part to smooth (SES), intermittent
    (Croston), erratic (SBA) or lumpy (bootstrap) forecasting.
    Reported as the quadrant census with mean coordinates — the
    assortment-level routing table.

    Determinism: demand sizes are exact decimal sums cast once; ADI is
    integer-day arithmetic; CV^2 reduction noise sits under the
    quantum.

    Scale shape: two map-side-combinable rollups (part x day, then
    part) and a 4-row census — scan-bound; no windows at all.
    """
    li = load(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_partkey",
        F.datediff(F.col("l_shipdate"), F.lit("1992-01-01").cast("date"))
        .cast("bigint")
        .alias("d"),
    ).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,6)"))
        .cast("double")
        .alias("q")
    )
    per = daily.groupBy("l_partkey").agg(
        F.count("*").cast("bigint").alias("n_periods"),
        ((F.max("d") - F.min("d") + 1.0) / F.count("*")).alias("adi"),
        F.when(
            F.count("*") > 1,
            (
                (
                    F.sum(F.col("q") * F.col("q"))
                    - F.sum("q") * F.sum("q") / F.count("*")
                )
                / (F.count("*") - 1)
            )
            / F.pow(F.sum("q") / F.count("*"), F.lit(2)),
        )
        .otherwise(0.0)
        .alias("cv2"),
    )
    cls = per.filter(F.col("n_periods") >= 2).withColumn(
        "demand_class",
        F.when(
            (F.col("adi") < 1.32) & (F.col("cv2") < 0.49), "smooth"
        )
        .when((F.col("adi") >= 1.32) & (F.col("cv2") < 0.49), "intermittent")
        .when(F.col("adi") < 1.32, "erratic")
        .otherwise("lumpy"),
    )
    return (
        cls.groupBy("demand_class")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            quantize(F.avg("adi"), 4).alias("mean_adi"),
            quantize(F.avg("cv2"), 4).alias("mean_cv2"),
        )
        .orderBy("demand_class")
    )


# ------------------------------------------------ Markov hitting time

_HIT_TARGET = "error"
_HIT_ROUNDS = 16


@query(
    "events_markov_hitting_time",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ),
    t AS (
      SELECT prev, event_type AS next, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (
      SELECT prev, CAST(SUM(n) AS BIGINT) AS tot FROM t GROUP BY 1
    ),
    p AS (
      SELECT t.prev, t.next, t.n * 1.0 / tt.tot AS p
      FROM t JOIN tot tt USING (prev)
      WHERE t.prev <> '{_HIT_TARGET}'
    ),
    states AS (
      SELECT DISTINCT prev AS s FROM p
    ),
    h0 AS (SELECT s, 0.0 AS h FROM states),
    {",".join(
        f'''h{i + 1} AS (
      SELECT p.prev AS s,
             1.0 + SUM(CASE WHEN p.next = '{_HIT_TARGET}' THEN 0.0
                       ELSE p.p * COALESCE(hh.h, 0.0) END) AS h
      FROM p LEFT JOIN h{i} hh ON hh.s = p.next
      GROUP BY p.prev
    )'''
        for i in range(_HIT_ROUNDS)
    )}
    SELECT s AS from_state,
           floor(h * 10000 + 0.5) / 10000
             AS expected_steps_to_{_HIT_TARGET}
    FROM h{_HIT_ROUNDS}
    ORDER BY s
    """,
)
def events_markov_hitting_time(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Expected hitting time of the '{tgt}' state from every other
    state under the empirical first-order transition matrix
    (`events_markov_transitions`'s machinery), via {r} unrolled Jacobi
    rounds of h <- 1 + sum_{{j transient}} P_ij h_j (h fixed at 0 on
    the absorbing target). Sixteen rounds contract the fixed point to
    far below the output quantum for these well-mixing matrices; the
    iteration count is a documented constant, identical in both
    engines, so parity is exact by construction.

    Scale shape: the corpus contributes ONE lag-window pass and one
    (state x state) rollup; the {r} iteration rounds then run
    driver-side over the collected states^2-bounded matrix (the
    sanctioned bounded-collect pattern — constant-size work, no
    per-round plan growth).
    """.format(tgt=_HIT_TARGET, r=_HIT_ROUNDS)
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    t = seq.groupBy(
        "prev", F.col("event_type").alias("next")
    ).agg(F.count("*").cast("bigint").alias("n"))
    tot = t.groupBy("prev").agg(F.sum("n").cast("bigint").alias("tot"))
    # The Jacobi rounds run DRIVER-SIDE over the collected
    # states^2-bounded matrix (the sanctioned bounded-collect
    # pattern): a DataFrame loop over local relations makes Catalyst
    # re-optimize a lineage that doubles per round (~8s measured for
    # 16 rounds on a 25-row matrix); the Python loop is microseconds
    # with the identical closed-form updates.
    pr = (
        t.join(F.broadcast(tot), "prev")
        .filter(F.col("prev") != _HIT_TARGET)
        .select(
            "prev", "next", (F.col("n") * 1.0 / F.col("tot")).alias("p")
        )
        .collect()  # bounded: states^2 rows
    )
    states = sorted({r["prev"] for r in pr})
    h = {s0: 0.0 for s0 in states}
    for _ in range(_HIT_ROUNDS):
        nh = {}
        for s0 in states:
            acc = 0.0
            for r in pr:
                if r["prev"] != s0 or r["next"] == _HIT_TARGET:
                    continue
                acc += r["p"] * h.get(r["next"], 0.0)
            nh[s0] = 1.0 + acc
        h = nh
    out = spark.createDataFrame(
        [(s0, h[s0]) for s0 in states], "s STRING, h DOUBLE"
    )
    h = out
    return h.select(
        F.col("s").alias("from_state"),
        quantize(F.col("h"), 4).alias(f"expected_steps_to_{_HIT_TARGET}"),
    ).orderBy("from_state")
