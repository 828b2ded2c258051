"""Round-3 analytics batch 2: Kaplan-Meier survival, series
autocorrelation, Benford first-digit deviation, funnel conversion
latency, MAD-based robust outliers, and trimmed/winsorized means.

Statistical standing queries over the `events` stream — the
survival/robust-statistics layer a product-analytics or fraud pipeline
runs downstream of ingestion. All reductions that must hash cross-engine
use the exact-decimal accumulators from queries.base; ordered cumulative
products go through decimal log-sums so the running reduction is exact;
Benford expectations are 12-digit literals (no engine libm involved).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query, r4
from arkflow_spark.tables import load


# -------------------------------------------------- Kaplan-Meier


@query(
    "events_survival_km",
    oracle="""
    WITH p AS (
      SELECT user_id, ts,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS nxt
      FROM events WHERE event_type = 'purchase'
    ),
    mx AS (SELECT MAX(ts) AS tmax FROM events),
    d AS (
      SELECT CASE WHEN nxt IS NOT NULL
                  THEN date_diff('second', ts, nxt)
                  ELSE date_diff('second', ts, tmax) END AS dur,
             CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS obs
      FROM p CROSS JOIN mx
    ),
    grp AS (
      SELECT dur, COUNT(*) AS m, SUM(obs) AS d_ev
      FROM d GROUP BY dur
    ),
    km AS (
      SELECT dur, m, d_ev,
             (SELECT COUNT(*) FROM d)
               - COALESCE(SUM(m) OVER (ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM grp
    ),
    surv AS (
      SELECT dur, d_ev, n_risk,
             CAST(SUM(CAST(ln(greatest(1 - d_ev * 1.0 / n_risk, 0.000000000001))
                           AS DECIMAL(18,6)))
                  OVER (ORDER BY dur
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE) AS lsum
      FROM km
    )
    SELECT CAST(dur AS BIGINT) AS dur_s,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d_ev AS BIGINT) AS n_events,
           floor(exp(lsum) * 10000 + 0.5) / 10000 AS survival
    FROM surv WHERE d_ev > 0
    ORDER BY dur_s
    """,
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival over inter-purchase intervals: gaps between
    a user's consecutive purchases are observed durations; the tail from
    the last purchase to the corpus horizon is right-censored. The
    estimator's running product Π(1 - d_i/n_i) is computed as an ordered
    decimal log-sum (exact, engine-stable); at-risk counts come from an
    exclusive cumulative count. Both cumulations are distributed prefix
    sums (functions/distributed_rank) over the grouped duration table —
    distinct durations scale with the corpus at second resolution, so
    no single-partition sort; decimal log terms keep the split
    local+offset sum bit-identical to the oracle's sequential one.
    """
    from arkflow_spark.functions.distributed_rank import with_global_order

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", F.lead("ts").over(w).alias("nxt"))
    )
    mx = e.agg(F.max("ts").alias("tmax"))
    d = p.crossJoin(F.broadcast(mx)).select(
        F.when(
            F.col("nxt").isNotNull(),
            F.unix_timestamp("nxt") - F.unix_timestamp("ts"),
        )
        .otherwise(F.unix_timestamp("tmax") - F.unix_timestamp("ts"))
        .alias("dur"),
        F.when(F.col("nxt").isNotNull(), 1).otherwise(0).alias("obs"),
    )
    total = d.agg(F.count("*").alias("n_total"))
    grp = d.groupBy("dur").agg(
        F.count("*").alias("m"), F.sum("obs").alias("d_ev")
    )
    km = (
        with_global_order(grp, [F.asc("dur")], sums={"m": F.col("m")})
        .crossJoin(F.broadcast(total))
        .select(
            "dur",
            "d_ev",
            # exclusive prefix: inclusive cum minus the row's own count
            (
                F.col("n_total") - (F.col("__cum_m") - F.col("m"))
            ).alias("n_risk"),
        )
    )
    lterm = F.log(
        F.greatest(
            1 - F.col("d_ev") * 1.0 / F.col("n_risk"), F.lit(1e-12)
        )
    )
    surv = with_global_order(
        km.withColumn("__l", lterm.cast("decimal(18,6)")),
        [F.asc("dur")],
        sums={"l": F.col("__l")},
    ).select(
        "dur",
        "d_ev",
        "n_risk",
        F.col("__cum_l").cast("double").alias("lsum"),
    )
    return (
        surv.filter(F.col("d_ev") > 0)
        .select(
            F.col("dur").cast("bigint").alias("dur_s"),
            F.col("n_risk").cast("bigint").alias("n_risk"),
            F.col("d_ev").cast("bigint").alias("n_events"),
            quantize(F.exp("lsum"), 4).alias("survival"),
        )
        .orderBy("dur_s")
    )


# -------------------------------------------------- autocorrelation


def _corr_from_sums(n, sx, sy, sxy, sxx, syy):
    """Pearson r from exact decimal sums (same closed form both engines)."""
    return (n * sxy - sx * sy) / F.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )


def _o_lag_sums(k: int) -> str:
    """DuckDB: filtered decimal sums over (value, lag-k value) pairs."""
    return f"""
             COUNT(l{k}) AS n{k},
             CAST(SUM(CASE WHEN l{k} IS NOT NULL
                      THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)
               AS sx{k},
             CAST(SUM(CAST(l{k} AS DECIMAL(18,6))) AS DOUBLE) AS sy{k},
             CAST(SUM(CAST(value * l{k} AS DECIMAL(24,6))) AS DOUBLE)
               AS sxy{k},
             CAST(SUM(CASE WHEN l{k} IS NOT NULL
                      THEN CAST(value * value AS DECIMAL(24,6)) END)
                  AS DOUBLE) AS sxx{k},
             CAST(SUM(CAST(l{k} * l{k} AS DECIMAL(24,6))) AS DOUBLE)
               AS syy{k}"""


@query(
    "events_autocorr",
    oracle=f"""
    WITH lagged AS (
      SELECT event_type, value,
             lag(value, 1) OVER w AS l1,
             lag(value, 2) OVER w AS l2
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ),
    s AS (
      SELECT event_type,
             {_o_lag_sums(1)},
             {_o_lag_sums(2)}
      FROM lagged GROUP BY event_type
    )
    SELECT event_type,
           n1 AS n_pairs_lag1,
           floor((n1 * sxy1 - sx1 * sy1)
                 / sqrt((n1 * sxx1 - sx1 * sx1) * (n1 * syy1 - sy1 * sy1))
                 * 10000 + 0.5) / 10000 AS r_lag1,
           n2 AS n_pairs_lag2,
           floor((n2 * sxy2 - sx2 * sy2)
                 / sqrt((n2 * sxx2 - sx2 * sx2) * (n2 * syy2 - sy2 * sy2))
                 * 10000 + 0.5) / 10000 AS r_lag2
    FROM s
    ORDER BY event_type
    """,
)
def events_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 / lag-2 autocorrelation per series: one ordered window pass
    materializes the lagged pairs, then a single aggregation computes all
    Pearson moments as exact decimal sums (map-side combinable) — the
    closed-form r is scalar arithmetic over those sums, so it is
    bit-identical across engines. One shuffle on the series key, reused
    by the window and the aggregate.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    lagged = e.select(
        "event_type",
        "value",
        F.lag("value", 1).over(w).alias("l1"),
        F.lag("value", 2).over(w).alias("l2"),
    )

    def sums(k):
        lk = F.col(f"l{k}")
        v = F.col("value")
        return [
            F.count(lk).alias(f"n{k}"),
            F.sum(F.when(lk.isNotNull(), v.cast("decimal(18,6)")))
            .cast("double")
            .alias(f"sx{k}"),
            F.sum(lk.cast("decimal(18,6)")).cast("double").alias(f"sy{k}"),
            F.sum((v * lk).cast("decimal(24,6)"))
            .cast("double")
            .alias(f"sxy{k}"),
            F.sum(F.when(lk.isNotNull(), (v * v).cast("decimal(24,6)")))
            .cast("double")
            .alias(f"sxx{k}"),
            F.sum((lk * lk).cast("decimal(24,6)"))
            .cast("double")
            .alias(f"syy{k}"),
        ]

    s = lagged.groupBy("event_type").agg(*sums(1), *sums(2))
    out = [F.col("event_type")]
    for k in (1, 2):
        r = _corr_from_sums(
            F.col(f"n{k}"),
            F.col(f"sx{k}"),
            F.col(f"sy{k}"),
            F.col(f"sxy{k}"),
            F.col(f"sxx{k}"),
            F.col(f"syy{k}"),
        )
        out += [
            F.col(f"n{k}").alias(f"n_pairs_lag{k}"),
            quantize(r, 4).alias(f"r_lag{k}"),
        ]
    return s.select(*out).orderBy("event_type")


# -------------------------------------------------- Benford deviation

# log10(1 + 1/d) to 12 decimals as literals: no engine libm in the
# expected distribution, so the chi-square is pure rational arithmetic
# over counts and identical literals.
_BENFORD = {
    1: 0.301029995664,
    2: 0.176091259056,
    3: 0.124938736608,
    4: 0.096910013008,
    5: 0.079181246048,
    6: 0.066946789631,
    7: 0.057991946978,
    8: 0.051152522447,
    9: 0.045757490561,
}

_DIGIT_SQL = """CASE
  WHEN n >= 100000000000 THEN CAST(floor(n / 100000000000.0) AS BIGINT)
  WHEN n >= 10000000000 THEN CAST(floor(n / 10000000000.0) AS BIGINT)
  WHEN n >= 1000000000 THEN CAST(floor(n / 1000000000.0) AS BIGINT)
  WHEN n >= 100000000 THEN CAST(floor(n / 100000000.0) AS BIGINT)
  WHEN n >= 10000000 THEN CAST(floor(n / 10000000.0) AS BIGINT)
  WHEN n >= 1000000 THEN CAST(floor(n / 1000000.0) AS BIGINT)
  WHEN n >= 100000 THEN CAST(floor(n / 100000.0) AS BIGINT)
  WHEN n >= 10000 THEN CAST(floor(n / 10000.0) AS BIGINT)
  WHEN n >= 1000 THEN CAST(floor(n / 1000.0) AS BIGINT)
  WHEN n >= 100 THEN CAST(floor(n / 100.0) AS BIGINT)
  WHEN n >= 10 THEN CAST(floor(n / 10.0) AS BIGINT)
  ELSE n END"""


@query(
    "events_benford_deviation",
    oracle=f"""
    WITH pos AS (
      SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS n
      FROM events WHERE value > 0
    ),
    digits AS (
      SELECT event_type, {_DIGIT_SQL} AS digit FROM pos
    ),
    counts AS (
      SELECT event_type, digit, COUNT(*) AS obs
      FROM digits GROUP BY event_type, digit
    ),
    tot AS (
      SELECT event_type, SUM(obs) AS n FROM counts GROUP BY event_type
    ),
    expd AS (
      SELECT c.event_type, c.digit, c.obs,
             t.n * CASE c.digit
                     {' '.join(f'WHEN {d} THEN {p!r}' for d, p in _BENFORD.items())}
                   END AS exp
      FROM counts c JOIN tot t ON c.event_type = t.event_type
    )
    SELECT event_type,
           CAST(SUM(obs) AS BIGINT) AS n_pos,
           floor(SUM((obs - exp) * (obs - exp) / exp) * 10000 + 0.5) / 10000
             AS chi2
    FROM expd
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit deviation per series (chi-square against
    the log10(1+1/d) expectation) — the classic fraud/fabrication screen
    for transaction amounts. The first significant digit is extracted by
    pure integer comparisons on floor(value*100) (no log10 on the data
    path, so no libm last-ulp hazards), the digit histogram is one
    map-side-combinable aggregation, and the chi-square reduces 9 rows
    per group.
    """
    e = load(spark, sf_dir, "events")
    pos = e.filter(F.col("value") > 0).select(
        "event_type", F.floor(F.col("value") * 100).alias("n")
    )
    digit = F.expr(_DIGIT_SQL)
    counts = (
        pos.select("event_type", digit.alias("digit"))
        .groupBy("event_type", "digit")
        .agg(F.count("*").alias("obs"))
    )
    w_t = Window.partitionBy("event_type")
    expd = counts.select(
        "event_type",
        "obs",
        (
            F.sum("obs").over(w_t)
            * F.expr(
                "CASE digit "
                + " ".join(
                    f"WHEN {d} THEN {p!r}" for d, p in _BENFORD.items()
                )
                + " END"
            )
        ).alias("exp"),
    )
    return (
        expd.groupBy("event_type")
        .agg(
            F.sum("obs").cast("bigint").alias("n_pos"),
            quantize(
                F.sum(
                    (F.col("obs") - F.col("exp"))
                    * (F.col("obs") - F.col("exp"))
                    / F.col("exp")
                ), 4
            ).alias("chi2"),
        )
        .orderBy("event_type")
    )


# -------------------------------------------------- conversion latency


@query(
    "events_conversion_latency",
    oracle="""
    WITH viewers AS (
      SELECT user_id, MIN(ts) AS fv FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    conv AS (
      SELECT e.user_id,
             date_diff('second', v.fv, MIN(e.ts)) AS lat_s
      FROM events e JOIN viewers v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND e.ts > v.fv
      GROUP BY e.user_id, v.fv
    )
    SELECT
      (SELECT COUNT(DISTINCT user_id) FROM events) AS n_users,
      (SELECT COUNT(*) FROM viewers) AS n_viewers,
      (SELECT COUNT(*) FROM conv) AS n_converted,
      floor((SELECT COUNT(*) FROM conv) * 1.0
            / (SELECT COUNT(*) FROM viewers) * 10000 + 0.5) / 10000
        AS conversion_rate,
      ROUND((SELECT median(lat_s) FROM conv), 4) AS median_latency_s,
      ROUND((SELECT quantile_cont(lat_s, 0.90) FROM conv), 4)
        AS p90_latency_s
    """,
)
def events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion latency: per user, the time from first 'view' to
    the first subsequent 'purchase'; reported as a one-row summary
    (conversion rate + exact median/p90 latency). Two grouped
    aggregations on user_id plus a broadcast join of the per-user first
    views — the fact table is scanned twice with pushed event_type
    filters, never self-joined row-to-row.
    """
    e = load(spark, sf_dir, "events")
    viewers = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fv"))
    )
    conv = (
        e.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(viewers), "user_id")
        .filter(F.col("ts") > F.col("fv"))
        .groupBy("user_id", "fv")
        .agg(F.min("ts").alias("fp"))
        .select(
            (F.unix_timestamp("fp") - F.unix_timestamp("fv")).alias("lat_s")
        )
    )
    n_users = e.agg(F.countDistinct("user_id").alias("n_users"))
    n_viewers = viewers.agg(F.count("*").alias("n_viewers"))
    stats = conv.agg(
        F.count("*").alias("n_converted"),
        r4(F.median("lat_s"), "median_latency_s"),
        r4(F.percentile("lat_s", F.lit(0.90)), "p90_latency_s"),
    )
    return (
        n_users.crossJoin(F.broadcast(n_viewers))
        .crossJoin(F.broadcast(stats))
        .select(
            "n_users",
            "n_viewers",
            "n_converted",
            quantize(
                F.col("n_converted") * 1.0 / F.col("n_viewers"), 4
            ).alias("conversion_rate"),
            "median_latency_s",
            "p90_latency_s",
        )
    )


# -------------------------------------------------- MAD robust outliers


@query(
    "agg_mad_robust",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS med FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
      FROM events e JOIN med m ON e.event_type = m.event_type
    ),
    mad AS (
      SELECT event_type, median(adev) AS mad FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           COUNT(*) AS n,
           ROUND(MAX(d.med), 4) AS med_value,
           ROUND(MAX(a.mad), 4) AS mad_value,
           CAST(SUM(CASE WHEN abs(d.value - d.med) > 3 * 1.4826 * a.mad
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad a ON d.event_type = a.event_type
    GROUP BY d.event_type
    ORDER BY d.event_type
    """,
)
def agg_mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation robust dispersion + outlier count per
    group (robust z > 3 with the 1.4826 normal-consistency constant) —
    the outlier gate that survives the heavy tails that break
    stddev-based z-scores. Two grouped exact medians with the tiny
    per-group median tables broadcast back; the fact table shuffles once
    per median pass on the same key.
    """
    e = load(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            r4(F.max("med"), "med_value"),
            r4(F.max("mad"), "mad_value"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med"))
                    > 3 * 1.4826 * F.col("mad"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )


# -------------------------------------------------- trimmed/winsorized


@query(
    "agg_trimmed_mean",
    oracle="""
    WITH pr AS (
      SELECT event_type, value,
             percent_rank() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS pr
      FROM events
    ),
    cuts AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS p05,
             quantile_cont(value, 0.95) AS p95
      FROM events GROUP BY event_type
    )
    SELECT p.event_type,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN p.pr >= 0.05 AND p.pr <= 0.95
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           floor(CAST(SUM(CASE WHEN p.pr >= 0.05 AND p.pr <= 0.95
                          THEN CAST(p.value AS DECIMAL(18,6)) END) AS DOUBLE)
                 / SUM(CASE WHEN p.pr >= 0.05 AND p.pr <= 0.95
                       THEN 1 ELSE 0 END) * 10000 + 0.5) / 10000
             AS trimmed_mean,
           floor(CAST(SUM(CAST(least(greatest(p.value, c.p05), c.p95)
                               AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*) * 10000 + 0.5) / 10000 AS winsor_mean
    FROM pr p JOIN cuts c ON p.event_type = c.event_type
    GROUP BY p.event_type
    ORDER BY p.event_type
    """,
)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5% trimmed and winsorized means per group — the robust location
    estimates reported next to the raw mean in metric dashboards.
    Trimming keeps percent_rank ∈ [0.05, 0.95] (deterministic tie-break
    on event_id); winsorizing clamps to the exact p05/p95 quantiles
    (broadcast back, 5 rows). One window shuffle on the group key feeds
    both estimates; sums are exact decimals.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    pr = e.select(
        "event_type", "value", F.percent_rank().over(w).alias("pr")
    )
    cuts = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("p05"),
        F.percentile("value", F.lit(0.95)).alias("p95"),
    )
    kept = (F.col("pr") >= 0.05) & (F.col("pr") <= 0.95)
    return (
        pr.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(kept, 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            quantize(
                F.sum(
                    F.when(kept, F.col("value").cast("decimal(18,6)"))
                ).cast("double")
                / F.sum(F.when(kept, 1).otherwise(0)), 4
            ).alias("trimmed_mean"),
            quantize(
                F.sum(
                    F.least(
                        F.greatest(F.col("value"), F.col("p05")),
                        F.col("p95"),
                    ).cast("decimal(18,6)")
                ).cast("double")
                / F.count("*"), 4
            ).alias("winsor_mean"),
        )
        .orderBy("event_type")
    )


# -------------------------------------------------- capped sessions

_GAP_H, _CAP_H = 3, 12


def capped_sessions(df: DataFrame, gap_ns: int, cap_ns: int) -> DataFrame:
    """Per-key gap+cap sessionization fold (see `events_session_capped`):
    input columns (user_id, ts, event_id); output one row per session
    with raw TIMESTAMP bounds. Reused by the registered query and the
    randomized conformance fuzz against DuckDB's recursive CTE.

    Partition-level `mapInPandas`, not per-group `applyInPandas`: with
    many small per-user series the per-group Arrow round-trip dominates
    (measured 13.7s -> ~1s at sf0.1 for the identical fold). Rows are
    repartitioned on user_id and sorted within partitions; the fold
    streams Arrow batches, starting a new session at key boundaries and
    carrying the open session across batch edges."""
    import pandas as pd

    src = df.repartition("user_id").sortWithinPartitions(
        "user_id", "ts", "event_id"
    )

    def fold(batches):
        out = []
        cur = None
        sess_id = 0
        prev_ns = start_ns = None
        sess_start = sess_end = None
        n = 0
        for pdf in batches:
            for uid, ts in zip(pdf["user_id"], pdf["ts"]):
                ns = ts.value
                if uid != cur:
                    if n:
                        out.append((cur, sess_id, sess_start, sess_end, n))
                    cur, sess_id, prev_ns, n = uid, 0, None, 0
                if (
                    prev_ns is None
                    or ns - prev_ns > gap_ns
                    or ns - start_ns > cap_ns
                ):
                    if n:
                        out.append((cur, sess_id, sess_start, sess_end, n))
                    sess_id += 1
                    start_ns = ns
                    sess_start = ts
                    n = 0
                sess_end = ts
                n += 1
                prev_ns = ns
        if n:
            out.append((cur, sess_id, sess_start, sess_end, n))
        yield pd.DataFrame(
            {
                "user_id": pd.Series([r[0] for r in out], dtype="int64"),
                "session_id": pd.Series([r[1] for r in out], dtype="int64"),
                "session_start": pd.Series(
                    [r[2] for r in out], dtype="datetime64[ns]"
                ),
                "session_end": pd.Series(
                    [r[3] for r in out], dtype="datetime64[ns]"
                ),
                "n_events": pd.Series([r[4] for r in out], dtype="int64"),
            }
        )

    return src.mapInPandas(
        fold,
        "user_id BIGINT, session_id BIGINT, session_start TIMESTAMP, "
        "session_end TIMESTAMP, n_events BIGINT",
    )


@query(
    "events_session_capped",
    oracle=f"""
    WITH RECURSIVE ev AS (
      SELECT user_id, ts, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    rec AS (
      SELECT user_id, ts, event_id, rn,
             CAST(1 AS BIGINT) AS session_id, ts AS sess_start
      FROM ev WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.ts, e.event_id, e.rn,
             CASE WHEN e.ts - r.ts > INTERVAL {_GAP_H} HOUR
                    OR e.ts - r.sess_start > INTERVAL {_CAP_H} HOUR
                  THEN r.session_id + 1 ELSE r.session_id END,
             CASE WHEN e.ts - r.ts > INTERVAL {_GAP_H} HOUR
                    OR e.ts - r.sess_start > INTERVAL {_CAP_H} HOUR
                  THEN e.ts ELSE r.sess_start END
      FROM ev e JOIN rec r ON e.user_id = r.user_id AND e.rn = r.rn + 1
    )
    SELECT user_id, session_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events
    FROM rec GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def events_session_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with BOTH an idle-gap split (>{_GAP_H}h since the
    previous event) and a max-duration cap (>{_CAP_H}h since the session
    started). The cap makes session assignment a data-dependent
    recurrence — the split point depends on the running session start —
    which no fixed window frame can express (plain gap sessionization
    can: see `events_session_window`). This is the canonical case for an
    `applyInPandas` per-key sequential fold: one shuffle on user_id,
    each group folded in ts order inside an Arrow batch with exact
    integer-nanosecond comparisons. The DuckDB oracle replays the same
    recurrence as a recursive CTE, so the driver hash-checks the fold.
    Per-key memory is the group's rows (bounded by per-user activity);
    keys are independent, so the plan scales with the user dimension.
    """
    e = load(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    sessions = capped_sessions(
        e, _GAP_H * 3600 * 10**9, _CAP_H * 3600 * 10**9
    )
    return sessions.select(
        "user_id",
        "session_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias(
            "session_end"
        ),
        "n_events",
    ).orderBy("user_id", "session_id")
