"""Round-5 batch 46: Page-Hinkley drift, interrupted time series,
bloom-prefiltered incremental dedup, upper-tail co-dependence.

- `events_page_hinkley_drift` — the Page-Hinkley sequential drift
  statistic per stream (batch twin): maximum drawdown of the cumulative
  centered deviations, the standard detector for a downward mean shift
  in a metric stream; pairs with `events_cusum_alarm` (upward shifts)
  and `events_drift_psi` (distributional drift).
- `orders_interrupted_time_series` — segmented regression around a
  cutover date: pre/post slopes + the level and trend changes at the
  cut — the causal-inference readout for "did the policy change bend
  the curve" (`events_diff_in_diff` needs a control group; ITS does
  not).
- `dedup_bloom_prefilter` — incremental corpus dedup with a bloom-style
  prefilter (the seen set's distinct hash buckets, broadcast):
  definitely-new rows skip the join entirely (no false negatives);
  only bucket-hit candidates pay the exact anti-join. Result is EXACT (the filter only
  prunes), which is what makes it oracle-able.
- `events_tail_codependence` — upper-tail co-exceedance between stream
  pairs on the common hourly grid: P(b extreme | a extreme) and the
  lift over independence — the extremal-dependence companion to
  `events_cross_correlation`'s linear view (two streams can be
  uncorrelated yet spike together).

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import (
    DUCK_TS_FMT,
    SPARK_TS_FMT,
    quantize,
    query,
)
from arkflow_spark.tables import load


# ------------------------------------------------- Page-Hinkley drift

_PH_DELTA_FRAC = 0.005  # tolerance as a fraction of |mean|
_PH_LAMBDA_SDS = 3.0  # alarm when drawdown exceeds 3 standard deviations


@query(
    "events_page_hinkley_drift",
    oracle=f"""
    WITH mom AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(value * value AS DECIMAL(28,10))) AS DOUBLE)
               AS s2
      FROM events GROUP BY event_type
    ),
    par AS (
      SELECT event_type, n, s1 / n AS mu,
             sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0)) AS sd
      FROM mom WHERE n >= 2
    ),
    dev AS (
      SELECT e.event_type, e.ts, e.event_id, p.sd,
             CAST(e.value - p.mu - {_PH_DELTA_FRAC} * abs(p.mu)
                  AS DECIMAL(18,6)) AS d
      FROM events e JOIN par p ON p.event_type = e.event_type
    ),
    cum1 AS (
      SELECT event_type, ts, event_id, sd,
             SUM(d) OVER (PARTITION BY event_type ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS dt
      FROM dev
    ),
    cum AS (
      SELECT event_type, ts, sd, dt,
             MAX(dt) OVER (PARTITION BY event_type ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS mt
      FROM cum1
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           floor(CAST(MAX(mt - dt) AS DOUBLE) * 10000 + 0.5) / 10000
             AS ph_stat,
           CAST(SUM(CASE WHEN CAST(mt - dt AS DOUBLE)
                              > {_PH_LAMBDA_SDS} * sd
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_alarm_points,
           strftime(MIN(CASE WHEN CAST(mt - dt AS DOUBLE)
                                  > {_PH_LAMBDA_SDS} * sd
                             THEN ts END), '{DUCK_TS_FMT}')
             AS first_alarm_ts
    FROM cum
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_page_hinkley_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Page-Hinkley drift statistic per stream (batch form, decrease
    direction): center each value on the stream mean minus a small
    tolerance (delta = {d} |mu|), cumulate, and track the drawdown from
    the running maximum — max drawdown is the PH statistic, and points
    where it exceeds {l} stream standard deviations are alarms (first
    alarm timestamp reported). The sequential-analysis twin of
    `events_cusum_alarm`.

    Determinism: moments reduce as exact decimals; each centered
    deviation is one mirrored double expression quantized to
    DECIMAL(18,6), so the running sum is exact and the running max
    (order-dependent but over exact values) agrees between engines.
    Plan: one moment aggregate, a broadcast parameter join, ONE ordered
    pass per stream (both windows share the sort), one rollup — all
    partitioned by event_type, no global windows.
    """.format(d=_PH_DELTA_FRAC, l=_PH_LAMBDA_SDS)
    e = load(spark, sf_dir, "events")
    mom = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("s1"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(28,10)"))
        .cast("double")
        .alias("s2"),
    )
    mu = F.col("s1") / F.col("n")
    par = mom.filter(F.col("n") >= 2).select(
        "event_type",
        mu.alias("mu"),
        F.sqrt(
            F.greatest(
                F.col("s2") / F.col("n") - mu * mu, F.lit(0.0)
            )
        ).alias("sd"),
    )
    dev = e.join(F.broadcast(par), "event_type").select(
        "event_type",
        "ts",
        "event_id",
        "sd",
        (
            F.col("value")
            - F.col("mu")
            - _PH_DELTA_FRAC * F.abs(F.col("mu"))
        )
        .cast("decimal(18,6)")
        .alias("d"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = dev.select(
        "event_type",
        "ts",
        "event_id",
        "sd",
        F.sum("d").over(w).alias("dt"),
    ).select(
        "event_type",
        "ts",
        "sd",
        "dt",
        F.max("dt").over(w).alias("mt"),
    )
    draw = (F.col("mt") - F.col("dt")).cast("double")
    alarm = draw > _PH_LAMBDA_SDS * F.col("sd")
    return (
        cum.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            quantize(
                F.max((F.col("mt") - F.col("dt")).cast("double")), 4
            ).alias("ph_stat"),
            F.sum(F.when(alarm, 1).otherwise(0))
            .cast("bigint")
            .alias("n_alarm_points"),
            F.date_format(
                F.min(F.when(alarm, F.col("ts"))), SPARK_TS_FMT
            ).alias("first_alarm_ts"),
        )
        .orderBy("event_type")
    )


# --------------------------------------- interrupted time series (ITS)

_ITS_CUTOVER = "1995-06-01"


def _seg_sql(pred: str, prefix: str) -> str:
    """One OLS segment (daily order counts vs day index) as DuckDB SQL:
    slope/intercept from exact integer sums."""
    return f"""
      SELECT CAST(COUNT(*) AS BIGINT) AS {prefix}n,
             CAST(SUM(t) AS BIGINT) AS {prefix}st,
             CAST(SUM(y) AS BIGINT) AS {prefix}sy,
             CAST(SUM(t * y) AS BIGINT) AS {prefix}sty,
             CAST(SUM(t * t) AS BIGINT) AS {prefix}stt
      FROM (
        SELECT CAST(date_diff('day', DATE '1992-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS t,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM orders WHERE {pred}
        GROUP BY 1
      )
    """


@query(
    "orders_interrupted_time_series",
    oracle=f"""
    WITH pre AS ({_seg_sql(f"o_orderdate < TIMESTAMP '{_ITS_CUTOVER}'", "a")}),
    post AS ({_seg_sql(f"o_orderdate >= TIMESTAMP '{_ITS_CUTOVER}'", "b")}),
    cut AS (
      SELECT CAST(date_diff('day', DATE '1992-01-01',
                            DATE '{_ITS_CUTOVER}') AS BIGINT) AS t0
    ),
    fit AS (
      SELECT t0,
             (an * asty - ast * asy) * 1.0
               / NULLIF(an * astt - ast * ast, 0) AS pre_slope,
             (asy - (an * asty - ast * asy) * 1.0
                      / NULLIF(an * astt - ast * ast, 0) * ast)
               / an AS pre_icpt,
             (bn * bsty - bst * bsy) * 1.0
               / NULLIF(bn * bstt - bst * bst, 0) AS post_slope,
             (bsy - (bn * bsty - bst * bsy) * 1.0
                      / NULLIF(bn * bstt - bst * bst, 0) * bst)
               / bn AS post_icpt,
             an, bn
      FROM pre CROSS JOIN post CROSS JOIN cut
    )
    SELECT an AS n_days_pre, bn AS n_days_post,
           floor(pre_slope * 10000 + 0.5) / 10000 AS pre_slope,
           floor(post_slope * 10000 + 0.5) / 10000 AS post_slope,
           floor((post_slope - pre_slope) * 10000 + 0.5) / 10000
             AS slope_change,
           floor(((post_icpt + post_slope * t0)
                  - (pre_icpt + pre_slope * t0)) * 10000 + 0.5) / 10000
             AS level_change_at_cut
    FROM fit
    """,
)
def orders_interrupted_time_series(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Interrupted time series around the {c} cutover: fit OLS of daily
    order count on the day index separately pre/post, and report the
    slope change and the level change at the cut (post fit minus pre
    fit, both evaluated AT the cutover day) — the standard segmented
    regression for "did the intervention bend the curve", usable
    without a control group.

    All regression moments are exact BIGINT sums over the
    calendar-bounded daily aggregate (day index is integer, counts are
    integers), so slopes are bit-identical; only the final division
    goes to double. Plan: two branch aggregates off one scan lineage,
    no windows, no joins beyond two single-row cross joins.
    """.format(c=_ITS_CUTOVER)
    o = load(spark, sf_dir, "orders")
    t = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
    ).cast("bigint")

    def seg(df):
        daily = df.groupBy(t.alias("t")).agg(
            F.count("*").cast("bigint").alias("y")
        )
        return daily.agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("t").cast("bigint").alias("st"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum(F.col("t") * F.col("y")).cast("bigint").alias("sty"),
            F.sum(F.col("t") * F.col("t")).cast("bigint").alias("stt"),
        )

    cutoff = F.lit(_ITS_CUTOVER).cast("timestamp_ntz")
    pre = seg(o.filter(F.col("o_orderdate") < cutoff)).select(
        *[F.col(c).alias(f"a{c}") for c in ("n", "st", "sy", "sty", "stt")]
    )
    post = seg(o.filter(F.col("o_orderdate") >= cutoff)).select(
        *[F.col(c).alias(f"b{c}") for c in ("n", "st", "sy", "sty", "stt")]
    )
    t0 = F.datediff(
        F.lit(_ITS_CUTOVER).cast("date"), F.lit("1992-01-01").cast("date")
    ).cast("bigint")

    def slope(n, st, sy, sty, stt):
        return (n * sty - st * sy) * 1.0 / F.nullif(
            n * stt - st * st, F.lit(0)
        )

    fit = pre.crossJoin(post).select(
        "an",
        "bn",
        slope(*[F.col(f"a{c}") for c in ("n", "st", "sy", "sty", "stt")])
        .alias("pre_slope"),
        slope(*[F.col(f"b{c}") for c in ("n", "st", "sy", "sty", "stt")])
        .alias("post_slope"),
        F.col("asy").alias("asy"),
        F.col("ast").alias("ast"),
        F.col("bsy").alias("bsy"),
        F.col("bst").alias("bst"),
    )
    pre_icpt = (
        F.col("asy") - F.col("pre_slope") * F.col("ast")
    ) / F.col("an")
    post_icpt = (
        F.col("bsy") - F.col("post_slope") * F.col("bst")
    ) / F.col("bn")
    return fit.select(
        F.col("an").alias("n_days_pre"),
        F.col("bn").alias("n_days_post"),
        quantize(F.col("pre_slope"), 4).alias("pre_slope"),
        quantize(F.col("post_slope"), 4).alias("post_slope"),
        quantize(F.col("post_slope") - F.col("pre_slope"), 4).alias(
            "slope_change"
        ),
        quantize(
            (post_icpt + F.col("post_slope") * t0)
            - (pre_icpt + F.col("pre_slope") * t0), 4
        ).alias("level_change_at_cut"),
    )


# ------------------------------------- bloom-prefiltered incremental dedup


@query(
    "dedup_bloom_prefilter",
    oracle="""
    WITH seen AS (
      SELECT md5(text) AS fp FROM documents
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) NOT IN ('0','1','2')
    ),
    new_docs AS (
      SELECT doc_id, md5(text) AS fp FROM documents
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2')
    )
    SELECT n.doc_id, n.fp
    FROM new_docs n
    WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.fp = n.fp)
    ORDER BY n.doc_id
    """,
)
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a "new" shard (a deterministic ~19% hash
    split on md5(doc_id) — portable to string or numeric ids) against the
    already-ingested corpus (the rest), with a bloom-style prefilter: a
    single-hash bloom represented declaratively as the DISTINCT hash
    buckets (xxhash64 mod 2^20) of the seen fingerprints, broadcast to
    the new side. Rows whose bucket is absent are DEFINITELY new (no
    false negatives) and skip the fingerprint join entirely; only
    bucket-hit candidates pay the exact anti-join, so its shuffle is
    sized by the true-duplicate rate + the filter's false-positive rate
    (the bucket load factor), not by the shard. The result is exact -
    the filter only prunes - which is what makes this oracle-able
    against plain NOT EXISTS. (Spark's own runtime bloom injection,
    spark.sql.optimizer.runtime.bloomFilter.*, applies the same idea
    inside AQE; `bloom_filter_agg` is not SQL-registered, so the
    distinct-bucket table IS the bloom bitmap here, in table form.)

    At 100 TB this is the standard shape for continuous ingestion
    against a multi-billion-row seen set: the bucket table is bounded
    by 2^20 rows (scale the modulus with the seen set to hold the FP
    rate) and broadcasts once per batch, while the anti-join touches
    only candidates. Plan-tested (test_plans.py): two broadcast bucket
    joins + the candidate-only exact anti-join.
    """
    d = load(spark, sf_dir, "documents")
    fp = F.md5("text").alias("fp")
    m = 1 << 20
    is_new = F.substring(
        F.md5(F.col("doc_id").cast("string")), 1, 1
    ).isin("0", "1", "2")
    seen = d.filter(~is_new).select(fp)
    new_docs = d.filter(is_new).select("doc_id", fp)
    bucket = F.pmod(F.xxhash64("fp"), F.lit(m)).alias("bk")
    # the bitmap table (<= 2^20 rows) broadcasts into BOTH the
    # definitely-new anti-join and the candidate semi-join; the tagged
    # shard feeds the same two branches — persist each so the seen
    # corpus and the shard are scanned once for the bucket phase
    # (the exact anti-join still reads the seen fingerprints — that is
    # the one unavoidable full pass)
    seen_buckets = seen.select(bucket).distinct().persist()
    tagged = new_docs.select("doc_id", "fp", bucket).persist()
    definitely_new = tagged.join(
        F.broadcast(seen_buckets), "bk", "left_anti"
    ).select("doc_id", "fp")
    confirmed_new = (
        tagged.join(F.broadcast(seen_buckets), "bk", "left_semi")
        .join(seen, "fp", "left_anti")
        .select("doc_id", "fp")
    )
    return definitely_new.unionByName(confirmed_new).orderBy("doc_id")


# -------------------------------------------- upper-tail co-dependence


@query(
    "events_tail_codependence",
    oracle=f"""
    WITH bounds AS (
      SELECT date_trunc('hour', MIN(ts)) AS h0,
             date_trunc('hour', MAX(ts)) AS h1
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    grid AS (SELECT t.event_type, s.h FROM types t CROSS JOIN spine s),
    cnt AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    filled AS (
      SELECT g.event_type, g.h, COALESCE(c.c, 0) AS c
      FROM grid g LEFT JOIN cnt c
        ON c.event_type = g.event_type AND c.h = g.h
    ),
    ranked AS (
      SELECT event_type, h, c,
             CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY c, h
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM filled
    ),
    thr AS (
      SELECT event_type,
             MIN(CASE WHEN cum * 10 >= n * 9 THEN c END) AS q90
      FROM ranked GROUP BY 1
    ),
    ex AS (
      SELECT f.event_type, f.h,
             CASE WHEN f.c > t.q90 THEN 1 ELSE 0 END AS hot
      FROM filled f JOIN thr t ON t.event_type = f.event_type
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(SUM(a.hot) AS BIGINT) AS n_hot_a,
           CAST(SUM(b.hot) AS BIGINT) AS n_hot_b,
           CAST(SUM(a.hot * b.hot) AS BIGINT) AS n_hot_both,
           floor(SUM(a.hot * b.hot) * 1.0 / NULLIF(SUM(a.hot), 0)
                 * 10000 + 0.5) / 10000 AS p_b_given_a,
           floor(SUM(a.hot * b.hot) * 1.0 * COUNT(*)
                 / NULLIF(SUM(a.hot) * SUM(b.hot), 0)
                 * 10000 + 0.5) / 10000 AS lift
    FROM ex a JOIN ex b
      ON a.h = b.h AND a.event_type < b.event_type
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def events_tail_codependence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Extremal co-dependence between stream pairs: on the common
    0-filled hourly grid, flag each stream's hours above its own
    empirical p90 count (integer fractile over the grid, including the
    zero hours), then for every pair report P(b hot | a hot) and the
    lift over independence. Streams can be linearly uncorrelated
    (`events_cross_correlation` ~ 0) yet spike together — this is the
    tail view incident correlation actually needs.

    All counting is integer-exact. Plan: one hourly aggregate, a
    calendar-bounded spine cross join (hours x types — bounded), one
    per-stream rank window over the grid (partitioned), and a
    grid-keyed pair self-join whose fan-out is types^2 per hour —
    vocabulary-bounded, never corpus-quadratic.
    """
    e = load(spark, sf_dir, "events")
    cnt = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("c")).persist()
    # r8: bounds and the type list both derive from the persisted
    # hourly rollup (hour-truncation is monotone, so min/max over the
    # rollup's h equals the truncated raw min/max ts) — the raw stream
    # is scanned ONCE instead of three times (bounds, types, counts).
    bounds = cnt.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    )
    types = cnt.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(spine))
    # the 0-filled grid is calendar x types (bounded); it feeds
    # the threshold pass and both pair-join sides — persist it and the
    # hot-flag table so the grid assembles once.
    filled = grid.join(cnt, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("c", F.lit(0)).alias("c")
    ).persist()
    wr = (
        Window.partitionBy("event_type")
        .orderBy("c", "h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("event_type")
    ranked = filled.select(
        "event_type",
        "c",
        F.count("*").over(wr).alias("cum"),
        F.count("*").over(wn).alias("n"),
    )
    thr = ranked.groupBy("event_type").agg(
        F.min(
            F.when(F.col("cum") * 10 >= F.col("n") * 9, F.col("c"))
        ).alias("q90")
    )
    ex = filled.join(F.broadcast(thr), "event_type").select(
        "event_type",
        "h",
        F.when(F.col("c") > F.col("q90"), 1).otherwise(0).alias("hot"),
    ).persist()
    a = ex.select(
        F.col("event_type").alias("type_a"),
        "h",
        F.col("hot").alias("hot_a"),
    )
    b = ex.select(
        F.col("event_type").alias("type_b"),
        "h",
        F.col("hot").alias("hot_b"),
    )
    both = F.sum(F.col("hot_a") * F.col("hot_b"))
    return (
        a.join(b, "h")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count("*").alias("n_hours"),
            F.sum("hot_a").cast("bigint").alias("n_hot_a"),
            F.sum("hot_b").cast("bigint").alias("n_hot_b"),
            both.cast("bigint").alias("n_hot_both"),
            quantize(
                both * 1.0 / F.nullif(F.sum("hot_a"), F.lit(0)), 4
            ).alias("p_b_given_a"),
            quantize(
                both
                * 1.0
                * F.count("*")
                / F.nullif(
                    F.sum("hot_a") * F.sum("hot_b"), F.lit(0)
                ), 4
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )
