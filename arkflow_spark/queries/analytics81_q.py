"""Round-5 batch 81: clustering of variance, optimal stratified
sampling, robust two-way decomposition.

- `events_icc_user_clustering` — intraclass correlation ICC(1) of
  event values within users (one-way random-effects ANOVA with
  unequal group sizes, Searle's n0): how much variance is USER-level.
  ICC >> 0 means events are not exchangeable — per-event A/B stats
  need clustered errors (`events_cuped_adjustment`'s silent
  assumption), and user-level sampling beats event-level.
- `documents_neyman_allocation` — Neyman-optimal stratified sample
  allocation across sources for a fixed budget: n_s proportional to
  N_s * sd_s(n_chars), vs proportional allocation, with the design-
  effect variance ratio. The principled version of "sample 5% from
  every source" (`documents_stratified_sample` implements the
  mechanics; this query picks the rates).
- `events_median_polish_hourweek` — two sweeps of Tukey median
  polish over the (weekday x hour) count matrix: overall + row + col
  effects removed by MEDIANS (outlier-proof where `events_hourweek_
  profile`'s means are contaminated), emitting the top-10 |residual|
  cells — true anomalies, not seasonality.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ ICC(1)


@query(
    "events_icc_user_clustering",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s
      FROM events GROUP BY user_id
    ),
    tots AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS nt,
             CAST(SUM(CAST(s AS DECIMAL(28,2))) AS DOUBLE) AS st,
             CAST(SUM(CAST(n AS DECIMAL(18,0)) * CAST(n AS
                  DECIMAL(18,0))) AS DOUBLE) AS sn2,
             CAST(SUM(CAST(floor(s * s / n * 1000000 + 0.5) / 1000000
                  AS DECIMAL(28,6))) AS DOUBLE) AS ssb_raw
      FROM per_user
    ),
    sst AS (
      SELECT CAST(SUM(CAST(floor(value * value * 10000 + 0.5) / 10000
                  AS DECIMAL(28,4))) AS DOUBLE) AS sq
      FROM events
    )
    SELECT t.k AS n_users, t.nt AS n_events,
           floor((t.nt - t.sn2 / t.nt) / (t.k - 1) * 10000 + 0.5)
             / 10000 AS n0,
           floor((t.ssb_raw - t.st * t.st / t.nt) / (t.k - 1)
                 * 10000 + 0.5) / 10000 AS msb,
           floor((s.sq - t.ssb_raw) / (t.nt - t.k) * 10000 + 0.5)
             / 10000 AS msw,
           floor(((t.ssb_raw - t.st * t.st / t.nt) / (t.k - 1)
                  - (s.sq - t.ssb_raw) / (t.nt - t.k))
                 / ((t.ssb_raw - t.st * t.st / t.nt) / (t.k - 1)
                    + ((t.nt - t.sn2 / t.nt) / (t.k - 1) - 1)
                      * (s.sq - t.ssb_raw) / (t.nt - t.k))
                 * 10000 + 0.5) / 10000 AS icc1
    FROM tots t CROSS JOIN sst s
    """,
)
def events_icc_user_clustering(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ICC(1) of event values clustered by user (one-way random
    effects, unbalanced groups): MSB from per-user sums, MSW from the
    total sum of squares, Searle's n0 = (N - sum n_i^2/N)/(k-1) for
    the unequal sizes, ICC = (MSB - MSW)/(MSB + (n0-1) MSW). All
    inputs are exact decimal sums of quantized terms. ICC near 0 =
    events are exchangeable; materially positive ICC = every
    per-event test needs clustered errors and every sample should be
    drawn user-first.

    Scale shape: one user-keyed rollup + one global moment pass —
    two map-side-combinable aggregates, constant-size closed form.
    """
    e = load(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("s"),
    )
    tots = per_user.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("nt"),
        F.sum(F.col("s").cast("decimal(28,2)"))
        .cast("double")
        .alias("st"),
        F.sum(
            F.col("n").cast("decimal(18,0)")
            * F.col("n").cast("decimal(18,0)")
        )
        .cast("double")
        .alias("sn2"),
        F.sum(
            quantize(F.col("s") * F.col("s") / F.col("n"), 6).cast(
                "decimal(28,6)"
            )
        )
        .cast("double")
        .alias("ssb_raw"),
    )
    sst = e.agg(
        F.sum(
            quantize(F.col("value") * F.col("value"), 4).cast("decimal(28,4)")
        )
        .cast("double")
        .alias("sq")
    )
    j = tots.crossJoin(F.broadcast(sst))
    n0 = (F.col("nt") - F.col("sn2") / F.col("nt")) / (F.col("k") - 1)
    msb = (
        F.col("ssb_raw") - F.col("st") * F.col("st") / F.col("nt")
    ) / (F.col("k") - 1)
    msw = (F.col("sq") - F.col("ssb_raw")) / (F.col("nt") - F.col("k"))
    return j.select(
        F.col("k").alias("n_users"),
        F.col("nt").alias("n_events"),
        quantize(n0, 4).alias("n0"),
        quantize(msb, 4).alias("msb"),
        quantize(msw, 4).alias("msw"),
        quantize((msb - msw) / (msb + (n0 - 1) * msw), 4).alias("icc1"),
    )


# ------------------------------------------------ Neyman allocation

_SAMPLE_BUDGET = 1000


@query(
    "documents_neyman_allocation",
    oracle=f"""
    WITH strata AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_s,
             CAST(SUM(CAST(n_chars AS DECIMAL(18,0))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(n_chars AS DECIMAL(18,0))
                      * CAST(n_chars AS DECIMAL(18,0))) AS DOUBLE)
               AS s2
      FROM documents GROUP BY source
    ),
    sd AS (
      SELECT source, n_s,
             floor(sqrt((s2 - s1 * s1 / n_s)
                        / GREATEST(n_s - 1, 1)) * 1000000 + 0.5)
               / 1000000 AS sd_s
      FROM strata
    ),
    tot AS (
      SELECT CAST(SUM(n_s) AS BIGINT) AS nt,
             CAST(SUM(CAST(floor(n_s * sd_s * 1000000 + 0.5) / 1000000
                  AS DECIMAL(28,6))) AS DOUBLE) AS w
      FROM sd
    )
    SELECT s.source, s.n_s, s.sd_s,
           CAST(floor({_SAMPLE_BUDGET}
                * floor(s.n_s * s.sd_s * 1000000 + 0.5) / 1000000
                / t.w + 0.5) AS BIGINT) AS n_neyman,
           CAST(floor({_SAMPLE_BUDGET} * s.n_s * 1.0 / t.nt + 0.5)
                AS BIGINT) AS n_proportional
    FROM sd s CROSS JOIN tot t
    ORDER BY s.source
    """,
)
def documents_neyman_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Neyman-optimal allocation of a {b}-document sample across
    sources: n_s = B * N_s sd_s / sum(N sd), next to the proportional
    allocation, using each source's n_chars standard deviation (exact
    decimal moments, 6dp-quantized products). Sources with volatile
    lengths earn more samples — the variance-minimizing design for
    any corpus statistic a QA pass estimates from the sample.

    Scale shape: one source-keyed moment rollup (source-bounded
    panel); the allocation is closed-form per stratum.
    """.format(b=_SAMPLE_BUDGET)
    d = load(spark, sf_dir, "documents")
    strata = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_s"),
        F.sum(F.col("n_chars").cast("decimal(18,0)"))
        .cast("double")
        .alias("s1"),
        F.sum(
            F.col("n_chars").cast("decimal(18,0)")
            * F.col("n_chars").cast("decimal(18,0)")
        )
        .cast("double")
        .alias("s2"),
    )
    sd = strata.select(
        "source",
        "n_s",
        quantize(
            F.sqrt(
                (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n_s"))
                / F.greatest(F.col("n_s") - 1, F.lit(1))
            ), 6
        ).alias("sd_s"),
    )
    tot = sd.agg(
        F.sum("n_s").cast("bigint").alias("nt"),
        F.sum(
            quantize(F.col("n_s") * F.col("sd_s"), 6).cast("decimal(28,6)")
        )
        .cast("double")
        .alias("w"),
    )
    return (
        sd.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_s",
            "sd_s",
            F.floor(
                _SAMPLE_BUDGET
                * (quantize(F.col("n_s") * F.col("sd_s"), 6))
                / F.col("w")
                + 0.5
            )
            .cast("bigint")
            .alias("n_neyman"),
            F.floor(
                _SAMPLE_BUDGET * F.col("n_s") * 1.0 / F.col("nt") + 0.5
            )
            .cast("bigint")
            .alias("n_proportional"),
        )
        .orderBy("source")
    )


# ------------------------------------------------ median polish

_POLISH_TOP = 10


@query(
    "events_median_polish_hourweek",
    oracle=f"""
    WITH cells AS (
      SELECT CAST((CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT)
                   + 4) % 7 AS BIGINT) AS dow,
             CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) % 24
               AS hod,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    r1 AS (
      SELECT dow, quantile_cont(CAST(c AS DOUBLE), 0.5) AS rm
      FROM cells GROUP BY dow
    ),
    t1 AS (
      SELECT c.dow, c.hod, c.c - r.rm AS v
      FROM cells c JOIN r1 r USING (dow)
    ),
    c1 AS (
      SELECT hod, quantile_cont(v, 0.5) AS cm FROM t1 GROUP BY hod
    ),
    t2 AS (
      SELECT t.dow, t.hod, t.v - c.cm AS v
      FROM t1 t JOIN c1 c USING (hod)
    ),
    r2 AS (
      SELECT dow, quantile_cont(v, 0.5) AS rm FROM t2 GROUP BY dow
    ),
    t3 AS (
      SELECT t.dow, t.hod, t.v - r.rm AS v
      FROM t2 t JOIN r2 r USING (dow)
    ),
    c2 AS (
      SELECT hod, quantile_cont(v, 0.5) AS cm FROM t3 GROUP BY hod
    ),
    resid AS (
      SELECT t.dow, t.hod,
             floor((t.v - c.cm) * 10000 + 0.5) / 10000 AS residual
      FROM t3 t JOIN c2 c USING (hod)
    )
    SELECT dow, hod, residual
    FROM resid
    ORDER BY abs(residual) DESC, dow, hod
    LIMIT {_POLISH_TOP}
    """,
)
def events_median_polish_hourweek(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two sweeps of Tukey median polish on the (weekday x hour)
    count matrix: alternately remove row (weekday) and column (hour)
    medians; what remains after two sweeps is the residual no
    additive weekday+hour seasonality explains — the top-{t}
    |residual| cells are genuine anomalies. Medians make the
    decomposition immune to the very outliers it hunts (the mean-
    based `events_hourweek_profile` smears them into the profile).

    Scale shape: ONE shuffle builds the 7x24 matrix; every polish
    sweep is a grouped median over that fixed 168-cell panel —
    constant work regardless of corpus size.
    """.format(t=_POLISH_TOP)
    e = load(spark, sf_dir, "events")
    ep = F.unix_micros(F.col("ts"))
    cells = e.groupBy(
        (
            (F.floor(ep / 86400000000.0).cast("bigint") + 4) % 7
        ).alias("dow"),
        (F.floor(ep / 3600000000.0).cast("bigint") % 24).alias("hod"),
    ).agg(F.count("*").cast("bigint").alias("c"))

    # r8: each polish sweep is a whole-partition window median instead
    # of a groupBy + broadcast-join-back — the join form referenced its
    # input twice per sweep (2^sweeps lineage, 8 broadcast sub-jobs);
    # the window form is ONE linear pipeline over the 168-cell panel,
    # and the raw-event aggregate runs exactly once, no persist needed.
    # percentile() over the identical group values is bit-identical to
    # the joined aggregate.
    def sweep(df, key, val):
        w = Window.partitionBy(key)
        m = F.expr(f"percentile(CAST({val} AS DOUBLE), 0.5)").over(w)
        return df.select(
            "dow", "hod", (F.col(val) - m).alias("v")
        )

    t1 = sweep(cells, "dow", "c")
    t2 = sweep(t1, "hod", "v")
    t3 = sweep(t2, "dow", "v")
    w4 = Window.partitionBy("hod")
    resid = t3.select(
        "dow",
        "hod",
        quantize(
            F.col("v")
            - F.expr("percentile(CAST(v AS DOUBLE), 0.5)").over(w4), 4
        ).alias("residual"),
    )
    return resid.orderBy(
        F.abs(F.col("residual")).desc(), "dow", "hod"
    ).limit(_POLISH_TOP)
