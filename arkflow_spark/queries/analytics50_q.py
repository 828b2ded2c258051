"""Round-5 batch 50: license/compliance screen, GPD return levels,
hourly mix entropy.

- `documents_license_screen` — corpus-compliance triage: per source,
  the share of documents carrying copyright/license markers and the
  marker-class breakdown. The pretraining-governance pass that runs
  BEFORE quality filtering — a shard that is 40% "all rights reserved"
  is a legal decision, not a quality decision.
- `events_gpd_return_levels` — extreme-value return levels: compose the
  `events_gpd_pot_fit` parameters into the m-observation return level
  x_m = u + sigma/xi ((m p_u)^xi - 1) for 1k/10k/100k-event horizons —
  the "what peak should we capacity-plan for" number EVT exists to
  produce.
- `events_hourly_type_entropy` — Shannon entropy of the event-type mix
  per hour: a collapse toward 0 bits means one stream is drowning the
  others (incident, retry storm); the mix-shift alarm that complements
  per-stream rate alerts (every stream can look individually normal
  while the MIX shifts).

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import (
    DUCK_TS_FMT,
    SPARK_TS_FMT,
    quantize,
    query,
)
from arkflow_spark.tables import load


# ------------------------------------------------ license screen

# marker classes as (name, regex) — RE2/Java-compatible: no lookaround
_LICENSE_MARKERS = (
    ("copyright", r"copyright|\(c\)\s*[0-9]{4}"),
    ("rights_reserved", r"all rights reserved"),
    ("open_license", r"creative commons|cc-by|apache license|mit license|gpl"),
)


@query(
    "documents_license_screen",
    oracle=f"""
    WITH flags AS (
      SELECT source,
             {",".join(
                 "CASE WHEN regexp_matches(lower(text), '" + rx + "')"
                 " THEN 1 ELSE 0 END AS f_" + name
                 for name, rx in _LICENSE_MARKERS
             )}
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {",".join(
               "CAST(SUM(f_" + name + ") AS BIGINT) AS n_" + name
               for name, _ in _LICENSE_MARKERS
           )},
           floor(SUM(CASE WHEN {" + ".join(
               "f_" + name for name, _ in _LICENSE_MARKERS
           )} > 0 THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
                 * 10000 + 0.5) / 10000 AS marked_share
    FROM flags
    GROUP BY source
    ORDER BY source
    """,
)
def documents_license_screen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Compliance triage per source shard: documents matching
    copyright / all-rights-reserved / open-license markers (class
    counts + the share carrying ANY marker). Shards with a high
    reserved-rights share get routed to legal review or dropped before
    any quality work is spent on them; open-license hits route to the
    attribution pipeline instead. Regexes live in the shared
    RE2-and-Java-compatible subset (no lookaround — the
    `text_pii_redact` discipline).

    Plan: one narrow map stage (three regex flags per document), one
    map-side-combinable source rollup — scan-bound at any corpus size.
    """
    d = load(spark, sf_dir, "documents")
    flags = d.select(
        "source",
        *[
            F.when(
                F.regexp_like(F.lower("text"), F.lit(rx)), 1
            )
            .otherwise(0)
            .alias(f"f_{name}")
            for name, rx in _LICENSE_MARKERS
        ],
    )
    any_marker = sum(
        F.col(f"f_{name}") for name, _ in _LICENSE_MARKERS
    )
    return (
        flags.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            *[
                F.sum(f"f_{name}").cast("bigint").alias(f"n_{name}")
                for name, _ in _LICENSE_MARKERS
            ],
            quantize(
                F.sum(F.when(any_marker > 0, 1).otherwise(0))
                * 1.0
                / F.count("*"), 4
            ).alias("marked_share"),
        )
        .orderBy("source")
    )


# -------------------------------------------- GPD return levels

_RETURN_HORIZONS = (1000, 10000, 100000)  # observations


def _gpd_pwm_sql() -> str:
    """The events_gpd_pot_fit parameter pipeline (threshold + PWM fit)
    as reusable CTE text — kept in sync with analytics40_q."""
    return """
    ranked AS (
      SELECT event_type, value,
             CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY value
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
               AS n_all
      FROM events
    ),
    thr AS (
      SELECT event_type,
             MIN(CASE WHEN cum * 10 >= n_all * 9 THEN value END) AS u,
             MAX(n_all) AS n_all
      FROM ranked GROUP BY 1
    ),
    exc AS (
      SELECT e.event_type, t.u, t.n_all, e.value - t.u AS y,
             row_number() OVER (PARTITION BY e.event_type
               ORDER BY e.value - t.u, e.event_id) AS i,
             CAST(COUNT(*) OVER (PARTITION BY e.event_type) AS BIGINT)
               AS n
      FROM events e JOIN thr t ON t.event_type = e.event_type
      WHERE e.value > t.u
    ),
    pwm AS (
      SELECT event_type, u, n_all, n,
             CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) / n AS b0,
             CAST(SUM(CAST((n - i) / (n - 1.0) * y AS DECIMAL(24,10)))
                  AS DOUBLE) / n AS b1
      FROM exc
      WHERE n >= 2
      GROUP BY 1, 2, 3, 4
    ),
    par AS (
      SELECT event_type, u, n_all, n,
             2 - b0 / NULLIF(b0 - 2 * b1, 0) AS xi,
             2 * b0 * b1 / NULLIF(b0 - 2 * b1, 0) AS sigma
      FROM pwm
    )
    """


@query(
    "events_gpd_return_levels",
    oracle=f"""
    WITH {_gpd_pwm_sql()}
    SELECT event_type,
           floor(u * 10000 + 0.5) / 10000 AS threshold_p90,
           {",".join(
               "floor((u + sigma / NULLIF(xi, 0)"
               f" * (pow({m} * (n * 1.0 / n_all), xi) - 1))"
               " * 10000 + 0.5) / 10000"
               f" AS rl_{m}"
               for m in _RETURN_HORIZONS
           )}
    FROM par
    ORDER BY event_type
    """,
)
def events_gpd_return_levels(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """m-observation return levels from the peaks-over-threshold GPD
    fit: x_m = u + (sigma/xi) ((m * p_u)^xi - 1), with (u, sigma, xi)
    exactly `events_gpd_pot_fit`'s Hosking-Wallis PWM parameters and
    p_u the exceedance rate n_exc / n_total. rl_10000 answers "the
    largest value expected once per 10k observations" — the
    capacity-planning number the tail fit exists to produce, and the
    composition that makes the EVT family (Hill index -> GPD fit ->
    return levels) end-to-end.

    Same plan as the fit (one cumulative threshold window, broadcast
    threshold join, one rank window over the ~10% excess subset, one
    moment aggregate) plus three closed-form expressions; identical
    decimal discipline, so parameters are bit-equal to the fit query's.
    """
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy("event_type")
    ranked = e.select(
        "event_type",
        "value",
        F.count("*").over(wcum).alias("cum"),
        F.count("*").over(wn).alias("n_all"),
    )
    thr = ranked.groupBy("event_type").agg(
        F.min(
            F.when(
                F.col("cum") * 10 >= F.col("n_all") * 9, F.col("value")
            )
        ).alias("u"),
        F.max("n_all").alias("n_all"),
    )
    wrk = Window.partitionBy("event_type").orderBy(
        (F.col("value") - F.col("u")).asc(), F.asc("event_id")
    )
    exc = (
        e.join(F.broadcast(thr), "event_type")
        .filter(F.col("value") > F.col("u"))
        .select(
            "event_type",
            "u",
            "n_all",
            (F.col("value") - F.col("u")).alias("y"),
            F.row_number().over(wrk).alias("i"),
            F.count("*").over(wn).alias("n"),
        )
    )
    pwm = (
        exc.filter(F.col("n") >= 2)
        .groupBy("event_type", "u", "n_all", "n")
        .agg(
            (
                F.sum(F.col("y").cast("decimal(18,6)")).cast("double")
                / F.col("n")
            ).alias("b0"),
            (
                F.sum(
                    (
                        (F.col("n") - F.col("i"))
                        / (F.col("n") - 1.0)
                        * F.col("y")
                    ).cast("decimal(24,10)")
                ).cast("double")
                / F.col("n")
            ).alias("b1"),
        )
    )
    b0, b1 = F.col("b0"), F.col("b1")
    den = F.nullif(b0 - 2 * b1, F.lit(0.0))
    par = pwm.select(
        "event_type",
        "u",
        "n_all",
        "n",
        (2 - F.try_divide(b0, den)).alias("xi"),
        F.try_divide(2 * b0 * b1, den).alias("sigma"),
    )
    p_u = F.col("n") * 1.0 / F.col("n_all")
    rl_cols = [
        quantize(
            F.col("u")
            + F.col("sigma")
            / F.nullif(F.col("xi"), F.lit(0.0))
            * (F.pow(F.lit(float(m)) * p_u, F.col("xi")) - 1), 4
        ).alias(f"rl_{m}")
        for m in _RETURN_HORIZONS
    ]
    return par.select(
        "event_type",
        quantize(F.col("u"), 4).alias("threshold_p90"),
        *rl_cols,
    ).orderBy("event_type")


# ---------------------------------------------- hourly mix entropy


@query(
    "events_hourly_type_entropy",
    oracle=f"""
    WITH cnt AS (
      SELECT date_trunc('hour', ts) AS h, event_type,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT h, CAST(SUM(c) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_types
      FROM cnt GROUP BY 1
    )
    SELECT strftime(t.h, '{DUCK_TS_FMT}') AS hour, t.n AS n_events,
           t.n_types,
           floor(CAST(SUM(CAST(-(CAST(c.c AS DOUBLE) / t.n)
                                * log2(CAST(c.c AS DOUBLE) / t.n)
                                AS DECIMAL(18,10))) AS DOUBLE)
                 * 10000 + 0.5) / 10000 AS entropy_bits
    FROM cnt c JOIN tot t ON t.h = c.h
    GROUP BY t.h, t.n, t.n_types
    ORDER BY hour
    """,
)
def events_hourly_type_entropy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shannon entropy (bits) of the event-type mix per hour: a healthy
    service holds a steady mix entropy; a collapse toward 0 means one
    type is flooding (retry storm, scraper) and a jump toward
    log2(n_types) means a normally-dominant stream went quiet — both
    invisible to per-stream rate alerts when totals stay flat. The
    mix-shift alarm `events_drift_psi` gives for distributions, on the
    time axis.

    Plan: one (hour, type) aggregate, one hour rollup; per-type
    -p log2 p terms quantize to DECIMAL(18,10) (the `text_char_entropy`
    discipline) and sum exactly. Hours are calendar-bounded, types are
    vocabulary-bounded — both rollups map-side combinable.
    """
    e = load(spark, sf_dir, "events")
    cnt = e.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.count("*").alias("c"))
    tot = cnt.groupBy("h").agg(
        F.sum("c").alias("n"), F.count("*").alias("n_types")
    )
    p = F.col("c").cast("double") / F.col("n")
    return (
        cnt.join(tot, "h")
        .groupBy("h", "n", "n_types")
        .agg(
            F.sum(((-p) * F.log2(p)).cast("decimal(18,10)"))
            .cast("double")
            .alias("hent")
        )
        .select(
            F.date_format("h", SPARK_TS_FMT).alias("hour"),
            F.col("n").cast("bigint").alias("n_events"),
            F.col("n_types").cast("bigint").alias("n_types"),
            quantize(F.col("hent"), 4).alias("entropy_bits"),
        )
        .orderBy("hour")
    )
