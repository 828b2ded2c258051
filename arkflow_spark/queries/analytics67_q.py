"""Round-5 batch 67: randomness of runs, knee-point detection.

- `events_runs_test` — the Wald-Wolfowitz runs test on each stream's
  hourly series, dichotomized at its median: too few runs = sticky
  regimes (persistence), too many = oscillation. The sign-pattern
  complement to `events_turning_points` (which tests local extrema) —
  the two together separate trend from alternation.
- `documents_quality_knee_kneedle` — Kneedle-style knee detection on
  the quality-threshold retention curve: normalize the (threshold,
  docs-retained) curve to the unit square and take the point with
  maximum distance from the diagonal chord — the principled "where
  does tightening the filter stop paying" answer that
  `documents_quality_threshold_sweep` leaves to eyeballing
  (Satopaa et al. 2011).

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ runs test


@query(
    "events_runs_test",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS hr,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    med AS (
      SELECT event_type, quantile_cont(CAST(c AS DOUBLE), 0.5) AS md
      FROM hourly GROUP BY event_type
    ),
    signs AS (
      SELECT h.event_type, h.hr,
             CASE WHEN h.c > m.md THEN 1 ELSE 0 END AS s
      FROM hourly h JOIN med m USING (event_type)
      WHERE h.c <> m.md
    ),
    runs AS (
      SELECT event_type, s,
             CASE WHEN s = LAG(s) OVER (PARTITION BY event_type
                                        ORDER BY hr)
                  THEN 0 ELSE 1 END AS is_start
      FROM signs
    ),
    agg AS (
      SELECT event_type,
             CAST(SUM(is_start) AS BIGINT) AS r,
             CAST(SUM(s) AS BIGINT) AS n1,
             CAST(SUM(1 - s) AS BIGINT) AS n2
      FROM runs GROUP BY event_type
    )
    SELECT event_type, r AS n_runs, n1 AS n_above, n2 AS n_below,
           floor((2.0 * n1 * n2 / (n1 + n2) + 1) * 10000 + 0.5)
             / 10000 AS expected_runs,
           floor((r - (2.0 * n1 * n2 / (n1 + n2) + 1))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / (POW(n1 + n2, 2) * (n1 + n2 - 1)))
                 * 10000 + 0.5) / 10000 AS z_stat
    FROM agg
    WHERE n1 > 0 AND n2 > 0
    ORDER BY event_type
    """,
)
def events_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test per stream on the hourly counts,
    dichotomized at the stream median (exact-median hours drop, the
    standard convention): observed runs R vs E[R] = 2 n1 n2/(n1+n2)+1
    and the normal approximation z. z << 0 flags persistence (load
    regimes lasting many hours), z >> 0 flags alternation — both
    violate the i.i.d. noise assumption every static threshold
    silently makes.

    Scale shape: one hourly rollup; the median is tick-bounded exact
    percentile; the run-boundary window is partitioned by stream over
    the calendar-bounded grid; counts are exact integers.
    """
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        F.floor(F.unix_micros(F.col("ts")) / 3600000000.0)
        .cast("bigint")
        .alias("hr"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    med = hourly.groupBy("event_type").agg(
        F.expr("percentile(CAST(c AS DOUBLE), 0.5)").alias("md")
    )
    signs = (
        hourly.join(F.broadcast(med), "event_type")
        .filter(F.col("c") != F.col("md"))
        .select(
            "event_type",
            "hr",
            F.when(F.col("c") > F.col("md"), 1).otherwise(0).alias("s"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("hr")
    runs = signs.select(
        "event_type",
        "s",
        F.when(F.col("s") == F.lag("s").over(w), 0)
        .otherwise(1)
        .alias("is_start"),
    )
    agg = runs.groupBy("event_type").agg(
        F.sum("is_start").cast("bigint").alias("r"),
        F.sum("s").cast("bigint").alias("n1"),
        F.sum(1 - F.col("s")).cast("bigint").alias("n2"),
    )
    er = 2.0 * F.col("n1") * F.col("n2") / (F.col("n1") + F.col("n2")) + 1
    vr = (
        2.0
        * F.col("n1")
        * F.col("n2")
        * (2.0 * F.col("n1") * F.col("n2") - F.col("n1") - F.col("n2"))
        / (
            F.pow(F.col("n1") + F.col("n2"), F.lit(2))
            * (F.col("n1") + F.col("n2") - 1)
        )
    )
    return (
        agg.filter((F.col("n1") > 0) & (F.col("n2") > 0))
        .select(
            "event_type",
            F.col("r").alias("n_runs"),
            F.col("n1").alias("n_above"),
            F.col("n2").alias("n_below"),
            quantize(er, 4).alias("expected_runs"),
            quantize((F.col("r") - er) / F.sqrt(vr), 4).alias("z_stat"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------------ Kneedle knee

_KNEE_STEPS = 20


@query(
    "documents_quality_knee_kneedle",
    oracle=f"""
    WITH scored AS (
      SELECT CAST(len(list_distinct(regexp_extract_all(lower(text),
                 '[a-z]+'))) AS DOUBLE)
               / GREATEST(len(regexp_extract_all(lower(text),
                 '[a-z]+')), 1) AS uniq_ratio
      FROM documents
    ),
    grid AS (
      SELECT g.i AS step, g.i / {_KNEE_STEPS}.0 AS thr
      FROM generate_series(0, {_KNEE_STEPS}) g(i)
    ),
    curve AS (
      SELECT g.step, g.thr,
             CAST((SELECT COUNT(*) FROM scored s
                   WHERE s.uniq_ratio >= g.thr) AS BIGINT) AS kept
      FROM grid g
    ),
    tot AS (
      SELECT MAX(kept) AS n FROM curve
    ),
    norm AS (
      SELECT c.step, c.thr, c.kept,
             c.thr AS x, c.kept * 1.0 / t.n AS y
      FROM curve c CROSS JOIN tot t
    ),
    kneedle AS (
      SELECT step, thr, kept,
             (1 - x) - y AS chord_gap
      FROM norm
    ),
    best AS (
      SELECT step, thr, kept, chord_gap,
             row_number() OVER (ORDER BY chord_gap DESC, step) AS rn
      FROM kneedle
    )
    SELECT thr AS knee_threshold,
           kept AS docs_retained,
           floor(chord_gap * 10000 + 0.5) / 10000 AS knee_strength
    FROM best WHERE rn = 1
    """,
)
def documents_quality_knee_kneedle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kneedle knee point of the quality-threshold retention curve:
    score = distinct-word ratio, thresholds on the fixed {k}-step
    grid, retained-count curve normalized to the unit square; the
    knee maximizes the gap to the falling diagonal ((1-x) - y).
    Returns the threshold past which additional strictness sheds
    documents faster than it buys quality — the number the sweep
    query (`documents_quality_threshold_sweep`) asks you to pick by
    eye.

    Scale shape: one scoring scan, one {k}-step threshold
    cross-count (a bounded conditional-sum rollup — the curve is one
    map-side-combinable pass, not {k} scans), then constant-size
    Kneedle arithmetic.
    """.format(k=_KNEE_STEPS)
    d = load(spark, sf_dir, "documents")
    toks = F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
    scored = d.select(
        (
            F.size(F.array_distinct(toks)).cast("double")
            / F.greatest(F.size(toks), F.lit(1))
        ).alias("uniq_ratio")
    )
    # one pass: count retained at every threshold via conditional sums
    curve = scored.agg(
        *[
            F.sum(
                F.when(
                    F.col("uniq_ratio") >= i / float(_KNEE_STEPS), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias(f"k{i}")
            for i in range(_KNEE_STEPS + 1)
        ]
    )
    rows = curve.collect()[0]  # bounded: one row of 21 counters
    n = max(rows[f"k{i}"] for i in range(_KNEE_STEPS + 1)) or 1
    import builtins

    best = builtins.max(
        (
            (
                (1 - i / float(_KNEE_STEPS)) - rows[f"k{i}"] / n,
                -i,
                i,
            )
            for i in range(_KNEE_STEPS + 1)
        )
    )
    gap, _, i = best
    out = spark.createDataFrame(
        [(i / float(_KNEE_STEPS), int(rows[f"k{i}"]), float(gap))],
        "knee_threshold DOUBLE, docs_retained BIGINT, "
        "knee_strength DOUBLE",
    )
    return out.select(
        "knee_threshold",
        "docs_retained",
        quantize(F.col("knee_strength"), 4).alias("knee_strength"),
    )
