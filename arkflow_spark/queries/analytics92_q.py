"""Round-5 batch 92: volatility clustering, media geometry audit,
regime run lengths.

- `events_arch_lm_test` — Engle's ARCH LM test (one lag) on hourly
  seasonal residuals per stream: regress e_t^2 on e_{t-1}^2; LM =
  n R^2 ~ chi2(1). Significant = volatility clusters (calm and wild
  hours bunch), so anomaly thresholds calibrated on the pooled
  variance (`events_anomaly_zscore`) fire in storms and sleep in
  calms — the test tells you to switch to rolling/robust bands.
- `multimodal_aspect_ratio_audit` — declared-dimension geometry
  audit over the media metadata struct: aspect-ratio class mix
  (portrait/landscape/square-ish), extreme-ratio and tiny-dimension
  flags per media type. The pre-decode gate: a 1x1080 "image" wastes
  a decode slot and usually marks a scraper bug.
- `events_run_length_geometric_fit` — run-length distribution of
  above-median hourly-count runs per stream vs the geometric law the
  runs TEST assumes: observed mean run length, implied p, and the
  chi-square over length bins 1..5+. `events_runs_test` counts runs;
  this one checks their SHAPE — long-run excess = regime persistence
  beyond what any i.i.d. model explains.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ ARCH LM


@query(
    "events_arch_lm_test",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS hr,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    how_mean AS (
      SELECT event_type, hr % 168 AS how,
             CAST(SUM(c) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS m
      FROM hourly GROUP BY 1, 2
    ),
    resid AS (
      SELECT h.event_type, h.hr,
             floor(pow(h.c - w.s * 1.0 / w.m, 2) * 1000000 + 0.5)
               / 1000000 AS e2
      FROM hourly h
      JOIN how_mean w ON w.event_type = h.event_type
                     AND w.how = h.hr % 168
    ),
    lagged AS (
      SELECT event_type, e2,
             lag(e2) OVER (PARTITION BY event_type ORDER BY hr) AS l2
      FROM resid
    ),
    mom AS (
      SELECT event_type,
             CAST(COUNT(l2) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN l2 IS NOT NULL
                  THEN CAST(e2 AS DECIMAL(28,6)) END) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l2 AS DECIMAL(28,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(floor(e2 * l2 * 100 + 0.5) / 100
                  AS DECIMAL(38,2))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(floor(l2 * l2 * 100 + 0.5) / 100
                  AS DECIMAL(38,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CASE WHEN l2 IS NOT NULL
                  THEN CAST(floor(e2 * e2 * 100 + 0.5) / 100
                       AS DECIMAL(38,2)) END) AS DOUBLE) AS syy
      FROM lagged GROUP BY event_type
    )
    SELECT event_type, n AS n_hours,
           floor(pow((n * sxy - sx * sy), 2)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy))
                 * 10000 + 0.5) / 10000 AS r_squared,
           floor(n * pow((n * sxy - sx * sy), 2)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy))
                 * 10000 + 0.5) / 10000 AS lm_stat,
           n * pow((n * sxy - sx * sy), 2)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)) > 6.635
             AS arch_at_1pct
    FROM mom ORDER BY event_type
    """,
)
def events_arch_lm_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle's ARCH LM test (lag 1) per stream on hourly seasonal
    residuals (hour-of-week means removed): LM = n R^2 of the
    e_t^2 ~ e_{t-1}^2 regression, against the chi2(1) 1% critical
    value 6.635. All moments decimal-exact on quantized squared
    residuals. ARCH present = variance is autocorrelated and static
    anomaly bands misfire systematically.

    Scale shape: calendar-bounded hourly rollup, hour-of-week
    baseline join, one keyed lag window over the hourly grid, one
    moment aggregate.
    """
    hourly = (
        load(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.floor(F.unix_micros(F.col("ts")) / 3600000000.0)
            .cast("bigint")
            .alias("hr"),
        )
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    how_mean = hourly.groupBy(
        "event_type", (F.col("hr") % 168).alias("how")
    ).agg(
        F.sum("c").cast("bigint").alias("s"),
        F.count("*").cast("bigint").alias("m"),
    )
    resid = (
        hourly.withColumn("how", F.col("hr") % 168)
        .join(F.broadcast(how_mean), ["event_type", "how"])
        .select(
            "event_type",
            "hr",
            quantize(
                F.pow(
                    F.col("c") - F.col("s") * 1.0 / F.col("m"), F.lit(2)
                ), 6
            ).alias("e2"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("hr")
    lagged = resid.select(
        "event_type", "e2", F.lag("e2").over(w).alias("l2")
    )
    mom = lagged.groupBy("event_type").agg(
        F.count("l2").cast("bigint").alias("n"),
        F.sum(
            F.when(F.col("l2").isNotNull(), F.col("e2").cast(
                "decimal(28,6)"
            ))
        )
        .cast("double")
        .alias("sy"),
        F.sum(F.col("l2").cast("decimal(28,6)"))
        .cast("double")
        .alias("sx"),
        F.sum(quantize(F.col("e2") * F.col("l2"), 2).cast("decimal(38,2)"))
        .cast("double")
        .alias("sxy"),
        F.sum(quantize(F.col("l2") * F.col("l2"), 2).cast("decimal(38,2)"))
        .cast("double")
        .alias("sxx"),
        F.sum(
            F.when(
                F.col("l2").isNotNull(),
                quantize(F.col("e2") * F.col("e2"), 2).cast("decimal(38,2)"),
            )
        )
        .cast("double")
        .alias("syy"),
    )
    n = F.col("n")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = (n * F.col("sxx") - F.col("sx") * F.col("sx")) * (
        n * F.col("syy") - F.col("sy") * F.col("sy")
    )
    r2 = F.pow(num, F.lit(2)) / den
    return mom.select(
        "event_type",
        n.alias("n_hours"),
        quantize(r2, 4).alias("r_squared"),
        quantize(n * r2, 4).alias("lm_stat"),
        (n * r2 > 6.635).alias("arch_at_1pct"),
    ).orderBy("event_type")


# ------------------------------------------------ aspect-ratio audit


@query(
    "multimodal_aspect_ratio_audit",
    oracle="""
    WITH dims AS (
      SELECT lang AS media_group,
             CAST(('0x' || substr(md5(text), 1, 6)) AS INT)
               % 1920 + 1 AS w,
             (CAST(('0x' || substr(md5(text), 1, 6)) AS INT) // 256)
               % 1080 + 1 AS h
      FROM documents
    ),
    cls AS (
      SELECT media_group, w, h,
             CASE WHEN w * 10 > h * 12 THEN 'landscape'
                  WHEN h * 10 > w * 12 THEN 'portrait'
                  ELSE 'squarish' END AS shape,
             (w > h * 4 OR h > w * 4) AS extreme,
             (w < 16 OR h < 16) AS tiny
      FROM dims
    )
    SELECT media_group, shape,
           CAST(COUNT(*) AS BIGINT) AS n_payloads,
           CAST(SUM(CASE WHEN extreme THEN 1 ELSE 0 END) AS BIGINT)
             AS n_extreme_ratio,
           CAST(SUM(CASE WHEN tiny THEN 1 ELSE 0 END) AS BIGINT)
             AS n_tiny_dim
    FROM cls
    GROUP BY media_group, shape
    ORDER BY media_group, shape
    """,
)
def multimodal_aspect_ratio_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Declared-geometry audit per media group: aspect classes
    (landscape / portrait / squarish at the 1.2:1 boundary, integer
    cross-multiplied — no float ratios), extreme-ratio (> 4:1) and
    tiny-dimension (< 16 px) flags. The pre-decode triage: extreme
    and tiny media are scraper artifacts that waste decoder slots and
    poison resize pipelines. Dims derive from the same md5 arithmetic
    `attach_fake_media` declares (operators/multimodal.py:34), so the
    audit exercises the metadata struct path end-to-end.

    Scale shape: one scan with integer hash arithmetic, one
    (group x shape) rollup — category-bounded output.
    """
    from arkflow_spark.operators.multimodal import attach_fake_media

    d = load(spark, sf_dir, "documents")
    media = attach_fake_media(d, text_col="text", id_col="doc_id")
    groups = d.select(
        F.col("doc_id").alias("media_id"),
        F.col("lang").alias("media_group"),
    )
    dims = media.join(F.broadcast(groups), "media_id").select(
        "media_group",
        F.col("meta.declared_w").alias("w"),
        F.col("meta.declared_h").alias("h"),
    )
    cls = dims.select(
        "media_group",
        F.when(F.col("w") * 10 > F.col("h") * 12, "landscape")
        .when(F.col("h") * 10 > F.col("w") * 12, "portrait")
        .otherwise("squarish")
        .alias("shape"),
        (
            (F.col("w") > F.col("h") * 4) | (F.col("h") > F.col("w") * 4)
        ).alias("extreme"),
        ((F.col("w") < 16) | (F.col("h") < 16)).alias("tiny"),
    )
    return (
        cls.groupBy("media_group", "shape")
        .agg(
            F.count("*").cast("bigint").alias("n_payloads"),
            F.sum(F.when(F.col("extreme"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_extreme_ratio"),
            F.sum(F.when(F.col("tiny"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_tiny_dim"),
        )
        .orderBy("media_group", "shape")
    )


# ------------------------------------------------ run-length fit


@query(
    "events_run_length_geometric_fit",
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
      SELECT event_type, hr, s,
             SUM(CASE WHEN s = prev_s THEN 0 ELSE 1 END)
               OVER (PARTITION BY event_type ORDER BY hr
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS run_id
      FROM (
        SELECT event_type, hr, s,
               COALESCE(lag(s) OVER (PARTITION BY event_type
                                     ORDER BY hr), -1) AS prev_s
        FROM signs
      )
    ),
    lens AS (
      SELECT event_type, run_id, CAST(COUNT(*) AS BIGINT) AS len
      FROM runs WHERE s = 1 GROUP BY 1, 2
    ),
    binned AS (
      SELECT event_type, LEAST(len, 5) AS lbin,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM lens GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type,
             CAST(SUM(k) AS BIGINT) AS r,
             CAST(SUM(lbin * k) AS BIGINT) AS capped_total,
             (SELECT CAST(SUM(len) AS BIGINT) FROM lens l2
              WHERE l2.event_type = binned.event_type) AS total_len
      FROM binned GROUP BY event_type
    )
    SELECT t.event_type,
           t.r AS n_runs,
           floor(t.total_len * 1.0 / t.r * 10000 + 0.5) / 10000
             AS mean_run_length,
           floor((1 - t.r * 1.0 / t.total_len) * 10000 + 0.5) / 10000
             AS implied_continue_p,
           floor(SUM(
             CAST(floor(pow(b.k - t.r
                 * CASE WHEN b.lbin < 5
                        THEN pow(1 - t.r * 1.0 / t.total_len,
                                 b.lbin - 1)
                             * (t.r * 1.0 / t.total_len)
                        ELSE pow(1 - t.r * 1.0 / t.total_len, 4) END,
                 2)
                 / (t.r * CASE WHEN b.lbin < 5
                        THEN pow(1 - t.r * 1.0 / t.total_len,
                                 b.lbin - 1)
                             * (t.r * 1.0 / t.total_len)
                        ELSE pow(1 - t.r * 1.0 / t.total_len, 4) END)
                 * 1000000 + 0.5) / 1000000 AS DECIMAL(28,6)))
             * 10000 + 0.5) / 10000 AS chi2_stat
    FROM binned b JOIN tot t USING (event_type)
    GROUP BY t.event_type, t.r, t.total_len
    ORDER BY t.event_type
    """,
)
def events_run_length_geometric_fit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Run-length geometry per stream: above-median hourly runs
    binned at lengths 1..4 and 5+, the ML geometric parameter
    (continue probability 1 - runs/total), and the chi-square of the
    observed bins against that geometric law. The runs TEST
    (`events_runs_test`) only counts runs; a significant chi-square
    HERE with a normal run count means lengths are over-dispersed —
    mixtures of short flicker and long regimes.

    Scale shape: calendar-bounded hourly rollup; run segmentation is
    one lag + one running-sum window per stream over the hourly grid;
    the length histogram is a 5-bin panel per stream.
    """
    hourly = (
        load(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.floor(F.unix_micros(F.col("ts")) / 3600000000.0)
            .cast("bigint")
            .alias("hr"),
        )
        .agg(F.count("*").cast("bigint").alias("c"))
    )
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
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    runs = signs.withColumn(
        "prev_s", F.coalesce(F.lag("s").over(w), F.lit(-1))
    ).withColumn(
        "run_id",
        F.sum(
            F.when(F.col("s") == F.col("prev_s"), 0).otherwise(1)
        ).over(wrun),
    )
    lens = (
        runs.filter(F.col("s") == 1)
        .groupBy("event_type", "run_id")
        .agg(F.count("*").cast("bigint").alias("len"))
    )
    binned = lens.groupBy(
        "event_type", F.least(F.col("len"), F.lit(5)).alias("lbin")
    ).agg(F.count("*").cast("bigint").alias("k"))
    tot = lens.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("r"),
        F.sum("len").cast("bigint").alias("total_len"),
    )
    p = F.col("r") * 1.0 / F.col("total_len")  # stop probability
    q = 1 - p
    prob = F.when(
        F.col("lbin") < 5, F.pow(q, F.col("lbin") - 1) * p
    ).otherwise(F.pow(q, F.lit(4)))
    exp = F.col("r") * prob
    term = quantize(
        F.pow(F.col("k") - exp, F.lit(2)) / exp, 6
    ).cast("decimal(28,6)")
    return (
        binned.join(F.broadcast(tot), "event_type")
        .groupBy("event_type", "r", "total_len")
        .agg(quantize(F.sum(term).cast("double"), 4).alias("chi2_stat"))
        .select(
            "event_type",
            F.col("r").alias("n_runs"),
            quantize(F.col("total_len") * 1.0 / F.col("r"), 4).alias(
                "mean_run_length"
            ),
            quantize(1 - F.col("r") * 1.0 / F.col("total_len"), 4).alias(
                "implied_continue_p"
            ),
            "chi2_stat",
        )
        .orderBy("event_type")
    )
