"""Round-5 batch 74: sample representativeness, Wasserstein drift,
effective dimensionality.

- `events_sample_ks_representativeness` — is the deterministic 5%
  hash sample distributionally faithful? Two-sample KS between the
  sample and the full population per stream, computed EXACTLY on the
  value tick grid with integer cross-multiplication (max |cs*nf -
  cf*ns|), plus the 95% critical value. The audit that should gate
  every "we only looked at a sample" analysis.
- `events_wasserstein_drift` — Wasserstein-1 (earth mover's) distance
  between the two timeline halves' value distributions per stream:
  integral of |F1 - F2| over the tick grid, all in exact integer /
  decimal arithmetic. W1 sees mean SHIFTS that PSI's fixed bins wash
  out and weights them by magnitude, unlike KS's max-only view —
  the drift triad (PSI / KS / W1) covers all three failure shapes.
- `embedding_effective_dim_pr` — participation ratio of the
  per-dimension variance spectrum: PR = (sum v)^2 / sum v^2, the
  standard effective-dimensionality estimate. PR << 64 says the
  embedding uses far fewer directions than its width — the
  variance-side complement to `embedding_intrinsic_dim_twonn`
  (manifold) and `embedding_anisotropy` (mean offset).

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ sample KS audit

_SAMPLE_PCT = 5  # deterministic 5% hash sample


@query(
    "events_sample_ks_representativeness",
    oracle=f"""
    WITH lab AS (
      SELECT event_type, value AS v,
             CASE WHEN ('0x' || substr(md5(CAST(event_id AS VARCHAR)),
                        1, 8))::BIGINT % 100 < {_SAMPLE_PCT}
                  THEN 1 ELSE 0 END AS in_sample
      FROM events
    ),
    per_v AS (
      SELECT event_type, v,
             CAST(COUNT(*) AS BIGINT) AS cf,
             CAST(SUM(in_sample) AS BIGINT) AS cs
      FROM lab GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, v,
             CAST(SUM(cf) OVER w AS BIGINT) AS cf_cum,
             CAST(SUM(cs) OVER w AS BIGINT) AS cs_cum
      FROM per_v
      WINDOW w AS (PARTITION BY event_type ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    tot AS (
      SELECT event_type, MAX(cf_cum) AS nf, MAX(cs_cum) AS ns
      FROM cum GROUP BY event_type
    ),
    ks AS (
      SELECT c.event_type, t.nf, t.ns,
             MAX(abs(c.cs_cum * t.nf - c.cf_cum * t.ns)) AS num
      FROM cum c JOIN tot t USING (event_type)
      GROUP BY 1, 2, 3
    )
    SELECT event_type,
           nf AS n_full, ns AS n_sample,
           floor(num * 1.0 / (ns * nf) * 10000 + 0.5) / 10000 AS ks_stat,
           floor(1.358 * sqrt((ns + nf) * 1.0 / (ns * nf))
                 * 10000 + 0.5) / 10000 AS d_crit_95,
           num * 1.0 / (ns * nf)
             > 1.358 * sqrt((ns + nf) * 1.0 / (ns * nf)) AS reject
    FROM ks ORDER BY event_type
    """,
)
def events_sample_ks_representativeness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-sample KS between the deterministic {p}% hash sample
    (md5(event_id) bucket < {p}) and the full population per stream:
    D = max over the value grid of |Fs - Ff|, computed as exact
    integer cross-products (|cs_cum*nf - cf_cum*ns|, one division at
    the end), with the large-sample 95% critical value and verdict.
    Rejecting means the sample is NOT exchangeable with the
    population and sample-based dashboards are lying.

    Scale shape: one rollup to the distinct-value tick grid; the
    cumulative window runs over that value-grid-bounded table
    (# scale: tick-grid-bounded, the events `value` column is a 2dp
    grid); one exact max per stream.
    """.format(p=_SAMPLE_PCT)
    e = load(spark, sf_dir, "events")
    u = (
        F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 8),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    lab = e.select(
        "event_type",
        F.col("value").alias("v"),
        F.when(u < _SAMPLE_PCT, 1).otherwise(0).alias("in_sample"),
    )
    per_v = lab.groupBy("event_type", "v").agg(
        F.count("*").cast("bigint").alias("cf"),
        F.sum("in_sample").cast("bigint").alias("cs"),
    )
    # scale: tick-grid-bounded window (distinct 2dp scores)
    w = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_v.select(
        "event_type",
        F.sum("cf").over(w).cast("bigint").alias("cf_cum"),
        F.sum("cs").over(w).cast("bigint").alias("cs_cum"),
    )
    # totals joined back as columns: the KS max is over a cross-product
    # of per-row cumulatives with per-stream totals
    tot = cum.groupBy("event_type").agg(
        F.max("cf_cum").cast("bigint").alias("nf"),
        F.max("cs_cum").cast("bigint").alias("ns"),
    )
    num = (
        cum.join(F.broadcast(tot), "event_type")
        .groupBy("event_type", "nf", "ns")
        .agg(
            F.max(
                F.abs(
                    F.col("cs_cum") * F.col("nf")
                    - F.col("cf_cum") * F.col("ns")
                )
            ).alias("num")
        )
    )
    stat = F.col("num") * 1.0 / (F.col("ns") * F.col("nf"))
    crit = 1.358 * F.sqrt(
        (F.col("ns") + F.col("nf")) * 1.0 / (F.col("ns") * F.col("nf"))
    )
    return num.select(
        "event_type",
        F.col("nf").alias("n_full"),
        F.col("ns").alias("n_sample"),
        quantize(stat, 4).alias("ks_stat"),
        quantize(crit, 4).alias("d_crit_95"),
        (stat > crit).alias("reject"),
    ).orderBy("event_type")


# ------------------------------------------------ Wasserstein drift


@query(
    "events_wasserstein_drift",
    oracle="""
    WITH hrs AS (
      SELECT event_type, value AS v,
             CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS hr
      FROM events
    ),
    cut AS (
      SELECT MIN(hr) + (MAX(hr) - MIN(hr)) // 2 AS chr FROM hrs
    ),
    per_v AS (
      SELECT h.event_type, h.v,
             CAST(SUM(CASE WHEN h.hr < c.chr THEN 1 ELSE 0 END)
                  AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN h.hr >= c.chr THEN 1 ELSE 0 END)
                  AS BIGINT) AS c2
      FROM hrs h CROSS JOIN cut c
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, v,
             CAST(SUM(c1) OVER w AS BIGINT) AS f1,
             CAST(SUM(c2) OVER w AS BIGINT) AS f2,
             lead(v) OVER (PARTITION BY event_type ORDER BY v) AS v_next
      FROM per_v
      WINDOW w AS (PARTITION BY event_type ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    tot AS (
      SELECT event_type, MAX(f1) AS n1, MAX(f2) AS n2
      FROM cum GROUP BY event_type
    )
    SELECT c.event_type, t.n1, t.n2,
           floor(CAST(SUM(CAST(abs(c.f1 * t.n2 - c.f2 * t.n1)
                          * CAST(floor((c.v_next - c.v) * 100 + 0.5)
                                 / 100 AS DECIMAL(18,2))
                          AS DECIMAL(38,2))) AS DOUBLE)
                 / (t.n1 * t.n2) * 10000 + 0.5) / 10000 AS w1_distance
    FROM cum c JOIN tot t USING (event_type)
    WHERE c.v_next IS NOT NULL
    GROUP BY 1, 2, 3
    ORDER BY c.event_type
    """,
)
def events_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserstein-1 distance between the two timeline halves' value
    distributions per stream: W1 = integral |F1 - F2| dv over the tick
    grid = sum over grid points of |f1*n2 - f2*n1| * gap / (n1*n2),
    with the numerator accumulated as exact DECIMAL (counts are
    integers, gaps are exact 2dp ticks) and ONE division at the end.
    W1 is in value units — "the second half's distribution moved by
    this many dollars" — which neither PSI (`events_drift_psi`) nor a
    KS max can say.

    Scale shape: one rollup to the distinct-value tick grid, one
    cumulative window over that value-grid-bounded table
    (# scale: tick-grid-bounded), one exact reduce per stream.
    """
    e = load(spark, sf_dir, "events")
    hrs = e.select(
        "event_type",
        F.col("value").alias("v"),
        F.floor(F.unix_micros(F.col("ts")) / 3600000000.0)
        .cast("bigint")
        .alias("hr"),
    )
    cut = hrs.agg(
        (F.min("hr") + F.floor((F.max("hr") - F.min("hr")) / 2))
        .cast("bigint")
        .alias("chr")
    )
    per_v = (
        hrs.crossJoin(F.broadcast(cut))
        .groupBy("event_type", "v")
        .agg(
            F.sum(F.when(F.col("hr") < F.col("chr"), 1).otherwise(0))
            .cast("bigint")
            .alias("c1"),
            F.sum(F.when(F.col("hr") >= F.col("chr"), 1).otherwise(0))
            .cast("bigint")
            .alias("c2"),
        )
    )
    # scale: tick-grid-bounded windows (distinct 2dp values)
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wlead = Window.partitionBy("event_type").orderBy("v")
    cum = per_v.select(
        "event_type",
        "v",
        F.sum("c1").over(wcum).cast("bigint").alias("f1"),
        F.sum("c2").over(wcum).cast("bigint").alias("f2"),
        F.lead("v").over(wlead).alias("v_next"),
    )
    tot = cum.groupBy("event_type").agg(
        F.max("f1").cast("bigint").alias("n1"),
        F.max("f2").cast("bigint").alias("n2"),
    )
    gap = quantize(F.col("v_next") - F.col("v"), 2).cast("decimal(18,2)")
    return (
        cum.join(F.broadcast(tot), "event_type")
        .filter(F.col("v_next").isNotNull())
        .groupBy("event_type", "n1", "n2")
        .agg(
            quantize(
                F.sum(
                    (
                        F.abs(
                            F.col("f1") * F.col("n2")
                            - F.col("f2") * F.col("n1")
                        )
                        * gap
                    ).cast("decimal(38,2)")
                ).cast("double")
                / (F.col("n1") * F.col("n2")), 4
            ).alias("w1_distance")
        )
        .select("event_type", "n1", "n2", "w1_distance")
        .orderBy("event_type")
    )


# ------------------------------------------------ participation ratio

_EMB_DIM = 64


@query(
    "embedding_effective_dim_pr",
    oracle=f"""
    WITH x AS (
      SELECT vec_id, g.i AS i,
             floor(CAST(embedding[g.i] AS DOUBLE) * 1000000 + 0.5)
               / 1000000 AS v
      FROM embeddings CROSS JOIN generate_series(1, {_EMB_DIM}) g(i)
      WHERE g.i <= len(embedding)
    ),
    mom AS (
      SELECT i,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(floor(v * v * 1000000 + 0.5) / 1000000
                           AS DECIMAL(18,6))) AS DOUBLE) AS s2
      FROM x GROUP BY i
    ),
    vars AS (
      SELECT i,
             floor((s2 - s1 * s1 / n) / n * 1000000 + 0.5) / 1000000
               AS var_i
      FROM mom
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_dims,
             CAST(SUM(CAST(var_i AS DECIMAL(18,6))) AS DOUBLE) AS sv,
             CAST(SUM(CAST(floor(var_i * var_i * 1000000 + 0.5)
                           / 1000000 AS DECIMAL(18,6))) AS DOUBLE)
               AS sv2,
             MAX(var_i) AS vmax
      FROM vars
    )
    SELECT n_dims,
           floor(sv * sv / sv2 * 10000 + 0.5) / 10000 AS effective_dim,
           floor(sv * 10000 + 0.5) / 10000 AS total_variance,
           floor(vmax / sv * 10000 + 0.5) / 10000 AS top_dim_share
    FROM agg
    """,
)
def embedding_effective_dim_pr(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Participation ratio of the embedding's per-dimension variance
    spectrum: PR = (sum var)^2 / sum var^2 over the {d} coordinates
    (population variances from exact decimal moment sums of
    6dp-quantized values). PR = {d} means isotropic use of the space;
    PR << {d} means a few directions carry everything — dimensionality
    reduction is nearly free and ANN distance contrast is weaker than
    the width suggests.

    Scale shape: one {d}-way explode (bounded fan-out), one
    map-side-combinable moment aggregate per dimension, constant-size
    PR arithmetic on the {d}-row spectrum.
    """.format(d=_EMB_DIM)
    e = load(spark, sf_dir, "embeddings")
    x = e.select(
        F.posexplode("embedding").alias("i0", "raw")
    ).select(
        (F.col("i0") + 1).alias("i"),
        quantize(F.col("raw").cast("double"), 6).alias("v"),
    )
    mom = x.groupBy("i").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("v").cast("decimal(18,6)")).cast("double").alias("s1"),
        F.sum(quantize(F.col("v") * F.col("v"), 6).cast("decimal(18,6)"))
        .cast("double")
        .alias("s2"),
    )
    vars_ = mom.select(
        "i",
        quantize(
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / F.col("n"), 6
        ).alias("var_i"),
    )
    agg = vars_.agg(
        F.count("*").cast("bigint").alias("n_dims"),
        F.sum(F.col("var_i").cast("decimal(18,6)"))
        .cast("double")
        .alias("sv"),
        F.sum(
            quantize(F.col("var_i") * F.col("var_i"), 6).cast("decimal(18,6)")
        )
        .cast("double")
        .alias("sv2"),
        F.max("var_i").alias("vmax"),
    )
    return agg.select(
        "n_dims",
        quantize(F.col("sv") * F.col("sv") / F.col("sv2"), 4).alias(
            "effective_dim"
        ),
        quantize(F.col("sv"), 4).alias("total_variance"),
        quantize(F.col("vmax") / F.col("sv"), 4).alias("top_dim_share"),
    )
