"""Round-3 fourth-session batch 22: CUPED variance reduction.

- `events_cuped_adjustment` — CUPED (Controlled-experiment Using
  Pre-Experiment Data, Deng et al., WSDM 2013): regress each user's
  experiment-period metric on their pre-period metric
  (theta = cov(X,Y)/var(X)) and report the variance the adjustment
  removes — the technique that makes `events_power_analysis`'s
  required sample sizes shrink (same MDE, fewer users) and the
  standard lever of every large experimentation platform.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


_CUPED_CUTOVER = "2024-01-16"


@query(
    "events_cuped_adjustment",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             SUM(CASE WHEN ts < TIMESTAMP '{_CUPED_CUTOVER}'
                      THEN value ELSE 0 END) AS x,
             SUM(CASE WHEN ts >= TIMESTAMP '{_CUPED_CUTOVER}'
                      THEN value ELSE 0 END) AS y,
             SUM(CASE WHEN ts < TIMESTAMP '{_CUPED_CUTOVER}'
                      THEN 1 ELSE 0 END) AS n_pre,
             SUM(CASE WHEN ts >= TIMESTAMP '{_CUPED_CUTOVER}'
                      THEN 1 ELSE 0 END) AS n_post
      FROM events GROUP BY user_id
    ),
    both_sides AS (
      SELECT x, y FROM per_user WHERE n_pre > 0 AND n_post > 0
    ),
    mom AS (
      SELECT COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM both_sides
    )
    SELECT n AS n_users,
           floor((n * sxy - sx * sy) / (n * sxx - sx * sx)
                 * 10000 + 0.5) / 10000 AS theta,
           floor((syy - sy * sy / n) / (n - 1) * 10000 + 0.5) / 10000
             AS var_y,
           floor(((syy - sy * sy / n)
                  - (n * sxy - sx * sy) * (n * sxy - sx * sy)
                    / (n * 1.0 * (n * sxx - sx * sx)))
                 / (n - 1) * 10000 + 0.5) / 10000 AS var_y_adj,
           floor((n * sxy - sx * sy) * (n * sxy - sx * sy) * 1.0
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy))
                 * 10000 + 0.5) / 10000 AS variance_reduction
    FROM mom
    """,
)
def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM 2013): per user, the
    pre-period metric X and experiment-period metric Y (users active in
    BOTH periods); theta = cov(X,Y)/var(X), the adjusted metric
    Y - theta (X - mean X) has variance var(Y)(1 - rho^2), and
    `variance_reduction` = rho^2 is the fraction of metric noise the
    pre-period covariate explains — directly multiplying into
    `events_power_analysis`'s required n (20% reduction = 20% fewer
    users for the same MDE). Every statistic derives from ONE exact
    co-moment pass; the identities (var_y_adj = var_y (1-rho^2)) hold
    algebraically in both engines' arithmetic.

    Scale: a per-user conditional reduction, then a single 6-moment
    aggregate — two map-side-combinable passes, no windows, no joins.
    """
    e = load(spark, sf_dir, "events")
    cut = F.lit(_CUPED_CUTOVER).cast("timestamp")
    pre = F.col("ts") < cut
    per_user = e.groupBy("user_id").agg(
        F.sum(F.when(pre, F.col("value")).otherwise(0.0)).alias("x"),
        F.sum(F.when(~pre, F.col("value")).otherwise(0.0)).alias("y"),
        F.sum(F.when(pre, 1).otherwise(0)).alias("n_pre"),
        F.sum(F.when(~pre, 1).otherwise(0)).alias("n_post"),
    )
    both = per_user.filter(
        (F.col("n_pre") > 0) & (F.col("n_post") > 0)
    )
    mom = both.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    cov_n = n * sxy - sx * sy
    varx_n = n * sxx - sx * sx
    vary_n = n * syy - sy * sy
    return mom.select(
        n.alias("n_users"),
        quantize(F.try_divide(cov_n, varx_n), 4).alias("theta"),
        # try_divide on the n-1 / varx_n denominators too: a 1-user or
        # zero-pre-period-variance input must yield NULL (DuckDB's /0
        # semantics), not a DIVIDE_BY_ZERO error under ANSI mode.
        quantize(
            F.try_divide(syy - F.try_divide(sy * sy, n), n - 1), 4
        ).alias("var_y"),
        quantize(
            F.try_divide(
                (syy - F.try_divide(sy * sy, n))
                - F.try_divide(cov_n * cov_n, n * 1.0 * varx_n),
                n - 1,
            ), 4
        ).alias("var_y_adj"),
        quantize(
            F.try_divide(cov_n * cov_n * 1.0, varx_n * vary_n), 4
        ).alias("variance_reduction"),
    )
