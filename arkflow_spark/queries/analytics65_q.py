"""Round-5 batch 65: segmented regression, energy distance.

- `lineitem_segmented_price_quantity` — segmented (broken-stick) OLS
  of extended price on quantity with ONE breakpoint, found exactly by
  enumerating the bounded quantity grid: per-side closed-form OLS
  from prefix moments, best split by total SSE. Detects volume-
  discount breakpoints without assuming where they are.
- `events_energy_distance_cohorts` — the energy distance between the
  even- and odd-user value distributions per stream, computed EXACTLY
  on the cent-tick grid via the ECDF identity
  E|X-Y| = sum_t [Fx(t)(1-Fy(t)) + Fy(t)(1-Fx(t))] dt. Energy
  distance is zero iff the distributions are equal — a stronger
  two-sample test than KS (sensitive beyond the single largest ECDF
  gap), and here it costs one tick-grid pass, not O(n^2) pairs
  (Szekely-Rizzo 2004).

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ segmented OLS


@query(
    "lineitem_segmented_price_quantity",
    oracle="""
    WITH g AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                  AS DOUBLE) AS sy,
             SUM(l_extendedprice * l_extendedprice) AS syy
      FROM lineitem GROUP BY 1
    ),
    pre AS (
      SELECT q,
             CAST(SUM(n) OVER w AS DOUBLE) AS cn,
             SUM(n * q) OVER w AS cx,
             SUM(CAST(n AS DOUBLE) * q * q) OVER w AS cxx,
             SUM(sy) OVER w AS cy,
             SUM(sy * q) OVER w AS cxy,
             SUM(syy) OVER w AS cyy
      FROM g
      WINDOW w AS (ORDER BY q ROWS UNBOUNDED PRECEDING)
    ),
    tot AS (
      SELECT MAX(cn) AS tn, MAX(cx) AS tx, MAX(cxx) AS txx,
             MAX(cy) AS ty, MAX(cxy) AS txy, MAX(cyy) AS tyy
      FROM pre
    ),
    cand AS (
      SELECT p.q AS brk,
             (p.cyy - (p.cn * p.cxy - p.cx * p.cy)
                      / NULLIF(p.cn * p.cxx - p.cx * p.cx, 0)
                      * (p.cxy - p.cx * p.cy / p.cn)
                    - p.cy * p.cy / p.cn)
             + ((t.tyy - p.cyy)
                - ((t.tn - p.cn) * (t.txy - p.cxy)
                   - (t.tx - p.cx) * (t.ty - p.cy))
                  / NULLIF((t.tn - p.cn) * (t.txx - p.cxx)
                           - (t.tx - p.cx) * (t.tx - p.cx), 0)
                  * ((t.txy - p.cxy)
                     - (t.tx - p.cx) * (t.ty - p.cy) / (t.tn - p.cn))
                - (t.ty - p.cy) * (t.ty - p.cy) / (t.tn - p.cn))
               AS sse2,
             t.tyy - (t.tn * t.txy - t.tx * t.ty)
                     / (t.tn * t.txx - t.tx * t.tx)
                     * (t.txy - t.tx * t.ty / t.tn)
                   - t.ty * t.ty / t.tn AS sse1
      FROM pre p CROSS JOIN tot t
      WHERE p.cn >= 2 AND t.tn - p.cn >= 2
    ),
    best AS (
      SELECT brk, sse2, sse1,
             row_number() OVER (ORDER BY sse2, brk) AS rn
      FROM cand WHERE sse2 IS NOT NULL
    )
    SELECT brk AS breakpoint_qty,
           floor(sse2 / 1000000 * 100 + 0.5) / 100 AS sse_2seg_m,
           floor(sse1 / 1000000 * 100 + 0.5) / 100 AS sse_1seg_m,
           floor((1 - sse2 / sse1) * 10000 + 0.5) / 10000
             AS variance_explained_gain
    FROM best WHERE rn = 1
    """,
)
def lineitem_segmented_price_quantity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Broken-stick OLS of extended price on quantity: the breakpoint
    is chosen by exact enumeration over the TICK-BOUNDED quantity
    grid (50 candidates), each side's SSE in closed form from
    cumulative moments — SSE = Syy - b*Sxy - ybar*Sy with b from the
    normal equations. Reports the best break and the SSE gain over
    the single line; a material gain locates the volume-discount
    knee.

    Determinism: moments accumulate per-grid-cell from exact decimal
    y-sums and integer counts; the cumulative window is grid-ordered
    (sequential both engines); argmin ties break on quantity.

    Scale shape: one map-side-combinable rollup to 50 cells, a
    sequential window over them, and a 48-candidate argmin — the
    corpus is scanned once.

    # scale: tick-grid-bounded — the cumulative-moment window runs
    # over the 50-cell quantity grid, never over raw lineitem rows
    """
    li = load(spark, sf_dir, "lineitem")
    g = li.groupBy(
        F.col("l_quantity").cast("bigint").alias("q")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sy"),
        F.sum(
            F.col("l_extendedprice") * F.col("l_extendedprice")
        ).alias("syy"),
    )
    w = Window.orderBy("q").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = g.select(
        "q",
        F.sum("n").over(w).cast("double").alias("cn"),
        F.sum(F.col("n") * F.col("q")).over(w).cast("double").alias("cx"),
        F.sum(F.col("n").cast("double") * F.col("q") * F.col("q"))
        .over(w)
        .alias("cxx"),
        F.sum("sy").over(w).alias("cy"),
        F.sum(F.col("sy") * F.col("q")).over(w).alias("cxy"),
        F.sum("syy").over(w).alias("cyy"),
    )
    tot = pre.agg(
        F.max("cn").alias("tn"),
        F.max("cx").alias("tx"),
        F.max("cxx").alias("txx"),
        F.max("cy").alias("ty"),
        F.max("cxy").alias("txy"),
        F.max("cyy").alias("tyy"),
    )

    def sse(cn, cx, cxx, cy, cxy, cyy):
        b = (cn * cxy - cx * cy) / F.nullif(
            cn * cxx - cx * cx, F.lit(0)
        )
        return cyy - b * (cxy - cx * cy / cn) - cy * cy / cn

    cand = (
        pre.crossJoin(F.broadcast(tot))
        .filter(
            (F.col("cn") >= 2) & (F.col("tn") - F.col("cn") >= 2)
        )
        .select(
            F.col("q").alias("brk"),
            (
                sse(
                    F.col("cn"),
                    F.col("cx"),
                    F.col("cxx"),
                    F.col("cy"),
                    F.col("cxy"),
                    F.col("cyy"),
                )
                + sse(
                    F.col("tn") - F.col("cn"),
                    F.col("tx") - F.col("cx"),
                    F.col("txx") - F.col("cxx"),
                    F.col("ty") - F.col("cy"),
                    F.col("txy") - F.col("cxy"),
                    F.col("tyy") - F.col("cyy"),
                )
            ).alias("sse2"),
            sse(
                F.col("tn"),
                F.col("tx"),
                F.col("txx"),
                F.col("ty"),
                F.col("txy"),
                F.col("tyy"),
            ).alias("sse1"),
        )
    )
    # scale: tick-grid-bounded — argmin over <= 50 candidates
    wbest = Window.orderBy("sse2", "brk")
    return (
        cand.filter(F.col("sse2").isNotNull())
        .withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .select(
            F.col("brk").alias("breakpoint_qty"),
            quantize(F.col("sse2") / 1000000, 2).alias(
                "sse_2seg_m"
            ),
            quantize(F.col("sse1") / 1000000, 2).alias(
                "sse_1seg_m"
            ),
            quantize(1 - F.col("sse2") / F.col("sse1"), 4).alias(
                "variance_explained_gain"
            ),
        )
    )


# ------------------------------------------------ energy distance


@query(
    "events_energy_distance_cohorts",
    oracle="""
    WITH ticks AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS t,
             CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS na,
             CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS nb
      FROM events GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, t,
             LEAD(t) OVER (PARTITION BY event_type ORDER BY t) - t
               AS gap,
             CAST(SUM(na) OVER (PARTITION BY event_type ORDER BY t
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS ca,
             CAST(SUM(nb) OVER (PARTITION BY event_type ORDER BY t
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cb
      FROM ticks
    ),
    tot AS (
      SELECT event_type, CAST(SUM(na) AS BIGINT) AS ta,
             CAST(SUM(nb) AS BIGINT) AS tb
      FROM ticks GROUP BY event_type
    ),
    ints AS (
      SELECT c.event_type,
             SUM(c.gap * 0.01
                 * ((c.ca / t.ta) * (1 - c.cb / t.tb)
                    + (c.cb / t.tb) * (1 - c.ca / t.ta))) AS exy,
             SUM(c.gap * 0.01
                 * 2 * (c.ca / t.ta) * (1 - c.ca / t.ta)) AS exx,
             SUM(c.gap * 0.01
                 * 2 * (c.cb / t.tb) * (1 - c.cb / t.tb)) AS eyy
      FROM cum c JOIN tot t USING (event_type)
      WHERE c.gap IS NOT NULL
      GROUP BY c.event_type
    )
    SELECT i.event_type, t.ta AS n_even, t.tb AS n_odd,
           floor((2 * i.exy - i.exx - i.eyy) * 10000 + 0.5) / 10000
             AS energy_distance,
           floor(i.exy * 10000 + 0.5) / 10000 AS e_cross
    FROM ints i JOIN tot t USING (event_type)
    ORDER BY i.event_type
    """,
)
def events_energy_distance_cohorts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Energy distance D = 2E|X-Y| - E|X-X'| - E|Y-Y'| between the
    even- and odd-user value cohorts per stream, EXACT on the cent
    grid via the ECDF integral E|X-Y| = integral Fx(1-Fy)+Fy(1-Fx):
    values collapse to tick cells first, cumulative cohort counts
    give the ECDFs, and the integral is a weighted sum over OCCUPIED
    ticks (gap x tick width). Zero iff identical distributions —
    the all-moments two-sample test, at ECDF cost. Cross-check:
    `events_ks_test` (max gap) flags localized shifts; energy
    distance accumulates diffuse ones.

    Determinism: tick populations and cumulative counts are exact
    integers; the ECDF products are identical closed forms; the
    grid-ordered windows are sequential in both engines.

    Scale shape: one map-side-combinable tick rollup, then windows
    and sums on the VALUE-TICK-bounded grid (cents x range).
    """
    e = load(spark, sf_dir, "events")
    ticks = e.groupBy(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("t"),
    ).agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("na"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("nb"),
    )
    wt = Window.partitionBy("event_type").orderBy("t")
    wcum = wt.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = ticks.select(
        "event_type",
        "t",
        (F.lead("t").over(wt) - F.col("t")).alias("gap"),
        F.sum("na").over(wcum).cast("double").alias("ca"),
        F.sum("nb").over(wcum).cast("double").alias("cb"),
    )
    tot = ticks.groupBy("event_type").agg(
        F.sum("na").cast("bigint").alias("ta"),
        F.sum("nb").cast("bigint").alias("tb"),
    )
    fa = F.col("ca") / F.col("ta")
    fb = F.col("cb") / F.col("tb")
    ints = (
        cum.join(F.broadcast(tot), "event_type")
        .filter(F.col("gap").isNotNull())
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("gap") * 0.01 * (fa * (1 - fb) + fb * (1 - fa))
            ).alias("exy"),
            F.sum(F.col("gap") * 0.01 * 2 * fa * (1 - fa)).alias("exx"),
            F.sum(F.col("gap") * 0.01 * 2 * fb * (1 - fb)).alias("eyy"),
        )
    )
    return (
        ints.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            F.col("ta").alias("n_even"),
            F.col("tb").alias("n_odd"),
            quantize(
                2 * F.col("exy") - F.col("exx") - F.col("eyy"), 4
            ).alias("energy_distance"),
            quantize(F.col("exy"), 4).alias("e_cross"),
        )
        .orderBy("event_type")
    )
