"""Round-5 batch 52: density & structure — grid DBSCAN, binned KDE,
chain-ladder reserving, quantile-normalization map.

- `events_dbscan_grid_1d` — density-based clustering of each stream's
  value distribution via the grid formulation: eps-width cells, cells
  with >= minPts points are core, clusters are maximal runs of ADJACENT
  core cells. Finds the modes ("this stream is bimodal: a ~5 cluster
  and a ~300 cluster") that mean/stddev monitors average away.
- `events_kde_silverman_grid` — binned kernel density estimate per
  stream on a 21-point grid with Silverman's rule-of-thumb bandwidth
  h = 0.9 min(sd, IQR/1.34) n^(-1/5): the smooth view of the same
  shape question, exportable straight to a dashboard sparkline.
- `orders_chain_ladder` — classic actuarial chain-ladder on the
  (order-year cohort x development-age) revenue triangle: volume-
  weighted development factors from mature cohorts project young
  cohorts to ultimate; IBNR = ultimate - observed. The standard answer
  to "how much revenue is still to come from the 2001 cohort".
- `events_quantile_normalization_map` — per-stream quantile map
  (p5/p25/p50/p75/p95) against the cross-stream reference (the mean of
  the per-stream quantiles at each level): the lookup table that
  quantile-normalizes streams onto a common scale. The APPLY step is a
  broadcast interval join of this 25-row map against the raw stream.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs); methods are published
classics (Ester et al. 1996 DBSCAN / grid variant; Silverman 1986;
Mack 1993 chain ladder; Bolstad et al. 2003 quantile normalization).
All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ grid DBSCAN (1-D)

_DBSCAN_EPS = 5.0
_DBSCAN_MINPTS = 5


@query(
    "events_dbscan_grid_1d",
    oracle=f"""
    WITH cells AS (
      SELECT event_type,
             CAST(floor(value / {_DBSCAN_EPS}) AS BIGINT) AS cell,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    core AS (
      SELECT * FROM cells WHERE cnt >= {_DBSCAN_MINPTS}
    ),
    runs AS (
      SELECT event_type, cell, cnt,
             CASE WHEN cell - LAG(cell) OVER
                  (PARTITION BY event_type ORDER BY cell) = 1
                  THEN 0 ELSE 1 END AS is_start
      FROM core
    ),
    clustered AS (
      SELECT event_type, cell, cnt,
             SUM(is_start) OVER (PARTITION BY event_type ORDER BY cell
                                 ROWS UNBOUNDED PRECEDING) AS cluster_id
      FROM runs
    )
    SELECT event_type, CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(MIN(cell) * {_DBSCAN_EPS} AS DOUBLE) AS value_lo,
           CAST((MAX(cell) + 1) * {_DBSCAN_EPS} AS DOUBLE) AS value_hi,
           CAST(SUM(cnt) AS BIGINT) AS n_points
    FROM clustered
    GROUP BY event_type, cluster_id
    ORDER BY event_type, cluster_id
    """,
)
def events_dbscan_grid_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid DBSCAN over each stream's value axis: cells of width eps,
    core cells hold >= minPts points, clusters = maximal runs of
    adjacent core cells ([lo, hi) span + total mass per cluster). The
    grid formulation IS the scale story: raw points collapse to the
    VALUE-RANGE-bounded cell table in one map-side-combinable rollup
    (range/eps cells, never corpus-scaled), and the run-detection
    window runs over those bounded cells — classic DBSCAN's
    per-point neighbor query never materializes. eps={eps},
    minPts={minpts} (cell adjacency = eps-reachability on the grid).
    """.format(eps=_DBSCAN_EPS, minpts=_DBSCAN_MINPTS)
    e = load(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type",
        F.floor(F.col("value") / _DBSCAN_EPS).cast("bigint").alias("cell"),
    ).agg(F.count("*").cast("bigint").alias("cnt"))
    core = cells.filter(F.col("cnt") >= _DBSCAN_MINPTS)
    w = Window.partitionBy("event_type").orderBy("cell")
    runs = core.withColumn(
        "is_start",
        F.when(F.col("cell") - F.lag("cell").over(w) == 1, 0).otherwise(1),
    )
    clustered = runs.withColumn(
        "cluster_id",
        F.sum("is_start").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        clustered.groupBy(
            "event_type", F.col("cluster_id").cast("bigint").alias("cluster_id")
        )
        .agg(
            (F.min("cell") * _DBSCAN_EPS).alias("value_lo"),
            ((F.max("cell") + 1) * _DBSCAN_EPS).alias("value_hi"),
            F.sum("cnt").cast("bigint").alias("n_points"),
        )
        .orderBy("event_type", "cluster_id")
    )


# ------------------------------------------------ binned KDE + Silverman

_KDE_GRID = 20  # grid points = 0..20 inclusive
_KDE_BINS = 256


@query(
    "events_kde_silverman_grid",
    oracle=f"""
    WITH stats AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             MIN(value) AS lo, MAX(value) AS hi,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s,
             SUM(value * value) AS q,
             quantile_cont(value, 0.75) - quantile_cont(value, 0.25)
               AS iqr
      FROM events GROUP BY event_type
    ),
    bw AS (
      SELECT event_type, n, lo, hi,
             0.9 * LEAST(sqrt((q - s * s / n) / (n - 1)), iqr / 1.34)
                 * POW(n, -0.2) AS h
      FROM stats
    ),
    bins AS (
      SELECT e.event_type,
             CAST(floor((e.value - b.lo) / ((b.hi - b.lo) / {_KDE_BINS}))
                  AS BIGINT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events e JOIN bw b USING (event_type)
      GROUP BY 1, 2
    ),
    grid AS (
      SELECT b.event_type, g.i AS grid_i,
             b.lo + g.i * (b.hi - b.lo) / {_KDE_GRID}.0 AS x
      FROM bw b CROSS JOIN (SELECT unnest(range(0, {_KDE_GRID} + 1)) AS i) g
    )
    SELECT g.event_type, g.grid_i,
           floor(g.x * 10000 + 0.5) / 10000 AS grid_x,
           floor(SUM(n.cnt * exp(-0.5 * POW((g.x - (b.lo
                     + (LEAST(n.bin, {_KDE_BINS} - 1) + 0.5)
                       * (b.hi - b.lo) / {_KDE_BINS})) / b.h, 2)))
                 / (b.n * b.h * sqrt(2 * pi()))
                 * 1000000 + 0.5) / 1000000 AS density
    FROM grid g
    JOIN bw b USING (event_type)
    JOIN bins n ON n.event_type = g.event_type
    GROUP BY g.event_type, g.grid_i, g.x, b.n, b.h
    ORDER BY g.event_type, g.grid_i
    """,
)
def events_kde_silverman_grid(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Binned Gaussian KDE per stream on a 21-point grid, bandwidth by
    Silverman's rule h = 0.9 min(sd, IQR/1.34) n^(-1/5). Raw values
    collapse to {bins} equal-width bins FIRST (one map-side-combinable
    rollup), the kernel evaluates at bin centers — so the kernel sum is
    a bounded (grid x bins x streams) join, not a pass over raw rows.
    Binned KDE's approximation error is O((binwidth/h)^2), negligible
    at {bins} bins for these bandwidths.

    Determinism: sd comes from the exact-decimal sum + double power
    sum; IQR from the shared interpolation (`percentile` ==
    `quantile_cont`); the bounded kernel sum's reduction-order noise
    sits far below the 1e-6 quantum.
    """.format(bins=_KDE_BINS)
    e = load(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("s"),
        F.sum(F.col("value") * F.col("value")).alias("q"),
        (
            F.expr("percentile(value, 0.75)")
            - F.expr("percentile(value, 0.25)")
        ).alias("iqr"),
    )
    bw = stats.select(
        "event_type",
        "n",
        "lo",
        "hi",
        (
            0.9
            * F.least(
                F.sqrt(
                    (F.col("q") - F.col("s") * F.col("s") / F.col("n"))
                    / (F.col("n") - 1)
                ),
                F.col("iqr") / 1.34,
            )
            * F.pow(F.col("n"), F.lit(-0.2))
        ).alias("h"),
    )
    bins = (
        e.join(F.broadcast(bw.select("event_type", "lo", "hi")), "event_type")
        .groupBy(
            "event_type",
            F.floor(
                (F.col("value") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / _KDE_BINS)
            )
            .cast("bigint")
            .alias("bin"),
        )
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    grid = bw.select(
        "event_type",
        "n",
        "lo",
        "hi",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(_KDE_GRID))).alias("grid_i"),
    ).withColumn(
        "x",
        F.col("lo")
        + F.col("grid_i") * (F.col("hi") - F.col("lo")) / float(_KDE_GRID),
    )
    center = F.col("lo") + (
        F.least(F.col("bin"), F.lit(_KDE_BINS - 1)) + 0.5
    ) * (F.col("hi") - F.col("lo")) / _KDE_BINS
    joined = grid.join(bins, "event_type")
    import math

    return (
        joined.groupBy("event_type", "grid_i", "x", "n", "h")
        .agg(
            F.sum(
                F.col("cnt")
                * F.exp(
                    -0.5
                    * F.pow((F.col("x") - center) / F.col("h"), F.lit(2))
                )
            ).alias("ksum")
        )
        .select(
            "event_type",
            F.col("grid_i").cast("int").alias("grid_i"),
            quantize(F.col("x"), 4).alias("grid_x"),
            quantize(
                F.col("ksum")
                / (F.col("n") * F.col("h") * math.sqrt(2 * math.pi)), 6
            ).alias("density"),
        )
        .orderBy("event_type", "grid_i")
    )


# ------------------------------------------------ chain-ladder reserving


@query(
    "orders_chain_ladder",
    oracle="""
    WITH rev AS (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS cohort,
             CAST(EXTRACT(year FROM l.l_shipdate)
                  - EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS age,
             SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(18,6))) AS r
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ),
    maxy AS (
      SELECT MAX(cohort) AS last_cohort FROM rev
    ),
    cum AS (
      SELECT cohort, age,
             CAST(SUM(r) OVER (PARTITION BY cohort ORDER BY age
                               ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS c
      FROM rev
    ),
    f AS (
      SELECT a.age,
             SUM(b.c) / SUM(a.c) AS fac
      FROM cum a
      JOIN cum b ON b.cohort = a.cohort AND b.age = a.age + 1
      CROSS JOIN maxy m
      WHERE a.cohort + a.age + 1 <= m.last_cohort
      GROUP BY a.age
    ),
    diag AS (
      SELECT c.cohort, c.age AS last_age, c.c AS observed
      FROM cum c CROSS JOIN maxy m
      WHERE c.cohort + c.age = m.last_cohort
    ),
    tail AS (
      SELECT d.cohort, d.last_age, d.observed,
             COALESCE(exp(SUM(ln(f.fac))), 1.0) AS tail_factor
      FROM diag d LEFT JOIN f ON f.age >= d.last_age
      GROUP BY d.cohort, d.last_age, d.observed
    )
    SELECT cohort, last_age,
           floor(observed * 100 + 0.5) / 100 AS observed_revenue,
           floor(observed * tail_factor * 100 + 0.5) / 100
             AS ultimate_revenue,
           floor(observed * (tail_factor - 1) * 100 + 0.5) / 100
             AS ibnr_revenue
    FROM tail
    ORDER BY cohort
    """,
)
def orders_chain_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chain-ladder projection on the (order-year cohort x development
    age) cumulative revenue triangle: volume-weighted development
    factors f_k = sum C[.,k+1] / sum C[.,k] over cohorts mature enough
    to show age k+1; each cohort's latest diagonal value is rolled to
    ultimate with the product of its remaining factors (exp-sum-log —
    8 bounded terms); IBNR = ultimate - observed.

    Scale shape: one corpus-scaled join (orders x lineitem, both keyed
    on orderkey) feeding a CALENDAR-BOUNDED triangle (years x ages);
    everything after the first rollup — cumulative window, factor
    estimation, tail products — runs on the bounded triangle. Decimal
    revenue sums make the triangle itself exact; the factor ratios are
    the only doubles, quantized at 2 decimals on cohort-level money.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.year("o_orderdate").cast("bigint").alias("cohort"),
            (F.year("l_shipdate") - F.year("o_orderdate"))
            .cast("bigint")
            .alias("age"),
        )
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("decimal(18,6)")
            ).alias("r")
        )
        .persist()  # the (cohort x age) triangle: the corpus-scaled
        # join runs once; maxy and the cumulative pass read the cache
    )
    maxy = rev.agg(F.max("cohort").alias("last_cohort"))
    wcum = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = rev.select(
        "cohort", "age", F.sum("r").over(wcum).cast("double").alias("c")
    ).persist()  # feeds both factor-join sides and the diagonal
    a = cum.alias("a")
    b = cum.alias("b")
    f = (
        a.join(
            b,
            (F.col("b.cohort") == F.col("a.cohort"))
            & (F.col("b.age") == F.col("a.age") + 1),
        )
        .crossJoin(F.broadcast(maxy))
        .filter(
            F.col("a.cohort") + F.col("a.age") + 1 <= F.col("last_cohort")
        )
        .groupBy(F.col("a.age").alias("age"))
        .agg((F.sum("b.c") / F.sum("a.c")).alias("fac"))
    )
    diag = (
        cum.crossJoin(F.broadcast(maxy))
        .filter(F.col("cohort") + F.col("age") == F.col("last_cohort"))
        .select("cohort", F.col("age").alias("last_age"), F.col("c").alias("observed"))
    )
    tail = (
        diag.join(
            F.broadcast(f), F.col("age") >= F.col("last_age"), "left"
        )
        .groupBy("cohort", "last_age", "observed")
        .agg(
            F.coalesce(
                F.exp(F.sum(F.log("fac"))), F.lit(1.0)
            ).alias("tail_factor")
        )
    )

    return tail.select(
        "cohort",
        "last_age",
        quantize(F.col("observed"), 2).alias("observed_revenue"),
        quantize(F.col("observed") * F.col("tail_factor"), 2).alias(
            "ultimate_revenue"
        ),
        quantize(F.col("observed") * (F.col("tail_factor") - 1), 2).alias(
            "ibnr_revenue"
        ),
    ).orderBy("cohort")


# ------------------------------------------------ quantile-normalization map

_QN_LEVELS = (0.05, 0.25, 0.5, 0.75, 0.95)


@query(
    "events_quantile_normalization_map",
    oracle=f"""
    WITH q AS (
      SELECT event_type,
             CAST(unnest(ARRAY[{",".join(str(q) for q in _QN_LEVELS)}])
                  AS DOUBLE) AS level,
             unnest(quantile_cont(value,
                    ARRAY[{",".join(str(q) for q in _QN_LEVELS)}]))
               AS type_value
      FROM events GROUP BY event_type
    ),
    ref AS (
      SELECT level, AVG(type_value) AS ref_value FROM q GROUP BY level
    )
    SELECT q.event_type, q.level,
           floor(q.type_value * 10000 + 0.5) / 10000 AS type_value,
           floor(r.ref_value * 10000 + 0.5) / 10000 AS ref_value,
           floor((r.ref_value - q.type_value) * 10000 + 0.5) / 10000
             AS shift
    FROM q JOIN ref r USING (level)
    ORDER BY q.event_type, q.level
    """,
)
def events_quantile_normalization_map(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The quantile-normalization lookup map: each stream's exact
    p5/p25/p50/p75/p95 against the cross-stream reference distribution
    (mean of the per-stream quantiles per level — Bolstad's reference),
    plus the additive shift that moves the stream onto the reference.
    Applying the normalization to raw rows is then a broadcast interval
    join of this (streams x 5)-row map — the map is the operator; the
    apply step never needs a global sort.

    Determinism: both engines interpolate quantiles identically
    (Spark exact `percentile` == DuckDB `quantile_cont`, pos =
    q*(n-1)); the cross-stream mean averages 5 doubles per level
    (bounded, near-equal magnitudes — noise ~1 ulp, far below the
    4-decimal quantum). Exact percentile's accumulator is bounded by
    the value-tick grid (cents), not row count.
    """
    e = load(spark, sf_dir, "events")
    levels = list(_QN_LEVELS)
    q = (
        e.groupBy("event_type")
        .agg(
            F.expr(
                "percentile(value, array({}))".format(
                    ",".join(str(x) for x in levels)
                )
            ).alias("qs")
        )
        .select(
            "event_type",
            F.explode(
                F.arrays_zip(
                    F.array(*[F.lit(x) for x in levels]).alias("level"),
                    F.col("qs").alias("type_value"),
                )
            ).alias("z"),
        )
        .select(
            "event_type",
            F.col("z.level").alias("level"),
            F.col("z.type_value").alias("type_value"),
        )
    )
    ref = q.groupBy("level").agg(F.avg("type_value").alias("ref_value"))
    return (
        q.join(F.broadcast(ref), "level")
        .select(
            "event_type",
            "level",
            quantize(F.col("type_value"), 4).alias("type_value"),
            quantize(F.col("ref_value"), 4).alias("ref_value"),
            quantize(F.col("ref_value") - F.col("type_value"), 4).alias(
                "shift"
            ),
        )
        .orderBy("event_type", "level")
    )
