"""Round-5 batch 54: exact rank correlation on bounded supports,
multi-scale stability, and randomness testing.

- `lineitem_kendall_tau` — EXACT Kendall tau-b between quantity and
  discount via the contingency-grid formulation: both columns live on
  tick grids (50 quantities x 11 discounts), so concordant/discordant
  pair counts are integer sums over cell pairs — no O(n^2) row pairs,
  no sampling, no approximation. The ordinal complement to
  `events_spearman_corr` (which needs full ranks).
- `events_allan_variance` — Allan variance of each stream's rate
  across averaging scales tau = 1/2/4/8 hours: white noise falls as
  1/tau, drift/random-walk does not — the instrument-stability tool
  (IEEE 1139) applied to stream rates, separating "noisy but stable"
  from "wandering" streams.
- `events_turning_points` — the classic turning-point randomness test
  on the hourly rate series: count local maxima+minima T, compare to
  E[T] = 2(n-2)/3, Var = (16n-29)/90 under i.i.d.; |z| >> 0 means the
  series has structure (trend or oscillation) a mean monitor misses.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs); methods published
(Kendall 1945 tau-b; Allan 1966; Kendall & Stuart turning-point test).
All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ exact Kendall tau-b


@query(
    "lineitem_kendall_tau",
    oracle="""
    WITH grid AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY 1, 2
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn FROM grid
    ),
    conc AS (
      SELECT
        CAST(SUM(CASE WHEN b.q > a.q AND b.d > a.d
                 THEN a.n * b.n ELSE 0 END) AS BIGINT) AS c,
        CAST(SUM(CASE WHEN b.q > a.q AND b.d < a.d
                 THEN a.n * b.n ELSE 0 END) AS BIGINT) AS dd
      FROM grid a JOIN grid b
        ON b.q > a.q
    ),
    ties AS (
      SELECT
        (SELECT CAST(SUM(tq * (tq - 1) / 2) AS BIGINT) FROM (
           SELECT SUM(n) AS tq FROM grid GROUP BY q)) AS n1,
        (SELECT CAST(SUM(td * (td - 1) / 2) AS BIGINT) FROM (
           SELECT SUM(n) AS td FROM grid GROUP BY d)) AS n2
    )
    SELECT t.nn AS n_rows, c.c AS concordant, c.dd AS discordant,
           floor((c.c - c.dd) * 1.0
                 / sqrt((t.nn * (t.nn - 1) / 2.0 - ti.n1)
                        * (t.nn * (t.nn - 1) / 2.0 - ti.n2))
                 * 10000 + 0.5) / 10000 AS tau_b
    FROM conc c CROSS JOIN tot t CROSS JOIN ties ti
    """,
)
def lineitem_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Kendall tau-b between order quantity and discount. Both
    columns sit on tick grids (integer quantities, cent discounts), so
    the contingency-grid formulation applies: concordant/discordant
    counts are sums of n_a * n_b over ordered CELL pairs — a bounded
    (50x11)^2 join — and tie corrections come from the marginals.
    Every count is an exact BIGINT; the only double is the final
    ratio. tau-b = (C - D) / sqrt((n0 - n1)(n0 - n2)).

    Scale shape: one map-side-combinable rollup to the tick-bounded
    grid, then constant-size arithmetic. The classic O(n log n)
    sort-based tau algorithms are unnecessary when supports are
    bounded — and at 100 TB the grid is STILL 550 cells.
    """
    li = load(spark, sf_dir, "lineitem")
    grid = li.groupBy(
        F.col("l_quantity").cast("bigint").alias("q"),
        F.floor(F.col("l_discount") * 100 + 0.5).cast("bigint").alias("d"),
    ).agg(F.count("*").cast("bigint").alias("n")).persist()
    # ^ 550-cell tick grid; feeds total, both pair-join sides, and the
    # two tie marginals — one raw-lineitem rollup instead of five
    tot = grid.agg(F.sum("n").cast("bigint").alias("nn"))
    a = grid.alias("a")
    b = grid.alias("b")
    conc = (
        a.join(b, F.col("b.q") > F.col("a.q"))
        .agg(
            F.sum(
                F.when(
                    F.col("b.d") > F.col("a.d"),
                    F.col("a.n") * F.col("b.n"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("c"),
            F.sum(
                F.when(
                    F.col("b.d") < F.col("a.d"),
                    F.col("a.n") * F.col("b.n"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("dd"),
        )
    )
    n1 = (
        grid.groupBy("q")
        .agg(F.sum("n").alias("tq"))
        .agg(
            F.sum(F.col("tq") * (F.col("tq") - 1) / 2)
            .cast("bigint")
            .alias("n1")
        )
    )
    n2 = (
        grid.groupBy("d")
        .agg(F.sum("n").alias("td"))
        .agg(
            F.sum(F.col("td") * (F.col("td") - 1) / 2)
            .cast("bigint")
            .alias("n2")
        )
    )
    n0 = F.col("nn") * (F.col("nn") - 1) / 2.0
    return (
        conc.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select(
            F.col("nn").alias("n_rows"),
            F.col("c").alias("concordant"),
            F.col("dd").alias("discordant"),
            quantize(
                (F.col("c") - F.col("dd"))
                * 1.0
                / F.sqrt((n0 - F.col("n1")) * (n0 - F.col("n2"))), 4
            ).alias("tau_b"),
        )
    )


# ------------------------------------------------ Allan variance

_ALLAN_TAUS = (1, 2, 4, 8)  # hours


@query(
    "events_allan_variance",
    oracle=f"""
    WITH binned AS (
      {" UNION ALL ".join(
          f'''SELECT event_type, {tau} AS tau_hours,
             CAST(floor(epoch_us(ts) / (3600000000.0 * {tau}))
                  AS BIGINT) AS bin,
             CAST(COUNT(*) AS DOUBLE) / {tau} AS rate
      FROM events GROUP BY 1, 3'''
          for tau in _ALLAN_TAUS
      )}
    ),
    diffs AS (
      SELECT event_type, tau_hours, rate,
             LAG(rate) OVER (PARTITION BY event_type, tau_hours
                             ORDER BY bin) AS prev,
             bin - LAG(bin) OVER (PARTITION BY event_type, tau_hours
                                  ORDER BY bin) AS gap
      FROM binned
    )
    SELECT event_type, tau_hours,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           floor(0.5 * AVG((rate - prev) * (rate - prev))
                 * 10000 + 0.5) / 10000 AS allan_var
    FROM diffs
    WHERE prev IS NOT NULL AND gap = 1
    GROUP BY event_type, tau_hours
    ORDER BY event_type, tau_hours
    """,
)
def events_allan_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allan variance of each stream's hourly rate at averaging scales
    tau = 1/2/4/8 h: avar(tau) = 1/2 E[(r_{{i+1}} - r_i)^2] over
    CONSECUTIVE tau-bins (gap = 1 — missing bins break the pair, same
    convention both engines). For white (Poisson-ish) rate noise
    avar halves per tau doubling; a flat or rising profile exposes
    drift / random-walk load patterns that a single-scale variance
    cannot distinguish.

    Determinism: bins are exact integer microsecond quotients; rates
    are integer counts / constant; the only reduction-order noise is
    the bounded per-(stream, tau) mean of squared diffs — ~1e-12
    relative, under the 4-decimal quantum.

    Scale shape: 4 map-side-combinable rollups (one per tau) to
    calendar-bounded bin tables, unioned; lag windows partitioned by
    (stream, tau) over bounded bins.
    """
    e = load(spark, sf_dir, "events")
    parts = []
    for tau in _ALLAN_TAUS:
        parts.append(
            e.groupBy(
                "event_type",
                F.floor(
                    F.unix_micros(F.col("ts")) / (3600000000.0 * tau)
                )
                .cast("bigint")
                .alias("bin"),
            )
            .agg((F.count("*").cast("double") / tau).alias("rate"))
            .select(
                "event_type", F.lit(tau).alias("tau_hours"), "bin", "rate"
            )
        )
    binned = parts[0]
    for pdf in parts[1:]:
        binned = binned.unionAll(pdf)
    w = Window.partitionBy("event_type", "tau_hours").orderBy("bin")
    diffs = binned.select(
        "event_type",
        "tau_hours",
        "rate",
        F.lag("rate").over(w).alias("prev"),
        (F.col("bin") - F.lag("bin").over(w)).alias("gap"),
    )
    return (
        diffs.filter(F.col("prev").isNotNull() & (F.col("gap") == 1))
        .groupBy("event_type", "tau_hours")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            quantize(
                0.5
                * F.avg(
                    (F.col("rate") - F.col("prev"))
                    * (F.col("rate") - F.col("prev"))
                ), 4
            ).alias("allan_var"),
        )
        .orderBy("event_type", "tau_hours")
    )


# ------------------------------------------------ turning-point test


@query(
    "events_turning_points",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS hr,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    tri AS (
      SELECT event_type, cnt,
             LAG(cnt) OVER (PARTITION BY event_type ORDER BY hr) AS p,
             LEAD(cnt) OVER (PARTITION BY event_type ORDER BY hr) AS nx,
             hr - LAG(hr) OVER (PARTITION BY event_type ORDER BY hr)
               AS gp,
             LEAD(hr) OVER (PARTITION BY event_type ORDER BY hr) - hr
               AS gn
      FROM hourly
    ),
    tp AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN (cnt > p AND cnt > nx)
                             OR (cnt < p AND cnt < nx)
                      THEN 1 ELSE 0 END) AS BIGINT) AS t_obs,
             CAST(COUNT(*) + 2 AS BIGINT) AS n
      FROM tri
      WHERE p IS NOT NULL AND nx IS NOT NULL AND gp = 1 AND gn = 1
      GROUP BY event_type
    )
    SELECT event_type, n AS n_hours, t_obs,
           floor(2.0 * (n - 2) / 3 * 10000 + 0.5) / 10000 AS t_expected,
           floor((t_obs - 2.0 * (n - 2) / 3)
                 / sqrt((16.0 * n - 29) / 90)
                 * 10000 + 0.5) / 10000 AS z_stat
    FROM tp
    ORDER BY event_type
    """,
)
def events_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-point randomness test per stream on the hourly count
    series: T = number of strict local maxima + minima among interior
    hours with both neighbors present (gap = 1 on each side); under
    i.i.d. observations E[T] = 2(n-2)/3 and Var[T] = (16n-29)/90, so
    z = (T - E)/sqrt(Var). z << 0 flags trend/persistence (fewer
    turns than chance), z >> 0 flags oscillation — structure a level
    alarm cannot see. n is reported as interior+2 (the effective
    series length), matching the classical formula's indexing.

    Scale shape: one map-side-combinable hourly rollup, then
    lag/lead windows partitioned by stream over the CALENDAR-bounded
    hour grid; counts are exact integers throughout.
    """
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        F.floor(F.unix_micros(F.col("ts")) / 3600000000.0)
        .cast("bigint")
        .alias("hr"),
    ).agg(F.count("*").cast("bigint").alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("hr")
    tri = hourly.select(
        "event_type",
        "cnt",
        F.lag("cnt").over(w).alias("p"),
        F.lead("cnt").over(w).alias("nx"),
        (F.col("hr") - F.lag("hr").over(w)).alias("gp"),
        (F.lead("hr").over(w) - F.col("hr")).alias("gn"),
    )
    tp = (
        tri.filter(
            F.col("p").isNotNull()
            & F.col("nx").isNotNull()
            & (F.col("gp") == 1)
            & (F.col("gn") == 1)
        )
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(
                    ((F.col("cnt") > F.col("p")) & (F.col("cnt") > F.col("nx")))
                    | (
                        (F.col("cnt") < F.col("p"))
                        & (F.col("cnt") < F.col("nx"))
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("t_obs"),
            (F.count("*") + 2).cast("bigint").alias("n"),
        )
    )
    t_exp = 2.0 * (F.col("n") - 2) / 3
    return tp.select(
        "event_type",
        F.col("n").alias("n_hours"),
        "t_obs",
        quantize(t_exp, 4).alias("t_expected"),
        quantize(
            (F.col("t_obs") - t_exp)
            / F.sqrt((16.0 * F.col("n") - 29) / 90), 4
        ).alias("z_stat"),
    ).orderBy("event_type")
