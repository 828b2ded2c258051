"""Round-3 fourth-session batch 7: native recursive CTEs, IGNORE NULLS
window variants, grid-cell spatial hotspots, and incremental aggregate
maintenance.

- `part_hierarchy_recursive` — Spark 4.1's native WITH RECURSIVE
  (DataFusion ships recursive CTEs; docs/docs/sql/3-select_syntax.md
  documents the WITH clause): climb a synthetic part forest
  (parent = key div 10) to its roots and roll volumes up per root —
  the BOM / org-chart traversal, expressed in the SAME dialect both
  engines execute.
- `window_ignore_nulls` — lag/lead/last_value/nth_value IGNORE NULLS:
  the observation-carried-forward window family (sparse sensor
  readings LOCF'd against a dense event clock without a gap-fill
  join).
- `events_geo_grid_hotspots` — grid-cell hotspot detection (Getis-Ord
  shape): deterministic synthetic coordinates, 1-degree cells, 3x3
  neighborhood counts via an offsets EXPLODE (each event contributes
  to its 9 neighbor cells map-side — no self-join), ratio vs the
  global mean cell load.
- `orders_incremental_agg_merge` — incremental materialized-view
  maintenance: merge a delta partition's daily revenue into a
  snapshot aggregate (insert/update/unchanged change types) — the
  rollup-refresh operation every warehouse runs instead of
  full recomputation.
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
from arkflow_spark.tables import load, register_views


# -------------------------------------------------- recursive hierarchy


@query(
    "part_hierarchy_recursive",
    oracle="""
    WITH RECURSIVE climb(pk, node, depth) AS (
      SELECT p_partkey, p_partkey, 0 FROM part
      UNION ALL
      SELECT pk, node // 10, depth + 1 FROM climb WHERE node >= 10
    ),
    roots AS (
      SELECT pk, node AS root, depth
      FROM climb WHERE node < 10
    )
    SELECT root, COUNT(*) AS n_parts, MAX(depth) AS max_depth,
           floor(SUM(p.p_retailprice) * 100 + 0.5) / 100 AS subtree_value
    FROM roots r JOIN part p ON p.p_partkey = r.pk
    GROUP BY root
    ORDER BY root
    """,
)
def part_hierarchy_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy traversal with a NATIVE recursive CTE (Spark 4.1's
    WITH RECURSIVE — same construct DataFusion ships): every part climbs
    a synthetic forest (parent = key div 10) to its single-digit root,
    then subtree size, depth, and value roll up per root — the
    bill-of-materials / org-chart query that previously needed the
    unrolled-iteration workaround (see `graph_pagerank_bucketed`).

    The recursion depth is log10(max key) — bounded and data-
    independent, which is exactly when a recursive CTE is safe at
    100 TB: Spark re-plans one bounded equi-join per level (each level
    keyed on the climbing node), never materializing a transitive
    closure. The DuckDB oracle runs the IDENTICAL query modulo integer
    division spelling (`div` vs `//`).
    """
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE climb(pk, node, depth) AS (
          SELECT p_partkey, p_partkey, 0 FROM part
          UNION ALL
          SELECT pk, node div 10, depth + 1 FROM climb WHERE node >= 10
        ),
        roots AS (
          SELECT pk, node AS root, depth
          FROM climb WHERE node < 10
        )
        SELECT root, COUNT(*) AS n_parts, MAX(depth) AS max_depth,
               floor(SUM(p.p_retailprice) * 100 + 0.5) / 100
                 AS subtree_value
        FROM roots r JOIN part p ON p.p_partkey = r.pk
        GROUP BY root
        ORDER BY root
        """
    )


# -------------------------------------------------- IGNORE NULLS windows


@query(
    "window_ignore_nulls",
    oracle=f"""
    WITH s AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'purchase' THEN value END AS pv
      FROM events
    )
    SELECT event_id, user_id, strftime(ts, '{DUCK_TS_FMT}') AS ts, pv,
           last_value(pv IGNORE NULLS) OVER w AS locf,
           lag(pv IGNORE NULLS) OVER w AS prev_purchase,
           lead(pv IGNORE NULLS) OVER w AS next_purchase,
           nth_value(pv, 2 IGNORE NULLS) OVER w AS second_purchase
    FROM s
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY user_id, ts, event_id
    LIMIT 2000
    """,
)
def window_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IGNORE NULLS window family over a sparse series: purchase
    values observed on a dense event clock, carried forward
    (last_value), looked back/ahead to the nearest observation
    (lag/lead), and indexed (nth_value 2) — the
    observation-carried-forward idiom that replaces a gap-fill join
    when the reading and the clock share one stream. Both engines
    support IGNORE NULLS (Spark: after the call; DuckDB: inside the
    argument list — DataFusion window docs:
    docs/docs/sql/6-window_functions.md).

    Scale: one (user_id) keyed window, running frame — single shuffle,
    incremental frame evaluation (no per-row rescans).
    """
    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        WITH s AS (
          SELECT event_id, user_id, ts,
                 CASE WHEN event_type = 'purchase' THEN value END AS pv
          FROM events
        )
        SELECT event_id, user_id, date_format(ts, '{SPARK_TS_FMT}') AS ts,
               pv,
               last_value(pv) IGNORE NULLS OVER wf AS locf,
               lag(pv) IGNORE NULLS OVER wo AS prev_purchase,
               lead(pv) IGNORE NULLS OVER wo AS next_purchase,
               nth_value(pv, 2) IGNORE NULLS OVER wf AS second_purchase
        FROM s
        WINDOW wf AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wo AS (PARTITION BY user_id ORDER BY ts, event_id)
        ORDER BY user_id, ts, event_id
        LIMIT 2000
        """
    )


# -------------------------------------------------- grid hotspots


@query(
    "events_geo_grid_hotspots",
    oracle="""
    WITH pts AS (
      SELECT CAST(user_id % 60 AS BIGINT) - 30 AS cell_lat,
             CAST(event_id % 120 AS BIGINT) - 60 AS cell_lon
      FROM events
    ),
    contrib AS (
      SELECT p.cell_lat + d.dy AS lat, p.cell_lon + d.dx AS lon
      FROM pts p
      CROSS JOIN (SELECT dy, dx
                  FROM generate_series(-1, 1) a(dy),
                       generate_series(-1, 1) b(dx)) d
    ),
    neigh AS (
      SELECT lat, lon, COUNT(*) AS n_neigh
      FROM contrib GROUP BY lat, lon
    ),
    own AS (
      SELECT cell_lat AS lat, cell_lon AS lon, COUNT(*) AS n_own
      FROM pts GROUP BY 1, 2
    ),
    g AS (SELECT AVG(n_own) AS mean_cell FROM own)
    SELECT o.lat, o.lon, o.n_own, nb.n_neigh,
           floor(nb.n_neigh / (9e0 * g.mean_cell) * 10000 + 0.5) / 10000
             AS hot_ratio,
           nb.n_neigh > 9e0 * g.mean_cell * 1.2 AS hotspot
    FROM own o
    JOIN neigh nb ON nb.lat = o.lat AND nb.lon = o.lon
    CROSS JOIN g
    ORDER BY o.lat, o.lon
    """,
)
def events_geo_grid_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-cell spatial hotspot detection (the Getis-Ord Gi* shape on
    an integer grid): deterministic synthetic cell coordinates, then
    each point EXPLODES into its 3x3 neighborhood so the neighborhood
    count is a plain group-by — the map-side trick that replaces the
    quadratic 'join every cell to its 8 neighbors' formulation (9x data
    expansion, zero joins). A cell is hot when its neighborhood load
    exceeds 1.2x the expected 9-cell load; the expectation is a 1-row
    broadcast.

    Scale: explode(9) -> uniform-key count; at 100 TB the expansion
    happens inside the scan stage and combines map-side, so the shuffle
    carries cell aggregates, not points.
    """
    e = load(spark, sf_dir, "events")
    pts = e.select(
        ((F.col("user_id") % 60) - 30).alias("cell_lat"),
        ((F.col("event_id") % 120) - 60).alias("cell_lon"),
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
        ]
    )
    contrib = pts.select(
        F.explode(offsets).alias("d"), "cell_lat", "cell_lon"
    ).select(
        (F.col("cell_lat") + F.col("d.dy")).alias("lat"),
        (F.col("cell_lon") + F.col("d.dx")).alias("lon"),
    )
    neigh = contrib.groupBy("lat", "lon").agg(
        F.count("*").alias("n_neigh")
    )
    own = pts.groupBy(
        F.col("cell_lat").alias("lat"), F.col("cell_lon").alias("lon")
    ).agg(F.count("*").alias("n_own"))
    g = own.agg(F.avg("n_own").alias("mean_cell"))
    return (
        own.join(neigh, ["lat", "lon"])
        .crossJoin(F.broadcast(g))
        .select(
            "lat",
            "lon",
            "n_own",
            "n_neigh",
            quantize(
                F.col("n_neigh") / (9.0 * F.col("mean_cell")), 4
            ).alias("hot_ratio"),
            (
                F.col("n_neigh") > 9.0 * F.col("mean_cell") * 1.2
            ).alias("hotspot"),
        )
        .orderBy("lat", "lon")
    )


# -------------------------------------------------- incremental agg merge

_MERGE_CUTOFF = "1995-01-01"


@query(
    "orders_incremental_agg_merge",
    oracle=f"""
    WITH snap AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             COUNT(*) AS n, SUM(o_totalprice) AS revenue
      FROM orders WHERE o_orderdate < TIMESTAMP '{_MERGE_CUTOFF}'
      GROUP BY 1
    ),
    delta AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             COUNT(*) AS n, SUM(o_totalprice) AS revenue
      FROM orders WHERE o_orderdate >= TIMESTAMP '{_MERGE_CUTOFF}'
      GROUP BY 1
    )
    SELECT strftime(COALESCE(s.day, d.day), '{DUCK_TS_FMT}') AS day,
           COALESCE(s.n, 0) + COALESCE(d.n, 0) AS n,
           floor((COALESCE(s.revenue, 0) + COALESCE(d.revenue, 0)) * 100
                 + 0.5) / 100 AS revenue,
           CASE WHEN s.day IS NULL THEN 'insert'
                WHEN d.day IS NULL THEN 'unchanged'
                ELSE 'update' END AS change_type
    FROM snap s FULL OUTER JOIN delta d ON s.day = d.day
    ORDER BY day
    """,
)
def orders_incremental_agg_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental aggregate maintenance: the daily-revenue rollup is
    kept as a snapshot (orders before {c}); a delta partition (orders
    on/after {c}) aggregates independently and MERGES in — COUNT and
    SUM are monoids, so the refresh touches only delta days, never the
    history. Each output day is tagged insert / update / unchanged —
    the change feed a downstream cache invalidates from. This is the
    maintenance half of `orders_merge_upsert` (row-level SCD1) lifted
    to aggregates.

    Scale: both sides reduce map-side before a keyed FULL OUTER join on
    day — at 100 TB the snapshot side is the stored rollup (a read, not
    a recompute); here both derive from the same table so the oracle
    can verify the merged result equals a from-scratch aggregate.
    """.format(c=_MERGE_CUTOFF)
    o = load(spark, sf_dir, "orders")
    day = F.date_trunc("day", "o_orderdate")
    cutoff = F.lit(_MERGE_CUTOFF).cast("timestamp_ntz")
    snap = (
        o.filter(F.col("o_orderdate") < cutoff)
        .groupBy(day.alias("day"))
        .agg(F.count("*").alias("n"), F.sum("o_totalprice").alias("rev"))
    )
    delta = (
        o.filter(F.col("o_orderdate") >= cutoff)
        .groupBy(day.alias("day"))
        .agg(F.count("*").alias("n"), F.sum("o_totalprice").alias("rev"))
    )
    s, d = snap.alias("s"), delta.alias("d")
    merged_rev = F.coalesce(F.col("s.rev"), F.lit(0.0)) + F.coalesce(
        F.col("d.rev"), F.lit(0.0)
    )
    return (
        s.join(d, F.col("s.day") == F.col("d.day"), "full_outer")
        .select(
            F.date_format(
                F.coalesce(F.col("s.day"), F.col("d.day")), SPARK_TS_FMT
            ).alias("day"),
            (
                F.coalesce(F.col("s.n"), F.lit(0))
                + F.coalesce(F.col("d.n"), F.lit(0))
            ).alias("n"),
            quantize(merged_rev, 2).alias("revenue"),
            F.when(F.col("s.day").isNull(), "insert")
            .when(F.col("d.day").isNull(), "unchanged")
            .otherwise("update")
            .alias("change_type"),
        )
        .orderBy("day")
    )
