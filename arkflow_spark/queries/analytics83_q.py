"""Round-5 batch 83: graph mixing structure, extreme-value clustering,
novelty decay.

- `graph_degree_assortativity` — degree assortativity of the
  co-purchase graph (Pearson correlation of endpoint degrees over
  edges, Newman 2002): positive = hubs buy with hubs (rich club),
  negative = hub-and-spoke. Decides whether degree-capped candidate
  generation (`graph_link_prediction_ra`'s top-W cap) biases against
  the structure that matters.
- `events_extremal_index_runs` — the extremal index theta by the runs
  estimator: exceedances over the per-stream P95, declustered with a
  2-hour run gap; theta = clusters/exceedances. theta << 1 means
  extremes arrive in bursts, so the GPD fits (`events_gpd_pot_fit`)
  see FEWER effective observations and return levels computed from
  raw exceedance counts are optimistic.
- `documents_novelty_decay_fit` — exponential decay fit of corpus
  novelty: mean new-shingle fraction per doc-order decile, log-linear
  OLS slope, and the half-life in deciles — "after how much of this
  source does new content stop arriving", the scheduling number
  `documents_ngram_novelty`'s per-doc curve only shows by eye.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.queries.dedup_q import _ORACLE_SHINGLES, _shingles
from arkflow_spark.tables import load


# ------------------------------------------------ degree assortativity

_COP_MIN = 2  # co-purchase edge: parts sharing >= this many orders


@query(
    "graph_degree_assortativity",
    oracle=f"""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_COP_MIN}
    ),
    und AS (
      SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges
    ),
    deg AS (
      SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d
      FROM und GROUP BY u
    ),
    stubs AS (
      SELECT du.d AS dx, dv.d AS dy
      FROM und e JOIN deg du ON du.node = e.u
                JOIN deg dv ON dv.node = e.v
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(dx) AS BIGINT) AS sx,
             CAST(SUM(CAST(dx AS DECIMAL(18,0)) * CAST(dy AS
                  DECIMAL(18,0))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(dx AS DECIMAL(18,0)) * CAST(dx AS
                  DECIMAL(18,0))) AS DOUBLE) AS sxx
      FROM stubs
    )
    SELECT CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
           CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
           floor((m * sxy - sx * 1.0 * sx)
                 / (m * sxx - sx * 1.0 * sx) * 10000 + 0.5) / 10000
             AS assortativity
    FROM mom
    """,
)
def graph_degree_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree assortativity of the co-purchase graph (edges: part
    pairs sharing >= {m} orders): over directed stubs, r =
    corr(deg(u), deg(v)) — by symmetry both stub marginals are equal,
    so r = (M Sxy - Sx^2)/(M Sxx - Sx^2), all exact integer/decimal
    sums. r > 0 = rich-club mixing, r < 0 = hub-and-spoke.

    Scale shape (r8 optimization round): edges read the SHARED
    materialized co-purchase index (`functions/copurchase.py`) — the
    identical basket-bounded construction this query previously
    re-joined from raw lineitem on every run; degrees are an
    exchange-free rollup on the index's bucketed-on-``u`` storage,
    broadcast back onto the edge list; one moment aggregate.
    """.format(m=_COP_MIN)
    from arkflow_spark.functions import copurchase

    edges = copurchase.directed(
        spark, sf_dir, min_support=_COP_MIN
    ).select("u", "v")
    und = copurchase.undirected(
        spark, sf_dir, min_support=_COP_MIN
    ).select("u", "v")
    deg = und.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("bigint").alias("d")
    ).persist()  # feeds both stub sides and the node count
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("dx"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dy"))
    stubs = und.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    mom = stubs.agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum("dx").cast("bigint").alias("sx"),
        F.sum(
            F.col("dx").cast("decimal(18,0)")
            * F.col("dy").cast("decimal(18,0)")
        )
        .cast("double")
        .alias("sxy"),
        F.sum(
            F.col("dx").cast("decimal(18,0)")
            * F.col("dx").cast("decimal(18,0)")
        )
        .cast("double")
        .alias("sxx"),
    )
    n_edges = edges.agg(F.count("*").cast("bigint").alias("n_edges"))
    n_nodes = deg.agg(F.count("*").cast("bigint").alias("n_nodes"))
    r = (
        F.col("m") * F.col("sxy") - F.col("sx") * 1.0 * F.col("sx")
    ) / (F.col("m") * F.col("sxx") - F.col("sx") * 1.0 * F.col("sx"))
    return (
        mom.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(n_nodes))
        .select("n_edges", "n_nodes", quantize(r, 4).alias("assortativity"))
    )


# ------------------------------------------------ extremal index

_RUN_GAP_H = 2


@query(
    "events_extremal_index_runs",
    oracle=f"""
    WITH ranked AS (
      SELECT event_type, epoch_us(ts) AS ep, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ),
    thr AS (
      SELECT event_type, value AS u
      FROM ranked WHERE rn = CAST(ceil(0.95 * n) AS BIGINT)
    ),
    exc AS (
      SELECT r.event_type, r.ep,
             lag(r.ep) OVER (PARTITION BY r.event_type
                             ORDER BY r.ep) AS prev_ep
      FROM ranked r JOIN thr t USING (event_type)
      WHERE r.value > t.u
    ),
    runs AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_exceed,
             CAST(SUM(CASE WHEN prev_ep IS NULL
                           OR ep - prev_ep > {_RUN_GAP_H} * 3600000000
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_clusters
      FROM exc GROUP BY event_type
    )
    SELECT event_type, n_exceed, n_clusters,
           floor(n_clusters * 1.0 / n_exceed * 10000 + 0.5) / 10000
             AS theta_hat
    FROM runs ORDER BY event_type
    """,
)
def events_extremal_index_runs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Extremal index per stream via the runs estimator: exceedances
    over the exact P95 (rank-selected order statistic), declustered
    at a {g}-hour run gap; theta = clusters / exceedances. theta = 1
    = independent extremes; theta = 0.5 = extremes arrive in pairs on
    average — the GPD's effective sample is theta x exceedances, and
    `events_gpd_return_levels` should be read with that discount.

    Scale shape: the threshold is a per-stream rank window
    (WindowGroupLimit-eligible rank filter); the exceedance stream is
    the filtered minority (predicate pushed to the scan); the
    cluster-start lag runs per stream over exceedances only.
    """.format(g=_RUN_GAP_H)
    e = load(spark, sf_dir, "events")
    wp = Window.partitionBy("event_type")
    ranked = e.select(
        "event_type",
        F.unix_micros(F.col("ts")).alias("ep"),
        "value",
        F.row_number()
        .over(wp.orderBy("value", "event_id"))
        .alias("rn"),
        F.count("*").over(wp).alias("n"),
    )
    thr = ranked.filter(
        F.col("rn") == F.ceil(0.95 * F.col("n")).cast("bigint")
    ).select("event_type", F.col("value").alias("u"))
    exc = (
        ranked.join(F.broadcast(thr), "event_type")
        .filter(F.col("value") > F.col("u"))
        .select(
            "event_type",
            "ep",
            F.lag("ep")
            .over(Window.partitionBy("event_type").orderBy("ep"))
            .alias("prev_ep"),
        )
    )
    runs = exc.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_exceed"),
        F.sum(
            F.when(
                F.col("prev_ep").isNull()
                | (
                    F.col("ep") - F.col("prev_ep")
                    > _RUN_GAP_H * 3600000000
                ),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_clusters"),
    )
    return runs.select(
        "event_type",
        "n_exceed",
        "n_clusters",
        quantize(F.col("n_clusters") * 1.0 / F.col("n_exceed"), 4).alias(
            "theta_hat"
        ),
    ).orderBy("event_type")


# ------------------------------------------------ novelty decay

_NOV_DECILES = 10


@query(
    "documents_novelty_decay_fit",
    oracle=f"""
    WITH {_ORACLE_SHINGLES},
    first_seen AS (
      SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle
    ),
    nov AS (
      SELECT sh.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_sh,
             CAST(SUM(CASE WHEN f.first_doc = sh.doc_id
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_new
      FROM sh JOIN first_seen f USING (shingle)
      GROUP BY sh.doc_id
    ),
    ranked AS (
      SELECT doc_id, n_sh, n_new,
             ntile({_NOV_DECILES}) OVER (ORDER BY doc_id) AS decile
      FROM nov
    ),
    per_dec AS (
      SELECT decile,
             CAST(SUM(n_new) AS BIGINT) AS tn,
             CAST(SUM(n_sh) AS BIGINT) AS ts
      FROM ranked GROUP BY decile
      HAVING SUM(n_new) > 0
    ),
    pts AS (
      SELECT CAST(decile AS DOUBLE) AS x,
             floor(ln(tn * 1.0 / ts) * 1000000 + 0.5) / 1000000 AS y,
             floor(tn * 1.0 / ts * 10000 + 0.5) / 10000 AS rate
      FROM per_dec
    ),
    ols AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             SUM(x) AS sx, SUM(x * x) AS sxx,
             CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(floor(x * y * 1000000 + 0.5) / 1000000
                  AS DECIMAL(18,6))) AS DOUBLE) AS sxy
      FROM pts
    )
    SELECT k AS n_deciles,
           (SELECT MAX(rate) FROM pts) AS peak_novelty,
           floor((k * sxy - sx * sy) / (k * sxx - sx * sx)
                 * 10000 + 0.5) / 10000 AS decay_slope,
           floor(-ln(2) / ((k * sxy - sx * sy) / (k * sxx - sx * sx))
                 * 10000 + 0.5) / 10000 AS half_life_deciles
    FROM ols
    """,
)
def documents_novelty_decay_fit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exponential decay of corpus novelty: new-shingle rate per
    doc-order decile (first-seen attribution, same machinery as
    `documents_ngram_novelty`), log-linear OLS over the {d} decile
    points, half-life = -ln2/slope in deciles. A short half-life says
    most of a source's information lives in its head — cap ingestion
    there and spend the budget elsewhere
    (`documents_token_budget_pack`).

    Scale shape: shingle first-seen is one keyed min-aggregate; the
    decile rank runs over the per-DOC novelty table (corpus-bounded
    rows, one per doc) via ntile on doc_id order — executed through
    the distributed exact-ntile, no 1-partition sort; the OLS is {d}
    points.
    """.format(d=_NOV_DECILES)
    from arkflow_spark.functions.distributed_rank import (
        N,
        RN,
        exact_ntile,
        with_global_order,
    )

    # sh feeds BOTH the first-seen aggregate and the novelty join;
    # pts (<= _NOV_DECILES rows) feeds both the OLS and the peak agg —
    # persist each so the shingle explosion runs exactly once.
    sh = _shingles(spark, sf_dir).persist()
    first_seen = sh.groupBy("shingle").agg(
        F.min("doc_id").alias("first_doc")
    )
    nov = (
        sh.join(first_seen, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_sh"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_new"),
        )
    )
    ranked = with_global_order(nov, [F.asc("doc_id")]).select(
        "n_sh",
        "n_new",
        exact_ntile(F.col(RN), F.col(N), _NOV_DECILES).alias("decile"),
    )
    per_dec = (
        ranked.groupBy("decile")
        .agg(
            F.sum("n_new").cast("bigint").alias("tn"),
            F.sum("n_sh").cast("bigint").alias("ts"),
        )
        .filter(F.col("tn") > 0)
    )
    pts = per_dec.select(
        F.col("decile").cast("double").alias("x"),
        quantize(F.log(F.col("tn") * 1.0 / F.col("ts")), 6).alias("y"),
        quantize(F.col("tn") * 1.0 / F.col("ts"), 4).alias("rate"),
    ).persist()
    ols = pts.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(18,6)"))
        .cast("double")
        .alias("sy"),
        F.sum(
            quantize(F.col("x") * F.col("y"), 6).cast("decimal(18,6)")
        )
        .cast("double")
        .alias("sxy"),
    )
    peak = pts.agg(F.max("rate").alias("peak_novelty"))
    slope = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    import math

    return (
        ols.crossJoin(F.broadcast(peak))
        .select(
            F.col("k").alias("n_deciles"),
            "peak_novelty",
            quantize(slope, 4).alias("decay_slope"),
            quantize(-math.log(2) / slope, 4).alias("half_life_deciles"),
        )
    )
