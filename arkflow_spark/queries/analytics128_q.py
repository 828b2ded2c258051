"""Round-6 batch 128: cron-artifact detection, k-truss edge cohesion.

- `events_cron_artifact_detection` — scheduled-job fingerprinting:
  the minute-of-hour histogram against uniform, a chi-square over the
  60-cell grid, and the top spiking minutes. Cron-driven traffic
  piles onto :00/:15/:30/:45 and silently biases every
  "organic-usage" metric computed downstream;
  `dq_timestamp_truncation` catches rounding, this catches
  SCHEDULING.
- `graph_ktruss_membership` — edge cohesion via triangle support: for
  each co-purchase edge, the number of triangles through it, and the
  share of edges surviving the k-truss support filter (>= k-2
  triangles) for k in {3, 4, 5} after one peel round. The edge-level
  complement of `graph_kcore_peel` (node-level) — truss edges are the
  recommendation links with independent corroboration, and
  `graph_local_bridges` is exactly the k=3 complement.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.functions import copurchase
from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ cron artifacts

_CA_TOP = 5


@query(
    "events_cron_artifact_detection",
    oracle=f"""
    WITH m AS (
      SELECT minute(ts) AS mm, COUNT(*) AS c FROM events GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM m),
    chi AS (
      SELECT CAST(SUM(CAST((c - t / 60) * (c - t / 60) / (t / 60)
                           AS DECIMAL(28,10))) AS DOUBLE) AS chi2
      FROM m CROSS JOIN tot
    ),
    ranked AS (
      SELECT mm, c, t,
             row_number() OVER (ORDER BY c DESC, mm) AS r
      FROM m CROSS JOIN tot
    )
    SELECT CAST(r.mm AS INTEGER) AS minute_of_hour,
           CAST(r.c AS BIGINT) AS n_events,
           floor(r.c / (r.t / 60) * 10000 + 0.5) / 10000
             AS lift_vs_uniform,
           r.mm % 15 = 0 AS quarter_mark,
           floor(chi.chi2 * 100 + 0.5) / 100 AS chi2_60cells,
           chi.chi2 > 77.93 AS nonuniform_05
    FROM ranked r CROSS JOIN chi
    WHERE r.r <= {_CA_TOP}
    ORDER BY r.r
    """,
)
def events_cron_artifact_detection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Scheduled-traffic fingerprint: the {t} most loaded
    minutes-of-hour with their lift over uniform, whether they sit on
    a quarter mark, and the 60-cell chi-square against uniformity
    (critical 77.93 at df=59, alpha=0.05). Cron fleets firing on
    :00/:15/:30/:45 masquerade as organic load in every downstream
    rate metric; this reads the schedule straight off the timestamp
    distribution.

    Scale shape: one 60-cell minute rollup (map-side combinable,
    tick-grid bounded), decimal-quantized chi-square terms,
    a bounded rank.
    """.format(t=_CA_TOP)
    e = load(spark, sf_dir, "events")
    m = e.groupBy(F.minute("ts").alias("mm")).agg(
        F.count("*").alias("c")
    )
    tot = m.agg(F.sum("c").cast("double").alias("t"))
    exp_ = F.col("t") / 60
    chi = (
        m.crossJoin(F.broadcast(tot))
        .select(
            (
                (F.col("c") - exp_) * (F.col("c") - exp_) / exp_
            ).cast("decimal(28,10)").alias("term")
        )
        .agg(F.sum("term").cast("double").alias("chi2"))
    )
    # scale: tick-grid-bounded (60 minute-of-hour cells)
    w = Window.orderBy(F.desc("c"), F.asc("mm"))
    ranked = (
        m.crossJoin(F.broadcast(tot))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _CA_TOP)
    )
    return (
        ranked.crossJoin(F.broadcast(chi))
        .select(
            F.col("mm").cast("int").alias("minute_of_hour"),
            F.col("c").cast("bigint").alias("n_events"),
            quantize(F.col("c") / (F.col("t") / 60), 4).alias(
                "lift_vs_uniform"
            ),
            (F.col("mm") % 15 == 0).alias("quarter_mark"),
            quantize(F.col("chi2"), 2).alias(
                "chi2_60cells"
            ),
            (F.col("chi2") > 77.93).alias("nonuniform_05"),
            F.col("r").alias("_r"),
        )
        .orderBy("_r")
        .drop("_r")
    )


# ------------------------------------------------ k-truss membership

_KT_SUPPORT = 2
_KT_KS = (3, 4, 5)


@query(
    "graph_ktruss_membership",
    oracle=f"""
    WITH basket AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pair AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS n
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    edges AS (SELECT u, v FROM pair WHERE n >= {_KT_SUPPORT}),
    und AS (
      SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges
    ),
    tri AS (
      SELECT e.u, e.v, COUNT(*) AS t
      FROM edges e
      JOIN und a ON a.u = e.u
      JOIN und b ON b.u = e.v AND b.v = a.v
      GROUP BY e.u, e.v
    ),
    sup AS (
      SELECT e.u, e.v, COALESCE(t.t, 0) AS t
      FROM edges e LEFT JOIN tri t ON t.u = e.u AND t.v = e.v
    ),
    ks(k) AS (VALUES {", ".join(f"({k})" for k in _KT_KS)})
    SELECT ks.k,
           CAST((SELECT COUNT(*) FROM sup) AS BIGINT) AS n_edges,
           CAST(COUNT(*) FILTER (s.t >= ks.k - 2) AS BIGINT)
             AS truss_edges,
           floor(COUNT(*) FILTER (s.t >= ks.k - 2) * 1.0
                 / (SELECT COUNT(*) FROM sup) * 10000 + 0.5) / 10000
             AS truss_share,
           CAST(MAX(s.t) AS BIGINT) AS max_edge_triangles
    FROM ks CROSS JOIN sup s
    GROUP BY ks.k ORDER BY ks.k
    """,
)
def graph_ktruss_membership(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Edge triangle support on the support>={s} co-purchase graph and
    the one-round k-truss filter: the share of edges backed by at
    least k-2 triangles, for k in {ks} (k=3 = any triangle — the
    exact complement of `graph_local_bridges`). Truss edges carry
    independently corroborated affinity; at 100 TB the full iterative
    peel repeats this filter to a fixpoint with the same
    triangle-join dataflow.

    Scale shape: edges read the shared materialized co-purchase
    index; per-edge triangle counting is the oriented wedge join
    (degree-bounded fan-out); the k grid is literal.
    """.format(s=_KT_SUPPORT, ks=_KT_KS)
    edges = copurchase.directed(
        spark, sf_dir, min_support=_KT_SUPPORT
    ).select("u", "v")
    und = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    a = und.select(F.col("u").alias("au"), F.col("v").alias("w"))
    b = und.select(F.col("u").alias("bu"), F.col("v").alias("bw"))
    tri = (
        edges.join(a, F.col("u") == F.col("au"))
        .join(
            b,
            (F.col("v") == F.col("bu")) & (F.col("w") == F.col("bw")),
        )
        .groupBy("u", "v")
        .agg(F.count("*").alias("t"))
    )
    sup = edges.join(tri, ["u", "v"], "left").select(
        F.coalesce(F.col("t"), F.lit(0)).alias("t")
    )  # r8: persisting this was measured slower (see triangles.py note)
    ks = spark.createDataFrame([(k,) for k in _KT_KS], "k INT")
    ne = sup.agg(
        F.count("*").alias("n_edges"), F.max("t").alias("max_t")
    )
    truss = (
        sup.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.count(F.when(F.col("t") >= F.col("k") - 2, 1)).alias(
                "truss_edges"
            )
        )
    )
    return (
        truss.crossJoin(F.broadcast(ne))
        .select(
            "k",
            F.col("n_edges").cast("bigint").alias("n_edges"),
            F.col("truss_edges").cast("bigint").alias("truss_edges"),
            quantize(
                F.col("truss_edges") * 1.0 / F.col("n_edges"), 4
            ).alias("truss_share"),
            F.col("max_t").cast("bigint").alias("max_edge_triangles"),
        )
        .orderBy("k")
    )
