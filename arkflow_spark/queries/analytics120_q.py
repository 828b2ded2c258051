"""Round-6 batch 120: quantile treatment effects, dose-response trend
test, filtered ANN recall.

- `events_quantile_treatment_effect` — QTE between the id-hash arms:
  exact value deciles per arm and their differences. Mean-based tests
  (`events_welch_ttest`, CUPED) miss effects that live in the tails —
  a treatment that fattens p90 while leaving the median alone shows
  up ONLY here. Exact distributed percentiles, no sampling.
- `events_cochran_armitage_trend` — Cochran-Armitage test for a
  monotone dose-response: users bucketed into view-count quintiles
  (exact distributed ntile), outcome = ever purchased; the linear
  trend z-statistic over the quintile scores.
  `events_chi_square_independence` asks "any association";
  this asks the sharper ordered question "does conversion RISE with
  exposure", with more power against that alternative.
- `ann_filtered_search_recall` — filtered vector search audit: exact
  top-5 under a metadata filter (candidate label != query label)
  versus the POST-FILTER shortcut (unfiltered top-15, then filter).
  Reports recall@5 and fill rate of the shortcut — the number that
  decides whether a vector store needs native pre-filtering or can
  get away with overfetch-and-filter.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ quantile treatment effect

_QTE_QS = (0.1, 0.25, 0.5, 0.75, 0.9)


@query(
    "events_quantile_treatment_effect",
    oracle=f"""
    WITH d AS (
      SELECT user_id % 2 AS arm, value FROM events
      WHERE value IS NOT NULL
    ),
    qa AS (
      SELECT {", ".join(
        f"quantile_cont(value, {q}) AS qa{int(q * 100)}"
        for q in _QTE_QS)}
      FROM d WHERE arm = 0
    ),
    qb AS (
      SELECT {", ".join(
        f"quantile_cont(value, {q}) AS qb{int(q * 100)}"
        for q in _QTE_QS)}
      FROM d WHERE arm = 1
    ),
    qs(q) AS (VALUES {", ".join(f"({q})" for q in _QTE_QS)})
    SELECT CAST(q AS DOUBLE) AS quantile,
           floor(CASE {" ".join(
             f"WHEN q = {q} THEN qa{int(q * 100)}" for q in _QTE_QS)}
             END * 10000 + 0.5) / 10000 AS arm_a,
           floor(CASE {" ".join(
             f"WHEN q = {q} THEN qb{int(q * 100)}" for q in _QTE_QS)}
             END * 10000 + 0.5) / 10000 AS arm_b,
           floor((CASE {" ".join(
             f"WHEN q = {q} THEN qb{int(q * 100)}" for q in _QTE_QS)}
             END - CASE {" ".join(
             f"WHEN q = {q} THEN qa{int(q * 100)}" for q in _QTE_QS)}
             END) * 10000 + 0.5) / 10000 AS qte
    FROM qs CROSS JOIN qa CROSS JOIN qb
    ORDER BY quantile
    """,
)
def events_quantile_treatment_effect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantile treatment effects between the id-hash arms: exact
    {{10,25,50,75,90}}th percentiles of `value` per arm (Spark's
    exact distributed `percentile` aggregate = DuckDB's
    `quantile_cont`, both linear-interpolating on (n-1)q), and the
    per-quantile difference. Under the null split all QTEs should sit
    near 0 — tail-only deviations flag value-distribution drift
    between the arms that a mean test would wash out.

    Scale shape: one exact percentile aggregate per arm (map-side
    partial sort-merge inside the JVM aggregate), a 5-row literal
    quantile grid, no window anywhere.
    """
    e = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    d = e.select((F.col("user_id") % 2).alias("arm"), "value")
    qarr = F.percentile("value", F.array(*[F.lit(q) for q in _QTE_QS]))
    per = d.groupBy("arm").agg(qarr.alias("qs"))
    a = per.filter(F.col("arm") == 0).select(F.col("qs").alias("qsa"))
    b = per.filter(F.col("arm") == 1).select(F.col("qs").alias("qsb"))
    grid = spark.createDataFrame(
        [(q, i) for i, q in enumerate(_QTE_QS)], "quantile DOUBLE, i INT"
    )
    return (
        F.broadcast(grid)
        .crossJoin(F.broadcast(a))
        .crossJoin(F.broadcast(b))
        .select(
            "quantile",
            quantize(F.col("qsa")[F.col("i")], 4).alias("arm_a"),
            quantize(F.col("qsb")[F.col("i")], 4).alias("arm_b"),
            quantize(
                F.col("qsb")[F.col("i")] - F.col("qsa")[F.col("i")], 4
            ).alias("qte"),
        )
        .orderBy("quantile")
    )


# ------------------------------------------------ Cochran-Armitage trend


@query(
    "events_cochran_armitage_trend",
    oracle="""
    WITH u AS (
      SELECT user_id, date_trunc('day', ts) AS d,
             COUNT(*) FILTER (event_type = 'view') AS views,
             COUNT(*) FILTER (event_type = 'purchase') > 0 AS converted
      FROM events GROUP BY 1, 2
    ),
    b AS (
      SELECT ntile(5) OVER (ORDER BY views, user_id, d) AS g, converted
      FROM u
    ),
    cells AS (
      SELECT g, COUNT(*) AS n, COUNT(*) FILTER (converted) AS r
      FROM b GROUP BY g
    ),
    s AS (
      SELECT CAST(SUM(n) AS DOUBLE) AS nn, CAST(SUM(r) AS DOUBLE) AS rr,
             CAST(SUM(g * r) AS DOUBLE) AS t,
             CAST(SUM(g * n) AS DOUBLE) AS sn,
             CAST(SUM(g * g * n) AS DOUBLE) AS snn
      FROM cells
    )
    SELECT CAST(nn AS BIGINT) AS n_units,
           floor(rr / nn * 10000 + 0.5) / 10000 AS overall_rate,
           CASE WHEN rr > 0 AND rr < nn THEN
             floor((t - rr / nn * sn)
                   / sqrt(rr / nn * (1 - rr / nn) * (snn - sn * sn / nn))
                   * 10000 + 0.5) / 10000 END AS z_trend,
           CASE WHEN rr > 0 AND rr < nn THEN
             abs((t - rr / nn * sn)
                 / sqrt(rr / nn * (1 - rr / nn) * (snn - sn * sn / nn)))
               > 1.959964 END AS reject_05
    FROM s
    """,
)
def events_cochran_armitage_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cochran-Armitage dose-response test over USER-DAY units: does
    same-day purchase conversion rise monotonically across daily
    view-count quintiles? T = sum of quintile-score-weighted
    converter counts, standardized by the null binomial variance;
    |z| > 1.96 rejects flatness (NULL when the outcome is degenerate
    — every unit converted or none did). The exact quintiles come
    from `functions/distributed_rank.exact_ntile` (bit-identical to
    SQL ntile, no single-partition sort of the unit table).

    Scale shape: one user-day rollup, the distributed-rank ntile
    construction, a 5-cell score aggregation, one row.
    """
    from arkflow_spark.functions import distributed_rank as dr

    e = load(spark, sf_dir, "events")
    u = e.groupBy("user_id", F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.when(F.col("event_type") == "view", 1)).alias("views"),
        (
            F.count(F.when(F.col("event_type") == "purchase", 1)) > 0
        ).alias("converted"),
    )
    ranked = dr.with_global_order(
        u, [F.asc("views"), F.asc("user_id"), F.asc("d")]
    )
    b = ranked.select(
        dr.exact_ntile(F.col(dr.RN), F.col(dr.N), 5).alias("g"),
        "converted",
    )
    cells = b.groupBy("g").agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("converted"), 1)).alias("r"),
    )
    s = cells.agg(
        F.sum("n").cast("double").alias("nn"),
        F.sum("r").cast("double").alias("rr"),
        F.sum(F.col("g") * F.col("r")).cast("double").alias("t"),
        F.sum(F.col("g") * F.col("n")).cast("double").alias("sn"),
        F.sum(F.col("g") * F.col("g") * F.col("n"))
        .cast("double")
        .alias("snn"),
    )
    p = F.col("rr") / F.col("nn")
    ok = (F.col("rr") > 0) & (F.col("rr") < F.col("nn"))
    z = (F.col("t") - p * F.col("sn")) / F.sqrt(
        p * (1 - p) * (F.col("snn") - F.col("sn") * F.col("sn") / F.col("nn"))
    )
    return s.select(
        F.col("nn").cast("bigint").alias("n_units"),
        quantize(p, 4).alias("overall_rate"),
        F.when(ok, quantize(z, 4)).alias("z_trend"),
        F.when(ok, F.abs(z) > 1.959964).alias("reject_05"),
    )


# ------------------------------------------------ filtered ANN recall

_FA_QUERIES = 20
_FA_K = 5
_FA_OVERFETCH = 3


@query(
    "ann_filtered_search_recall",
    oracle=f"""
    WITH x AS (
      SELECT vec_id, label, g.i AS i, CAST(embedding[g.i] AS DOUBLE) AS v
      FROM embeddings CROSS JOIN generate_series(1, 64) g(i)
      WHERE g.i <= len(embedding)
    ),
    nrm AS (
      SELECT vec_id, sqrt(SUM(v * v)) AS nrm FROM x GROUP BY vec_id
    ),
    lab AS (SELECT vec_id, label FROM embeddings),
    dots AS (
      SELECT a.vec_id AS qid, b.vec_id AS cid, SUM(a.v * b.v) AS dot
      FROM x a JOIN x b ON b.i = a.i AND b.vec_id <> a.vec_id
      WHERE a.vec_id < {_FA_QUERIES}
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.qid, d.cid, ql.label AS qlab, cl.label AS clab,
             d.dot / (nq.nrm * nc.nrm) AS cos
      FROM dots d
      JOIN nrm nq ON nq.vec_id = d.qid
      JOIN nrm nc ON nc.vec_id = d.cid
      JOIN lab ql ON ql.vec_id = d.qid
      JOIN lab cl ON cl.vec_id = d.cid
    ),
    truth AS (
      SELECT qid, cid,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid)
               AS r
      FROM scored WHERE clab <> qlab
      QUALIFY r <= {_FA_K}
    ),
    post AS (
      SELECT qid, cid FROM (
        SELECT qid, cid, clab, qlab,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos DESC, cid) AS r
        FROM scored
        QUALIFY r <= {_FA_K * _FA_OVERFETCH}
      ) WHERE clab <> qlab
      QUALIFY row_number() OVER (PARTITION BY qid
                                 ORDER BY r) <= {_FA_K}
    ),
    per AS (
      SELECT t.qid,
             COUNT(p.cid) AS hits,
             (SELECT COUNT(*) FROM post WHERE post.qid = t.qid)
               AS returned
      FROM truth t LEFT JOIN post p
        ON p.qid = t.qid AND p.cid = t.cid
      GROUP BY t.qid
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           floor(CAST(SUM(hits) AS DOUBLE) / ({_FA_K} * COUNT(*))
                 * 10000 + 0.5) / 10000 AS post_filter_recall,
           floor(CAST(SUM(CASE WHEN returned = {_FA_K} THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*) * 10000 + 0.5) / 10000
             AS full_fill_share
    FROM per
    """,
)
def ann_filtered_search_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Filtered vector search: for {q} query vectors, exact top-{k}
    cosine neighbours UNDER the filter (candidate label != query
    label) vs the post-filter shortcut (unfiltered top-{ok}, filter,
    keep {k}). Mean recall@{k} and the share of queries the shortcut
    even fills. When a query's neighbourhood is same-label dense the
    overfetch window exhausts before {k} survivors — the measured gap
    is the case for native pre-filtered (bucket-pruned) search in the
    vector store.

    Scale shape: the query side is a fixed {q}-vector broadcast; the
    candidate scan is one pass (the `ann_cosine_topk` brute-force
    shape, per-query top-k via partitioned rank); at 100 TB both
    arms run per-IVF-bucket like `ann_ivf_search`.
    """.format(q=_FA_QUERIES, k=_FA_K, ok=_FA_K * _FA_OVERFETCH)
    from arkflow_spark.queries.vector_q import _dot, _norm

    e = load(spark, sf_dir, "embeddings")
    withn = e.select(
        "vec_id", "label", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    q = withn.filter(F.col("vec_id") < _FA_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlab"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    c = withn.select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("clab"),
        F.col("embedding").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("cid") != F.col("qid"))
        .select(
            "qid",
            "cid",
            "qlab",
            "clab",
            (
                _dot(F.col("qe"), F.col("ce"))
                / (F.col("qn") * F.col("cn"))
            ).alias("cos"),
        )
    )
    # r8: ONE corpus pass instead of two. Both arms rank the same
    # scored frame with the same (cos DESC, cid) order, so one window
    # pass yields both ranks: r_all = global row_number; r_filt =
    # running count of label-passing rows over the SAME sort (for a
    # passing row this equals its row_number among passing rows —
    # truth's rank). The post arm's rank within the overfetch prefix
    # ALSO equals r_filt: every passing row ahead of a prefix row has
    # a smaller r_all, hence sits in the prefix too. Consequences,
    # provable row-for-row (and witnessed by the unchanged oracle
    # hash): post = {passing, r_all <= overfetch, r_filt <= k} is a
    # SUBSET of truth = {passing, r_filt <= k}, so per-query hits =
    # returned = the post count; the metrics reduce to one grouped
    # aggregate over the truth rows.
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("cid"))
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    passing = F.col("clab") != F.col("qlab")
    base = scored.select(
        "qid",
        "cid",
        passing.alias("ok"),
        F.row_number().over(w).alias("r_all"),
        F.sum(F.when(passing, 1).otherwise(0)).over(wrun).alias(
            "r_filt"
        ),
    )
    per = (
        base.filter(F.col("ok") & (F.col("r_filt") <= _FA_K))
        .groupBy("qid")
        .agg(
            F.sum(
                F.when(
                    F.col("r_all") <= _FA_K * _FA_OVERFETCH, 1
                ).otherwise(0)
            ).alias("returned")
        )
    )
    return per.agg(
        F.count("*").cast("bigint").alias("n_queries"),
        quantize(
            F.sum("returned").cast("double") / (_FA_K * F.count("*")), 4
        ).alias("post_filter_recall"),
        quantize(
            F.sum(
                F.when(F.col("returned") == _FA_K, 1).otherwise(0)
            ).cast("double")
            / F.count("*"), 4
        ).alias("full_fill_share"),
    )
