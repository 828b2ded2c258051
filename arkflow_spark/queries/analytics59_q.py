"""Round-5 batch 59: retrieval quality metrics, paired-comparison
ranking, distribution-free prediction intervals.

- `ann_retrieval_ndcg` — the IR-metric harness for the ANN family:
  label-relevance NDCG@10, reciprocal rank and precision@10 for each
  query vector under exact cosine retrieval. `ann_ivf_pq_recall_eval`
  measures index fidelity (does approx == exact); this measures
  whether the EMBEDDING itself retrieves the right labels — the two
  failure modes demand different fixes.
- `documents_bradley_terry_sources` — Bradley-Terry strength ranking
  of corpus sources from head-to-head document quality comparisons
  (rank-paired docs, deterministic quality proxy), fit by three
  unrolled minorization-maximization rounds on the source-bounded
  grid. The "which shard actually wins blind A/Bs" leaderboard —
  less gameable than mean quality scores.
- `events_conformal_interval` — split-conformal prediction interval
  for the seasonal-naive hourly forecast (predict = same hour
  yesterday): the finite-sample-valid residual quantile from a
  calibration window and its EMPIRICAL coverage on held-out hours.
  Distribution-free uncertainty for dashboards that must not lie
  (Vovk et al.; split conformal per Lei et al. 2018).

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ NDCG / MRR / P@10

_IR_QUERIES = 10
_IR_K = 10


@query(
    "ann_retrieval_ndcg",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qe, label AS qlabel
      FROM embeddings WHERE vec_id < {_IR_QUERIES}
    ),
    c AS (
      SELECT vec_id AS cid, embedding AS ce, label AS clabel
      FROM embeddings WHERE vec_id >= {_IR_QUERIES}
    ),
    sims AS (
      SELECT q.qid, q.qlabel, c.cid, c.clabel,
             list_aggregate(list_transform(list_zip(q.qe, c.ce),
                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
                 'sum')
             / (sqrt(list_aggregate(list_transform(q.qe,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                * sqrt(list_aggregate(list_transform(c.ce,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))
               AS sim
      FROM q CROSS JOIN c
    ),
    ranked AS (
      SELECT qid, qlabel, clabel, sim,
             row_number() OVER (PARTITION BY qid
                                ORDER BY sim DESC, cid) AS rnk
      FROM sims
    ),
    topk AS (
      SELECT qid,
             CASE WHEN qlabel = clabel THEN 1 ELSE 0 END AS rel, rnk
      FROM ranked WHERE rnk <= {_IR_K}
    ),
    metrics AS (
      SELECT qid,
             SUM(rel / ln(rnk + 1.0) * ln(2.0)) AS dcg,
             CAST(SUM(rel) AS BIGINT) AS n_rel,
             COALESCE(MIN(CASE WHEN rel = 1 THEN rnk END), 0) AS first_hit
      FROM topk GROUP BY qid
    ),
    ideal AS (
      SELECT qid,
             SUM(1.0 / ln(g.i + 1.0) * ln(2.0)) AS idcg
      FROM metrics
      CROSS JOIN generate_series(1, {_IR_K}) g(i)
      WHERE g.i <= n_rel
      GROUP BY qid
    )
    SELECT m.qid AS query_id, m.n_rel AS relevant_in_top{_IR_K},
           floor(CASE WHEN i.idcg IS NULL THEN 0.0
                      ELSE m.dcg / i.idcg END * 10000 + 0.5) / 10000
             AS ndcg,
           floor(CASE WHEN m.first_hit = 0 THEN 0.0
                      ELSE 1.0 / m.first_hit END * 10000 + 0.5) / 10000
             AS reciprocal_rank,
           floor(m.n_rel * 1.0 / {_IR_K} * 10000 + 0.5) / 10000
             AS precision_at_k
    FROM metrics m LEFT JOIN ideal i USING (qid)
    ORDER BY m.qid
    """,
)
def ann_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-relevance retrieval metrics for the first {nq} vectors as
    queries against the rest of the corpus under EXACT cosine: NDCG@{k}
    (log2 discounts, ideal = all relevant stacked on top), reciprocal
    rank of the first same-label hit, precision@{k}. Run it next to
    `ann_ivf_pq_recall_eval`: recall tells you the index approximates
    the scan; this tells you the scan was worth approximating.

    Determinism: cosine uses the sequential left-fold dot product
    (the `vector_q._dot` discipline — same summation order both
    engines); ranking ties break on candidate id.

    Scale shape: the query side is a fixed {nq}-row broadcast; the
    candidate scan is one pass with a per-query top-{k} rank filter
    (WindowGroupLimit pushes the limit into the sort); metrics run on
    the bounded ({nq} x {k}) table.
    """.format(nq=_IR_QUERIES, k=_IR_K)
    from arkflow_spark.queries.vector_q import _dot, _norm

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _IR_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("qlabel"),
    )
    c = emb.filter(F.col("vec_id") >= _IR_QUERIES).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        F.col("label").alias("clabel"),
    )
    sims = c.crossJoin(F.broadcast(q)).select(
        "qid",
        "qlabel",
        "cid",
        "clabel",
        (
            _dot(F.col("qe"), F.col("ce"))
            / (_norm(F.col("qe")) * _norm(F.col("ce")))
        ).alias("sim"),
    )
    wr = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("cid"))
    topk = (
        sims.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= _IR_K)
        .select(
            "qid",
            F.when(F.col("qlabel") == F.col("clabel"), 1)
            .otherwise(0)
            .alias("rel"),
            "rnk",
        )
    )
    ln2 = float(__import__("math").log(2.0))
    metrics = topk.groupBy("qid").agg(
        F.sum(
            F.col("rel") / F.log(F.col("rnk") + 1.0) * ln2
        ).alias("dcg"),
        F.sum("rel").cast("bigint").alias("n_rel"),
        F.coalesce(
            F.min(F.when(F.col("rel") == 1, F.col("rnk"))), F.lit(0)
        ).alias("first_hit"),
    )
    ideal = (
        metrics.select(
            "qid",
            "n_rel",
            F.explode(F.sequence(F.lit(1), F.lit(_IR_K))).alias("i"),
        )
        .filter(F.col("i") <= F.col("n_rel"))
        .groupBy("qid")
        .agg(
            F.sum(1.0 / F.log(F.col("i") + 1.0) * ln2).alias("idcg")
        )
    )
    return (
        metrics.join(F.broadcast(ideal), "qid", "left")
        .select(
            F.col("qid").alias("query_id"),
            F.col("n_rel").alias(f"relevant_in_top{_IR_K}"),
            quantize(
                F.when(F.col("idcg").isNull(), 0.0).otherwise(
                    F.col("dcg") / F.col("idcg")
                ), 4
            ).alias("ndcg"),
            quantize(
                F.when(F.col("first_hit") == 0, 0.0).otherwise(
                    1.0 / F.col("first_hit")
                ), 4
            ).alias("reciprocal_rank"),
            quantize(F.col("n_rel") * 1.0 / _IR_K, 4).alias(
                "precision_at_k"
            ),
        )
        .orderBy("query_id")
    )


# ------------------------------------------------ Bradley-Terry

_BT_PAIR_DEPTH = 30  # rank-paired docs per source pair


@query(
    "documents_bradley_terry_sources",
    oracle=f"""
    WITH scored AS (
      SELECT source, doc_id,
             len(list_distinct(regexp_extract_all(lower(text),
                 '[a-z]+'))) * ln(GREATEST(n_chars, 2))
               AS quality,
             row_number() OVER (PARTITION BY source ORDER BY doc_id)
               AS r
      FROM documents
    ),
    head AS (
      SELECT * FROM scored WHERE r <= {_BT_PAIR_DEPTH}
    ),
    duels AS (
      SELECT a.source AS si, b.source AS sj,
             CAST(SUM(CASE WHEN a.quality > b.quality
                      THEN 1 ELSE 0 END) AS DOUBLE) AS w_ij,
             CAST(COUNT(*) AS DOUBLE) AS n_ij
      FROM head a JOIN head b
        ON a.r = b.r AND a.source < b.source
      WHERE a.quality <> b.quality
      GROUP BY 1, 2
    ),
    sym AS (
      SELECT si, sj, w_ij, n_ij FROM duels
      UNION ALL
      SELECT sj, si, n_ij - w_ij, n_ij FROM duels
    ),
    p0 AS (
      SELECT DISTINCT si AS s, 1.0 AS p FROM sym
    ),
    it1 AS (
      SELECT y.si AS s,
             SUM(y.w_ij) / SUM(y.n_ij / (pa.p + pb.p)) AS p
      FROM sym y
      JOIN p0 pa ON pa.s = y.si
      JOIN p0 pb ON pb.s = y.sj
      GROUP BY y.si
    ),
    it2 AS (
      SELECT y.si AS s,
             SUM(y.w_ij) / SUM(y.n_ij / (pa.p + pb.p)) AS p
      FROM sym y
      JOIN it1 pa ON pa.s = y.si
      JOIN it1 pb ON pb.s = y.sj
      GROUP BY y.si
    ),
    it3 AS (
      SELECT y.si AS s,
             SUM(y.w_ij) / SUM(y.n_ij / (pa.p + pb.p)) AS p
      FROM sym y
      JOIN it2 pa ON pa.s = y.si
      JOIN it2 pb ON pb.s = y.sj
      GROUP BY y.si
    ),
    normd AS (
      SELECT s, p / SUM(p) OVER () * COUNT(*) OVER () AS strength
      FROM it3
    ),
    wins AS (
      SELECT si AS s, CAST(SUM(w_ij) AS BIGINT) AS n_wins,
             CAST(SUM(n_ij) AS BIGINT) AS n_duels
      FROM sym GROUP BY si
    )
    SELECT n.s AS source,
           floor(n.strength * 10000 + 0.5) / 10000 AS bt_strength,
           w.n_wins, w.n_duels
    FROM normd n JOIN wins w USING (s)
    ORDER BY bt_strength DESC, source
    """,
)
def documents_bradley_terry_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bradley-Terry source leaderboard from rank-paired head-to-head
    document comparisons: the r-th doc (by doc_id) of each source
    duels the r-th doc of every other source (r <= {d}); the winner
    has the higher deterministic quality proxy (distinct-word count x
    log length; ties void the duel). Strengths fit by three unrolled
    MM rounds p_i <- W_i / sum_j n_ij/(p_i+p_j) on the source-bounded
    duel grid, normalized to mean 1. Rank-pairing keeps the duel
    count at sources^2 x {d} — never docs^2.

    Determinism: wins are integer counts; the MM arithmetic is
    identical closed-form ratios both engines (double reduction noise
    ~1e-12, under the quantum).

    Scale shape: per-source top-{d} via rank windows partitioned by
    source (WindowGroupLimit), one duel rollup on the SOURCE-bounded
    grid; the three MM rounds then run driver-side over the collected
    duel grid (the sanctioned bounded-collect pattern).
    """.format(d=_BT_PAIR_DEPTH)
    d = load(spark, sf_dir, "documents")
    wsrc = Window.partitionBy("source").orderBy("doc_id")
    scored = d.select(
        "source",
        "doc_id",
        (
            F.size(
                F.array_distinct(
                    F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
                )
            )
            * F.log(F.greatest(F.col("n_chars"), F.lit(2)))
        ).alias("quality"),
        F.row_number().over(wsrc).alias("r"),
    ).filter(F.col("r") <= _BT_PAIR_DEPTH)
    a = scored.alias("a")
    b = scored.alias("b")
    duels = (
        a.join(
            b,
            (F.col("a.r") == F.col("b.r"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .filter(F.col("a.quality") != F.col("b.quality"))
        .groupBy(
            F.col("a.source").alias("si"), F.col("b.source").alias("sj")
        )
        .agg(
            F.sum(
                F.when(F.col("a.quality") > F.col("b.quality"), 1)
                .otherwise(0)
            )
            .cast("double")
            .alias("w_ij"),
            F.count("*").cast("double").alias("n_ij"),
        )
    )
    # The MM rounds run DRIVER-SIDE over the collected duel grid
    # (bounded: sources^2 rows) — a DataFrame loop over local
    # relations makes Catalyst re-optimize per round; the Python loop
    # computes the identical closed-form updates.
    sym_rows = (
        duels.unionAll(
            duels.select(
                F.col("sj").alias("si"),
                F.col("si").alias("sj"),
                (F.col("n_ij") - F.col("w_ij")).alias("w_ij"),
                "n_ij",
            )
        ).collect()
    )
    srcs = sorted({r["si"] for r in sym_rows})
    pv = {s0: 1.0 for s0 in srcs}
    for _ in range(3):
        npv = {}
        for s0 in srcs:
            wsum = 0.0
            dsum = 0.0
            for r in sym_rows:
                if r["si"] != s0:
                    continue
                wsum += r["w_ij"]
                dsum += r["n_ij"] / (pv[s0] + pv[r["sj"]])
            npv[s0] = wsum / dsum
        pv = npv
    mean_p = sum(pv.values()) / len(pv)
    wins_py = {}
    for r in sym_rows:
        w0, n0 = wins_py.get(r["si"], (0.0, 0.0))
        wins_py[r["si"]] = (w0 + r["w_ij"], n0 + r["n_ij"])
    out_rows = [
        (
            s0,
            pv[s0] / mean_p,
            int(wins_py[s0][0]),
            int(wins_py[s0][1]),
        )
        for s0 in srcs
    ]
    normd = spark.createDataFrame(
        out_rows,
        "source STRING, strength DOUBLE, n_wins BIGINT, n_duels BIGINT",
    )
    return normd.select(
        "source",
        quantize(F.col("strength"), 4).alias("bt_strength"),
        "n_wins",
        "n_duels",
    ).orderBy(F.desc("bt_strength"), F.asc("source"))


# ------------------------------------------------ split conformal

_CONF_ALPHA = 0.1  # target 90% coverage
_CONF_SPLIT = 0.6  # calibration share of days


@query(
    "events_conformal_interval",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS hr,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    pred AS (
      SELECT h.event_type, h.hr, h.c,
             p.c AS yhat
      FROM hourly h JOIN hourly p
        ON p.event_type = h.event_type AND p.hr = h.hr - 24
    ),
    bounds AS (
      SELECT event_type, MIN(hr) AS h0,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM pred GROUP BY event_type
    ),
    split AS (
      SELECT p.event_type, p.hr, p.c, p.yhat,
             ABS(p.c - p.yhat) AS resid,
             CASE WHEN row_number() OVER (PARTITION BY p.event_type
                       ORDER BY p.hr)
                       <= CAST(floor(b.n * {_CONF_SPLIT}) AS BIGINT)
                  THEN 1 ELSE 0 END AS is_cal
      FROM pred p JOIN bounds b USING (event_type)
    ),
    qhat AS (
      SELECT event_type, resid AS q
      FROM (
        SELECT event_type, resid,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY resid, hr) AS rr,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
                 AS nc
        FROM split WHERE is_cal = 1
      )
      WHERE rr = CAST(ceil((nc + 1) * (1 - {_CONF_ALPHA})) AS BIGINT)
    )
    SELECT s.event_type,
           CAST(SUM(s.is_cal) AS BIGINT) AS n_calibration,
           CAST(SUM(1 - s.is_cal) AS BIGINT) AS n_eval,
           floor(q.q * 10000 + 0.5) / 10000 AS q_hat,
           floor(SUM(CASE WHEN s.is_cal = 0
                      AND ABS(s.c - s.yhat) <= q.q
                     THEN 1 ELSE 0 END) * 1.0
                 / GREATEST(SUM(1 - s.is_cal), 1)
                 * 10000 + 0.5) / 10000 AS empirical_coverage
    FROM split s JOIN qhat q USING (event_type)
    GROUP BY s.event_type, q.q
    ORDER BY s.event_type
    """,
)
def events_conformal_interval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Split-conformal interval for the seasonal-naive hourly forecast
    (yhat_t = count at t-24h): the calibration residual quantile at
    rank ceil((n+1)(1-alpha)) gives a finite-sample-valid +/- q_hat
    band; the held-out hours report EMPIRICAL coverage, which must
    hover near 1-alpha = {cov}% if the exchangeability assumption
    holds. Counts are integers, so residuals and the order statistic
    are exact — no interpolation ambiguity.

    Scale shape: one hourly rollup, a self-join on (stream, hr-24)
    keyed arithmetic, then rank windows partitioned by stream over
    the calendar-bounded grid. The conformal machinery adds zero
    corpus-scaled work beyond the rollup.
    """.format(cov=int((1 - _CONF_ALPHA) * 100))
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        F.floor(F.unix_micros(F.col("ts")) / 3600000000.0)
        .cast("bigint")
        .alias("hr"),
    ).agg(F.count("*").cast("bigint").alias("c")).persist()
    # ^ both lag-join sides; split below feeds the quantile pass and
    # the coverage rollup — persist each, scan the raw stream once
    h = hourly.alias("h")
    pth = hourly.alias("p")
    pred = h.join(
        pth,
        (F.col("p.event_type") == F.col("h.event_type"))
        & (F.col("p.hr") == F.col("h.hr") - 24),
    ).select(
        F.col("h.event_type").alias("event_type"),
        F.col("h.hr").alias("hr"),
        F.col("h.c").alias("c"),
        F.col("p.c").alias("yhat"),
    )
    bounds = pred.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    wtime = Window.partitionBy("event_type").orderBy("hr")
    split = (
        pred.join(F.broadcast(bounds), "event_type")
        .withColumn("resid", F.abs(F.col("c") - F.col("yhat")))
        .withColumn(
            "is_cal",
            F.when(
                F.row_number().over(wtime)
                <= F.floor(F.col("n") * _CONF_SPLIT).cast("bigint"),
                1,
            ).otherwise(0),
        )
        .persist()
    )
    wq = Window.partitionBy("event_type").orderBy("resid", "hr")
    wn = Window.partitionBy("event_type")
    qhat = (
        split.filter(F.col("is_cal") == 1)
        .withColumn("rr", F.row_number().over(wq))
        .withColumn("nc", F.count("*").over(wn).cast("bigint"))
        .filter(
            F.col("rr")
            == F.ceil((F.col("nc") + 1) * (1 - _CONF_ALPHA)).cast(
                "bigint"
            )
        )
        .select("event_type", F.col("resid").alias("q"))
    )
    return (
        split.join(F.broadcast(qhat), "event_type")
        .groupBy("event_type", "q")
        .agg(
            F.sum("is_cal").cast("bigint").alias("n_calibration"),
            F.sum(1 - F.col("is_cal")).cast("bigint").alias("n_eval"),
            quantize(
                F.sum(
                    F.when(
                        (F.col("is_cal") == 0)
                        & (F.col("resid") <= F.col("q")),
                        1,
                    ).otherwise(0)
                )
                * 1.0
                / F.greatest(F.sum(1 - F.col("is_cal")), F.lit(1)), 4
            ).alias("empirical_coverage"),
        )
        .select(
            "event_type",
            "n_calibration",
            "n_eval",
            quantize(F.col("q"), 4).alias("q_hat"),
            "empirical_coverage",
        )
        .orderBy("event_type")
    )
