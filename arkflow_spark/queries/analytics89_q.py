"""Round-5 batch 89: k sweep for kNN, temporal integrity, daily mix
anomalies.

- `ann_knn_accuracy_sweep` — kNN label accuracy at k in {1, 3, 5, 10}
  from ONE top-10 ranking pass (majority vote per prefix): the
  hyperparameter sweep that usually costs four scoring passes, done
  with one. Accuracy falling as k grows = labels are locally pure but
  globally mixed (small neighborhoods suffice); rising = label noise
  needs averaging.
- `dq_temporal_ordering` — causality audit: lineitems shipped BEFORE
  their order date (impossible rows), with violation share and the
  worst lead. The temporal member of the DQ gate family — joins and
  keys can be perfect while the timeline is corrupt.
- `events_daily_mix_divergence` — Jensen-Shannon divergence of each
  day's event-type mix against the corpus mix, top-5 most anomalous
  days. Volume monitors miss composition flips (same total, all
  errors); JS catches exactly that — per-term quantized so both
  engines agree bit-for-bit.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.queries.vector_q import _ORACLE_EXPLODED, _dot, _norm
from arkflow_spark.tables import load


# ------------------------------------------------ kNN accuracy sweep

_SWEEP_KS = (1, 3, 5, 10)
_SWEEP_MAX_K = 10


@query(
    "ann_knn_accuracy_sweep",
    oracle=f"""
    WITH {_ORACLE_EXPLODED},
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             SUM(q.v * c.v) AS dot
      FROM x q JOIN x c ON q.i = c.i
      WHERE q.vec_id % 10 = 0 AND c.vec_id % 10 <> 0
      GROUP BY 1, 2
    ),
    top AS (
      SELECT query_id, cand_id, rnk
      FROM (
        SELECT query_id, cand_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dot / (nq.nrm * nc.nrm)
                                           DESC, cand_id) AS rnk
        FROM dots
        JOIN nrm nq ON nq.vec_id = query_id
        JOIN nrm nc ON nc.vec_id = cand_id
      ) WHERE rnk <= {_SWEEP_MAX_K}
    ),
    votes AS (
      SELECT k.k, t.query_id, e.label,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM top t
      JOIN embeddings e ON e.vec_id = t.cand_id
      CROSS JOIN (SELECT unnest(ARRAY{list(_SWEEP_KS)}) AS k) k
      WHERE t.rnk <= k.k
      GROUP BY 1, 2, 3
    ),
    winner AS (
      SELECT k, query_id, label AS predicted
      FROM (
        SELECT k, query_id, label, v,
               row_number() OVER (PARTITION BY k, query_id
                                  ORDER BY v DESC, label) AS r
        FROM votes
      ) WHERE r = 1
    )
    SELECT w.k,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(CASE WHEN e.label = w.predicted THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           floor(SUM(CASE WHEN e.label = w.predicted THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*) * 10000 + 0.5) / 10000 AS accuracy
    FROM winner w JOIN embeddings e ON e.vec_id = w.query_id
    GROUP BY w.k ORDER BY w.k
    """,
)
def ann_knn_accuracy_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classification accuracy at k = {ks} from a single top-{m}
    ranking: per (k, query) the majority label over the rank-k prefix
    (ties to votes DESC, label ASC), scored against the held-out
    query labels (vec_id % 10 = 0 split, as `ann_knn_classify`). One
    scoring pass serves every k — the sweep is a prefix aggregation.

    Scale shape: the brute-force scorer is the exact baseline with
    the fan-out guard (swap in the IVF probe at corpus scale); the
    per-query top-{m} executes as WindowGroupLimit; the k-prefix
    votes fan out the {m}-row-per-query table by 4.
    """.format(ks=_SWEEP_KS, m=_SWEEP_MAX_K)
    from arkflow_spark.functions.fanout import parallelize_fanout

    e = parallelize_fanout(load(spark, sf_dir, "embeddings"))
    withn = e.select(
        "vec_id", "label", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    q = withn.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_n"),
    )
    c = withn.filter(F.col("vec_id") % 10 != 0).select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("label"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_n"),
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "true_label",
        "label",
        (
            _dot(F.col("q_emb"), F.col("c_emb"))
            / (F.col("q_n") * F.col("c_n"))
        ).alias("cosine"),
        F.col("cand_id"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    top = scored.select(
        "query_id",
        "true_label",
        "label",
        F.row_number().over(w).alias("rnk"),
    ).filter(F.col("rnk") <= _SWEEP_MAX_K)
    ks = F.explode(F.array(*[F.lit(k) for k in _SWEEP_KS])).alias("k")
    votes = (
        top.select("query_id", "true_label", "label", "rnk", ks)
        .filter(F.col("rnk") <= F.col("k"))
        .groupBy("k", "query_id", "true_label", "label")
        .agg(F.count("*").cast("bigint").alias("v"))
    )
    wv = Window.partitionBy("k", "query_id").orderBy(
        F.col("v").desc(), F.col("label")
    )
    winner = (
        votes.withColumn("r", F.row_number().over(wv))
        .filter(F.col("r") == 1)
        .select("k", "true_label", F.col("label").alias("predicted"))
    )
    return (
        winner.groupBy("k")
        .agg(
            F.count("*").cast("bigint").alias("n_queries"),
            F.sum(
                F.when(F.col("true_label") == F.col("predicted"), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_correct"),
            quantize(
                F.sum(
                    F.when(
                        F.col("true_label") == F.col("predicted"), 1
                    ).otherwise(0)
                )
                * 1.0
                / F.count("*"), 4
            ).alias("accuracy"),
        )
        .orderBy("k")
    )


# ------------------------------------------------ temporal ordering


@query(
    "dq_temporal_ordering",
    oracle="""
    WITH j AS (
      SELECT date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS lead_days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           CAST(SUM(CASE WHEN lead_days < 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ship_before_order,
           floor(SUM(CASE WHEN lead_days < 0 THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*) * 1000000 + 0.5) / 1000000
             AS violation_share,
           CAST(MIN(lead_days) AS BIGINT) AS worst_lead_days,
           CAST(MAX(lead_days) AS BIGINT) AS max_lead_days
    FROM j
    """,
)
def dq_temporal_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal causality audit: line items whose ship date precedes
    the order date (physically impossible), their share, and the
    worst negative lead. Key and join integrity can be perfect while
    the timeline lies — every cycle-time model
    (`orders_weibull_cycletime_fit`, `orders_priority_lead_time`)
    silently assumes this gate passes.

    Scale shape: one fact-dim join (orders side broadcast-eligible),
    one global conditional aggregate.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.datediff(
            F.col("l_shipdate").cast("date"),
            F.col("o_orderdate").cast("date"),
        ).alias("lead_days")
    )
    return j.agg(
        F.count("*").cast("bigint").alias("n_lineitems"),
        F.sum(F.when(F.col("lead_days") < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_ship_before_order"),
        quantize(
            F.sum(F.when(F.col("lead_days") < 0, 1).otherwise(0))
            * 1.0
            / F.count("*"), 6
        ).alias("violation_share"),
        F.min("lead_days").cast("bigint").alias("worst_lead_days"),
        F.max("lead_days").cast("bigint").alias("max_lead_days"),
    )


# ------------------------------------------------ daily mix divergence

_MIX_TOP = 5


@query(
    "events_daily_mix_divergence",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS d,
             event_type,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    dtot AS (
      SELECT d, CAST(SUM(c) AS BIGINT) AS n FROM daily GROUP BY d
    ),
    base AS (
      SELECT event_type, CAST(SUM(c) AS BIGINT) AS bc FROM daily
      GROUP BY event_type
    ),
    btot AS (SELECT CAST(SUM(bc) AS BIGINT) AS bn FROM base),
    terms AS (
      SELECT dt.d, dt.n,
             b.event_type,
             COALESCE(dl.c, 0) * 1.0 / dt.n AS p,
             b.bc * 1.0 / bt.bn AS q
      FROM dtot dt
      CROSS JOIN base b
      CROSS JOIN btot bt
      LEFT JOIN daily dl ON dl.d = dt.d
                        AND dl.event_type = b.event_type
    ),
    js AS (
      SELECT d, MAX(n) AS n_events,
             floor(CAST(SUM(CAST(floor((
                 CASE WHEN p > 0
                      THEN 0.5 * p * ln(p / ((p + q) / 2)) ELSE 0 END
               + CASE WHEN q > 0
                      THEN 0.5 * q * ln(q / ((p + q) / 2)) ELSE 0 END
               ) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)))
               AS DOUBLE) * 10000 + 0.5) / 10000 AS js_div
      FROM terms GROUP BY d
    )
    SELECT d AS day_idx, n_events, js_div
    FROM js
    ORDER BY js_div DESC, day_idx
    LIMIT {_MIX_TOP}
    """,
)
def events_daily_mix_divergence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Jensen-Shannon divergence of each day's event-type mix from
    the corpus mix, top-{t} most anomalous days (per-term
    6dp-quantized, decimal-reduced). A day can hit its volume target
    while its composition flips to errors — JS is the alarm volume
    charts structurally cannot raise.

    Scale shape: one (day, type) rollup; the JS panel is days x types
    (calendar x vocabulary bounded); the head is ORDER BY + LIMIT.
    """.format(t=_MIX_TOP)
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        F.floor(F.unix_micros(F.col("ts")) / 86400000000.0)
        .cast("bigint")
        .alias("d"),
        "event_type",
    ).agg(F.count("*").cast("bigint").alias("c"))
    dtot = daily.groupBy("d").agg(F.sum("c").cast("bigint").alias("n"))
    base = daily.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("bc")
    )
    btot = base.agg(F.sum("bc").cast("bigint").alias("bn"))
    terms = (
        dtot.crossJoin(F.broadcast(base))
        .crossJoin(F.broadcast(btot))
        .join(daily, ["d", "event_type"], "left")
        .select(
            "d",
            "n",
            (F.coalesce(F.col("c"), F.lit(0)) * 1.0 / F.col("n")).alias(
                "p"
            ),
            (F.col("bc") * 1.0 / F.col("bn")).alias("q"),
        )
    )
    m = (F.col("p") + F.col("q")) / 2
    term = quantize(
        F.when(F.col("p") > 0, 0.5 * F.col("p") * F.log(F.col("p") / m))
        .otherwise(0.0)
        + F.when(
            F.col("q") > 0, 0.5 * F.col("q") * F.log(F.col("q") / m)
        ).otherwise(0.0), 6
    )
    js = terms.groupBy("d").agg(
        F.max("n").alias("n_events"),
        quantize(
            F.sum(term.cast("decimal(18,6)")).cast("double"), 4
        ).alias("js_div"),
    )
    return (
        js.select(F.col("d").alias("day_idx"), "n_events", "js_div")
        .orderBy(F.col("js_div").desc(), "day_idx")
        .limit(_MIX_TOP)
    )
