"""Round-4 batch 41: ANN recall@k evaluation, Jensen-Shannon source
divergence, Little's-law flow audit, circular time-of-day statistics.

- `ann_ivf_pq_recall_eval` — the eval harness for the production ANN
  pipeline: recall@5 of `ann_ivf_pq_rerank` against the exact cosine
  top-5, per query and averaged — the number a vector-index rollout is
  gated on (complements `dedup_lsh_eval_pr` and
  `ann_truncation_recall`).
- `text_js_divergence_sources` — Jensen-Shannon divergence (bits)
  between each source's unigram distribution and the corpus
  distribution: the bounded, symmetric corpus-drift measure used to
  spot an ingest feed going off-distribution (DSIR's KL ratios are
  per-document; this is the per-source rollup).
- `orders_littles_law_audit` — Little's law (L = lambda * W) checked on
  the order flow per month: average WIP vs throughput x measured cycle
  time. Divergence means the flow is not stationary (ramp, backlog
  build-up) — the ops-health readout behind `orders_backlog_timeseries`.
- `events_circular_hour_stats` — circular mean/resultant length of
  event time-of-day per stream: the CORRECT average for clock data
  (naive averaging says 23:00+01:00 averages to noon; circular says
  midnight), plus circular variance as the concentration readout.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import QUERIES, quantize, query
from arkflow_spark.tables import load


# --------------------------------------------------- ANN recall@5 eval

_EVAL_K = 5


@query(
    "ann_ivf_pq_recall_eval",
    oracle=f"""
    WITH x AS (
      SELECT vec_id, label, (g.i - 1) // 16 AS s, g.i AS i,
             CAST(embedding[g.i] AS DOUBLE) AS v
      FROM embeddings CROSS JOIN generate_series(1, 64) g(i)
      WHERE g.i <= len(embedding)
    ),
    nrm AS (SELECT vec_id, sqrt(SUM(v * v)) AS nrm FROM x GROUP BY vec_id),
    -- exact cosine top-5 baseline (ann_cosine_topk semantics)
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id, SUM(q.v * c.v) AS dot
      FROM x q JOIN x c ON q.i = c.i
      WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT query_id, cand_id FROM (
        SELECT query_id, cand_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY dot / (nq.nrm * nc.nrm) DESC, cand_id) AS rnk
        FROM dots
        JOIN nrm nq ON nq.vec_id = query_id
        JOIN nrm nc ON nc.vec_id = cand_id
      ) WHERE rnk <= {_EVAL_K}
    ),
    -- IVF-PQ + rerank pipeline (ann_ivf_pq_rerank semantics)
    cent AS (
      SELECT label, i,
             CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cv
      FROM x GROUP BY label, i
    ),
    cnrm AS (SELECT label, sqrt(SUM(cv * cv)) AS cn FROM cent GROUP BY label),
    cdots AS (
      SELECT x.vec_id, c.label AS cand_label, SUM(x.v * c.cv) AS dot
      FROM x JOIN cent c ON c.i = x.i GROUP BY 1, 2
    ),
    buck AS (
      SELECT vec_id, cand_label AS bucket FROM (
        SELECT cdots.vec_id, cand_label,
               row_number() OVER (PARTITION BY cdots.vec_id
                 ORDER BY dot / (n.nrm * cn.cn) DESC, cand_label) AS rnk
        FROM cdots
        JOIN nrm n ON n.vec_id = cdots.vec_id
        JOIN cnrm cn ON cn.label = cand_label
      ) WHERE rnk = 1
    ),
    cb AS (SELECT vec_id AS code, s, i, v FROM x WHERE vec_id < 16),
    d AS (
      SELECT c.vec_id, b.s, b.code,
             list_reduce(list((c.v - b.v) * (c.v - b.v) ORDER BY c.i),
                         (acc, t) -> acc + t) AS d2
      FROM x c JOIN cb b ON c.i = b.i GROUP BY 1, 2, 3
    ),
    passign AS (
      SELECT vec_id AS cand_id, s, code FROM (
        SELECT vec_id, s, code,
               row_number() OVER (PARTITION BY vec_id, s
                                  ORDER BY d2, code) AS rn
        FROM d
      ) WHERE rn = 1
    ),
    adc AS (
      SELECT q.vec_id AS query_id, a.cand_id,
             SUM(CAST(q.d2 AS DECIMAL(20,10))) AS ad2
      FROM passign a
      JOIN buck ca ON ca.vec_id = a.cand_id
      JOIN d q ON q.s = a.s AND q.code = a.code
      JOIN buck qa ON qa.vec_id = q.vec_id AND qa.bucket = ca.bucket
      WHERE q.vec_id < 5 AND a.cand_id <> q.vec_id
      GROUP BY 1, 2
    ),
    short AS (
      SELECT query_id, cand_id FROM (
        SELECT query_id, cand_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY ad2, cand_id) AS rnk
        FROM adc
      ) WHERE rnk <= 20
    ),
    exact AS (
      SELECT s.query_id, s.cand_id, SUM(q.v * c.v) AS dot
      FROM short s
      JOIN x q ON q.vec_id = s.query_id
      JOIN x c ON c.vec_id = s.cand_id AND c.i = q.i
      GROUP BY 1, 2
    ),
    approx AS (
      SELECT query_id, cand_id FROM (
        SELECT query_id, cand_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY dot DESC, cand_id) AS rnk
        FROM exact
      ) WHERE rnk <= {_EVAL_K}
    ),
    hits AS (
      SELECT t.query_id,
             CAST(COUNT(a.cand_id) AS BIGINT) AS n_hits
      FROM truth t
      LEFT JOIN approx a
        ON a.query_id = t.query_id AND a.cand_id = t.cand_id
      GROUP BY 1
    )
    SELECT query_id, n_hits,
           floor(CAST(n_hits AS DOUBLE) / {_EVAL_K} * 10000 + 0.5) / 10000
             AS recall_at_5,
           floor((SELECT CAST(SUM(n_hits) AS DOUBLE)
                         / (COUNT(*) * {_EVAL_K}) FROM hits)
                 * 10000 + 0.5) / 10000 AS mean_recall
    FROM hits ORDER BY query_id
    """,
)
def ann_ivf_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{k} of the IVF-PQ + exact-rerank pipeline against the
    brute-force cosine top-{k}: per-query hit counts and the mean recall
    a vector-index rollout is gated on.

    Composes the two registered pipelines (`ann_cosine_topk` truth,
    `ann_ivf_pq_rerank` candidate) and joins their {k}-row-per-query
    outputs — the evaluation itself adds one broadcast-sized join, so
    the harness costs what the pipelines cost.
    """.format(k=_EVAL_K)
    truth = (
        QUERIES["ann_cosine_topk"](spark, sf_dir)
        .filter(F.col("rnk") <= _EVAL_K)
        .select("query_id", "cand_id")
    )
    approx = QUERIES["ann_ivf_pq_rerank"](spark, sf_dir).select(
        "query_id", F.col("cand_id").alias("a_cand")
    )
    hits = (
        truth.join(
            approx,
            (truth["query_id"] == approx["query_id"])
            & (truth["cand_id"] == approx["a_cand"]),
            "left",
        )
        .groupBy(truth["query_id"].alias("query_id"))
        .agg(F.count("a_cand").alias("n_hits"))
    )
    mean_r = hits.agg(
        (
            F.sum("n_hits").cast("double")
            / (F.count("*") * _EVAL_K)
        ).alias("mr")
    )
    return (
        hits.crossJoin(F.broadcast(mean_r))
        .select(
            "query_id",
            "n_hits",
            quantize(F.col("n_hits").cast("double") / _EVAL_K, 4).alias(
                "recall_at_5"
            ),
            quantize(F.col("mr"), 4).alias("mean_recall"),
        )
        .orderBy("query_id")
    )


# ------------------------------------------- Jensen-Shannon divergence


@query(
    "text_js_divergence_sources",
    oracle=r"""
    WITH words AS (
      SELECT source, unnest(regexp_split_to_array(lower(trim(text)),
                                                  '\s+')) AS w
      FROM documents
    ),
    sw AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
           FROM words GROUP BY 1, 2),
    cw AS (SELECT w, CAST(SUM(c) AS BIGINT) AS c FROM sw GROUP BY 1),
    stot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n
             FROM sw GROUP BY 1),
    ctot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cw),
    terms AS (
      SELECT s.source,
             CAST(COALESCE(
               0.5 * (sw.c * 1.0 / s.n)
                   * log2((sw.c * 1.0 / s.n)
                          / (0.5 * (sw.c * 1.0 / s.n)
                             + 0.5 * (cw.c * 1.0 / ct.n))), 0)
               + 0.5 * (cw.c * 1.0 / ct.n)
                   * log2((cw.c * 1.0 / ct.n)
                          / (0.5 * (COALESCE(sw.c, 0) * 1.0 / s.n)
                             + 0.5 * (cw.c * 1.0 / ct.n)))
               AS DECIMAL(18,10)) AS term
      FROM cw
      CROSS JOIN stot s
      CROSS JOIN ctot ct
      LEFT JOIN sw ON sw.w = cw.w AND sw.source = s.source
    )
    SELECT source,
           floor(CAST(SUM(term) AS DOUBLE) * 10000 + 0.5) / 10000
             AS jsd_bits
    FROM terms GROUP BY source ORDER BY source
    """,
)
def text_js_divergence_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Jensen-Shannon divergence (bits) between each source's unigram
    distribution p and the corpus distribution q:
    JSD = 0.5*KL(p||m) + 0.5*KL(q||m), m = (p+q)/2 — bounded [0,1],
    symmetric, defined even for words a source never uses (the p-side
    term vanishes; the q-side keeps its mass).

    Each word's contribution is one mirrored double expression quantized
    to DECIMAL(18,10) and summed exactly. Plan: one token count per
    (source, word) — map-side combinable — then a word-keyed join of the
    per-source table against the corpus table (both already partitioned
    by word), with the two total rows broadcast.
    """
    d = load(spark, sf_dir, "documents")
    words = d.select(
        "source",
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("w"),
    )
    sw = words.groupBy("source", "w").agg(F.count("*").alias("c"))
    cw = sw.groupBy("w").agg(F.sum("c").alias("cc"))
    stot = sw.groupBy("source").agg(F.sum("c").alias("n"))
    ctot = cw.agg(F.sum("cc").alias("cn"))
    # full grid: every (source, corpus-word); absent words keep q mass
    grid = (
        cw.crossJoin(F.broadcast(stot))
        .crossJoin(F.broadcast(ctot))
        .join(sw, ["source", "w"], "left")
    )
    p = F.col("c") * 1.0 / F.col("n")
    q = F.col("cc") * 1.0 / F.col("cn")
    m_p = 0.5 * p + 0.5 * q
    m_q = 0.5 * (F.coalesce(F.col("c"), F.lit(0)) * 1.0 / F.col("n")) + 0.5 * q
    term = (
        F.coalesce(0.5 * p * F.log2(p / m_p), F.lit(0.0))
        + 0.5 * q * F.log2(q / m_q)
    ).cast("decimal(18,10)")
    return (
        grid.select("source", term.alias("term"))
        .groupBy("source")
        .agg(
            quantize(F.sum("term").cast("double"), 4).alias("jsd_bits")
        )
        .orderBy("source")
    )


# ------------------------------------------------- Little's law audit


@query(
    "orders_littles_law_audit",
    oracle="""
    WITH done AS (
      SELECT o.o_orderkey, o.o_orderdate,
             MAX(l.l_shipdate) AS done_ts
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ),
    bounds AS (
      SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
             MAX(CAST(done_ts AS DATE)) AS d1
      FROM done
    ),
    days AS (
      SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
      FROM bounds
    ),
    deltas AS (
      SELECT CAST(o_orderdate AS DATE) AS day, 1 AS delta FROM done
      UNION ALL
      SELECT CAST(done_ts AS DATE) AS day, -1 AS delta FROM done
    ),
    daily AS (
      SELECT d.day,
             CAST(SUM(COALESCE(dl.delta, 0)) OVER (ORDER BY d.day
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS wip
      FROM days d
      LEFT JOIN (SELECT day, SUM(delta) AS delta FROM deltas GROUP BY 1) dl
        ON dl.day = d.day
    ),
    monthly_wip AS (
      SELECT date_trunc('month', day) AS mo,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(wip) AS BIGINT) AS wip_days
      FROM daily GROUP BY 1
    ),
    monthly_flow AS (
      SELECT date_trunc('month', CAST(done_ts AS DATE)) AS mo,
             CAST(COUNT(*) AS BIGINT) AS completions,
             CAST(SUM(CAST(epoch(CAST(done_ts AS DATE))
                           - epoch(CAST(o_orderdate AS DATE))
                           AS BIGINT)) AS BIGINT) / 86400 AS cycle_days_sum
      FROM done GROUP BY 1
    )
    SELECT strftime(w.mo, '%Y-%m') AS month,
           w.n_days, COALESCE(f.completions, 0) AS completions,
           floor(CAST(w.wip_days AS DOUBLE) / w.n_days * 10000 + 0.5)
             / 10000 AS avg_wip,
           floor(CAST(f.completions AS DOUBLE) / w.n_days * 10000 + 0.5)
             / 10000 AS throughput_per_day,
           floor(CAST(w.wip_days AS DOUBLE) / w.n_days
                 / NULLIF(CAST(f.completions AS DOUBLE) / w.n_days, 0)
                 * 10000 + 0.5) / 10000 AS w_littles_days,
           floor(CAST(f.cycle_days_sum AS DOUBLE)
                 / NULLIF(f.completions, 0) * 10000 + 0.5) / 10000
             AS w_measured_days
    FROM monthly_wip w
    LEFT JOIN monthly_flow f ON f.mo = w.mo
    ORDER BY w.mo
    """,
)
def orders_littles_law_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's law audit on the order flow: per calendar month, average
    WIP (orders placed but not fully shipped), throughput, the cycle
    time Little's law IMPLIES (W = L/lambda), and the cycle time
    actually measured on that month's completions. Agreement means the
    flow is stationary; divergence flags ramps/backlogs.

    WIP comes from +1/-1 deltas at place/complete dates cumulated over a
    generated day grid (integer arithmetic, one global ordered window
    over ~thousands of days — bounded by calendar span, not order
    volume). Everything else is month-keyed aggregation.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    done = (
        li.join(
            o.select("o_orderkey", "o_orderdate"),
            li["l_orderkey"] == o["o_orderkey"],
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("done_ts"))
        .select(
            F.col("o_orderdate").cast("date").alias("placed"),
            F.col("done_ts").cast("date").alias("completed"),
        )
    )
    # r8: bounds, the two delta arms and the monthly flow rollup each
    # replayed the orders x lineitem join (4 corpus passes per action,
    # no exchange reuse across the subtrees). Fuse them: explode each
    # order into a (placed-day, completed-day) tagged pair, aggregate
    # ONCE to a calendar-bounded per-day frame, and derive all four
    # consumers from that tiny persisted frame.
    cyc = F.unix_timestamp(
        F.col("completed").cast("timestamp")
    ) - F.unix_timestamp(F.col("placed").cast("timestamp"))
    dayf = (
        done.select(
            F.inline(
                F.array(
                    F.struct(
                        F.col("placed").alias("day"),
                        F.lit(1).alias("p"),
                        F.lit(0).alias("c"),
                        F.lit(None).cast("long").alias("cyc"),
                    ),
                    F.struct(
                        F.col("completed").alias("day"),
                        F.lit(0).alias("p"),
                        F.lit(1).alias("c"),
                        cyc.alias("cyc"),
                    ),
                )
            )
        )
        .groupBy("day")
        .agg(
            F.sum("p").alias("placed_n"),
            F.sum("c").alias("completed_n"),
            F.sum("cyc").alias("cyc_sum"),
        )
        .persist()  # calendar-bounded: <= #days rows
    )
    bounds = dayf.agg(
        F.min(F.when(F.col("placed_n") > 0, F.col("day"))).alias("d0"),
        F.max(F.when(F.col("completed_n") > 0, F.col("day"))).alias("d1"),
    )
    days = bounds.select(
        F.explode(
            F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    deltas = dayf.select(
        "day", (F.col("placed_n") - F.col("completed_n")).alias("delta")
    )
    # scale: calendar-bounded (per-day delta table)
    wday = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    daily = days.join(deltas, "day", "left").select(
        "day",
        F.sum(F.coalesce("delta", F.lit(0))).over(wday).alias("wip"),
    )
    monthly_wip = daily.groupBy(
        F.date_trunc("month", "day").alias("mo")
    ).agg(
        F.count("*").alias("n_days"), F.sum("wip").alias("wip_days")
    )
    # only days with >=1 completion contribute, so months without any
    # completion are absent — exactly the oracle's monthly_flow keys
    monthly_flow = (
        dayf.where(F.col("completed_n") > 0)
        .groupBy(F.date_trunc("month", "day").alias("mo"))
        .agg(
            F.sum("completed_n").alias("completions"),
            (F.sum("cyc_sum") / 86400).alias("cycle_days_sum"),
        )
    )
    avg_wip = F.col("wip_days").cast("double") / F.col("n_days")
    thr = F.col("completions").cast("double") / F.col("n_days")
    return (
        monthly_wip.join(monthly_flow, "mo", "left")
        .select(
            F.date_format("mo", "yyyy-MM").alias("month"),
            "n_days",
            F.coalesce("completions", F.lit(0)).alias("completions"),
            quantize(avg_wip, 4).alias("avg_wip"),
            quantize(thr, 4).alias("throughput_per_day"),
            quantize(
                F.try_divide(avg_wip, F.nullif(thr, F.lit(0.0))), 4
            ).alias("w_littles_days"),
            quantize(
                F.try_divide(
                    F.col("cycle_days_sum").cast("double"),
                    F.nullif(F.col("completions"), F.lit(0)).cast(
                        "double"
                    ),
                ), 4
            ).alias("w_measured_days"),
        )
        .orderBy("mo")
        .drop("mo")
    )


# -------------------------------------------- circular hour statistics

_TWO_PI = 6.283185307179586


@query(
    "events_circular_hour_stats",
    oracle=f"""
    WITH ang AS (
      SELECT event_type,
             (date_part('hour', ts) * 60 + date_part('minute', ts))
               * {_TWO_PI} / 1440.0 AS theta
      FROM events
    ),
    m AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(sin(theta) AS DECIMAL(18,12))) AS DOUBLE) AS ss,
             CAST(SUM(CAST(cos(theta) AS DECIMAL(18,12))) AS DOUBLE) AS sc
      FROM ang GROUP BY 1
    )
    SELECT event_type, n,
           floor(CASE WHEN atan2(ss, sc) < 0
                      THEN atan2(ss, sc) + {_TWO_PI}
                      ELSE atan2(ss, sc) END
                 / {_TWO_PI} * 24 * 10000 + 0.5) / 10000
             AS circ_mean_hour,
           floor(sqrt(ss * ss + sc * sc) / n * 10000 + 0.5) / 10000
             AS resultant_r,
           floor((1 - sqrt(ss * ss + sc * sc) / n) * 10000 + 0.5) / 10000
             AS circ_variance
    FROM m ORDER BY event_type
    """,
)
def events_circular_hour_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Circular mean time-of-day, resultant length R, and circular
    variance 1-R per stream: minute-of-day mapped to an angle, unit
    vectors averaged — the correct "when does this stream peak" average
    (naive means break across midnight), with R ~ 1 meaning sharply
    concentrated timing and R ~ 0 uniform-around-the-clock.

    Per-event sin/cos terms are mirrored double expressions quantized to
    DECIMAL(18,12) and summed exactly (map-side combinable); the mean
    direction is scalar atan2 over those exact sums. One aggregation
    over the stream — no windows, no joins.
    """
    e = load(spark, sf_dir, "events")
    theta = (
        (F.hour("ts") * 60 + F.minute("ts")) * _TWO_PI / 1440.0
    )
    m = e.select("event_type", theta.alias("theta")).groupBy(
        "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.sin("theta").cast("decimal(18,12)"))
        .cast("double")
        .alias("ss"),
        F.sum(F.cos("theta").cast("decimal(18,12)"))
        .cast("double")
        .alias("sc"),
    )
    ss, sc, n = F.col("ss"), F.col("sc"), F.col("n")
    ang = F.atan2(ss, sc)
    ang_pos = F.when(ang < 0, ang + _TWO_PI).otherwise(ang)
    r = F.sqrt(ss * ss + sc * sc) / n
    return m.select(
        "event_type",
        "n",
        quantize(ang_pos / _TWO_PI * 24, 4).alias("circ_mean_hour"),
        quantize(r, 4).alias("resultant_r"),
        quantize(1 - r, 4).alias("circ_variance"),
    ).orderBy("event_type")
