"""Round-4 batch 40: survivorship golden records, winsorized robust
stats, IVF-PQ + exact rerank, GPD peaks-over-threshold tail fit.

- `documents_survivorship_golden` — MDM survivorship: group exact-dup
  documents and elect ONE golden record per cluster by a deterministic
  rule cascade (longest text, then lexicographically-first source, then
  lowest id) — what master-data and dedup pipelines emit downstream
  instead of a bare "these are dups" pair list.
- `events_winsorized_stats` — per-stream mean/std after clamping to the
  empirical [p05, p95]: the robust-moments standard for metric streams
  whose raw mean a single spike can drag (complements
  `agg_trimmed_mean`, which DROPS the tails instead of clamping).
- `ann_ivf_pq_rerank` — the full production ANN pipeline: IVF bucket
  prune -> PQ/ADC shortlist (top-20) -> EXACT cosine rerank of the
  shortlist (top-5). ADC compresses 64x but mis-ranks near ties; the
  rerank touches only k' exact vectors per query, so accuracy costs
  O(k') not O(bucket).
- `events_gpd_pot_fit` — extreme-value tail modelling: fit a
  Generalized Pareto to the excesses over each stream's p90 via
  probability-weighted moments (closed form, no iteration):
  xi = 2 - b0/(b0 - 2*b1), sigma = 2*b0*b1/(b0 - 2*b1). The
  peaks-over-threshold partner of `events_hill_tail_index` (Hill
  assumes xi > 0; GPD/PWM also covers light tails).

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import QUERIES, quantize, query
from arkflow_spark.queries.pq_q import K, SUB, _d2, _subspaces
from arkflow_spark.tables import load


# --------------------------------------------- survivorship golden record


@query(
    "documents_survivorship_golden",
    oracle=r"""
    WITH fp AS (
      SELECT doc_id, source, n_chars,
             md5(array_to_string(list_sort(list_distinct(
               regexp_split_to_array(lower(trim(text)), '\s+'))), ' '))
               AS fp
      FROM documents
    ),
    clusters AS (
      SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) >= 2
    ),
    ranked AS (
      SELECT f.fp, f.doc_id, f.source, f.n_chars,
             row_number() OVER (PARTITION BY f.fp
               ORDER BY f.n_chars DESC, f.source, f.doc_id) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY f.fp) AS BIGINT) AS n_members
      FROM fp f JOIN clusters c ON c.fp = f.fp
    )
    SELECT fp, n_members,
           doc_id AS golden_doc, source AS golden_source,
           n_chars AS golden_chars,
           n_members - 1 AS n_superseded
    FROM ranked WHERE rn = 1
    ORDER BY fp
    """,
)
def documents_survivorship_golden(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Survivorship: cluster documents on the normalized VOCABULARY-SET
    fingerprint (sorted distinct words — catches rearranged/repeated
    template spam byte-exact hashing misses), then elect ONE golden
    record per >= 2-member cluster by the rule cascade longest-text ->
    first-source -> lowest-id, reporting how many records it supersedes.

    Plan shape: one narrow fingerprint projection (codegen split/sort —
    no Python), one fingerprint-keyed window (the same single shuffle
    dedup_exact pays — cluster filter and ranking share it), emitted
    golden rows only. At 100 TB the fingerprint key is uniform 128-bit
    — no skew, no second shuffle.
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        F.md5(
            F.concat_ws(
                " ",
                F.array_sort(
                    F.array_distinct(
                        F.split(F.lower(F.trim(F.col("text"))), r"\s+")
                    )
                ),
            )
        ).alias("fp"),
    )
    wn = Window.partitionBy("fp")
    wrk = Window.partitionBy("fp").orderBy(
        F.desc("n_chars"), F.asc("source"), F.asc("doc_id")
    )
    ranked = d.select(
        "fp",
        "doc_id",
        "source",
        "n_chars",
        F.count("*").over(wn).alias("n_members"),
        F.row_number().over(wrk).alias("rn"),
    )
    return (
        ranked.filter((F.col("n_members") >= 2) & (F.col("rn") == 1))
        .select(
            "fp",
            "n_members",
            F.col("doc_id").alias("golden_doc"),
            F.col("source").alias("golden_source"),
            F.col("n_chars").alias("golden_chars"),
            (F.col("n_members") - 1).alias("n_superseded"),
        )
        .orderBy("fp")
    )


# ------------------------------------------------- winsorized moments


@query(
    "events_winsorized_stats",
    oracle="""
    WITH ranked AS (
      SELECT event_type, value,
             CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY value
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM events
    ),
    bounds AS (
      SELECT event_type,
             MIN(CASE WHEN cum * 20 >= n THEN value END) AS p05,
             MIN(CASE WHEN cum * 20 >= n * 19 THEN value END) AS p95
      FROM ranked GROUP BY 1
    ),
    clamped AS (
      SELECT e.event_type, b.p05, b.p95,
             LEAST(GREATEST(e.value, b.p05), b.p95) AS w
      FROM events e JOIN bounds b ON b.event_type = e.event_type
    ),
    m AS (
      SELECT event_type, p05, p95, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(w AS DECIMAL(18,6))) AS DOUBLE) AS s,
             CAST(SUM(CAST(w * w AS DECIMAL(24,6))) AS DOUBLE) AS q
      FROM clamped GROUP BY 1, 2, 3
    )
    SELECT event_type, n,
           floor(p05 * 10000 + 0.5) / 10000 AS p05,
           floor(p95 * 10000 + 0.5) / 10000 AS p95,
           floor(s / n * 10000 + 0.5) / 10000 AS win_mean,
           floor(sqrt((q - s * s / n) / NULLIF(n - 1, 0))
                 * 10000 + 0.5) / 10000 AS win_std
    FROM m ORDER BY event_type
    """,
)
def events_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean/std per stream: clamp values to the empirical
    [p05, p95] (rank-based, integer fractile test cum*20 >= n — no
    double ECDF) and compute moments from exact decimal sums of the
    clamped values.

    Plan shape: one per-stream cumulative window finds both bounds in a
    single pass; bounds re-join as a broadcast (one row per stream);
    clamping is codegen scalar work feeding one map-side-combinable
    moment agg.
    """
    e = load(spark, sf_dir, "events")
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy("event_type")
    ranked = e.select(
        "event_type",
        "value",
        F.count("*").over(wcum).alias("cum"),
        F.count("*").over(wn).alias("n"),
    )
    bounds = ranked.groupBy("event_type").agg(
        F.min(
            F.when(F.col("cum") * 20 >= F.col("n"), F.col("value"))
        ).alias("p05"),
        F.min(
            F.when(F.col("cum") * 20 >= F.col("n") * 19, F.col("value"))
        ).alias("p95"),
    )
    clamped = e.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "p05",
        "p95",
        F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
        .alias("w"),
    )
    m = clamped.groupBy("event_type", "p05", "p95").agg(
        F.count("*").alias("n"),
        F.sum(F.col("w").cast("decimal(18,6)")).cast("double").alias("s"),
        F.sum((F.col("w") * F.col("w")).cast("decimal(24,6)"))
        .cast("double")
        .alias("q"),
    )
    n, s, q = F.col("n"), F.col("s"), F.col("q")
    return m.select(
        "event_type",
        "n",
        quantize(F.col("p05"), 4).alias("p05"),
        quantize(F.col("p95"), 4).alias("p95"),
        quantize(s / n, 4).alias("win_mean"),
        quantize(
            F.sqrt(
                F.try_divide(q - s * s / n, F.nullif(n - 1, F.lit(0)))
            ), 4
        ).alias("win_std"),
    ).orderBy("event_type")


# -------------------------------------------- IVF-PQ with exact rerank

N_QUERIES = 5
SHORTLIST = 20
RERANK_K = 5


@query(
    "ann_ivf_pq_rerank",
    oracle=f"""
    WITH x AS (
      SELECT vec_id, label, (g.i - 1) // {SUB} AS s, g.i AS i,
             CAST(embedding[g.i] AS DOUBLE) AS v
      FROM embeddings CROSS JOIN generate_series(1, 64) g(i)
      WHERE g.i <= len(embedding)
    ),
    nrm AS (SELECT vec_id, sqrt(SUM(v * v)) AS nrm FROM x GROUP BY vec_id),
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
    cb AS (SELECT vec_id AS code, s, i, v FROM x WHERE vec_id < {K}),
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
      WHERE q.vec_id < {N_QUERIES} AND a.cand_id <> q.vec_id
      GROUP BY 1, 2
    ),
    short AS (
      SELECT query_id, cand_id FROM (
        SELECT query_id, cand_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY ad2, cand_id) AS rnk
        FROM adc
      ) WHERE rnk <= {SHORTLIST}
    ),
    exact AS (
      SELECT s.query_id, s.cand_id, SUM(q.v * c.v) AS dot
      FROM short s
      JOIN x q ON q.vec_id = s.query_id
      JOIN x c ON c.vec_id = s.cand_id AND c.i = q.i
      GROUP BY 1, 2
    )
    SELECT query_id, cand_id,
           ROUND(dot / (nq.nrm * nc.nrm), 6) AS cosine, rnk
    FROM (
      SELECT query_id, cand_id, dot,
             row_number() OVER (PARTITION BY query_id
               ORDER BY dot DESC, cand_id) AS rnk
      FROM exact
    )
    JOIN nrm nq ON nq.vec_id = query_id
    JOIN nrm nc ON nc.vec_id = cand_id
    WHERE rnk <= {RERANK_K}
    ORDER BY query_id, rnk
    """,
)
def ann_ivf_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full production ANN pipeline: IVF bucket prune -> PQ/ADC
    shortlist (top-{sl}) -> exact-cosine rerank of the shortlist
    (top-{k}). The exact pass touches {sl} vectors per query instead of
    the whole bucket, recovering the ties ADC's 64x compression blurs.

    Scale shape: everything up to the shortlist is `ann_ivf_pq_search`
    (codes + broadcast ADC tables, bucket-pruned); the rerank joins the
    {sl}-row-per-query shortlist back to raw embeddings — a broadcast
    lookup at any corpus size.
    """.format(sl=SHORTLIST, k=RERANK_K)
    from arkflow_spark.queries.vector_q import _dot, _norm

    e = load(spark, sf_dir, "embeddings")
    assigned = (
        QUERIES["ann_ivf_assign"](spark, sf_dir)
        .select("vec_id", F.col("assigned_label").alias("bucket"))
        .persist()
    )
    cb = _subspaces(e.filter(F.col("vec_id") < K), "code")
    # corpus -> PQ codes from the materialized code index (r8,
    # functions/pq.pq_codes), + bucket id
    from arkflow_spark.queries.pq_q import pq_codes

    codes = (
        pq_codes(spark, sf_dir)
        .select(F.col("vec_id").alias("cand_id"), "s", "code")
        .join(assigned.withColumnRenamed("vec_id", "cand_id"), "cand_id")
    )
    qd = (
        _subspaces(e.filter(F.col("vec_id") < N_QUERIES), "query_id")
        .join(F.broadcast(cb.withColumnRenamed("sub", "cb_sub")), "s")
        .select(
            "query_id",
            "s",
            "code",
            _d2(F.col("sub"), F.col("cb_sub")).alias("d2"),
        )
        .join(assigned.withColumnRenamed("vec_id", "query_id"), "query_id")
    )
    adc = (
        codes.join(F.broadcast(qd), ["s", "code", "bucket"])
        .filter(F.col("cand_id") != F.col("query_id"))
        .groupBy("query_id", "cand_id")
        .agg(F.sum(F.col("d2").cast("decimal(20,10)")).alias("ad2"))
    )
    wshort = Window.partitionBy("query_id").orderBy(
        F.asc("ad2"), F.asc("cand_id")
    )
    short = (
        adc.withColumn("rnk", F.row_number().over(wshort))
        .filter(F.col("rnk") <= SHORTLIST)
        .select("query_id", "cand_id")
    )
    withn = e.select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    qv = withn.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_n"),
    )
    cv = withn.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_n"),
    )
    exact = (
        short.join(F.broadcast(qv), "query_id")
        .join(cv, "cand_id")
        .select(
            "query_id",
            "cand_id",
            _dot(F.col("q_emb"), F.col("c_emb")).alias("dot"),
            (F.col("q_n") * F.col("c_n")).alias("nn"),
        )
    )
    wrr = Window.partitionBy("query_id").orderBy(
        F.desc("dot"), F.asc("cand_id")
    )
    return (
        exact.withColumn("rnk", F.row_number().over(wrr))
        .filter(F.col("rnk") <= RERANK_K)
        .select(
            "query_id",
            "cand_id",
            F.round(F.col("dot") / F.col("nn"), 6).alias("cosine"),
            "rnk",
        )
        .orderBy("query_id", "rnk")
    )


# ---------------------------------------- GPD peaks-over-threshold fit


@query(
    "events_gpd_pot_fit",
    oracle="""
    WITH ranked AS (
      SELECT event_type, value,
             CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY value
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
               AS n_all
      FROM events
    ),
    thr AS (
      SELECT event_type,
             MIN(CASE WHEN cum * 10 >= n_all * 9 THEN value END) AS u
      FROM ranked GROUP BY 1
    ),
    exc AS (
      SELECT e.event_type, t.u, e.value - t.u AS y,
             row_number() OVER (PARTITION BY e.event_type
               ORDER BY e.value - t.u, e.event_id) AS i,
             CAST(COUNT(*) OVER (PARTITION BY e.event_type) AS BIGINT)
               AS n
      FROM events e JOIN thr t ON t.event_type = e.event_type
      WHERE e.value > t.u
    ),
    pwm AS (
      SELECT event_type, u, n,
             CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) / n AS b0,
             CAST(SUM(CAST((n - i) / (n - 1.0) * y AS DECIMAL(24,10)))
                  AS DOUBLE) / n AS b1
      FROM exc
      WHERE n >= 2
      GROUP BY 1, 2, 3
    )
    SELECT event_type, n AS n_excesses,
           floor(u * 10000 + 0.5) / 10000 AS threshold_p90,
           floor((2 - b0 / NULLIF(b0 - 2 * b1, 0)) * 10000 + 0.5) / 10000
             AS xi_shape,
           floor((2 * b0 * b1 / NULLIF(b0 - 2 * b1, 0)) * 10000 + 0.5)
             / 10000 AS sigma_scale
    FROM pwm ORDER BY event_type
    """,
)
def events_gpd_pot_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized-Pareto fit to each stream's excesses over its
    empirical p90, via probability-weighted moments (Hosking/Wallis
    1987 closed form): b0 = mean excess, b1 = alpha_1 = E[Y*(1-F(Y))]
    estimated with the descending plotting position (n-i)/(n-1) over
    ascending ranks i, xi = 2 - b0/(b0-2*b1), sigma =
    2*b0*b1/(b0-2*b1). Sanity anchors (test_gpd_sanity): exponential
    excesses => xi ~ 0, sigma ~ mean, and sigma > 0 always. A positive
    xi confirms a heavy tail (cross-check `events_hill_tail_index`);
    xi < 0 bounds the tail.

    The weighted moment accumulates as exact DECIMAL(24,10) of
    per-point mirrored doubles ((n-i)/(n-1) is an IEEE-exact-inputs
    division); the p90 threshold is the integer fractile test
    cum*10 >= 9n. Plan: one cumulative window for the threshold, a
    broadcast threshold join, one rank window over the ~10% excess
    subset, one moment agg.
    """
    e = load(spark, sf_dir, "events")
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy("event_type")
    ranked = e.select(
        "event_type",
        "value",
        F.count("*").over(wcum).alias("cum"),
        F.count("*").over(wn).alias("n_all"),
    )
    thr = ranked.groupBy("event_type").agg(
        F.min(
            F.when(
                F.col("cum") * 10 >= F.col("n_all") * 9, F.col("value")
            )
        ).alias("u")
    )
    wrk = Window.partitionBy("event_type").orderBy(
        (F.col("value") - F.col("u")).asc(), F.asc("event_id")
    )
    exc = (
        e.join(F.broadcast(thr), "event_type")
        .filter(F.col("value") > F.col("u"))
        .select(
            "event_type",
            "u",
            (F.col("value") - F.col("u")).alias("y"),
            F.row_number().over(wrk).alias("i"),
            F.count("*").over(wn).alias("n"),
        )
    )
    pwm = (
        exc.filter(F.col("n") >= 2)
        .groupBy("event_type", "u", "n")
        .agg(
            (
                F.sum(F.col("y").cast("decimal(18,6)")).cast("double")
                / F.col("n")
            ).alias("b0"),
            (
                F.sum(
                    (
                        (F.col("n") - F.col("i"))
                        / (F.col("n") - 1.0)
                        * F.col("y")
                    ).cast("decimal(24,10)")
                ).cast("double")
                / F.col("n")
            ).alias("b1"),
        )
    )
    b0, b1 = F.col("b0"), F.col("b1")
    den = F.nullif(b0 - 2 * b1, F.lit(0.0))
    return pwm.select(
        "event_type",
        F.col("n").alias("n_excesses"),
        quantize(F.col("u"), 4).alias("threshold_p90"),
        quantize(2 - F.try_divide(b0, den), 4).alias("xi_shape"),
        quantize(F.try_divide(2 * b0 * b1, den), 4).alias("sigma_scale"),
    ).orderBy("event_type")
