"""Round-3 fourth-session batch 2: kNN label propagation, corpus n-gram
novelty, chunk-boundary overlap dedup, Holt trend smoothing, and
Mahalanobis outliers.

- `ann_knn_classify` — k-nearest-neighbor majority-vote labeling of a
  held-out embedding split: the label-propagation / weak-supervision step
  a training pipeline runs to extend sparse labels over a corpus.
- `documents_ngram_novelty` — per-document fraction of 3-gram shingles
  never seen in any earlier document: the marginal-value curve used to
  decide when more of a source stops adding information.
- `dedup_chunk_overlap` — documents whose trailing word window equals
  another document's leading window: the chunking-artifact /
  boundary-duplication detector (overlapping windows from the same
  upstream splitter), which whole-doc and Jaccard dedup both miss.
- `events_holt_trend` — Holt double exponential smoothing (level+trend)
  over per-type hourly series; the recurrence is data-dependent, folded
  per key in `applyInPandas`, oracled by a recursive CTE replaying the
  SAME double arithmetic in the SAME order (bitwise-identical folds).
- `events_mahalanobis_outlier` — 2-feature (value x hour-of-day)
  Mahalanobis distance per event from exact-decimal per-type moments;
  the correlated-features outlier gate z-scores can't express.
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
from arkflow_spark.queries.dedup_q import _ORACLE_SHINGLES, _shingles
from arkflow_spark.queries.vector_q import _ORACLE_EXPLODED, _dot, _norm
from arkflow_spark.tables import load


# -------------------------------------------------- kNN classification

_KNN_K = 5


@query(
    "ann_knn_classify",
    oracle=f"""
    WITH {_ORACLE_EXPLODED},
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id, SUM(q.v * c.v) AS dot
      FROM x q JOIN x c ON q.i = c.i
      WHERE q.vec_id % 10 = 0 AND c.vec_id % 10 <> 0
      GROUP BY 1, 2
    ),
    top AS (
      SELECT query_id, cand_id
      FROM (
        SELECT query_id, cand_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dot / (nq.nrm * nc.nrm) DESC,
                                           cand_id) AS rnk
        FROM dots
        JOIN nrm nq ON nq.vec_id = query_id
        JOIN nrm nc ON nc.vec_id = cand_id
      ) WHERE rnk <= {_KNN_K}
    ),
    votes AS (
      SELECT t.query_id, e.label, COUNT(*) AS votes
      FROM top t JOIN embeddings e ON e.vec_id = t.cand_id
      GROUP BY 1, 2
    ),
    winner AS (
      SELECT query_id, label AS predicted, votes
      FROM (
        SELECT query_id, label, votes,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY votes DESC, label) AS r
        FROM votes
      ) WHERE r = 1
    )
    SELECT w.query_id AS vec_id, e.label AS true_label, w.predicted,
           w.votes, e.label = w.predicted AS correct
    FROM winner w JOIN embeddings e ON e.vec_id = w.query_id
    ORDER BY vec_id
    """,
)
def ann_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN (k={k}) cosine majority-vote classification of the held-out
    10%% split (vec_id %% 10 = 0) against the remaining labeled vectors —
    label propagation for weak supervision. Ties break to (votes DESC,
    label ASC) so the vote is deterministic.

    Scale shape: the query split broadcasts (it is the small side by
    construction); candidates stream through one narrow scoring stage;
    per-query state is bounded at k rows by the rank filter, then a
    k-row-per-query aggregation. Swap the brute-force score for the IVF
    bucket probe (`ann_ivf_search`) at corpus scale — the vote logic is
    unchanged. The scoring stage's parallelism is split-bounded, so the
    fan-out guard repartitions single-row-group test files first.
    """.format(k=_KNN_K)
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
        "query_id", "true_label", "cand_id", "label",
        (_dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_n") * F.col("c_n"))
         ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    top = scored.select(
        "query_id", "true_label", "label",
        F.row_number().over(w).alias("rnk"),
    ).filter(F.col("rnk") <= _KNN_K)
    votes = top.groupBy("query_id", "true_label", "label").agg(
        F.count("*").alias("votes")
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("label")
    )
    return (
        votes.select(
            F.col("query_id").alias("vec_id"), "true_label",
            F.col("label").alias("predicted"), "votes",
            F.row_number().over(wv).alias("r"),
        )
        .filter(F.col("r") == 1)
        .select(
            "vec_id", "true_label", "predicted", "votes",
            (F.col("true_label") == F.col("predicted")).alias("correct"),
        )
        .orderBy("vec_id")
    )


# -------------------------------------------------- n-gram novelty


@query(
    "documents_ngram_novelty",
    oracle=f"""
    WITH {_ORACLE_SHINGLES},
    first_seen AS (
      SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle
    )
    SELECT sh.doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           floor(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*) * 10000 + 0.5) / 10000 AS novelty
    FROM sh JOIN first_seen f USING (shingle)
    GROUP BY sh.doc_id
    ORDER BY doc_id
    """,
)
def documents_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct 3-gram
    shingles that no EARLIER doc (smaller doc_id = earlier ingest)
    contains. Plotted over ingest order this is the marginal-information
    curve of a source — the signal dedup-aware data curation uses to stop
    crawling an exhausted domain.

    Shape: shingle -> min(doc_id) aggregation (one shuffle on shingle,
    map-side combinable), joined back to the shingle list and re-reduced
    per doc (second shuffle on doc_id). Both keys are high-cardinality
    and uniform; no skew, no broadcast needed — linear at 100 TB.
    """
    sh = _shingles(spark, sf_dir).persist()
    first_seen = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        sh.join(first_seen, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            novel.cast("bigint").alias("n_novel"),
            quantize(novel * 1.0 / F.count("*"), 4).alias("novelty"),
        )
        .orderBy("doc_id")
    )


# -------------------------------------------------- chunk-boundary overlap

_EDGE_W = 4  # words per edge window (small: synthetic 30-word vocab;
             # real corpora use 50-200-char windows, same plan)


@query(
    "dedup_chunk_overlap",
    oracle=rf"""
    WITH docs AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
      FROM documents
    ),
    edges AS (
      SELECT doc_id,
             md5(array_to_string(w[1:{_EDGE_W}], ' ')) AS head_fp,
             md5(array_to_string(w[len(w)-{_EDGE_W - 1}:len(w)], ' '))
               AS tail_fp
      FROM docs WHERE len(w) >= {_EDGE_W}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.tail_fp AS boundary_fp
    FROM edges a JOIN edges b
      ON a.tail_fp = b.head_fp AND a.doc_id <> b.doc_id
    ORDER BY doc_a, doc_b
    """,
)
def dedup_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-boundary duplication: doc A's LAST {w} words equal doc B's
    FIRST {w} words — the signature of an upstream splitter emitting
    overlapping windows of one source text. Whole-doc hashing misses it
    (different docs) and Jaccard under-scores it (overlap is {w} words of
    much longer docs); comparing edge fingerprints finds it exactly.

    One narrow projection computes both edge md5s per doc, then a single
    equi-join on the 128-bit fingerprint — uniform key, one shuffle,
    fan-out bounded by true boundary-duplicate multiplicity.
    """.format(w=_EDGE_W)
    d = load(spark, sf_dir, "documents")
    dw = d.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("w")
    ).filter(F.size("w") >= _EDGE_W)
    edges = dw.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice("w", 1, _EDGE_W))).alias("head_fp"),
        F.md5(
            F.concat_ws(
                " ", F.slice("w", F.size("w") - (_EDGE_W - 1), _EDGE_W)
            )
        ).alias("tail_fp"),
    )
    a, b = edges.alias("a"), edges.alias("b")
    return (
        a.join(
            b,
            (F.col("a.tail_fp") == F.col("b.head_fp"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.tail_fp").alias("boundary_fp"),
        )
        .orderBy("doc_a", "doc_b")
    )


# -------------------------------------------------- Holt trend smoothing

_HOLT_A = 0.5  # level smoothing (binary-exact literal)
_HOLT_B = 0.3  # trend smoothing


@query(
    "events_holt_trend",
    oracle=f"""
    WITH RECURSIVE hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS y,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY date_trunc('hour', ts)) AS rn
      FROM events GROUP BY 1, 2
    ),
    rec AS (
      SELECT event_type, h, y, rn, y AS lvl, CAST(0.0 AS DOUBLE) AS trend
      FROM hourly WHERE rn = 1
      UNION ALL
      SELECT e.event_type, e.h, e.y, e.rn,
             {_HOLT_A}e0 * e.y + {1 - _HOLT_A}e0 * (r.lvl + r.trend),
             {_HOLT_B}e0 * (({_HOLT_A}e0 * e.y + {1 - _HOLT_A}e0 * (r.lvl + r.trend))
                          - r.lvl)
               + {1 - _HOLT_B}e0 * r.trend
      FROM hourly e JOIN rec r
        ON e.event_type = r.event_type AND e.rn = r.rn + 1
    )
    SELECT event_type, strftime(h, '{DUCK_TS_FMT}') AS h,
           floor(y * 10000 + 0.5) / 10000 AS y,
           floor(lvl * 10000 + 0.5) / 10000 AS level,
           floor(trend * 10000 + 0.5) / 10000 AS trend,
           floor((lvl + trend) * 10000 + 0.5) / 10000 AS forecast_next
    FROM rec
    ORDER BY event_type, h
    """,
)
def events_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (level + trend, alpha={a},
    beta={b}) over each event type's hourly volume series — the
    short-horizon forecaster capacity planning runs on ingest streams;
    `forecast_next` is the one-step-ahead prediction l_t + b_t.

    The recurrence couples level and trend (l_t needs b_t-1, b_t needs
    l_t AND l_t-1) — not expressible in any fixed window frame, so the
    hourly series (built with one exact-decimal aggregation) folds per
    event_type in `applyInPandas`. Both engines evaluate the SAME double
    expression tree in the SAME sequential order, so the recursive-CTE
    oracle matches bit-for-bit before the 4-decimal quantization.

    Scale: the fold input is the AGGREGATED series (hours, not raw
    events) — at 100 TB each key's series is still ~10^4 points; the
    heavy reduction runs distributed before the per-key fold.
    """.format(a=_HOLT_A, b=_HOLT_B)
    import pandas as pd

    e = load(spark, sf_dir, "events")
    hourly = (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("y")
        )
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("h", kind="stable").reset_index(drop=True)
        lvl = [0.0] * len(pdf)
        trd = [0.0] * len(pdf)
        for i, y in enumerate(pdf["y"]):
            y = float(y)
            if i == 0:
                lvl[i], trd[i] = y, 0.0
            else:
                l_new = _HOLT_A * y + (1 - _HOLT_A) * (lvl[i - 1] + trd[i - 1])
                trd[i] = (
                    _HOLT_B * (l_new - lvl[i - 1]) + (1 - _HOLT_B) * trd[i - 1]
                )
                lvl[i] = l_new
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"],
                "h": pdf["h"],
                "y": pdf["y"].astype("float64"),
                "level": pd.Series(lvl, dtype="float64"),
                "trend": pd.Series(trd, dtype="float64"),
            }
        )

    sm = hourly.groupBy("event_type").applyInPandas(
        fold,
        "event_type STRING, h TIMESTAMP, y DOUBLE, level DOUBLE, "
        "trend DOUBLE",
    )
    return sm.select(
        "event_type",
        F.date_format("h", SPARK_TS_FMT).alias("h"),
        quantize(F.col("y"), 4).alias("y"),
        quantize(F.col("level"), 4).alias("level"),
        quantize(F.col("trend"), 4).alias("trend"),
        quantize(F.col("level") + F.col("trend"), 4).alias("forecast_next"),
    ).orderBy("event_type", "h")


# -------------------------------------------------- Mahalanobis outliers

_MAHA_T = 9.0  # d^2 threshold ~ 3 sigma in each independent direction


@query(
    "events_mahalanobis_outlier",
    oracle=f"""
    WITH feat AS (
      SELECT event_id, event_type, ts, value AS x1,
             CAST(EXTRACT(hour FROM ts) AS DOUBLE) AS x2
      FROM events
    ),
    mom AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(x1 AS DECIMAL(18,6))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(x2 AS DECIMAL(18,6))) AS DOUBLE) AS s2,
             CAST(SUM(CAST(x1 * x1 AS DECIMAL(28,6))) AS DOUBLE) AS s11,
             CAST(SUM(CAST(x2 * x2 AS DECIMAL(28,6))) AS DOUBLE) AS s22,
             CAST(SUM(CAST(x1 * x2 AS DECIMAL(28,6))) AS DOUBLE) AS s12
      FROM feat GROUP BY event_type
    ),
    par AS (
      SELECT event_type, s1 / n AS m1, s2 / n AS m2,
             s11 / n - (s1 / n) * (s1 / n) AS v1,
             s22 / n - (s2 / n) * (s2 / n) AS v2,
             s12 / n - (s1 / n) * (s2 / n) AS cv
      FROM mom
    )
    SELECT event_id, f.event_type,
           strftime(ts, '{DUCK_TS_FMT}') AS ts, x1 AS value,
           CAST(x2 AS BIGINT) AS hr,
           floor(((x1 - m1) * (x1 - m1) * v2
                  - 2 * (x1 - m1) * (x2 - m2) * cv
                  + (x2 - m2) * (x2 - m2) * v1)
                 / (v1 * v2 - cv * cv) * 10000 + 0.5) / 10000 AS d2
    FROM feat f JOIN par USING (event_type)
    WHERE ((x1 - m1) * (x1 - m1) * v2
           - 2 * (x1 - m1) * (x2 - m2) * cv
           + (x2 - m2) * (x2 - m2) * v1)
          / (v1 * v2 - cv * cv) > {_MAHA_T}
    ORDER BY event_id
    """,
)
def events_mahalanobis_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate Mahalanobis outliers per event type over (value,
    hour-of-day): distance accounts for the covariance between load and
    time that independent z-scores (`events_anomaly_zscore`) ignore. The
    2x2 covariance inverse is closed-form, so d^2 is a pure row
    expression: d2 = (dx1^2 v2 - 2 dx1 dx2 cv + dx2^2 v1) / det.

    Moments come from ONE exact-decimal aggregation per type (sums,
    squares, cross-product — map-side combinable), broadcast back; the
    scoring pass is narrow. Both engines derive doubles from identical
    decimal sums and evaluate the identical expression tree, so the
    driver hash matches. Flags d^2 > {t} (~3 sigma).
    """.format(t=_MAHA_T)
    e = load(spark, sf_dir, "events")
    feat = e.select(
        "event_id", "event_type", "ts",
        F.col("value").alias("x1"),
        F.hour("ts").cast("double").alias("x2"),
    )
    mom = feat.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x1").cast("decimal(18,6)")).cast("double").alias("s1"),
        F.sum(F.col("x2").cast("decimal(18,6)")).cast("double").alias("s2"),
        F.sum((F.col("x1") * F.col("x1")).cast("decimal(28,6)"))
        .cast("double").alias("s11"),
        F.sum((F.col("x2") * F.col("x2")).cast("decimal(28,6)"))
        .cast("double").alias("s22"),
        F.sum((F.col("x1") * F.col("x2")).cast("decimal(28,6)"))
        .cast("double").alias("s12"),
    )
    par = mom.select(
        "event_type",
        (F.col("s1") / F.col("n")).alias("m1"),
        (F.col("s2") / F.col("n")).alias("m2"),
        (F.col("s11") / F.col("n")
         - (F.col("s1") / F.col("n")) * (F.col("s1") / F.col("n"))).alias("v1"),
        (F.col("s22") / F.col("n")
         - (F.col("s2") / F.col("n")) * (F.col("s2") / F.col("n"))).alias("v2"),
        (F.col("s12") / F.col("n")
         - (F.col("s1") / F.col("n")) * (F.col("s2") / F.col("n"))).alias("cv"),
    )
    j = feat.join(F.broadcast(par), "event_type")
    dx1, dx2 = F.col("x1") - F.col("m1"), F.col("x2") - F.col("m2")
    d2 = (
        dx1 * dx1 * F.col("v2")
        - 2 * dx1 * dx2 * F.col("cv")
        + dx2 * dx2 * F.col("v1")
    ) / (F.col("v1") * F.col("v2") - F.col("cv") * F.col("cv"))
    return (
        j.filter(d2 > _MAHA_T)
        .select(
            "event_id", "event_type",
            F.date_format("ts", SPARK_TS_FMT).alias("ts"),
            F.col("x1").alias("value"),
            F.col("x2").cast("bigint").alias("hr"),
            quantize(d2, 4).alias("d2"),
        )
        .orderBy("event_id")
    )
