"""Round-4 batch 38: SemDeDup-style semantic dedup, chi-square
independence, Markov entropy rate, Holt-Winters seasonal smoothing.

- `dedup_semantic_cluster` — SemDeDup (Abbas et al. 2023): cluster the
  corpus with the coarse quantizer, compare embeddings only WITHIN a
  cluster, and drop every vector that has a lower-id neighbor above the
  cosine threshold — the semantic near-dup pass that survives at
  corpus scale because candidate pairs are bucket-bounded, never
  corpus-quadratic.
- `events_chi_square_independence` — the chi-square test of
  independence between event type and time-of-day band (plus Cramer's
  V effect size): the categorical-association readout behind every
  "does segment X behave differently?" question.
- `events_markov_entropy_rate` — per-state Shannon entropy of the
  user-journey transition matrix and each state's weighted
  contribution to the chain's entropy rate: how predictable is the
  next step of a session (builds on `events_markov_transitions`).
- `events_holt_winters` — additive Holt-Winters (level + trend +
  24-hour seasonal) over hourly stream volume: the seasonal
  forecaster `events_holt_trend` lacks. The coupled 3-component
  recurrence folds per-stream in applyInPandas; the oracle carries the
  full seasonal vector through a DuckDB recursive CTE as a LIST column
  — both engines evaluate the same double expression tree in the same
  order, so values match bit-for-bit before quantization.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import (
    DUCK_TS_FMT,
    QUERIES,
    SPARK_TS_FMT,
    quantize,
    query,
)
from arkflow_spark.tables import load


# ------------------------------------------------ semantic dedup (SemDeDup)

SEM_TAU = 0.40  # cosine threshold — matches dedup_embedding_* on this corpus

# the coarse-quantizer assignment, shared with ann_ivf_search's oracle
_IVF_CTES = """
    x AS (
      SELECT vec_id, label, g.i AS i, CAST(embedding[g.i] AS DOUBLE) AS v
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
      FROM x JOIN cent c ON c.i = x.i
      GROUP BY 1, 2
    ),
    buck AS (
      SELECT vec_id, cand_label AS bucket
      FROM (
        SELECT cdots.vec_id, cand_label,
               row_number() OVER (PARTITION BY cdots.vec_id
                 ORDER BY dot / (n.nrm * cn.cn) DESC, cand_label) AS rnk
        FROM cdots
        JOIN nrm n ON n.vec_id = cdots.vec_id
        JOIN cnrm cn ON cn.label = cand_label
      ) WHERE rnk = 1
    )
"""


@query(
    "dedup_semantic_cluster",
    oracle=f"""
    WITH {_IVF_CTES},
    pairs AS (
      SELECT ba.bucket, a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM buck ba
      JOIN buck bb ON bb.bucket = ba.bucket AND ba.vec_id < bb.vec_id
      JOIN x a ON a.vec_id = ba.vec_id
      JOIN x b ON b.vec_id = bb.vec_id AND b.i = a.i
      JOIN nrm na ON na.vec_id = ba.vec_id
      JOIN nrm nb ON nb.vec_id = bb.vec_id
      GROUP BY ba.bucket, a.vec_id, b.vec_id, na.nrm, nb.nrm
      HAVING SUM(a.v * b.v) / (na.nrm * nb.nrm) >= {SEM_TAU}
    ),
    removed AS (
      SELECT bucket, vec_b AS vec_id FROM pairs GROUP BY 1, 2
    ),
    per_bucket AS (
      SELECT bucket, COUNT(*) AS n_vectors FROM buck GROUP BY 1
    )
    SELECT p.bucket, CAST(p.n_vectors AS BIGINT) AS n_vectors,
           CAST(COALESCE(pr.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(COALESCE(r.n_removed, 0) AS BIGINT) AS n_removed
    FROM per_bucket p
    LEFT JOIN (SELECT bucket, COUNT(*) AS n_pairs FROM pairs GROUP BY 1) pr
      ON pr.bucket = p.bucket
    LEFT JOIN (SELECT bucket, COUNT(*) AS n_removed FROM removed GROUP BY 1) r
      ON r.bucket = p.bucket
    ORDER BY p.bucket
    """,
)
def dedup_semantic_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: coarse-cluster the corpus (IVF assignment), compare
    embeddings only within a cluster, and mark every vector with a
    lower-id neighbor at cosine >= {t} as removed (the paper's
    keep-one-representative policy, one deterministic pass).

    Scale shape: candidate pairs are bucket-bounded (sum of
    per-cluster-size^2, the SemDeDup contract), never corpus-quadratic;
    the pair join is bucket-keyed, so on a bucket-partitioned index it
    runs co-located with zero extra exchange. Norms compute once per
    vector; removal and the per-bucket rollup are map-side-combinable
    counts.
    """.format(t=SEM_TAU)
    from arkflow_spark.queries.vector_q import _dot, _norm

    e = load(spark, sf_dir, "embeddings")
    assigned = (
        QUERIES["ann_ivf_assign"](spark, sf_dir)
        .select("vec_id", F.col("assigned_label").alias("bucket"))
        .persist()
    )
    withv = e.join(assigned, "vec_id").select(
        "vec_id", "bucket", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    a = withv.select(
        F.col("vec_id").alias("vec_a"),
        "bucket",
        F.col("embedding").alias("e_a"),
        F.col("nrm").alias("n_a"),
    )
    b = withv.select(
        F.col("vec_id").alias("vec_b"),
        F.col("bucket").alias("bucket_b"),
        F.col("embedding").alias("e_b"),
        F.col("nrm").alias("n_b"),
    )
    pairs = (
        a.join(
            b,
            (F.col("bucket") == F.col("bucket_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .filter(
            _dot(F.col("e_a"), F.col("e_b"))
            / (F.col("n_a") * F.col("n_b"))
            >= SEM_TAU
        )
        .select("bucket", "vec_a", "vec_b")
        .persist()
    )
    per_bucket = assigned.groupBy("bucket").agg(
        F.count("*").alias("n_vectors")
    )
    n_pairs = pairs.groupBy("bucket").agg(F.count("*").alias("n_pairs"))
    n_removed = (
        pairs.select("bucket", "vec_b")
        .distinct()
        .groupBy("bucket")
        .agg(F.count("*").alias("n_removed"))
    )
    return (
        per_bucket.join(F.broadcast(n_pairs), "bucket", "left")
        .join(F.broadcast(n_removed), "bucket", "left")
        .select(
            "bucket",
            "n_vectors",
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------- chi-square independence


@query(
    "events_chi_square_independence",
    oracle="""
    WITH obs AS (
      SELECT event_type, CAST(date_part('hour', ts) // 4 AS BIGINT) AS band,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ),
    rows_t AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS row_n
               FROM obs GROUP BY 1),
    cols_t AS (SELECT band, CAST(SUM(o) AS BIGINT) AS col_n
               FROM obs GROUP BY 1),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
    grid AS (
      SELECT r.event_type, c.band, r.row_n, c.col_n,
             COALESCE(ob.o, 0) AS o
      FROM rows_t r
      CROSS JOIN cols_t c
      LEFT JOIN obs ob
        ON ob.event_type = r.event_type AND ob.band = c.band
    ),
    terms AS (
      SELECT CAST(
               pow(o - CAST(row_n AS DOUBLE) * col_n / t.n, 2)
               / (CAST(row_n AS DOUBLE) * col_n / t.n)
               AS DECIMAL(18,8)) AS term
      FROM grid CROSS JOIN tot t
    ),
    dims AS (
      SELECT (SELECT COUNT(*) FROM rows_t) AS r,
             (SELECT COUNT(*) FROM cols_t) AS c
    )
    SELECT t.n,
           CAST(d.r AS BIGINT) AS n_rows, CAST(d.c AS BIGINT) AS n_cols,
           CAST((d.r - 1) * (d.c - 1) AS BIGINT) AS dof,
           floor(CAST(s.chi2 AS DOUBLE) * 10000 + 0.5) / 10000 AS chi2,
           floor(sqrt(CAST(s.chi2 AS DOUBLE)
                      / NULLIF(t.n * LEAST(d.r - 1, d.c - 1), 0))
                 * 10000 + 0.5) / 10000 AS cramers_v
    FROM (SELECT SUM(term) AS chi2 FROM terms) s
    CROSS JOIN tot t CROSS JOIN dims d
    """,
)
def events_chi_square_independence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Chi-square independence of event type x 4-hour time band, with
    Cramer's V: O/E over the FULL type-x-band grid (zero-count cells
    contribute their expected mass — dropping them understates chi2).

    Each (O-E)^2/E term is one mirrored double expression quantized to
    DECIMAL(18,8), so the sum over the grid is exact and order-free.
    Plan: one map-side-combinable count over the stream; everything
    after operates on a #types x #bands grid (tens of rows) built from
    broadcast marginals.
    """
    e = load(spark, sf_dir, "events")
    obs = e.groupBy(
        "event_type",
        F.floor(F.hour("ts") / 4).cast("bigint").alias("band"),
    ).agg(F.count("*").alias("o")).persist()
    # ^ types x bands grid feeding marginals/total/grid branches —
    # one raw-stream rollup instead of five
    rows_t = obs.groupBy("event_type").agg(F.sum("o").alias("row_n"))
    cols_t = obs.groupBy("band").agg(F.sum("o").alias("col_n"))
    tot = obs.agg(F.sum("o").alias("n"))
    grid = (
        rows_t.crossJoin(F.broadcast(cols_t))
        .join(F.broadcast(obs), ["event_type", "band"], "left")
        .select(
            "event_type",
            "band",
            "row_n",
            "col_n",
            F.coalesce("o", F.lit(0)).alias("o"),
        )
        .crossJoin(F.broadcast(tot))
    )
    exp = F.col("row_n").cast("double") * F.col("col_n") / F.col("n")
    terms = grid.select(
        (F.pow(F.col("o") - exp, 2) / exp)
        .cast("decimal(18,8)")
        .alias("term")
    )
    chi2 = terms.agg(F.sum("term").alias("chi2"))
    dims = rows_t.agg(F.count("*").alias("r")).crossJoin(
        cols_t.agg(F.count("*").alias("c"))
    )
    return (
        chi2.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(dims))
        .select(
            "n",
            F.col("r").alias("n_rows"),
            F.col("c").alias("n_cols"),
            ((F.col("r") - 1) * (F.col("c") - 1)).alias("dof"),
            quantize(F.col("chi2").cast("double"), 4).alias("chi2"),
            quantize(
                F.sqrt(
                    F.try_divide(
                        F.col("chi2").cast("double"),
                        F.nullif(
                            F.col("n")
                            * F.least(F.col("r") - 1, F.col("c") - 1),
                            F.lit(0),
                        ),
                    )
                ), 4
            ).alias("cramers_v"),
        )
    )


# --------------------------------------------- Markov chain entropy rate


@query(
    "events_markov_entropy_rate",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ),
    t AS (
      SELECT prev, event_type AS next, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE prev IS NOT NULL
      GROUP BY prev, next
    ),
    row_tot AS (SELECT prev, CAST(SUM(n) AS BIGINT) AS row_n
                FROM t GROUP BY prev),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM t),
    h AS (
      SELECT t.prev,
             SUM(CAST(-(CAST(t.n AS DOUBLE) / r.row_n)
                       * log2(CAST(t.n AS DOUBLE) / r.row_n)
                       AS DECIMAL(18,8))) AS h_row
      FROM t JOIN row_tot r ON r.prev = t.prev
      GROUP BY t.prev
    )
    SELECT h.prev, r.row_n AS n_out,
           floor(CAST(h.h_row AS DOUBLE) * 10000 + 0.5) / 10000 AS h_bits,
           floor(CAST(r.row_n AS DOUBLE) / tt.total * 10000 + 0.5) / 10000
             AS pi,
           floor(CAST(r.row_n AS DOUBLE) / tt.total
                 * CAST(h.h_row AS DOUBLE) * 10000 + 0.5) / 10000
             AS rate_contribution
    FROM h
    JOIN row_tot r ON r.prev = h.prev
    CROSS JOIN tot tt
    ORDER BY h.prev
    """,
)
def events_markov_entropy_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-state Shannon entropy (bits) of the user-journey Markov
    chain and each state's weighted contribution to the chain's entropy
    rate H = sum_i pi_i * H_i (pi = empirical transition share) — the
    session-predictability score on top of `events_markov_transitions`.

    Each -p*log2(p) term is one mirrored double expression quantized to
    DECIMAL(18,8), summed exactly per state. The transition matrix is
    #types^2 rows, so everything past the lag window + count is
    broadcast-sized.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    t = seq.groupBy("prev", F.col("event_type").alias("next")).agg(
        F.count("*").alias("n")
    )
    row_tot = t.groupBy("prev").agg(F.sum("n").alias("row_n"))
    tot = t.agg(F.sum("n").alias("total"))
    p = F.col("n").cast("double") / F.col("row_n")
    h = (
        t.join(F.broadcast(row_tot), "prev")
        .select("prev", ((-p) * F.log2(p)).cast("decimal(18,8)").alias("term"))
        .groupBy("prev")
        .agg(F.sum("term").alias("h_row"))
    )
    return (
        h.join(F.broadcast(row_tot), "prev")
        .crossJoin(F.broadcast(tot))
        .select(
            "prev",
            F.col("row_n").alias("n_out"),
            quantize(F.col("h_row").cast("double"), 4).alias("h_bits"),
            quantize(F.col("row_n").cast("double") / F.col("total"), 4).alias(
                "pi"
            ),
            quantize(
                F.col("row_n").cast("double")
                / F.col("total")
                * F.col("h_row").cast("double"), 4
            ).alias("rate_contribution"),
        )
        .orderBy("prev")
    )


# ---------------------------------------- Holt-Winters seasonal smoothing

_HW_A = 0.5   # level
_HW_B = 0.3   # trend
_HW_G = 0.2   # seasonal
_HW_M = 24    # season length (hours)


@query(
    "events_holt_winters",
    oracle=f"""
    WITH RECURSIVE hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS y,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY date_trunc('hour', ts)) AS rn
      FROM events GROUP BY 1, 2
    ),
    init AS (
      SELECT event_type,
             list(y ORDER BY rn) AS ys,
             list(h ORDER BY rn) AS hs
      FROM hourly WHERE rn <= {_HW_M}
      GROUP BY event_type
      HAVING COUNT(*) = {_HW_M}
    ),
    anchor AS (
      SELECT event_type,
             hs[{_HW_M}] AS h, ys[{_HW_M}] AS y, {_HW_M} AS rn,
             list_reduce(ys, (a, b) -> a + b) / {_HW_M} AS lvl,
             CAST(0.0 AS DOUBLE) AS trend,
             list_transform(
               ys, v -> v - list_reduce(ys, (a, b) -> a + b) / {_HW_M}
             ) AS s
      FROM init
    ),
    rec AS (
      SELECT event_type, h, y, rn, lvl, trend, s FROM anchor
      UNION ALL
      SELECT e.event_type, e.h, e.y, e.rn,
             {_HW_A} * (e.y - r.s[1]) + {1 - _HW_A} * (r.lvl + r.trend),
             {_HW_B} * (({_HW_A} * (e.y - r.s[1])
                         + {1 - _HW_A} * (r.lvl + r.trend)) - r.lvl)
               + {1 - _HW_B} * r.trend,
             list_append(
               r.s[2:{_HW_M}],
               {_HW_G} * (e.y - ({_HW_A} * (e.y - r.s[1])
                                 + {1 - _HW_A} * (r.lvl + r.trend)))
                 + {1 - _HW_G} * r.s[1]
             )
      FROM hourly e JOIN rec r
        ON e.event_type = r.event_type AND e.rn = r.rn + 1
    )
    SELECT event_type, strftime(h, '{DUCK_TS_FMT}') AS h,
           floor(y * 10000 + 0.5) / 10000 AS y,
           floor(lvl * 10000 + 0.5) / 10000 AS level,
           floor(trend * 10000 + 0.5) / 10000 AS trend,
           floor(s[{_HW_M}] * 10000 + 0.5) / 10000 AS season,
           floor((lvl + trend + s[1]) * 10000 + 0.5) / 10000
             AS forecast_next
    FROM rec
    ORDER BY event_type, rn
    """,
)
def events_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (alpha={a}, beta={b}, gamma={g}, season
    m={m} hours) over each stream's hourly volume: level + trend +
    repeating daily seasonal, emitted from the anchor (first full
    season, mean-anchored init) onward; `forecast_next` adds the
    seasonal of the upcoming hour. Streams shorter than one season are
    excluded in both engines.

    The 3-component recurrence (s_t needs s_t-m; l_t needs s_t-m AND
    l_t-1, b_t-1) is not expressible in any window frame, so the
    AGGREGATED hourly series folds per-stream in applyInPandas (the
    `events_holt_trend` discipline — heavy reduction first, Python
    touches hours not events). The oracle carries the seasonal vector
    as a LIST through a recursive CTE; identical double expression
    trees in identical order make the match exact pre-quantization.
    """.format(a=_HW_A, b=_HW_B, g=_HW_G, m=_HW_M)
    import pandas as pd

    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("y")
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("h", kind="stable").reset_index(drop=True)
        m = _HW_M
        if len(pdf) < m:
            return pd.DataFrame(
                {
                    "event_type": pd.Series(dtype="object"),
                    "h": pd.Series(dtype="datetime64[us]"),
                    "y": pd.Series(dtype="float64"),
                    "level": pd.Series(dtype="float64"),
                    "trend": pd.Series(dtype="float64"),
                    "season": pd.Series(dtype="float64"),
                    "forecast_next": pd.Series(dtype="float64"),
                }
            )
        ys = [float(v) for v in pdf["y"]]
        # left-fold sum, mirroring the oracle's list_reduce
        acc = ys[0]
        for v in ys[1:m]:
            acc = acc + v
        lvl = acc / m
        trend = 0.0
        s = [v - lvl for v in ys[:m]]
        out_rows = [(m - 1, lvl, trend, s[m - 1], lvl + trend + s[0])]
        for i in range(m, len(ys)):
            yv = ys[i]
            l_new = _HW_A * (yv - s[0]) + (1 - _HW_A) * (lvl + trend)
            trend = _HW_B * (l_new - lvl) + (1 - _HW_B) * trend
            s_new = _HW_G * (yv - l_new) + (1 - _HW_G) * s[0]
            s = s[1:] + [s_new]
            lvl = l_new
            out_rows.append((i, lvl, trend, s_new, lvl + trend + s[0]))
        idx = [r[0] for r in out_rows]
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"].iloc[idx].values,
                "h": pdf["h"].iloc[idx].values,
                "y": pdf["y"].iloc[idx].astype("float64").values,
                "level": [r[1] for r in out_rows],
                "trend": [r[2] for r in out_rows],
                "season": [r[3] for r in out_rows],
                "forecast_next": [r[4] for r in out_rows],
            }
        )

    sm = hourly.groupBy("event_type").applyInPandas(
        fold,
        "event_type STRING, h TIMESTAMP, y DOUBLE, level DOUBLE,"
        " trend DOUBLE, season DOUBLE, forecast_next DOUBLE",
    )
    return sm.select(
        "event_type",
        F.date_format("h", SPARK_TS_FMT).alias("h"),
        quantize(F.col("y"), 4).alias("y"),
        quantize(F.col("level"), 4).alias("level"),
        quantize(F.col("trend"), 4).alias("trend"),
        quantize(F.col("season"), 4).alias("season"),
        quantize(F.col("forecast_next"), 4).alias("forecast_next"),
    ).orderBy("event_type", "h")
