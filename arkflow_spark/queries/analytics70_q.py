"""Round-5 batch 70: ranking-quality AUC, importance-weight health,
stylometric source distance.

- `events_roc_auc` — exact ROC AUC (tie-aware, = the Mann-Whitney U
  statistic normalized) of `value` as a classifier score separating
  purchases from views: computed from per-distinct-value positive /
  negative counts and a cumulative negative count, never a global
  per-row rank. The standard "is this feature a usable signal"
  number.
- `documents_importance_ess` — effective sample size of the
  importance weights that reweight the observed source mix to the
  uniform target mix: ESS = (sum w)^2 / sum w^2. ESS << N means the
  reweighted corpus is secretly a handful of documents — the
  diagnostic that decides between importance weighting and
  resampling for a training mix.
- `text_burrows_delta` — Burrows' Delta between document sources over
  the top-20 corpus words: z-score each source's relative word
  frequencies across sources, Delta(a,b) = mean |z_a - z_b|. The
  classic stylometric / authorship distance (Burrows 2002); near-zero
  Delta between two "different" sources flags a shared generator —
  a contamination signal for provenance audits.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ exact tied AUC


@query(
    "events_roc_auc",
    oracle="""
    WITH lab AS (
      SELECT value AS s,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE event_type IN ('purchase', 'view')
    ),
    per_v AS (
      SELECT s,
             CAST(SUM(y) AS BIGINT) AS n1v,
             CAST(SUM(1 - y) AS BIGINT) AS n0v
      FROM lab GROUP BY s
    ),
    cum AS (
      SELECT s, n1v, n0v,
             CAST(COALESCE(SUM(n0v) OVER (ORDER BY s
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS n0_below
      FROM per_v
    ),
    tot AS (
      SELECT CAST(SUM(n1v) AS BIGINT) AS n1,
             CAST(SUM(n0v) AS BIGINT) AS n0,
             CAST(SUM(n1v * (2 * n0_below + n0v)) AS BIGINT) AS u2
      FROM cum
    )
    SELECT n1 AS n_pos, n0 AS n_neg,
           floor(u2 * 1.0 / (2.0 * n1 * n0) * 10000 + 0.5) / 10000 AS auc
    FROM tot
    """,
)
def events_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware ROC AUC of `value` separating purchases (pos)
    from views (neg): per distinct score, positive/negative counts;
    2U = sum over scores of n1(s) * (2 * negatives below + negatives
    tied) — ties contribute the standard half credit; AUC = U/(n1 n0),
    all in exact integer arithmetic until the single final division.

    Scale shape: one rollup to the distinct-score grid, then a
    cumulative count over that grid — the events table's `value` is a
    fixed-precision tick grid (2dp), so the cumulative window runs
    over a value-grid-bounded table, not the corpus.
    """
    e = load(spark, sf_dir, "events")
    lab = e.filter(F.col("event_type").isin("purchase", "view")).select(
        F.col("value").alias("s"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    per_v = lab.groupBy("s").agg(
        F.sum("y").cast("bigint").alias("n1v"),
        F.sum(1 - F.col("y")).cast("bigint").alias("n0v"),
    )
    # scale: tick-grid-bounded window (distinct 2dp scores), same
    # class as the kendall-tau / quantile tick grids — not corpus-scaled
    wc = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    cum = per_v.select(
        "s",
        "n1v",
        "n0v",
        F.coalesce(F.sum("n0v").over(wc), F.lit(0))
        .cast("bigint")
        .alias("n0_below"),
    )
    tot = cum.agg(
        F.sum("n1v").cast("bigint").alias("n1"),
        F.sum("n0v").cast("bigint").alias("n0"),
        F.sum(
            F.col("n1v") * (2 * F.col("n0_below") + F.col("n0v"))
        )
        .cast("bigint")
        .alias("u2"),
    )
    return tot.select(
        F.col("n1").alias("n_pos"),
        F.col("n0").alias("n_neg"),
        quantize(
            F.col("u2") * 1.0 / (2.0 * F.col("n1") * F.col("n0")), 4
        ).alias("auc"),
    )


# ------------------------------------------------ importance-weight ESS


@query(
    "documents_importance_ess",
    oracle="""
    WITH src AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM src
    ),
    wtd AS (
      SELECT s.source, s.n_docs,
             floor(t.n * 1.0 / (t.k * s.n_docs) * 1000000 + 0.5)
               / 1000000 AS w
      FROM src s CROSS JOIN tot t
    ),
    sums AS (
      SELECT CAST(SUM(CAST(n_docs AS DECIMAL(18,0))
                      * CAST(w AS DECIMAL(18,6))) AS DOUBLE) AS sw,
             CAST(SUM(CAST(n_docs AS DECIMAL(18,0))
                      * CAST(floor(w * w * 1000000 + 0.5) / 1000000
                             AS DECIMAL(18,6))) AS DOUBLE) AS sw2
      FROM wtd
    )
    SELECT w.source, w.n_docs, w.w AS weight,
           floor(w.n_docs * w.w / s.sw * 10000 + 0.5) / 10000
             AS weight_share,
           floor(s.sw * s.sw / s.sw2 * 10000 + 0.5) / 10000
             AS ess_overall,
           floor(s.sw * s.sw / s.sw2 / t.n * 10000 + 0.5) / 10000
             AS ess_ratio
    FROM wtd w CROSS JOIN sums s CROSS JOIN tot t
    ORDER BY w.source
    """,
)
def documents_importance_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-weight health for reweighting the observed source
    mix to the uniform target: per-source weight w_s = target share /
    observed share (6dp-quantized), the Kish effective sample size
    ESS = (sum w)^2 / sum w^2 over documents, and ESS/N. ESS/N near 1
    = benign reweighting; << 1 = a few under-represented sources
    dominate and resampling (or mix capping, see
    `documents_domain_cap_sample`) beats weighting.

    Scale shape: one source rollup (source-bounded); weights and both
    moment sums are per-source closed forms — no per-document pass
    beyond the first count.
    """
    d = load(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    tot = src.agg(
        F.sum("n_docs").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("k"),
    )
    wtd = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n",
        quantize(F.col("n") * 1.0 / (F.col("k") * F.col("n_docs")), 6).alias(
            "w"
        ),
    )
    sums = wtd.agg(
        F.sum(
            F.col("n_docs").cast("decimal(18,0)")
            * F.col("w").cast("decimal(18,6)")
        )
        .cast("double")
        .alias("sw"),
        F.sum(
            F.col("n_docs").cast("decimal(18,0)")
            * quantize(F.col("w") * F.col("w"), 6).cast("decimal(18,6)")
        )
        .cast("double")
        .alias("sw2"),
    )
    return (
        wtd.crossJoin(F.broadcast(sums))
        .select(
            "source",
            "n_docs",
            F.col("w").alias("weight"),
            quantize(F.col("n_docs") * F.col("w") / F.col("sw"), 4).alias(
                "weight_share"
            ),
            quantize(F.col("sw") * F.col("sw") / F.col("sw2"), 4).alias(
                "ess_overall"
            ),
            quantize(
                F.col("sw") * F.col("sw") / F.col("sw2") / F.col("n"), 4
            ).alias("ess_ratio"),
        )
        .orderBy("source")
    )


# ------------------------------------------------ Burrows' Delta

_DELTA_M = 20


@query(
    "text_burrows_delta",
    oracle=f"""
    WITH tok AS (
      SELECT source,
             unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents
    ),
    topw AS (
      SELECT w FROM (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY w
      ) ORDER BY c DESC, w LIMIT {_DELTA_M}
    ),
    src_tot AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS t
      FROM tok GROUP BY source
    ),
    freq AS (
      SELECT st.source, tw.w,
             floor(COALESCE(c.c, 0) * 1.0 / st.t * 1000000 + 0.5)
               / 1000000 AS f
      FROM src_tot st CROSS JOIN topw tw
      LEFT JOIN (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY source, w
      ) c ON c.source = st.source AND c.w = tw.w
    ),
    mom AS (
      SELECT w,
             CAST(SUM(CAST(f AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*) AS mu,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM freq GROUP BY w
    ),
    dev AS (
      SELECT f.w,
             CAST(SUM(CAST(floor((f.f - m.mu) * (f.f - m.mu) * 1000000
                                 + 0.5) / 1000000
                           AS DECIMAL(18,6))) AS DOUBLE) / m.k AS v
      FROM freq f JOIN mom m USING (w)
      GROUP BY f.w, m.k
    ),
    z AS (
      SELECT f.source, f.w, (f.f - m.mu) / sqrt(d.v) AS z
      FROM freq f
      JOIN mom m USING (w)
      JOIN dev d ON d.w = f.w
      WHERE d.v > 0
    )
    SELECT a.source AS source_a, b.source AS source_b,
           floor(CAST(SUM(CAST(floor(abs(a.z - b.z) * 1000000 + 0.5)
                                / 1000000 AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*) * 10000 + 0.5) / 10000 AS delta
    FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
    GROUP BY a.source, b.source
    ORDER BY source_a, source_b
    """,
)
def text_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta between every source pair over the top-{m}
    corpus words: per-source relative frequencies (6dp-quantized),
    z-scored per word across sources (population sd over the
    source-bounded panel), Delta = mean |z_a - z_b|. All reductions
    are decimal-quantized so both engines agree bit-for-bit.

    Scale shape: one token explode feeding two rollups (per-source
    totals + per-source-word counts); the top-{m} word head is ORDER
    BY + LIMIT (TakeOrderedAndProject); every later stage runs on the
    sources x {m} panel — source-bounded, never corpus-scaled.
    """.format(m=_DELTA_M)
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "source",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("w"),
    )
    # ONE explode pass: the (source, word) count table is vocabulary-
    # bounded and both the corpus top-M head and the per-source totals
    # are re-aggregations of it — persist it instead of replaying the
    # token explode three times.
    sw = tok.groupBy("source", "w").agg(
        F.count("*").cast("bigint").alias("c")
    ).persist()
    topw = (
        sw.groupBy("w")
        .agg(F.sum("c").cast("bigint").alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(_DELTA_M)
        .select("w")
    )
    src_tot = sw.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("t")
    )
    freq = (
        src_tot.crossJoin(F.broadcast(topw))
        .join(sw, ["source", "w"], "left")
        .select(
            "source",
            "w",
            quantize(
                F.coalesce(F.col("c"), F.lit(0)) * 1.0 / F.col("t"), 6
            ).alias("f"),
        )
        .persist()  # sources x M panel; feeds mom, dev, and both z sides
    )
    mom = freq.groupBy("w").agg(
        (
            F.sum(F.col("f").cast("decimal(18,6)")).cast("double")
            / F.count("*")
        ).alias("mu"),
        F.count("*").cast("bigint").alias("k"),
    )
    dev = (
        freq.join(F.broadcast(mom), "w")
        .groupBy("w", "k")
        .agg(
            (
                F.sum(
                    quantize(
                        (F.col("f") - F.col("mu"))
                        * (F.col("f") - F.col("mu")), 6
                    ).cast("decimal(18,6)")
                ).cast("double")
                / F.col("k")
            ).alias("v")
        )
        .select("w", "v")
    )
    z = (
        freq.join(F.broadcast(mom), "w")
        .join(F.broadcast(dev), "w")
        .filter(F.col("v") > 0)
        .select(
            "source",
            "w",
            ((F.col("f") - F.col("mu")) / F.sqrt(F.col("v"))).alias("z"),
        )
    )
    a = z.select(
        F.col("source").alias("source_a"), "w", F.col("z").alias("za")
    )
    b = z.select(
        F.col("source").alias("source_b"), "w", F.col("z").alias("zb")
    )
    return (
        a.join(b, "w")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            quantize(
                F.sum(
                    quantize(F.abs(F.col("za") - F.col("zb")), 6).cast(
                        "decimal(18,6)"
                    )
                ).cast("double")
                / F.count("*"), 4
            ).alias("delta")
        )
        .orderBy("source_a", "source_b")
    )
