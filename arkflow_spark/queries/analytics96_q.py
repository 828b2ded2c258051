"""Round-5 batch 96: distributional fit check, traffic concentration,
cross-table coverage.

- `orders_lognormal_fit_check` — lognormal moment fit of order values
  per priority: mu/sigma from exact log-moments, then the implied
  median and P90 next to the exact observed order statistics. Implied
  far from observed = the lognormal convenience assumption (used by
  every quick revenue simulation) is wrong for this book.
- `events_user_concentration` — traffic bus-factor per stream: the
  top user's share and the top-5 share of events. A stream owned by
  one user is a bot or a single-tenant dependency — either way its
  trend stats (`events_trend_movers`) describe that user, not the
  product.
- `dq_embedding_coverage` — cross-table coverage: the share of
  documents with an embedding row (vec_id = doc_id), per source.
  Sources with coverage below 1.0 silently vanish from every
  vector-side analysis (`ann_*`, `embedding_*`) — the gate that says
  whether "the corpus" and "the index" are the same population.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ lognormal check

# z quantile for P90 of the standard normal, 6dp literal so both
# engines use the identical constant (no engine erf/quantile calls)
_Z90 = 1.281552


@query(
    "orders_lognormal_fit_check",
    oracle=f"""
    WITH lx AS (
      SELECT o_orderpriority AS priority, o_totalprice AS v,
             floor(ln(o_totalprice) * 1000000 + 0.5) / 1000000 AS lv
      FROM orders WHERE o_totalprice > 0
    ),
    mom AS (
      SELECT priority,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(lv AS DECIMAL(18,6))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(floor(lv * lv * 1000000 + 0.5) / 1000000
                  AS DECIMAL(18,6))) AS DOUBLE) AS s2
      FROM lx GROUP BY priority
    ),
    ranked AS (
      SELECT priority, v,
             row_number() OVER (PARTITION BY priority ORDER BY v)
               AS rn,
             COUNT(*) OVER (PARTITION BY priority) AS cnt
      FROM lx
    ),
    obs AS (
      SELECT priority,
             MAX(CASE WHEN rn = CAST(ceil(0.5 * cnt) AS BIGINT)
                 THEN v END) AS obs_median,
             MAX(CASE WHEN rn = CAST(ceil(0.9 * cnt) AS BIGINT)
                 THEN v END) AS obs_p90
      FROM ranked GROUP BY priority
    )
    SELECT m.priority, m.n AS n_orders,
           floor(exp(m.s1 / m.n) * 100 + 0.5) / 100
             AS implied_median,
           floor(o.obs_median * 100 + 0.5) / 100 AS observed_median,
           floor(exp(m.s1 / m.n + {_Z90}
                     * sqrt((m.s2 - m.s1 * m.s1 / m.n) / (m.n - 1)))
                 * 100 + 0.5) / 100 AS implied_p90,
           floor(o.obs_p90 * 100 + 0.5) / 100 AS observed_p90,
           floor(exp(m.s1 / m.n + {_Z90}
                     * sqrt((m.s2 - m.s1 * m.s1 / m.n) / (m.n - 1)))
                 / o.obs_p90 * 10000 + 0.5) / 10000 AS p90_ratio
    FROM mom m JOIN obs o USING (priority)
    ORDER BY m.priority
    """,
)
def orders_lognormal_fit_check(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lognormal sanity check per order priority: fit mu/sigma from
    exact log-moments (6dp-quantized logs, decimal sums), then
    compare the implied median exp(mu) and P90 exp(mu + z90 sigma)
    against the exact rank-selected observed quantiles. A p90_ratio
    far from 1 means lognormal-based simulations misprice the tail —
    check before using the fit, not after the forecast misses.

    Scale shape: one log-moment rollup + one per-priority rank window
    (priority-bounded partitions); constant-size closed forms.
    """
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    lx = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").alias("v"),
        quantize(F.log("o_totalprice"), 6).alias("lv"),
    )
    mom = lx.groupBy("priority").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("lv").cast("decimal(18,6)"))
        .cast("double")
        .alias("s1"),
        F.sum(
            quantize(F.col("lv") * F.col("lv"), 6).cast("decimal(18,6)")
        )
        .cast("double")
        .alias("s2"),
    )
    wp = Window.partitionBy("priority")
    ranked = lx.select(
        "priority",
        "v",
        F.row_number().over(wp.orderBy("v")).alias("rn"),
        F.count("*").over(wp).alias("cnt"),
    )
    sel = lambda q: F.max(
        F.when(
            F.col("rn") == F.ceil(q * F.col("cnt")).cast("bigint"),
            F.col("v"),
        )
    )
    obs = ranked.groupBy("priority").agg(
        sel(0.5).alias("obs_median"), sel(0.9).alias("obs_p90")
    )
    mu = F.col("s1") / F.col("n")
    sig = F.sqrt(
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
        / (F.col("n") - 1)
    )
    return (
        mom.join(obs, "priority")
        .select(
            "priority",
            F.col("n").alias("n_orders"),
            quantize(F.exp(mu), 2).alias("implied_median"),
            quantize(F.col("obs_median"), 2).alias("observed_median"),
            quantize(F.exp(mu + _Z90 * sig), 2).alias("implied_p90"),
            quantize(F.col("obs_p90"), 2).alias("observed_p90"),
            quantize(F.exp(mu + _Z90 * sig) / F.col("obs_p90"), 4).alias(
                "p90_ratio"
            ),
        )
        .orderBy("priority")
    )


# ------------------------------------------------ user concentration


@query(
    "events_user_concentration",
    oracle="""
    WITH per_user AS (
      SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, c,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY c DESC, user_id) AS rn,
             CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT)
               AS tot,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
               AS n_users
      FROM per_user
    )
    SELECT event_type,
           MAX(n_users) AS n_users,
           floor(MAX(CASE WHEN rn = 1 THEN c END) * 1.0 / MAX(tot)
                 * 10000 + 0.5) / 10000 AS top1_share,
           floor(SUM(CASE WHEN rn <= 5 THEN c ELSE 0 END) * 1.0
                 / MAX(tot) * 10000 + 0.5) / 10000 AS top5_share
    FROM ranked GROUP BY event_type ORDER BY event_type
    """,
)
def events_user_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Traffic bus-factor per stream: the single biggest user's event
    share and the top-5 share. Shares near 1 mean the stream's
    aggregate statistics describe one tenant (or one bot), and any
    per-stream trend or anomaly verdict should be re-run with that
    user excluded.

    Scale shape: one (stream, user) rollup; the top-k rank executes
    as WindowGroupLimit-eligible rank filter over per-stream
    partitions; shares from exact integer sums.
    """
    e = load(spark, sf_dir, "events")
    per_user = e.groupBy("event_type", "user_id").agg(
        F.count("*").cast("bigint").alias("c")
    )
    wp = Window.partitionBy("event_type")
    ranked = per_user.select(
        "event_type",
        "c",
        F.row_number()
        .over(wp.orderBy(F.col("c").desc(), "user_id"))
        .alias("rn"),
        F.sum("c").over(wp).cast("bigint").alias("tot"),
        F.count("*").over(wp).cast("bigint").alias("n_users"),
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.max("n_users").alias("n_users"),
            quantize(
                F.max(F.when(F.col("rn") == 1, F.col("c")))
                * 1.0
                / F.max("tot"), 4
            ).alias("top1_share"),
            quantize(
                F.sum(F.when(F.col("rn") <= 5, F.col("c")).otherwise(0))
                * 1.0
                / F.max("tot"), 4
            ).alias("top5_share"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------------ embedding coverage


@query(
    "dq_embedding_coverage",
    oracle="""
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN e.vec_id IS NULL THEN 0 ELSE 1 END)
                AS BIGINT) AS n_embedded,
           floor(SUM(CASE WHEN e.vec_id IS NULL THEN 0 ELSE 1 END)
                 * 1.0 / COUNT(*) * 10000 + 0.5) / 10000 AS coverage,
           SUM(CASE WHEN e.vec_id IS NULL THEN 1 ELSE 0 END) > 0
             AS has_gaps
    FROM documents d
    LEFT JOIN embeddings e ON e.vec_id = d.doc_id
    GROUP BY d.source ORDER BY d.source
    """,
)
def dq_embedding_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table coverage gate: per source, the share of documents
    that have an embedding row (vec_id = doc_id). Below-1.0 coverage
    means the vector index is a biased sample of the corpus and every
    retrieval/dedup number computed on it under-represents those
    sources — the cross-modal member of the DQ gate family.

    Scale shape: one left anti-style join (embeddings keys
    broadcast-eligible), one source rollup.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    e = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id")
    )
    j = d.join(F.broadcast(e), d.doc_id == e.vec_id, "left")
    return (
        j.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("vec_id").isNull(), 0).otherwise(1))
            .cast("bigint")
            .alias("n_embedded"),
            quantize(
                F.sum(F.when(F.col("vec_id").isNull(), 0).otherwise(1))
                * 1.0
                / F.count("*"), 4
            ).alias("coverage"),
            (
                F.sum(F.when(F.col("vec_id").isNull(), 1).otherwise(0))
                > 0
            ).alias("has_gaps"),
        )
        .orderBy("source")
    )
