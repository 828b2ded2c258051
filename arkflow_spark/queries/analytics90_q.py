"""Round-5 batch 90: fabrication screening, ingestion-order audit,
provenance vocabulary overlap.

- `dq_last_digit_uniformity` — last-digit chi-square against uniform
  for event value cents and lineitem quantities: unlike FIRST digits
  (Benford, `events_benford_deviation`), last digits of organic
  measurements should be UNIFORM — spikes at 0/5 are the classic
  human-fabrication / premature-rounding signature (forensic
  accounting's second test).
- `dq_id_time_monotonicity` — are event ids assigned in time order?
  The adjacent-inversion rate (consecutive-by-time pairs whose ids
  decrease) per stream of ingestion: >0 means out-of-order ingestion
  and every id-range incremental consumer (`dedup_incremental`'s
  ledger, watermark reasoning) needs the event-time path instead.
- `text_source_vocab_jaccard` — pairwise vocabulary Jaccard between
  sources (set overlap, not frequency — the set-side complement to
  `text_burrows_delta`): near-1 everywhere = single shared generator;
  a low-overlap outlier source carries genuinely different content.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ last-digit screen


@query(
    "dq_last_digit_uniformity",
    oracle="""
    WITH ev AS (
      SELECT 'events.value_cents' AS metric,
             CAST(floor(value * 100 + 0.5) AS BIGINT) % 10 AS d
      FROM events
      UNION ALL
      SELECT 'lineitem.quantity',
             CAST(l_quantity AS BIGINT) % 10
      FROM lineitem
    ),
    counts AS (
      SELECT metric, d, CAST(COUNT(*) AS BIGINT) AS c
      FROM ev GROUP BY 1, 2
    ),
    tot AS (
      SELECT metric, CAST(SUM(c) AS BIGINT) AS n FROM counts
      GROUP BY metric
    )
    SELECT c.metric,
           t.n AS n_values,
           CAST(COUNT(*) AS BIGINT) AS n_digits_seen,
           floor(SUM((c.c - t.n / 10.0) * (c.c - t.n / 10.0)
                     / (t.n / 10.0)) * 10000 + 0.5) / 10000
             AS chi2_stat,
           floor(MAX(c.c) * 10.0 / t.n * 10000 + 0.5) / 10000
             AS max_digit_lift
    FROM counts c JOIN tot t USING (metric)
    GROUP BY c.metric, t.n
    ORDER BY c.metric
    """,
)
def dq_last_digit_uniformity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Last-digit uniformity screen: chi-square (9 df) of the final
    digit of event value cents and lineitem quantities against the
    uniform law, plus the most-common digit's lift over 1/10. Organic
    measurement tails are uniform in the last digit; chi2 far above
    ~21.7 (p=0.01) with lift at 0 or 5 is the rounding/fabrication
    fingerprint.

    Scale shape: two labeled scans unioned, one digit rollup (10 rows
    per metric), closed-form chi-square on the bounded panel.
    """
    e = load(spark, sf_dir, "events").select(
        F.lit("events.value_cents").alias("metric"),
        (
            F.floor(F.col("value") * 100 + 0.5).cast("bigint") % 10
        ).alias("d"),
    )
    li = load(spark, sf_dir, "lineitem").select(
        F.lit("lineitem.quantity").alias("metric"),
        (F.col("l_quantity").cast("bigint") % 10).alias("d"),
    )
    counts = e.unionAll(li).groupBy("metric", "d").agg(
        F.count("*").cast("bigint").alias("c")
    )
    tot = counts.groupBy("metric").agg(
        F.sum("c").cast("bigint").alias("n")
    )
    exp = F.col("n") / 10.0
    return (
        counts.join(F.broadcast(tot), "metric")
        .groupBy("metric", "n")
        .agg(
            F.count("*").cast("bigint").alias("n_digits_seen"),
            quantize(
                F.sum((F.col("c") - exp) * (F.col("c") - exp) / exp), 4
            ).alias("chi2_stat"),
            quantize(F.max("c") * 10.0 / F.col("n"), 4).alias(
                "max_digit_lift"
            ),
        )
        .select(
            "metric",
            F.col("n").alias("n_values"),
            "n_digits_seen",
            "chi2_stat",
            "max_digit_lift",
        )
        .orderBy("metric")
    )


# ------------------------------------------------ id/time monotonicity


@query(
    "dq_id_time_monotonicity",
    oracle="""
    WITH seq AS (
      SELECT event_type, event_id,
             lag(event_id) OVER (PARTITION BY event_type
                                 ORDER BY ts, event_id) AS prev_id
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(prev_id) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN event_id < prev_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_inversions,
           floor(SUM(CASE WHEN event_id < prev_id THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(prev_id) * 1000000 + 0.5) / 1000000
             AS inversion_rate
    FROM seq GROUP BY event_type ORDER BY event_type
    """,
)
def dq_id_time_monotonicity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ingestion-order audit per stream: the adjacent-inversion rate —
    consecutive-by-event-time pairs whose EVENT IDS decrease. Zero =
    ids are safe as an ordering/watermark proxy; any positive rate
    means out-of-order ingestion, and id-range incremental consumers
    will drop or double rows unless they switch to event-time
    watermarks (`events_lateness_watermark_audit` quantifies how far
    behind).

    Scale shape: one keyed lag window (partitioned by stream), one
    conditional aggregate.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        "event_id",
        F.lag("event_id").over(w).alias("prev_id"),
    )
    return (
        seq.groupBy("event_type")
        .agg(
            F.count("prev_id").cast("bigint").alias("n_pairs"),
            F.sum(
                F.when(F.col("event_id") < F.col("prev_id"), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_inversions"),
            quantize(
                F.sum(
                    F.when(
                        F.col("event_id") < F.col("prev_id"), 1
                    ).otherwise(0)
                )
                * 1.0
                / F.count("prev_id"), 6
            ).alias("inversion_rate"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------------ vocab Jaccard


@query(
    "text_source_vocab_jaccard",
    oracle="""
    WITH vocab AS (
      SELECT DISTINCT source,
             unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents
    ),
    sizes AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS v FROM vocab
      GROUP BY source
    ),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS shared
      FROM vocab a JOIN vocab b
        ON a.w = b.w AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.source_a, i.source_b, i.shared,
           sa.v AS vocab_a, sb.v AS vocab_b,
           floor(i.shared * 1.0 / (sa.v + sb.v - i.shared)
                 * 10000 + 0.5) / 10000 AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
    ORDER BY jaccard ASC, source_a, source_b
    LIMIT 15
    """,
)
def text_source_vocab_jaccard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources, the 15 LEAST
    overlapping pairs first (the interesting tail — most pairs of a
    synthetic corpus share nearly everything): set overlap of distinct
    words, the frequency-free complement to `text_burrows_delta`.
    Sources whose vocabulary barely overlaps the rest carry genuinely
    novel content — or a different language/encoding defect.

    Scale shape: the vocabulary table is (source x distinct word) —
    vocabulary-bounded; the pair join runs on that bounded panel,
    never on documents.
    """
    d = load(spark, sf_dir, "documents")
    vocab = d.select(
        "source",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("w"),
    ).distinct()
    sizes = vocab.groupBy("source").agg(
        F.count("*").cast("bigint").alias("v")
    )
    a = vocab.select(F.col("source").alias("source_a"), "w")
    b = vocab.select(F.col("source").alias("source_b"), "w")
    inter = (
        a.join(b, "w")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("shared"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("v").alias("vocab_a")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("v").alias("vocab_b")
    )
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "shared",
            "vocab_a",
            "vocab_b",
            quantize(
                F.col("shared")
                * 1.0
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("shared")), 4
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").asc(), "source_a", "source_b")
        .limit(15)
    )
