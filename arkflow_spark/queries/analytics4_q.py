"""Round-3 analytics batch 3: per-user behavioral entropy, order cycle
percentiles, partition-layout advisor, and seasonality variance
explained.

Operational standing queries (dashboard / data-engineering flavored)
rounding out the events/orders/documents surface. Determinism notes as in
queries.base: ln() terms are decimal-truncated per row before summing
(immune to engine libm last-ulp differences), all other reductions are
exact decimal or integer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query, r4
from arkflow_spark.tables import load


# -------------------------------------------------- behavioral entropy


@query(
    "events_user_entropy",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS c
      FROM events GROUP BY user_id, event_type
    ),
    s AS (
      SELECT user_id,
             SUM(c) AS n,
             COUNT(*) AS n_types,
             CAST(SUM(CAST(c * ln(c) AS DECIMAL(18,6))) AS DOUBLE) AS clnc
      FROM c GROUP BY user_id
    )
    SELECT user_id,
           CAST(n AS BIGINT) AS n_events,
           CAST(n_types AS BIGINT) AS n_types,
           floor((CAST(CAST(ln(n) AS DECIMAL(18,6)) AS DOUBLE) - clnc / n)
                 * 10000 + 0.5) / 10000 AS entropy,
           CASE WHEN n_types > 1 THEN
             floor((CAST(CAST(ln(n) AS DECIMAL(18,6)) AS DOUBLE) - clnc / n)
                   / CAST(CAST(ln(n_types) AS DECIMAL(18,6)) AS DOUBLE)
                   * 10000 + 0.5) / 10000
           ELSE 0.0 END AS entropy_norm
    FROM s ORDER BY user_id
    """,
)
def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral (Shannon) entropy over the event-type
    distribution, via the count identity H = ln(n) − Σ c·ln(c)/n — one
    two-level aggregation, no per-row probabilities. Normalized entropy
    divides by ln(distinct types) (0 for single-type users). ln() terms
    are decimal-truncated so the reduction is engine-exact.
    """
    e = load(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    dln = lambda col: F.log(col).cast("decimal(18,6)").cast("double")
    s = c.groupBy("user_id").agg(
        F.sum("c").alias("n"),
        F.count("*").alias("n_types"),
        F.sum((F.col("c") * F.log("c")).cast("decimal(18,6)"))
        .cast("double")
        .alias("clnc"),
    )
    h = dln(F.col("n")) - F.col("clnc") / F.col("n")
    return s.select(
        "user_id",
        F.col("n").cast("bigint").alias("n_events"),
        F.col("n_types").cast("bigint").alias("n_types"),
        quantize(h, 4).alias("entropy"),
        F.when(F.col("n_types") > 1, quantize(h / dln(F.col("n_types")), 4))
        .otherwise(0.0)
        .alias("entropy_norm"),
    ).orderBy("user_id")


# -------------------------------------------------- order cycle time


@query(
    "orders_cycle_time_percentiles",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_lines,
           ROUND(median(date_diff('day', o.o_orderdate, l.l_shipdate)), 4)
             AS p50_days,
           ROUND(quantile_cont(
             date_diff('day', o.o_orderdate, l.l_shipdate), 0.90), 4)
             AS p90_days,
           ROUND(quantile_cont(
             date_diff('day', o.o_orderdate, l.l_shipdate), 0.99), 4)
             AS p99_days
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def orders_cycle_time_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-to-ship cycle-time percentiles per priority class — the SLA
    latency readout. One shuffle join on the order key (both sides
    pre-projected to two columns), then exact percentiles per the 5
    priority groups. date_diff('day') counts day boundaries in both
    engines.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_orderdate"
    )
    days = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("o_orderpriority", days.alias("days"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            r4(F.median("days"), "p50_days"),
            r4(F.percentile("days", F.lit(0.90)), "p90_days"),
            r4(F.percentile("days", F.lit(0.99)), "p99_days"),
        )
        .orderBy("o_orderpriority")
    )


# -------------------------------------------------- partition advisor

_TARGET_CHARS = 1_000_000  # chars per output file (byte proxy)


@query(
    "documents_partition_advisor",
    oracle=f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MAX(n_chars) AS max_doc_chars,
           floor(CAST(SUM(CAST(n_chars AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*) * 10000 + 0.5) / 10000 AS mean_doc_chars,
           CAST((SUM(n_chars) + {_TARGET_CHARS - 1}) // {_TARGET_CHARS}
                AS BIGINT) AS target_files
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def documents_partition_advisor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Partition-layout advisor: per source partition, the byte volume
    (n_chars as proxy), skew indicators, and the recommended output file
    count at a {_TARGET_CHARS}-char target — the sizing pass a compaction
    / OPTIMIZE job runs before rewriting a table so downstream scans get
    uniform splits instead of small-file storms. Integer ceiling
    arithmetic ((total + target−1) div target), no float rounding at the
    file-count boundary. One map-side-combinable aggregation.
    """
    d = load(spark, sf_dir, "documents")
    t = _TARGET_CHARS
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.max("n_chars").alias("max_doc_chars"),
            quantize(
                F.sum(F.col("n_chars").cast("decimal(18,6)")).cast("double")
                / F.count("*"), 4
            ).alias("mean_doc_chars"),
            F.expr(f"(sum(n_chars) + {t - 1}) div {t}")
            .cast("bigint")
            .alias("target_files"),
        )
        .orderBy("source")
    )


# -------------------------------------------------- seasonality R²


@query(
    "events_seasonality_r2",
    oracle="""
    WITH cells AS (
      SELECT dayofweek(ts) AS dow, EXTRACT(hour FROM ts) AS hr,
             COUNT(*) AS n_c,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s_c
      FROM events GROUP BY 1, 2
    ),
    cell_fit AS (
      SELECT COUNT(*) AS n_cells,
             CAST(SUM(CAST(s_c * s_c / n_c AS DECIMAL(28,6))) AS DOUBLE)
               AS fit
      FROM cells
    ),
    tot AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s,
             CAST(SUM(CAST(value * value AS DECIMAL(24,6))) AS DOUBLE) AS q
      FROM events
    )
    SELECT n AS n_events,
           CAST(n_cells AS BIGINT) AS n_cells,
           floor((1 - (q - fit) / (q - s * s / n)) * 10000 + 0.5) / 10000
             AS r2_seasonal
    FROM cell_fit CROSS JOIN tot
    """,
)
def events_seasonality_r2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of value variance explained by the (day-of-week ×
    hour-of-day) seasonal profile: R² = 1 − SSres/SStot with SSres
    computed from per-cell sums alone (Σv² − Σ s_c²/n_c) — no residual
    join-back, just two aggregations (168 cells + global moments) and
    scalar arithmetic. Per-cell fit terms are decimal-truncated before
    the cross-cell sum so the 168-term reduction is engine-exact.
    """
    e = load(spark, sf_dir, "events")
    cells = e.groupBy(
        F.dayofweek("ts").alias("dow"),
        F.hour("ts").alias("hr"),
    ).agg(
        F.count("*").alias("n_c"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("s_c"),
    )
    cell_fit = cells.agg(
        F.count("*").alias("n_cells"),
        F.sum(
            (F.col("s_c") * F.col("s_c") / F.col("n_c")).cast(
                "decimal(28,6)"
            )
        )
        .cast("double")
        .alias("fit"),
    )
    tot = e.agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("s"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(24,6)"))
        .cast("double")
        .alias("q"),
    )
    return cell_fit.crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_events"),
        F.col("n_cells").cast("bigint").alias("n_cells"),
        quantize(
            1
            - (F.col("q") - F.col("fit"))
            / (F.col("q") - F.col("s") * F.col("s") / F.col("n")), 4
        ).alias("r2_seasonal"),
    )
