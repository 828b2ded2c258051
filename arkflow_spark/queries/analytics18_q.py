"""Round-3 fourth-session batch 14: snapshot diff/reconciliation,
time-series peak detection, and Apdex scoring.

- `orders_snapshot_diff` — table reconciliation between two snapshots
  (added / removed / changed / unchanged via a keyed FULL OUTER join
  over row-content hashes, plus an order-independent key checksum per
  class): the data-diff audit run after every backfill or migration
  (the row-level complement of `documents_manifest_checksums`).
  Snapshots are carved deterministically from orders (modular key
  classes simulate adds/deletes/updates) so both engines diff the
  same pair.
- `events_peak_detection` — significant local maxima over each type's
  hourly series: strictly greater than 2 neighbors on each side AND
  above mu + 2sd — the alert-on-spike primitive
  (`events_burst_hysteresis` tracks sustained state; this finds point
  events).
- `events_apdex_score` — the Apdex satisfaction index per stream:
  (satisfied + tolerating/2) / n with the standard T / 4T thresholds —
  the SLA scorecard metric, one conditional aggregation.
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
from arkflow_spark.tables import load


# -------------------------------------------------- snapshot diff


@query(
    "orders_snapshot_diff",
    oracle="""
    WITH snap_a AS (
      SELECT o_orderkey AS k,
             md5(CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus
                 || '|' || CAST(o_totalprice AS VARCHAR)) AS h
      FROM orders WHERE o_orderkey % 103 <> 0
    ),
    snap_b AS (
      SELECT o_orderkey AS k,
             md5(CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus
                 || '|' || CAST(CASE WHEN o_orderkey % 97 = 0
                                     THEN o_totalprice + 1
                                     ELSE o_totalprice END AS VARCHAR))
               AS h
      FROM orders WHERE o_orderkey % 101 <> 0
    ),
    diff AS (
      SELECT COALESCE(a.k, b.k) AS k,
             CASE WHEN a.k IS NULL THEN 'added'
                  WHEN b.k IS NULL THEN 'removed'
                  WHEN a.h <> b.h THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM snap_a a FULL OUTER JOIN snap_b b ON a.k = b.k
    )
    SELECT status, COUNT(*) AS n,
           bit_xor(k) AS key_checksum
    FROM diff
    GROUP BY status
    ORDER BY status
    """,
)
def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (the data-diff audit): two snapshots of
    orders — carved by deterministic modular key classes so deletes
    (A-only), adds (B-only), and updates (price bumped in B) all exist
    — FULL-OUTER-join on the key, classify each row by content-hash
    comparison, and emit per-class counts plus an order-independent
    bit_xor key checksum (two reconciliations agree iff the same key
    SETS land in each class). This is what you run after a backfill,
    a migration, or an engine swap — including validating THIS engine
    against the system it replaces.

    Scale: content hashing is narrow; the diff is one keyed shuffle
    join of (key, 32-byte hash) pairs — never of payloads — and the
    per-class reduction is map-side combinable.
    """
    o = load(spark, sf_dir, "orders")
    content = lambda price: F.md5(
        F.concat_ws(
            "|",
            F.col("o_custkey").cast("string"),
            F.col("o_orderstatus"),
            price.cast("string"),
        )
    )
    snap_a = o.filter(F.col("o_orderkey") % 103 != 0).select(
        F.col("o_orderkey").alias("k"),
        content(F.col("o_totalprice")).alias("h"),
    )
    bumped = F.when(
        F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") + 1
    ).otherwise(F.col("o_totalprice"))
    snap_b = o.filter(F.col("o_orderkey") % 101 != 0).select(
        F.col("o_orderkey").alias("k"),
        content(bumped).alias("h"),
    )
    a, b = snap_a.alias("a"), snap_b.alias("b")
    diff = a.join(b, F.col("a.k") == F.col("b.k"), "full_outer").select(
        F.coalesce(F.col("a.k"), F.col("b.k")).alias("k"),
        F.when(F.col("a.k").isNull(), "added")
        .when(F.col("b.k").isNull(), "removed")
        .when(F.col("a.h") != F.col("b.h"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return (
        diff.groupBy("status")
        .agg(
            F.count("*").alias("n"),
            F.bit_xor("k").alias("key_checksum"),
        )
        .orderBy("status")
    )


# -------------------------------------------------- peak detection


@query(
    "events_peak_detection",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    mom AS (
      SELECT event_type,
             CAST(SUM(c) AS DOUBLE) / COUNT(*) AS mu,
             sqrt(CAST(SUM(c * c) AS DOUBLE) / COUNT(*)
                  - (CAST(SUM(c) AS DOUBLE) / COUNT(*))
                    * (CAST(SUM(c) AS DOUBLE) / COUNT(*))) AS sd
      FROM hourly GROUP BY event_type
    ),
    ctx AS (
      SELECT event_type, h, c,
             lag(c, 1) OVER w AS p1, lag(c, 2) OVER w AS p2,
             lead(c, 1) OVER w AS n1, lead(c, 2) OVER w AS n2
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY h)
    )
    SELECT x.event_type, strftime(x.h, '{DUCK_TS_FMT}') AS h, x.c,
           floor((x.c - m.mu) / m.sd * 10000 + 0.5) / 10000 AS z
    FROM ctx x JOIN mom m USING (event_type)
    WHERE x.c > COALESCE(x.p1, -1) AND x.c > COALESCE(x.p2, -1)
      AND x.c > COALESCE(x.n1, -1) AND x.c > COALESCE(x.n2, -1)
      AND x.c > m.mu + 2 * m.sd
    ORDER BY x.event_type, x.h
    """,
)
def events_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Significant spike detection: an hour is a peak iff it strictly
    exceeds its two neighbors on BOTH sides (a local maximum wide
    enough to ignore sawtooth jitter; series edges count as satisfied)
    AND clears mu + 2sd (exact-moment significance) — the point-event
    alert primitive, complementing `events_burst_hysteresis` (sustained
    state) and `events_changepoint_score` (level shifts). Integer
    neighbor comparisons; only the reported z-score is float.

    Scale: one keyed window over the hourly aggregate with broadcast
    moments — peaks cost one pass regardless of stream size.
    """
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("c"))
    mom = hourly.groupBy("event_type").agg(
        (F.sum("c").cast("double") / F.count("*")).alias("mu"),
        F.sqrt(
            F.sum(F.col("c") * F.col("c")).cast("double") / F.count("*")
            - (F.sum("c").cast("double") / F.count("*"))
            * (F.sum("c").cast("double") / F.count("*"))
        ).alias("sd"),
    )
    w = Window.partitionBy("event_type").orderBy("h")
    ctx = hourly.select(
        "event_type",
        "h",
        "c",
        F.lag("c", 1).over(w).alias("p1"),
        F.lag("c", 2).over(w).alias("p2"),
        F.lead("c", 1).over(w).alias("n1"),
        F.lead("c", 2).over(w).alias("n2"),
    )
    gt = lambda col: F.col("c") > F.coalesce(F.col(col), F.lit(-1))
    return (
        ctx.join(F.broadcast(mom), "event_type")
        .filter(
            gt("p1") & gt("p2") & gt("n1") & gt("n2")
            & (F.col("c") > F.col("mu") + 2 * F.col("sd"))
        )
        .select(
            "event_type",
            F.date_format("h", SPARK_TS_FMT).alias("h"),
            "c",
            quantize((F.col("c") - F.col("mu")) / F.col("sd"), 4).alias("z"),
        )
        .orderBy("event_type", "h")
    )


# -------------------------------------------------- Apdex


_APDEX_T = 100.0  # satisfied threshold; tolerating up to 4T


@query(
    "events_apdex_score",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN value <= {_APDEX_T} THEN 1 ELSE 0 END)
                AS BIGINT) AS satisfied,
           CAST(SUM(CASE WHEN value > {_APDEX_T} AND value <= {4 * _APDEX_T}
                    THEN 1 ELSE 0 END) AS BIGINT) AS tolerating,
           floor((SUM(CASE WHEN value <= {_APDEX_T} THEN 1 ELSE 0 END)
                  + SUM(CASE WHEN value > {_APDEX_T}
                             AND value <= {4 * _APDEX_T}
                             THEN 1 ELSE 0 END) * 0.5)
                 / COUNT(*) * 10000 + 0.5) / 10000 AS apdex
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_apdex_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Apdex satisfaction index per stream: treating `value` as a
    latency, apdex = (satisfied + tolerating/2) / n with the standard
    thresholds T={t:.0f} (satisfied) and 4T (tolerating) — the
    industry SLA scorecard number (Apdex Alliance spec), one
    conditional aggregation with an exact integer numerator (x2)
    before the single float division.

    Scale: one map-side-combinable aggregation; thresholds are
    literals, so the whole metric is a scan-attached reduction.
    """.format(t=_APDEX_T)
    e = load(spark, sf_dir, "events")
    sat = F.sum(F.when(F.col("value") <= _APDEX_T, 1).otherwise(0))
    tol = F.sum(
        F.when(
            (F.col("value") > _APDEX_T)
            & (F.col("value") <= 4 * _APDEX_T),
            1,
        ).otherwise(0)
    )
    return (
        e.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            sat.alias("satisfied"),
            tol.alias("tolerating"),
            quantize(
                (sat + tol * 0.5) / F.count("*"), 4
            ).alias("apdex"),
        )
        .orderBy("event_type")
    )
