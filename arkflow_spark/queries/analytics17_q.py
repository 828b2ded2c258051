"""Round-3 fourth-session batch 13: DAU/MAU stickiness, code-vs-prose
detection, and fiscal-calendar alignment.

- `events_dau_mau_stickiness` — exact DAU / trailing-30-day MAU /
  stickiness per day WITHOUT a distinct-over-window: each user's
  active days sessionize with a 30-day gap into coverage intervals
  (a user covers day d iff some activity fell in [d-29, d]), and a
  +1/-1 boundary sweep turns interval coverage into per-day MAU — the
  `events_session_window` x `events_concurrency_sweep` composition
  that makes the canonical product metric scale (a naive
  COUNT(DISTINCT) OVER 30-day RANGE re-counts every user 30x and
  cannot map-side combine).
- `text_code_detection` — code-vs-prose routing signals (symbol
  density, indented-line share, code-keyword hits): the corpus router
  that decides which dedup/quality pipeline a document enters.
- `scalar_fiscal_calendar` — 4-4-5 fiscal calendar alignment (Feb 1
  fiscal year start): fiscal year / 4-4-5 period / fiscal week from
  pure integer date arithmetic — the BI mapping every retail warehouse
  maintains and every engine makes users hand-roll.
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


# -------------------------------------------------- DAU / MAU

_MAU_WINDOW = 30  # trailing days


@query(
    "events_dau_mau_stickiness",
    oracle=f"""
    WITH active AS (
      SELECT DISTINCT user_id,
             CAST(epoch(date_trunc('day', ts)) // 86400 AS BIGINT) AS d
      FROM events
    ),
    sess AS (
      SELECT user_id, d,
             CASE WHEN d - lag(d) OVER (PARTITION BY user_id ORDER BY d)
                    >= {_MAU_WINDOW} OR lag(d) OVER
                    (PARTITION BY user_id ORDER BY d) IS NULL
                  THEN 1 ELSE 0 END AS new_iv
      FROM active
    ),
    ivs AS (
      SELECT user_id, MIN(d) AS lo, MAX(d) + {_MAU_WINDOW} - 1 AS hi
      FROM (SELECT user_id, d,
                   SUM(new_iv) OVER (PARTITION BY user_id ORDER BY d)
                     AS iv
            FROM sess)
      GROUP BY user_id, iv
    ),
    bounds AS (
      SELECT lo AS d, 1 AS delta FROM ivs
      UNION ALL
      SELECT hi + 1, -1 FROM ivs
    ),
    mau AS (
      SELECT d, SUM(SUM(delta)) OVER (ORDER BY d) AS mau
      FROM bounds GROUP BY d
    ),
    dau AS (
      SELECT d, COUNT(*) AS dau FROM active GROUP BY d
    )
    SELECT dau.d AS day_num, dau.dau,
           CAST(m.mau AS BIGINT) AS mau,
           floor(dau.dau * 1.0 / m.mau * 10000 + 0.5) / 10000
             AS stickiness
    FROM dau
    JOIN (SELECT d, mau,
                 lead(d, 1, 9223372036854775807) OVER (ORDER BY d)
                   AS next_d
          FROM mau) m
      ON dau.d >= m.d AND dau.d < m.next_d
    ORDER BY dau.d
    """,
)
def events_dau_mau_stickiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DAU / MAU / stickiness per day with EXACT trailing-{w}-day
    distinct users and no distinct-over-window: a user's active days
    merge into coverage intervals (gap >= {w} days starts a new one;
    an interval [first, last] covers MAU days [first, last+{w}-1]),
    interval boundaries become +1/-1 deltas, and the running delta sum
    IS the MAU series — each user contributes O(intervals) rows
    regardless of how active they are. DAU days then join to the most
    recent boundary day (step-function lookup). This is how the
    canonical product metric stays map-side combinable at 100 TB; the
    naive COUNT(DISTINCT) OVER (RANGE 30 days) re-shuffles every
    (user, day) pair 30 times.

    Scale: distinct (user, day) -> per-user interval merge (one keyed
    window) -> boundary aggregation (tiny) -> step join. The sweep is
    `events_concurrency_sweep`; the merge is `events_session_window`
    logic on the day grid.
    """.format(w=_MAU_WINDOW)
    e = load(spark, sf_dir, "events")
    active = e.select(
        "user_id",
        (
            F.unix_timestamp(F.date_trunc("day", "ts")) / F.lit(86400)
        )
        .cast("bigint")
        .alias("d"),
    ).distinct()
    w_u = Window.partitionBy("user_id").orderBy("d")
    sess = active.select(
        "user_id",
        "d",
        F.when(
            (F.col("d") - F.lag("d").over(w_u) >= _MAU_WINDOW)
            | F.lag("d").over(w_u).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_iv"),
    )
    ivs = (
        sess.select(
            "user_id",
            "d",
            F.sum("new_iv").over(w_u).alias("iv"),
        )
        .groupBy("user_id", "iv")
        .agg(
            F.min("d").alias("lo"),
            (F.max("d") + _MAU_WINDOW - 1).alias("hi"),
        )
    )
    bounds = ivs.select(
        F.col("lo").alias("d"), F.lit(1).alias("delta")
    ).unionByName(
        ivs.select(
            (F.col("hi") + 1).alias("d"), F.lit(-1).alias("delta")
        )
    )
    # scale: calendar-bounded (per-day delta table)
    w_sweep = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    mau = (
        bounds.groupBy("d")
        .agg(F.sum("delta").alias("dd"))
        .select(
            "d",
            F.sum("dd").over(w_sweep).alias("mau"),
        )
        .select(
            "d",
            "mau",
            F.lead("d", 1, 9223372036854775807)
            .over(Window.orderBy("d"))
            .alias("next_d"),
        )
    )
    dau = active.groupBy("d").agg(F.count("*").alias("dau"))
    return (
        dau.join(
            mau,
            (dau["d"] >= mau["d"]) & (dau["d"] < mau["next_d"]),
        )
        .select(
            dau["d"].alias("day_num"),
            "dau",
            "mau",
            quantize(F.col("dau") * 1.0 / F.col("mau"), 4).alias(
                "stickiness"
            ),
        )
        .orderBy("day_num")
    )


# -------------------------------------------------- code detection


@query(
    "text_code_detection",
    oracle=r"""
    WITH sig AS (
      SELECT doc_id,
             length(text) AS n,
             length(text)
               - length(regexp_replace(text, '[{}()\[\];=<>]', '', 'g'))
               AS n_symbols,
             len(regexp_extract_all(text,
               '(def |class |return |import |function |var |const )'))
               AS kw_hits,
             len(regexp_extract_all(text, '\n    ')) AS indented,
             len(regexp_extract_all(text, '\n')) + 1 AS lines
      FROM documents WHERE length(text) > 0
    )
    SELECT doc_id,
           floor(n_symbols * 1.0 / n * 10000 + 0.5) / 10000
             AS symbol_density,
           kw_hits,
           floor(indented * 1.0 / lines * 10000 + 0.5) / 10000
             AS indent_share,
           n_symbols * 20 > n OR kw_hits >= 3
             OR indented * 4 > lines AS looks_like_code
    FROM sig
    ORDER BY doc_id
    """,
)
def text_code_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose routing signals: symbol density (brackets,
    semicolons, operators), programming-keyword hits, and
    indented-line share, combined into a `looks_like_code` gate with
    integer-arithmetic thresholds (5% symbols OR 3 keywords OR 25%
    indented lines) — the router that sends a document down the code
    pipeline (different dedup granularity, different quality rules)
    vs the prose pipeline in a mixed web corpus.

    Scale: pure narrow regex projections — codegen, no shuffle before
    the output sort (same family as `text_gopher_quality`).
    """
    d = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n = F.length("text")
    n_symbols = n - F.length(
        F.regexp_replace(F.col("text"), r"[{}()\[\];=<>]", "")
    )
    kw_hits = F.regexp_count(
        F.col("text"),
        F.lit("(def |class |return |import |function |var |const )"),
    )
    indented = F.regexp_count(F.col("text"), F.lit("\n    "))
    lines = F.regexp_count(F.col("text"), F.lit("\n")) + 1
    return d.select(
        "doc_id",
        quantize(n_symbols * 1.0 / n, 4).alias("symbol_density"),
        kw_hits.alias("kw_hits"),
        quantize(indented * 1.0 / lines, 4).alias("indent_share"),
        (
            (n_symbols * 20 > n)
            | (kw_hits >= 3)
            | (indented * 4 > lines)
        ).alias("looks_like_code"),
    ).orderBy("doc_id")


# -------------------------------------------------- fiscal calendar


@query(
    "scalar_fiscal_calendar",
    oracle="""
    WITH d AS (
      SELECT o_orderkey, o_orderdate,
             CASE WHEN month(o_orderdate) >= 2 THEN year(o_orderdate)
                  ELSE year(o_orderdate) - 1 END AS fy
      FROM orders
    ),
    w AS (
      SELECT o_orderkey, o_orderdate, fy,
             CAST(date_diff('day',
                  CAST(CAST(fy AS VARCHAR) || '-02-01' AS DATE),
                  CAST(o_orderdate AS DATE)) // 7 AS BIGINT) AS fwk
      FROM d
    )
    SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           fy,
           CASE WHEN fwk >= 52 THEN 12
                ELSE CAST(fwk // 13 AS BIGINT) * 3
                     + CASE WHEN fwk % 13 < 4 THEN 0
                            WHEN fwk % 13 < 8 THEN 1 ELSE 2 END
           END + 1 AS fiscal_period,
           least(fwk + 1, 53) AS fiscal_week
    FROM w
    ORDER BY o_orderkey
    """,
)
def scalar_fiscal_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-4-5 fiscal calendar alignment (fiscal year starts Feb 1):
    fiscal year, 4-4-5 period (each quarter = 4+4+5 fiscal weeks;
    week >= 52 spills into period 12), and fiscal week — all from pure
    integer date arithmetic, identical in both engines. The mapping
    every retail/finance warehouse maintains as a dimension table;
    computing it as expressions means no calendar dim to keep in sync
    (and at 100 TB it stays a narrow codegen projection instead of a
    broadcast join).
    """
    o = load(spark, sf_dir, "orders")
    fy = F.when(
        F.month("o_orderdate") >= 2, F.year("o_orderdate")
    ).otherwise(F.year("o_orderdate") - 1)
    d = o.select("o_orderkey", "o_orderdate", fy.alias("fy"))
    fy_start = F.to_date(
        F.concat(F.col("fy").cast("string"), F.lit("-02-01"))
    )
    fwk = (
        F.datediff(F.to_date("o_orderdate"), fy_start) / 7
    ).cast("bigint")
    w = d.select("o_orderkey", "o_orderdate", "fy", fwk.alias("fwk"))
    in_q = F.col("fwk") % 13
    period = (
        F.when(F.col("fwk") >= 52, F.lit(12)).otherwise(
            F.expr("fwk div 13") * 3
            + F.when(in_q < 4, 0).when(in_q < 8, 1).otherwise(2)
        )
        + 1
    )
    return w.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        "fy",
        period.alias("fiscal_period"),
        F.least(F.col("fwk") + 1, F.lit(53)).alias("fiscal_week"),
    ).orderBy("o_orderkey")
