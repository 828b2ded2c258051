"""Round-4 batch 35: Gopher repeated-n-gram fractions, hour-of-week
load profile, EOQ replenishment, Hampel outlier filter.

- `text_repeated_ngram_fractions` — the n-gram half of Gopher's
  repetition suite (rep-2 / rep-3 / top-bigram share), completing
  `text_repetition_ratio`'s word-level signals: boilerplate and
  generated spam repeat PHRASES long before they repeat a vocabulary.
- `events_hourweek_profile` — the 7x24 load matrix per stream: share
  of weekly volume per (weekday, hour) cell — what capacity planning
  and anomaly baselining ("is Tuesday 9am usually like this?") read.
- `orders_eoq_replenishment` — classical economic order quantity per
  part from observed demand: EOQ = sqrt(2 D S / H), reorder cadence,
  for the top-20 demand parts (TakeOrderedAndProject, never a global
  sort).
- `events_hampel_outliers` — the Hampel filter: each point scored
  against the rolling median +/- 3 * 1.4826 * MAD of its 7-point
  neighborhood — the robust despiking standard where the rolling
  z-score (`events_anomaly_zscore`) is itself corrupted by the spikes
  it should find.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------- repeated n-gram fractions


@query(
    "text_repeated_ngram_fractions",
    oracle=r"""
    WITH words AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\s+') AS ws
      FROM documents
    ),
    grams AS (
      SELECT doc_id, 2 AS n,
             array_to_string(ws[g.i : g.i + 1], ' ') AS gram
      FROM words, LATERAL (
        SELECT unnest(range(1, len(ws))) AS i
      ) g
      WHERE len(ws) >= 2
      UNION ALL
      SELECT doc_id, 3 AS n,
             array_to_string(ws[g.i : g.i + 2], ' ') AS gram
      FROM words, LATERAL (
        SELECT unnest(range(1, len(ws) - 1)) AS i
      ) g
      WHERE len(ws) >= 3
    ),
    counts AS (
      SELECT doc_id, n, gram, COUNT(*) AS c
      FROM grams GROUP BY 1, 2, 3
    ),
    per_doc AS (
      SELECT doc_id, n,
             CAST(SUM(c) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS distinct_grams,
             CAST(MAX(c) AS BIGINT) AS top_count
      FROM counts GROUP BY doc_id, n
    )
    SELECT doc_id,
           MAX(CASE WHEN n = 2 THEN total END) AS n_bigrams,
           floor(MAX(CASE WHEN n = 2
                          THEN 1.0 - distinct_grams * 1.0 / total END)
                 * 10000 + 0.5) / 10000 AS rep2_frac,
           floor(MAX(CASE WHEN n = 3
                          THEN 1.0 - distinct_grams * 1.0 / total END)
                 * 10000 + 0.5) / 10000 AS rep3_frac,
           floor(MAX(CASE WHEN n = 2
                          THEN top_count * 1.0 / total END)
                 * 10000 + 0.5) / 10000 AS top_bigram_share
    FROM per_doc GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_repeated_ngram_fractions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gopher's repeated-n-gram gates: per document, the fraction of
    2-gram and 3-gram OCCURRENCES that are repeats (1 - distinct/total)
    and the share claimed by the single most frequent bigram. Catches
    templated boilerplate, keyword-stuffed spam, and degenerate model
    output — phrase-level repetition that `text_repetition_ratio`'s
    word-level signals miss (a nav bar repeats "home about contact",
    not any single word). Docs shorter than the gram length are
    excluded for that n in both engines.

    Scale: gram extraction is narrow (array slice per position — the
    same ~n_words amplification as `dedup_substring_spans`); the only
    exchanges are the (doc, n, gram) count (map-side combinable,
    high-cardinality unskewed keys) and the doc rollup.
    """
    d = load(spark, sf_dir, "documents")
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    words = d.select("doc_id", ws.alias("ws"), F.size(ws).alias("nw"))
    grams = (
        words.select(
            "doc_id",
            "ws",
            "nw",
            F.explode(F.array(F.lit(2), F.lit(3))).alias("n"),
        )
        .filter(F.col("nw") >= F.col("n"))
        .select(
            "doc_id",
            "n",
            F.explode(
                F.sequence(F.lit(1), F.col("nw") - F.col("n") + 1)
            ).alias("i"),
            "ws",
        )
        .select(
            "doc_id",
            "n",
            F.concat_ws(
                " ", F.slice(F.col("ws"), F.col("i"), F.col("n"))
            ).alias("gram"),
        )
    )
    counts = grams.groupBy("doc_id", "n", "gram").agg(
        F.count("*").alias("c")
    )
    per_doc = counts.groupBy("doc_id", "n").agg(
        F.sum("c").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("distinct_grams"),
        F.max("c").cast("bigint").alias("top_count"),
    )
    pick = lambda n, col: F.max(F.when(F.col("n") == n, col))
    return (
        per_doc.groupBy("doc_id")
        .agg(
            pick(2, F.col("total")).alias("n_bigrams"),
            quantize(
                pick(
                    2,
                    1.0
                    - F.col("distinct_grams") * 1.0 / F.col("total"),
                ), 4
            ).alias("rep2_frac"),
            quantize(
                pick(
                    3,
                    1.0
                    - F.col("distinct_grams") * 1.0 / F.col("total"),
                ), 4
            ).alias("rep3_frac"),
            quantize(
                pick(2, F.col("top_count") * 1.0 / F.col("total")), 4
            ).alias("top_bigram_share"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------ hour-of-week profile


@query(
    "events_hourweek_profile",
    oracle=r"""
    WITH cells AS (
      SELECT event_type,
             CAST(isodow(ts) AS BIGINT) AS dow,
             CAST(hour(ts) AS BIGINT) AS hod,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2, 3
    ),
    tot AS (
      SELECT event_type, CAST(SUM(c) AS BIGINT) AS total
      FROM cells GROUP BY event_type
    )
    SELECT c.event_type, c.dow, c.hod,
           CAST(c.c AS BIGINT) AS n_events,
           floor(c.c * 1.0 / t.total * 10000 + 0.5) / 10000 AS share
    FROM cells c JOIN tot t ON c.event_type = t.event_type
    ORDER BY c.event_type, c.dow, c.hod
    """,
)
def events_hourweek_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 7x24 hour-of-week load matrix per stream: event count and
    share of total volume per (ISO weekday, hour) cell. The baseline
    every 'is this normal for Tuesday 9am' anomaly check and every
    capacity plan reads; feed it to `events_anomaly_zscore` as the
    seasonal expectation to de-season the residuals.

    Scale: one map-side-combinable aggregate to <= 168 cells per
    stream, then a broadcast-sized totals join — the raw stream is
    touched exactly once.
    """
    e = load(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type",
        F.dayofweek(F.col("ts")).alias("dow_raw"),
        F.hour(F.col("ts")).cast("bigint").alias("hod"),
    ).agg(F.count("*").alias("c"))
    # Spark dayofweek: 1=Sunday..7=Saturday; ISO dow: 1=Monday..7=Sunday
    iso_dow = ((F.col("dow_raw") + 5) % 7 + 1).cast("bigint")
    cells = cells.select(
        "event_type", iso_dow.alias("dow"), "hod", "c"
    )
    tot = cells.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("total")
    )
    return (
        cells.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "dow",
            "hod",
            F.col("c").cast("bigint").alias("n_events"),
            quantize(F.col("c") * 1.0 / F.col("total"), 4).alias("share"),
        )
        .orderBy("event_type", "dow", "hod")
    )


# ------------------------------------------------- EOQ replenishment

_EOQ_ORDER_COST = 100.0  # S: cost per replenishment order
_EOQ_HOLD_RATE = 0.2     # H = rate * unit price per year
_EOQ_TOP = 20


@query(
    "orders_eoq_replenishment",
    oracle=f"""
    WITH span AS (
      SELECT GREATEST(
               date_diff('day', MIN(l_shipdate), MAX(l_shipdate)), 1
             ) / 365.0 AS years
      FROM lineitem
    ),
    demand AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                  AS DOUBLE) AS total_qty,
             CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) / 100
                           AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey,
           floor(d.total_qty / s.years * 100 + 0.5) / 100
             AS annual_demand,
           floor(sqrt(2 * (d.total_qty / s.years) * {_EOQ_ORDER_COST}
                      / ({_EOQ_HOLD_RATE}
                         * (d.total_price / d.total_qty)))
                 * 100 + 0.5) / 100 AS eoq,
           floor((d.total_qty / s.years)
                 / sqrt(2 * (d.total_qty / s.years) * {_EOQ_ORDER_COST}
                        / ({_EOQ_HOLD_RATE}
                           * (d.total_price / d.total_qty)))
                 * 100 + 0.5) / 100 AS orders_per_year
    FROM demand d CROSS JOIN span s
    ORDER BY d.total_qty DESC, l_partkey
    LIMIT {_EOQ_TOP}
    """,
)
def orders_eoq_replenishment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Economic order quantity for the top-{k} demand parts: annualized
    demand D from the observed ship-date span, unit holding cost H =
    {h} x average unit price, fixed order cost S = {s}; EOQ =
    sqrt(2DS/H) and the implied replenishment cadence D/EOQ. The
    textbook output the ABC-XYZ matrix's AX cell feeds into an
    automated reorder policy.

    Scale: one part-keyed aggregate (exact decimal sums), a 1-row span
    broadcast, arithmetic, and a top-{k} that plans as
    TakeOrderedAndProject — per-partition heaps, never a global sort
    of the part table.
    """
    li = load(spark, sf_dir, "lineitem")
    span = li.agg(
        (
            F.greatest(
                F.datediff(F.max("l_shipdate"), F.min("l_shipdate")),
                F.lit(1),
            )
            / 365.0
        ).alias("years")
    )
    cents = quantize(F.col("l_extendedprice"), 2)
    demand = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_qty"),
        F.sum(cents.cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )
    annual = F.col("total_qty") / F.col("years")
    unit_price = F.col("total_price") / F.col("total_qty")
    eoq = F.sqrt(
        2 * annual * _EOQ_ORDER_COST / (_EOQ_HOLD_RATE * unit_price)
    )
    return (
        demand.crossJoin(F.broadcast(span))
        .select(
            "l_partkey",
            quantize(annual, 2).alias("annual_demand"),
            quantize(eoq, 2).alias("eoq"),
            quantize(annual / eoq, 2).alias("orders_per_year"),
            "total_qty",
        )
        .orderBy(F.desc("total_qty"), "l_partkey")
        .limit(_EOQ_TOP)
        .drop("total_qty")
    )


orders_eoq_replenishment.__doc__ = (
    orders_eoq_replenishment.__doc__.replace("{k}", str(_EOQ_TOP))
    .replace("{h}", str(_EOQ_HOLD_RATE))
    .replace("{s}", str(int(_EOQ_ORDER_COST)))
)


# --------------------------------------------------- Hampel filter

_HAMPEL_HALF = 3          # 7-point neighborhood
_HAMPEL_K = 3.0
_MAD_SCALE = 1.4826


@query(
    "events_hampel_outliers",
    oracle=f"""
    WITH seq AS (
      SELECT event_type, event_id, ts,
             floor(value * 1000000 + 0.5) / 1000000 AS x,
             list(floor(value * 1000000 + 0.5) / 1000000) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN {_HAMPEL_HALF} PRECEDING
                        AND {_HAMPEL_HALF} FOLLOWING) AS nb
      FROM events
    ),
    scored AS (
      SELECT event_type, event_id, x,
             list_sort(nb)[(len(nb) + 1) // 2] AS med,
             list_sort(list_transform(
               nb, v -> abs(v - list_sort(nb)[(len(nb) + 1) // 2])
             ))[(len(nb) + 1) // 2] AS mad
      FROM seq
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(CASE WHEN abs(x - med)
                              > {_HAMPEL_K} * {_MAD_SCALE} * mad
                           AND mad > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           floor(SUM(CASE WHEN abs(x - med)
                               > {_HAMPEL_K} * {_MAD_SCALE} * mad
                            AND mad > 0
                          THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
                 * 10000 + 0.5) / 10000 AS outlier_frac
    FROM scored GROUP BY event_type ORDER BY event_type
    """,
)
def events_hampel_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel despiking per stream: each point is an outlier when it
    sits more than {k} scaled MADs ({sc} x median absolute deviation)
    from the median of its 7-point rolling neighborhood. Robust where
    the rolling z-score breaks — a spike inflates a mean and sigma but
    barely moves a median and MAD, so Hampel finds the second spike the
    z-score's own contamination hides. Constant neighborhoods (MAD 0)
    flag nothing, matching the filter's classical definition.

    Scale: one keyed sort window collecting a 7-element frame per row
    (bounded arrays — never the whole series), lower-median selected by
    ORDER-position (no interpolation, engine-exact), then a per-stream
    rollup. All array ops codegen inside the window stage.
    """
    e = load(spark, sf_dir, "events")
    x = quantize(F.col("value"), 6)
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-_HAMPEL_HALF, _HAMPEL_HALF)
    )
    seq = e.select(
        "event_type",
        "event_id",
        x.alias("x"),
        F.collect_list(x).over(w).alias("nb"),
    )
    # r8: sort the neighborhood ONCE and thread med/mad through column
    # references. The previous single-expression form embedded the med
    # subtree (array_sort + element_at) inside the MAD transform lambda
    # (re-sorted per element, 7x/row) and recomputed the whole transform
    # a second time just for its size() in the median index — ~15 small
    # sorts + 2 transforms per row, all authored duplication Catalyst
    # cannot deduplicate across a lambda boundary. Values are identical:
    # the deviation MULTISET is order-independent, array_sort pins the
    # order, and size(nb) == size(devs) by construction.
    k = ((F.size("nb") + 1) / 2).cast("int")
    sorted_nb = seq.select(
        "event_type", "x", F.array_sort("nb").alias("snb"), k.alias("k")
    )
    with_med = sorted_nb.select(
        "event_type",
        "x",
        "snb",
        "k",
        F.element_at("snb", F.col("k")).alias("med"),
    )
    scored = with_med.select(
        "event_type",
        "x",
        "med",
        F.element_at(
            F.array_sort(
                F.transform("snb", lambda v: F.abs(v - F.col("med")))
            ),
            F.col("k"),
        ).alias("mad"),
    )
    is_out = (
        F.abs(F.col("x") - F.col("med"))
        > _HAMPEL_K * _MAD_SCALE * F.col("mad")
    ) & (F.col("mad") > 0)
    return (
        scored.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_points"),
            F.sum(F.when(is_out, 1).otherwise(0))
            .cast("bigint")
            .alias("n_outliers"),
            quantize(
                F.sum(F.when(is_out, 1).otherwise(0)) * 1.0 / F.count("*"), 4
            ).alias("outlier_frac"),
        )
        .orderBy("event_type")
    )


events_hampel_outliers.__doc__ = (
    events_hampel_outliers.__doc__.replace("{k}", str(int(_HAMPEL_K)))
    .replace("{sc}", str(_MAD_SCALE))
)
