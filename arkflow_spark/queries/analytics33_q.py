"""Round-4 batch 33: corpus filter funnel, heavy-hitter drift,
open-order aging, mixed-script detection.

- `documents_filter_funnel` — the corpus-curation attrition report:
  docs surviving each CUMULATIVE cleaning stage (length gate -> symbol
  gate -> exact-dedup canonical), with per-stage drop counts. The
  first table any pretraining-data run is judged by ("we started with
  12B docs, length cut 8%, quality cut 23%, dedup cut 31%").
- `events_topk_drift_jaccard` — day-over-day Jaccard stability of each
  stream's top-10 heavy hitters: is the hot set stable (cacheable,
  salt-able) or churning daily?
- `orders_open_aging_buckets` — the WIP aging report: open orders
  bucketed by age at the snapshot date, by priority — the ops-review
  table behind `orders_backlog_timeseries`.
- `text_mixed_script_ratio` — Latin/CJK/digit script composition per
  document, aggregated per claimed language: a document tagged `en`
  that is 80% CJK is mislabeled — the cross-check on `text_lang_id`.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs); corpus-pipeline analytics
per the LLM-pipeline mandate. All oracled against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------------- filter funnel

_MIN_WORDS, _MAX_WORDS = 10, 100_000
_MAX_SYMBOL_RATIO = 0.1


@query(
    "documents_filter_funnel",
    oracle=rf"""
    WITH scored AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
             len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                             w -> NOT regexp_matches(w, '[a-z0-9]')))
               * 1.0
               / len(regexp_split_to_array(trim(text), '\s+'))
               AS symbol_ratio,
             row_number() OVER (PARTITION BY md5(text)
                                ORDER BY doc_id) AS copy_rank
      FROM documents
    ),
    gates AS (
      SELECT doc_id,
             (n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS}) AS g1,
             (symbol_ratio <= {_MAX_SYMBOL_RATIO}) AS g2,
             (copy_rank = 1) AS g3
      FROM scored
    ),
    funnel AS (
      SELECT 1 AS stage_idx, 'length_gate' AS stage,
             CAST(COUNT(*) AS BIGINT) AS n_in,
             CAST(SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept
      FROM gates
      UNION ALL
      SELECT 2, 'symbol_gate',
             CAST(SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(SUM(CASE WHEN g1 AND g2 THEN 1 ELSE 0 END) AS BIGINT)
      FROM gates
      UNION ALL
      SELECT 3, 'exact_dedup',
             CAST(SUM(CASE WHEN g1 AND g2 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(SUM(CASE WHEN g1 AND g2 AND g3 THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM gates
    )
    SELECT stage_idx, stage, n_in, n_kept,
           n_in - n_kept AS n_dropped,
           floor((n_in - n_kept) * 1.0 / NULLIF(n_in, 0)
                 * 10000 + 0.5) / 10000 AS drop_frac
    FROM funnel ORDER BY stage_idx
    """,
)
def documents_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative corpus-curation funnel: every document is scored once
    (word count, symbol-word ratio, exact-duplicate canonical rank),
    then three CUMULATIVE gates — length, quality, dedup — are counted
    in one aggregate. The output is the attrition table a training-data
    run reports first: how many documents each stage dropped, given
    everything earlier already passed. Stage order matters and is the
    cheap-to-expensive production order (length is free, dedup costs a
    shuffle) — the report shows what each stage REALLY removes after
    its predecessors.

    Scale: ONE pass over the corpus computes all per-doc signals (the
    dedup canonical rank is the only exchange, keyed by content hash);
    the three funnel rows come from a single grouped aggregate over the
    boolean gate table — no re-scans per stage, which is the difference
    between a funnel report costing 1 corpus pass and costing 3.
    """
    d = load(spark, sf_dir, "documents")
    n_words = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    symbol_ratio = (
        F.size(
            F.filter(
                F.split(F.lower(F.col("text")), r"\s+"),
                lambda w: ~w.rlike("[a-z0-9]"),
            )
        )
        * 1.0
        / n_words
    )
    scored = d.select(
        "doc_id",
        n_words.alias("n_words"),
        symbol_ratio.alias("symbol_ratio"),
        F.row_number()
        .over(Window.partitionBy(F.md5("text")).orderBy("doc_id"))
        .alias("copy_rank"),
    )
    gates = scored.select(
        F.col("n_words").between(_MIN_WORDS, _MAX_WORDS).alias("g1"),
        (F.col("symbol_ratio") <= _MAX_SYMBOL_RATIO).alias("g2"),
        (F.col("copy_rank") == 1).alias("g3"),
    )
    cnt = gates.agg(
        F.count("*").cast("bigint").alias("n0"),
        F.sum(F.when(F.col("g1"), 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("g1") & F.col("g2"), 1).otherwise(0))
        .cast("bigint")
        .alias("n2"),
        F.sum(
            F.when(F.col("g1") & F.col("g2") & F.col("g3"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n3"),
    )
    stages = F.array(
        F.struct(
            F.lit(1).alias("stage_idx"),
            F.lit("length_gate").alias("stage"),
            F.col("n0").alias("n_in"),
            F.col("n1").alias("n_kept"),
        ),
        F.struct(
            F.lit(2).alias("stage_idx"),
            F.lit("symbol_gate").alias("stage"),
            F.col("n1").alias("n_in"),
            F.col("n2").alias("n_kept"),
        ),
        F.struct(
            F.lit(3).alias("stage_idx"),
            F.lit("exact_dedup").alias("stage"),
            F.col("n2").alias("n_in"),
            F.col("n3").alias("n_kept"),
        ),
    )
    return (
        cnt.select(F.explode(stages).alias("s"))
        .select(
            F.col("s.stage_idx").alias("stage_idx"),
            F.col("s.stage").alias("stage"),
            F.col("s.n_in").alias("n_in"),
            F.col("s.n_kept").alias("n_kept"),
            (F.col("s.n_in") - F.col("s.n_kept")).alias("n_dropped"),
            quantize(
                F.try_divide(
                    F.col("s.n_in") - F.col("s.n_kept"), F.col("s.n_in")
                ), 4
            ).alias("drop_frac"),
        )
        .orderBy("stage_idx")
    )


# ----------------------------------------------- top-k drift (Jaccard)

_DRIFT_K = 10


@query(
    "events_topk_drift_jaccard",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, user_id,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2, 3
    ),
    topk AS (
      SELECT event_type, day, user_id FROM (
        SELECT event_type, day, user_id,
               row_number() OVER (PARTITION BY event_type, day
                                  ORDER BY c DESC, user_id) AS rn
        FROM daily
      ) WHERE rn <= {_DRIFT_K}
    ),
    sizes AS (
      SELECT event_type, day, COUNT(*) AS n
      FROM topk GROUP BY 1, 2
    ),
    inter AS (
      SELECT a.event_type, b.day AS day,
             COUNT(*) AS n_common
      FROM topk a JOIN topk b
        ON a.event_type = b.event_type
       AND a.user_id = b.user_id
       AND b.day = a.day + INTERVAL 1 DAY
      GROUP BY 1, 2
    )
    SELECT s2.event_type, strftime(s2.day, '%Y-%m-%d') AS day,
           CAST(s1.n AS BIGINT) AS n_prev,
           CAST(s2.n AS BIGINT) AS n_curr,
           CAST(COALESCE(i.n_common, 0) AS BIGINT) AS n_common,
           floor(COALESCE(i.n_common, 0) * 1.0
                 / (s1.n + s2.n - COALESCE(i.n_common, 0))
                 * 10000 + 0.5) / 10000 AS jaccard
    FROM sizes s2
    JOIN sizes s1 ON s1.event_type = s2.event_type
                 AND s2.day = s1.day + INTERVAL 1 DAY
    LEFT JOIN inter i ON i.event_type = s2.event_type
                     AND i.day = s2.day
    ORDER BY s2.event_type, s2.day
    """,
)
def events_topk_drift_jaccard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Day-over-day stability of each stream's top-{k} heavy hitters:
    Jaccard overlap between consecutive days' top user sets. A stable
    hot set (~1.0) says the skew is structural — pre-salt those keys,
    cache those partitions; a churning set (~0) says yesterday's skew
    profile is useless for today's plan and only runtime (AQE) skew
    handling works.

    Scale: the raw stream reduces to (stream, day, user) counts in one
    map-side-combinable aggregate; everything after — rank window,
    self-join on consecutive days — runs on {k} rows per stream-day.
    The consecutive-day join is keyed equi-join (day arithmetic on the
    join key), no ranges, no windows over the raw stream.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        "user_id",
    ).agg(F.count("*").alias("c"))
    w = Window.partitionBy("event_type", "day").orderBy(
        F.desc("c"), "user_id"
    )
    topk = (
        daily.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _DRIFT_K)
        .select("event_type", "day", "user_id")
    )
    sizes = topk.groupBy("event_type", "day").agg(
        F.count("*").alias("n")
    )
    a = topk.alias("a")
    b = topk.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.day") == F.date_add(F.col("a.day"), 1)),
        )
        .groupBy(
            F.col("a.event_type").alias("event_type"),
            F.col("b.day").alias("day"),
        )
        .agg(F.count("*").alias("n_common"))
        .alias("i")
    )
    s1 = sizes.alias("s1")
    s2 = sizes.alias("s2")
    n_common = F.coalesce(F.col("n_common"), F.lit(0))
    return (
        s2.join(
            s1,
            (F.col("s1.event_type") == F.col("s2.event_type"))
            & (F.col("s2.day") == F.date_add(F.col("s1.day"), 1)),
        )
        .join(
            inter,
            (F.col("i.event_type") == F.col("s2.event_type"))
            & (F.col("i.day") == F.col("s2.day")),
            "left",
        )
        .select(
            F.col("s2.event_type").alias("event_type"),
            F.date_format(F.col("s2.day"), "yyyy-MM-dd").alias("day"),
            F.col("s1.n").cast("bigint").alias("n_prev"),
            F.col("s2.n").cast("bigint").alias("n_curr"),
            n_common.cast("bigint").alias("n_common"),
            quantize(
                n_common * 1.0
                / (F.col("s1.n") + F.col("s2.n") - n_common), 4
            ).alias("jaccard"),
        )
        .orderBy("event_type", "day")
    )


events_topk_drift_jaccard.__doc__ = (
    events_topk_drift_jaccard.__doc__.replace("{k}", str(_DRIFT_K))
)


# --------------------------------------------------- open-order aging


@query(
    "orders_open_aging_buckets",
    oracle=r"""
    WITH snap AS (SELECT MAX(o_orderdate) AS d FROM orders),
    open_orders AS (
      SELECT o.o_orderpriority AS priority,
             date_diff('day', o.o_orderdate, s.d) AS age_days,
             o.o_totalprice
      FROM orders o CROSS JOIN snap s
      WHERE o.o_orderstatus IN ('O', 'P')
    )
    SELECT priority,
           CASE WHEN age_days <= 30 THEN '0-30'
                WHEN age_days <= 60 THEN '31-60'
                WHEN age_days <= 90 THEN '61-90'
                ELSE '90+' END AS age_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           floor(CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) / 100
                               AS DECIMAL(18,2))) AS DOUBLE)
                 * 100 + 0.5) / 100 AS open_value
    FROM open_orders
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def orders_open_aging_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WIP aging at the snapshot date (max order date): open orders
    ('O'/'P') bucketed 0-30/31-60/61-90/90+ days old, counted and
    valued by priority — the operations-review table that tells you
    WHERE the backlog in `orders_backlog_timeseries` is stuck and
    whether urgent orders age slower than low-priority ones.

    Scale: the snapshot date is a 1-row broadcast; the rest is one
    filtered scan plus a 16-cell aggregate — status filter pushed to
    parquet, prices decimal-summed.
    """
    o = load(spark, sf_dir, "orders")
    snap = o.agg(F.max("o_orderdate").alias("d"))
    open_orders = (
        o.filter(F.col("o_orderstatus").isin("O", "P"))
        .crossJoin(F.broadcast(snap))
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(F.col("d"), F.col("o_orderdate")).alias(
                "age_days"
            ),
            "o_totalprice",
        )
    )
    bucket = (
        F.when(F.col("age_days") <= 30, "0-30")
        .when(F.col("age_days") <= 60, "31-60")
        .when(F.col("age_days") <= 90, "61-90")
        .otherwise("90+")
    )
    cents = quantize(F.col("o_totalprice"), 2)
    return (
        open_orders.groupBy("priority", bucket.alias("age_bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            quantize(
                F.sum(cents.cast("decimal(18,2)")).cast("double"), 2
            ).alias("open_value"),
        )
        .orderBy("priority", "age_bucket")
    )


# ----------------------------------------------- mixed-script detector

_CJK = "一-鿿぀-ヿ"


@query(
    "text_mixed_script_ratio",
    oracle=f"""
    WITH per_doc AS (
      SELECT doc_id, lang,
             length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
               AS n_latin,
             length(regexp_replace(text, '[^{_CJK}]', '', 'g'))
               AS n_cjk,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_latin > 0 AND n_cjk > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_mixed,
           CAST(SUM(n_latin) AS BIGINT) AS total_latin,
           CAST(SUM(n_cjk) AS BIGINT) AS total_cjk,
           CAST(SUM(n_digit) AS BIGINT) AS total_digit,
           floor(SUM(n_cjk) * 1.0
                 / NULLIF(SUM(n_latin) + SUM(n_cjk), 0)
                 * 10000 + 0.5) / 10000 AS cjk_share
    FROM per_doc GROUP BY lang ORDER BY lang
    """,
)
def text_mixed_script_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Script composition per claimed language: Latin letters, CJK
    (Han + kana) characters, and digits counted per document, rolled up
    per language tag with a mixed-script document count. The cross-check
    on `text_lang_id`: a corpus slice tagged `en` whose cjk_share is
    0.4 has a mislabeling problem upstream, and mixed-script documents
    are where PII regexes and tokenizers both misbehave.

    Scale: three regex strip-and-measure passes per document in one
    codegen'd projection — no explode, no Python, no shuffle except
    the per-language rollup (cardinality = languages).
    """
    d = load(spark, sf_dir, "documents")
    n_latin = F.length(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z]", "")
    )
    n_cjk = F.length(
        F.regexp_replace(F.col("text"), f"[^{_CJK}]", "")
    )
    n_digit = F.length(F.regexp_replace(F.col("text"), "[^0-9]", ""))
    per_doc = d.select(
        "lang",
        n_latin.alias("n_latin"),
        n_cjk.alias("n_cjk"),
        n_digit.alias("n_digit"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(
                F.when(
                    (F.col("n_latin") > 0) & (F.col("n_cjk") > 0), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_mixed"),
            F.sum("n_latin").cast("bigint").alias("total_latin"),
            F.sum("n_cjk").cast("bigint").alias("total_cjk"),
            F.sum("n_digit").cast("bigint").alias("total_digit"),
            quantize(
                F.try_divide(
                    F.sum("n_cjk") * 1.0,
                    F.sum("n_latin") + F.sum("n_cjk"),
                ), 4
            ).alias("cjk_share"),
        )
        .orderBy("lang")
    )
