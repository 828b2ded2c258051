"""Round-7 batch 134: import dependency concentration, TF-IDF source
keywords, calendar gap-fill with linear interpolation.

- `nation_import_dependency_hhi` — supply-chain risk per importing
  (customer) nation: HHI over exporting (supplier) nation revenue
  shares, the top partner's share, and the partner count. HHI > 0.25
  = the nation's inbound supply is concentration-risky; complements
  `nation_trade_imbalance` (net flows) and `nation_gravity_model`
  (expected flows) with the dependency readout.
- `text_tfidf_keywords_by_source` — the top distinguishing words per
  source by tf-idf (tf = word share within source, idf = ln(S/df)
  over sources): the one-line answer to "what is this feed about",
  and the feature-engineering primitive behind every source
  classifier. Source-partitioned ranking (closed schema domain).
- `events_gap_fill_interpolate` — daily event counts per stream with
  missing calendar days LINEARLY INTERPOLATED between the nearest
  observed neighbours: the gap-fill operator every downstream
  forecaster assumes has already run. Calendar-bounded windows.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ---------------------------------------------- import dependency


@query(
    "nation_import_dependency_hhi",
    oracle="""
    WITH flow AS (
      SELECT nc.n_name AS importer, ns.n_name AS exporter,
             SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                 AS DECIMAL(18,6))) AS rev
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation nc ON nc.n_nationkey = c.c_nationkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation ns ON ns.n_nationkey = s.s_nationkey
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT importer, SUM(rev) AS t FROM flow GROUP BY 1
    ),
    shares AS (
      SELECT f.importer, f.exporter,
             CAST(f.rev AS DOUBLE) / CAST(t.t AS DOUBLE) AS sh
      FROM flow f JOIN tot t ON t.importer = f.importer
    )
    SELECT importer,
           CAST(COUNT(*) AS BIGINT) AS n_partners,
           floor(SUM(sh * sh) * 10000 + 0.5) / 10000 AS import_hhi,
           floor(MAX(sh) * 10000 + 0.5) / 10000 AS top_partner_share
    FROM shares
    GROUP BY importer
    ORDER BY import_hhi DESC, importer
    """,
)
def nation_import_dependency_hhi(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Import-dependency concentration per customer nation: HHI over
    supplier-nation revenue shares, the largest partner's share, and
    the partner count. The supply-risk readout procurement teams
    track: a nation at HHI 0.5 loses half its inbound value if one
    partner fails.

    Scale shape: one lineitem scan; orders/customer join on keys;
    nation/supplier dims broadcast; exact decimal revenue sums; the
    share/HHI rollup runs on the nations^2-bounded flow matrix.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    nc = n.select(
        F.col("n_nationkey").alias("c_nationkey"),
        F.col("n_name").alias("importer"),
    )
    ns = n.select(
        F.col("n_nationkey").alias("s_nationkey"),
        F.col("n_name").alias("exporter"),
    )
    rev = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).cast("decimal(18,6)")
    flow = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(nc), "c_nationkey")
        .join(F.broadcast(ns), "s_nationkey")
        .groupBy("importer", "exporter")
        .agg(F.sum(rev).alias("rev"))
        .persist()  # nations^2-bounded; totals and shares both read it
        # — without this the lineitem scan + 5-way join runs twice
    )
    tot = flow.groupBy("importer").agg(F.sum("rev").alias("t"))
    shares = flow.join(tot, "importer").select(
        "importer",
        (F.col("rev").cast("double") / F.col("t").cast("double")).alias(
            "sh"
        ),
    )
    return (
        shares.groupBy("importer")
        .agg(
            F.count("*").cast("bigint").alias("n_partners"),
            quantize(F.sum(F.col("sh") * F.col("sh")), 4).alias("import_hhi"),
            quantize(F.max("sh"), 4).alias("top_partner_share"),
        )
        .orderBy(F.desc("import_hhi"), "importer")
    )


# ---------------------------------------------- tf-idf keywords

_TFIDF_TOP = 5


@query(
    "text_tfidf_keywords_by_source",
    oracle=f"""
    WITH words AS (
      SELECT source, unnest(regexp_split_to_array(
                 lower(trim(text)), '\\s+')) AS w
      FROM documents
    ),
    tf AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM words GROUP BY 1, 2
    ),
    st AS (SELECT source, SUM(c) AS n FROM tf GROUP BY 1),
    df AS (SELECT w, COUNT(DISTINCT source) AS df FROM tf GROUP BY 1),
    ns AS (SELECT CAST(COUNT(DISTINCT source) AS DOUBLE) AS s
           FROM documents),
    scored AS (
      SELECT t.source, t.w,
             (t.c * 1.0 / st.n) * ln(ns.s / df.df) AS score
      FROM tf t
      JOIN st ON st.source = t.source
      JOIN df ON df.w = t.w
      CROSS JOIN ns
    ),
    ranked AS (
      SELECT source, w, score,
             row_number() OVER (PARTITION BY source
                 ORDER BY score DESC, w) AS rnk
      FROM scored
    )
    SELECT source, rnk, w AS keyword,
           floor(score * 1000000 + 0.5) / 1000000 AS tfidf
    FROM ranked WHERE rnk <= {_TFIDF_TOP}
    ORDER BY source, rnk
    """,
)
def text_tfidf_keywords_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top {k} tf-idf keywords per source: tf = the word's share of
    the source's tokens, idf = ln(#sources / #sources containing the
    word). Words every source uses score zero (idf = 0); what remains
    is each feed's distinguishing vocabulary — the cheap version of
    the source classifier's feature list.

    Scale shape: one explode + (source, word) rollup (map-side
    combinable), a word-keyed df join, ranking PARTITIONED BY source
    (closed schema domain — a handful of feeds regardless of corpus
    size), executed as WindowGroupLimit.
    """.format(k=_TFIDF_TOP)
    d = load(spark, sf_dir, "documents")
    words = d.select(
        "source",
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("w"),
    )
    tf = words.groupBy("source", "w").agg(
        F.count("*").cast("bigint").alias("c")
    ).persist()
    st = tf.groupBy("source").agg(F.sum("c").alias("n"))
    df = tf.groupBy("w").agg(
        F.countDistinct("source").alias("df")
    )
    ns = d.agg(
        F.countDistinct("source").cast("double").alias("s")
    )
    scored = (
        tf.join(st, "source")
        .join(df, "w")
        .crossJoin(F.broadcast(ns))
        .select(
            "source",
            "w",
            (
                (F.col("c") * 1.0 / F.col("n"))
                * F.log(F.col("s") / F.col("df"))
            ).alias("score"),
        )
    )
    w_rnk = Window.partitionBy("source").orderBy(
        F.desc("score"), F.asc("w")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w_rnk))
        .filter(F.col("rnk") <= _TFIDF_TOP)
        .select(
            "source",
            "rnk",
            F.col("w").alias("keyword"),
            quantize(F.col("score"), 6).alias("tfidf"),
        )
        .orderBy("source", "rnk")
    )


# ---------------------------------------------- gap fill


@query(
    "events_gap_fill_interpolate",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
    cal AS (
      SELECT CAST(unnest(generate_series(lo, hi,
                 INTERVAL 1 DAY)) AS DATE) AS day
      FROM span
    ),
    grid AS (
      SELECT t.event_type, c.day, d.cnt
      FROM (SELECT DISTINCT event_type FROM daily) t
      CROSS JOIN cal c
      LEFT JOIN daily d ON d.event_type = t.event_type
                        AND d.day = c.day
    ),
    bounds AS (
      SELECT event_type, day, cnt,
             last_value(cnt IGNORE NULLS) OVER (
                 PARTITION BY event_type ORDER BY day
                 ROWS UNBOUNDED PRECEDING) AS prev_v,
             last_value(CASE WHEN cnt IS NOT NULL THEN day END
                 IGNORE NULLS) OVER (
                 PARTITION BY event_type ORDER BY day
                 ROWS UNBOUNDED PRECEDING) AS prev_d,
             first_value(cnt IGNORE NULLS) OVER (
                 PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS next_v,
             first_value(CASE WHEN cnt IS NOT NULL THEN day END
                 IGNORE NULLS) OVER (
                 PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS next_d
      FROM grid
    )
    SELECT event_type, day,
           floor(CASE
             WHEN cnt IS NOT NULL THEN CAST(cnt AS DOUBLE)
             WHEN prev_v IS NULL THEN CAST(next_v AS DOUBLE)
             WHEN next_v IS NULL THEN CAST(prev_v AS DOUBLE)
             ELSE prev_v + (next_v - prev_v)
                  * date_diff('day', prev_d, day)
                  * 1.0 / date_diff('day', prev_d, next_d)
           END * 10000 + 0.5) / 10000 AS cnt_filled,
           cnt IS NULL AS is_interpolated
    FROM bounds
    ORDER BY event_type, day
    """,
)
def events_gap_fill_interpolate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Daily counts per stream on the FULL calendar between the
    corpus's first and last day, with missing days linearly
    interpolated between the nearest observed neighbours (edges
    extend flat). The pre-processing step every forecaster
    (`events_holt_winters`, `events_ar2_forecast`) silently assumes;
    `is_interpolated` keeps the imputation auditable.

    Scale shape: one day rollup, a broadcast calendar cross join
    (# scale: calendar-bounded — rows = streams x days), and two
    IGNORE NULLS window passes per stream over the calendar grid.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
    ).agg(F.count("*").cast("bigint").alias("cnt")).persist()
    span = daily.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    cal = span.select(
        F.explode(
            F.sequence(
                F.col("lo"), F.col("hi"), F.expr("interval 1 day")
            )
        ).alias("day")
    )
    types = daily.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(cal)).join(
        daily, ["event_type", "day"], "left"
    )
    wp = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    day_key = F.when(F.col("cnt").isNotNull(), F.col("day"))
    bounds = grid.select(
        "event_type",
        "day",
        "cnt",
        F.last("cnt", ignorenulls=True).over(wp).alias("prev_v"),
        F.last(day_key, ignorenulls=True).over(wp).alias("prev_d"),
        F.first("cnt", ignorenulls=True).over(wn).alias("next_v"),
        F.first(day_key, ignorenulls=True).over(wn).alias("next_d"),
    )
    filled = (
        F.when(F.col("cnt").isNotNull(), F.col("cnt").cast("double"))
        .when(F.col("prev_v").isNull(), F.col("next_v").cast("double"))
        .when(F.col("next_v").isNull(), F.col("prev_v").cast("double"))
        .otherwise(
            F.col("prev_v")
            + (F.col("next_v") - F.col("prev_v"))
            * F.datediff("day", "prev_d")
            * 1.0
            / F.datediff("next_d", "prev_d")
        )
    )
    return bounds.select(
        "event_type",
        "day",
        quantize(filled, 4).alias("cnt_filled"),
        F.col("cnt").isNull().alias("is_interpolated"),
    ).orderBy("event_type", "day")
