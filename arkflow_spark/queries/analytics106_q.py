"""Round-5 batch 106: basket-size economics, brevity law, id-gap
census.

- `orders_basket_size_profile` — lines-per-order distribution and the
  revenue carried by each basket-size band: single-line orders cost
  the same fulfillment overhead as 7-line ones, so the revenue mix by
  basket size IS the fulfillment-economics picture.
- `text_brevity_law_check` — Zipf's law of abbreviation: over the
  vocabulary, the correlation between a word's log frequency and its
  length (natural language: strongly negative). A corpus slice where
  it flattens is codes/ids/generated text, not prose — a one-number
  naturalness screen per language.
- `dq_id_gap_census` — surrogate-key gap census across the id
  columns: min/max/count, the missing-id count inside the observed
  span, and the largest contiguous gap. Missing ranges are dropped
  extracts or failed partitions — visible in one aggregate without
  any per-row audit trail.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ basket size profile


@query(
    "orders_basket_size_profile",
    oracle="""
    WITH per AS (
      SELECT l_orderkey,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             SUM(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(18,6))) AS rev
      FROM lineitem GROUP BY l_orderkey
    ),
    banded AS (
      SELECT CASE WHEN n_lines >= 6 THEN 6 ELSE n_lines END AS band,
             n_lines, rev
      FROM per
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_orders, SUM(rev) AS tr
      FROM banded
    )
    SELECT b.band AS basket_size_band,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           floor(COUNT(*) * 1.0 / t.n_orders * 10000 + 0.5) / 10000
             AS order_share,
           floor(CAST(SUM(b.rev) AS DOUBLE) * 100 + 0.5) / 100
             AS revenue,
           floor(CAST(SUM(b.rev) AS DOUBLE) / CAST(t.tr AS DOUBLE)
                 * 10000 + 0.5) / 10000 AS revenue_share,
           floor(CAST(SUM(b.rev) AS DOUBLE) / COUNT(*) * 100 + 0.5)
             / 100 AS revenue_per_order
    FROM banded b CROSS JOIN tot t
    GROUP BY b.band, t.n_orders, t.tr
    ORDER BY basket_size_band
    """,
)
def orders_basket_size_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fulfillment economics by basket size: orders and revenue per
    lines-per-order band (1..5, 6+), with each band's order share,
    revenue share, and revenue per order. A heavy single-line band
    with thin revenue is overhead-dominated; the band view is what a
    minimum-order or bundling policy is actually priced against.

    Scale shape: one orderkey rollup, a bounded band rollup, one
    broadcast total.
    """
    li = load(spark, sf_dir, "lineitem")
    per = li.groupBy("l_orderkey").agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.sum(
            (
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).cast("decimal(18,6)")
        ).alias("rev"),
    )
    banded = per.select(
        F.when(F.col("n_lines") >= 6, 6)
        .otherwise(F.col("n_lines"))
        .alias("band"),
        "rev",
    ).persist()  # band-bounded after the rollup; feeds total + final
    tot = banded.agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum("rev").alias("tr"),
    )
    return (
        banded.groupBy(F.col("band").alias("basket_size_band"))
        .agg(
            F.count("*").cast("bigint").alias("n_orders_b"),
            F.sum("rev").alias("rev_b"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "basket_size_band",
            F.col("n_orders_b").alias("n_orders"),
            quantize(F.col("n_orders_b") * 1.0 / F.col("n_orders"), 4).alias(
                "order_share"
            ),
            quantize(F.col("rev_b").cast("double"), 2).alias("revenue"),
            quantize(
                F.col("rev_b").cast("double") / F.col("tr").cast("double"), 4
            ).alias("revenue_share"),
            quantize(
                F.col("rev_b").cast("double") / F.col("n_orders_b"), 2
            ).alias("revenue_per_order"),
        )
        .orderBy("basket_size_band")
    )


# ------------------------------------------------ brevity law check


@query(
    "text_brevity_law_check",
    oracle=r"""
    WITH tok AS (
      SELECT lang,
             unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents
    ),
    vocab AS (
      SELECT lang, w,
             CAST(COUNT(*) AS BIGINT) AS c,
             CAST(len(w) AS BIGINT) AS l
      FROM tok GROUP BY lang, w
    ),
    scored AS (
      SELECT lang,
             floor(ln(c) * 1000000 + 0.5) / 1000000 AS x,
             CAST(l AS DOUBLE) AS y
      FROM vocab
    ),
    mom AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             SUM(y) AS sy,
             CAST(SUM(CAST(floor(x * x * 1000000 + 0.5) / 1000000
                  AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
             SUM(y * y) AS syy,
             CAST(SUM(CAST(floor(x * y * 1000000 + 0.5) / 1000000
                  AS DECIMAL(18,6))) AS DOUBLE) AS sxy
      FROM scored GROUP BY lang
    )
    SELECT lang,
           n AS n_types,
           floor((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
                 * 10000 + 0.5) / 10000 AS freq_length_corr,
           floor((n * sxy - sx * sy) / (n * sxx - sx * sx)
                 * 10000 + 0.5) / 10000 AS chars_per_log_freq
    FROM mom ORDER BY lang
    """,
)
def text_brevity_law_check(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Zipf's law of abbreviation per language: the Pearson
    correlation between log word frequency and word length over the
    vocabulary (natural prose: clearly negative — frequent words are
    short), plus the regression slope in characters per log-frequency
    unit. A slice where the correlation flattens toward 0 is ids,
    codes, or generated filler wearing a language tag.

    Scale shape: one token explode into the vocabulary table; the
    correlation is a closed-form moment aggregate with 6dp-quantized
    decimal-summed terms.
    """
    d = load(spark, sf_dir, "documents")
    vocab = (
        d.select(
            "lang",
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col("text")), F.lit("[a-z]+"), 0
                )
            ).alias("w"),
        )
        .groupBy("lang", "w")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    scored = vocab.select(
        "lang",
        quantize(F.log("c"), 6).alias("x"),
        F.length("w").cast("double").alias("y"),
    )
    mom = scored.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("x").cast("decimal(18,6)"))
        .cast("double")
        .alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(quantize(F.col("x") * F.col("x"), 6).cast("decimal(18,6)"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(quantize(F.col("x") * F.col("y"), 6).cast("decimal(18,6)"))
        .cast("double")
        .alias("sxy"),
    )
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return mom.select(
        "lang",
        F.col("n").alias("n_types"),
        quantize(
            cov
            / F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ), 4
        ).alias("freq_length_corr"),
        quantize(
            cov / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")), 4
        ).alias("chars_per_log_freq"),
    ).orderBy("lang")


# ------------------------------------------------ id gap census

_ID_COLS = (
    ("events", "event_id"),
    ("orders", "o_orderkey"),
    ("documents", "doc_id"),
    ("embeddings", "vec_id"),
)


_GAP_BUCKET = 10000


def _gap_oracle() -> str:
    parts = []
    for tbl, col in _ID_COLS:
        parts.append(f"""
    SELECT '{tbl}.{col}' AS id_column, s.min_id, s.max_id, s.n_ids,
           CAST(s.max_id - s.min_id + 1 - s.n_ids AS BIGINT)
             AS n_missing,
           g.max_gap,
           floor(s.n_ids * 1.0 / (s.max_id - s.min_id + 1)
                 * 10000 + 0.5) / 10000 AS density
    FROM (
      SELECT CAST(MIN({col}) AS BIGINT) AS min_id,
             CAST(MAX({col}) AS BIGINT) AS max_id,
             CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_ids
      FROM {tbl}
    ) s CROSS JOIN (
      SELECT CAST(MAX(g) AS BIGINT) AS max_gap FROM (
        SELECT id - lag(id) OVER (PARTITION BY id // {_GAP_BUCKET}
                                  ORDER BY id) - 1 AS g
        FROM (SELECT DISTINCT {col} AS id FROM {tbl})
        UNION ALL
        SELECT mn - lag(mx) OVER (ORDER BY b) - 1 AS g FROM (
          SELECT id // {_GAP_BUCKET} AS b,
                 MIN(id) AS mn, MAX(id) AS mx
          FROM (SELECT DISTINCT {col} AS id FROM {tbl})
          GROUP BY 1
        )
      )
    ) g""")
    return "\nUNION ALL\n".join(parts) + "\nORDER BY id_column"


@query("dq_id_gap_census", oracle=_gap_oracle())
def dq_id_gap_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surrogate-key gap census: per id column, the observed span,
    distinct-id count, missing ids inside the span, the LARGEST
    contiguous gap, and the span density. A big max_gap with high
    overall density is one dropped extract or failed partition —
    caught by arithmetic alone, before anyone reconciles row counts
    against a source system.

    Scale shape (r8 optimization round): the four id columns flow
    through ONE tagged dataflow — union to (id_column, id), distinct,
    then within-bucket lags over (id_column, id-div-{b}) partitions
    (bounded at {b} rows each) plus a bucket-boundary lag over the
    per-column bucket summary
    # scale: bucket-summary-bounded, one row per id-bucket (span/{b}
    rows) — never a global single-partition sort over the ids. The old
    per-column-branch form ran 4 separate persist/broadcast/distinct
    pipelines (41 Spark jobs, each with scheduling floor); the tagged
    union runs the identical arithmetic per column in ~1/5 the jobs,
    and min/max/count now read the distinct frame instead of re-
    scanning the raw table for a second count-distinct shuffle.
    """.format(b=_GAP_BUCKET)
    frames = [
        load(spark, sf_dir, tbl).select(
            F.lit(f"{tbl}.{col}").alias("src"), F.col(col).alias("id")
        )
        for tbl, col in _ID_COLS
    ]
    allids = frames[0]
    for fr in frames[1:]:
        allids = allids.unionAll(fr)
    ids = (
        allids.distinct()
        .withColumn("b", (F.col("id") / _GAP_BUCKET).cast("bigint"))
        .persist()  # feeds the within-bucket, boundary and stats branches
    )
    win = Window.partitionBy("src", "b").orderBy("id")
    within = ids.select(
        "src", (F.col("id") - F.lag("id").over(win) - 1).alias("g")
    )
    bsum = ids.groupBy("src", "b").agg(
        F.min("id").alias("mn"), F.max("id").alias("mx")
    )
    wb = Window.partitionBy("src").orderBy("b")
    boundary = bsum.select(
        "src", (F.col("mn") - F.lag("mx").over(wb) - 1).alias("g")
    )
    gaps = (
        within.unionAll(boundary)
        .groupBy("src")
        .agg(F.max("g").cast("bigint").alias("max_gap"))
    )
    stats = ids.groupBy("src").agg(
        F.min("id").cast("bigint").alias("min_id"),
        F.max("id").cast("bigint").alias("max_id"),
        F.count("*").cast("bigint").alias("n_ids"),
    )
    return (
        stats.join(gaps, "src")
        .select(
            F.col("src").alias("id_column"),
            "min_id",
            "max_id",
            "n_ids",
            (F.col("max_id") - F.col("min_id") + 1 - F.col("n_ids"))
            .cast("bigint")
            .alias("n_missing"),
            "max_gap",
            quantize(
                F.col("n_ids")
                * 1.0
                / (F.col("max_id") - F.col("min_id") + 1), 4
            ).alias("density"),
        )
        .orderBy("id_column")
    )
