"""Round-5 batch 94: index balance, positional style, price
realization.

- `ann_ivf_bucket_balance` — occupancy balance of the IVF coarse
  quantizer's buckets: max/mean skew, normalized occupancy entropy,
  and the share of vectors in the biggest bucket. A skewed index
  makes probe latency bimodal (hot buckets dominate tail latency) —
  the operational audit behind `ann_ivf_search`'s pruning claims.
- `text_positional_length_profile` — mean token length by position
  decile within documents: templated corpora have positional
  signatures (headers/footers of short boilerplate tokens) that
  global token stats (`text_token_count`) average away.
- `part_price_realization` — realized unit price vs list price per
  brand: the quantity-weighted realization ratio and the share of
  line items transacting below list. Realization sliding while list
  prices hold = discounting leakage — the margin story behind
  `lineitem_price_index`'s inflation numbers.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import ORACLE, QUERIES, quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ IVF bucket balance


def _balance_oracle() -> str:
    # vector_q registers the ann_ivf_assign oracle read below
    import arkflow_spark.queries.vector_q  # noqa: F401
    ivf = ORACLE["ann_ivf_assign"]
    return f"""
    WITH occ AS (
      SELECT assigned_label AS bucket, CAST(COUNT(*) AS BIGINT) AS c
      FROM ({ivf}) a GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(MAX(c) AS BIGINT) AS cmax
      FROM occ
    ),
    ent AS (
      SELECT CAST(SUM(CAST(floor(-(o.c * 1.0 / t.n)
                 * ln(o.c * 1.0 / t.n) * 1000000 + 0.5) / 1000000
                 AS DECIMAL(18,6))) AS DOUBLE) AS h
      FROM occ o CROSS JOIN tot t
    )
    SELECT t.k AS n_buckets, t.n AS n_vectors,
           floor(t.cmax * 1.0 * t.k / t.n * 10000 + 0.5) / 10000
             AS max_over_mean,
           floor(t.cmax * 1.0 / t.n * 10000 + 0.5) / 10000
             AS biggest_share,
           floor(e.h / ln(t.k) * 10000 + 0.5) / 10000
             AS occupancy_entropy_norm
    FROM tot t CROSS JOIN ent e
    """


@query("ann_ivf_bucket_balance", oracle=_balance_oracle())
def ann_ivf_bucket_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF bucket-occupancy balance from the registered coarse
    quantizer (`ann_ivf_assign`): max/mean skew ratio, the biggest
    bucket's vector share, and the occupancy entropy normalized by
    ln(k) (1.0 = perfectly balanced). Skew ratios well above 1 mean
    probe work is concentrated — tail latency is the hot bucket, and
    re-seeding or splitting beats raising nprobe.

    Scale shape: the assignment reuses the registered IVF query;
    balance is one k-row rollup (bucket-count bounded).
    """
    assign = QUERIES["ann_ivf_assign"](spark, sf_dir).select(
        F.col("assigned_label").alias("bucket")
    )
    occ = assign.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("c")
    ).persist()  # k rows; lineage is the whole IVF assignment and the
    # totals/entropy/final branches all re-read it
    tot = occ.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("k"),
        F.max("c").cast("bigint").alias("cmax"),
    )
    ent = occ.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            quantize(
                -(F.col("c") * 1.0 / F.col("n"))
                * F.log(F.col("c") * 1.0 / F.col("n")), 6
            ).cast("decimal(18,6)")
        )
        .cast("double")
        .alias("h")
    )
    return tot.crossJoin(F.broadcast(ent)).select(
        F.col("k").alias("n_buckets"),
        F.col("n").alias("n_vectors"),
        quantize(F.col("cmax") * 1.0 * F.col("k") / F.col("n"), 4).alias(
            "max_over_mean"
        ),
        quantize(F.col("cmax") * 1.0 / F.col("n"), 4).alias(
            "biggest_share"
        ),
        quantize(F.col("h") / F.log(F.col("k")), 4).alias(
            "occupancy_entropy_norm"
        ),
    )


# ------------------------------------------------ positional profile


@query(
    "text_positional_length_profile",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS w
      FROM documents
    ),
    pos AS (
      SELECT t.doc_id,
             LEAST((g.i - 1) * 10 // len(t.w), 9) AS decile,
             length(t.w[g.i]) AS wlen
      FROM toks t CROSS JOIN generate_series(1, 4000) g(i)
      WHERE g.i <= len(t.w)
    )
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           floor(CAST(SUM(CAST(wlen AS DECIMAL(18,0))) AS DOUBLE)
                 / COUNT(*) * 10000 + 0.5) / 10000 AS mean_token_len
    FROM pos GROUP BY decile ORDER BY decile
    """,
)
def text_positional_length_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mean token length by within-document position decile (token i
    of n lands in decile floor((i-1)*10/n)): flat = positionally
    homogeneous prose; short-token spikes at the edges = boilerplate
    headers/footers that chunkers (`documents_rag_chunks`) should
    strip before embedding.

    Scale shape: one tokenize + position fan-out (doc-length
    bounded), one 10-row rollup of exact integer length sums.
    """
    from arkflow_spark.queries.base import seq1

    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("w"),
    )
    w = F.col("w")
    pos = toks.select(
        F.explode(
            F.transform(
                seq1(F.size(w)),
                lambda i: F.struct(
                    F.least(
                        ((i - 1) * 10 / F.size(w)).cast("bigint"),
                        F.lit(9).cast("bigint"),
                    ).alias("decile"),
                    F.length(F.element_at(w, i)).alias("wlen"),
                ),
            )
        ).alias("p")
    ).select(F.col("p.decile").alias("decile"), F.col("p.wlen").alias("wlen"))
    return (
        pos.groupBy("decile")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            quantize(
                F.sum(F.col("wlen").cast("decimal(18,0)")).cast("double")
                / F.count("*"), 4
            ).alias("mean_token_len"),
        )
        .orderBy("decile")
    )


# ------------------------------------------------ price realization


@query(
    "part_price_realization",
    oracle="""
    WITH lines AS (
      SELECT p.p_brand,
             l.l_quantity, l.l_extendedprice,
             p.p_retailprice,
             l.l_extendedprice / NULLIF(l.l_quantity, 0)
               < p.p_retailprice AS below_list
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_quantity > 0
    )
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           floor(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                      AS DOUBLE)
                 / CAST(SUM(CAST(floor(p_retailprice * l_quantity
                        * 100 + 0.5) / 100 AS DECIMAL(28,2)))
                        AS DOUBLE)
                 * 10000 + 0.5) / 10000 AS realization_ratio,
           floor(SUM(CASE WHEN below_list THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*) * 10000 + 0.5) / 10000 AS below_list_share
    FROM lines GROUP BY p_brand ORDER BY p_brand
    """,
)
def part_price_realization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price realization per brand: total realized revenue over the
    list-price revenue (retail price x quantity, cent-quantized exact
    decimal sums) plus the share of line items transacting below
    list. Realization < 1 with a high below-list share = systematic
    discount leakage the list-price index never shows.

    Scale shape: one fact-dim join (part broadcast), one brand rollup
    with exact decimal sums.
    """
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    p = load(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_retailprice"
    )
    lines = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "p_brand",
        "l_quantity",
        "l_extendedprice",
        "p_retailprice",
        (
            F.col("l_extendedprice") / F.nullif(F.col("l_quantity"), F.lit(0))
            < F.col("p_retailprice")
        ).alias("below_list"),
    )
    return (
        lines.groupBy("p_brand")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            quantize(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                .cast("double")
                / F.sum(
                    quantize(
                        F.col("p_retailprice") * F.col("l_quantity"), 2
                    ).cast("decimal(28,2)")
                ).cast("double"), 4
            ).alias("realization_ratio"),
            quantize(
                F.sum(F.when(F.col("below_list"), 1).otherwise(0))
                * 1.0
                / F.count("*"), 4
            ).alias("below_list_share"),
        )
        .orderBy("p_brand")
    )
