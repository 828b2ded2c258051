"""Round-5 batch 87: discriminative dimensions, key uniqueness,
lexical dispersion.

- `embedding_fisher_ratio_dims` — Fisher discriminant ratio per
  embedding dimension (between-label variance of the per-label means
  over mean within-label variance), top-10 dims. The feature-
  selection audit: a few dominant dims = labels live in a small
  subspace (cheap linear probes suffice); flat ratios = labels need
  the full geometry.
- `dq_primary_key_uniqueness` — primary-key uniqueness audit for
  every table in the star schema (incl. lineitem's composite key):
  rows vs distinct keys vs duplicates. The partner gate to
  `dq_referential_integrity` — FK checks assume the PK side is
  actually unique, which this proves.
- `text_dispersion_dp` — Gries' DP (deviation of proportions) for
  the top-15 corpus words across sources: DP = 0.5 sum |share of
  word's occurrences in source - source's share of all tokens|.
  DP ~ 0 = the word is everywhere (a true stopword); DP -> 1 = the
  word is one source's tic — `text_word_burstiness` measures
  within-document clumping, this measures across-source clumping.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ Fisher ratio

_FISHER_TOP = 10


@query(
    "embedding_fisher_ratio_dims",
    oracle=f"""
    WITH x AS (
      SELECT vec_id, label, g.i AS i,
             floor(CAST(embedding[g.i] AS DOUBLE) * 1000000 + 0.5)
               / 1000000 AS v
      FROM embeddings CROSS JOIN generate_series(1, 64) g(i)
      WHERE g.i <= len(embedding)
    ),
    lab AS (
      SELECT label, i,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(floor(v * v * 1000000 + 0.5) / 1000000
                  AS DECIMAL(18,6))) AS DOUBLE) AS s2
      FROM x GROUP BY label, i
    ),
    per_dim AS (
      SELECT i,
             CAST(SUM(n) AS BIGINT) AS nt,
             CAST(SUM(CAST(s1 AS DECIMAL(28,6))) AS DOUBLE) AS st,
             CAST(SUM(CAST(floor(s1 * s1 / n * 1000000 + 0.5)
                  / 1000000 AS DECIMAL(28,6))) AS DOUBLE) AS ssb,
             CAST(SUM(CAST(s2 AS DECIMAL(28,6))) AS DOUBLE) AS sq,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM lab GROUP BY i
    )
    SELECT i AS dim,
           floor((ssb - st * st / nt) / (k - 1) * 1000000 + 0.5)
             / 1000000 AS between_ms,
           floor((sq - ssb) / (nt - k) * 1000000 + 0.5) / 1000000
             AS within_ms,
           floor(((ssb - st * st / nt) / (k - 1))
                 / ((sq - ssb) / (nt - k)) * 10000 + 0.5) / 10000
             AS fisher_ratio
    FROM per_dim
    ORDER BY fisher_ratio DESC, dim
    LIMIT {_FISHER_TOP}
    """,
)
def embedding_fisher_ratio_dims(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-dimension Fisher discriminant ratio (one-way ANOVA F
    without the significance dressing): between-label mean square
    over within-label mean square from exact decimal moment sums,
    top-{t} dimensions. The dims a linear probe would use first; all
    ratios near 1 = labels are not axis-aligned anywhere and
    probing needs rotations (`embedding_pca_power`).

    Scale shape: one 64-way explode, one (label x dim) moment rollup
    (category-bounded panel), per-dim closed form, ORDER BY + LIMIT.
    """.format(t=_FISHER_TOP)
    e = load(spark, sf_dir, "embeddings")
    x = e.select(
        "label", F.posexplode("embedding").alias("i0", "raw")
    ).select(
        "label",
        (F.col("i0") + 1).alias("i"),
        quantize(F.col("raw").cast("double"), 6).alias("v"),
    )
    lab = x.groupBy("label", "i").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("v").cast("decimal(18,6)"))
        .cast("double")
        .alias("s1"),
        F.sum(
            quantize(F.col("v") * F.col("v"), 6).cast("decimal(18,6)")
        )
        .cast("double")
        .alias("s2"),
    )
    per_dim = lab.groupBy("i").agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum(F.col("s1").cast("decimal(28,6)"))
        .cast("double")
        .alias("st"),
        F.sum(
            quantize(F.col("s1") * F.col("s1") / F.col("n"), 6).cast(
                "decimal(28,6)"
            )
        )
        .cast("double")
        .alias("ssb"),
        F.sum(F.col("s2").cast("decimal(28,6)"))
        .cast("double")
        .alias("sq"),
        F.count("*").cast("bigint").alias("k"),
    )
    between = (
        F.col("ssb") - F.col("st") * F.col("st") / F.col("nt")
    ) / (F.col("k") - 1)
    within = (F.col("sq") - F.col("ssb")) / (F.col("nt") - F.col("k"))
    return (
        per_dim.select(
            F.col("i").alias("dim"),
            quantize(between, 6).alias("between_ms"),
            quantize(within, 6).alias("within_ms"),
            quantize(between / within, 4).alias("fisher_ratio"),
        )
        .orderBy(F.col("fisher_ratio").desc(), "dim")
        .limit(_FISHER_TOP)
    )


# ------------------------------------------------ PK uniqueness

_PKS = (
    ("region", "r_regionkey"),
    ("nation", "n_nationkey"),
    ("customer", "c_custkey"),
    ("supplier", "s_suppkey"),
    ("part", "p_partkey"),
    ("orders", "o_orderkey"),
    ("lineitem", "l_orderkey || '|' || l_linenumber"),
    ("events", "event_id"),
    ("documents", "doc_id"),
    ("embeddings", "vec_id"),
)


def _pk_oracle() -> str:
    parts = []
    for table, key in _PKS:
        label = key.replace("'", "''")
        parts.append(f"""
    SELECT '{table}' AS table_name,
           '{label}' AS key_expr,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT ({key})) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) - COUNT(DISTINCT ({key})) AS BIGINT)
             AS n_duplicates
    FROM {table}""")
    return "\nUNION ALL\n".join(parts) + "\nORDER BY table_name"


@query("dq_primary_key_uniqueness", oracle=_pk_oracle())
def dq_primary_key_uniqueness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Primary-key uniqueness audit for all {n} tables (composite key
    for lineitem): rows vs distinct key values vs duplicate surplus.
    A non-zero duplicate count poisons every downstream join
    cardinality — this gate runs before `dq_referential_integrity`
    can be trusted.

    Scale shape: one count-distinct aggregate per table (partial
    aggregation pushes the distinct map-side); the union is {n}
    bounded rows.
    """.format(n=len(_PKS))
    out = None
    for table, key in _PKS:
        t = load(spark, sf_dir, table)
        row = t.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.countDistinct(F.expr(key)).cast("bigint").alias(
                "n_distinct"
            ),
        ).select(
            F.lit(table).alias("table_name"),
            F.lit(key).alias("key_expr"),
            "n_rows",
            "n_distinct",
            (F.col("n_rows") - F.col("n_distinct"))
            .cast("bigint")
            .alias("n_duplicates"),
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("table_name")


# ------------------------------------------------ Gries' DP

_DP_TOP = 15


@query(
    "text_dispersion_dp",
    oracle=f"""
    WITH tok AS (
      SELECT source,
             unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents
    ),
    src_tot AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS t
      FROM tok GROUP BY source
    ),
    corpus AS (
      SELECT CAST(SUM(t) AS BIGINT) AS tt FROM src_tot
    ),
    topw AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY w
      ORDER BY c DESC, w LIMIT {_DP_TOP}
    ),
    sw AS (
      SELECT t.w, tok.source, CAST(COUNT(*) AS BIGINT) AS c_sw
      FROM tok JOIN topw t USING (w)
      GROUP BY t.w, tok.source
    ),
    panel AS (
      SELECT tw.w, st.source, st.t,
             COALESCE(sw.c_sw, 0) AS c_sw,
             tw.c AS c_w
      FROM topw tw CROSS JOIN src_tot st
      LEFT JOIN sw ON sw.w = tw.w AND sw.source = st.source
    )
    SELECT p.w AS word, MAX(p.c_w) AS n_occurrences,
           floor(0.5 * SUM(CAST(floor(abs(p.c_sw * 1.0 / p.c_w
                      - p.t * 1.0 / c.tt) * 1000000 + 0.5) / 1000000
                      AS DECIMAL(18,6))) * 10000 + 0.5) / 10000 AS dp
    FROM panel p CROSS JOIN corpus c
    GROUP BY p.w
    ORDER BY dp DESC, word
    """,
)
def text_dispersion_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gries' DP dispersion for the top-{t} corpus words: 0.5 * sum
    over sources of |word's occurrence share in the source - the
    source's share of all tokens| (6dp-quantized terms, decimal
    reduce). DP ~ 0 = used evenly corpus-wide; DP -> 1 = one source's
    signature term — the cross-source complement to within-document
    burstiness.

    Scale shape: one token explode feeding source totals and
    (word x source) counts; the DP panel is top-{t} x sources —
    bounded; the top-word head is ORDER BY + LIMIT.
    """.format(t=_DP_TOP)
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "source",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("w"),
    )
    # ONE token explode builds the (source, word) count table
    # (vocabulary x sources bounded, persisted); source totals, the
    # top-word head, and the panel counts are all re-aggregations.
    swc = tok.groupBy("source", "w").agg(
        F.count("*").cast("bigint").alias("c")
    ).persist()
    src_tot = swc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("t")
    )
    corpus = src_tot.agg(F.sum("t").cast("bigint").alias("tt"))
    topw = (
        swc.groupBy("w")
        .agg(F.sum("c").cast("bigint").alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(_DP_TOP)
    )
    sw = swc.join(F.broadcast(topw.select("w")), "w").select(
        "w", "source", F.col("c").alias("c_sw")
    )
    panel = (
        topw.crossJoin(src_tot)
        .join(sw, ["w", "source"], "left")
        .select(
            "w",
            F.col("c").alias("c_w"),
            "t",
            F.coalesce(F.col("c_sw"), F.lit(0)).alias("c_sw"),
        )
    )
    return (
        panel.crossJoin(F.broadcast(corpus))
        .groupBy("w")
        .agg(
            F.max("c_w").alias("n_occurrences"),
            quantize(
                0.5
                * F.sum(
                    quantize(
                        F.abs(
                            F.col("c_sw") * 1.0 / F.col("c_w")
                            - F.col("t") * 1.0 / F.col("tt")
                        ), 6
                    ).cast("decimal(18,6)")
                ), 4
            ).alias("dp"),
        )
        .select(F.col("w").alias("word"), "n_occurrences", "dp")
        .orderBy(F.col("dp").desc(), "word")
    )
