"""Round-5 batch 97: graph transitivity, embedding duplicate audit,
sentence-length profiling.

- `graph_clustering_coefficient` — global transitivity of the
  co-purchase graph (3 x triangles / wedges) with node/edge/degree
  context. `graph_triangle_count` counts the numerator; this
  normalizes it into the comparable [0,1] statistic that says whether
  co-purchases CLUSTER (bundles) or hub out (staples bought with
  everything), and the one to trend release-over-release.
- `embedding_duplicate_vectors` — exact-duplicate embedding audit:
  vectors whose 6dp-quantized coordinates are bit-identical under a
  content fingerprint. Duplicate vectors with distinct doc_ids are
  either true content dups the text-side dedup should have caught or
  an embedding-pipeline bug (same input row embedded twice); either
  way they bias every kNN/centroid statistic. The cross-modal twin of
  `dedup_exact`.
- `text_sentence_length_profile` — per-language sentence statistics
  (count, mean/median/P90 token length, long-sentence share) from a
  punctuation segmenter. Sentence-length profiles drive chunking
  budgets (`documents_rag_chunks`) and flag machine-generated or
  boilerplate-heavy sources whose profiles diverge from the
  language's norm.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.functions import copurchase
from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------- clustering coefficient

_CC_MIN_SUPPORT = 2  # co-purchase edge: parts sharing >= this many orders


@query(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH basket AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pair AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS n
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    edges AS (SELECT u, v FROM pair WHERE n >= {_CC_MIN_SUPPORT}),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
      ) GROUP BY node
    ),
    wed AS (
      SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS w,
             CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(d) AS BIGINT) AS sum_d
      FROM deg
    ),
    tri AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS t
      FROM edges e1
      JOIN edges e2 ON e2.u = e1.v
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT w.n_nodes,
           CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
           w.w AS n_wedges,
           t.t AS n_triangles,
           floor(3.0 * t.t / NULLIF(w.w, 0) * 10000 + 0.5) / 10000
             AS global_clustering,
           floor(w.sum_d * 1.0 / w.n_nodes * 10000 + 0.5) / 10000
             AS mean_degree
    FROM wed w CROSS JOIN tri t
    """,
)
def graph_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Global clustering coefficient (transitivity) of the co-purchase
    graph: 3 x triangles / wedges, where wedges = sum over nodes of
    d(d-1)/2. High transitivity = purchases form closed bundles
    (community structure worth mining, `graph_community_label_prop_bucketed`);
    low = hub-and-spoke staples (`graph_degree_assortativity` tells
    which). `graph_triangle_count` gives the raw numerator; this is
    the normalized statistic comparable across catalogs and releases.

    Scale shape: basket-bounded edge generation (<= 78 pairs/order),
    one degree aggregate (wedges are pure per-node arithmetic), and
    the oriented two-join triangle count from the triangle operator —
    every count an exact BIGINT, one double ratio at the end. The
    edge list (the shared materialized co-purchase index,
    `functions/copurchase.py` — disk-backed, so the degree/wedge/
    triangle branches re-read a bucket scan, not a lineitem join)
    feeds every branch.
    """
    edges = copurchase.directed(
        spark, sf_dir, min_support=_CC_MIN_SUPPORT
    ).select("u", "v")
    # r9: degrees group on the symmetric index's bucket key —
    # exchange-free — instead of shuffling a transposed union
    und = copurchase.undirected(
        spark, sf_dir, min_support=_CC_MIN_SUPPORT
    ).select("u", "v")
    deg = und.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    wed = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2)
        .cast("bigint")
        .alias("w"),
        F.count("*").cast("bigint").alias("n_nodes"),
        F.sum("d").cast("bigint").alias("sum_d"),
    )
    # degree-oriented triangle count (r8, functions/triangles — exact,
    # hub fan-out capped; the oracle keeps the naive id-oriented SQL)
    from arkflow_spark.functions.triangles import triangle_count

    tri = triangle_count(edges, und=und)
    n_edges = edges.agg(F.count("*").cast("bigint").alias("n_edges"))
    return (
        wed.crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(n_edges))
        .select(
            "n_nodes",
            "n_edges",
            F.col("w").alias("n_wedges"),
            F.col("t").alias("n_triangles"),
            quantize(
                3.0 * F.col("t") / F.nullif(F.col("w"), F.lit(0)), 4
            ).alias("global_clustering"),
            quantize(F.col("sum_d") * 1.0 / F.col("n_nodes"), 4).alias(
                "mean_degree"
            ),
        )
    )


# --------------------------------------- duplicate embedding audit


@query(
    "embedding_duplicate_vectors",
    oracle="""
    WITH fp AS (
      SELECT vec_id,
             md5(array_to_string(list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
                      AS BIGINT)), ',')) AS f
      FROM embeddings
    ),
    grp AS (
      SELECT f, CAST(COUNT(*) AS BIGINT) AS c FROM fp GROUP BY f
    )
    SELECT CAST(SUM(c) AS BIGINT) AS n_vectors,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_groups,
           CAST(SUM(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT)
             AS n_redundant,
           CAST(MAX(c) AS BIGINT) AS max_group_size,
           floor(SUM(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) * 1.0
                 / SUM(c) * 10000 + 0.5) / 10000 AS redundancy_rate
    FROM grp
    """,
)
def embedding_duplicate_vectors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact-duplicate embedding audit: fingerprint each vector by the
    md5 of its 6dp-quantized integer coordinates (integers render
    identically in every engine — no float-formatting ambiguity) and
    count collision groups. Redundant vectors inflate their region's
    density for every kNN/centroid/IVF statistic and usually mean the
    text-side dedup missed a duplicate or the embedding job ran a row
    twice — the cross-modal `dedup_exact`.

    Scale shape: one narrow fingerprint projection (no shuffle), one
    fingerprint-keyed count — the same single-shuffle profile as
    `dedup_exact`; the rollup is one row.
    """
    e = load(spark, sf_dir, "embeddings")
    f = F.md5(
        F.concat_ws(
            ",",
            F.transform(
                "embedding",
                lambda x: F.floor(
                    x.cast("double") * 1000000 + 0.5
                )
                .cast("bigint")
                .cast("string"),
            ),
        )
    )
    grp = (
        e.select(f.alias("f"))
        .groupBy("f")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    dup_extra = F.sum(
        F.when(F.col("c") > 1, F.col("c") - 1).otherwise(0)
    )
    return grp.agg(
        F.sum("c").cast("bigint").alias("n_vectors"),
        F.count("*").cast("bigint").alias("n_distinct"),
        F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_groups"),
        dup_extra.cast("bigint").alias("n_redundant"),
        F.max("c").cast("bigint").alias("max_group_size"),
        quantize(dup_extra * 1.0 / F.sum("c"), 4).alias("redundancy_rate"),
    )


# --------------------------------------- sentence length profile

_LONG_SENT_TOKENS = 40


@query(
    "text_sentence_length_profile",
    oracle=f"""
    WITH sent AS (
      SELECT lang, trim(s) AS s
      FROM documents,
           unnest(regexp_split_to_array(text, '[.!?]+')) AS t(s)
      WHERE trim(s) <> ''
    ),
    lens AS (
      SELECT lang,
             CAST(len(regexp_split_to_array(s, '\\s+')) AS BIGINT)
               AS l
      FROM sent
    ),
    hist AS (
      SELECT lang, l, CAST(COUNT(*) AS BIGINT) AS c
      FROM lens GROUP BY 1, 2
    ),
    cum AS (
      SELECT lang, l, c,
             CAST(SUM(c) OVER (PARTITION BY lang ORDER BY l
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cm,
             CAST(SUM(c) OVER (PARTITION BY lang) AS BIGINT) AS n,
             CAST(SUM(c * l) OVER (PARTITION BY lang) AS BIGINT) AS st
      FROM hist
    )
    SELECT lang,
           MAX(n) AS n_sentences,
           floor(MAX(st) * 1.0 / MAX(n) * 10000 + 0.5) / 10000
             AS mean_tokens,
           MIN(CASE WHEN cm * 2 >= n THEN l END) AS median_tokens,
           MIN(CASE WHEN cm * 10 >= n * 9 THEN l END) AS p90_tokens,
           floor(SUM(CASE WHEN l > {_LONG_SENT_TOKENS} THEN c
                     ELSE 0 END) * 1.0 / MAX(n) * 10000 + 0.5) / 10000
             AS long_share
    FROM cum GROUP BY lang ORDER BY lang
    """,
)
def text_sentence_length_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-language sentence statistics from a punctuation segmenter
    ([.!?]+ boundaries): sentence count, mean/median/P90 token length,
    and the share of sentences beyond {t} tokens. Length profiles set
    chunk budgets (`documents_rag_chunks`) and expose sources whose
    profile diverges from the language norm — run-on machine
    generation or boilerplate lists.

    Scale shape: one narrow sentence explode feeding a (lang x length)
    histogram (length-bounded partitions); quantiles are cumulative
    selections over the bounded histogram — no corpus-scaled sort,
    exact integer arithmetic throughout.
    """.format(t=_LONG_SENT_TOKENS)
    d = load(spark, sf_dir, "documents")
    sent = (
        d.select(
            "lang",
            F.explode(F.split("text", r"[.!?]+")).alias("s0"),
        )
        .select("lang", F.trim("s0").alias("s"))
        .filter(F.col("s") != "")
    )
    lens = sent.select(
        "lang",
        F.size(F.split("s", r"\s+")).cast("bigint").alias("l"),
    )
    hist = lens.groupBy("lang", "l").agg(
        F.count("*").cast("bigint").alias("c")
    )
    wl = Window.partitionBy("lang")
    wcum = wl.orderBy("l").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "lang",
        "l",
        "c",
        F.sum("c").over(wcum).cast("bigint").alias("cm"),
        F.sum("c").over(wl).cast("bigint").alias("n"),
        F.sum(F.col("c") * F.col("l")).over(wl).cast("bigint").alias("st"),
    )
    return (
        cum.groupBy("lang")
        .agg(
            F.max("n").alias("n_sentences"),
            quantize(F.max("st") * 1.0 / F.max("n"), 4).alias("mean_tokens"),
            F.min(
                F.when(F.col("cm") * 2 >= F.col("n"), F.col("l"))
            ).alias("median_tokens"),
            F.min(
                F.when(F.col("cm") * 10 >= F.col("n") * 9, F.col("l"))
            ).alias("p90_tokens"),
            quantize(
                F.sum(
                    F.when(
                        F.col("l") > _LONG_SENT_TOKENS, F.col("c")
                    ).otherwise(0)
                )
                * 1.0
                / F.max("n"), 4
            ).alias("long_share"),
        )
        .orderBy("lang")
    )
