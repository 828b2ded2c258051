"""Corpus-level training-data operators over `documents`: Gopher-rule
quality gating, unigram-LM scoring, corpus-wide duplicate-chunk removal,
and deterministic domain-mixture sampling.

These complement the per-document gates in ``text_q.py`` with the
*corpus-scoped* passes a pre-training pipeline runs (Gopher/ MassiveText
rules, CCNet-style LM scoring, C4's "remove any line occurring >= 3 times
in the corpus", and mixture reweighting across sources). Everything is
JVM-side expressions; the corpus-wide state (unigram table, duplicate
chunk set) is produced by one aggregation and joined back — broadcast
when small, shuffle-join when not — so the same plan runs at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load

# ------------------------------------------------------------- gopher rules

# MassiveText/Gopher quality heuristics (Rae et al. 2021, table A1),
# rescaled to the synthetic corpus: word-count bounds, mean word length,
# symbol-to-word ratio, alphabetic-word fraction, stopword presence.
_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


@query(
    "text_gopher_quality",
    oracle=r"""
    WITH w AS (
      SELECT doc_id, source,
             regexp_split_to_array(trim(text), '\s+') AS words
      FROM documents
    ),
    m AS (
      SELECT doc_id, source,
             len(words) AS n_words,
             ROUND(len(list_filter(words, x -> length(x) > 0))
                   * 1.0 / len(words), 4) AS nonempty_frac,
             ROUND(list_aggregate(list_transform(words, x -> length(x)),
                                  'sum') * 1.0 / len(words), 4)
               AS mean_word_len,
             ROUND(len(list_filter(words,
                       x -> regexp_matches(x, '[a-z]')))
                   * 1.0 / len(words), 4) AS alpha_word_frac,
             ROUND(len(list_filter(words, x -> x LIKE '#%' OR
                       x LIKE '%...')) * 1.0 / len(words), 4)
               AS symbol_word_ratio,
             len(list_filter(words, x -> x IN
                 ('the','be','to','of','and','that','have','with')))
               AS n_stopwords
      FROM w
    )
    SELECT doc_id, source, n_words, nonempty_frac, mean_word_len,
           alpha_word_frac, symbol_word_ratio, n_stopwords,
           (n_words BETWEEN 10 AND 100000)
             AND (mean_word_len BETWEEN 2 AND 12)
             AND (alpha_word_frac >= 0.7)
             AND (symbol_word_ratio <= 0.1)
             AND (n_stopwords >= 2) AS passes_gopher
    FROM m ORDER BY doc_id
    """,
)
def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText repetition-free quality rules as one narrow
    projection — word-count bounds, mean word length, alphabetic fraction,
    symbol ratio, stopword presence — and the conjunctive gate bit.

    Thresholds follow Rae et al. 2021 (Gopher, table A1) adapted to the
    synthetic corpus (its docs are lowercase word soup ~30-200 words).
    Single scan, zero shuffles: the filter runs at parquet-split locality
    on any cluster size."""
    d = load(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    n_words = F.size(words)
    mean_word_len = F.round(
        F.aggregate(
            words, F.lit(0).cast("bigint"), lambda a, x: a + F.length(x)
        )
        * 1.0
        / n_words,
        4,
    )
    alpha_frac = F.round(
        F.size(F.filter(words, lambda x: x.rlike("[a-z]"))) * 1.0 / n_words,
        4,
    )
    symbol_ratio = F.round(
        F.size(
            F.filter(
                words,
                lambda x: x.startswith("#") | x.endswith("..."),
            )
        )
        * 1.0
        / n_words,
        4,
    )
    n_stop = F.size(F.filter(words, lambda x: x.isin(*_GOPHER_STOPWORDS)))
    nonempty = F.round(
        F.size(F.filter(words, lambda x: F.length(x) > 0)) * 1.0 / n_words,
        4,
    )
    d = d.select(
        "doc_id",
        "source",
        n_words.alias("n_words"),
        nonempty.alias("nonempty_frac"),
        mean_word_len.alias("mean_word_len"),
        alpha_frac.alias("alpha_word_frac"),
        symbol_ratio.alias("symbol_word_ratio"),
        n_stop.alias("n_stopwords"),
    )
    gate = (
        F.col("n_words").between(10, 100000)
        & F.col("mean_word_len").between(2, 12)
        & (F.col("alpha_word_frac") >= 0.7)
        & (F.col("symbol_word_ratio") <= 0.1)
        & (F.col("n_stopwords") >= 2)
    )
    return d.withColumn("passes_gopher", gate).orderBy("doc_id")


# --------------------------------------------------------- unigram LM score


@query(
    "text_unigram_logprob",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      FROM documents
    ),
    lm AS (
      SELECT w, count(*) AS c FROM tok GROUP BY w
    ),
    tot AS (SELECT sum(c) AS n FROM lm),
    scored AS (
      SELECT t.doc_id,
             ROUND(-log(lm.c * 1.0 / tot.n) / log(2), 6) AS nll
      FROM tok t JOIN lm ON t.w = lm.w CROSS JOIN tot
    )
    SELECT doc_id, count(*) AS n_tokens,
           CAST(SUM(CAST(nll AS DECIMAL(18,6))) AS DOUBLE) AS total_nll,
           -- floor-round: the exact-decimal total divided by the count can
           -- land on a .00005 tie, where ROUND half-breaking differs
           floor(CAST(SUM(CAST(nll AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*) * 10000 + 0.5) / 10000 AS avg_nll_bits
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality score: train a corpus unigram model in one
    aggregation, then score each document by its average per-token negative
    log2-likelihood (low = typical text, high = outlier/garbage).

    Two shuffles total: token -> count (map-side combinable), and the
    doc_id re-aggregation. The unigram table is vocabulary-sized, so the
    score join is a broadcast at any corpus scale (vocab grows ~log of
    corpus). Per-token NLL is rounded to 6 decimals and decimal-summed so
    both engines agree despite different token orders."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w"),
    )
    lm = tok.groupBy("w").agg(F.count("*").alias("c"))
    total = lm.agg(F.sum("c").alias("n"))
    nll = F.round(
        -F.log2(F.col("c") * 1.0 / F.col("n")), 6
    ).alias("nll")
    scored = tok.join(F.broadcast(lm), "w").crossJoin(
        F.broadcast(total)
    ).select("doc_id", nll)
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.col("nll").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_nll"),
            quantize(
                F.sum(F.col("nll").cast("decimal(18,6)"))
                .cast("double")
                / F.count("*"), 4
            ).alias("avg_nll_bits"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------- corpus duplicate-chunk scrub


@query(
    "text_line_dedup",
    oracle=r"""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words
      FROM documents
    ),
    chunks AS (
      SELECT doc_id, i AS idx,
             array_to_string(words[(i - 1) * 10 + 1 : i * 10], ' ')
               AS chunk
      FROM w, unnest(generate_series(
             1, CAST(ceil(len(words) / 10.0) AS BIGINT))) AS t(i)
    ),
    dup AS (
      SELECT chunk FROM chunks GROUP BY chunk HAVING count(*) >= 3
    ),
    flagged AS (
      SELECT c.doc_id, c.idx, c.chunk, (d.chunk IS NOT NULL) AS is_dup
      FROM chunks c LEFT JOIN dup d USING (chunk)
    )
    SELECT doc_id,
           count(*) AS n_chunks,
           count(*) FILTER (WHERE is_dup) AS n_removed,
           -- coalesce: a doc whose every chunk is removed must hash ''
           -- (Spark's array_join over an empty array), not NULL
           md5(coalesce(string_agg(chunk, ' ' ORDER BY idx)
               FILTER (WHERE NOT is_dup), '')) AS clean_md5
    FROM flagged GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-level duplicate-span removal: split every document
    into non-overlapping 10-word chunks, drop any chunk whose exact text
    occurs >= 3 times anywhere in the corpus, and re-assemble the rest in
    order (C4 does this with 3-sentence lines; the synthetic corpus has no
    sentence boundaries, so the unit is a fixed word window).

    Plan: explode (narrow) -> one chunk-count shuffle (map-side
    combinable) -> the *duplicate* set only (tiny: corpus-frequent chunks)
    joined back broadcast -> per-doc re-assembly via sort_array of
    (idx, chunk) structs, one shuffle on doc_id. The full chunk table is
    never collected or broadcast, so the shape survives 100 TB."""
    d = load(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    n_chunks = F.ceil(F.size(words) / F.lit(10.0)).cast("bigint")
    w = d.select("doc_id", words.alias("words"), n_chunks.alias("nc"))
    chunks = w.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.col("nc"))).alias("idx"),
        "words",
    ).select(
        "doc_id",
        "idx",
        F.array_join(
            F.slice(F.col("words"), (F.col("idx") - 1) * 10 + 1, 10), " "
        ).alias("chunk"),
    )
    dup = (
        chunks.groupBy("chunk")
        .agg(F.count("*").alias("c"))
        .where("c >= 3")
        .select("chunk", F.lit(True).alias("is_dup"))
    )
    flagged = chunks.join(F.broadcast(dup), "chunk", "left").select(
        "doc_id",
        "idx",
        "chunk",
        F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
    )
    kept = F.array_sort(
        F.collect_list(
            F.when(
                ~F.col("is_dup"), F.struct("idx", "chunk")
            )
        )
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.col("is_dup").cast("bigint")).alias("n_removed"),
            F.md5(
                F.array_join(
                    F.transform(kept, lambda s: s.chunk), " "
                )
            ).alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------------ domain mixture sample


@query(
    "documents_domain_mixture",
    oracle=r"""
    WITH tgt AS (
      SELECT * FROM (VALUES
        ('src0', 0.30), ('src1', 0.25), ('src2', 0.20), ('src3', 0.15),
        ('src4', 0.10)) AS t(source, weight)
    ),
    ranked AS (
      SELECT d.doc_id, d.source, t.weight,
             row_number() OVER (PARTITION BY d.source
                                ORDER BY md5(CAST(d.doc_id AS VARCHAR)),
                                         d.doc_id) AS rk,
             count(*) OVER (PARTITION BY d.source) AS n_src
      FROM documents d JOIN tgt t USING (source)
    )
    SELECT source,
           count(*) FILTER (WHERE rk <= CAST(floor(200 * weight) AS BIGINT))
             AS n_sampled,
           CAST(floor(200 * min(weight)) AS BIGINT) AS n_target,
           min(n_src) AS n_available,
           md5(coalesce(
               string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
               FILTER (WHERE rk <= CAST(floor(200 * weight) AS BIGINT)),
               '')) AS sample_md5
    FROM ranked GROUP BY source ORDER BY source
    """,
)
def documents_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mixture sampling: draw a 200-doc training mix
    with target source weights (30/25/20/15/10%) by ranking each source's
    docs on a salted hash and cutting at ``floor(budget * weight)`` — the
    reproducible version of weighted sampling used to rebalance corpus
    mixtures (e.g. The Pile / Dolma recipes).

    One hash-rank window per source partition (single shuffle on
    ``source``); with heavy skew the rank can be salted per sub-partition
    and cut via a two-phase global rank, same as events_skew_salted_agg."""
    d = load(spark, sf_dir, "documents")
    tgt = spark.createDataFrame(
        [("src0", 0.30), ("src1", 0.25), ("src2", 0.20), ("src3", 0.15),
         ("src4", 0.10)],
        "source string, weight double",
    )
    j = d.join(F.broadcast(tgt), "source")
    wr = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = j.select(
        "doc_id",
        "source",
        "weight",
        F.row_number().over(wr).alias("rk"),
        F.count("*").over(Window.partitionBy("source")).alias("n_src"),
    )
    cut = F.floor(200 * F.col("weight")).cast("bigint")
    take = F.col("rk") <= cut
    sampled_ids = F.array_sort(
        F.collect_list(F.when(take, F.col("doc_id")))
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.sum(take.cast("bigint")).alias("n_sampled"),
            F.min(cut).alias("n_target"),
            F.min("n_src").alias("n_available"),
            F.md5(
                F.array_join(
                    F.transform(
                        sampled_ids, lambda x: x.cast("string")
                    ),
                    ",",
                )
            ).alias("sample_md5"),
        )
        .orderBy("source")
    )
