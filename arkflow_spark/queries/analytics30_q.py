"""Round-4 batch 30: exact-substring duplicate spans, CCNet perplexity
buckets, blocked edit-distance dedup, tokenizer fertility.

The four canonical LLM-corpus curation steps this registry did not yet
cover:

- `dedup_substring_spans` — exact-substring duplication (the
  C4/RefinedWeb "remove any 50-token span seen twice" pass, scaled down
  to 8-word spans): every sliding word-window is fingerprinted; spans
  whose fingerprint occurs in >= 2 distinct documents are duplicated
  content. The distributed stand-in for a suffix-array pass: same
  recall for fixed span length, one shuffle on the span hash.
- `documents_ccnet_ppl_buckets` — CCNet's head/middle/tail language-
  model buckets: score each doc by average unigram NLL, then split each
  language into perplexity terciles (head = most-fluent third, the slice
  CCNet keeps for LM pretraining).
- `dedup_edit_distance_blocked` — near-duplicate pairs by true
  Levenshtein distance, made tractable by blocking (lang, 3-word
  prefix, length band): the classic record-linkage shape where the
  exact metric runs only inside small candidate blocks.
- `documents_tokenizer_fertility` — tokens-per-word fertility by
  language (the tokenizer-efficiency metric that decides sequence
  budget per language in a multilingual mix), with a rank-selected
  exact p95.

Reference scope: arkflow (crates/arkflow-plugin/src/processor/sql.rs)
executes arbitrary SQL per batch; these queries are the corpus-curation
workload expressed in that SQL surface, with DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.queries.text_q import TOKEN_RE
from arkflow_spark.tables import load


# ------------------------------------------- exact-substring dup spans

_SPAN_WORDS = 8


@query(
    "dedup_substring_spans",
    oracle=rf"""
    WITH w AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS words,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_words
      FROM documents
    ),
    spans AS (
      SELECT doc_id,
             md5(array_to_string(
               words[s.i + 1 : s.i + {_SPAN_WORDS}], ' ')) AS h
      FROM w, LATERAL (
        SELECT unnest(range(n_words - {_SPAN_WORDS} + 1)) AS i
      ) s
      WHERE n_words >= {_SPAN_WORDS}
    ),
    shared AS (
      SELECT h FROM spans GROUP BY h
      HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(COUNT(sh.h) AS BIGINT) AS n_dup_spans,
           floor(COUNT(sh.h) * 1.0 / COUNT(*) * 10000 + 0.5) / 10000
             AS dup_frac
    FROM spans s LEFT JOIN shared sh ON s.h = sh.h
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication audit (the C4/RefinedWeb "dedup any
    span seen twice" pass at {w}-word granularity): fingerprint every
    sliding {w}-word window, mark fingerprints occurring in >= 2
    distinct documents, report each document's duplicated-span fraction
    — the kill signal for boilerplate, mirrored articles, and licence
    headers that exact whole-doc dedup misses.

    Scale: span generation is shuffle-free (split + sequence + slice in
    whole-stage codegen, ~n_words rows per doc — the honest cost of
    substring-level dedup); then ONE exchange keyed by the 16-byte span
    hash for the shared-span set (map-side combinable count-distinct on
    a 2-element key) and one keyed by doc_id for the rollup. The shared
    set ships only hashes, never text, so the probe join stays narrow at
    100 TB, and skew is impossible by construction (md5 keys).
    """
    d = load(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    n_words = F.size(words)
    spans = (
        d.select("doc_id", words.alias("words"), n_words.alias("n_words"))
        .filter(F.col("n_words") >= _SPAN_WORDS)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0), F.col("n_words") - _SPAN_WORDS)
            ).alias("i"),
            "words",
        )
        .select(
            "doc_id",
            F.md5(
                F.concat_ws(
                    " ", F.slice(F.col("words"), F.col("i") + 1, _SPAN_WORDS)
                )
            ).alias("h"),
        )
    )
    shared = (
        spans.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    return (
        spans.join(shared.withColumn("dup", F.lit(1)), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_spans"),
            F.count("dup").cast("bigint").alias("n_dup_spans"),
            quantize(F.count("dup") * 1.0 / F.count("*"), 4).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


dedup_substring_spans.__doc__ = dedup_substring_spans.__doc__.replace(
    "{w}", str(_SPAN_WORDS)
)


# ------------------------------------------------ CCNet ppl terciles


@query(
    "documents_ccnet_ppl_buckets",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, lang,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      FROM documents
    ),
    lm AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM lm),
    scored AS (
      SELECT t.doc_id, t.lang,
             ROUND(-log(lm.c * 1.0 / tot.n) / log(2), 6) AS nll
      FROM tok t JOIN lm ON t.w = lm.w CROSS JOIN tot
    ),
    per_doc AS (
      SELECT doc_id, lang,
             floor(CAST(SUM(CAST(nll AS DECIMAL(18,6))) AS DOUBLE)
                   / count(*) * 10000 + 0.5) / 10000 AS avg_nll
      FROM scored GROUP BY doc_id, lang
    ),
    bucketed AS (
      SELECT lang, avg_nll,
             ntile(3) OVER (PARTITION BY lang
                            ORDER BY avg_nll, doc_id) AS tercile
      FROM per_doc
    )
    SELECT lang,
           CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                        ELSE 'tail' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(avg_nll) AS min_nll,
           MAX(avg_nll) AS max_nll,
           floor(CAST(SUM(CAST(avg_nll AS DECIMAL(18,4))) AS DOUBLE)
                 / COUNT(*) * 10000 + 0.5) / 10000 AS mean_nll
    FROM bucketed
    GROUP BY lang, tercile
    ORDER BY lang, bucket
    """,
)
def documents_ccnet_ppl_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CCNet-style perplexity bucketing: score every document by average
    unigram NLL (the cheap stand-in for the KenLM wiki-LM CCNet uses),
    then split each language into terciles — 'head' (most fluent, kept
    for pretraining), 'middle', 'tail' (dropped or down-weighted). The
    per-language cutoffs matter because perplexity is not comparable
    across languages — bucketing globally would silently drop whole
    low-resource languages, the exact failure CCNet's design avoids.

    Scale: the unigram LM is vocabulary-sized (broadcast join at any
    corpus size); per-doc scores then take one doc-keyed exchange; the
    tercile window runs per language over the doc-level (not token-
    level) table. Per-token NLL is rounded and decimal-summed so both
    engines agree despite partition-order-dependent double addition.
    """
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w"),
    )
    lm = tok.groupBy("w").agg(F.count("*").alias("c"))
    total = lm.agg(F.sum("c").cast("bigint").alias("n"))
    nll = F.round(-F.log2(F.col("c") * 1.0 / F.col("n")), 6)
    per_doc = (
        tok.join(F.broadcast(lm), "w")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id", "lang")
        .agg(
            quantize(
                F.sum(nll.cast("decimal(18,6)")).cast("double")
                / F.count("*"), 4
            ).alias("avg_nll")
        )
    )
    bucketed = per_doc.withColumn(
        "tercile",
        F.ntile(3).over(
            Window.partitionBy("lang").orderBy("avg_nll", "doc_id")
        ),
    )
    bucket = (
        F.when(F.col("tercile") == 1, "head")
        .when(F.col("tercile") == 2, "middle")
        .otherwise("tail")
    )
    return (
        bucketed.groupBy("lang", "tercile")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("avg_nll").alias("min_nll"),
            F.max("avg_nll").alias("max_nll"),
            quantize(
                F.sum(F.col("avg_nll").cast("decimal(18,4)")).cast("double")
                / F.count("*"), 4
            ).alias("mean_nll"),
        )
        .select(
            "lang",
            bucket.alias("bucket"),
            "n_docs",
            "min_nll",
            "max_nll",
            "mean_nll",
        )
        .orderBy("lang", "bucket")
    )


# --------------------------------------- blocked Levenshtein near-dup

_ED_HEAD = 80
_ED_MAX = 16


@query(
    "dedup_edit_distance_blocked",
    oracle=rf"""
    WITH b AS (
      SELECT doc_id,
             lower(trim(text)) AS norm,
             lang,
             array_to_string(
               (regexp_split_to_array(lower(trim(text)), '\s+'))[1:3],
               ' ') AS prefix3,
             length(lower(trim(text))) // 100 AS len_band
      FROM documents
    )
    SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
           CAST(levenshtein(substr(a.norm, 1, {_ED_HEAD}),
                            substr(c.norm, 1, {_ED_HEAD})) AS BIGINT)
             AS edit_dist,
           floor((1 - levenshtein(substr(a.norm, 1, {_ED_HEAD}),
                                  substr(c.norm, 1, {_ED_HEAD})) * 1.0
                      / NULLIF(GREATEST(
                          length(substr(a.norm, 1, {_ED_HEAD})),
                          length(substr(c.norm, 1, {_ED_HEAD}))), 0))
                 * 10000 + 0.5) / 10000 AS similarity
    FROM b a JOIN b c
      ON a.lang = c.lang AND a.prefix3 = c.prefix3
     AND a.len_band = c.len_band AND a.doc_id < c.doc_id
    WHERE levenshtein(substr(a.norm, 1, {_ED_HEAD}),
                      substr(c.norm, 1, {_ED_HEAD})) <= {_ED_MAX}
    ORDER BY doc_a, doc_b
    """,
)
def dedup_edit_distance_blocked(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-duplicate pairs by TRUE edit distance, blocked so the O(m*n)
    metric only runs inside small candidate groups: documents sharing
    (language, first-3-words, 100-char length band) are paired and their
    {h}-char heads compared by Levenshtein; pairs within distance
    {m} are emitted with a normalized similarity. This is the
    high-precision last stage after MinHash/SimHash recall stages —
    character-level evidence for the dedup decisions the sketches only
    suggest.

    Scale: one exchange on the compound block key; the quadratic pair
    join never leaves a block, and the three-part key (prefix AND
    length-band AND language) keeps blocks to near-duplicate cliques
    rather than topic clusters. Only the {h}-char HEAD crosses the
    shuffle — the full normalized text is projected away before the
    self-join, so each side moves bounded-width rows no matter how long
    the documents are. The Levenshtein runs JVM-side on those
    fixed-length heads, bounding each comparison's cost; tightening the
    band width / prefix length is the knob if a 100 TB corpus develops
    a hot block (boilerplate prefixes land in one block by design —
    that block IS the duplicate set).
    """
    d = load(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.col("text")))
    b = d.select(
        "doc_id",
        "lang",
        F.substring(norm, 1, _ED_HEAD).alias("head"),
        F.concat_ws(
            " ", F.slice(F.split(norm, r"\s+"), 1, 3)
        ).alias("prefix3"),
        F.floor(F.length(norm) / 100).alias("len_band"),
    )
    a = b.alias("a")
    c = b.alias("c")
    head_a = F.col("a.head")
    head_c = F.col("c.head")
    dist = F.levenshtein(head_a, head_c)
    return (
        a.join(
            c,
            (F.col("a.lang") == F.col("c.lang"))
            & (F.col("a.prefix3") == F.col("c.prefix3"))
            & (F.col("a.len_band") == F.col("c.len_band"))
            & (F.col("a.doc_id") < F.col("c.doc_id")),
        )
        .filter(dist <= _ED_MAX)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("c.doc_id").alias("doc_b"),
            dist.cast("bigint").alias("edit_dist"),
            quantize(
                1
                - F.try_divide(
                    dist * 1.0,
                    F.greatest(F.length(head_a), F.length(head_c)),
                ), 4
            ).alias("similarity"),
        )
        .orderBy("doc_a", "doc_b")
    )


dedup_edit_distance_blocked.__doc__ = (
    dedup_edit_distance_blocked.__doc__.replace("{h}", str(_ED_HEAD))
    .replace("{m}", str(_ED_MAX))
)


# ------------------------------------------------- tokenizer fertility


@query(
    "documents_tokenizer_fertility",
    oracle=rf"""
    WITH per_doc AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(lower(text), '{TOKEN_RE}'))
               AS n_tokens,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
             floor(len(regexp_extract_all(lower(text), '{TOKEN_RE}'))
                   * 1.0
                   / len(regexp_split_to_array(trim(text), '\s+'))
                   * 10000 + 0.5) / 10000 AS fertility
      FROM documents
    ),
    ranked AS (
      SELECT lang, n_tokens, n_words, fertility,
             row_number() OVER (PARTITION BY lang
                                ORDER BY fertility, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM per_doc
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           floor(CAST(SUM(CAST(fertility AS DECIMAL(18,4)))
                      AS DOUBLE) / COUNT(*) * 10000 + 0.5) / 10000
             AS mean_fertility,
           MAX(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
                    THEN fertility END) AS p95_fertility
    FROM ranked
    GROUP BY lang
    ORDER BY lang
    """,
)
def documents_tokenizer_fertility(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer fertility by language: BPE-ish regex tokens per
    whitespace word — the metric that decides how many sequence-budget
    tokens each language actually costs in a multilingual pretraining
    mix (fertility 2.0 means a language burns twice the context per
    word). Reports per-language mean and an EXACT rank-selected p95
    (the doc at ceil(0.95 n) in fertility order — no interpolation, so
    both engines pick the identical row).

    Scale: per-doc counters are one codegen'd projection (two regex
    passes, no explode); the per-language rollup is a low-cardinality
    exchange. The rank window runs over doc-level rows only.
    """
    d = load(spark, sf_dir, "documents")
    n_tok = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0)
    )
    n_words = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    per_doc = d.select(
        "doc_id",
        "lang",
        n_tok.alias("n_tokens"),
        n_words.alias("n_words"),
        quantize(n_tok * 1.0 / n_words, 4).alias("fertility"),
    )
    pw = Window.partitionBy("lang")
    ranked = per_doc.withColumn(
        "rn", F.row_number().over(pw.orderBy("fertility", "doc_id"))
    ).withColumn("n", F.count("*").over(pw))
    return (
        ranked.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum("n_words").cast("bigint").alias("total_words"),
            quantize(
                F.sum(F.col("fertility").cast("decimal(18,4)")).cast(
                    "double"
                )
                / F.count("*"), 4
            ).alias("mean_fertility"),
            F.max(
                F.when(
                    F.col("rn")
                    == F.ceil(0.95 * F.col("n")).cast("bigint"),
                    F.col("fertility"),
                )
            ).alias("p95_fertility"),
        )
        .orderBy("lang")
    )
