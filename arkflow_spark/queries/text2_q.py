"""Corpus lexical-statistics operators: Zipf-law fit and hapax ratio.

Corpus-health diagnostics a training-data pipeline runs per language
slice: a healthy natural-language corpus has a Zipf exponent near -1 and
a stable hapax-legomena share; synthetic/duplicated/boilerplate text
shifts both. Both operators ride the same one-shuffle token-count
aggregation as `text_vocab_topk` and reduce to per-language scalars, so
the output is tiny regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.queries.text_q import TOKEN_RE
from arkflow_spark.tables import load


def _tok_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, token) -> n over the whole corpus; one shuffle, map-side
    combine absorbs stopword skew."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "lang",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), 0)
        ).alias("token"),
    )
    return tok.groupBy("lang", "token").agg(F.count("*").alias("n"))


@query(
    "text_zipf_slope",
    oracle=f"""
    WITH tok AS (
      SELECT lang,
             unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS token
      FROM documents
    ),
    counts AS (
      SELECT lang, token, COUNT(*) AS n FROM tok GROUP BY lang, token
    ),
    ranked AS (
      SELECT lang, n,
             row_number() OVER (PARTITION BY lang
                                ORDER BY n DESC, token) AS rnk
      FROM counts
    )
    SELECT lang,
           COUNT(*) AS n_terms,
           floor(regr_slope(ln(n), ln(rnk)) * 10000 + 0.5) / 10000
             AS zipf_slope,
           floor(regr_r2(ln(n), ln(rnk)) * 10000 + 0.5) / 10000
             AS zipf_r2
    FROM ranked WHERE rnk <= 500
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit per language: regress log(frequency) on log(rank)
    over the top-500 terms — slope ~ -1 and high r² for natural text;
    corpus pathologies (mass duplication, templated boilerplate, wrong
    language splits) show up as slope/r² drift. Exercises the regr_*
    aggregate family (reference: docs/docs/sql/5-aggregate_functions.md:
    571-687) on a real pipeline task rather than a synthetic pair.

    Determinism: rank ties break on token; the regression inputs are
    exact logs of exact counts, and the regr_* reductions are rounded to
    4 decimals (double-sum order drift is ~1e-13 relative).

    Scale notes: token counts are one shuffle; the per-language rank
    window touches only each language's vocabulary (already reduced), and
    the 500-term cap bounds the regression input per group. No Python.
    """
    counts = _tok_counts(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("token"))
    ranked = counts.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 500
    )
    ln_n, ln_r = F.log(F.col("n")), F.log(F.col("rnk"))

    return (
        ranked.groupBy("lang")
        .agg(
            F.count("*").alias("n_terms"),
            quantize(F.regr_slope(ln_n, ln_r), 4).alias("zipf_slope"),
            quantize(F.regr_r2(ln_n, ln_r), 4).alias("zipf_r2"),
        )
        .orderBy("lang")
    )


@query(
    "text_hapax_ratio",
    oracle=f"""
    WITH tok AS (
      SELECT lang,
             unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS token
      FROM documents
    ),
    counts AS (
      SELECT lang, token, COUNT(*) AS n FROM tok GROUP BY lang, token
    )
    SELECT lang,
           COUNT(*) AS vocab_size,
           COUNT(*) FILTER (WHERE n = 1) AS hapax_count,
           CAST(COUNT(*) FILTER (WHERE n = 1) AS DOUBLE) / COUNT(*)
             AS hapax_ratio
    FROM counts
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax-legomena share per language (fraction of vocabulary seen
    exactly once) — the classic lexical-diversity / OCR-noise gauge: a
    spike means noisy tokens (OCR garbage, code, concatenated words), a
    collapse means heavy duplication. Pure re-aggregation of the token
    counts: two cascaded hash aggregates, both map-side combinable.
    """
    counts = _tok_counts(spark, sf_dir)
    hapax = F.count(F.when(F.col("n") == 1, 1))
    return (
        counts.groupBy("lang")
        .agg(
            F.count("*").alias("vocab_size"),
            hapax.alias("hapax_count"),
            (hapax.cast("double") / F.count("*")).alias("hapax_ratio"),
        )
        .orderBy("lang")
    )


@query(
    "text_bigram_logprob",
    oracle=r"""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words
      FROM documents
    ),
    tokpos AS (
      SELECT doc_id, i, words[i] AS tok,
             CASE WHEN i > 1 THEN words[i - 1] END AS pw
      FROM w, unnest(generate_series(1, len(words))) t(i)
    ),
    uni AS (SELECT tok, count(*) AS c FROM tokpos GROUP BY tok),
    tot AS (SELECT sum(c) AS n FROM uni),
    big AS (
      SELECT pw, tok, count(*) AS c2 FROM tokpos
      WHERE pw IS NOT NULL GROUP BY pw, tok
    ),
    ctx AS (SELECT pw, sum(c2) AS cctx FROM big GROUP BY pw),
    scored AS (
      SELECT t.doc_id,
             ROUND(-log(
               CASE WHEN t.pw IS NULL THEN uni.c * 1.0 / tot.n
                    ELSE 0.75 * (big.c2 * 1.0 / ctx.cctx)
                         + 0.25 * (uni.c * 1.0 / tot.n) END
             ) / log(2), 6) AS nll
      FROM tokpos t
      JOIN uni ON t.tok = uni.tok
      CROSS JOIN tot
      LEFT JOIN big ON t.pw = big.pw AND t.tok = big.tok
      LEFT JOIN ctx ON t.pw = ctx.pw
    )
    SELECT doc_id, count(*) AS n_tokens,
           CAST(SUM(CAST(nll AS DECIMAL(18,6))) AS DOUBLE) AS total_nll,
           floor(CAST(SUM(CAST(nll AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*) * 10000 + 0.5) / 10000 AS avg_nll_bits
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM scoring (the KenLM-lite step up from
    `text_unigram_logprob`): train corpus bigram + unigram tables in two
    aggregations, score each token with 0.75*P(w|prev) + 0.25*P(w), and
    roll up per-document average negative log2-likelihood — the classic
    CCNet/Wikipedia-LM quality filter shape.

    The bigram extraction is NARROW: tokens come from posexplode over the
    split array and the previous token is element_at(arr, pos) — no
    window, no per-document shuffle. Three shuffles total (bigram counts,
    unigram counts, doc rollup); both LM tables are vocabulary-scaled and
    broadcast back onto the token stream. Per-token NLL is rounded to 6
    decimals and decimal-summed so engines agree despite token order.
    """
    d = load(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("words")
    )
    tok = words.select(
        "doc_id",
        F.posexplode("words").alias("pos", "tok"),
        F.col("words"),
    ).select(
        "doc_id",
        "tok",
        # posexplode pos is 0-based; element_at is 1-based, so
        # element_at(words, pos) IS the previous token when pos >= 1
        F.when(F.col("pos") >= 1, F.element_at("words", F.col("pos")))
        .alias("pw"),
    )
    # ONE (pw, tok) count table (bigram-vocabulary bounded, persisted;
    # pw NULL = document-initial token) — the unigram LM, the bigram LM
    # and the context totals are all re-aggregations of it, so the
    # token explode runs twice (LM build + scoring), not four times.
    cnt = tok.groupBy("pw", "tok").agg(F.count("*").alias("c2")).persist()
    uni = cnt.groupBy("tok").agg(F.sum("c2").alias("c"))
    tot = uni.agg(F.sum("c").alias("n"))
    big = cnt.filter(F.col("pw").isNotNull())
    ctx = big.groupBy("pw").agg(F.sum("c2").alias("cctx"))
    p_uni = F.col("c") * 1.0 / F.col("n")
    p = F.when(F.col("pw").isNull(), p_uni).otherwise(
        0.75 * (F.col("c2") * 1.0 / F.col("cctx")) + 0.25 * p_uni
    )
    scored = (
        tok.join(F.broadcast(uni), "tok")
        .crossJoin(F.broadcast(tot))
        .join(F.broadcast(big), ["pw", "tok"], "left")
        .join(F.broadcast(ctx), ["pw"], "left")
        .select("doc_id", F.round(-F.log2(p), 6).alias("nll"))
    )
    dec = F.sum(F.col("nll").cast("decimal(18,6)")).cast("double")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            dec.alias("total_nll"),
            quantize(dec / F.count("*"), 4).alias(
                "avg_nll_bits"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "documents_dsir_weights",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, lang,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      FROM documents
    ),
    tgt AS (
      SELECT w, count(*) AS c FROM tok WHERE lang = 'en' GROUP BY w
    ),
    raw AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
    tn AS (SELECT sum(c) AS n FROM tgt),
    rn AS (SELECT sum(c) AS n FROM raw),
    vv AS (SELECT count(*) AS v FROM raw),
    scored AS (
      SELECT t.doc_id,
             ROUND(log(
               ((coalesce(g.c, 0) + 1.0) / (tn.n + vv.v))
               / ((r.c + 1.0) / (rn.n + vv.v))
             ) / log(2), 6) AS lr
      FROM tok t
      JOIN raw r ON r.w = t.w
      LEFT JOIN tgt g ON g.w = t.w
      CROSS JOIN tn CROSS JOIN rn CROSS JOIN vv
    )
    SELECT doc_id, count(*) AS n_tokens,
           CAST(SUM(CAST(lr AS DECIMAL(18,6))) AS DOUBLE) AS log_ratio,
           floor(CAST(SUM(CAST(lr AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*) * 10000 + 0.5) / 10000 AS avg_log_ratio
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def documents_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Data Selection via Importance
    Resampling): score every document by the log-likelihood ratio of a
    TARGET-domain unigram LM (here the `lang='en'` slice) against the
    RAW-corpus LM, add-one smoothed over the shared vocabulary — the
    standard recipe for up-sampling target-like data in a pretraining
    mix. Positive avg log-ratio = looks like target; the weights feed
    the hash-ranked sampler in `documents_domain_mixture`.

    Shape: both LMs are token-count aggregates (map-side combinable);
    the raw LM table is vocabulary-sized and broadcast back onto the
    token stream with a LEFT join for the target side (unseen-in-target
    tokens get the smoothing floor). Per-token ratios are rounded to 6
    decimals and decimal-summed per doc — deterministic cross-engine.
    """
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w"),
    )
    # ONE token explode builds a (word, lang) count table (vocabulary x
    # languages — bounded, persisted); both LMs and their normalizers
    # are re-aggregations of it, so the only other explode is the
    # per-token scoring join.
    cnt = tok.groupBy("w", "lang").agg(F.count("*").alias("c")).persist()
    tgt = (
        cnt.filter(F.col("lang") == "en")
        .groupBy("w")
        .agg(F.sum("c").alias("tc"))
    )
    raw = cnt.groupBy("w").agg(F.sum("c").alias("rc")).persist()
    tn = tgt.agg(F.sum("tc").alias("tn"))
    rn = raw.agg(F.sum("rc").alias("rn"))
    vv = raw.agg(F.count("*").alias("v"))
    lr = F.round(
        F.log2(
            ((F.coalesce(F.col("tc"), F.lit(0)) + 1.0) / (F.col("tn") + F.col("v")))
            / ((F.col("rc") + 1.0) / (F.col("rn") + F.col("v")))
        ),
        6,
    ).alias("lr")
    scored = (
        tok.join(F.broadcast(raw), "w")
        .join(F.broadcast(tgt), "w", "left")
        .crossJoin(F.broadcast(tn))
        .crossJoin(F.broadcast(rn))
        .crossJoin(F.broadcast(vv))
        .select("doc_id", lr)
    )
    dec = F.sum(F.col("lr").cast("decimal(18,6)")).cast("double")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            dec.alias("log_ratio"),
            quantize(dec / F.count("*"), 4).alias(
                "avg_log_ratio"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "text_pmi_cooccurrence",
    oracle=r"""
    WITH w AS (
      SELECT regexp_split_to_array(trim(text), '\s+') AS words
      FROM documents
    ),
    zp AS (
      SELECT unnest(list_concat(list_zip(words, words[2:]),
                                list_zip(words, words[3:]))) AS p
      FROM w
    ),
    pr AS (
      SELECT least(p[1], p[2]) AS a, greatest(p[1], p[2]) AS b
      FROM zp WHERE p[2] IS NOT NULL
    ),
    pc AS (SELECT a, b, count(*) AS n_ab FROM pr GROUP BY a, b),
    np AS (SELECT sum(n_ab) AS tot FROM pc),
    tok AS (
      SELECT unnest(words) AS t FROM w
    ),
    tc AS (SELECT t, count(*) AS n_t FROM tok GROUP BY t),
    nt AS (SELECT sum(n_t) AS tot FROM tc),
    scored AS (
      SELECT pc.a, pc.b, pc.n_ab,
             floor(log((pc.n_ab * 1.0 / np.tot)
                   / ((ta.n_t * 1.0 / nt.tot) * (tb.n_t * 1.0 / nt.tot)))
                   / log(2) * 10000 + 0.5) / 10000 AS pmi
      FROM pc
      JOIN tc ta ON ta.t = pc.a
      JOIN tc tb ON tb.t = pc.b
      CROSS JOIN np CROSS JOIN nt
      WHERE pc.n_ab >= 25
    )
    SELECT a, b, n_ab, pmi, rnk
    FROM (
      SELECT *, row_number() OVER (ORDER BY pmi DESC, a, b) AS rnk
      FROM scored
    )
    WHERE rnk <= 30
    ORDER BY rnk
    """,
)
def text_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over skip-gram co-occurrence (window
    ±2): the word2vec-era collocation statistic — PMI(a,b) =
    log2(p(a,b) / (p(a)p(b))) over unordered within-window pairs, top-30
    by PMI (min support 25).

    Pair generation is NARROW: zip_with of the token array against its
    own 1- and 2-shifted slices (no self-join, no window) — each doc
    expands to exactly 2n-3 pairs locally. Two aggregations (pair
    counts, token marginals) both map-side combinable; marginals
    broadcast onto the pair table; ranking happens on the floor-rounded
    PMI so cross-engine ordering is identical.
    """
    d = load(spark, sf_dir, "documents")
    w = d.select(F.split(F.trim(F.col("text")), r"\s+").alias("words"))

    def shifted_pairs(k: int) -> F.Column:
        return F.zip_with(
            "words",
            F.slice(
                "words", k + 1, F.greatest(F.size("words") - k, F.lit(0))
            ),
            lambda x, y: F.struct(x.alias("x"), y.alias("y")),
        )

    zp = w.select(
        F.explode(
            F.concat(shifted_pairs(1), shifted_pairs(2))
        ).alias("p")
    ).filter(F.col("p.y").isNotNull())
    pr = zp.select(
        F.least("p.x", "p.y").alias("a"),
        F.greatest("p.x", "p.y").alias("b"),
    )
    # pair counts feed the normalizer and the scoring join; token
    # marginals feed the normalizer and both endpoint joins — persist
    # the two vocab-bounded aggregates so each explode runs once
    pc = pr.groupBy("a", "b").agg(F.count("*").alias("n_ab")).persist()
    np_ = pc.agg(F.sum("n_ab").alias("np"))
    tok = d.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("t")
    )
    tc = tok.groupBy("t").agg(F.count("*").alias("n_t")).persist()
    nt = tc.agg(F.sum("n_t").alias("nt"))
    ta = tc.select(F.col("t").alias("a"), F.col("n_t").alias("n_a"))
    tb = tc.select(F.col("t").alias("b"), F.col("n_t").alias("n_b"))
    pmi = quantize(
        F.log2(
            (F.col("n_ab") * 1.0 / F.col("np"))
            / (
                (F.col("n_a") * 1.0 / F.col("nt"))
                * (F.col("n_b") * 1.0 / F.col("nt"))
            )
        ), 4
    ).alias("pmi")
    scored = (
        pc.filter(F.col("n_ab") >= 25)
        .join(F.broadcast(ta), "a")
        .join(F.broadcast(tb), "b")
        .crossJoin(F.broadcast(np_))
        .crossJoin(F.broadcast(nt))
        .select("a", "b", "n_ab", pmi)
    )
    # top-30 via TakeOrderedAndProject (per-partition heaps, no global
    # sort); the numbering window then touches only 30 rows
    # scale: top-k-bounded (window after limit 30)
    rw = Window.orderBy(F.desc("pmi"), F.asc("a"), F.asc("b"))
    return (
        scored.orderBy(F.desc("pmi"), F.asc("a"), F.asc("b"))
        .limit(30)
        .withColumn("rnk", F.row_number().over(rw))
        .orderBy("rnk")
    )
