"""Round-5 batch 101: lexical richness per source, corpus entropy
rate, supplier share shift.

- `text_herdan_richness_by_source` — size-controlled lexical richness
  scorecard per source: tokens N, types V, hapaxes V1, Herdan's
  C = ln V / ln N (stable across corpus sizes where raw type/token
  ratio is not), and hapax share. Low-richness sources are template
  farms; compare against `text_heaps_law_fit`'s corpus-level curve.
- `text_bigram_entropy_rate` — corpus conditional entropy
  H(w2 | w1) from the bigram table vs the unigram entropy H(w):
  their gap is the predictability the previous word buys — the
  information-theoretic summary behind `text_bigram_logprob`'s
  per-doc scores, and a drift signal when re-measured per snapshot.
- `supplier_share_shift` — each supplier's revenue share in the
  first vs second half of the order timeline and the share delta:
  the consolidation/churn screen (who is winning the book) that
  `lineitem_supplier_hhi`'s single-number concentration can't show.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------- Herdan richness by source


@query(
    "text_herdan_richness_by_source",
    oracle=r"""
    WITH tok AS (
      SELECT source,
             unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents
    ),
    wc AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           floor(ln(COUNT(*)) / ln(SUM(c)) * 10000 + 0.5) / 10000
             AS herdan_c,
           floor(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*) * 10000 + 0.5) / 10000 AS hapax_share
    FROM wc GROUP BY source ORDER BY source
    """,
)
def text_herdan_richness_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lexical richness per source, size-controlled: Herdan's C
    (ln types / ln tokens — roughly constant in corpus size, unlike
    the raw type/token ratio) plus the hapax share. A source whose C
    sits well below its peers is template/boilerplate text no length
    filter catches; the per-source complement to the corpus-level
    `text_heaps_law_fit`.

    Scale shape: ONE token explode into a (source, word) count table
    (vocabulary-bounded); every statistic is a re-aggregation of it.
    """
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "source",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("w"),
    )
    wc = tok.groupBy("source", "w").agg(
        F.count("*").cast("bigint").alias("c")
    )
    return (
        wc.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count("*").cast("bigint").alias("n_types"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hapax"),
            quantize(
                F.log(F.count("*")) / F.log(F.sum("c")), 4
            ).alias("herdan_c"),
            quantize(
                F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
                * 1.0
                / F.count("*"), 4
            ).alias("hapax_share"),
        )
        .orderBy("source")
    )


# ------------------------------------------------ bigram entropy rate


@query(
    "text_bigram_entropy_rate",
    oracle=r"""
    WITH words AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      FROM documents
    ),
    tok AS (
      SELECT ws[g.i] AS w,
             CASE WHEN g.i > 1 THEN ws[g.i - 1] END AS pw
      FROM words, generate_series(1, 100000) g(i)
      WHERE g.i <= len(ws)
    ),
    big AS (
      SELECT pw, w, CAST(COUNT(*) AS BIGINT) AS c12
      FROM tok WHERE pw IS NOT NULL GROUP BY 1, 2
    ),
    ctx AS (SELECT pw, CAST(SUM(c12) AS BIGINT) AS c1 FROM big
            GROUP BY pw),
    btot AS (SELECT CAST(SUM(c12) AS BIGINT) AS t FROM big),
    hcond AS (
      SELECT CAST(SUM(CAST(floor(-(b.c12 * 1.0 / t.t)
                 * log2(b.c12 * 1.0 / x.c1) * 1000000 + 0.5) / 1000000
                 AS DECIMAL(18,6))) AS DOUBLE) AS h2
      FROM big b JOIN ctx x USING (pw) CROSS JOIN btot t
    ),
    uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY w
    ),
    utot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
    huni AS (
      SELECT CAST(SUM(CAST(floor(-(u.c * 1.0 / t.n)
                 * log2(u.c * 1.0 / t.n) * 1000000 + 0.5) / 1000000
                 AS DECIMAL(18,6))) AS DOUBLE) AS h1
      FROM uni u CROSS JOIN utot t
    )
    SELECT t.n AS n_tokens,
           (SELECT COUNT(*) FROM uni) AS n_types,
           floor(h.h1 * 10000 + 0.5) / 10000 AS unigram_entropy_bits,
           floor(c.h2 * 10000 + 0.5) / 10000 AS bigram_cond_entropy_bits,
           floor((h.h1 - c.h2) * 10000 + 0.5) / 10000
             AS predictability_gain_bits
    FROM huni h CROSS JOIN hcond c CROSS JOIN utot t
    """,
)
def text_bigram_entropy_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus entropy rate: unigram entropy H(w) next to the bigram
    conditional entropy H(w2|w1) = -sum p(w1,w2) log2 p(w2|w1); the
    gap is the bits-per-token the previous word predicts. Shannon's
    classic redundancy measurement — the single-number summary of
    `text_bigram_logprob`, and a drift alarm when the gap moves
    between corpus snapshots (template injection raises it; shuffled
    or synthetic word salad pushes it to zero). Per-term 6dp decimal
    quantization makes both engines' sums order-free.

    Scale shape: one narrow posexplode feeding ONE persisted
    (prev, word) count table; both entropies and all normalizers are
    re-aggregations of it (the `text_bigram_logprob` discipline).
    """
    d = load(spark, sf_dir, "documents")
    words = d.select(
        F.split(F.trim(F.col("text")), r"\s+").alias("ws")
    )
    tok = words.select(
        F.posexplode("ws").alias("pos", "w"), F.col("ws")
    ).select(
        "w",
        F.when(F.col("pos") >= 1, F.element_at("ws", F.col("pos")))
        .alias("pw"),
    )
    cnt = tok.groupBy("pw", "w").agg(
        F.count("*").cast("bigint").alias("c12")
    ).persist()  # bigram-vocab bounded; both entropies re-read it
    big = cnt.filter(F.col("pw").isNotNull())
    ctx = big.groupBy("pw").agg(F.sum("c12").cast("bigint").alias("c1"))
    btot = big.agg(F.sum("c12").cast("bigint").alias("t"))
    hcond = (
        big.join(F.broadcast(ctx), "pw")
        .crossJoin(F.broadcast(btot))
        .agg(
            F.sum(
                quantize(
                    -(F.col("c12") * 1.0 / F.col("t"))
                    * F.log2(F.col("c12") * 1.0 / F.col("c1")), 6
                ).cast("decimal(18,6)")
            )
            .cast("double")
            .alias("h2")
        )
    )
    uni = cnt.groupBy("w").agg(F.sum("c12").cast("bigint").alias("c"))
    utot = uni.agg(F.sum("c").cast("bigint").alias("n"))
    ntypes = uni.agg(F.count("*").cast("bigint").alias("n_types"))
    huni = (
        uni.crossJoin(F.broadcast(utot))
        .agg(
            F.sum(
                quantize(
                    -(F.col("c") * 1.0 / F.col("n"))
                    * F.log2(F.col("c") * 1.0 / F.col("n")), 6
                ).cast("decimal(18,6)")
            )
            .cast("double")
            .alias("h1")
        )
    )
    return (
        huni.crossJoin(F.broadcast(hcond))
        .crossJoin(F.broadcast(utot))
        .crossJoin(F.broadcast(ntypes))
        .select(
            F.col("n").alias("n_tokens"),
            "n_types",
            quantize(F.col("h1"), 4).alias("unigram_entropy_bits"),
            quantize(F.col("h2"), 4).alias("bigram_cond_entropy_bits"),
            quantize(F.col("h1") - F.col("h2"), 4).alias(
                "predictability_gain_bits"
            ),
        )
    )


# ------------------------------------------------ supplier share shift

_SHIFT_TOP = 20


@query(
    "supplier_share_shift",
    oracle=f"""
    WITH span AS (
      SELECT MIN(epoch_us(o_orderdate))
             + (MAX(epoch_us(o_orderdate))
                - MIN(epoch_us(o_orderdate))) // 2 AS cut
      FROM orders
    ),
    rev AS (
      SELECT l.l_suppkey AS suppkey,
             CASE WHEN epoch_us(o.o_orderdate) < s.cut
                  THEN 0 ELSE 1 END AS half,
             SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(18,6))) AS r
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      CROSS JOIN span s
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT half, SUM(r) AS tr FROM rev GROUP BY half
    ),
    shares AS (
      SELECT s.suppkey,
             floor(CAST(COALESCE(MAX(CASE WHEN s.half = 0 THEN s.r END),
                   0) AS DOUBLE)
                   / CAST((SELECT tr FROM tot WHERE half = 0) AS DOUBLE)
                   * 1000000 + 0.5) / 1000000 AS share_h1,
             floor(CAST(COALESCE(MAX(CASE WHEN s.half = 1 THEN s.r END),
                   0) AS DOUBLE)
                   / CAST((SELECT tr FROM tot WHERE half = 1) AS DOUBLE)
                   * 1000000 + 0.5) / 1000000 AS share_h2
      FROM rev s GROUP BY s.suppkey
    )
    SELECT suppkey, share_h1, share_h2,
           floor((share_h2 - share_h1) * 1000000 + 0.5) / 1000000
             AS share_delta
    FROM shares
    ORDER BY abs(share_h2 - share_h1) DESC, suppkey
    LIMIT {_SHIFT_TOP}
    """,
)
def supplier_share_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier revenue-share shift between the first and second half
    of the order timeline: the top-{t} movers by |share delta|. HHI
    (`lineitem_supplier_hhi`) says HOW concentrated the book is; this
    says WHO is consolidating it — the screen for emerging single-
    supplier dependency while it is still emerging.

    Scale shape: one orderkey join + (supplier, half) decimal rollup,
    half totals broadcast, top-{t} via ORDER+LIMIT
    (TakeOrderedAndProject).
    """.format(t=_SHIFT_TOP)
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    # orderdate is TIMESTAMP_NTZ; the cast's timezone offset is a
    # constant shift on both sides of the cut comparison, so the split
    # is invariant
    ep = F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    span = o.agg(
        (
            F.min(ep) + F.floor((F.max(ep) - F.min(ep)) / 2)
        )
        .cast("bigint")
        .alias("cut")
    )
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .crossJoin(F.broadcast(span))
        .groupBy(
            F.col("l_suppkey").alias("suppkey"),
            F.when(ep < F.col("cut"), 0).otherwise(1).alias("half"),
        )
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("decimal(18,6)")
            ).alias("r")
        )
        .persist()  # (supplier x 2)-bounded; feeds totals + pivot
    )
    tot = rev.groupBy("half").agg(F.sum("r").alias("tr"))
    t0 = tot.filter(F.col("half") == 0).select(
        F.col("tr").alias("tr0")
    )
    t1 = tot.filter(F.col("half") == 1).select(
        F.col("tr").alias("tr1")
    )
    shares = (
        rev.groupBy("suppkey")
        .agg(
            F.max(F.when(F.col("half") == 0, F.col("r"))).alias("r0"),
            F.max(F.when(F.col("half") == 1, F.col("r"))).alias("r1"),
        )
        .crossJoin(F.broadcast(t0))
        .crossJoin(F.broadcast(t1))
        .select(
            "suppkey",
            quantize(
                F.coalesce(F.col("r0"), F.lit(0)).cast("double")
                / F.col("tr0").cast("double"), 6
            ).alias("share_h1"),
            quantize(
                F.coalesce(F.col("r1"), F.lit(0)).cast("double")
                / F.col("tr1").cast("double"), 6
            ).alias("share_h2"),
        )
    )
    return (
        shares.select(
            "suppkey",
            "share_h1",
            "share_h2",
            quantize(F.col("share_h2") - F.col("share_h1"), 6).alias(
                "share_delta"
            ),
        )
        .orderBy(
            F.abs(F.col("share_h2") - F.col("share_h1")).desc(),
            "suppkey",
        )
        .limit(_SHIFT_TOP)
    )
