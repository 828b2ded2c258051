"""Round-5 batch 69: rater agreement, Good-Turing smoothing, budgeted
corpus selection.

- `documents_cohen_kappa` — Cohen's kappa between two independent
  document-quality heuristics (distinct-word ratio vs stopword-density
  raters): chance-corrected agreement. kappa ~ 0 means the two filters
  agree no better than coin flips — running both buys diversity, not
  confirmation; kappa ~ 1 means the second filter is redundant.
- `text_good_turing` — Good-Turing count-of-counts: N_r for unigram
  frequencies r = 1..10, the adjusted frequency r* = (r+1) N_{r+1} /
  N_r, and the unseen-mass estimate N_1 / T — the smoothing table
  behind every held-out LM estimate (Good 1953), and the complement to
  the Kneser-Ney LM already in the registry.
- `documents_token_budget_pack` — greedy fractional-knapsack corpus
  selection under a token budget: order documents by quality density
  (quality per token, the greedy-optimal order), keep while the exact
  cumulative token count fits 25% of the corpus; report the kept
  mass per source. The budgeted data-mix step between scoring and
  training, built on the distributed prefix-sum (no 1-partition sort).

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


_STOPS = ("the", "and", "of", "to", "in")
_STOPS_SQL = ", ".join(f"'{w}'" for w in _STOPS)


# ------------------------------------------------ Cohen's kappa


@query(
    "documents_cohen_kappa",
    oracle=f"""
    WITH scored AS (
      SELECT
        CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z]+')))
             AS DOUBLE)
          / GREATEST(len(regexp_extract_all(lower(text), '[a-z]+')), 1)
          >= 0.5 AS a,
        CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z]+'),
                             w -> w IN ({_STOPS_SQL}))) AS DOUBLE)
          / GREATEST(len(regexp_extract_all(lower(text), '[a-z]+')), 1)
          >= 0.02 AS b
      FROM documents
    ),
    cts AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT)
               AS n_both,
             CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
               AS n_only_a,
             CAST(SUM(CASE WHEN b AND NOT a THEN 1 ELSE 0 END) AS BIGINT)
               AS n_only_b,
             CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_neither
      FROM scored
    )
    SELECT n AS n_docs, n_both, n_only_a, n_only_b, n_neither,
           floor((n_both + n_neither) * 1.0 / n * 10000 + 0.5) / 10000
             AS p_observed,
           floor(((n_both + n_only_a) * 1.0 / n
                  * (n_both + n_only_b) / n
                  + (n_only_b + n_neither) * 1.0 / n
                  * (n_only_a + n_neither) / n) * 10000 + 0.5) / 10000
             AS p_expected,
           floor(((n_both + n_neither) * 1.0 / n
                  - ((n_both + n_only_a) * 1.0 / n
                     * (n_both + n_only_b) / n
                     + (n_only_b + n_neither) * 1.0 / n
                     * (n_only_a + n_neither) / n))
                 / (1 - ((n_both + n_only_a) * 1.0 / n
                         * (n_both + n_only_b) / n
                         + (n_only_b + n_neither) * 1.0 / n
                         * (n_only_a + n_neither) / n))
                 * 10000 + 0.5) / 10000 AS kappa
    FROM cts
    """,
)
def documents_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between rater A (distinct-word ratio >= 0.5) and
    rater B (en-stopword density >= 0.02) over every document: the
    2x2 agreement table, observed agreement p_o, chance agreement p_e
    from the marginals, kappa = (p_o - p_e)/(1 - p_e). The standard
    check before treating two quality filters as independent evidence.

    Scale shape: one scan, one conditional-sum aggregate; everything
    after is constant-size arithmetic on exact integer counts.
    """
    d = load(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
    denom = F.greatest(F.size(toks), F.lit(1))
    a = (F.size(F.array_distinct(toks)).cast("double") / denom) >= 0.5
    b = (
        F.size(F.filter(toks, lambda w: w.isin(*_STOPS))).cast("double")
        / denom
    ) >= 0.02
    cts = d.select(a.alias("a"), b.alias("b")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("a") & F.col("b"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_both"),
        F.sum(F.when(F.col("a") & ~F.col("b"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_only_a"),
        F.sum(F.when(F.col("b") & ~F.col("a"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_only_b"),
        F.sum(F.when(~F.col("a") & ~F.col("b"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_neither"),
    )
    n = F.col("n")
    pa = (F.col("n_both") + F.col("n_only_a")) * 1.0 / n
    pb = (F.col("n_both") + F.col("n_only_b")) * 1.0 / n
    po = (F.col("n_both") + F.col("n_neither")) * 1.0 / n
    pe = pa * pb + ((F.col("n_only_b") + F.col("n_neither")) * 1.0 / n) * (
        (F.col("n_only_a") + F.col("n_neither")) * 1.0 / n
    )
    return cts.select(
        n.alias("n_docs"),
        "n_both",
        "n_only_a",
        "n_only_b",
        "n_neither",
        quantize(po, 4).alias("p_observed"),
        quantize(pe, 4).alias("p_expected"),
        quantize((po - pe) / (1 - pe), 4).alias("kappa"),
    )


# ------------------------------------------------ Good-Turing

_GT_MAX_R = 10


@query(
    "text_good_turing",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w
      FROM documents
    ),
    tok AS (
      SELECT w[g.i] || ' ' || w[g.i+1] || ' ' || w[g.i+2] AS g3
      FROM docs CROSS JOIN generate_series(1, 4000) g(i)
      WHERE g.i <= len(w) - 2
    ),
    wc AS (
      SELECT g3, CAST(COUNT(*) AS BIGINT) AS r FROM tok GROUP BY g3
    ),
    coc AS (
      SELECT r, CAST(COUNT(*) AS BIGINT) AS nr FROM wc GROUP BY r
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS t FROM tok
    )
    SELECT c.r,
           c.nr,
           floor((c.r + 1) * 1.0 * n2.nr / c.nr * 10000 + 0.5) / 10000
             AS r_star,
           floor((SELECT nr FROM coc WHERE r = 1) * 1.0 / tot.t
                 * 1000000 + 0.5) / 1000000 AS p_unseen
    FROM coc c
    LEFT JOIN coc n2 ON n2.r = c.r + 1
    CROSS JOIN tot
    WHERE c.r <= {_GT_MAX_R}
    ORDER BY c.r
    """,
)
def text_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing count-of-counts over corpus word TRIGRAMS (the
    synthetic corpus's unigram vocabulary is ~31 words with min count
    in the hundreds — no singleton mass; trigrams have the realistic
    heavy tail): N_r for r = 1..{r}, the smoothed frequency
    r* = (r+1) N_(r+1) / N_r (NULL where N_(r+1) is empty — the raw
    estimator's known gap, which SGT regression fills), and the
    leave-one-out unseen-mass estimate N_1 / T. The companion table to
    the Kneser-Ney LM: discounts for rare n-grams come straight from
    these ratios.

    Scale shape: one trigram explode (fan-out doc-length-bounded) +
    two exact count rollups; the count-of-counts table is bounded by
    the max trigram frequency, and the r <= {r} head is
    constant-size. The self-join on r+1 happens on that bounded table.
    """.format(r=_GT_MAX_R)
    from arkflow_spark.queries.base import seq1

    d = load(spark, sf_dir, "documents")
    dw = d.select(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("w")
    )
    w = F.col("w")
    tri = F.transform(
        seq1(F.size(w) - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(w, i),
            F.element_at(w, i + 1),
            F.element_at(w, i + 2),
        ),
    )
    tok = dw.select(F.explode(tri).alias("g3"))
    wc = tok.groupBy("g3").agg(F.count("*").cast("bigint").alias("r"))
    coc = wc.groupBy("r").agg(F.count("*").cast("bigint").alias("nr"))
    tot = tok.agg(F.count("*").cast("bigint").alias("t"))
    n1 = coc.filter(F.col("r") == 1).select(F.col("nr").alias("n1"))
    nxt = coc.select(
        (F.col("r") - 1).alias("r"), F.col("nr").alias("nr_next")
    )
    return (
        coc.filter(F.col("r") <= _GT_MAX_R)
        .join(F.broadcast(nxt), "r", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(n1))
        .select(
            "r",
            "nr",
            quantize(
                (F.col("r") + 1) * 1.0 * F.col("nr_next") / F.col("nr"), 4
            ).alias("r_star"),
            quantize(F.col("n1") * 1.0 / F.col("t"), 6).alias("p_unseen"),
        )
        .orderBy("r")
    )


# ------------------------------------------------ token-budget pack

_PACK_BUDGET_PCT = 25


@query(
    "documents_token_budget_pack",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source,
             CAST(len(regexp_extract_all(lower(text),
                  '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS toks,
             CAST(len(list_distinct(regexp_extract_all(lower(text),
                  '[a-z]+'))) AS DOUBLE)
               / GREATEST(len(regexp_extract_all(lower(text), '[a-z]+')),
                          1) AS q
      FROM documents
    ),
    nz AS (
      SELECT doc_id, source, toks, q / toks AS density
      FROM scored WHERE toks > 0
    ),
    tot AS (
      SELECT CAST(SUM(toks) AS BIGINT) AS t FROM nz
    ),
    ranked AS (
      SELECT n.*, SUM(toks) OVER (ORDER BY density DESC, doc_id) AS cum
      FROM nz n
    ),
    kept AS (
      SELECT r.source, r.toks
      FROM ranked r CROSS JOIN tot
      WHERE r.cum <= floor(tot.t * {_PACK_BUDGET_PCT} / 100.0)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_selected,
           CAST(SUM(toks) AS BIGINT) AS tokens_selected
    FROM kept GROUP BY source ORDER BY source
    """,
)
def documents_token_budget_pack(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Greedy corpus selection under a {p}% token budget: documents
    ranked by quality density (distinct-word ratio per token — the
    fractional-knapsack greedy order), kept while the exact cumulative
    token count stays inside the budget; emits the kept doc count and
    token mass per source — the data-mix report a budgeted pretraining
    run starts from.

    Scale shape: the cumulative token count uses the distributed
    prefix-sum (range partition -> per-partition decimal running sums
    -> broadcast offsets), never a single-partition sort; token sums
    are exact integers, so the budget cut is bit-identical to the
    oracle's sequential window.
    """.format(p=_PACK_BUDGET_PCT)
    from arkflow_spark.functions.distributed_rank import with_global_order

    d = load(spark, sf_dir, "documents")
    toks_all = F.regexp_extract_all(
        F.lower(F.col("text")), F.lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), 0
    )
    words = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
    scored = d.select(
        "doc_id",
        "source",
        F.size(toks_all).cast("bigint").alias("toks"),
        (
            F.size(F.array_distinct(words)).cast("double")
            / F.greatest(F.size(words), F.lit(1))
        ).alias("q"),
    ).filter(F.col("toks") > 0)
    nz = scored.withColumn("density", F.col("q") / F.col("toks"))
    ranked = with_global_order(
        nz,
        [F.desc("density"), F.asc("doc_id")],
        sums={"toks": F.col("toks").cast("decimal(18,0)")},
    )
    budget = F.floor(
        F.col("__tot_toks").cast("double") * _PACK_BUDGET_PCT / 100.0
    )
    return (
        ranked.filter(F.col("__cum_toks") <= budget)
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_selected"),
            F.sum("toks").cast("bigint").alias("tokens_selected"),
        )
        .orderBy("source")
    )
