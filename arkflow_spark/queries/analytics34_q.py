"""Round-4 batch 34: supplier lead-time scorecard, ABC-XYZ inventory
matrix, per-domain cap sampling, Kneser-Ney bigram LM.

- `supplier_lead_time_scorecard` — per-supplier order-to-ship lead
  time: volume, exact mean, rank-selected p90, late rate. The vendor
  scorecard behind `orders_otif_fill_rate`'s monthly aggregate view.
- `lineitem_abc_xyz_matrix` — the two-axis inventory classification:
  ABC by cumulative revenue share (80/95 cuts) crossed with XYZ by
  weekly-demand variability (CV cuts 0.5/1.0); AX items get automated
  replenishment, CZ items get manual review — the standard S&OP
  segmentation.
- `documents_domain_cap_sample` — RefinedWeb-style per-domain cap:
  keep at most N documents per source by deterministic hash priority,
  so no single domain dominates the pretraining mix no matter how
  large its crawl footprint. Complements `documents_domain_mixture`
  (which reweights) by hard-capping.
- `text_bigram_kn_logprob` — Kneser-Ney smoothed bigram scoring: the
  principled discount + continuation-probability backoff that replaces
  `text_bigram_logprob`'s fixed interpolation; KN continuation counts
  are what make "San Francisco" cheap but "Francisco" alone expensive.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------- supplier lead-time card

_LATE_DAYS = 30


@query(
    "supplier_lead_time_scorecard",
    oracle=f"""
    WITH lt AS (
      SELECT l.l_suppkey,
             date_diff('day', o.o_orderdate, l.l_shipdate) AS lead_days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    ranked AS (
      SELECT l_suppkey, lead_days,
             row_number() OVER (PARTITION BY l_suppkey
                                ORDER BY lead_days) AS rn,
             COUNT(*) OVER (PARTITION BY l_suppkey) AS n
      FROM lt
    )
    SELECT s.s_name AS supplier,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           floor(CAST(SUM(CAST(r.lead_days AS DECIMAL(18,2)))
                      AS DOUBLE) / COUNT(*) * 100 + 0.5) / 100
             AS mean_lead_days,
           CAST(MAX(CASE WHEN r.rn = CAST(ceil(0.9 * r.n) AS BIGINT)
                         THEN r.lead_days END) AS BIGINT)
             AS p90_lead_days,
           floor(SUM(CASE WHEN r.lead_days > {_LATE_DAYS}
                          THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
                 * 10000 + 0.5) / 10000 AS late_rate
    FROM ranked r JOIN supplier s ON r.l_suppkey = s.s_suppkey
    GROUP BY s.s_name
    ORDER BY supplier
    """,
)
def supplier_lead_time_scorecard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Vendor scorecard: per-supplier order-to-ship lead time — line
    volume, exact decimal mean, rank-selected exact p90 (the row at
    ceil(0.9 n), no interpolation), and the share of lines later than
    {d} days. The per-vendor drill-down of `orders_otif_fill_rate`:
    the monthly KPI says service slipped, this table says which
    supplier slipped it.

    Scale: lineitem-orders is the co-keyed orderkey join (both sides
    shuffle once on the same key; AQE coalesces); the rank window and
    rollup run per supplier; the supplier name dimension broadcasts.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    s = load(spark, sf_dir, "supplier")
    lt = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_suppkey",
        F.datediff("l_shipdate", "o_orderdate").alias("lead_days"),
    )
    pw = Window.partitionBy("l_suppkey")
    ranked = lt.withColumn(
        "rn", F.row_number().over(pw.orderBy("lead_days"))
    ).withColumn("n", F.count("*").over(pw))
    return (
        ranked.join(
            F.broadcast(s), ranked.l_suppkey == s.s_suppkey
        )
        .groupBy(F.col("s_name").alias("supplier"))
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            quantize(
                F.sum(F.col("lead_days").cast("decimal(18,2)")).cast(
                    "double"
                )
                / F.count("*"), 2
            ).alias("mean_lead_days"),
            F.max(
                F.when(
                    F.col("rn")
                    == F.ceil(0.9 * F.col("n")).cast("bigint"),
                    F.col("lead_days"),
                )
            )
            .cast("bigint")
            .alias("p90_lead_days"),
            quantize(
                F.sum(
                    F.when(F.col("lead_days") > _LATE_DAYS, 1).otherwise(
                        0
                    )
                )
                * 1.0
                / F.count("*"), 4
            ).alias("late_rate"),
        )
        .orderBy("supplier")
    )


supplier_lead_time_scorecard.__doc__ = (
    supplier_lead_time_scorecard.__doc__.replace("{d}", str(_LATE_DAYS))
)


# ------------------------------------------------- ABC-XYZ matrix


@query(
    "lineitem_abc_xyz_matrix",
    oracle=r"""
    WITH rev AS (
      -- revenue stays DECIMAL through the running share (associative
      -- sums => the Spark side's distributed prefix sum is
      -- bit-identical); casts to double only at the divisions
      SELECT l_partkey,
             SUM(CAST(floor(l_extendedprice * (1 - l_discount)
                            * 100 + 0.5) / 100
                      AS DECIMAL(18,2))) AS revenue
      FROM lineitem GROUP BY l_partkey
    ),
    abc AS (
      SELECT l_partkey, revenue,
             CAST(SUM(revenue) OVER (ORDER BY revenue DESC, l_partkey)
                  AS DOUBLE)
               / CAST(SUM(revenue) OVER () AS DOUBLE) AS cum_share
      FROM rev
    ),
    abc_cls AS (
      SELECT l_partkey, revenue,
             CASE WHEN cum_share <= 0.8 THEN 'A'
                  WHEN cum_share <= 0.95 THEN 'B'
                  ELSE 'C' END AS abc
      FROM abc
    ),
    weekly AS (
      SELECT l_partkey, date_trunc('week', l_shipdate) AS wk,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                  AS DOUBLE) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    cv AS (
      SELECT l_partkey,
             floor(CASE WHEN COUNT(*) < 2
                          OR CAST(SUM(CAST(q AS DECIMAL(18,2)))
                                  AS DOUBLE) = 0 THEN NULL
                   ELSE sqrt((CAST(SUM(CAST(floor(q * q * 100 + 0.5)
                                             / 100 AS DECIMAL(28,2)))
                                   AS DOUBLE) / COUNT(*))
                             - (CAST(SUM(CAST(q AS DECIMAL(18,2)))
                                     AS DOUBLE) / COUNT(*))
                               * (CAST(SUM(CAST(q AS DECIMAL(18,2)))
                                       AS DOUBLE) / COUNT(*)))
                        / (CAST(SUM(CAST(q AS DECIMAL(18,2)))
                                AS DOUBLE) / COUNT(*)) END
                   * 10000 + 0.5) / 10000 AS cv
      FROM weekly GROUP BY l_partkey
    ),
    xyz_cls AS (
      SELECT l_partkey,
             CASE WHEN cv IS NULL THEN 'Z'
                  WHEN cv < 0.5 THEN 'X'
                  WHEN cv < 1.0 THEN 'Y'
                  ELSE 'Z' END AS xyz
      FROM cv
    )
    SELECT a.abc, x.xyz,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           floor(CAST(SUM(CAST(a.revenue AS DECIMAL(18,2)))
                      AS DOUBLE) * 100 + 0.5) / 100 AS revenue
    FROM abc_cls a JOIN xyz_cls x ON a.l_partkey = x.l_partkey
    GROUP BY a.abc, x.xyz
    ORDER BY a.abc, x.xyz
    """,
)
def lineitem_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-axis inventory segmentation: ABC by cumulative revenue share
    (A = first 80%, B = to 95%, C = tail) crossed with XYZ by weekly
    demand variability (coefficient of variation < 0.5 = X steady,
    < 1.0 = Y, else Z erratic; parts without 2 demand weeks are Z).
    AX cells get automated replenishment, CZ cells manual review — the
    standard S&OP matrix, extending `lineitem_abc_pareto` with the
    predictability axis.

    Scale: two part-keyed aggregates off the same scan lineage (revenue
    and weekly demand), a distributed prefix sum for the running share
    (functions/distributed_rank — cardinality = parts, not lines, and
    no single-partition sort), a part-keyed join of the two
    classifications, and a 9-cell rollup. Revenue and CV moments use
    exact decimal sums so class boundaries cannot flip between engines
    or partitionings.
    """
    from arkflow_spark.functions.distributed_rank import with_global_order

    li = load(spark, sf_dir, "lineitem")
    cents = quantize(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2)
    rev = li.groupBy("l_partkey").agg(
        F.sum(cents.cast("decimal(18,2)")).alias("revenue")
    )
    abc_cls = with_global_order(
        rev,
        [F.desc("revenue"), F.asc("l_partkey")],
        sums={"revenue": F.col("revenue")},
    ).select(
        "l_partkey",
        "revenue",
        (
            F.col("__cum_revenue").cast("double")
            / F.col("__tot_revenue").cast("double")
        ).alias("cum_share"),
    ).select(
        "l_partkey",
        "revenue",
        F.when(F.col("cum_share") <= 0.8, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C")
        .alias("abc"),
    )
    weekly = li.groupBy(
        "l_partkey", F.date_trunc("week", "l_shipdate").alias("wk")
    ).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("q")
    )
    n = F.count("*")
    s1 = F.sum(F.col("q").cast("decimal(18,2)")).cast("double")
    s2 = F.sum(
        quantize(F.col("q") * F.col("q"), 2).cast(
            "decimal(28,2)"
        )
    ).cast("double")
    mean = s1 / n
    cv = quantize(
        F.when((n < 2) | (s1 == 0), None).otherwise(
            F.sqrt(s2 / n - mean * mean) / mean
        ), 4
    )
    xyz_cls = weekly.groupBy("l_partkey").agg(cv.alias("cv")).select(
        "l_partkey",
        F.when(F.col("cv").isNull(), "Z")
        .when(F.col("cv") < 0.5, "X")
        .when(F.col("cv") < 1.0, "Y")
        .otherwise("Z")
        .alias("xyz"),
    )
    return (
        abc_cls.join(xyz_cls, "l_partkey")
        .groupBy("abc", "xyz")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            quantize(
                F.sum(F.col("revenue").cast("decimal(18,2)")).cast(
                    "double"
                ), 2
            ).alias("revenue"),
        )
        .orderBy("abc", "xyz")
    )


# --------------------------------------------- per-domain cap sample

_DOMAIN_CAP = 50


@query(
    "documents_domain_cap_sample",
    oracle=f"""
    SELECT source, doc_id,
           CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    )
    WHERE rk <= {_DOMAIN_CAP}
    ORDER BY source, rk
    """,
)
def documents_domain_cap_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RefinedWeb-style per-domain cap: keep at most {cap} documents
    per source, chosen by deterministic hash priority (a uniform random
    subset that is reproducible run-over-run and auditable). The hard
    cap guarantees no domain exceeds its budget regardless of crawl
    size — the complement of `documents_domain_mixture`'s proportional
    reweighting, and the first defense against one boilerplate-heavy
    domain dominating a pretraining mix.

    Scale: one rank window per source over (source, doc_id, 16-byte
    priority) — the text never moves; survivors join back to content
    lazily downstream. A skewed source (90% of the corpus) is still one
    partition's rank pass at {cap} retained rows; for truly pathological
    single-domain corpora the two-level trick (per-partition top-{cap}
    then merge) applies unchanged.
    """
    d = load(spark, sf_dir, "documents")
    prio = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source").orderBy(prio, "doc_id")
    return (
        d.select("source", "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _DOMAIN_CAP)
        .select("source", "doc_id", F.col("rk").cast("bigint").alias("rk"))
        .orderBy("source", "rk")
    )


documents_domain_cap_sample.__doc__ = (
    documents_domain_cap_sample.__doc__.replace("{cap}", str(_DOMAIN_CAP))
)


# --------------------------------------------- Kneser-Ney bigram LM

_KN_D = 0.75


@query(
    "text_bigram_kn_logprob",
    oracle=rf"""
    WITH words AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      FROM documents
    ),
    tok AS (
      SELECT doc_id, g.i AS pos, ws[g.i] AS w,
             CASE WHEN g.i > 1 THEN ws[g.i - 1] END AS prev
      FROM words, LATERAL (
        SELECT unnest(range(1, len(ws) + 1)) AS i
      ) g
    ),
    big AS (
      SELECT prev AS w1, w AS w2, COUNT(*) AS c12
      FROM tok WHERE prev IS NOT NULL GROUP BY 1, 2
    ),
    uni AS (SELECT w1, SUM(c12) AS c1,
                   COUNT(*) AS n_follow
            FROM big GROUP BY w1),
    cont AS (SELECT w2, COUNT(*) AS n_prec FROM big GROUP BY w2),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM big),
    scored AS (
      SELECT t.doc_id,
             ROUND(-log(
               GREATEST(b.c12 - {_KN_D}, 0) / u.c1
               + {_KN_D} * u.n_follow / u.c1
                 * (co.n_prec * 1.0 / tt.t)
             ) / log(2), 6) AS nll
      FROM tok t
      JOIN big b ON t.prev = b.w1 AND t.w = b.w2
      JOIN uni u ON b.w1 = u.w1
      JOIN cont co ON b.w2 = co.w2
      CROSS JOIN tot tt
      WHERE t.prev IS NOT NULL
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           floor(CAST(SUM(CAST(nll AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*) * 10000 + 0.5) / 10000 AS avg_nll_bits
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_bigram_kn_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney smoothed bigram scoring: P(w2|w1) = max(c12-D,0)/c1 +
    D*N_follow(w1)/c1 * N_prec(w2)/T with absolute discount D={d}. The
    continuation term scores a word by how many DISTINCT contexts it
    follows — the property that makes KN the standard n-gram smoother
    (a token common only inside one collocation stays expensive in new
    contexts). The step up from `text_bigram_logprob`'s fixed
    interpolation; per-doc average NLL in bits.

    Scale: all four model tables (bigram, left/right continuation,
    1-row total) are vocabulary-scaled and broadcast onto the token
    stream; token extraction is narrow (posexplode + element_at, no
    window). Probabilities derive from exact integer counts through
    identical double expressions, so no engine can disagree before the
    6-decimal quantization.
    """
    d = load(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("ws")
    )
    tok = words.select(
        "doc_id",
        F.posexplode("ws").alias("pos0", "w"),
        F.col("ws"),
    ).select(
        "doc_id",
        "w",
        F.when(
            F.col("pos0") > 0, F.element_at("ws", F.col("pos0"))
        ).alias("prev"),
    )
    pairs = tok.filter(F.col("prev").isNotNull())
    big = pairs.groupBy(
        F.col("prev").alias("w1"), F.col("w").alias("w2")
    ).agg(F.count("*").alias("c12")).persist()
    # ^ bigram-vocabulary bounded; all three KN model tables and the
    # scoring join re-read it — one bigram aggregate, not four
    uni = big.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count("*").alias("n_follow")
    )
    cont = big.groupBy("w2").agg(F.count("*").alias("n_prec"))
    tot = big.agg(F.count("*").cast("bigint").alias("t"))
    p = (
        F.greatest(F.col("c12") - _KN_D, F.lit(0)) / F.col("c1")
        + _KN_D
        * F.col("n_follow")
        / F.col("c1")
        * (F.col("n_prec") * 1.0 / F.col("t"))
    )
    nll = F.round(-F.log2(p), 6)
    scored = (
        pairs.join(
            F.broadcast(big),
            (pairs.prev == big.w1) & (pairs.w == big.w2),
        )
        .join(F.broadcast(uni), "w1")
        .join(F.broadcast(cont), "w2")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", nll.alias("nll"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            quantize(
                F.sum(F.col("nll").cast("decimal(18,6)")).cast("double")
                / F.count("*"), 4
            ).alias("avg_nll_bits"),
        )
        .orderBy("doc_id")
    )
