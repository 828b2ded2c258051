"""Round-6 batch 121: format-signature profiling, Box-Cox selection,
reciprocal-rank quality fusion.

- `dq_format_inference` — Deequ-style format profiling: collapse each
  value to a character-class signature (runs of lowercase -> 'a',
  uppercase -> 'A', digits -> '9', keep punctuation) and report the
  top signatures per column with their coverage. One dominant
  signature = a de-facto format contract; a long tail = dirty
  ingestion. Run over the string columns of part/orders/customer.
- `events_boxcox_lambda` — Box-Cox variance-stabilization selection
  per event type: profile the exact Gaussian log-likelihood over the
  lambda grid {{-1, -0.5, 0, 0.5, 1}} (log-jacobian included) and
  pick the argmax. The pre-step every parametric model on skewed
  `value` distributions needs; lambda near 0 says "log it", near 1
  "leave it".
- `documents_rrf_quality_fusion` — reciprocal-rank fusion of three
  independent quality signals (length, alpha ratio, distinct-word
  ratio): RRF = sum 1/(60 + rank_i), the standard way to combine
  rankings WITHOUT calibrating scores. Top-20 fused documents. All
  three ranks are exact global ranks via functions/distributed_rank
  — no single-partition sorts.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ format inference

_FI_COLS = (
    ("part", "p_brand"),
    ("part", "p_type"),
    ("orders", "o_orderpriority"),
    ("customer", "c_name"),
)
_FI_TOP = 3


def _fi_oracle() -> str:
    blocks = []
    for tbl, col in _FI_COLS:
        blocks.append(f"""
      SELECT '{tbl}.{col}' AS col,
             regexp_replace(regexp_replace(regexp_replace(
               {col}, '[a-z]+', 'a', 'g'), '[A-Z]+', 'A', 'g'),
               '[0-9]+', '9', 'g') AS sig
      FROM {tbl}""")
    union = "\n      UNION ALL\n".join(blocks)
    return f"""
    WITH vals AS (
    {union}
    ),
    sigs AS (
      SELECT col, sig, COUNT(*) AS c FROM vals GROUP BY 1, 2
    ),
    tot AS (SELECT col, SUM(c) AS t FROM sigs GROUP BY col),
    ranked AS (
      SELECT s.col, s.sig, s.c, t.t,
             row_number() OVER (PARTITION BY s.col
                                ORDER BY s.c DESC, s.sig) AS r
      FROM sigs s JOIN tot t ON t.col = s.col
    )
    SELECT col, CAST(r AS INTEGER) AS rank, sig,
           CAST(c AS BIGINT) AS n_rows,
           floor(c * 1.0 / t * 10000 + 0.5) / 10000 AS coverage
    FROM ranked WHERE r <= {_FI_TOP}
    ORDER BY col, rank
    """


@query("dq_format_inference", oracle=_fi_oracle())
def dq_format_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format-signature profile of string columns: values collapse to
    character-class signatures (lowercase runs -> 'a', uppercase runs
    -> 'A', digit runs -> '9'; punctuation kept verbatim), and the
    top-{t} signatures per column are reported with coverage.
    'Brand#99' covering 100% of p_brand IS the format contract;
    signature tails on a column that should be uniform are ingestion
    bugs. The relational sibling of `text_casing_style_profile`.

    Scale shape: per column one regex map + signature rollup
    (signature domain is tiny); rank over the bounded signature
    table; a 4-column union.
    """.format(t=_FI_TOP)
    from pyspark.sql import Window

    outs = []
    for tbl, col in _FI_COLS:
        t = load(spark, sf_dir, tbl)
        sig = F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col(col), "[a-z]+", "a"),
                "[A-Z]+",
                "A",
            ),
            "[0-9]+",
            "9",
        )
        outs.append(
            t.select(F.lit(f"{tbl}.{col}").alias("col"), sig.alias("sig"))
        )
    vals = outs[0]
    for o in outs[1:]:
        vals = vals.unionByName(o)
    sigs = vals.groupBy("col", "sig").agg(F.count("*").alias("c"))
    # scale: schema-domain-bounded (one row per format signature per
    # column — the signature domain is tiny by construction)
    # r8: per-column totals via a window over the SAME col partitioning
    # the rank window needs, instead of groupBy + join-back — the tot
    # reference otherwise re-ran the 4-column union scans a second
    # time (8 corpus scans per action instead of 4). Exact bigint sum,
    # identical t.
    w = Window.partitionBy("col").orderBy(F.desc("c"), F.asc("sig"))
    return (
        sigs.withColumn(
            "t", F.sum("c").over(Window.partitionBy("col"))
        )
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _FI_TOP)
        .select(
            "col",
            F.col("r").cast("int").alias("rank"),
            "sig",
            F.col("c").cast("bigint").alias("n_rows"),
            quantize(F.col("c") * 1.0 / F.col("t"), 4).alias("coverage"),
        )
        .orderBy("col", "rank")
    )


# ------------------------------------------------ Box-Cox selection

_BC_LAMBDAS = (-1.0, -0.5, 0.0, 0.5, 1.0)


@query(
    "events_boxcox_lambda",
    oracle=f"""
    WITH d AS (
      SELECT event_type, CAST(value AS DOUBLE) AS v FROM events
      WHERE value IS NOT NULL AND value > 0
    ),
    ls(lam) AS (VALUES {", ".join(f"(CAST({x} AS DOUBLE))"
                                  for x in _BC_LAMBDAS)}),
    tx AS (
      SELECT d.event_type, ls.lam,
             CASE WHEN ls.lam = 0 THEN ln(d.v)
                  ELSE (power(d.v, ls.lam) - 1) / ls.lam END AS y,
             ln(d.v) AS lv
      FROM d CROSS JOIN ls
    ),
    mom AS (
      SELECT event_type, lam, COUNT(*) AS n,
             CAST(SUM(CAST(y AS DECIMAL(28,10))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(y * y AS DECIMAL(28,8))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(lv AS DECIMAL(28,12))) AS DOUBLE) AS slv
      FROM tx GROUP BY 1, 2
    ),
    ll AS (
      SELECT event_type, lam, n,
             -0.5 * n * ln(greatest(syy / n - (sy / n) * (sy / n),
                                    1e-300))
               + (lam - 1) * slv AS loglik
      FROM mom
    ),
    best AS (
      SELECT event_type, lam, loglik,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY loglik DESC, lam) AS r
      FROM ll
    )
    SELECT event_type, lam AS lambda,
           floor(loglik * 100 + 0.5) / 100 AS loglik,
           r = 1 AS chosen
    FROM best
    ORDER BY event_type, lambda
    """,
)
def events_boxcox_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Box-Cox lambda selection per event type: the profile Gaussian
    log-likelihood -n/2 ln(sigma^2(lambda)) + (lambda-1) sum(ln v)
    over the grid {ls}, with the argmax flagged. lambda ~ 0 chosen =
    log-transform the value stream before any Gaussian-assuming model
    (z-scores, control charts, OLS); lambda ~ 1 = leave it alone.
    Grid-argmin discipline (no root-finding, identical doubles both
    engines); per-term decimal quantization before the moment sums.

    Scale shape: one scan fanned out 5x by a literal lambda grid,
    exact moment rollups, a (type x 5)-bounded rank.
    """.format(ls=_BC_LAMBDAS)
    from pyspark.sql import Window

    d = load(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.col("value") > 0)
    ).select("event_type", F.col("value").cast("double").alias("v"))
    ls = spark.createDataFrame(
        [(float(x),) for x in _BC_LAMBDAS], "lam DOUBLE"
    )
    y = F.when(F.col("lam") == 0, F.log("v")).otherwise(
        (F.pow(F.col("v"), F.col("lam")) - 1) / F.col("lam")
    )
    tx = d.crossJoin(F.broadcast(ls)).select(
        "event_type", "lam", y.alias("y"), F.log("v").alias("lv")
    )
    mom = tx.groupBy("event_type", "lam").agg(
        F.count("*").alias("n"),
        F.sum(F.col("y").cast("decimal(28,10)")).cast("double").alias("sy"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(28,8)"))
        .cast("double")
        .alias("syy"),
        F.sum(F.col("lv").cast("decimal(28,12)"))
        .cast("double")
        .alias("slv"),
    )
    n, sy, syy, slv = (
        F.col("n"), F.col("sy"), F.col("syy"), F.col("slv")
    )
    var = syy / n - (sy / n) * (sy / n)
    loglik = -0.5 * n * F.log(F.greatest(var, F.lit(1e-300))) + (
        F.col("lam") - 1
    ) * slv
    w = Window.partitionBy("event_type").orderBy(
        F.desc("loglik"), F.asc("lam")
    )
    return (
        mom.withColumn("loglik", loglik)
        .withColumn("r", F.row_number().over(w))
        .select(
            "event_type",
            F.col("lam").alias("lambda"),
            quantize(F.col("loglik"), 2).alias("loglik"),
            (F.col("r") == 1).alias("chosen"),
        )
        .orderBy("event_type", "lambda")
    )


# ------------------------------------------------ RRF quality fusion

_RRF_K = 60
_RRF_TOP = 20


@query(
    "documents_rrf_quality_fusion",
    oracle=rf"""
    WITH feats AS (
      SELECT doc_id, source,
             n_chars,
             CAST(len(regexp_replace(text, '[^a-zA-Z ]', '', 'g'))
                  AS DOUBLE) / greatest(len(text), 1) AS alpha_ratio,
             CAST(len(list_distinct(regexp_split_to_array(
                    lower(trim(text)), '\s+'))) AS DOUBLE)
               / greatest(len(regexp_split_to_array(
                    lower(trim(text)), '\s+')), 1) AS distinct_ratio
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, source,
             row_number() OVER (ORDER BY n_chars DESC, doc_id) AS r1,
             row_number() OVER (ORDER BY alpha_ratio DESC, doc_id) AS r2,
             row_number() OVER (ORDER BY distinct_ratio DESC, doc_id)
               AS r3
      FROM feats
    )
    SELECT doc_id, source,
           CAST(r1 AS BIGINT) AS rank_length,
           CAST(r2 AS BIGINT) AS rank_alpha,
           CAST(r3 AS BIGINT) AS rank_distinct,
           floor((1.0 / ({_RRF_K} + r1) + 1.0 / ({_RRF_K} + r2)
                  + 1.0 / ({_RRF_K} + r3)) * 1000000 + 0.5) / 1000000
             AS rrf_score
    FROM ranked
    ORDER BY 1.0 / ({_RRF_K} + r1) + 1.0 / ({_RRF_K} + r2)
             + 1.0 / ({_RRF_K} + r3) DESC, doc_id
    LIMIT {_RRF_TOP}
    """,
)
def documents_rrf_quality_fusion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Reciprocal-rank fusion of three quality rankings — length
    (n_chars), alpha ratio, distinct-word ratio — each an EXACT global
    rank from `functions/distributed_rank` (corpus-scaled orderings,
    so no single-partition sorts), fused as sum 1/({k} + rank).
    RRF needs no score calibration, which is exactly why retrieval
    stacks use it; here it builds the documents shortlist a curation
    pass would hand-review first. Top-{t} by fused score.

    Scale shape: three range-partitioned rank constructions over one
    feature scan, a broadcast-free three-way column merge (ranks ride
    the same row), TakeOrderedAndProject top-{t}.
    """.format(k=_RRF_K, t=_RRF_TOP)
    from arkflow_spark.functions import distributed_rank as dr

    d = load(spark, sf_dir, "documents")
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    feats = d.select(
        "doc_id",
        "source",
        F.col("n_chars").alias("len_f"),
        (
            F.length(
                F.regexp_replace(F.col("text"), "[^a-zA-Z ]", "")
            ).cast("double")
            / F.greatest(F.length("text"), F.lit(1))
        ).alias("alpha_ratio"),
        (
            F.size(F.array_distinct(words)).cast("double")
            / F.greatest(F.size(words), F.lit(1))
        ).alias("distinct_ratio"),
    ).persist()
    # ^ one row of 4 scalars per document, consumed by all three rank
    # constructions AND the final merge — without the persist the
    # regex/split feature extraction re-ran four times per query
    # (r8 optimization round)
    r1 = dr.with_global_order(
        feats, [F.desc("len_f"), F.asc("doc_id")]
    ).select("doc_id", F.col(dr.RN).alias("r1"))
    r2 = dr.with_global_order(
        feats, [F.desc("alpha_ratio"), F.asc("doc_id")]
    ).select(F.col("doc_id").alias("d2"), F.col(dr.RN).alias("r2"))
    r3 = dr.with_global_order(
        feats, [F.desc("distinct_ratio"), F.asc("doc_id")]
    ).select(F.col("doc_id").alias("d3"), F.col(dr.RN).alias("r3"))
    j = (
        feats.select("doc_id", "source")
        .join(r1, "doc_id")
        .join(r2, F.col("doc_id") == F.col("d2"))
        .join(r3, F.col("doc_id") == F.col("d3"))
    )
    rrf = (
        1.0 / (_RRF_K + F.col("r1"))
        + 1.0 / (_RRF_K + F.col("r2"))
        + 1.0 / (_RRF_K + F.col("r3"))
    )
    return (
        j.select(
            "doc_id",
            "source",
            F.col("r1").cast("bigint").alias("rank_length"),
            F.col("r2").cast("bigint").alias("rank_alpha"),
            F.col("r3").cast("bigint").alias("rank_distinct"),
            quantize(rrf, 6).alias("rrf_score"),
            rrf.alias("_s"),
        )
        .orderBy(F.desc("_s"), "doc_id")
        .limit(_RRF_TOP)
        .drop("_s")
    )
