"""Round-8 batch 135: quantization-error audits over the PQ code index.

- `ann_pq_quantization_error` — per-subspace health of the PQ
  codebook: reconstruction MSE (mean squared distance to the assigned
  codeword), codewords actually used, the largest codeword's share,
  and codeword-utilization entropy. A subspace with high MSE or
  collapsed utilization (low entropy / one dominant code) is the
  subspace whose codebook needs retraining — the go/no-go number
  behind shipping 64x-compressed codes.
- `ann_pq_reconstruction_by_label` — total per-vector reconstruction
  error rolled up by label: which clusters the quantizer represents
  poorly. A label whose mean error is far above the rest is the
  cluster ADC will mis-rank first — the per-tenant/per-class view a
  vector-index operator actually pages through.

Both read the materialized PQ code table
(`functions/pq.pq_codes` — the r8 sixth index family, built once per
session and shared with `ann_pq_topk` / `ann_ivf_pq_search` /
`ann_ivf_pq_rerank`): the audits are pure rollups of stored codes +
stored reconstruction error, touching raw embeddings only for the
label lookup.

Determinism: stored d2 is the fixed-order double fold (bit-identical
to the oracle's ordered ``list_reduce``); all sums over d2 accumulate
as DECIMAL (exact, order-independent); entropy terms are doubles cast
to DECIMAL(28,12) before summing (same rounding HALF_UP both engines);
outputs quantize via the 4-decimal floor idiom.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.functions.pq import pq_codes
from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# the deterministic-codebook assignment, with the assigned codeword's
# squared distance kept (mirrors functions/pq.pq_codes row-for-row)
_ASSIGN_CTES = """
    x AS (
      SELECT vec_id, (g.i - 1) // 16 AS s, g.i AS i,
             CAST(embedding[g.i] AS DOUBLE) AS v
      FROM embeddings CROSS JOIN generate_series(1, 64) g(i)
      WHERE g.i <= len(embedding)
    ),
    cb AS (SELECT vec_id AS code, s, i, v FROM x WHERE vec_id < 16),
    d AS (  -- left-fold double d2, bit-identical to Spark's F.aggregate
      SELECT c.vec_id, b.s, b.code,
             list_reduce(list((c.v - b.v) * (c.v - b.v) ORDER BY c.i),
                         (acc, t) -> acc + t) AS d2
      FROM x c JOIN cb b ON c.i = b.i
      GROUP BY 1, 2, 3
    ),
    assign AS (
      SELECT vec_id, s, code, d2 FROM (
        SELECT vec_id, s, code, d2,
               row_number() OVER (PARTITION BY vec_id, s
                                  ORDER BY d2, code) AS rn
        FROM d
      ) WHERE rn = 1
    )
"""


@query(
    "ann_pq_quantization_error",
    oracle=f"""
    WITH {_ASSIGN_CTES},
    per_s AS (
      SELECT s, COUNT(*) AS n,
             SUM(CAST(d2 AS DECIMAL(20,10))) AS tot
      FROM assign GROUP BY s
    ),
    cnts AS (
      SELECT s, code, COUNT(*) AS n_c FROM assign GROUP BY s, code
    ),
    ent AS (
      SELECT c.s,
             COUNT(*) AS codes_used,
             MAX(n_c) AS max_c,
             SUM(CAST((CAST(n_c AS DOUBLE) / p.n)
                      * ln(CAST(n_c AS DOUBLE) / p.n)
                      AS DECIMAL(28,12))) AS ent_sum
      FROM cnts c JOIN per_s p ON p.s = c.s
      GROUP BY c.s
    )
    SELECT CAST(p.s AS INTEGER) AS subspace,
           CAST(p.n AS BIGINT) AS n_vectors,
           floor(CAST(p.tot AS DOUBLE) / p.n * 10000 + 0.5) / 10000
             AS mse,
           CAST(e.codes_used AS BIGINT) AS codes_used,
           floor(CAST(e.max_c AS DOUBLE) / p.n * 10000 + 0.5) / 10000
             AS max_code_share,
           floor(-CAST(e.ent_sum AS DOUBLE) * 10000 + 0.5) / 10000
             AS code_entropy
    FROM per_s p JOIN ent e ON e.s = p.s
    ORDER BY subspace
    """,
)
def ann_pq_quantization_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-subspace PQ codebook health off the stored code index:
    reconstruction MSE (exact decimal sum of stored d2 / n), codewords
    used, max codeword share, and utilization entropy (natural log;
    uniform use of all 16 codes ≈ 2.77, collapse → 0).

    Scale shape: two rollups of the bucketed code table (M rows per
    vector, M*K-bounded group counts) and one M-row join — never
    touches raw embeddings. At 100 TB the code table is the 64x-
    compressed artifact already on disk; the audit is a scan of it.
    """
    codes = pq_codes(spark, sf_dir)
    per_s = codes.groupBy("s").agg(
        F.count("*").alias("n"),
        F.sum(F.col("d2").cast("decimal(20,10)")).alias("tot"),
    )
    cnts = codes.groupBy("s", "code").agg(F.count("*").alias("n_c"))
    p = F.col("n_c").cast("double") / F.col("n")
    ent = (
        cnts.join(per_s.select("s", "n"), "s")
        .select("s", "n_c", (p * F.log(p)).alias("term"))
        .groupBy("s")
        .agg(
            F.count("*").alias("codes_used"),
            F.max("n_c").alias("max_c"),
            F.sum(F.col("term").cast("decimal(28,12)")).alias("ent_sum"),
        )
    )
    return (
        per_s.join(ent, "s")
        .select(
            F.col("s").cast("int").alias("subspace"),
            F.col("n").cast("bigint").alias("n_vectors"),
            quantize(F.col("tot").cast("double") / F.col("n"), 4).alias(
                "mse"
            ),
            F.col("codes_used").cast("bigint").alias("codes_used"),
            quantize(
                F.col("max_c").cast("double") / F.col("n"), 4
            ).alias("max_code_share"),
            quantize(-F.col("ent_sum").cast("double"), 4).alias(
                "code_entropy"
            ),
        )
        .orderBy("subspace")
    )


@query(
    "ann_pq_reconstruction_by_label",
    oracle=f"""
    WITH {_ASSIGN_CTES},
    per_vec AS (
      SELECT vec_id, SUM(CAST(d2 AS DECIMAL(20,10))) AS err
      FROM assign GROUP BY vec_id
    )
    SELECT e.label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           floor(CAST(SUM(err) AS DOUBLE) / COUNT(*) * 10000 + 0.5)
             / 10000 AS mean_err,
           floor(CAST(MAX(err) AS DOUBLE) * 10000 + 0.5) / 10000
             AS max_err
    FROM per_vec p JOIN embeddings e ON e.vec_id = p.vec_id
    GROUP BY e.label
    ORDER BY e.label
    """,
)
def ann_pq_reconstruction_by_label(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Total per-vector PQ reconstruction error (exact decimal sum of
    the M stored subspace errors) rolled up by label: mean and max per
    cluster. The cluster with outsized error is where ADC ranking
    degrades first — retrain its codebook or route it to exact rerank.

    Scale shape: one vec_id-keyed rollup of the bucketed code table
    (pre-shuffled on the group key from storage), one join to the
    embeddings scan for the label column only (column-pruned), one
    label rollup bounded by the label domain.
    """
    codes = pq_codes(spark, sf_dir)
    per_vec = codes.groupBy("vec_id").agg(
        F.sum(F.col("d2").cast("decimal(20,10)")).alias("err")
    )
    lab = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    return (
        per_vec.join(lab, "vec_id")
        .groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            quantize(
                F.sum("err").cast("double") / F.count("*"), 4
            ).alias("mean_err"),
            quantize(F.max("err").cast("double"), 4).alias("max_err"),
        )
        .orderBy("label")
    )
