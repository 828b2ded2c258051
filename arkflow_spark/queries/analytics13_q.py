"""Round-3 fourth-session batch 9: FILTER-clause aggregates, map
higher-order functions, and a precision/recall evaluation harness for
the LSH dedup path.

- `agg_filter_clause` — the SQL:2003 `agg(...) FILTER (WHERE ...)`
  surface (DataFusion supports it: docs/docs/sql/4-aggregate.md):
  conditional aggregation without CASE contortions, identical syntax
  in both engines.
- `scalar_map_higher_order` — map construction + the higher-order map
  family (map_filter / transform_values / element_at / map_keys),
  serialized through sorted entries so the inherently unordered map
  type hash-verifies across engines.
- `dedup_lsh_eval_pr` — the evaluation harness for
  `dedup_minhash_lsh`: candidate pairs from the SAME 16-perm 4x4
  banding vs the exact-Jaccard >= 0.7 ground truth, scored as
  TP/FP/FN + precision/recall — the number you tune band/row counts
  against before spending a 100 TB pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.queries.dedup_q import (
    BAND_SIZE,
    N_HASHES,
    _ORACLE_SHINGLES,
    _shingles,
)
from arkflow_spark.tables import load, register_views


# -------------------------------------------------- FILTER clause


_FILTER_SQL = """
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
           SUM(CAST(o_totalprice AS DECIMAL(18,2)))
             FILTER (WHERE o_orderstatus = 'O') AS open_revenue,
           AVG(o_totalprice) FILTER (WHERE o_totalprice > 100000)
             AS avg_large,
           MIN(o_orderkey) FILTER (WHERE o_orderstatus = 'P')
             AS first_pending
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


@query(
    "agg_filter_clause",
    oracle=f"""
    SELECT o_orderpriority, n_orders, n_finished,
           CAST(open_revenue AS DOUBLE) AS open_revenue,
           floor(avg_large * 10000 + 0.5) / 10000 AS avg_large,
           first_pending
    FROM ({_FILTER_SQL})
    ORDER BY o_orderpriority
    """,
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `FILTER (WHERE ...)` aggregate clause — per-aggregate
    predicates without CASE expressions, across count/sum/avg/min —
    run through `spark.sql` with the IDENTICAL statement DuckDB
    executes (revenue reduces as exact decimal, then casts to DOUBLE at
    output — exact, since money*100 is an integer well under 2^53 —
    because the two engines widen SUM(DECIMAL) precision differently;
    the one float average is quantized outside the shared text). Catalyst plans each FILTER
    as a conditional partial aggregate — same map-side-combine shape
    as the CASE formulation, so the clause is pure surface, zero cost.
    """
    register_views(spark, sf_dir)
    inner = spark.sql(_FILTER_SQL)
    return inner.select(
        "o_orderpriority",
        "n_orders",
        "n_finished",
        F.col("open_revenue").cast("double").alias("open_revenue"),
        quantize(F.col("avg_large"), 4).alias("avg_large"),
        "first_pending",
    ).orderBy("o_orderpriority")


# -------------------------------------------------- map higher-order


@query(
    "scalar_map_higher_order",
    oracle="""
    WITH base AS (
      SELECT n_nationkey AS k, n_regionkey AS r,
             length(n_name) AS ln
      FROM nation
    )
    SELECT k,
           'key=' || k || ',len=' || ln || ',reg=' || r AS entries,
           CAST(r AS BIGINT) AS reg_val,
           concat_ws(',',
             CASE WHEN k > 5 THEN 'key=' || k END,
             CASE WHEN ln > 5 THEN 'len=' || ln END,
             CASE WHEN r > 5 THEN 'reg=' || r END) AS big_entries,
           'key=' || k * 2 || ',len=' || ln * 2 || ',reg=' || r * 2
             AS doubled,
           3 AS n_keys
    FROM base
    ORDER BY k
    """,
)
def scalar_map_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The map higher-order family: construct a map, look up
    (element_at), filter entries by value (map_filter), rewrite values
    (transform_values), count keys (size/map_keys). Maps are unordered,
    so every map-typed result serializes through SORTED entries
    ('k=v,...') before comparison — the only hash-stable contract for
    map columns; DuckDB rebuilds the same strings from the entry
    formulas (semantic, not mechanical, equivalence).

    Scale: all narrow codegen projections — maps cost nothing until
    they shuffle, and serializing sorted entries is also how you'd
    bucket or dedup on a map-typed column at 100 TB.
    """
    n = load(spark, sf_dir, "nation")
    base = n.select(
        F.col("n_nationkey").alias("k"),
        F.col("n_regionkey").alias("r"),
        F.length("n_name").alias("ln"),
    )
    m = F.map_from_arrays(
        F.array(F.lit("key"), F.lit("reg"), F.lit("len")),
        F.array(F.col("k"), F.col("r"), F.col("ln")),
    )

    def ser(mcol):
        return F.array_join(
            F.transform(
                F.array_sort(F.map_entries(mcol)),
                lambda e: F.concat_ws(
                    "=", e["key"], e["value"].cast("string")
                ),
            ),
            ",",
        )

    return (
        base.select(
            "k",
            ser(m).alias("entries"),
            F.element_at(m, F.lit("reg")).alias("reg_val"),
            ser(F.map_filter(m, lambda _, v: v > 5)).alias("big_entries"),
            ser(F.transform_values(m, lambda _, v: v * 2)).alias(
                "doubled"
            ),
            F.size(F.map_keys(m)).alias("n_keys"),
        )
        .orderBy("k")
    )


# -------------------------------------------------- LSH eval harness

_EVAL_JACCARD = 0.7


def _lsh_eval_oracle() -> str:
    sig_cols = ", ".join(
        f"MIN(h1 + {i} * h2) AS s{i}" for i in range(N_HASHES)
    )
    band_rows = ", ".join(
        "({b}, CAST(s{a0} AS VARCHAR) || ',' || CAST(s{a1} AS VARCHAR)"
        " || ',' || CAST(s{a2} AS VARCHAR) || ',' ||"
        " CAST(s{a3} AS VARCHAR))".format(
            b=b, a0=4 * b, a1=4 * b + 1, a2=4 * b + 2, a3=4 * b + 3
        )
        for b in range(N_HASHES // BAND_SIZE)
    )
    return f"""
    WITH {_ORACLE_SHINGLES},
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT doc_a, doc_b
      FROM pairs
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE shared * 1.0 / (sa.n + sb.n - shared) >= {_EVAL_JACCARD}
    ),
    hashed AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h1,
             CAST(('0x' || substr(md5(shingle), 16, 10)) AS BIGINT) AS h2
      FROM sh
    ),
    sig AS (SELECT doc_id, {sig_cols} FROM hashed GROUP BY doc_id),
    bands AS (
      SELECT doc_id, b.band, b.band_key
      FROM sig, LATERAL (VALUES {band_rows}) AS b(band, band_key)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT COALESCE(t.doc_a, c.doc_a) AS doc_a,
             t.doc_a IS NOT NULL AS is_true,
             c.doc_a IS NOT NULL AS is_cand
      FROM truth t
      FULL OUTER JOIN cand c
        ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    )
    SELECT COUNT(*) FILTER (WHERE is_true) AS n_truth,
           COUNT(*) FILTER (WHERE is_cand) AS n_cand,
           COUNT(*) FILTER (WHERE is_true AND is_cand) AS tp,
           COUNT(*) FILTER (WHERE is_cand AND NOT is_true) AS fp,
           COUNT(*) FILTER (WHERE is_true AND NOT is_cand) AS fn,
           floor(COUNT(*) FILTER (WHERE is_true AND is_cand) * 1.0
                 / greatest(COUNT(*) FILTER (WHERE is_cand), 1)
                 * 10000 + 0.5) / 10000 AS prec,
           floor(COUNT(*) FILTER (WHERE is_true AND is_cand) * 1.0
                 / greatest(COUNT(*) FILTER (WHERE is_true), 1)
                 * 10000 + 0.5) / 10000 AS recall
    FROM scored
    """


@query("dedup_lsh_eval_pr", oracle=_lsh_eval_oracle())
def dedup_lsh_eval_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the LSH candidate generator against exact
    ground truth: candidate pairs from the SAME 16-perm 4x4 banding as
    `dedup_minhash_lsh`, ground truth = exact Jaccard >= {j} pairs;
    TP/FP/FN counted via a FULL OUTER pair join. This is the tuning
    harness — you run it on a sample to pick bands x rows BEFORE
    spending the 100 TB pass, and the bound you trade against is the
    S-curve P(candidate) = 1-(1-j^rows)^bands.

    The ground-truth all-pairs shingle join is the documented quadratic
    verification baseline (`dedup_prefix_filter`'s oracle) — the harness
    runs on samples by construction; the LSH side stays bucket-bounded.
    """.format(j=_EVAL_JACCARD)
    sh = _shingles(spark, sf_dir).persist()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))

    # ground truth: exact all-pairs Jaccard
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    jac = F.col("shared") * 1.0 / (
        F.col("n_a") + F.col("n_b") - F.col("shared")
    )
    truth = (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= _EVAL_JACCARD)
        .select("doc_a", "doc_b", F.lit(True).alias("is_true"))
    )

    # candidates: the minhash banding (identical to dedup_minhash_lsh);
    # r7: signatures read the materialized signature table
    from arkflow_spark.queries.dedup_q import _mh_signatures

    sig = _mh_signatures(spark, sf_dir)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bb).alias("band"),
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"s{4 * bb + j}").cast("string")
                        for j in range(BAND_SIZE)
                    ],
                ).alias("band_key"),
            )
            for bb in range(N_HASHES // BAND_SIZE)
        ]
    )
    bands = sig.select(
        "doc_id", F.explode(band_structs).alias("bk")
    ).select(
        "doc_id",
        F.col("bk.band").alias("band"),
        F.col("bk.band_key").alias("band_key"),
    )
    ba, bbnd = bands.alias("ba"), bands.alias("bb")
    cand = (
        ba.join(
            bbnd,
            (F.col("ba.band") == F.col("bb.band"))
            & (F.col("ba.band_key") == F.col("bb.band_key"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(
            F.col("ba.doc_id").alias("doc_a"),
            F.col("bb.doc_id").alias("doc_b"),
        )
        .distinct()
        .withColumn("is_cand", F.lit(True))
    )

    scored = truth.join(cand, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce(F.col("is_true"), F.lit(False)).alias("is_true"),
        F.coalesce(F.col("is_cand"), F.lit(False)).alias("is_cand"),
    )
    tp = F.sum(F.when(F.col("is_true") & F.col("is_cand"), 1).otherwise(0))
    n_truth = F.sum(F.when(F.col("is_true"), 1).otherwise(0))
    n_cand = F.sum(F.when(F.col("is_cand"), 1).otherwise(0))
    return scored.agg(
        n_truth.alias("n_truth"),
        n_cand.alias("n_cand"),
        tp.alias("tp"),
        F.sum(
            F.when(F.col("is_cand") & ~F.col("is_true"), 1).otherwise(0)
        ).alias("fp"),
        F.sum(
            F.when(F.col("is_true") & ~F.col("is_cand"), 1).otherwise(0)
        ).alias("fn"),
        quantize(tp * 1.0 / F.greatest(n_cand, F.lit(1)), 4).alias("prec"),
        quantize(tp * 1.0 / F.greatest(n_truth, F.lit(1)), 4).alias("recall"),
    )
