"""Round-4 batch 36: IVF-PQ search, two-sample KS test, Mann-Whitney U,
SCD2 point-in-time join.

- `ann_ivf_pq_search` — the IVF+PQ composition every production vector
  index runs (FAISS's IndexIVFPQ shape): the coarse quantizer prunes the
  corpus to the query's bucket, and candidates inside the bucket are
  scored by PQ asymmetric distance (M byte-code lookups) instead of the
  full 64-dim dot. Completes the `ann_ivf_search` (prune, exact score)
  and `ann_pq_topk` (no prune, ADC score) pair.
- `events_ks_test` — two-sample Kolmogorov-Smirnov per event stream
  between the even- and odd-user cohorts: the distribution-level A/B
  readout that catches shape changes `events_welch_ttest`'s mean
  comparison misses.
- `events_mann_whitney` — the rank-sum U test with midranks and the
  tie-corrected normal approximation: the non-parametric location test
  for skewed metrics (latency, revenue) where the t-test's normality
  assumption fails.
- `lineitem_scd2_pit_revenue` — the point-in-time join against an SCD2
  dimension: each shipment is attributed to the customer status VALID AT
  SHIP TIME (not today's status) — the lookback-bias-free join every
  feature-store and financial-reporting pipeline needs. Builds on
  `orders_scd2_history`'s interval dimension.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.

Determinism notes: KS's D-statistic numerator is the integer
max |ca*nb - cb*na| (exact, order-free); Mann-Whitney rank sums are
half-integers accumulated as DECIMAL(18,1); ADC sums are DECIMAL(20,10)
folds of bit-identical left-associated subvector distances (pq_q).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import QUERIES, o_dsum, dsum, quantize, query
from arkflow_spark.queries.pq_q import K, SUB, _d2, _subspaces
from arkflow_spark.tables import load

N_QUERIES = 5   # matches vector_q / pq_q query split
PQ_TOP_K = 5    # matches ann_ivf_search's per-bucket top-k


# ---------------------------------------------------------- IVF-PQ search


@query(
    "ann_ivf_pq_search",
    oracle=f"""
    WITH x AS (
      SELECT vec_id, label, (g.i - 1) // {SUB} AS s, g.i AS i,
             CAST(embedding[g.i] AS DOUBLE) AS v
      FROM embeddings CROSS JOIN generate_series(1, 64) g(i)
      WHERE g.i <= len(embedding)
    ),
    nrm AS (SELECT vec_id, sqrt(SUM(v * v)) AS nrm FROM x GROUP BY vec_id),
    cent AS (
      SELECT label, i,
             CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cv
      FROM x GROUP BY label, i
    ),
    cnrm AS (SELECT label, sqrt(SUM(cv * cv)) AS cn FROM cent GROUP BY label),
    cdots AS (
      SELECT x.vec_id, c.label AS cand_label, SUM(x.v * c.cv) AS dot
      FROM x JOIN cent c ON c.i = x.i
      GROUP BY 1, 2
    ),
    buck AS (
      SELECT vec_id, cand_label AS bucket
      FROM (
        SELECT cdots.vec_id, cand_label,
               row_number() OVER (PARTITION BY cdots.vec_id
                 ORDER BY dot / (n.nrm * cn.cn) DESC, cand_label) AS rnk
        FROM cdots
        JOIN nrm n ON n.vec_id = cdots.vec_id
        JOIN cnrm cn ON cn.label = cand_label
      ) WHERE rnk = 1
    ),
    cb AS (SELECT vec_id AS code, s, i, v FROM x WHERE vec_id < {K}),
    d AS (  -- left-fold double d2, bit-identical to Spark's F.aggregate
      SELECT c.vec_id, b.s, b.code,
             list_reduce(list((c.v - b.v) * (c.v - b.v) ORDER BY c.i),
                         (acc, t) -> acc + t) AS d2
      FROM x c JOIN cb b ON c.i = b.i
      GROUP BY 1, 2, 3
    ),
    passign AS (
      SELECT vec_id AS cand_id, s, code FROM (
        SELECT vec_id, s, code,
               row_number() OVER (PARTITION BY vec_id, s
                                  ORDER BY d2, code) AS rn
        FROM d
      ) WHERE rn = 1
    ),
    adc AS (
      SELECT q.vec_id AS query_id, a.cand_id,
             SUM(CAST(q.d2 AS DECIMAL(20,10))) AS ad2
      FROM passign a
      JOIN buck ca ON ca.vec_id = a.cand_id
      JOIN d q ON q.s = a.s AND q.code = a.code
      JOIN buck qa ON qa.vec_id = q.vec_id AND qa.bucket = ca.bucket
      WHERE q.vec_id < {N_QUERIES} AND a.cand_id <> q.vec_id
      GROUP BY 1, 2
    )
    -- round the exact DECIMAL then cast (see pq_q: double-then-round
    -- flips on .5-at-6dp boundaries)
    SELECT query_id, cand_id,
           CAST(ROUND(ad2, 6) AS DOUBLE) AS approx_d2, rnk
    FROM (
      SELECT query_id, cand_id, ad2,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY ad2, cand_id) AS rnk
      FROM adc
    )
    WHERE rnk <= {PQ_TOP_K}
    ORDER BY query_id, rnk
    """,
)
def ann_ivf_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: prune to the query's coarse bucket, then rank by PQ/ADC.

    Scale shape (100 TB): the coarse assignment is the stored index (a
    bucket-partitioned table, built once by `ann_ivf_assign`); PQ codes
    are M=4 small ints per vector (64x smaller than raw embeddings), so
    the scan side of the probe reads codes + bucket only. The per-query
    ADC table (M*K=64 rows) and the query's bucket id broadcast; the
    probe is one broadcast join keyed (bucket, s, code) — candidates in
    other buckets never leave the scan. Exchanges: code argmin agg + ADC
    agg + final top-k, all map-side combinable or k-bounded.
    """
    e = load(spark, sf_dir, "embeddings")
    # coarse quantizer assignment — the IVF index (vec_id -> bucket)
    assigned = (
        QUERIES["ann_ivf_assign"](spark, sf_dir)
        .select("vec_id", F.col("assigned_label").alias("bucket"))
        .persist()
    )
    cb = _subspaces(e.filter(F.col("vec_id") < K), "code")

    # corpus -> PQ codes from the materialized code index (r8,
    # functions/pq.pq_codes), + bucket id
    from arkflow_spark.queries.pq_q import pq_codes

    codes = (
        pq_codes(spark, sf_dir)
        .select(F.col("vec_id").alias("cand_id"), "s", "code")
        .join(assigned.withColumnRenamed("vec_id", "cand_id"), "cand_id")
    )

    # query ADC tables + the query's own bucket (broadcast side)
    qd = (
        _subspaces(e.filter(F.col("vec_id") < N_QUERIES), "query_id")
        .join(F.broadcast(cb.withColumnRenamed("sub", "cb_sub")), "s")
        .select(
            "query_id",
            "s",
            "code",
            _d2(F.col("sub"), F.col("cb_sub")).alias("d2"),
        )
        .join(
            assigned.withColumnRenamed("vec_id", "query_id"), "query_id"
        )
    )

    adc = (
        codes.join(F.broadcast(qd), ["s", "code", "bucket"])
        .filter(F.col("cand_id") != F.col("query_id"))
        .groupBy("query_id", "cand_id")
        .agg(F.sum(F.col("d2").cast("decimal(20,10)")).alias("ad2"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("ad2"), F.asc("cand_id"))
    return (
        adc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= PQ_TOP_K)
        .select(
            "query_id",
            "cand_id",
            F.round(F.col("ad2"), 6).cast("double").alias("approx_d2"),
            "rnk",
        )
        .orderBy("query_id", "rnk")
    )


# --------------------------------------------- two-sample KS + rank tables


def _cohort_value_counts(e: DataFrame) -> DataFrame:
    """Per (event_type, value): total count + even-user-cohort count —
    the single shared aggregation both rank tests build on."""
    return e.groupBy("event_type", "value").agg(
        F.count("*").alias("cnt"),
        F.sum(
            F.when(F.col("user_id") % 2 == 0, 1).otherwise(0)
        ).alias("na_v"),
    )


_PER_SQL = """
      SELECT event_type, value, COUNT(*) AS cnt,
             SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS na_v
      FROM events GROUP BY 1, 2
"""


@query(
    "events_ks_test",
    oracle=f"""
    WITH per AS ({_PER_SQL}),
    cum AS (
      SELECT event_type, value,
             CAST(SUM(na_v) OVER (PARTITION BY event_type ORDER BY value
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ca,
             CAST(SUM(cnt - na_v) OVER (PARTITION BY event_type
               ORDER BY value ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cb
      FROM per
    ),
    tot AS (
      SELECT event_type, CAST(SUM(na_v) AS BIGINT) AS na,
             CAST(SUM(cnt - na_v) AS BIGINT) AS nb
      FROM per GROUP BY 1
    ),
    dnum AS (
      SELECT c.event_type, MAX(ABS(c.ca * t.nb - c.cb * t.na)) AS dn
      FROM cum c JOIN tot t USING (event_type) GROUP BY 1
    )
    SELECT t.event_type, t.na AS n_a, t.nb AS n_b,
           floor(CAST(dn AS DOUBLE) / (t.na * t.nb) * 10000 + 0.5) / 10000
             AS ks_d,
           floor(LEAST(1.0,
               2 * exp(-2 * (CAST(t.na AS DOUBLE) * t.nb / (t.na + t.nb))
                       * (CAST(dn AS DOUBLE) / (t.na * t.nb))
                       * (CAST(dn AS DOUBLE) / (t.na * t.nb))))
             * 10000 + 0.5) / 10000 AS p_approx
    FROM dnum JOIN tot t USING (event_type)
    WHERE t.na > 0 AND t.nb > 0
    ORDER BY t.event_type
    """,
)
def events_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov per event stream, even- vs odd-user
    cohorts: D = max |F_A(x) - F_B(x)| over the pooled support, with the
    one-term asymptotic p ~ 2*exp(-2*n_eff*D^2).

    Determinism: D's numerator is the INTEGER max|ca*nb - cb*na| over
    the cumulative cohort counts — exact and reduction-order-free; the
    division by na*nb happens once, after the max. (Int64 bound: safe to
    ~3e9 rows per stream-cohort; beyond that switch the numerator to
    double ECDF differences.)

    Scale shape: one (event_type, value) pre-aggregation (map-side
    combinable — ties collapse before any window), a per-stream sorted
    cumulative window, and a stream-keyed max; group totals re-join as a
    broadcast of one row per stream.
    """
    per = _cohort_value_counts(load(spark, sf_dir, "events"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = per.select(
        "event_type",
        F.sum("na_v").over(w).alias("ca"),
        F.sum(F.col("cnt") - F.col("na_v")).over(w).alias("cb"),
    )
    tot = per.groupBy("event_type").agg(
        F.sum("na_v").alias("na"),
        F.sum(F.col("cnt") - F.col("na_v")).alias("nb"),
    )
    dnum = (
        cum.join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(
            F.max(
                F.abs(
                    F.col("ca") * F.col("nb") - F.col("cb") * F.col("na")
                )
            ).alias("dn")
        )
    )
    ksd = F.col("dn").cast("double") / (F.col("na") * F.col("nb"))
    neff = F.col("na").cast("double") * F.col("nb") / (
        F.col("na") + F.col("nb")
    )
    return (
        dnum.join(F.broadcast(tot), "event_type")
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            "event_type",
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            quantize(ksd, 4).alias("ks_d"),
            quantize(
                F.least(F.lit(1.0), 2 * F.exp(-2 * neff * ksd * ksd)), 4
            ).alias("p_approx"),
        )
        .orderBy("event_type")
    )


@query(
    "events_mann_whitney",
    oracle=f"""
    WITH per AS ({_PER_SQL}),
    cum AS (
      SELECT event_type, cnt, na_v,
             CAST(COALESCE(SUM(cnt) OVER (PARTITION BY event_type
               ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cb_prev
      FROM per
    ),
    agg AS (
      SELECT event_type,
             CAST(SUM(CAST(na_v * (cb_prev + (cnt + 1) / 2.0)
                           AS DECIMAL(18,1))) AS DOUBLE) AS ra,
             CAST(SUM(na_v) AS BIGINT) AS na,
             CAST(SUM(cnt) AS BIGINT) AS n,
             CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS ties
      FROM cum GROUP BY 1
    )
    SELECT event_type, na AS n_a, n - na AS n_b,
           ra - na * (na + 1) / 2.0 AS u_stat,
           floor((ra - na * (na + 1) / 2.0
                  - CAST(na AS DOUBLE) * (n - na) / 2)
                 / NULLIF(sqrt(CAST(na AS DOUBLE) * (n - na) / 12
                               * ((n + 1)
                                  - CAST(ties AS DOUBLE)
                                    / (CAST(n AS DOUBLE) * (n - 1)))),
                          0)
                 * 10000 + 0.5) / 10000 AS z_stat
    FROM agg
    WHERE na > 0 AND n - na > 0
    ORDER BY event_type
    """,
)
def events_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U per event stream (even- vs odd-user cohorts) with
    midrank tie handling and the tie-corrected normal z.

    Midranks are half-integers (cum-before + (cnt+1)/2), so the rank sum
    accumulates EXACTLY as DECIMAL(18,1) — no reduction-order noise; the
    z-statistic is scalar double arithmetic over exact integer moments
    (mirrored expression trees), NULL when the tie-corrected variance is
    zero (all values identical).

    Scale shape: identical to the KS plan — one map-side-combinable
    value-collapse agg, one per-stream cumulative window, one final agg;
    no joins at all.
    """
    per = _cohort_value_counts(load(spark, sf_dir, "events"))
    wprev = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = per.select(
        "event_type",
        "cnt",
        "na_v",
        F.coalesce(F.sum("cnt").over(wprev), F.lit(0)).alias("cb_prev"),
    )
    agg = cum.groupBy("event_type").agg(
        F.sum(
            (
                F.col("na_v") * (F.col("cb_prev") + (F.col("cnt") + 1) / 2.0)
            ).cast("decimal(18,1)")
        )
        .cast("double")
        .alias("ra"),
        F.sum("na_v").alias("na"),
        F.sum("cnt").alias("n"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).alias("ties"),
    )
    na, n, ties = F.col("na"), F.col("n"), F.col("ties")
    nb = n - na
    u = F.col("ra") - na * (na + 1) / 2.0
    mu = na.cast("double") * nb / 2
    var = (
        na.cast("double")
        * nb
        / 12
        * ((n + 1) - ties.cast("double") / (n.cast("double") * (n - 1)))
    )
    return (
        agg.filter((na > 0) & (nb > 0))
        .select(
            "event_type",
            na.alias("n_a"),
            nb.alias("n_b"),
            u.alias("u_stat"),
            quantize(
                F.try_divide(u - mu, F.nullif(F.sqrt(var), F.lit(0.0))), 4
            ).alias("z_stat"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------- SCD2 point-in-time join


@query(
    "lineitem_scd2_pit_revenue",
    oracle=f"""
    WITH o AS (
      SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
             lag(o_orderstatus) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS prev
      FROM orders WHERE o_custkey < 100
    ),
    ch AS (
      SELECT o_custkey, o_orderstatus AS status, o_orderdate AS valid_from,
             o_orderkey
      FROM o WHERE prev IS NULL OR o_orderstatus <> prev
    ),
    dim AS (
      SELECT o_custkey, status, valid_from,
             lead(valid_from) OVER (PARTITION BY o_custkey
               ORDER BY valid_from, o_orderkey) AS valid_to
      FROM ch
    ),
    fact AS (
      SELECT o.o_custkey, l.l_shipdate,
             l.l_extendedprice * (1 - l.l_discount) AS rev
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_custkey < 100
    )
    SELECT d.status, COUNT(*) AS n_items,
           {o_dsum("f.rev", "revenue")}
    FROM fact f JOIN dim d
      ON d.o_custkey = f.o_custkey
     AND f.l_shipdate >= d.valid_from
     AND (d.valid_to IS NULL OR f.l_shipdate < d.valid_to)
    GROUP BY 1 ORDER BY 1
    """,
)
def lineitem_scd2_pit_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: shipment revenue attributed to the customer
    status that was VALID AT SHIP TIME, from the SCD2 interval dimension
    `orders_scd2_history` derives (half-open [valid_from, valid_to);
    equal-timestamp status flips tiebreak on o_orderkey, so degenerate
    zero-length intervals match nothing in both engines).

    Scale shape: the interval dimension is tiny (change rows only) and
    broadcast, so the PIT join is a broadcast hash join on custkey with
    the range predicate as a residual filter — the fact table never
    shuffles. At 100 TB with a large dimension, bucket both sides by the
    entity key; the interval probe stays per-key local either way
    because SCD2 intervals are disjoint per entity.
    """
    orders = load(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    wlag = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    ch = (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_orderstatus",
            "o_orderdate",
            F.lag("o_orderstatus").over(wlag).alias("prev"),
        )
        .filter(
            F.col("prev").isNull()
            | (F.col("o_orderstatus") != F.col("prev"))
        )
        .select(
            "o_custkey",
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderdate").alias("valid_from"),
            "o_orderkey",
        )
    )
    wlead = Window.partitionBy("o_custkey").orderBy(
        "valid_from", "o_orderkey"
    )
    dim = ch.select(
        "o_custkey",
        "status",
        "valid_from",
        F.lead("valid_from").over(wlead).alias("valid_to"),
    )
    fact = (
        load(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(orders.select("o_orderkey", "o_custkey")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "o_custkey",
            "l_shipdate",
            (
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("rev"),
        )
    )
    pit = fact.join(
        F.broadcast(dim),
        (fact["o_custkey"] == dim["o_custkey"])
        & (F.col("l_shipdate") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("l_shipdate") < F.col("valid_to"))),
    )
    return (
        pit.groupBy("status")
        .agg(F.count("*").alias("n_items"), dsum("rev", "revenue"))
        .orderBy("status")
    )
