"""Round-5 batch 77: sequence anomaly ranking, contingency residuals,
privacy risk audit.

- `events_rare_transition_surprise` — the rarest OBSERVED user-level
  event-type transitions, scored by corpus surprisal -ln p(next|cur)
  from the maximum-likelihood transition matrix. Ranks the "that
  should basically never happen" bigrams (purchase -> signup) that
  `events_markov_transitions`' full matrix buries in probability
  soup.
- `customer_segment_nation_residuals` — standardized Pearson
  residuals of the market-segment x nation contingency table: which
  CELLS drive the association, ranked by |residual|. The diagnostic
  step after `events_chi_square_independence` says "dependent" —
  a chi-square without residuals names no culprit.
- `events_k_anonymity_audit` — k-anonymity of the quasi-identifier
  tuple (stream, hour-of-day, value decile): group-size distribution,
  the minimum k, and the share of rows living in groups below k=5 —
  the re-identification risk screen a privacy review runs before any
  event-level data share (Sweeney 2002).

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ rare transitions

_RARE_TOP = 20


@query(
    "events_rare_transition_surprise",
    oracle=f"""
    WITH seq AS (
      SELECT event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    pairs AS (
      SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS c
      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
    ),
    outdeg AS (
      SELECT cur, CAST(SUM(c) AS BIGINT) AS tot FROM pairs GROUP BY cur
    )
    SELECT p.cur, p.nxt, p.c AS n_observed,
           floor(p.c * 1.0 / o.tot * 1000000 + 0.5) / 1000000 AS p_mle,
           floor(-ln(p.c * 1.0 / o.tot) * 10000 + 0.5) / 10000
             AS surprisal,
           CAST(floor(-ln(p.c * 1.0 / o.tot) * p.c * 100 + 0.5)
                AS BIGINT) AS total_surprise_x100
    FROM pairs p JOIN outdeg o USING (cur)
    ORDER BY surprisal DESC, p.cur, p.nxt
    LIMIT {_RARE_TOP}
    """,
)
def events_rare_transition_surprise(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rarest observed event-type transitions (per-user sequences):
    surprisal -ln p(next|cur) from the corpus ML transition matrix,
    top-{t} by surprisal with the observed count and the total
    surprise mass (count x surprisal). High-surprisal transitions with
    non-trivial counts are the workflow violations / bot signatures
    worth an alert rule.

    Scale shape: one keyed lead window builds the bigram stream; the
    transition matrix is stream-vocabulary-bounded (5x5 here); the
    head is ORDER BY + LIMIT.
    """.format(t=_RARE_TOP)
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    pairs = seq.groupBy("cur", "nxt").agg(
        F.count("*").cast("bigint").alias("c")
    )
    outdeg = pairs.groupBy("cur").agg(
        F.sum("c").cast("bigint").alias("tot")
    )
    p = F.col("c") * 1.0 / F.col("tot")
    return (
        pairs.join(F.broadcast(outdeg), "cur")
        .select(
            "cur",
            "nxt",
            F.col("c").alias("n_observed"),
            quantize(p, 6).alias("p_mle"),
            quantize(-F.log(p), 4).alias("surprisal"),
            F.floor(-F.log(p) * F.col("c") * 100 + 0.5)
            .cast("bigint")
            .alias("total_surprise_x100"),
        )
        .orderBy(F.col("surprisal").desc(), "cur", "nxt")
        .limit(_RARE_TOP)
    )


# ------------------------------------------------ contingency residuals


@query(
    "customer_segment_nation_residuals",
    oracle="""
    WITH obs AS (
      SELECT c_mktsegment AS seg, c_nationkey AS nat,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM customer GROUP BY 1, 2
    ),
    marg AS (
      SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs
    ),
    rows_m AS (
      SELECT seg, CAST(SUM(o) AS BIGINT) AS rs FROM obs GROUP BY seg
    ),
    cols_m AS (
      SELECT nat, CAST(SUM(o) AS BIGINT) AS cs FROM obs GROUP BY nat
    ),
    resid AS (
      SELECT o.seg, o.nat, o.o,
             r.rs * 1.0 * c.cs / m.n AS e,
             (o.o - r.rs * 1.0 * c.cs / m.n)
               / sqrt(r.rs * 1.0 * c.cs / m.n
                      * (1 - r.rs * 1.0 / m.n)
                      * (1 - c.cs * 1.0 / m.n)) AS z
      FROM obs o
      JOIN rows_m r USING (seg)
      JOIN cols_m c USING (nat)
      CROSS JOIN marg m
    )
    SELECT seg AS c_mktsegment, nat AS c_nationkey,
           o AS observed,
           floor(e * 10000 + 0.5) / 10000 AS expected,
           floor(z * 10000 + 0.5) / 10000 AS std_residual
    FROM resid
    ORDER BY abs(z) DESC, seg, nat
    LIMIT 15
    """,
)
def customer_segment_nation_residuals(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Standardized Pearson residuals of the market-segment x nation
    contingency table, top-15 by |residual|: z = (O - E) /
    sqrt(E (1 - r/n)(1 - c/n)). |z| > 2-3 names the specific
    (segment, nation) cells that are over/under-represented — the
    actionable layer a bare chi-square p-value omits.

    Scale shape: one rollup to the (segment x nation) panel (5 x 25 —
    category-vocabulary-bounded), marginals broadcast, closed-form
    residuals, ORDER BY + LIMIT head.
    """
    c = load(spark, sf_dir, "customer")
    obs = c.groupBy(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nat"),
    ).agg(F.count("*").cast("bigint").alias("o"))
    marg = obs.agg(F.sum("o").cast("bigint").alias("n"))
    rows_m = obs.groupBy("seg").agg(
        F.sum("o").cast("bigint").alias("rs")
    )
    cols_m = obs.groupBy("nat").agg(
        F.sum("o").cast("bigint").alias("cs")
    )
    joined = (
        obs.join(F.broadcast(rows_m), "seg")
        .join(F.broadcast(cols_m), "nat")
        .crossJoin(F.broadcast(marg))
    )
    e = F.col("rs") * 1.0 * F.col("cs") / F.col("n")
    z = (F.col("o") - e) / F.sqrt(
        e
        * (1 - F.col("rs") * 1.0 / F.col("n"))
        * (1 - F.col("cs") * 1.0 / F.col("n"))
    )
    return (
        joined.select(
            F.col("seg").alias("c_mktsegment"),
            F.col("nat").alias("c_nationkey"),
            F.col("o").alias("observed"),
            quantize(e, 4).alias("expected"),
            quantize(z, 4).alias("std_residual"),
        )
        .orderBy(
            F.abs(F.col("std_residual")).desc(),
            "c_mktsegment",
            "c_nationkey",
        )
        .limit(15)
    )


# ------------------------------------------------ k-anonymity audit

_K_THRESHOLD = 5


@query(
    "events_k_anonymity_audit",
    oracle=f"""
    WITH deciles AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) % 24
               AS hod,
             LEAST(CAST(floor(percent_rank() OVER (ORDER BY value,
                   event_id) * 10) AS BIGINT), 9) AS vdec
      FROM events
    ),
    groups AS (
      SELECT event_type, hod, vdec, CAST(COUNT(*) AS BIGINT) AS k
      FROM deciles GROUP BY 1, 2, 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_qi_groups,
           CAST(SUM(k) AS BIGINT) AS n_rows,
           CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(SUM(CASE WHEN k < {_K_THRESHOLD} THEN k ELSE 0 END)
                AS BIGINT) AS rows_below_k{_K_THRESHOLD},
           floor(SUM(CASE WHEN k < {_K_THRESHOLD} THEN k ELSE 0 END)
                 * 1.0 / SUM(k) * 10000 + 0.5) / 10000
             AS risk_share
    FROM groups
    """,
)
def events_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the quasi-identifier tuple (stream,
    hour-of-day, value decile): every row's QI group size k, the
    minimum k, and the share of rows in groups below k={k} — those
    rows are re-identifiable by anyone who knows a target's stream,
    hour, and rough amount. The go/no-go number for sharing
    event-level extracts.

    Scale shape: the value decile uses ONE global rank pass — here
    via percent_rank on the distributed-rank construction (see
    below); QI groups are category-bounded (streams x 24 x 10); the
    audit is a single aggregate over that bounded panel.
    """.format(k=_K_THRESHOLD)
    from arkflow_spark.functions.distributed_rank import (
        N,
        RN,
        percent_rank_of,
        with_global_order,
    )

    e = load(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        "event_id",
        "value",
        (
            F.floor(F.unix_micros(F.col("ts")) / 3600000000.0)
            .cast("bigint")
            % 24
        ).alias("hod"),
    )
    ranked = with_global_order(
        base, [F.asc("value"), F.asc("event_id")]
    )
    deciles = ranked.select(
        "event_type",
        "hod",
        F.least(
            F.floor(
                percent_rank_of(F.col(RN), F.col(N)) * 10
            ).cast("bigint"),
            F.lit(9),
        ).alias("vdec"),
    )
    groups = deciles.groupBy("event_type", "hod", "vdec").agg(
        F.count("*").cast("bigint").alias("k")
    )
    below = F.sum(
        F.when(F.col("k") < _K_THRESHOLD, F.col("k")).otherwise(0)
    ).cast("bigint")
    return groups.agg(
        F.count("*").cast("bigint").alias("n_qi_groups"),
        F.sum("k").cast("bigint").alias("n_rows"),
        F.min("k").cast("bigint").alias("min_k"),
        below.alias(f"rows_below_k{_K_THRESHOLD}"),
        quantize(
            below * 1.0 / F.sum("k"), 4
        ).alias("risk_share"),
    )
