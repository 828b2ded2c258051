"""Round-6 batch 125: VaR backtesting, percolation support sweep,
length-debiased quality.

- `events_var_backtest_kupiec` — Kupiec proportion-of-failures test
  per event type: a P99 value threshold estimated on the FIRST half
  of the corpus, breach counts on the second half, and the
  likelihood-ratio test of whether the realized breach rate is
  consistent with 1%. The regulatory-grade backtest (Basel's own)
  that separates "the quantile model is fine" from "it just hasn't
  failed loudly yet"; pairs with `supplier_leadtime_cvar`.
- `graph_percolation_support_sweep` — co-purchase graph percolation:
  for min-support thresholds {1, 2, 3, 5}, edge/node counts and the
  giant-component share after the standard 3 min-label rounds. The
  tuning curve for every graph-family query's support knob: too low
  = one hairball, too high = confetti; the sweep shows where the
  giant component collapses.
- `documents_quality_length_residual` — length-debiased quality: OLS
  of quality score on ln(length), per-source mean residual. Quality
  classifiers are notoriously length-confounded; the residual is
  the signal curation should rank by, and a source whose residual
  mean is negative is only "high quality" because it is long.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.functions import copurchase
from arkflow_spark.queries.base import quantize, query
from arkflow_spark.queries.analytics43_q import _lp_round_sql
from arkflow_spark.tables import load


# ------------------------------------------------ Kupiec backtest

_VB_Q = 0.99


@query(
    "events_var_backtest_kupiec",
    oracle=f"""
    WITH split AS (
      SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid
      FROM events
    ),
    var_est AS (
      SELECT event_type, quantile_cont(value, {_VB_Q}) AS var99
      FROM events CROSS JOIN split
      WHERE epoch_us(ts) < mid AND value IS NOT NULL
      GROUP BY event_type
    ),
    test AS (
      SELECT e.event_type, v.var99,
             COUNT(*) AS n,
             COUNT(*) FILTER (e.value > v.var99) AS x
      FROM events e CROSS JOIN split
      JOIN var_est v ON v.event_type = e.event_type
      WHERE epoch_us(e.ts) >= mid AND e.value IS NOT NULL
      GROUP BY e.event_type, v.var99
    ),
    lr AS (
      SELECT event_type, var99, n, x,
             x * 1.0 / n AS rate,
             CASE WHEN x > 0 AND x < n THEN
               -2 * ((n - x) * ln((1 - {1 - _VB_Q:.2f}) / (1 - x * 1.0 / n))
                     + x * ln({1 - _VB_Q:.2f} / (x * 1.0 / n)))
             WHEN x = 0 THEN
               -2 * (n * ln(1 - {1 - _VB_Q:.2f}))
             END AS lr_pof
      FROM test
    )
    SELECT event_type,
           floor(var99 * 10000 + 0.5) / 10000 AS var99,
           CAST(n AS BIGINT) AS n_oos,
           CAST(x AS BIGINT) AS n_breaches,
           floor(rate * 1000000 + 0.5) / 1000000 AS breach_rate,
           floor(lr_pof * 10000 + 0.5) / 10000 AS kupiec_lr,
           lr_pof > 3.841459 AS reject_05
    FROM lr ORDER BY event_type
    """,
)
def events_var_backtest_kupiec(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kupiec POF backtest per event type: the in-sample P{q:.0%} value
    threshold (first half by time, exact distributed percentile),
    out-of-sample breach counts, and the likelihood ratio
    -2 ln[ L(p0) / L(p-hat) ] against chi-square(1). Rejection means
    the quantile estimate does NOT transfer across time — the model
    risk check that should gate any threshold promoted from a
    backfill into an alerting rule.

    Scale shape: one min/max scalar broadcast, one exact percentile
    aggregate on the first half, one counting pass on the second,
    type-bounded output.
    """.format(q=_VB_Q)
    e = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))
    split = e.agg(
        ((F.min(us("ts")) + F.max(us("ts"))) / 2)
        .cast("bigint")
        .alias("mid")
    )
    first = e.crossJoin(F.broadcast(split)).filter(
        us("ts") < F.col("mid")
    )
    var_est = first.groupBy("event_type").agg(
        F.percentile("value", F.lit(_VB_Q)).alias("var99")
    )
    second = (
        e.crossJoin(F.broadcast(split))
        .filter(us("ts") >= F.col("mid"))
        .join(F.broadcast(var_est), "event_type")
    )
    test = second.groupBy("event_type", "var99").agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("value") > F.col("var99"), 1)).alias("x"),
    )
    p0 = 1 - _VB_Q
    n, x = F.col("n"), F.col("x")
    rate = x * 1.0 / n
    lr = (
        F.when(
            (x > 0) & (x < n),
            -2
            * (
                (n - x) * F.log((1 - p0) / (1 - rate))
                + x * F.log(p0 / rate)
            ),
        )
        .when(x == 0, -2 * (n * F.log(F.lit(1 - p0))))
    )
    return test.select(
        "event_type",
        quantize(F.col("var99"), 4).alias("var99"),
        n.cast("bigint").alias("n_oos"),
        x.cast("bigint").alias("n_breaches"),
        quantize(rate, 6).alias("breach_rate"),
        quantize(lr, 4).alias("kupiec_lr"),
        (lr > 3.841459).alias("reject_05"),
    ).orderBy("event_type")


# ------------------------------------------------ percolation sweep

_PC_SUPPORTS = (1, 2, 3, 5)
_PC_ROUNDS = 3


def _pc_oracle() -> str:
    blocks = []
    for s in _PC_SUPPORTS:
        rounds = ",".join(
            _lp_round_sql(f"lp{r}", r + 1) for r in range(_PC_ROUNDS)
        )
        blocks.append(f"""
    sel{s} AS (
      WITH edges AS (
        SELECT u, v FROM pair WHERE n >= {s}
      ),
      und AS (
        SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
      ),
      nodes AS (SELECT DISTINCT u FROM und),
      lp0 AS (SELECT u, u AS lbl FROM nodes),
      {rounds},
      comp AS (
        SELECT lbl, COUNT(*) AS sz FROM lp{_PC_ROUNDS} GROUP BY lbl
      )
      SELECT {s} AS min_support,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS n_nodes,
             CAST(MAX(sz) AS BIGINT) AS giant_size,
             floor(MAX(sz) * 1.0 / (SELECT COUNT(*) FROM nodes)
                   * 10000 + 0.5) / 10000 AS giant_share
      FROM comp
    )""")
    sels = ",".join(blocks)
    union = "\n    UNION ALL\n    ".join(
        f"SELECT * FROM sel{s}" for s in _PC_SUPPORTS
    )
    return f"""
    WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pair AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS n
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    {sels}
    {union}
    ORDER BY min_support
    """


@query("graph_percolation_support_sweep", oracle=_pc_oracle())
def graph_percolation_support_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Percolation curve of the co-purchase graph: for each
    min-support threshold in {ss}, edges, nodes, and the giant
    component's share of nodes after {r} unrolled min-label rounds
    (the bounded-round discipline — labels approximate components
    identically in both engines). The support knob every
    graph-family query hardcodes, read off the data: the threshold
    where giant_share collapses is where the graph stops being one
    market and becomes islands.

    Scale shape (r7): each threshold's labels come from the
    MATERIALIZED component-labels index
    (`functions/graph_labels.component_labels`, keyed by (sf_dir,
    support, rounds) and shared with the label-prop / modularity /
    histogram / weak-tie consumers) — the sweep's marginal cost is
    four label rollups plus edge counts off the shared pair-count
    index, not four propagations.
    """.format(ss=_PC_SUPPORTS, r=_PC_ROUNDS)
    from arkflow_spark.functions.graph_labels import component_labels

    outs = []
    for s in _PC_SUPPORTS:
        lbl = component_labels(spark, sf_dir, s, _PC_ROUNDS)
        comp = lbl.groupBy("lbl").agg(F.count("*").alias("sz"))
        ecnt = copurchase.directed(spark, sf_dir, min_support=s).agg(
            F.count("*").alias("n_edges")
        )
        ncnt = lbl.agg(F.count("*").alias("n_nodes"))
        outs.append(
            comp.agg(F.max("sz").alias("giant_size"))
            .crossJoin(F.broadcast(ecnt))
            .crossJoin(F.broadcast(ncnt))
            .select(
                F.lit(s).alias("min_support"),
                F.col("n_edges").cast("bigint").alias("n_edges"),
                F.col("n_nodes").cast("bigint").alias("n_nodes"),
                F.col("giant_size").cast("bigint").alias("giant_size"),
                quantize(
                    F.col("giant_size") * 1.0 / F.col("n_nodes"), 4
                ).alias("giant_share"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("min_support")


# ------------------------------------------------ quality-length residual


@query(
    "documents_quality_length_residual",
    oracle=r"""
    WITH feats AS (
      SELECT doc_id, source,
             CAST(len(list_distinct(regexp_split_to_array(
                    lower(trim(text)), '\s+'))) AS DOUBLE)
               / greatest(len(regexp_split_to_array(
                    lower(trim(text)), '\s+')), 1) AS quality,
             ln(greatest(n_chars, 1)) AS ll
      FROM documents
    ),
    mom AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(ll AS DECIMAL(28,12))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(quality AS DECIMAL(28,12))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(ll * quality AS DECIMAL(28,12))) AS DOUBLE)
               AS sxy,
             CAST(SUM(CAST(ll * ll AS DECIMAL(28,12))) AS DOUBLE) AS sxx
      FROM feats
    ),
    fit AS (
      SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS beta,
             sy / n - (n * sxy - sx * sy) / (n * sxx - sx * sx)
               * sx / n AS alpha
      FROM mom
    ),
    resid AS (
      SELECT f.source,
             CAST(f.quality - (fit.alpha + fit.beta * f.ll)
                  AS DECIMAL(28,12)) AS r
      FROM feats f CROSS JOIN fit
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           floor(CAST(SUM(r) AS DOUBLE) / COUNT(*) * 1000000 + 0.5)
             / 1000000 AS mean_residual,
           CAST(SUM(r) AS DOUBLE) / COUNT(*) < -0.01
             AS length_inflated
    FROM resid GROUP BY source ORDER BY source
    """,
)
def documents_quality_length_residual(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Length-debiased quality per source: OLS of a quality proxy
    (distinct-word ratio) on ln(chars) over the whole corpus, then
    per-source mean residual. A source with a NEGATIVE mean residual
    scores above average on raw quality only because its documents
    are long — the length confound that quality-classifier gates
    inherit unless debiased ('length_inflated' flags it). The
    corpus-level sibling of `ann_retrieval_length_bias`.

    Scale shape: one feature scan, exact-moment OLS (two broadcast
    scalars), one residual rollup per source.
    """
    d = load(spark, sf_dir, "documents")
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    feats = d.select(
        "source",
        (
            F.size(F.array_distinct(words)).cast("double")
            / F.greatest(F.size(words), F.lit(1))
        ).alias("quality"),
        F.log(F.greatest(F.col("n_chars"), F.lit(1))).alias("ll"),
    )
    dec = lambda c: F.sum(c.cast("decimal(28,12)")).cast("double")
    mom = feats.agg(
        F.count("*").alias("n"),
        dec(F.col("ll")).alias("sx"),
        dec(F.col("quality")).alias("sy"),
        dec(F.col("ll") * F.col("quality")).alias("sxy"),
        dec(F.col("ll") * F.col("ll")).alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (
        F.col("n"), F.col("sx"), F.col("sy"), F.col("sxy"), F.col("sxx")
    )
    beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    fit = mom.select(
        beta.alias("beta"), (sy / n - beta * sx / n).alias("alpha")
    )
    resid = feats.crossJoin(F.broadcast(fit)).select(
        "source",
        (
            F.col("quality")
            - (F.col("alpha") + F.col("beta") * F.col("ll"))
        )
        .cast("decimal(28,12)")
        .alias("r"),
    )
    mr = F.sum("r").cast("double") / F.count("*")
    return (
        resid.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            quantize(mr, 6).alias(
                "mean_residual"
            ),
            (mr < -0.01).alias("length_inflated"),
        )
        .orderBy("source")
    )
