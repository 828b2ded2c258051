"""Round-7 batch 133: minute-granularity availability, lead-time
process capability, min/max pruning simulation.

- `events_error_minute_availability` — SRE availability per calendar
  month at minute granularity: a minute is DOWN if it contains at
  least one error event; availability = 1 - down_minutes /
  calendar_minutes. The denominator is the calendar, not the event
  stream, so quiet months read 100% instead of NaN. Pure rollups — no
  sessionization state, no windows — which is exactly why minute
  buckets are the metric ops teams can compute at any scale.
- `supplier_leadtime_cpk` — process capability (Cp / Cpk) of
  order-to-ship lead days per supplier against spec limits
  [{lsl}, {usl}]: Cp = (USL-LSL)/6s, Cpk = min(USL-mean, mean-LSL)/3s,
  plus the out-of-spec share. The SPC complement to
  `events_spc_xmr_chart`: capability indices judge the PROCESS against
  tolerance, not just its stability.
- `lineitem_minmax_pruning_sim` — storage-layout what-if: simulate
  parquet row-group min/max pruning for ship-date predicates under
  (a) the natural orderkey-clustered ingest layout and (b) a
  time-sorted layout (month row groups). Reports the prunable
  row-group share per predicate per layout — the number that decides
  whether a 100 TB table is worth re-clustering before the next
  thousand scans.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ---------------------------------------------- minute availability


@query(
    "events_error_minute_availability",
    oracle="""
    WITH months AS (
      SELECT DISTINCT date_trunc('month', ts) AS month FROM events
    ),
    err_min AS (
      SELECT DISTINCT date_trunc('month', ts) AS month,
             date_trunc('minute', ts) AS minute
      FROM events WHERE event_type = 'error'
    ),
    down AS (
      SELECT month, CAST(COUNT(*) AS BIGINT) AS down_minutes
      FROM err_min GROUP BY 1
    )
    SELECT CAST(m.month AS DATE) AS month,
           COALESCE(d.down_minutes, 0) AS down_minutes,
           CAST(date_diff('day', m.month,
                          m.month + INTERVAL 1 MONTH) * 1440 AS BIGINT)
             AS month_minutes,
           floor((1.0 - COALESCE(d.down_minutes, 0) * 1.0
                  / (date_diff('day', m.month,
                               m.month + INTERVAL 1 MONTH) * 1440))
                 * 1000000 + 0.5) / 1000000 AS availability
    FROM months m LEFT JOIN down d ON d.month = m.month
    ORDER BY month
    """,
)
def events_error_minute_availability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Monthly minute-granularity availability: down minutes (>= 1
    error event in the minute) over calendar minutes, for every month
    the stream covers. 99.9% = ~43 down-minutes in a 30-day month —
    the error-budget currency `events_error_budget_burn` spends.

    Scale shape: one distinct over (month, minute) on the
    error-filtered scan (pushed predicate) plus one unfiltered scan
    for the month calendar (recompute_audit: deliberate — quiet
    months must appear, and the calendar scan projects a single
    column), one month rollup — no windows, no state, no
    sessionization; minute bucketing is what keeps the audit one
    groupBy at any corpus size.
    """
    e = load(spark, sf_dir, "events")
    months = e.select(
        F.date_trunc("month", F.col("ts")).alias("month")
    ).distinct()
    err_min = (
        e.filter(F.col("event_type") == "error")
        .select(
            F.date_trunc("month", F.col("ts")).alias("month"),
            F.date_trunc("minute", F.col("ts")).alias("minute"),
        )
        .distinct()
    )
    down = err_min.groupBy("month").agg(
        F.count("*").cast("bigint").alias("down_minutes")
    )
    month_minutes = (
        F.datediff(F.add_months(F.col("month"), 1), F.col("month")) * 1440
    ).cast("bigint")
    return (
        months.join(down, "month", "left")
        .select(
            F.col("month").cast("date").alias("month"),
            F.coalesce("down_minutes", F.lit(0)).alias("down_minutes"),
            month_minutes.alias("month_minutes"),
            quantize(
                1.0
                - F.coalesce("down_minutes", F.lit(0))
                * 1.0
                / month_minutes, 6
            ).alias("availability"),
        )
        .orderBy("month")
    )


# ---------------------------------------------- lead-time Cp / Cpk

_CPK_LSL = 7
_CPK_USL = 90
_CPK_TOP = 15


@query(
    "supplier_leadtime_cpk",
    oracle=f"""
    WITH lead AS (
      SELECT l.l_suppkey,
             CAST(date_diff('day', o.o_orderdate, l.l_shipdate)
                  AS BIGINT) AS d
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    st AS (
      SELECT l_suppkey,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(d) AS DOUBLE) / COUNT(*) AS mu,
             (SUM(CAST(d AS DOUBLE) * d)
              - SUM(CAST(d AS DOUBLE)) * SUM(CAST(d AS DOUBLE))
                / COUNT(*)) / (COUNT(*) - 1) AS var,
             SUM(CASE WHEN d < {_CPK_LSL} OR d > {_CPK_USL}
                 THEN 1 ELSE 0 END) AS oos
      FROM lead GROUP BY 1 HAVING COUNT(*) > 1
    )
    SELECT l_suppkey AS suppkey, n,
           floor(mu * 10000 + 0.5) / 10000 AS mean_days,
           floor(sqrt(var) * 10000 + 0.5) / 10000 AS std_days,
           floor(({_CPK_USL} - {_CPK_LSL}) / (6 * sqrt(var))
                 * 10000 + 0.5) / 10000 AS cp,
           floor(LEAST({_CPK_USL} - mu, mu - {_CPK_LSL})
                 / (3 * sqrt(var)) * 10000 + 0.5) / 10000 AS cpk,
           floor(oos * 1.0 / n * 10000 + 0.5) / 10000
             AS out_of_spec_share
    FROM st
    ORDER BY n DESC, suppkey
    LIMIT {_CPK_TOP}
    """,
)
def supplier_leadtime_cpk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cp/Cpk of order-to-ship lead days per supplier against the
    [{lsl}, {usl}]-day spec window, with the realized out-of-spec
    share, for the top {t} suppliers by shipment count. Cpk << Cp =
    the process is off-center, not just wide; Cpk >= 1.33 is the
    classic capable-process bar.

    Scale shape: lead days are exact integer date arithmetic (orders
    joins on the order key); the
    two moments come from one supplier-keyed rollup with exact integer
    sums (variance via the two-term identity); top-{t} is
    TakeOrderedAndProject.
    """.format(lsl=_CPK_LSL, usl=_CPK_USL, t=_CPK_TOP)
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    lead = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_suppkey",
        F.datediff("l_shipdate", "o_orderdate")
        .cast("bigint")
        .alias("d"),
    )
    st = (
        lead.groupBy("l_suppkey")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("d").alias("sd"),
            F.sum(F.col("d") * F.col("d")).alias("sd2"),
            F.sum(
                F.when(
                    (F.col("d") < _CPK_LSL) | (F.col("d") > _CPK_USL), 1
                ).otherwise(0)
            ).alias("oos"),
        )
        .filter(F.col("n") > 1)
    )
    mu = F.col("sd").cast("double") / F.col("n")
    var = (
        F.col("sd2").cast("double")
        - F.col("sd").cast("double") * F.col("sd") / F.col("n")
    ) / (F.col("n") - 1)
    sig = F.sqrt(var)
    return (
        st.select(
            F.col("l_suppkey").alias("suppkey"),
            "n",
            quantize(mu, 4).alias("mean_days"),
            quantize(sig, 4).alias("std_days"),
            quantize((_CPK_USL - _CPK_LSL) / (6 * sig), 4).alias("cp"),
            quantize(
                F.least(_CPK_USL - mu, mu - F.lit(_CPK_LSL)) / (3 * sig), 4
            ).alias("cpk"),
            quantize(F.col("oos") * 1.0 / F.col("n"), 4).alias(
                "out_of_spec_share"
            ),
        )
        .orderBy(F.desc("n"), "suppkey")
        .limit(_CPK_TOP)
    )


# ---------------------------------------------- min/max pruning sim

_RG_ORDERKEYS = 4096  # orderkeys per simulated row group (ingest layout)
_PRUNE_PREDICATES = (
    ("q1_1994", "1994-01-01", "1994-04-01"),
    ("q3_1995", "1995-07-01", "1995-10-01"),
    ("y_1997", "1997-01-01", "1998-01-01"),
    ("m_1996_03", "1996-03-01", "1996-04-01"),
)


def _pruning_oracle() -> str:
    pred_rows = ", ".join(
        f"('{name}', DATE '{lo}', DATE '{hi}')"
        for name, lo, hi in _PRUNE_PREDICATES
    )
    return f"""
    WITH rg_ingest AS (
      SELECT CAST(l_orderkey // {_RG_ORDERKEYS} AS BIGINT) AS rg,
             MIN(l_shipdate) AS lo, MAX(l_shipdate) AS hi
      FROM lineitem GROUP BY 1
    ),
    rg_sorted AS (
      SELECT date_trunc('month', l_shipdate) AS rg,
             MIN(l_shipdate) AS lo, MAX(l_shipdate) AS hi
      FROM lineitem GROUP BY 1
    ),
    preds(pred, p_lo, p_hi) AS (VALUES {pred_rows}),
    sim AS (
      SELECT 'ingest_orderkey' AS layout, p.pred,
             CAST(COUNT(*) AS BIGINT) AS n_rowgroups,
             CAST(SUM(CASE WHEN r.hi < p.p_lo OR r.lo >= p.p_hi
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned
      FROM rg_ingest r CROSS JOIN preds p GROUP BY 1, 2
      UNION ALL
      SELECT 'sorted_shipdate' AS layout, p.pred,
             CAST(COUNT(*) AS BIGINT) AS n_rowgroups,
             CAST(SUM(CASE WHEN r.hi < p.p_lo OR r.lo >= p.p_hi
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned
      FROM rg_sorted r CROSS JOIN preds p GROUP BY 1, 2
    )
    SELECT layout, pred, n_rowgroups, n_pruned,
           floor(n_pruned * 1.0 / n_rowgroups * 10000 + 0.5) / 10000
             AS pruned_share
    FROM sim ORDER BY layout, pred
    """


@query("lineitem_minmax_pruning_sim", oracle=_pruning_oracle())
def lineitem_minmax_pruning_sim(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Row-group min/max pruning what-if for ship-date range
    predicates: the natural orderkey-clustered ingest layout (row
    group = {k} orderkeys; ship dates spread, min/max spans wide, so
    little prunes) vs a ship-date-sorted layout (row group = month;
    almost everything outside the predicate prunes). The
    pruned-row-group share per predicate is the scan-cost ratio a
    re-cluster would buy — at 100 TB this is the difference between
    reading 400 GB and 40 TB for a one-quarter query.

    Scale shape: two rollup passes, each its own 2-column pushed
    parquet scan (recompute_audit: the double scan is DELIBERATE —
    the two layouts group at different grains, and two narrow
    column-pruned scans beat materializing a projection cache at
    corpus scale), a broadcast predicate grid, and a cells-bounded
    summary. The simulation mirrors exactly what parquet footer
    min/max statistics do at scan time.
    """.format(k=_RG_ORDERKEYS)
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    rg_ingest = li.groupBy(
        (F.col("l_orderkey") / _RG_ORDERKEYS)
        .cast("bigint")
        .alias("rg")
    ).agg(
        F.min("l_shipdate").alias("lo"), F.max("l_shipdate").alias("hi")
    )
    rg_sorted = li.groupBy(
        F.date_trunc("month", F.col("l_shipdate")).alias("rg")
    ).agg(
        F.min("l_shipdate").alias("lo"), F.max("l_shipdate").alias("hi")
    )
    preds = spark.createDataFrame(
        [(n, lo, hi) for n, lo, hi in _PRUNE_PREDICATES],
        "pred string, p_lo string, p_hi string",
    ).select(
        "pred",
        F.col("p_lo").cast("date").alias("p_lo"),
        F.col("p_hi").cast("date").alias("p_hi"),
    )
    pruned = F.sum(
        F.when(
            (F.col("hi") < F.col("p_lo")) | (F.col("lo") >= F.col("p_hi")),
            1,
        ).otherwise(0)
    ).cast("bigint")

    def sim(rg_df, layout):
        return (
            rg_df.crossJoin(F.broadcast(preds))
            .groupBy("pred")
            .agg(
                F.count("*").cast("bigint").alias("n_rowgroups"),
                pruned.alias("n_pruned"),
            )
            .select(
                F.lit(layout).alias("layout"),
                "pred",
                "n_rowgroups",
                "n_pruned",
                quantize(
                    F.col("n_pruned") * 1.0 / F.col("n_rowgroups"), 4
                ).alias("pruned_share"),
            )
        )

    return (
        sim(rg_ingest, "ingest_orderkey")
        .unionByName(sim(rg_sorted, "sorted_shipdate"))
        .orderBy("layout", "pred")
    )
