"""Round-3 fourth-session batch 15: PSI drift monitoring, revenue
waterfall decomposition, and mix-shift analysis.

- `events_drift_psi` — Population Stability Index per stream between a
  baseline and a current period, over baseline-decile bins: THE
  model-monitoring drift metric (PSI > 0.2 = retrain). Bin edges are
  exact rank-selected order statistics (portable, no interpolation
  ambiguity), Laplace-smoothed shares keep ln finite.
- `lineitem_margin_waterfall` — the gross -> discount -> net -> tax ->
  billed revenue waterfall per year: every step an exact decimal sum
  (per-row DECIMAL(18,2) quantization, order-independent), emitted as
  ordered waterfall rows with running cumulative — the finance bridge
  chart query.
- `orders_mix_shift_decomposition` — why did the average move? The
  Laspeyres-style decomposition of an average's change into MIX effect
  (segment share shifts at old rates) and RATE effect (within-segment
  changes at new shares) — the root-cause query behind every "metric
  moved" investigation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# -------------------------------------------------- PSI drift

_PSI_CUTOVER = "2024-01-16"
_PSI_BINS = 10


@query(
    "events_drift_psi",
    oracle=f"""
    WITH base AS (
      SELECT event_type, value, event_id,
             ts >= TIMESTAMP '{_PSI_CUTOVER}' AS cur
      FROM events
    ),
    ranked AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM base WHERE NOT cur
    ),
    edges AS (
      SELECT r.event_type, k.k, r.value AS edge
      FROM ranked r
      JOIN (SELECT unnest(generate_series(1, {_PSI_BINS - 1})) AS k) k
        ON r.rn = CAST(ceil(k.k * r.n * 1.0 / {_PSI_BINS}) AS BIGINT)
    ),
    binned AS (
      SELECT b.event_type, b.cur,
             SUM(CASE WHEN b.value > e.edge THEN 1 ELSE 0 END) AS bin
      FROM base b JOIN edges e ON e.event_type = b.event_type
      GROUP BY b.event_type, b.cur, b.value, b.event_id
    ),
    counts AS (
      SELECT event_type, bin,
             SUM(CASE WHEN NOT cur THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN cur THEN 1 ELSE 0 END) AS c2
      FROM binned GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, SUM(c1) AS n1, SUM(c2) AS n2
      FROM counts GROUP BY event_type
    ),
    shares AS (
      SELECT c.event_type, c.bin,
             (c.c1 + 1.0) / (t.n1 + {_PSI_BINS}) AS p1,
             (c.c2 + 1.0) / (t.n2 + {_PSI_BINS}) AS p2
      FROM counts c JOIN tot t ON t.event_type = c.event_type
    )
    SELECT event_type,
           COUNT(*) AS n_bins,
           floor(SUM((p2 - p1) * ln(p2 / p1)) * 10000 + 0.5) / 10000
             AS psi,
           SUM((p2 - p1) * ln(p2 / p1)) > 0.2 AS drifted
    FROM shares
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per stream: decile bins from the
    BASELINE period's exact rank-selected order statistics (the
    portable quantile selection of `events_ddsketch_quantile`), both
    periods binned against those edges, Laplace-smoothed shares
    ((c+1)/(n+bins) — a current-period bin may be empty), and
    PSI = sum((p2-p1) ln(p2/p1)) with the standard 0.2 retrain
    threshold — the feature-drift monitor every deployed model runs
    (`events_anomaly_zscore` watches points; PSI watches the whole
    DISTRIBUTION).

    Scale: edges are 9 rows per key (broadcast); binning is a narrow
    comparison-count against broadcast edges; the PSI reduction is
    bins-bounded. Nothing re-sorts the current period.
    """
    e = load(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        "value",
        "event_id",
        (F.col("ts") >= F.lit(_PSI_CUTOVER).cast("timestamp")).alias(
            "cur"
        ),
    )
    w_r = Window.partitionBy("event_type").orderBy("value", "event_id")
    w_n = Window.partitionBy("event_type")
    ranked = (
        base.filter(~F.col("cur"))
        .select(
            "event_type",
            "value",
            F.row_number().over(w_r).alias("rn"),
            F.count("*").over(
                w_n.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("n"),
        )
    )
    ks = spark.range(1, _PSI_BINS).select(F.col("id").alias("k"))
    edges = ranked.join(
        F.broadcast(ks),
        F.col("rn")
        == F.ceil(F.col("k") * F.col("n") * 1.0 / _PSI_BINS),
    ).select("event_type", "k", F.col("value").alias("edge"))
    binned = (
        base.join(F.broadcast(edges), "event_type")
        .groupBy("event_type", "cur", "value", "event_id")
        .agg(
            F.sum(
                F.when(F.col("value") > F.col("edge"), 1).otherwise(0)
            ).alias("bin")
        )
    )
    counts = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(~F.col("cur"), 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("cur"), 1).otherwise(0)).alias("c2"),
    )
    tot = counts.groupBy("event_type").agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    )
    shares = counts.join(F.broadcast(tot), "event_type").select(
        "event_type",
        ((F.col("c1") + 1.0) / (F.col("n1") + _PSI_BINS)).alias("p1"),
        ((F.col("c2") + 1.0) / (F.col("n2") + _PSI_BINS)).alias("p2"),
    )
    psi = F.sum(
        (F.col("p2") - F.col("p1")) * F.log(F.col("p2") / F.col("p1"))
    )
    return (
        shares.groupBy("event_type")
        .agg(
            F.count("*").alias("n_bins"),
            quantize(psi, 4).alias("psi"),
            (psi > 0.2).alias("drifted"),
        )
        .orderBy("event_type")
    )


# -------------------------------------------------- margin waterfall


@query(
    "lineitem_margin_waterfall",
    oracle="""
    WITH m AS (
      SELECT year(l_shipdate) AS yr,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS gross,
             -- explicit floor(+0.5) quantization BEFORE the decimal
             -- cast: engines disagree on double->decimal ties, floor
             -- of the identical double never does
             SUM(CAST(floor(l_extendedprice * l_discount * 10000 + 0.5)
                      / 10000 AS DECIMAL(18,4))) AS discount_amt,
             SUM(CAST(floor(l_extendedprice * (1 - l_discount) * l_tax
                            * 10000 + 0.5) / 10000 AS DECIMAL(18,4)))
               AS tax_amt
      FROM lineitem GROUP BY 1
    )
    SELECT yr, step, step_no, amount,
           SUM(amount) OVER (PARTITION BY yr ORDER BY step_no) AS running
    FROM (
      SELECT yr, 'gross' AS step, 1 AS step_no,
             CAST(gross AS DOUBLE) AS amount FROM m
      UNION ALL
      SELECT yr, 'discount', 2, -CAST(discount_amt AS DOUBLE) FROM m
      UNION ALL
      SELECT yr, 'tax', 3, CAST(tax_amt AS DOUBLE) FROM m
    )
    ORDER BY yr, step_no
    """,
)
def lineitem_margin_waterfall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The revenue bridge (waterfall chart source): per ship year,
    gross revenue, minus discounts, plus tax — each step's amount and
    the running subtotal, so running after 'discount' = net and after
    'tax' = billed (the q1 identities re-expressed as a bridge). Every
    measure is an exact DECIMAL(18,2) sum of per-row-quantized terms
    (order-independent — the `orders_cohort_revenue_ltv` discipline),
    cast to double only for presentation.

    Scale: ONE aggregation pass computes all five measures; the
    waterfall unpivot and running sum operate on years x steps rows.
    """
    li = load(spark, sf_dir, "lineitem")
    ep, d, t = (
        F.col("l_extendedprice"),
        F.col("l_discount"),
        F.col("l_tax"),
    )
    q4 = lambda c: F.sum(
        quantize(c, 4).cast("decimal(18,4)")
    )
    m = li.groupBy(F.year("l_shipdate").alias("yr")).agg(
        F.sum(ep.cast("decimal(18,2)")).alias("gross"),
        q4(ep * d).alias("discount_amt"),
        q4(ep * (1 - d) * t).alias("tax_amt"),
    )
    steps = F.array(
        F.struct(
            F.lit("gross").alias("step"),
            F.lit(1).alias("step_no"),
            F.col("gross").cast("double").alias("amount"),
        ),
        F.struct(
            F.lit("discount").alias("step"),
            F.lit(2).alias("step_no"),
            (-F.col("discount_amt")).cast("double").alias("amount"),
        ),
        F.struct(
            F.lit("tax").alias("step"),
            F.lit(3).alias("step_no"),
            F.col("tax_amt").cast("double").alias("amount"),
        ),
    )
    w = (
        Window.partitionBy("yr")
        .orderBy("step_no")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        m.select("yr", F.explode(steps).alias("s"))
        .select("yr", "s.step", "s.step_no", "s.amount")
        .withColumn("running", F.sum("amount").over(w))
        .orderBy("yr", "step_no")
    )


# -------------------------------------------------- mix-shift

_MIX_CUTOVER = "1995-01-01"


@query(
    "orders_mix_shift_decomposition",
    oracle=f"""
    WITH seg AS (
      SELECT o_orderpriority AS seg,
             o_orderdate >= TIMESTAMP '{_MIX_CUTOVER}' AS post,
             COUNT(*) AS n,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sv
      FROM orders GROUP BY 1, 2
    ),
    with_tot AS (
      SELECT *, SUM(n) OVER (PARTITION BY post) AS nt FROM seg
    ),
    wide AS (
      SELECT seg,
             MAX(CASE WHEN NOT post THEN n * 1.0 / nt END)
               AS share_pre,
             MAX(CASE WHEN post THEN n * 1.0 / nt END) AS share_post,
             MAX(CASE WHEN NOT post
                      THEN CAST(sv AS DOUBLE) / n END) AS avg_pre,
             MAX(CASE WHEN post
                      THEN CAST(sv AS DOUBLE) / n END) AS avg_post
      FROM with_tot
      GROUP BY seg
    )
    SELECT seg,
           floor(share_pre * 10000 + 0.5) / 10000 AS share_pre,
           floor(share_post * 10000 + 0.5) / 10000 AS share_post,
           floor(avg_pre * 10000 + 0.5) / 10000 AS avg_pre,
           floor(avg_post * 10000 + 0.5) / 10000 AS avg_post,
           floor((share_post - share_pre) * avg_pre * 10000 + 0.5)
             / 10000 AS mix_effect,
           floor(share_post * (avg_post - avg_pre) * 10000 + 0.5)
             / 10000 AS rate_effect
    FROM wide
    ORDER BY seg
    """,
)
def orders_mix_shift_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Why did the average order value move? The Laspeyres-style
    decomposition across priority segments between pre/post {c}:
    mix effect = (share_post - share_pre) x avg_pre (composition
    shifted at old rates), rate effect = share_post x
    (avg_post - avg_pre) (within-segment change at new composition);
    the two columns sum across segments exactly to the total average
    change — the root-cause arithmetic behind every "the metric moved"
    dashboard drill-down. Revenue reduces as exact decimal; each
    share/avg is one double division before quantization.

    Scale: one (segment, period) aggregation; the per-period totals
    come from a window over that tiny table (no second scan), and the
    decomposition is arithmetic on segments x 1 rows.
    """.format(c=_MIX_CUTOVER)
    o = load(spark, sf_dir, "orders")
    seg = o.groupBy(
        F.col("o_orderpriority").alias("seg"),
        (
            F.col("o_orderdate")
            >= F.lit(_MIX_CUTOVER).cast("timestamp_ntz")
        ).alias("post"),
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("sv"),
    )
    # per-period totals via a window over the tiny segment table —
    # no second scan of orders, no join
    joined = seg.withColumn(
        "nt", F.sum("n").over(Window.partitionBy("post"))
    )
    share = F.col("n") * 1.0 / F.col("nt")
    avg = F.col("sv").cast("double") / F.col("n")
    wide = joined.groupBy("seg").agg(
        F.max(F.when(~F.col("post"), share)).alias("share_pre"),
        F.max(F.when(F.col("post"), share)).alias("share_post"),
        F.max(F.when(~F.col("post"), avg)).alias("avg_pre"),
        F.max(F.when(F.col("post"), avg)).alias("avg_post"),
    )
    return wide.select(
        "seg",
        quantize(F.col("share_pre"), 4).alias("share_pre"),
        quantize(F.col("share_post"), 4).alias("share_post"),
        quantize(F.col("avg_pre"), 4).alias("avg_pre"),
        quantize(F.col("avg_post"), 4).alias("avg_post"),
        quantize(
            (F.col("share_post") - F.col("share_pre")) * F.col("avg_pre"), 4
        ).alias("mix_effect"),
        quantize(
            F.col("share_post") * (F.col("avg_post") - F.col("avg_pre")), 4
        ).alias("rate_effect"),
    ).orderBy("seg")
