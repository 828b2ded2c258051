"""Round-4 batch 28: LSH banding sweep, watermark lateness audit,
inter-purchase gaps, discount-lift ANOVA.

- `dedup_band_sweep` — candidate-pair counts for three LSH banding
  configs (8x2 / 4x4 / 2x8) from ONE 16-slot MinHash signature pass:
  the bands-vs-rows tuning table (threshold ~ (1/b)^(1/r)) you read
  next to `dedup_threshold_curve` before a 100 TB dedup run.
- `events_lateness_watermark_audit` — out-of-orderness profile per
  stream (arrival order = event_id): how late do events arrive behind
  the running max timestamp — the number that CHOOSES the
  `withWatermark` delay for every streaming aggregate in this repo.
- `customer_interpurchase_gaps` — distribution of days between a
  customer's consecutive orders, bucketed per market segment (the
  repeat-purchase cadence behind `customer_rfm_segments`).
- `lineitem_discount_anova` — one-way ANOVA F-statistic of per-line
  revenue across discount levels: does discount level explain revenue
  variance (the promotion-lift significance readout).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.queries.dedup_q import (
    N_HASHES,
    _ORACLE_SHINGLES,
)
from arkflow_spark.tables import load


# -------------------------------------------------- LSH band sweep

_SWEEP_CONFIGS = ((8, 2), (4, 4), (2, 8))  # (bands, rows) with b*r = 16


def _band_sweep_oracle() -> str:
    sig_cols = ", ".join(
        f"MIN(h1 + {i} * h2) AS s{i}" for i in range(N_HASHES)
    )
    per_config = []
    for nb, r in _SWEEP_CONFIGS:
        band_rows = ", ".join(
            "({b}, {key})".format(
                b=b,
                key=" || ',' || ".join(
                    f"CAST(s{r * b + j} AS VARCHAR)" for j in range(r)
                ),
            )
            for b in range(nb)
        )
        per_config.append(
            f"""
      SELECT {nb} AS bands, {r} AS rows_per_band,
             CAST(COUNT(*) AS BIGINT) AS n_candidates
      FROM (
        SELECT DISTINCT a.doc_id, b.doc_id
        FROM (SELECT doc_id, band, band_key
              FROM sig, LATERAL (VALUES {band_rows}) AS t(band, band_key)) a
        JOIN (SELECT doc_id, band, band_key
              FROM sig, LATERAL (VALUES {band_rows}) AS t(band, band_key)) b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
      )"""
        )
    unioned = " UNION ALL ".join(per_config)
    return f"""
    WITH {_ORACLE_SHINGLES},
    hashed AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h1,
             CAST(('0x' || substr(md5(shingle), 16, 10)) AS BIGINT) AS h2
      FROM sh
    ),
    sig AS (SELECT doc_id, {sig_cols} FROM hashed GROUP BY doc_id)
    SELECT bands, rows_per_band, n_candidates,
           floor(power(1.0 / bands, 1.0 / rows_per_band) * 10000 + 0.5)
             / 10000 AS est_threshold
    FROM ({unioned})
    ORDER BY bands DESC
    """


@query("dedup_band_sweep", oracle=_band_sweep_oracle())
def dedup_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding parameter sweep: candidate-pair volume for 8x2 / 4x4
    / 2x8 bandings of the SAME 16-slot MinHash signatures (computed
    once), next to each config's S-curve threshold (1/b)^(1/r). More
    bands = lower threshold = more candidates; this table prices that
    trade before the `dedup_minhash_lsh` production pass.

    Scale: one signature aggregation over the shingle set, then per
    config a band-bucket self-join whose fan-out is bounded by bucket
    size (identical shape to the production LSH join). The three
    configs share the signature frame via persist — the corpus is
    shingled and hashed exactly once.
    """
    # r7: signatures come from the materialized signature table (one
    # build per session shared by the MinHash family) — the sweep's
    # three configs re-band the SAME stored signatures
    from arkflow_spark.queries.dedup_q import _mh_signatures

    sig = _mh_signatures(spark, sf_dir)
    results = None
    for nb, r in _SWEEP_CONFIGS:
        band_structs = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"s{r * b + j}").cast("string")
                            for j in range(r)
                        ],
                    ).alias("band_key"),
                )
                for b in range(nb)
            ]
        )
        bands = sig.select(
            "doc_id", F.explode(band_structs).alias("bk")
        ).select("doc_id", "bk.band", "bk.band_key")
        a, b = bands.alias("a"), bands.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id"), F.col("b.doc_id"))
            .distinct()
        )
        row = cand.agg(
            F.lit(nb).alias("bands"),
            F.lit(r).alias("rows_per_band"),
            F.count("*").cast("bigint").alias("n_candidates"),
        )
        results = row if results is None else results.unionAll(row)
    return results.select(
        "bands",
        "rows_per_band",
        "n_candidates",
        quantize(
            F.pow(1.0 / F.col("bands"), 1.0 / F.col("rows_per_band")), 4
        ).alias("est_threshold"),
    ).orderBy(F.desc("bands"))


# ----------------------------------------- watermark lateness audit


@query(
    "events_lateness_watermark_audit",
    oracle="""
    WITH arr AS (
      SELECT event_type, event_id,
             (MAX(epoch_us(ts)) OVER w - epoch_us(ts)) // 1000000
               AS late_s
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY event_id
                   ROWS UNBOUNDED PRECEDING)
    ),
    ranked AS (
      SELECT event_type, late_s,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY late_s, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM arr
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CAST(SUM(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_late,
           floor(SUM(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) * 1.0 / n
                 * 10000 + 0.5) / 10000 AS pct_late,
           MAX(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT)
                    THEN late_s END) AS p50_late_s,
           MAX(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
                    THEN late_s END) AS p95_late_s,
           MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT)
                    THEN late_s END) AS p99_late_s,
           MAX(late_s) AS max_late_s
    FROM ranked
    GROUP BY event_type, n
    ORDER BY event_type
    """,
)
def events_lateness_watermark_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Out-of-orderness profile per stream: treating `event_id` as
    arrival order, an event's lateness is how far its timestamp trails
    the running maximum at arrival. The p95/p99 lateness IS the
    `withWatermark` delay choice for every windowed streaming aggregate
    — too short drops events, too long bloats state. Percentiles are
    rank-selected (no interpolation), integer seconds via exact
    microsecond arithmetic.

    Scale: one keyed running-max window + one keyed rank window — two
    shuffles on the stream key, no joins; output one row per stream.
    """
    e = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    arr = e.select(
        "event_type",
        "event_id",
        ((F.max(us).over(w) - us) / F.lit(1000000))
        .cast("bigint")
        .alias("late_s"),
    )
    pw = Window.partitionBy("event_type")
    ranked = arr.withColumn(
        "rn", F.row_number().over(pw.orderBy("late_s", "event_id"))
    ).withColumn("n", F.count("*").over(pw))
    late = F.when(F.col("late_s") > 0, 1).otherwise(0)

    def at(q: float):
        return F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(q) * F.col("n")).cast("bigint"),
                F.col("late_s"),
            )
        )

    return (
        ranked.groupBy("event_type", "n")
        .agg(
            F.sum(late).cast("bigint").alias("n_late"),
            quantize(F.sum(late) * 1.0 / F.col("n"), 4).alias("pct_late"),
            at(0.50).alias("p50_late_s"),
            at(0.95).alias("p95_late_s"),
            at(0.99).alias("p99_late_s"),
            F.max("late_s").alias("max_late_s"),
        )
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            "n_late",
            "pct_late",
            "p50_late_s",
            "p95_late_s",
            "p99_late_s",
            "max_late_s",
        )
        .orderBy("event_type")
    )


# ------------------------------------------- inter-purchase gaps

_GAP_EDGES = (7, 30, 90, 365)  # bucket upper bounds in days


def _gap_bucket_sql(col: str) -> str:
    whens = " ".join(
        f"WHEN {col} <= {e} THEN '<= {e}d'" for e in _GAP_EDGES
    )
    return f"CASE {whens} ELSE '> 365d' END"


@query(
    "customer_interpurchase_gaps",
    oracle=f"""
    WITH seq AS (
      SELECT c.c_mktsegment,
             date_diff('day',
               lag(o_orderdate) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey),
               o_orderdate) AS gap_d
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT c_mktsegment, {_gap_bucket_sql('gap_d')} AS gap_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           floor(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER
                   (PARTITION BY c_mktsegment) * 10000 + 0.5) / 10000
             AS segment_share
    FROM seq WHERE gap_d IS NOT NULL
    GROUP BY c_mktsegment, {_gap_bucket_sql('gap_d')}
    ORDER BY c_mktsegment, gap_bucket
    """,
)
def customer_interpurchase_gaps(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Repeat-purchase cadence: days between each customer's consecutive
    orders, bucketed (<=7 / <=30 / <=90 / <=365 / >365 days) per market
    segment with within-segment shares — the recency prior behind RFM
    segmentation and churn windows.

    Scale: one lag window keyed by customer, one broadcast dim join,
    one bucket aggregate — all map-side-combinable after the single
    customer-keyed shuffle.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_mktsegment",
            F.datediff(
                F.col("o_orderdate"), F.lag("o_orderdate").over(w)
            ).alias("gap_d"),
        )
        .filter(F.col("gap_d").isNotNull())
    )
    bucket = F.expr(_gap_bucket_sql("gap_d"))
    sw = Window.partitionBy("c_mktsegment")
    return (
        seq.groupBy("c_mktsegment", bucket.alias("gap_bucket"))
        .agg(F.count("*").cast("bigint").alias("n_gaps"))
        .withColumn(
            "segment_share",
            quantize(F.col("n_gaps") * 1.0 / F.sum("n_gaps").over(sw), 4),
        )
        .orderBy("c_mktsegment", "gap_bucket")
    )


# ---------------------------------------------- discount-lift ANOVA


@query(
    "lineitem_discount_anova",
    oracle="""
    WITH obs AS (
      SELECT CAST(floor(l_discount * 100 + 0.5) AS INTEGER) AS disc_pct,
             floor(l_extendedprice * (1 - l_discount) * 1000000 + 0.5)
               / 1000000 AS y
      FROM lineitem
    ),
    grp AS (
      SELECT disc_pct, COUNT(*) AS n_g,
             CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS s_g,
             CAST(SUM(CAST(floor(y * y * 1000000 + 0.5) / 1000000
                           AS DECIMAL(28,6))) AS DOUBLE) AS ss_g
      FROM obs GROUP BY disc_pct
    ),
    terms AS (
      -- s_g*s_g/n_g is ~1e16: too big for a bigint-returning floor
      -- quantization, but the double itself is bit-identical in both
      -- engines (same IEEE ops on identical inputs), so the direct
      -- DECIMAL(38,6) cast is the deterministic exact-sum carrier
      SELECT disc_pct, n_g, s_g, ss_g,
             CAST(s_g * s_g / n_g AS DECIMAL(38,6)) AS sq_n
      FROM grp
    ),
    tot AS (
      SELECT COUNT(*) AS k,
             CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(SUM(CAST(s_g AS DECIMAL(38,6))) AS DOUBLE) AS s,
             CAST(SUM(CAST(ss_g AS DECIMAL(38,6))) AS DOUBLE) AS ss,
             CAST(SUM(sq_n) AS DOUBLE) AS sum_sq_n
      FROM terms
    )
    SELECT CAST(k AS BIGINT) AS k, n,
           floor((sum_sq_n - s * s / n) * (n - k)
                 / NULLIF((k - 1) * (ss - sum_sq_n), 0)
                 * 10000 + 0.5) / 10000 AS f_stat,
           floor((sum_sq_n - s * s / n) / NULLIF(ss - s * s / n, 0)
                 * 10000 + 0.5) / 10000 AS eta_sq
    FROM tot
    """,
)
def lineitem_discount_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of per-line revenue across discount levels: F =
    between-group over within-group mean squares, eta-squared = the
    variance fraction discount level explains — the promotion-lift
    significance readout. All sums reduce exactly (quantized DECIMAL)
    at BOTH levels — within groups and across the <=12 group rows — so
    the F statistic is bit-identical across engines.

    Scale: one map-side-combinable 3-moment aggregate keyed by the
    ~12 discount levels, then a 12-row reduction — two tiny exchanges,
    no windows, no joins.
    """
    li = load(spark, sf_dir, "lineitem")
    obs = li.select(
        F.floor(F.col("l_discount") * 100 + 0.5)
        .cast("integer")
        .alias("disc_pct"),
        quantize(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), 6
        ).alias("y"),
    )
    grp = obs.groupBy("disc_pct").agg(
        F.count("*").alias("n_g"),
        F.sum(F.col("y").cast("decimal(28,6)")).cast("double").alias("s_g"),
        F.sum(
            quantize(F.col("y") * F.col("y"), 6).cast("decimal(28,6)")
        ).cast("double").alias("ss_g"),
    )
    terms = grp.withColumn(
        "sq_n",
        (F.col("s_g") * F.col("s_g") / F.col("n_g")).cast("decimal(38,6)"),
    )
    tot = terms.agg(
        F.count("*").alias("k"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum(F.col("s_g").cast("decimal(38,6)")).cast("double").alias("s"),
        F.sum(F.col("ss_g").cast("decimal(38,6)")).cast("double").alias("ss"),
        F.sum("sq_n").cast("double").alias("sum_sq_n"),
    )
    k, n, s = F.col("k"), F.col("n"), F.col("s")
    ss, sq = F.col("ss"), F.col("sum_sq_n")
    return tot.select(
        k.cast("bigint").alias("k"),
        n.alias("n"),
        # single product denominators: a 1-level (k=1) or saturated
        # (n=k) input yields NULL via try_divide, never DIVIDE_BY_ZERO
        quantize(
            F.try_divide(
                (sq - s * s / n) * (n - k),
                (k - 1) * (ss - sq),
            ), 4
        ).alias("f_stat"),
        quantize(F.try_divide(sq - s * s / n, ss - s * s / n), 4).alias(
            "eta_sq"
        ),
    )
