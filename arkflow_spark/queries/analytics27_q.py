"""Round-4 batch 27: backlog sweep, Poisson bootstrap, elasticity,
quality-threshold sweep.

- `orders_backlog_timeseries` — daily open-order backlog from order
  open/close boundary deltas (the +1/-1 sweep, never an interval
  self-join): the ops burndown chart.
- `events_bootstrap_ci` — Poisson bootstrap confidence interval for the
  per-stream mean. Poisson resampling IS the standard distributed
  bootstrap (each row draws its replicate multiplicity independently,
  so no global resample pass is needed — one scan computes all B
  replicates); weights derive deterministically from md5 so both
  engines draw identical resamples.
- `lineitem_price_elasticity` — log-log OLS slope of quantity on unit
  price per brand (the pricing team's elasticity readout), via exact
  quantized co-moment sums.
- `documents_quality_threshold_sweep` — docs/chars retained at each
  candidate quality threshold from ONE corpus pass over a bounded
  score histogram: the curve read before committing a 100 TB filter
  pass (companion to `dedup_threshold_curve`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# -------------------------------------------------- backlog burndown


@query(
    "orders_backlog_timeseries",
    oracle="""
    WITH closed AS (
      SELECT l_orderkey, MAX(l_shipdate) AS close_ts
      FROM lineitem GROUP BY 1
    ),
    pts AS (
      SELECT CAST(o_orderdate AS DATE) AS d, 1 AS delta FROM orders
      UNION ALL
      SELECT CAST(close_ts AS DATE) + 1, -1 FROM closed
    ),
    daily AS (SELECT d, SUM(delta) AS net FROM pts GROUP BY d)
    SELECT strftime(d, '%Y-%m-%d') AS d,
           CAST(net AS BIGINT) AS net_change,
           CAST(SUM(net) OVER (ORDER BY d) AS BIGINT) AS backlog
    FROM daily ORDER BY d
    """,
)
def orders_backlog_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-of-day open-order backlog: +1 at order date, -1 the day after
    the order's last shipment — net deltas per day, then one running
    sum. The boundary sweep never joins intervals against days (the
    quadratic formulation); backlog only changes on eventful days, so
    the output is bounded by distinct boundary dates.

    Scale: one groupBy(orderkey) for close dates, one groupBy(day) for
    net deltas (both map-side combinable), one single-partition running
    sum over the bounded day series — the same shape as
    `events_concurrency_sweep`, keyed coarser.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    closed = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("close_ts"))
    pts = o.select(
        F.to_date("o_orderdate").alias("d"), F.lit(1).alias("delta")
    ).unionAll(
        closed.select(
            F.date_add(F.to_date("close_ts"), 1).alias("d"),
            F.lit(-1).alias("delta"),
        )
    )
    daily = pts.groupBy("d").agg(F.sum("delta").alias("net"))
    from pyspark.sql import Window

    # scale: calendar-bounded (per-day delta table)
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily.select(
            F.date_format("d", "yyyy-MM-dd").alias("d"),
            F.col("net").cast("bigint").alias("net_change"),
            F.sum("net").over(w).cast("bigint").alias("backlog"),
        )
        .orderBy("d")
    )


# -------------------------------------------------- Poisson bootstrap

_B = 40  # bootstrap replicates
# Poisson(1) inverse-CDF ladder (cumulative probabilities); a uniform
# draw u maps to the replicate multiplicity w.
_POIS_CDF = (
    (0.3678794412, 0),
    (0.7357588823, 1),
    (0.9196986029, 2),
    (0.9810118431, 3),
    (0.9963401532, 4),
    (0.9994058152, 5),
    (0.9999167589, 6),
)


def _pois_case(u_expr: str) -> str:
    whens = " ".join(
        f"WHEN {u_expr} < {p!r} THEN {w}" for p, w in _POIS_CDF
    )
    return f"CASE {whens} ELSE 7 END"


def _bootstrap_oracle() -> str:
    # one md5 yields FOUR independent 15-bit uniform draws: group
    # g = b // 4 keys the hash, ONE radix conversion takes 15 hex chars
    # (60 bits), and chunk j = b % 4 selects 15 bits by integer
    # div/mod — 4x less hashing AND 4x fewer radix conversions than one
    # md5+conv per replicate (the conversion, not the hash, is the hot
    # path).
    u = (
        "(((('0x' || substr(md5(CAST(event_id * {G} + g.g AS VARCHAR)), "
        "1, 15))::BIGINT >> (15 * j.j)) & 32767) "
        "/ 32768.0)"
    ).format(G=_B // 4)
    return f"""
    WITH drawn AS (
      SELECT event_type, value, g.g * 4 + j.j AS b, {_pois_case(u)} AS w
      FROM events
      CROSS JOIN (SELECT unnest(range({_B // 4})) AS g) g
      CROSS JOIN (SELECT unnest(range(4)) AS j) j
    ),
    resamples AS (
      SELECT event_type, b,
             CAST(SUM(CAST(floor(w * value * 1000000 + 0.5) / 1000000
                           AS DECIMAL(28,6))) AS DOUBLE)
               / NULLIF(SUM(w), 0) AS m
      FROM drawn GROUP BY event_type, b
    ),
    ranked AS (
      SELECT event_type, floor(m * 1000000 + 0.5) / 1000000 AS m,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY m, b) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS b_eff
      FROM resamples WHERE m IS NOT NULL
    )
    SELECT event_type,
           CAST(b_eff AS BIGINT) AS b_eff,
           floor(CAST(SUM(CAST(m AS DECIMAL(28,6))) AS DOUBLE)
                 / b_eff * 10000 + 0.5) / 10000 AS boot_mean,
           MAX(CASE WHEN rn = 2 THEN m END) AS ci_lo,
           MAX(CASE WHEN rn = b_eff - 1 THEN m END) AS ci_hi
    FROM ranked
    GROUP BY event_type, b_eff
    ORDER BY event_type
    """


@query("events_bootstrap_ci", oracle=_bootstrap_oracle())
def events_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap CI for mean(value) per stream: every row draws
    a Poisson(1) multiplicity for each of {B} replicates (the standard
    single-pass distributed bootstrap — multinomial resampling needs a
    global pass per replicate; Poisson factorizes per row), replicate
    means reduce exactly (quantized products summed as DECIMAL), and
    the CI is rank-selected from the replicate means (2nd / (B-1)th
    order statistics — no interpolation, so both engines pick identical
    values). Draws are md5-derived, identical in both engines.

    Scale: explode x{B} then ONE map-side-combinable aggregate keyed
    (event_type, b) — B·|streams| intermediate rows, never a shuffle of
    the raw data per replicate. At 100 TB, B=40 costs 40x map work but
    zero extra shuffles; the ranked-CI stage sees B rows per stream.
    """
    from arkflow_spark.functions.fanout import parallelize_fanout

    e = parallelize_fanout(load(spark, sf_dir, "events"))
    # two-level fan-out so each md5 AND its radix conversion happen ONCE
    # per four replicates: conv(15 hex chars) = 60 bits, then j picks 15
    # bits by integer div/mod. The conversion (not the hash) is the hot
    # path at B x |events| scale — this quarters both.
    drawn = (
        e.select(
            "event_id",
            "event_type",
            "value",
            F.explode(F.sequence(F.lit(0), F.lit(_B // 4 - 1))).alias("g"),
        )
        .withColumn(
            "v60",
            F.conv(
                F.substring(
                    F.md5(
                        (
                            F.col("event_id") * (_B // 4) + F.col("g")
                        ).cast("string")
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint"),
        )
        .select(
            "event_type",
            "value",
            "v60",
            "g",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("j"),
        )
        .select(
            "event_type",
            "value",
            (F.col("g") * 4 + F.col("j")).alias("b"),
            F.expr(
                "((v60 >> (15 * j)) & 32767) / CAST(32768 AS DOUBLE)"
            ).alias("u"),
        )
        .withColumn("w", F.expr(_pois_case("u")))
    )
    resamples = drawn.groupBy("event_type", "b").agg(
        (
            F.sum(
                quantize(F.col("w") * F.col("value"), 6).cast("decimal(28,6)")
            ).cast("double")
            / F.nullif(F.sum("w"), F.lit(0))
        ).alias("m")
    )
    from pyspark.sql import Window

    pw = Window.partitionBy("event_type")
    ranked = (
        resamples.filter(F.col("m").isNotNull())
        .select("event_type", quantize(F.col("m"), 6).alias("m"), "b")
        .withColumn(
            "rn",
            F.row_number().over(pw.orderBy("m", "b")),
        )
        .withColumn("b_eff", F.count("*").over(pw))
    )
    return (
        ranked.groupBy("event_type", "b_eff")
        .agg(
            quantize(
                F.sum(F.col("m").cast("decimal(28,6)")).cast("double")
                / F.col("b_eff"), 4
            ).alias("boot_mean"),
            F.max(F.when(F.col("rn") == 2, F.col("m"))).alias("ci_lo"),
            F.max(
                F.when(F.col("rn") == F.col("b_eff") - 1, F.col("m"))
            ).alias("ci_hi"),
        )
        .select(
            "event_type",
            F.col("b_eff").cast("bigint").alias("b_eff"),
            "boot_mean",
            "ci_lo",
            "ci_hi",
        )
        .orderBy("event_type")
    )


events_bootstrap_ci.__doc__ = events_bootstrap_ci.__doc__.replace(
    "{B}", str(_B)
)


# -------------------------------------------------- price elasticity


@query(
    "lineitem_price_elasticity",
    oracle="""
    WITH obs AS (
      SELECT p.p_brand,
             floor(ln(l_extendedprice / l_quantity) * 1000000 + 0.5)
               / 1000000 AS x,
             floor(ln(l_quantity) * 1000000 + 0.5) / 1000000 AS y
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l_quantity > 0 AND l_extendedprice > 0
    ),
    mom AS (
      SELECT p_brand, COUNT(*) AS n,
             CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(floor(x * y * 1000000 + 0.5) / 1000000
                           AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(floor(x * x * 1000000 + 0.5) / 1000000
                           AS DECIMAL(28,6))) AS DOUBLE) AS sxx
      FROM obs GROUP BY p_brand
    )
    SELECT p_brand, CAST(n AS BIGINT) AS n,
           floor((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0)
                 * 10000 + 0.5) / 10000 AS elasticity
    FROM mom ORDER BY p_brand
    """,
)
def lineitem_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price elasticity of demand per brand: OLS slope of ln(quantity)
    on ln(unit price) — the log-log regression whose slope IS the
    elasticity. Per-row log terms are quantized to 6 decimals and
    co-moments reduce exactly as DECIMAL, so the slope is identical in
    both engines despite float summation order; a zero-variance price
    series yields NULL (try_divide / NULLIF), never an error.

    Scale: one broadcast join (part is the small dim), one map-side-
    combinable 4-moment aggregate per brand — the same two-exchange
    shape as q9.
    """
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    obs = (
        li.filter((F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0))
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(
            "p_brand",
            quantize(
                F.log(F.col("l_extendedprice") / F.col("l_quantity")), 6
            ).alias("x"),
            quantize(F.log("l_quantity"), 6).alias("y"),
        )
    )
    mom = obs.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(28,6)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(28,6)")).cast("double").alias("sy"),
        F.sum(
            quantize(F.col("x") * F.col("y"), 6).cast("decimal(28,6)")
        ).cast("double").alias("sxy"),
        F.sum(
            quantize(F.col("x") * F.col("x"), 6).cast("decimal(28,6)")
        ).cast("double").alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    return mom.select(
        "p_brand",
        n.cast("bigint").alias("n"),
        quantize(
            F.try_divide(
                n * F.col("sxy") - sx * sy,
                n * F.col("sxx") - sx * sx,
            ), 4
        ).alias("elasticity"),
    ).orderBy("p_brand")


# -------------------------------------------- quality threshold sweep

_QT_THRESHOLDS = (0.2, 0.4, 0.6, 0.8, 0.9)


def _quality_sweep_oracle() -> str:
    rows = ", ".join(f"({t!r})" for t in _QT_THRESHOLDS)
    return rf"""
    WITH m AS (
      SELECT n_chars,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
             len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                 w -> w IN ('the','and','of','to','in','a'))) AS n_stop
      FROM documents
    ),
    scored AS (
      SELECT n_chars,
             floor((LEAST(n_words / 100.0, 1.0) * 0.5
                    + LEAST(n_stop * 5.0 / n_words, 1.0) * 0.5)
                   * 10000 + 0.5) / 10000 AS score
      FROM m
    ),
    hist AS (
      SELECT score, COUNT(*) AS n_docs, SUM(n_chars) AS chars
      FROM scored GROUP BY score
    ),
    th(t) AS (VALUES {rows}),
    tot AS (SELECT COUNT(*) AS total FROM scored)
    SELECT CAST(th.t AS DOUBLE) AS threshold,
           CAST(COALESCE(SUM(CASE WHEN h.score >= th.t THEN h.n_docs END),
                         0) AS BIGINT) AS docs_kept,
           CAST(COALESCE(SUM(CASE WHEN h.score >= th.t THEN h.chars END),
                         0) AS BIGINT) AS chars_kept,
           floor(COALESCE(SUM(CASE WHEN h.score >= th.t THEN h.n_docs END),
                          0) * 1.0 / tot.total * 10000 + 0.5) / 10000
             AS pct_docs
    FROM th CROSS JOIN tot LEFT JOIN hist h ON TRUE
    GROUP BY th.t, tot.total
    ORDER BY threshold
    """


@query("documents_quality_threshold_sweep", oracle=_quality_sweep_oracle())
def documents_quality_threshold_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Retention curve for a quality filter: docs and chars kept at each
    candidate threshold of a composite quality score (length + stopword
    density, the C4-style signals), all from ONE corpus pass — the
    sweep you read before spending a 100 TB filter pass, companion to
    `dedup_threshold_curve`.

    Scale: the corpus reduces to a quantized-score HISTOGRAM (<=10^4
    rows) before the threshold sweep, so the per-threshold work is a
    broadcast join over a bounded table — thresholds are free, the
    corpus is scanned once.
    """
    d = load(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    n_words = F.size(words)
    n_stop = F.size(
        F.filter(
            F.split(F.lower("text"), r"\s+"),
            lambda w: w.isin("the", "and", "of", "to", "in", "a"),
        )
    )
    scored = d.select(
        "n_chars",
        quantize(
            F.least(n_words / 100.0, F.lit(1.0)) * 0.5
            + F.least(n_stop * 5.0 / n_words, F.lit(1.0)) * 0.5, 4
        ).alias("score"),
    )
    hist = scored.groupBy("score").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("chars")
    )
    total = scored.count()  # bounded scalar: one number for pct
    th = spark.createDataFrame(
        [(float(t),) for t in _QT_THRESHOLDS], "t double"
    )
    return (
        F.broadcast(th)
        .join(hist, how="left")
        .groupBy("t")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("score") >= F.col("t"), F.col("n_docs"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("docs_kept"),
            F.coalesce(
                F.sum(F.when(F.col("score") >= F.col("t"), F.col("chars"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("chars_kept"),
        )
        .select(
            F.col("t").alias("threshold"),
            "docs_kept",
            "chars_kept",
            quantize(F.col("docs_kept") * 1.0 / total, 4).alias("pct_docs"),
        )
        .orderBy("threshold")
    )
