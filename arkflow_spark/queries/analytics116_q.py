"""Round-6 batch 116: cross-price elasticity, sentinel-value screen,
boilerplate shingle census.

- `part_cross_price_elasticity` — cross-price elasticity between
  brand pairs: regress log monthly quantity of brand B on log average
  price of brand A (closed-form OLS over the monthly panel). Positive
  elasticity = substitutes (A's price rise pushes demand to B),
  negative = complements. `lineitem_price_elasticity` measures
  own-price response; this is the other half of the demand system,
  and what assortment/pricing simulators actually need.
- `dq_sentinel_values` — magic-number screen on `events.value`: the
  most frequent exact values whose counts tower over their +/-0.10
  tick neighbourhood. Defaulted fields, hardcoded fallbacks, and
  clamped limits all materialize as such spikes (0.0, 99.99, ...);
  a uniform-ish continuous signal should have none.
- `text_boilerplate_shingles` — corpus-frequency boilerplate census:
  word 8-gram shingles appearing in >= 2% of documents are
  boilerplate (headers, footers, licence blurbs); per source, the
  share of documents carrying any and the mean boilerplate shingles
  per affected document. Line-level dedup (`text_line_dedup`) misses
  boilerplate embedded mid-line; document-frequency shingles are the
  standard catch (C4/RefinedWeb pipelines).

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ cross-price elasticity

_XP_TOP = 15


@query(
    "part_cross_price_elasticity",
    oracle=f"""
    WITH monthly AS (
      SELECT p.p_brand AS brand, date_trunc('month', l.l_shipdate) AS m,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                  AS DOUBLE)
               / CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2)))
                      AS DOUBLE) AS price,
             CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS qty
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b,
             ln(a.price) AS x, ln(b.qty) AS y
      FROM monthly a JOIN monthly b
        ON b.m = a.m AND b.brand <> a.brand
    ),
    mom AS (
      SELECT brand_a, brand_b, COUNT(*) AS n,
             CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * y AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sxx
      FROM pairs GROUP BY 1, 2
    ),
    fit AS (
      SELECT brand_a, brand_b, n,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS beta
      FROM mom WHERE n >= 12 AND n * sxx - sx * sx > 0
    )
    SELECT brand_a, brand_b, CAST(n AS BIGINT) AS n_months,
           floor(beta * 10000 + 0.5) / 10000 AS elasticity,
           beta > 0 AS substitutes
    FROM fit
    ORDER BY abs(beta) DESC, brand_a, brand_b
    LIMIT {_XP_TOP}
    """,
)
def part_cross_price_elasticity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-price elasticity for brand pairs: OLS slope of
    ln(qty of B) on ln(avg price of A) over the shared monthly panel
    (>= 12 months). The top-{t} pairs by |elasticity|: positive =
    substitutes, negative = complements — the cross terms of the
    demand matrix that own-price elasticity leaves blank.

    Determinism: monthly price/qty are exact decimal ratios; the log
    panel's OLS moments are per-term DECIMAL(28,12)-quantized before
    the order-free sums (the `_corr_from_sums` discipline).

    Scale shape: one brand-month rollup (calendar x 25), a 25 x 24
    brand-pair month join on the month key, closed-form fit,
    top-{t} by TakeOrderedAndProject.
    """.format(t=_XP_TOP)
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    monthly = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("month", "l_shipdate").alias("m"),
        )
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                .cast("double")
                / F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                .cast("double")
            ).alias("price"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("qty"),
        )
    )
    a = monthly.select(
        F.col("brand").alias("brand_a"), "m", F.log("price").alias("x")
    )
    b = monthly.select(
        F.col("brand").alias("brand_b"),
        F.col("m").alias("mb"),
        F.log("qty").alias("y"),
    )
    pairs = a.join(
        F.broadcast(b),
        (F.col("m") == F.col("mb"))
        & (F.col("brand_a") != F.col("brand_b")),
    )
    dec = lambda c: F.sum(c.cast("decimal(28,12)")).cast("double")
    mom = pairs.groupBy("brand_a", "brand_b").agg(
        F.count("*").alias("n"),
        dec(F.col("x")).alias("sx"),
        dec(F.col("y")).alias("sy"),
        dec(F.col("x") * F.col("y")).alias("sxy"),
        dec(F.col("x") * F.col("x")).alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (
        F.col("n"), F.col("sx"), F.col("sy"), F.col("sxy"), F.col("sxx")
    )
    beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return (
        mom.filter((n >= 12) & (n * sxx - sx * sx > 0))
        .select(
            "brand_a",
            "brand_b",
            n.cast("bigint").alias("n_months"),
            quantize(beta, 4).alias("elasticity"),
            (beta > 0).alias("substitutes"),
            F.abs(beta).alias("_ab"),
        )
        .orderBy(F.desc("_ab"), "brand_a", "brand_b")
        .limit(_XP_TOP)
        .drop("_ab")
    )


# ------------------------------------------------ sentinel screen

_SV_TOP = 5
_SV_NEIGH = 0.10


@query(
    "dq_sentinel_values",
    oracle=f"""
    WITH vc AS (
      SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS tick,
             COUNT(*) AS c
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM vc),
    neigh AS (
      SELECT a.tick, a.c,
             CAST(SUM(b.c) AS DOUBLE) / COUNT(b.tick) AS nb_avg
      FROM vc a JOIN vc b
        ON b.tick BETWEEN a.tick - {int(_SV_NEIGH * 100)}
                      AND a.tick + {int(_SV_NEIGH * 100)}
       AND b.tick <> a.tick
      GROUP BY a.tick, a.c
    )
    SELECT tick / 100.0 AS value,
           CAST(c AS BIGINT) AS n_rows,
           floor(c / t * 1000000 + 0.5) / 1000000 AS share,
           floor(nb_avg * 10000 + 0.5) / 10000 AS neighborhood_avg,
           floor(c / nb_avg * 10000 + 0.5) / 10000 AS spike_ratio,
           c / nb_avg > 5 AS sentinel_flag
    FROM neigh CROSS JOIN tot
    ORDER BY c DESC, tick
    LIMIT {_SV_TOP}
    """,
)
def dq_sentinel_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentinel/magic-value screen on `events.value`: the top-{t} most
    frequent exact 2dp ticks, each compared to the average count of
    its +/-{w} neighbourhood (self excluded). A healthy continuous
    signal has spike ratios near 1; defaulted fields, hardcoded
    fallbacks and clamp limits appear as ratios >> 1
    (`sentinel_flag` at > 5x). Complements `dq_last_digit_uniformity`
    (distribution-level) with value-level attribution: WHICH values
    are fabricated.

    Scale shape (r8 optimization round): one tick rollup
    (value-tick-grid bounded); the +/-{wt}-tick neighbourhood is an
    EXPLODED-OFFSET EQUI-JOIN — each tick row fans out to its {wt2}
    shifted (btick + d) keys and hash-joins back on the tick — linear
    in the tick grid. The old inequality band self-join planned as a
    BroadcastNestedLoopJoin, quadratic in distinct ticks (the dominant
    cost even at sf0.1, and a scale-killer on a fine-grained grid).
    Identical neighbour sets: d = tick - btick ranges over
    [-{wt}..{wt}] minus 0. Top-{t} spikes out.
    """.format(t=_SV_TOP, w=_SV_NEIGH, wt=int(_SV_NEIGH * 100),
               wt2=2 * int(_SV_NEIGH * 100))
    e = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    vc = e.groupBy(
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("tick")
    ).agg(F.count("*").alias("c"))
    tot = vc.agg(F.sum("c").cast("double").alias("t"))
    band = int(_SV_NEIGH * 100)
    offsets = F.array(
        *[F.lit(d) for d in range(-band, band + 1) if d != 0]
    )
    shifted = vc.select(
        F.explode(offsets).alias("d"),
        F.col("tick").alias("btick"),
        F.col("c").alias("bc"),
    ).select((F.col("btick") + F.col("d")).alias("tick"), "btick", "bc")
    neigh = (
        vc.join(shifted, "tick")
        .groupBy("tick", "c")
        .agg(
            (F.sum("bc").cast("double") / F.count("btick")).alias(
                "nb_avg"
            )
        )
    )
    return (
        neigh.crossJoin(F.broadcast(tot))
        .select(
            (F.col("tick") / 100.0).alias("value"),
            F.col("c").cast("bigint").alias("n_rows"),
            quantize(F.col("c") / F.col("t"), 6).alias("share"),
            quantize(F.col("nb_avg"), 4).alias("neighborhood_avg"),
            quantize(F.col("c") / F.col("nb_avg"), 4).alias("spike_ratio"),
            (F.col("c") / F.col("nb_avg") > 5).alias("sentinel_flag"),
            F.col("c").alias("_c"),
        )
        .orderBy(F.desc("_c"), "value")
        .limit(_SV_TOP)
        .drop("_c")
    )


# ------------------------------------------------ boilerplate shingles

_BP_N = 8
_BP_DF = 0.02


@query(
    "text_boilerplate_shingles",
    oracle=rf"""
    WITH words AS (
      SELECT doc_id, source,
             regexp_split_to_array(lower(trim(text)), '\s+') AS ws
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, source,
             array_to_string(ws[g.i : g.i + {_BP_N - 1}], ' ') AS gram
      FROM words, LATERAL (
        SELECT unnest(range(1, len(ws) - {_BP_N - 2})) AS i
      ) g
      WHERE len(ws) >= {_BP_N}
    ),
    ndocs AS (SELECT COUNT(*) AS nd FROM documents),
    bp AS (
      SELECT gram FROM grams CROSS JOIN ndocs
      GROUP BY gram, nd HAVING COUNT(*) >= {_BP_DF} * nd
    ),
    hits AS (
      SELECT g.source, g.doc_id, COUNT(*) AS k
      FROM grams g JOIN bp ON bp.gram = g.gram
      GROUP BY 1, 2
    ),
    src AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    )
    SELECT s.source,
           CAST(s.n_docs AS BIGINT) AS n_docs,
           CAST(COALESCE(COUNT(h.doc_id), 0) AS BIGINT)
             AS docs_with_boilerplate,
           floor(COALESCE(COUNT(h.doc_id), 0) * 1.0 / s.n_docs
                 * 10000 + 0.5) / 10000 AS affected_share,
           CASE WHEN COUNT(h.doc_id) > 0 THEN
             floor(CAST(SUM(h.k) AS DOUBLE) / COUNT(h.doc_id)
                   * 10000 + 0.5) / 10000 END
             AS mean_shingles_per_affected
    FROM src s LEFT JOIN hits h ON h.source = s.source
    GROUP BY s.source, s.n_docs
    ORDER BY s.source
    """,
)
def text_boilerplate_shingles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Boilerplate census by corpus shingle frequency: word {n}-gram
    shingles present (deduped per doc) in >= {df:.0%} of ALL documents
    are boilerplate; per source, how many documents carry any and how
    many distinct boilerplate shingles an affected document carries
    on average. High affected-share sources need template stripping
    BEFORE dedup/quality gates — embedded boilerplate both inflates
    near-dup rates and pollutes n-gram LM stats.

    Scale shape: ONE shingle explode (fan-out = words per doc) and one
    distinct-per-doc shuffle, persisted — the boilerplate-vocabulary
    aggregate and the hits join both read the cached shingle set
    instead of re-exploding and re-deduping the corpus; the corpus
    document count folds out of the per-source rollup (sum of group
    counts = COUNT(*)), so the raw table is scanned twice (shingles +
    source census), not four times. The boilerplate vocabulary is a
    df-thresholded aggregate that stays tiny (few shingles survive
    {df:.0%} of a diverse corpus) and broadcast-joins back; output is
    source-bounded.
    """.format(n=_BP_N, df=_BP_DF)
    d = load(spark, sf_dir, "documents")
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    grams = (
        d.select("doc_id", "source", ws.alias("ws"))
        .filter(F.size("ws") >= _BP_N)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(ws) - {_BP_N - 1}),"
                    f" i -> concat_ws(' ', slice(ws, i, {_BP_N})))"
                )
            ).alias("gram"),
        )
        .distinct()
        .persist()
    )
    # ^ the scale boundary: explode + per-doc dedup shuffle run ONCE;
    # both consumers (df threshold, hits join) read the cache
    src = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    ndocs = src.agg(F.sum("n_docs").alias("nd"))
    bp = (
        grams.crossJoin(F.broadcast(ndocs))
        .groupBy("gram", "nd")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= _BP_DF * F.col("nd"))
        .select("gram")
    )
    hits = (
        grams.join(F.broadcast(bp), "gram")
        .groupBy("source", "doc_id")
        .agg(F.count("*").alias("k"))
    )
    agg = hits.groupBy("source").agg(
        F.count("doc_id").alias("n_aff"),
        F.sum("k").cast("double").alias("sk"),
    )
    n_aff = F.coalesce(F.col("n_aff"), F.lit(0))
    return (
        src.join(agg, "source", "left")
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            n_aff.cast("bigint").alias("docs_with_boilerplate"),
            quantize(n_aff * 1.0 / F.col("n_docs"), 4).alias(
                "affected_share"
            ),
            F.when(
                n_aff > 0, quantize(F.col("sk") / n_aff, 4)
            ).alias("mean_shingles_per_affected"),
        )
        .orderBy("source")
    )
