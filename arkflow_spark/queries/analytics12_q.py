"""Round-3 fourth-session batch 8: cohort LTV curves, Haar wavelet
energy, DFT periodogram, readability scoring, and difference-in-
differences.

- `orders_cohort_revenue_ltv` — the cumulative-LTV cohort matrix
  (cohort month x age in months -> running avg revenue per cohort
  member): the growth-analytics complement of
  `events_retention_cohort` (retention counts -> revenue curves).
- `events_haar_wavelet` — 3-level Haar decomposition of each type's
  hourly series: per-level detail energy (where the variance lives —
  hour-scale jitter vs day-scale drift). All arithmetic is dyadic
  (integer counts halved k times), so both engines compute EXACTLY the
  same doubles in any order.
- `events_periodogram` — DFT power at candidate periods (6/12/24/168 h)
  over the hourly volume series: the seasonality detector
  (`events_seasonality_r2` assumes dow x hour; this FINDS the period).
- `text_readability_flesch` — Flesch reading-ease from regex counts
  (words / sentences / vowel-group syllables): the classic readability
  gate, one narrow projection (a quality-scoring sibling of
  `text_gopher_quality`).
- `events_diff_in_diff` — the 2x2 difference-in-differences estimate
  (treatment x pre/post mean outcomes and the DiD effect): the
  experiment-analysis workhorse when randomization happens at a
  cutover date.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import (
    DUCK_TS_FMT,
    SPARK_TS_FMT,
    quantize,
    query,
)
from arkflow_spark.tables import load


# -------------------------------------------------- cohort LTV


@query(
    "orders_cohort_revenue_ltv",
    oracle=f"""
    WITH firsts AS (
      SELECT o_custkey,
             MIN(date_trunc('month', o_orderdate)) AS cohort
      FROM orders GROUP BY o_custkey
    ),
    sized AS (
      SELECT cohort, COUNT(*) AS cohort_size FROM firsts GROUP BY cohort
    ),
    monthly AS (
      SELECT f.cohort,
             CAST(datediff('month', f.cohort,
                           date_trunc('month', o.o_orderdate)) AS BIGINT)
               AS age,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
      GROUP BY 1, 2
    )
    SELECT strftime(m.cohort, '{DUCK_TS_FMT}') AS cohort, m.age,
           s.cohort_size,
           floor(CAST(SUM(m.rev) OVER (PARTITION BY m.cohort
                          ORDER BY m.age) AS DOUBLE)
                 / s.cohort_size * 100 + 0.5) / 100 AS ltv_per_member
    FROM monthly m JOIN sized s ON s.cohort = m.cohort
    ORDER BY cohort, age
    """,
)
def orders_cohort_revenue_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue LTV per acquisition cohort: customers group by
    first-order month; each cohort's monthly revenue accumulates over
    cohort age and normalizes by cohort size — the LTV curve matrix
    every growth team tracks (and the revenue twin of
    `events_retention_cohort`). The cumulative window runs over the
    (cohort, age) AGGREGATE — months, not orders.

    Scale: first-order month per customer is one uniform reduction; the
    fact join keys on o_custkey (broadcast-able per-customer cohort
    map at dim scale, shuffle join at 100 TB); the LTV window touches
    cohorts x ages rows only. Revenue reduces as exact DECIMAL(18,2)
    (order-independent), with ONE double division at the end — the
    repo's decimal-backed-sum hashing discipline.
    """
    o = load(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", "o_orderdate")).alias("cohort")
    )
    sized = firsts.groupBy("cohort").agg(
        F.count("*").alias("cohort_size")
    )
    monthly = (
        o.join(firsts, "o_custkey")
        .groupBy(
            "cohort",
            F.months_between(
                F.date_trunc("month", "o_orderdate"), F.col("cohort")
            )
            .cast("bigint")
            .alias("age"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "rev"
            )
        )
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        monthly.join(sized, "cohort")
        .select(
            F.date_format("cohort", SPARK_TS_FMT).alias("cohort"),
            "age",
            "cohort_size",
            quantize(
                F.sum("rev").over(w).cast("double")
                / F.col("cohort_size"), 2
            ).alias("ltv_per_member"),
        )
        .orderBy("cohort", "age")
    )


# -------------------------------------------------- Haar wavelet energy

_HAAR_LEVELS = 3


def _haar_oracle() -> str:
    # level k: pair consecutive approximations; detail = (a - b) / 2,
    # next approximation = (a + b) / 2; only full pairs survive
    sql = """
    WITH lvl0 AS (
      SELECT event_type,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY date_trunc('hour', ts)) - 1
               AS pos,
             CAST(COUNT(*) AS DOUBLE) AS a
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    )"""
    prev = "lvl0"
    for k in range(1, _HAAR_LEVELS + 1):
        sql += f""",
    pair{k} AS (
      SELECT event_type, pos // 2 AS pos,
             SUM(CASE WHEN pos % 2 = 0 THEN a END) AS x,
             SUM(CASE WHEN pos % 2 = 1 THEN a END) AS y
      FROM {prev} GROUP BY 1, 2 HAVING COUNT(*) = 2
    ),
    lvl{k} AS (
      SELECT event_type, pos, (x + y) / 2 AS a, (x - y) / 2 AS d
      FROM pair{k}
    )"""
        prev = f"lvl{k}"
    unions = "\n      UNION ALL\n".join(
        f"      SELECT event_type, {k} AS level, SUM(d * d) AS energy, "
        f"COUNT(*) AS n_coeffs FROM lvl{k} GROUP BY event_type"
        for k in range(1, _HAAR_LEVELS + 1)
    )
    sql += f"""
    SELECT event_type, level,
           floor(energy * 10000 + 0.5) / 10000 AS energy, n_coeffs
    FROM (
{unions}
    )
    ORDER BY event_type, level
    """
    return sql


@query("events_haar_wavelet", oracle=_haar_oracle())
def events_haar_wavelet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-level Haar wavelet decomposition of each type's hourly volume:
    consecutive hours pair into (average, detail) recursively; the
    per-level detail ENERGY (sum of squared coefficients) says at which
    time scale the variance lives — hour-to-hour jitter (level 1) vs
    8-hour drift (level 3). Unpaired tail elements drop (full pairs
    only, HAVING COUNT(*)=2 both engines). Every coefficient is an
    integer count halved k<=3 times — a dyadic rational exactly
    representable in doubles — so both engines compute IDENTICAL values
    in any aggregation order (no float-determinism caveat at all).

    Scale: the decomposition runs over the hourly aggregate; each level
    halves the row count, and every pairing is a keyed (type, pos/2)
    aggregation — the classic log-depth tree reduction.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("h")
    lvl = (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count("*").cast("double").alias("a"))
        .select(
            "event_type",
            (F.row_number().over(w) - 1).alias("pos"),
            "a",
        )
    )
    energies = []
    for k in range(1, _HAAR_LEVELS + 1):
        paired = (
            lvl.groupBy(
                "event_type", F.expr("pos div 2").alias("ppos")
            )
            .agg(
                F.sum(F.when(F.col("pos") % 2 == 0, F.col("a"))).alias(
                    "x"
                ),
                F.sum(F.when(F.col("pos") % 2 == 1, F.col("a"))).alias(
                    "y"
                ),
                F.count("*").alias("cnt"),
            )
            .filter(F.col("cnt") == 2)
            .select(
                "event_type",
                F.col("ppos").alias("pos"),
                ((F.col("x") + F.col("y")) / 2).alias("a"),
                ((F.col("x") - F.col("y")) / 2).alias("d"),
            )
        )
        energies.append(
            paired.groupBy("event_type").agg(
                F.lit(k).alias("level"),
                quantize(F.sum(F.col("d") * F.col("d")), 4).alias("energy"),
                F.count("*").alias("n_coeffs"),
            )
        )
        lvl = paired.select("event_type", "pos", "a")
    out = energies[0]
    for x in energies[1:]:
        out = out.unionByName(x)
    return out.select(
        "event_type", "level", "energy", "n_coeffs"
    ).orderBy("event_type", "level")


# -------------------------------------------------- periodogram

_PERIODS = (6, 12, 24, 168)


def _periodogram_oracle() -> str:
    periods = ", ".join(f"({p})" for p in _PERIODS)
    return f"""
    WITH hourly AS (
      SELECT event_type, epoch(date_trunc('hour', ts)) // 3600 AS t,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    periods(p) AS (VALUES {periods}),
    mom AS (
      SELECT h.event_type, p.p, COUNT(*) AS n, AVG(h.c) AS mean_c,
             SUM(h.c * cos(2 * pi() * h.t / p.p)) AS sc,
             SUM(h.c * sin(2 * pi() * h.t / p.p)) AS ss
      FROM hourly h CROSS JOIN periods p
      GROUP BY 1, 2
    )
    SELECT event_type, p AS period_h,
           floor(sqrt(sc * sc + ss * ss) / n * 10000 + 0.5) / 10000
             AS amplitude
    FROM mom
    ORDER BY event_type, period_h
    """


@query("events_periodogram", oracle=_periodogram_oracle())
def events_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DFT periodogram at candidate periods (6/12/24/168 h): the
    normalized spectral amplitude sqrt(Sc^2+Ss^2)/n of each type's
    hourly volume, where Sc/Ss are the cosine/sine projections at the
    candidate frequency — the detector that FINDS the dominant
    seasonality (`events_seasonality_r2` then quantifies an assumed
    one). Hour indices are exact integers; the trig projections are
    the only floats, normalized before the 4-decimal quantization.

    Scale: one hourly reduction, then a 4-row broadcast of candidate
    periods and a per-(type, period) sum — the whole spectrum probe
    costs one extra narrow aggregation over the hourly table.
    """
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        (
            F.unix_timestamp(F.date_trunc("hour", "ts"))
            / F.lit(3600)
        )
        .cast("bigint")
        .alias("t"),
    ).agg(F.count("*").alias("c"))
    periods = spark.createDataFrame([(p,) for p in _PERIODS], ["p"])
    two_pi = 2.0 * 3.141592653589793
    mom = (
        hourly.crossJoin(F.broadcast(periods))
        .groupBy("event_type", "p")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.col("c") * F.cos(two_pi * F.col("t") / F.col("p"))
            ).alias("sc"),
            F.sum(
                F.col("c") * F.sin(two_pi * F.col("t") / F.col("p"))
            ).alias("ss"),
        )
    )
    amp = F.sqrt(F.col("sc") * F.col("sc") + F.col("ss") * F.col("ss"))
    return (
        mom.select(
            "event_type",
            F.col("p").alias("period_h"),
            quantize(amp / F.col("n"), 4).alias("amplitude"),
        )
        .orderBy("event_type", "period_h")
    )


# -------------------------------------------------- Flesch readability


@query(
    "text_readability_flesch",
    oracle=r"""
    WITH c AS (
      SELECT doc_id,
             len(regexp_extract_all(lower(trim(text)), '\S+')) AS words,
             greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
               AS sentences,
             greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')),
                      1) AS syllables
      FROM documents
    )
    SELECT doc_id, words, sentences, syllables,
           floor((206.835 - 1.015 * (words * 1.0 / sentences)
                  - 84.6 * (syllables * 1.0 / words))
                 * 10000 + 0.5) / 10000 AS flesch
    FROM c WHERE words > 0
    ORDER BY doc_id
    """,
)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document from three regex counts — words
    (\\S+ runs), sentences ([.!?]+ runs, floored at 1), syllables
    (vowel-group approximation, the standard cheap estimator):
    206.835 - 1.015*(W/S) - 84.6*(Sy/W). The readability gate that
    complements `text_gopher_quality` (structure) and
    `text_quality_score` (composition) with a grade-level signal.

    Scale: pure narrow regexp_count projections, integer counts, one
    quantized float at the end — codegen all the way, no shuffle before
    the output sort.
    """
    d = load(spark, sf_dir, "documents")
    words = F.regexp_count(F.lower(F.trim(F.col("text"))), F.lit(r"\S+"))
    sentences = F.greatest(
        F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1)
    )
    syllables = F.greatest(
        F.regexp_count(F.lower(F.col("text")), F.lit(r"[aeiouy]+")),
        F.lit(1),
    )
    c = d.select(
        "doc_id",
        words.alias("words"),
        sentences.alias("sentences"),
        syllables.alias("syllables"),
    ).filter(F.col("words") > 0)
    flesch = (
        206.835
        - 1.015 * (F.col("words") * 1.0 / F.col("sentences"))
        - 84.6 * (F.col("syllables") * 1.0 / F.col("words"))
    )
    return c.select(
        "doc_id", "words", "sentences", "syllables",
        quantize(flesch, 4).alias("flesch"),
    ).orderBy("doc_id")


# -------------------------------------------------- difference-in-differences

_DID_CUTOVER = "2024-01-16"


@query(
    "events_diff_in_diff",
    oracle=f"""
    WITH cells AS (
      SELECT CAST(user_id % 2 = 1 AS BOOLEAN) AS treated,
             CAST(ts >= TIMESTAMP '{_DID_CUTOVER}' AS BOOLEAN) AS post,
             SUM(value) AS sv, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT MAX(CASE WHEN treated AND post THEN sv / n END) AS tp,
             MAX(CASE WHEN treated AND NOT post THEN sv / n END) AS tr,
             MAX(CASE WHEN NOT treated AND post THEN sv / n END) AS cp,
             MAX(CASE WHEN NOT treated AND NOT post THEN sv / n END)
               AS cr
      FROM cells
    )
    SELECT c.treated, c.post, c.n,
           floor(c.sv / c.n * 10000 + 0.5) / 10000 AS mean_value,
           floor(((m.tp - m.tr) - (m.cp - m.cr)) * 10000 + 0.5) / 10000
             AS did_estimate
    FROM cells c CROSS JOIN m
    ORDER BY c.treated, c.post
    """,
)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences over a cutover date: users split into
    treatment (odd id) and control, periods into pre/post {c}; the DiD
    effect (treated post-pre delta minus control post-pre delta) nets
    out both group baselines and secular trends — the standard causal
    estimate when a feature ships at a date rather than per-user
    random assignment. The 2x2 cell means ride along so the estimate
    is auditable; all from exact sums, quantized once.

    Scale: a single 4-cell aggregation (map-side combinable) plus a
    1-row broadcast for the cross-cell arithmetic.
    """.format(c=_DID_CUTOVER)
    e = load(spark, sf_dir, "events")
    cells = e.groupBy(
        (F.col("user_id") % 2 == 1).alias("treated"),
        (F.col("ts") >= F.lit(_DID_CUTOVER).cast("timestamp")).alias(
            "post"
        ),
    ).agg(F.sum("value").alias("sv"), F.count("*").alias("n"))
    mean = F.col("sv") / F.col("n")
    m = cells.agg(
        F.max(F.when(F.col("treated") & F.col("post"), mean)).alias("tp"),
        F.max(
            F.when(F.col("treated") & ~F.col("post"), mean)
        ).alias("tr"),
        F.max(
            F.when(~F.col("treated") & F.col("post"), mean)
        ).alias("cp"),
        F.max(
            F.when(~F.col("treated") & ~F.col("post"), mean)
        ).alias("cr"),
    )
    did = (F.col("tp") - F.col("tr")) - (F.col("cp") - F.col("cr"))
    return (
        cells.crossJoin(F.broadcast(m))
        .select(
            "treated",
            "post",
            "n",
            quantize(mean, 4).alias("mean_value"),
            quantize(did, 4).alias("did_estimate"),
        )
        .orderBy("treated", "post")
    )
