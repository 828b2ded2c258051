"""Round-4 batch 42: Croston intermittent-demand forecast, temperature-
scaled mix weights, running-record counts, MATTR lexical diversity.

- `orders_croston_forecast` — Croston's method, the standard forecaster
  for INTERMITTENT demand (many zero weeks): separate exponential
  smoothing of nonzero demand sizes and inter-demand intervals, forecast
  = size/interval. EOQ/newsvendor (batches 35/37) consume exactly this
  number for slow-moving parts.
- `documents_temperature_mix_weights` — temperature-scaled source
  sampling (w_s ~ n_s^alpha, alpha = 0.7): the multilingual/multi-domain
  rebalancing rule LLM data mixes use to up-sample small sources without
  flattening large ones; reports raw vs scaled shares and the effective
  epoch count per source.
- `events_running_records` — count and timing of running maxima per
  stream: an i.i.d. series produces ~ln(n) records, so a record excess
  is a cheap drift/trend alarm that needs no distributional assumptions.
- `text_mattr_lexical_diversity` — Moving-Average Type-Token Ratio
  (Covington & McFall): TTR averaged over sliding 25-word windows, the
  length-robust lexical-diversity score (raw TTR collapses as documents
  grow; MATTR does not), alongside raw TTR for contrast.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
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


# ------------------------------------------------ Croston's forecast

_CR_A = 0.25  # smoothing constant for both size and interval
_CR_TOP = 10  # parts reported


@query(
    "orders_croston_forecast",
    oracle=f"""
    WITH RECURSIVE weekly AS (
      SELECT l_partkey, date_trunc('week', l_shipdate) AS wk,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS d
      FROM lineitem GROUP BY 1, 2
    ),
    top_parts AS (
      SELECT l_partkey FROM weekly
      GROUP BY 1 ORDER BY COUNT(*) DESC, l_partkey LIMIT {_CR_TOP}
    ),
    seq AS (
      -- nonzero-demand weeks in order, with the CALENDAR-week interval
      -- since the previous demand (first interval = 1 by convention)
      SELECT w.l_partkey, w.wk, w.d,
             row_number() OVER (PARTITION BY w.l_partkey
                                ORDER BY w.wk) AS k,
             COALESCE(CAST((epoch(w.wk)
                            - epoch(lag(w.wk) OVER (
                                PARTITION BY w.l_partkey ORDER BY w.wk)))
                           / 604800 AS BIGINT), 1) AS iv
      FROM weekly w JOIN top_parts t ON t.l_partkey = w.l_partkey
    ),
    rec AS (
      SELECT l_partkey, k, wk, d,
             d AS z, CAST(iv AS DOUBLE) AS p
      FROM seq WHERE k = 1
      UNION ALL
      SELECT s.l_partkey, s.k, s.wk, s.d,
             {_CR_A} * s.d + {1 - _CR_A} * r.z,
             {_CR_A} * s.iv + {1 - _CR_A} * r.p
      FROM seq s JOIN rec r
        ON s.l_partkey = r.l_partkey AND s.k = r.k + 1
    )
    SELECT l_partkey, CAST(MAX(k) AS BIGINT) AS n_demands,
           floor(arg_max(z, k) * 10000 + 0.5) / 10000 AS size_hat,
           floor(arg_max(p, k) * 10000 + 0.5) / 10000 AS interval_hat,
           floor(arg_max(z, k) / arg_max(p, k) * 10000 + 0.5) / 10000
             AS croston_rate
    FROM rec GROUP BY l_partkey
    ORDER BY l_partkey
    """,
)
def orders_croston_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's intermittent-demand forecast per part (top-{t} parts by
    demand-week count): exponential smoothing (alpha={a}) of nonzero
    weekly demand sizes z and of the intervals p between demand weeks;
    the demand-rate forecast is z_hat/p_hat.

    The two coupled recurrences update only on demand EVENTS, so the
    fold input is the nonzero weekly series (tiny after aggregation);
    the Python fold follows the `events_holt_trend` discipline — heavy
    reduction first, applyInPandas over per-part event sequences. Both
    engines evaluate identical double expression trees in identical
    order (the oracle is a recursive CTE), so values match
    bit-for-bit before quantization.
    """.format(t=_CR_TOP, a=_CR_A)
    import pandas as pd

    li = load(spark, sf_dir, "lineitem")
    weekly = li.groupBy(
        "l_partkey", F.date_trunc("week", "l_shipdate").alias("wk")
    ).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,6)"))
        .cast("double")
        .alias("d")
    )
    top = (
        weekly.groupBy("l_partkey")
        .agg(F.count("*").alias("nw"))
        .orderBy(F.desc("nw"), F.asc("l_partkey"))
        .limit(_CR_TOP)
        .select("l_partkey")
    )
    dem = weekly.join(F.broadcast(top), "l_partkey")

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("wk", kind="stable").reset_index(drop=True)
        z = p = None
        wks = pdf["wk"].tolist()
        for k in range(len(pdf)):
            d = float(pdf["d"].iloc[k])
            if k == 0:
                z, p = d, 1.0
            else:
                # calendar weeks since previous demand (exact integer)
                iv = float(int((wks[k] - wks[k - 1]).total_seconds())
                           // 604800)
                z = _CR_A * d + (1 - _CR_A) * z
                p = _CR_A * iv + (1 - _CR_A) * p
        return pd.DataFrame(
            {
                "l_partkey": [pdf["l_partkey"].iloc[0]],
                "n_demands": [len(pdf)],
                "size_hat": [z],
                "interval_hat": [p],
            }
        )

    folded = dem.groupBy("l_partkey").applyInPandas(
        fold,
        "l_partkey BIGINT, n_demands BIGINT, size_hat DOUBLE,"
        " interval_hat DOUBLE",
    )
    return folded.select(
        "l_partkey",
        "n_demands",
        quantize(F.col("size_hat"), 4).alias("size_hat"),
        quantize(F.col("interval_hat"), 4).alias("interval_hat"),
        quantize(F.col("size_hat") / F.col("interval_hat"), 4).alias(
            "croston_rate"
        ),
    ).orderBy("l_partkey")


# ------------------------------------- temperature-scaled mix weights

_MIX_ALPHA = 0.7


@query(
    "documents_temperature_mix_weights",
    oracle=f"""
    WITH s AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars
      FROM documents GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n_chars) AS BIGINT) AS chars_total,
             CAST(SUM(CAST(pow(n_chars, {_MIX_ALPHA}) AS DECIMAL(24,8)))
                  AS DOUBLE) AS pow_total
      FROM s
    )
    SELECT s.source, s.n_docs, s.n_chars,
           floor(CAST(s.n_chars AS DOUBLE) / NULLIF(t.chars_total, 0)
                 * 10000 + 0.5) / 10000 AS raw_share,
           floor(pow(s.n_chars, {_MIX_ALPHA}) / NULLIF(t.pow_total, 0)
                 * 10000 + 0.5) / 10000 AS temp_share,
           floor(pow(s.n_chars, {_MIX_ALPHA}) / NULLIF(t.pow_total, 0)
                 / NULLIF(CAST(s.n_chars AS DOUBLE)
                          / NULLIF(t.chars_total, 0), 0)
                 * 10000 + 0.5) / 10000 AS effective_epochs
    FROM s CROSS JOIN tot t
    ORDER BY s.source
    """,
)
def documents_temperature_mix_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-scaled sampling weights per source (alpha={a}):
    w_s ~ n_s^alpha normalized — the standard LLM-data-mix rule that
    up-samples small sources; `effective_epochs` (= scaled share / raw
    share) is how many passes over each source one epoch of the mix
    implies (> 1 for small sources = repetition pressure to watch).

    One count per source, one 1-row broadcast of the two normalizers,
    closed-form scalar arithmetic (pow agrees to ~1 ulp, inside the
    4-decimal quantum).
    """.format(a=_MIX_ALPHA)
    d = load(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("n_chars")
    )
    tot = s.agg(
        F.sum("n_chars").alias("chars_total"),
        F.sum(
            F.pow(F.col("n_chars"), _MIX_ALPHA).cast("decimal(24,8)")
        )
        .cast("double")
        .alias("pow_total"),
    )
    # all-empty corpora (chars_total = 0) must yield NULL shares, never
    # DIVIDE_BY_ZERO (fuzz-caught)
    raw = F.try_divide(
        F.col("n_chars").cast("double"),
        F.nullif(F.col("chars_total"), F.lit(0)),
    )
    temp = F.try_divide(
        F.pow(F.col("n_chars"), _MIX_ALPHA),
        F.nullif(F.col("pow_total"), F.lit(0.0)),
    )
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_chars",
            quantize(raw, 4).alias("raw_share"),
            quantize(temp, 4).alias("temp_share"),
            quantize(
                F.try_divide(temp, F.nullif(raw, F.lit(0.0))), 4
            ).alias("effective_epochs"),
        )
        .orderBy("source")
    )


# --------------------------------------------------- running records


@query(
    "events_running_records",
    oracle=f"""
    WITH seq AS (
      SELECT event_type, ts, event_id, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS rn,
             CASE WHEN value > MAX(value) OVER (PARTITION BY event_type
                    ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  OR row_number() OVER (PARTITION BY event_type
                                        ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS is_record
      FROM events
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(is_record) AS BIGINT) AS n_records,
           floor(ln(COUNT(*)) * 10000 + 0.5) / 10000 AS expected_iid,
           CAST(MAX(CASE WHEN is_record = 1 THEN rn END) AS BIGINT)
             AS last_record_rn,
           strftime(MAX(CASE WHEN is_record = 1 THEN ts END),
                    '{DUCK_TS_FMT}') AS last_record_ts
    FROM seq GROUP BY event_type ORDER BY event_type
    """,
)
def events_running_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-record census per stream: how many times the series set a
    new all-time maximum, when the latest record happened, and the
    ~ln(n) count an i.i.d. series would produce — record excess is a
    distribution-free trend/drift alarm (Glick 1978).

    One ordered window pass (running max + row_number share the sort)
    and one aggregation; `last_record_ts` rides the same MAX because
    records are found at increasing rn.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    seq = e.select(
        "event_type",
        "ts",
        "value",
        F.row_number().over(w).alias("rn"),
        F.max("value").over(wprev).alias("prev_max"),
    ).select(
        "event_type",
        "ts",
        "rn",
        F.when(
            (F.col("rn") == 1) | (F.col("value") > F.col("prev_max")), 1
        )
        .otherwise(0)
        .alias("is_record"),
    )
    return (
        seq.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("is_record").alias("n_records"),
            quantize(F.log(F.count("*")), 4).alias("expected_iid"),
            F.max(
                F.when(F.col("is_record") == 1, F.col("rn"))
            ).alias("last_record_rn"),
            F.date_format(
                F.max(F.when(F.col("is_record") == 1, F.col("ts"))),
                SPARK_TS_FMT,
            ).alias("last_record_ts"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------------ MATTR lexical diversity

_MATTR_W = 25


@query(
    "text_mattr_lexical_diversity",
    oracle=rf"""
    WITH words AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\s+') AS ws
      FROM documents
    ),
    tok AS (
      SELECT doc_id, t.i AS pos, ws[t.i] AS w, len(ws) AS n
      FROM words, unnest(generate_series(1, len(ws))) AS t(i)
    ),
    ttr AS (
      SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_tokens,
             CAST(COUNT(DISTINCT w) AS BIGINT) AS n_types
      FROM tok GROUP BY doc_id
    ),
    winstart AS (
      SELECT t.doc_id, s.pos AS start
      FROM ttr t
      JOIN tok s ON s.doc_id = t.doc_id
      WHERE t.n_tokens >= {_MATTR_W}
        AND s.pos <= t.n_tokens - {_MATTR_W} + 1
    ),
    wint AS (
      SELECT ws.doc_id, ws.start,
             CAST(COUNT(DISTINCT tk.w) AS BIGINT) AS types
      FROM winstart ws
      JOIN tok tk ON tk.doc_id = ws.doc_id
       AND tk.pos >= ws.start AND tk.pos < ws.start + {_MATTR_W}
      GROUP BY 1, 2
    ),
    mattr AS (
      SELECT doc_id,
             CAST(SUM(CAST(types * 1.0 / {_MATTR_W} AS DECIMAL(18,10)))
                  AS DOUBLE) / COUNT(*) AS mattr
      FROM wint GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_tokens,
           floor(CAST(t.n_types AS DOUBLE) / t.n_tokens * 10000 + 0.5)
             / 10000 AS raw_ttr,
           floor(m.mattr * 10000 + 0.5) / 10000 AS mattr
    FROM ttr t JOIN mattr m ON m.doc_id = t.doc_id
    ORDER BY t.doc_id
    """,
)
def text_mattr_lexical_diversity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MATTR (window {w}): type-token ratio averaged over every sliding
    {w}-word window, next to the raw TTR it corrects — raw TTR falls
    mechanically with document length, MATTR stays comparable across
    lengths, so it is the right lexical-diversity filter signal.

    The oracle is the definitional per-window DISTINCT; the Spark side
    runs the O(n) last-occurrence formulation instead of the
    (n-w+1)*w fan-out: a token at position p is a window-s type iff its
    previous occurrence is before s, so its total contribution to
    sum_s types(s) is the exact integer
    |[max(p-w+1, 1, prev+1), min(p, n-w+1)]| — one lag window per
    document replaces per-window distinct counting (benched 4.4s ->
    ~1.5s at sf0.1, the former headline-slowest). sum(types)/w is a
    2-decimal-exact rational, so the integer sum divided by w*count is
    bit-identical to the oracle's per-window DECIMAL(18,10) average.
    """.format(w=_MATTR_W)
    d = load(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("ws"),
    )
    tok = words.select(
        "doc_id",
        F.posexplode("ws").alias("pos0", "w"),
        F.size("ws").alias("n"),
    ).select(
        "doc_id", (F.col("pos0") + 1).alias("pos"), "w", "n"
    )
    ttr = tok.groupBy("doc_id").agg(
        F.max("n").alias("n_tokens"),
        F.countDistinct("w").alias("n_types"),
    )
    wprev = Window.partitionBy("doc_id", "w").orderBy("pos")
    contrib = tok.select(
        "doc_id",
        "n",
        "pos",
        F.coalesce(F.lag("pos").over(wprev), F.lit(0)).alias("prev"),
    ).select(
        "doc_id",
        "n",
        F.greatest(
            F.lit(0),
            F.least(F.col("pos"), F.col("n") - _MATTR_W + 1)
            - F.greatest(
                F.col("pos") - _MATTR_W + 1,
                F.lit(1),
                F.col("prev") + 1,
            )
            + 1,
        ).alias("contrib"),
    )
    mattr = (
        contrib.filter(F.col("n") >= _MATTR_W)
        .groupBy("doc_id", "n")
        .agg(F.sum("contrib").alias("type_sum"))
        .select(
            "doc_id",
            (
                F.col("type_sum").cast("double")
                / _MATTR_W
                / (F.col("n") - _MATTR_W + 1)
            ).alias("mattr"),
        )
    )
    return (
        ttr.join(mattr, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            quantize(
                F.col("n_types").cast("double") / F.col("n_tokens"), 4
            ).alias("raw_ttr"),
            quantize(F.col("mattr"), 4).alias("mattr"),
        )
        .orderBy("doc_id")
    )
