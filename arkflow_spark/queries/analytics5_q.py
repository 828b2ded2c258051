"""Round-3 fourth-session batch: rolling median smoothing, containment
dedup, marketing attribution, discrete length-band filtering, CUSUM drift
alarms, and URL parsing.

Training-pipeline / product-analytics operators the reference's users run
through DataFusion SQL plus custom code; here each is a Catalyst plan (or
an `applyInPandas` fold where the recurrence is data-dependent) with a
DuckDB oracle that replays identical arithmetic:

- `window_rolling_median` — robust per-series smoothing. Spark cannot put
  a frame on `median()` (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC), so the
  frame's values are collected and sorted per row (`collect_list` over a
  7-row frame + `array_sort`) and the middle is read out — both engines
  then compute the SAME (a+b)/2 double op, sidestepping quantile_cont
  interpolation-formula drift.
- `dedup_containment` — asymmetric near-dup detection (quote/sub-document
  inclusion) that Jaccard misses: shared/|smaller| with rare-shingle
  blocking, the standard containment-join pruning.
- `events_attribution` — last-touch attribution with a 24 h lookback,
  conversion analytics over the event stream.
- `documents_length_band_filter` — per-language p05/p95 length trimming
  using DISCRETE order statistics (integer positions, integer values), so
  the band edges are bit-identical across engines.
- `events_cusum_alarm` — CUSUM drift detection with reset-on-alarm; the
  recurrence S_t = max(0, S_{t-1} + (x_t - mu) - k) is data-dependent
  (no fixed frame expresses the reset), the canonical per-key
  `applyInPandas` fold, oracled by a DuckDB recursive CTE.
- `scalar_url_parse` — Spark's `parse_url` family (DataFusion reaches URL
  parsing only through regexes; docs/docs/sql/7-scalar_functions.md:1765)
  with the oracle emulating each part via the equivalent regexp.
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
from arkflow_spark.queries.dedup_q import _ORACLE_SHINGLES, _shingles
from arkflow_spark.tables import load


# -------------------------------------------------- rolling median

_MED_FRAME = 6  # 6 preceding + current row = 7-row window


@query(
    "window_rolling_median",
    oracle=f"""
    WITH s AS (
      SELECT event_id, event_type, ts, value,
             list_sort(array_agg(value) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN {_MED_FRAME} PRECEDING AND CURRENT ROW)) AS l
      FROM events
    )
    SELECT event_id, event_type, strftime(ts, '{DUCK_TS_FMT}') AS ts, value,
           floor((CASE WHEN len(l) % 2 = 1 THEN l[len(l) // 2 + 1]
                       ELSE (l[len(l) // 2] + l[len(l) // 2 + 1]) / 2
                  END) * 10000 + 0.5) / 10000 AS roll_med
    FROM s
    ORDER BY event_id
    """,
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-row median of `value` per event_type series — the robust
    smoother (spike-resistant, unlike the rolling mean / EWMA in
    `events_ewma`). Spark rejects window frames on `median()`; the exact
    equivalent is collect-the-frame + `array_sort` + middle element, all
    JVM-side expressions inside one Window node: one shuffle on
    event_type, one sort, O(k log k) per row for frame width k=7.

    At 100 TB the frame stays k rows regardless of scale — cost is linear
    in rows; for very wide frames swap in a two-heap pandas fold per
    series (same applyInPandas shape as `events_cusum_alarm`).
    """
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-_MED_FRAME, 0)
    )
    s = F.array_sort(F.collect_list("value").over(w))
    e = e.select(
        "event_id", "event_type",
        F.date_format("ts", SPARK_TS_FMT).alias("ts"), "value",
        s.alias("l"),
    )
    n = F.size("l")
    lo = (n / 2).cast("int")  # truncates: n=7 -> 3; n=6 -> 3
    med = F.when(
        n % 2 == 1, F.element_at("l", lo + 1)
    ).otherwise((F.element_at("l", lo) + F.element_at("l", lo + 1)) / 2)
    return (
        e.select(
            "event_id", "event_type", "ts", "value",
            quantize(med, 4).alias("roll_med"),
        )
        .orderBy("event_id")
    )


# -------------------------------------------------- containment dedup

_DF_CAP = 10       # rare shingle = appears in <= 10 docs
_MIN_SHARED = 2    # candidate pairs share >= 2 rare shingles
_CONT_T = 0.6


@query(
    "dedup_containment",
    oracle=f"""
    WITH {_ORACLE_SHINGLES},
    rare AS (
      SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {_DF_CAP}
    ),
    rsh AS (SELECT sh.* FROM sh JOIN rare USING (shingle)),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM rsh a JOIN rsh b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= {_MIN_SHARED}
    ),
    verified AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS shared
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT v.doc_a, v.doc_b, v.shared,
           LEAST(sa.n, sb.n) AS n_small,
           floor(v.shared * 1.0 / LEAST(sa.n, sb.n) * 10000 + 0.5) / 10000
             AS containment
    FROM verified v
    JOIN sizes sa ON sa.doc_id = v.doc_a
    JOIN sizes sb ON sb.doc_id = v.doc_b
    WHERE v.shared * 1.0 / LEAST(sa.n, sb.n) >= {_CONT_T}
    ORDER BY doc_a, doc_b
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs: shared-shingles / |smaller set| >=
    {t}. Containment catches ASYMMETRIC duplication — a short doc quoted
    inside a long one — where Jaccard (shared/union) stays low because
    the union is dominated by the long doc; it is the sub-document dedup
    gate a training pipeline runs after whole-doc MinHash.

    Scale shape: candidate generation joins only RARE shingles (document
    frequency <= {cap}, >= {m} shared) — the standard containment-join
    blocking: high-containment pairs share many of the smaller doc's
    shingles, so requiring {m} rare ones keeps recall while the df cap
    bounds every posting list (join fan-out <= cap^2 per shingle, never
    corpus-quadratic; frequent shingles carry no pair signal). Exact
    containment then runs on candidates only, shipping each doc's
    shingle set as one array (same verify shape as dedup_minhash_lsh).
    """.format(t=_CONT_T, cap=_DF_CAP, m=_MIN_SHARED)
    sh = _shingles(spark, sf_dir).persist()
    rare = sh.groupBy("shingle").agg(F.count("*").alias("df")).filter(
        F.col("df") <= _DF_CAP
    )
    rsh = sh.join(rare.select("shingle"), "shingle")
    a, b = rsh.alias("a"), rsh.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("shared_rare"))
        .filter(F.col("shared_rare") >= _MIN_SHARED)
        .select("doc_a", "doc_b")
    )
    sets = sh.groupBy("doc_id").agg(
        F.collect_set("shingle").alias("shs"), F.count("*").alias("n")
    )
    sa = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shs").alias("sh_a"), F.col("n").alias("n_a"),
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shs").alias("sh_b"), F.col("n").alias("n_b"),
    )
    shared = F.size(F.array_intersect("sh_a", "sh_b"))
    small = F.least("n_a", "n_b")
    cont = shared * 1.0 / small
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(cont >= _CONT_T)
        .select(
            "doc_a", "doc_b",
            shared.alias("shared"),
            small.alias("n_small"),
            quantize(cont, 4).alias("containment"),
        )
        .orderBy("doc_a", "doc_b")
    )


# -------------------------------------------------- last-touch attribution

_LOOKBACK_US = 24 * 3600 * 1_000_000


@query(
    "events_attribution",
    oracle=f"""
    WITH w AS (
      SELECT event_id, user_id, ts, event_type,
             last_value(CASE WHEN event_type IN ('click', 'view')
                             THEN event_type END IGNORE NULLS)
               OVER tail AS lt_type,
             last_value(CASE WHEN event_type IN ('click', 'view')
                             THEN ts END IGNORE NULLS)
               OVER tail AS lt_ts,
             SUM(CASE WHEN event_type IN ('click', 'view') THEN 1 ELSE 0
                 END) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN {_LOOKBACK_US} PRECEDING AND 1 PRECEDING)
               AS touches_24h
      FROM events
      WINDOW tail AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id, strftime(ts, '{DUCK_TS_FMT}') AS ts,
           CAST(COALESCE(touches_24h, 0) AS BIGINT) AS touches_24h,
           CASE WHEN lt_ts >= ts - INTERVAL 24 HOURS THEN lt_type END
             AS last_touch_type,
           CASE WHEN lt_ts >= ts - INTERVAL 24 HOURS
                THEN strftime(lt_ts, '{DUCK_TS_FMT}') END AS last_touch_ts,
           COALESCE(lt_ts >= ts - INTERVAL 24 HOURS, FALSE) AS attributed
    FROM w
    WHERE event_type = 'purchase'
    ORDER BY event_id
    """,
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the user's
    most recent click/view touch within a 24 h lookback, plus the touch
    count inside that window — the conversion-attribution query marketing
    pipelines run on the event stream.

    Two windows over ONE (user_id) partitioning: a rows-frame
    `last(..., ignorenulls)` carries the latest touch forward (then aged
    out by the 24 h comparison), and a range-frame over unix microseconds
    counts lookback touches (frame end -1 us excludes the purchase
    itself). Single shuffle + sort; both windows share the sort order, so
    Catalyst stacks them in one Window chain. At 100 TB this scales with
    the user dimension like every per-user window here.
    """
    e = load(spark, sf_dir, "events")
    touch = F.col("event_type").isin("click", "view")
    w_tail = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lt = F.last(
        F.when(
            touch,
            F.struct(F.col("ts").alias("t_ts"), F.col("event_type").alias("t_type")),
        ),
        ignorenulls=True,
    ).over(w_tail)
    w_rng = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-_LOOKBACK_US, -1)
    )
    touches = F.sum(F.when(touch, 1).otherwise(0)).over(w_rng)
    staged = e.select(
        "event_id", "user_id", "ts", "event_type",
        lt.alias("lt"), F.coalesce(touches, F.lit(0)).alias("touches_24h"),
    )
    fresh = F.col("lt.t_ts") >= F.col("ts") - F.expr("INTERVAL 24 HOURS")
    return (
        staged.filter(F.col("event_type") == "purchase")
        .select(
            "event_id", "user_id",
            F.date_format("ts", SPARK_TS_FMT).alias("ts"),
            "touches_24h",
            F.when(fresh, F.col("lt.t_type")).alias("last_touch_type"),
            F.when(
                fresh, F.date_format("lt.t_ts", SPARK_TS_FMT)
            ).alias("last_touch_ts"),
            F.coalesce(fresh, F.lit(False)).alias("attributed"),
        )
        .orderBy("event_id")
    )


# -------------------------------------------------- length-band filter


@query(
    "documents_length_band_filter",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY lang
                                ORDER BY n_chars, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS cnt
      FROM documents
    ),
    bands AS (
      SELECT lang,
             MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.05 * cnt) AS BIGINT))
                      THEN n_chars END) AS lo,
             MAX(CASE WHEN rn = CAST(ceil(0.95 * cnt) AS BIGINT)
                      THEN n_chars END) AS hi
      FROM ranked GROUP BY lang
    )
    SELECT d.doc_id, d.lang, d.n_chars, b.lo, b.hi
    FROM documents d JOIN bands b ON d.lang = b.lang
    WHERE d.n_chars >= b.lo AND d.n_chars <= b.hi
    ORDER BY d.doc_id
    """,
)
def documents_length_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length-outlier trimming: keep documents whose n_chars
    lies inside the [p05, p95] band of their language — the standard
    "too short / absurdly long" pre-training filter, with DISCRETE
    percentiles (the value at integer rank ceil(p*n)), so band edges are
    integers computed identically in both engines — no quantile_cont
    interpolation floats anywhere.

    Plan: one window (rank + count per lang) -> 5-row band table ->
    broadcast join back. The band aggregate is a per-lang reduction; the
    re-join is a broadcast at any corpus size (bands ~ #languages).
    """
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = d.select(
        "doc_id", "lang", "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("lang")).alias("cnt"),
    )
    k_lo = F.greatest(F.lit(1), F.ceil(0.05 * F.col("cnt")))
    k_hi = F.ceil(0.95 * F.col("cnt"))
    bands = ranked.groupBy("lang").agg(
        F.max(F.when(F.col("rn") == k_lo, F.col("n_chars"))).alias("lo"),
        F.max(F.when(F.col("rn") == k_hi, F.col("n_chars"))).alias("hi"),
    )
    return (
        d.join(F.broadcast(bands), "lang")
        .filter((F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi")))
        .select("doc_id", "lang", "n_chars", "lo", "hi")
        .orderBy("doc_id")
    )


# -------------------------------------------------- CUSUM drift alarm

_CUSUM_K = 25.0   # slack: ~0.5 sigma of `value`
_CUSUM_H = 150.0  # alarm threshold: ~3 sigma


@query(
    "events_cusum_alarm",
    oracle=f"""
    WITH RECURSIVE mu AS (
      SELECT event_type,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*) AS mu
      FROM events GROUP BY event_type
    ),
    ev AS (
      SELECT e.user_id, e.event_type, e.ts, e.event_id, e.value, mu.mu,
             row_number() OVER (PARTITION BY e.user_id, e.event_type
                                ORDER BY e.ts, e.event_id) AS rn
      FROM events e JOIN mu USING (event_type)
    ),
    rec AS (
      SELECT user_id, event_type, ts, event_id, rn,
             GREATEST(0.0, value - mu - {_CUSUM_K}) AS s_raw,
             CASE WHEN GREATEST(0.0, value - mu - {_CUSUM_K}) > {_CUSUM_H}
                  THEN 0.0
                  ELSE GREATEST(0.0, value - mu - {_CUSUM_K}) END AS s_carry
      FROM ev WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.event_type, e.ts, e.event_id, e.rn,
             GREATEST(0.0, r.s_carry + e.value - e.mu - {_CUSUM_K}),
             CASE WHEN GREATEST(0.0, r.s_carry + e.value - e.mu - {_CUSUM_K})
                       > {_CUSUM_H}
                  THEN 0.0
                  ELSE GREATEST(0.0, r.s_carry + e.value - e.mu - {_CUSUM_K})
             END
      FROM ev e JOIN rec r
        ON e.user_id = r.user_id AND e.event_type = r.event_type
       AND e.rn = r.rn + 1
    )
    SELECT user_id, event_type, event_id,
           strftime(ts, '{DUCK_TS_FMT}') AS ts,
           floor(s_raw * 10000 + 0.5) / 10000 AS s_stat
    FROM rec
    WHERE s_raw > {_CUSUM_H}
    ORDER BY user_id, event_type, event_id
    """,
)
def events_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detection per (user, event_type) series:
    S_t = max(0, S_t-1 + (value - mu_type) - k), alarm when S_t > h,
    then RESET to zero — the classic sequential change-detection chart
    (monitoring pipelines run it on latency/spend series). The
    reset-on-alarm makes S_t a data-dependent recurrence no fixed window
    frame expresses (cf. events_running_reset_sum, whose reset trigger
    is a column value, expressible with stacked windows; here the trigger
    is the running statistic itself).

    Partition-level `mapInPandas` fold, NOT per-group `applyInPandas`:
    with O(users x types) small series, per-group Arrow round-trips
    dominate (measured 28s -> ~1s at sf0.1 for the identical fold). The
    input is repartitioned on the series key and sorted within
    partitions, the fold streams each Arrow batch and resets S at key
    boundaries, carrying (key, S) across batches — one shuffle, one
    sort, a handful of Python calls per PARTITION. mu is the exact
    decimal per-type mean broadcast-joined in, and both engines fold the
    SAME doubles in the SAME order, so the DuckDB recursive-CTE oracle
    hash-matches bit-for-bit. Keys are independent -> scales with the
    key dimension; carry state is O(1).
    """
    import pandas as pd

    e = load(spark, sf_dir, "events")
    mu = e.groupBy("event_type").agg(
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count("*")
        ).alias("mu")
    )
    src = (
        e.join(F.broadcast(mu), "event_type")
        .select("user_id", "event_type", "ts", "event_id", "value", "mu")
        .repartition("user_id", "event_type")
        .sortWithinPartitions("user_id", "event_type", "ts", "event_id")
    )

    def fold(batches):
        key = None
        s = 0.0
        for pdf in batches:
            out = []
            for uid, et, ts, eid, v, mu0 in zip(
                pdf["user_id"], pdf["event_type"], pdf["ts"],
                pdf["event_id"], pdf["value"], pdf["mu"],
            ):
                if (uid, et) != key:
                    key, s = (uid, et), 0.0
                s_raw = max(0.0, s + (float(v) - float(mu0)) - _CUSUM_K)
                if s_raw > _CUSUM_H:
                    out.append((uid, et, eid, ts, s_raw))
                    s = 0.0
                else:
                    s = s_raw
            # explicit dtypes: an alarm-free batch yields an EMPTY frame,
            # and pandas would infer object/float64 columns Arrow can't cast
            yield pd.DataFrame(
                {
                    "user_id": pd.Series(
                        [r[0] for r in out], dtype="int64"
                    ),
                    "event_type": pd.Series(
                        [r[1] for r in out], dtype="object"
                    ),
                    "event_id": pd.Series(
                        [r[2] for r in out], dtype="int64"
                    ),
                    "ts": pd.Series(
                        [r[3] for r in out], dtype="datetime64[ns]"
                    ),
                    "s_stat": pd.Series(
                        [r[4] for r in out], dtype="float64"
                    ),
                }
            )

    alarms = src.mapInPandas(
        fold,
        "user_id BIGINT, event_type STRING, event_id BIGINT, "
        "ts TIMESTAMP, s_stat DOUBLE",
    )
    return alarms.select(
        "user_id", "event_type", "event_id",
        F.date_format("ts", SPARK_TS_FMT).alias("ts"),
        quantize(F.col("s_stat"), 4).alias("s_stat"),
    ).orderBy("user_id", "event_type", "event_id")


# -------------------------------------------------- URL parsing


@query(
    "scalar_url_parse",
    oracle=r"""
    WITH u AS (
      SELECT doc_id,
             'https://www.' || source || '.example.com/' || lang ||
             '/doc-' || doc_id || '?id=' || doc_id || '&ref=abc#s-' || lang
               AS url
      FROM documents
    )
    SELECT doc_id, url,
           regexp_extract(url, '^([a-z]+)://', 1) AS protocol,
           regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
           regexp_extract(url, '^[a-z]+://[^/?#]+(/[^?#]*)', 1) AS path,
           regexp_extract(url, '[?&]id=([^&#]*)', 1) AS id_param,
           regexp_extract(url, '#(.*)$', 1) AS fragment
    FROM u
    ORDER BY doc_id
    """,
)
def scalar_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition with Spark's `parse_url` (PROTOCOL / HOST / PATH
    / QUERY-parameter / REF) over URLs derived from the corpus — the
    log-enrichment scalar family. DataFusion exposes no URL functions
    (its users fall back to regexp, docs/docs/sql/7-scalar_functions.md:
    1765); Spark has a dedicated builtin, and the oracle demonstrates the
    exact regexp equivalent of each part. Pure narrow projection — no
    shuffle, whole-stage codegen.
    """
    d = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://www."), F.col("source"), F.lit(".example.com/"),
        F.col("lang"), F.lit("/doc-"), F.col("doc_id").cast("string"),
        F.lit("?id="), F.col("doc_id").cast("string"),
        F.lit("&ref=abc#s-"), F.col("lang"),
    )
    return (
        d.select("doc_id", url.alias("url"))
        .select(
            "doc_id", "url",
            F.parse_url("url", F.lit("PROTOCOL")).alias("protocol"),
            F.parse_url("url", F.lit("HOST")).alias("host"),
            F.parse_url("url", F.lit("PATH")).alias("path"),
            F.parse_url("url", F.lit("QUERY"), F.lit("id")).alias("id_param"),
            F.parse_url("url", F.lit("REF")).alias("fragment"),
        )
        .orderBy("doc_id")
    )
