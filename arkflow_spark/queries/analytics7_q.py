"""Round-3 fourth-session batch 3: skyline (Pareto-front), burst
detection with hysteresis, bitmap-index distinct counting, RAKE keyword
extraction, and the error-safe `try_*` scalar family.

- `orders_skyline_2d` — the classic dominance/skyline query (best
  price-recency tradeoffs), solved with two window passes instead of the
  naive quadratic NOT EXISTS self-join.
- `events_burst_hysteresis` — Kleinberg-style burst state over hourly
  volume with a two-threshold Schmitt trigger (enter > mu+2sd, exit <
  mu+sd): hysteresis suppresses the flapping a single threshold causes;
  the state is a data-dependent recurrence -> per-key fold + recursive
  CTE oracle.
- `agg_bitmap_distinct` — exact COUNT(DISTINCT) via Spark's bitmap
  aggregate family (bitmap_bucket_number / bitmap_construct_agg /
  bitmap_count): the re-aggregatable distinct-count index shape
  (DataFusion has no bitmap aggregates; the oracle proves the bitmap
  path equals plain COUNT(DISTINCT)).
- `text_rake_keywords` — RAKE (Rapid Automatic Keyword Extraction):
  stopword-delimited phrases scored by word degree/frequency; the
  cheap unsupervised keyworder for corpus exploration.
- `scalar_try_functions` — try_divide/try_add/try_element_at/try_cast:
  NULL-on-error arithmetic (Spark ANSI-safe variants); oracle emulates
  each with CASE/TRY_CAST.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import DUCK_TS_FMT, SPARK_TS_FMT, query
from arkflow_spark.tables import load


# -------------------------------------------------- 2D skyline


@query(
    "orders_skyline_2d",
    oracle=f"""
    WITH w AS (
      SELECT o_orderkey, o_orderdate, o_totalprice,
             MAX(o_totalprice) OVER (
               ORDER BY epoch(o_orderdate) DESC
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS max_later,
             MAX(o_totalprice) OVER (PARTITION BY o_orderdate)
               AS max_same
      FROM orders
    )
    SELECT o_orderkey, strftime(o_orderdate, '{DUCK_TS_FMT}') AS o_orderdate,
           o_totalprice
    FROM w
    WHERE (max_later IS NULL OR max_later < o_totalprice)
      AND max_same <= o_totalprice
    ORDER BY o_orderkey
    """,
)
def orders_skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-front over (recency, price): orders not dominated
    by any other order that is BOTH at-least-as-recent and
    at-least-as-expensive (strictly better in one dimension) — the
    multi-criteria shortlist query (BNL skyline operators in research
    DBs).

    The naive formulation is a quadratic NOT EXISTS self-join; in 2D it
    collapses to running maxima over DATES: reduce orders to a per-date
    max price (one map-side-combinable aggregate — the date table is
    calendar-bounded, a few thousand rows no matter the corpus), take
    the exclusive running max over later dates on that tiny table, and
    broadcast-join the two maxima back onto orders. A point survives
    iff it beats every strictly-later date's max and ties none-worse on
    its own date. No corpus-scaled global sort anywhere.
    """
    o = load(spark, sf_dir, "orders")
    daymax = o.groupBy("o_orderdate").agg(
        F.max("o_totalprice").alias("max_same")
    )
    # running max over STRICTLY later dates: exclusive prefix on the
    # per-date table  # scale: calendar-bounded (distinct order dates)
    w_later = Window.orderBy(F.desc("o_orderdate")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    dm = daymax.select(
        "o_orderdate",
        "max_same",
        F.max("max_same").over(w_later).alias("max_later"),
    )
    staged = o.join(F.broadcast(dm), "o_orderdate").select(
        "o_orderkey", "o_orderdate", "o_totalprice",
        "max_later", "max_same",
    )
    return (
        staged.filter(
            (F.col("max_later").isNull()
             | (F.col("max_later") < F.col("o_totalprice")))
            & (F.col("max_same") <= F.col("o_totalprice"))
        )
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", SPARK_TS_FMT).alias("o_orderdate"),
            "o_totalprice",
        )
        .orderBy("o_orderkey")
    )


# -------------------------------------------------- burst hysteresis


@query(
    "events_burst_hysteresis",
    oracle=f"""
    WITH RECURSIVE hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             COUNT(*) AS cnt,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY date_trunc('hour', ts)) AS rn
      FROM events GROUP BY 1, 2
    ),
    mom AS (
      SELECT event_type,
             CAST(SUM(cnt) AS DOUBLE) / COUNT(*) AS mu,
             sqrt(CAST(SUM(cnt * cnt) AS DOUBLE) / COUNT(*)
                  - (CAST(SUM(cnt) AS DOUBLE) / COUNT(*))
                    * (CAST(SUM(cnt) AS DOUBLE) / COUNT(*))) AS sd
      FROM hourly GROUP BY event_type
    ),
    src AS (
      SELECT h.event_type, h.h, h.cnt, h.rn, m.mu, m.sd
      FROM hourly h JOIN mom m USING (event_type)
    ),
    rec AS (
      SELECT event_type, h, cnt, rn, mu, sd,
             CASE WHEN cnt > mu + 2e0 * sd THEN 1 ELSE 0 END AS burst
      FROM src WHERE rn = 1
      UNION ALL
      SELECT s.event_type, s.h, s.cnt, s.rn, s.mu, s.sd,
             CASE WHEN s.cnt > s.mu + 2e0 * s.sd THEN 1
                  WHEN s.cnt < s.mu + 1e0 * s.sd THEN 0
                  ELSE r.burst END
      FROM src s JOIN rec r
        ON s.event_type = r.event_type AND s.rn = r.rn + 1
    )
    SELECT event_type, strftime(h, '{DUCK_TS_FMT}') AS h, cnt,
           CAST(burst AS BOOLEAN) AS burst,
           CAST(burst = 1 AND COALESCE(lag(burst) OVER (
               PARTITION BY event_type ORDER BY rn), 0) = 0
             AS BOOLEAN) AS burst_start
    FROM rec
    ORDER BY event_type, h
    """,
)
def events_burst_hysteresis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection over each type's hourly volume with a two-threshold
    Schmitt trigger: enter the burst state when the count exceeds
    mu + 2sd, leave only when it drops below mu + sd, otherwise HOLD the
    previous state. The hold makes the state a data-dependent recurrence
    (a single threshold would be a plain projection — and would flap on
    every boundary-straddling hour), so the series folds per event_type
    in `applyInPandas`; the oracle replays it as a recursive CTE with
    identical double comparisons. Moments come from exact integer sums.

    Scale: the fold input is the hourly aggregate (not raw events);
    per-key series length ~ hours in retention, folded after a
    distributed map-side-combinable reduction.
    """
    import pandas as pd

    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("cnt"))
    mom = hourly.groupBy("event_type").agg(
        (F.sum("cnt").cast("double") / F.count("*")).alias("mu"),
        F.sqrt(
            F.sum(F.col("cnt") * F.col("cnt")).cast("double") / F.count("*")
            - (F.sum("cnt").cast("double") / F.count("*"))
            * (F.sum("cnt").cast("double") / F.count("*"))
        ).alias("sd"),
    )
    src = hourly.join(F.broadcast(mom), "event_type")

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("h", kind="stable").reset_index(drop=True)
        mu, sd = float(pdf["mu"].iloc[0]), float(pdf["sd"].iloc[0])
        hi, lo = mu + 2.0 * sd, mu + 1.0 * sd
        state = 0
        burst, start = [], []
        for c in pdf["cnt"]:
            c = float(c)
            prev = state
            if c > hi:
                state = 1
            elif c < lo:
                state = 0
            burst.append(bool(state))
            start.append(bool(state and not prev))
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"],
                "h": pdf["h"],
                "cnt": pdf["cnt"].astype("int64"),
                "burst": pd.Series(burst, dtype="bool"),
                "burst_start": pd.Series(start, dtype="bool"),
            }
        )

    out = src.groupBy("event_type").applyInPandas(
        fold,
        "event_type STRING, h TIMESTAMP, cnt BIGINT, burst BOOLEAN, "
        "burst_start BOOLEAN",
    )
    return out.select(
        "event_type", F.date_format("h", SPARK_TS_FMT).alias("h"),
        "cnt", "burst", "burst_start",
    ).orderBy("event_type", "h")


# -------------------------------------------------- bitmap distinct


@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(DISTINCT user_id) AS n_users_bitmap
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-user counts per event type computed TWICE: the
    plain COUNT(DISTINCT), and Spark's bitmap aggregate family —
    `bitmap_bucket_number`/`bitmap_bit_position` shard each key into a
    32k-bit bucket bitmap built by `bitmap_construct_agg`, and summing
    `bitmap_count` over buckets yields the exact distinct count. The
    bitmap path is the INDEXABLE shape: per-bucket bitmaps persist as a
    re-aggregatable distinct-count index (OR-merge across segments —
    `bitmap_or_agg` — gives rollups without re-scanning raw data),
    the roaring-bitmap pattern DataFusion has no counterpart for. The
    oracle asserts both columns equal DuckDB's COUNT(DISTINCT).

    Scale: the bitmap reduction shuffles (type, bucket) partial bitmaps
    (4 KB each, map-side combined), not raw user ids.
    """
    e = load(spark, sf_dir, "events")
    per_bucket = e.groupBy(
        "event_type",
        F.bitmap_bucket_number(F.col("user_id")).alias("bucket"),
    ).agg(
        F.bitmap_construct_agg(
            F.bitmap_bit_position(F.col("user_id"))
        ).alias("bm")
    )
    bitmap_counts = per_bucket.groupBy("event_type").agg(
        F.sum(F.bitmap_count("bm")).alias("n_users_bitmap")
    )
    plain = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users")
    )
    return (
        plain.join(bitmap_counts, "event_type")
        .select("event_type", "n_users", "n_users_bitmap")
        .orderBy("event_type")
    )


# -------------------------------------------------- RAKE keywords

_RAKE_STOP = ("a", "the")
_RAKE_TOPN = 3


def _rake_oracle() -> str:
    stops = ", ".join(f"'{s}'" for s in _RAKE_STOP)
    return rf"""
    WITH tok AS (
      SELECT doc_id, g.i AS pos, w[g.i] AS word,
             w[g.i] IN ({stops}) AS stop
      FROM (SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '\s+') AS w
            FROM documents) d
      CROSS JOIN generate_series(1, 4000) g(i)
      WHERE g.i <= len(w)
    ),
    seg AS (
      -- window BEFORE the stopword filter: WHERE runs first in SQL, so
      -- an inline filter would zero out the running stop count
      SELECT doc_id, pos, word, phrase_id FROM (
        SELECT doc_id, pos, word, stop,
               SUM(CASE WHEN stop THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
        FROM tok
      ) WHERE NOT stop
    ),
    plen AS (
      SELECT doc_id, phrase_id, COUNT(*) AS phrase_len
      FROM seg GROUP BY 1, 2
    ),
    wordstat AS (
      SELECT s.doc_id, s.word,
             COUNT(*) AS freq,
             SUM(p.phrase_len) AS degree
      FROM seg s JOIN plen p
        ON p.doc_id = s.doc_id AND p.phrase_id = s.phrase_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT s.doc_id, s.phrase_id,
             string_agg(s.word, ' ' ORDER BY s.pos) AS phrase,
             SUM(CAST(ws.degree * 1.0 / ws.freq AS DECIMAL(18,6)))
               AS score
      FROM seg s JOIN wordstat ws
        ON ws.doc_id = s.doc_id AND ws.word = s.word
      GROUP BY 1, 2
    )
    SELECT doc_id, phrase,
           CAST(score AS DOUBLE) AS score
    FROM (
      SELECT doc_id, phrase_id, phrase, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, phrase_id) AS r
      FROM scored
    )
    WHERE r <= {_RAKE_TOPN}
    ORDER BY doc_id, score DESC, phrase_id
    """


@query("text_rake_keywords", oracle=_rake_oracle())
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction: split each document into phrases at
    stopwords, score every word by degree/frequency (degree = total
    length of phrases it appears in), score phrases by the sum of member
    word scores, keep the top {n} phrases per document — the classic
    unsupervised keyworder (Rose et al. 2010), used for cheap corpus
    exploration before anything embedding-based.

    All set-based: tokenize -> running stopword count = phrase id (one
    window) -> phrase lengths + per-doc word stats (two aggregations) ->
    phrase scores (join + sum) -> per-doc top-{n} (rank window). Word
    scores quantize to DECIMAL(18,6) BEFORE the phrase sum so the
    reduction is exact decimal addition — order-independent, hash-stable
    across engines. Every stage keys on doc_id (uniform); nothing is
    corpus-quadratic.
    """.format(n=_RAKE_TOPN)
    d = load(spark, sf_dir, "documents")
    tok = (
        d.select(
            "doc_id",
            F.posexplode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("pos0", "word"),
        )
        .select(
            "doc_id", (F.col("pos0") + 1).alias("pos"), "word",
            F.col("word").isin(*_RAKE_STOP).alias("stop"),
        )
    )
    w_run = Window.partitionBy("doc_id").orderBy("pos")
    seg = (
        tok.select(
            "doc_id", "pos", "word", "stop",
            F.sum(F.when(F.col("stop"), 1).otherwise(0))
            .over(w_run).alias("phrase_id"),
        )
        .filter(~F.col("stop"))
        .drop("stop")
    )
    plen = seg.groupBy("doc_id", "phrase_id").agg(
        F.count("*").alias("phrase_len")
    )
    wordstat = (
        seg.join(plen, ["doc_id", "phrase_id"])
        .groupBy("doc_id", "word")
        .agg(
            F.count("*").alias("freq"),
            F.sum("phrase_len").alias("degree"),
        )
    )
    scored = (
        seg.join(wordstat, ["doc_id", "word"])
        .groupBy("doc_id", "phrase_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "word"))
                    ),
                    lambda s: s["word"],
                ),
                " ",
            ).alias("phrase"),
            F.sum(
                (F.col("degree") * 1.0 / F.col("freq")).cast("decimal(18,6)")
            ).alias("score"),
        )
    )
    w_rank = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("phrase_id")
    )
    return (
        scored.select(
            "doc_id", "phrase_id", "phrase",
            F.col("score").cast("double").alias("score"),
            F.row_number().over(w_rank).alias("r"),
        )
        .filter(F.col("r") <= _RAKE_TOPN)
        .select("doc_id", "phrase", "score")
        .orderBy("doc_id", F.col("score").desc(), "phrase_id")
    )


# -------------------------------------------------- try_* scalar family


@query(
    "scalar_try_functions",
    oracle="""
    SELECT n_nationkey,
           CASE WHEN n_nationkey % 3 = 0 THEN NULL
                ELSE CAST(n_nationkey AS DOUBLE) / (n_nationkey % 3)
           END AS safe_div,
           CASE WHEN n_nationkey > 0 THEN NULL
                ELSE 9223372036854775807 + n_nationkey END AS safe_add,
           CASE WHEN n_nationkey + 1 <= 3 THEN ['x', 'y', 'z'][n_nationkey + 1]
                ELSE NULL END AS safe_elem,
           TRY_CAST('v' || n_nationkey AS INTEGER) AS bad_int,
           TRY_CAST(n_name AS DOUBLE) AS bad_double,
           TRY_CAST(CAST(n_nationkey AS VARCHAR) AS INTEGER) AS good_int
    FROM nation
    ORDER BY n_nationkey
    """,
)
def scalar_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The error-safe scalar family — try_divide / try_add /
    try_element_at / try_cast — NULL instead of raising under ANSI mode
    (divide-by-zero, bigint overflow, index-out-of-bounds, bad casts).
    DataFusion has no try_* variants (its arithmetic NULLs or errors per
    kernel); the oracle reproduces each with CASE / TRY_CAST, proving
    semantic equivalence. All narrow projections, codegen'd.
    """
    n = load(spark, sf_dir, "nation")
    arr = F.array(F.lit("x"), F.lit("y"), F.lit("z"))
    return n.select(
        "n_nationkey",
        F.try_divide(
            F.col("n_nationkey").cast("double"), F.col("n_nationkey") % 3
        ).alias("safe_div"),
        F.try_add(
            F.lit(9223372036854775807), F.col("n_nationkey")
        ).alias("safe_add"),
        F.try_element_at(
            arr, (F.col("n_nationkey") + 1).cast("int")
        ).alias("safe_elem"),
        F.try_to_number(
            F.concat(F.lit("v"), F.col("n_nationkey").cast("string")),
            F.lit("999"),
        ).cast("int").alias("bad_int"),
        F.col("n_name").cast("string").try_cast("double").alias("bad_double"),
        F.col("n_nationkey").cast("string").try_cast("int").alias("good_int"),
    ).orderBy("n_nationkey")
