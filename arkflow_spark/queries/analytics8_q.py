"""Round-3 fourth-session batch 4: BM25 ranked retrieval, time-weighted
average, M4 chart downsampling, Misra-Gries heavy hitters, and
URL-canonicalization dedup.

- `text_bm25_search` — Okapi BM25 top-k document retrieval for a fixed
  term-query set: the lexical-search ranking function (Robertson et al.),
  one notch past `text_tfidf` (adds document-length normalization and
  term saturation). Reference reaches ranking only through generic SQL
  (docs/docs/sql/5-aggregate_functions.md); this is the retrieval shape
  an LLM-data pipeline uses for hard-negative mining.
- `events_time_weighted_avg` — TWA over irregular samples (value held
  until next reading, trapezoid-free LOCF weighting): the core gauge
  rollup in IoT/metrics stores (TimescaleDB `time_weight`, reference
  stream metrics land in InfluxDB — output/influxdb config in
  docs/docs/components/outputs/influxdb.md).
- `events_m4_downsample` — M4 (min/max/first/last per pixel-bucket): the
  error-free line-chart downsampler (Jugel et al., VLDB 2014); emits at
  most 4 points per bucket while preserving the visual envelope.
- `agg_heavy_hitters_mg` — Misra-Gries mergeable heavy-hitter summary
  with the deterministic guarantee |exact - est| <= N/(k+1): the
  bounded-memory frequent-items operator (SpaceSaving family).
  Per-partition summaries fold in `mapInPandas`, merge by key-sum (the
  standard mergeable-summaries result, Agarwal et al. PODS'12), and the
  output is exact counts + a theorem-backed `within_bound` boolean —
  hashable, so the oracle is the exact query (same pattern as the
  `agg_approx_*` family).
- `dedup_url_canonical` — URL canonicalization dedup (scheme/host
  lowercasing, https upgrade, default-port strip, tracking-param drop,
  fragment strip, trailing-slash collapse) then exact group: the first
  dedup pass of every web-crawl corpus (URL-level before content-level
  MinHash).
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


# -------------------------------------------------- BM25 ranked retrieval

# (query_id, term) pairs — the fixed "search workload".
_BM25_QUERIES = (
    ("q_join", "hash"),
    ("q_join", "join"),
    ("q_stream", "stream"),
    ("q_stream", "window"),
    ("q_scan", "scan"),
)
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPN = 10


def _bm25_oracle() -> str:
    pairs = ", ".join(f"('{q}', '{t}')" for q, t in _BM25_QUERIES)
    return rf"""
    WITH terms(query_id, term) AS (VALUES {pairs}),
    tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
               AS word
      FROM documents
    ),
    dl AS (
      SELECT doc_id, COUNT(*) AS doclen FROM tok GROUP BY doc_id
    ),
    corpus AS (
      SELECT COUNT(*) AS n_docs, AVG(doclen) AS avgdl FROM dl
    ),
    tf AS (
      SELECT doc_id, word, COUNT(*) AS tf FROM tok
      WHERE word IN (SELECT DISTINCT term FROM terms)
      GROUP BY doc_id, word
    ),
    df AS (
      SELECT word, COUNT(*) AS df FROM tf GROUP BY word
    ),
    scored AS (
      SELECT t.query_id, tf.doc_id,
             SUM(ln((c.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                 * tf.tf * ({_BM25_K1} + 1.0)
                 / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                    + {_BM25_B} * dl.doclen / c.avgdl))) AS score
      FROM terms t
      JOIN tf ON tf.word = t.term
      JOIN df ON df.word = tf.word
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN corpus c
      GROUP BY t.query_id, tf.doc_id
    )
    SELECT query_id, doc_id, score FROM (
      SELECT query_id, doc_id,
             floor(score * 10000 + 0.5) / 10000 AS score,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY floor(score * 10000 + 0.5) / 10000 DESC, doc_id)
               AS r
      FROM scored
    ) WHERE r <= {_BM25_TOPN}
    ORDER BY query_id, score DESC, doc_id
    """


@query("text_bm25_search", oracle=_bm25_oracle())
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-{n} per query: idf(t) * tf*(k1+1) / (tf + k1*(1-b +
    b*doclen/avgdl)) summed over matched terms (OR semantics), with
    idf = ln((N-df+0.5)/(df+0.5)+1).

    Plan shape: ONE tokenize pass builds the (doc_id, word, tf) posting
    table (map-side-combinable — this is the inverted-index build);
    doclen and corpus stats (N, avgdl — a 1-row broadcast) derive from
    it, and the tiny broadcast query-term table prunes it to the queried
    postings, whose df equals corpus df. Ranking is over the 4-decimal
    quantized score (then doc_id) so the order — not just the values —
    is engine-stable. At 100 TB everything keys on word or doc_id,
    nothing quadratic; the posting table is exactly what a search
    pipeline would persist and reuse across query workloads.
    """.format(n=_BM25_TOPN)
    d = load(spark, sf_dir, "documents")
    terms = spark.createDataFrame(
        list(_BM25_QUERIES), ["query_id", "term"]
    )
    tok = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "word"
        ),
    )
    # one tokenize pass: per-doc postings feed BOTH doclen and tf
    tf_all = tok.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    dl = tf_all.groupBy("doc_id").agg(F.sum("tf").alias("doclen"))
    corpus = dl.agg(
        F.count("*").alias("n_docs"), F.avg("doclen").alias("avgdl")
    )
    term_set = terms.select(F.col("term").alias("word")).distinct()
    tf = tf_all.join(F.broadcast(term_set), "word")
    df_t = tf.groupBy("word").agg(F.count("*").alias("df"))
    scored = (
        terms.withColumnRenamed("term", "word")
        .join(tf, "word")
        .join(F.broadcast(df_t), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                    + 1.0
                )
                * F.col("tf")
                * (_BM25_K1 + 1.0)
                / (
                    F.col("tf")
                    + _BM25_K1
                    * (
                        1.0
                        - _BM25_B
                        + _BM25_B * F.col("doclen") / F.col("avgdl")
                    )
                )
            ).alias("score")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        quantize(F.col("score"), 4).desc(), "doc_id"
    )
    return (
        scored.select(
            "query_id",
            "doc_id",
            quantize(F.col("score"), 4).alias("score"),
            F.row_number().over(w).alias("r"),
        )
        .filter(F.col("r") <= _BM25_TOPN)
        .select("query_id", "doc_id", "score")
        .orderBy("query_id", F.col("score").desc(), "doc_id")
    )


# -------------------------------------------------- time-weighted average


@query(
    "events_time_weighted_avg",
    oracle=f"""
    WITH seg AS (
      SELECT event_type, date_trunc('day', ts) AS day, value,
             epoch_us(lead(ts) OVER (
               PARTITION BY event_type, date_trunc('day', ts)
               ORDER BY ts, event_id)) - epoch_us(ts) AS dur_us
      FROM events
    )
    SELECT event_type, strftime(day, '{DUCK_TS_FMT}') AS day,
           COUNT(*) AS n_samples,
           floor(SUM(value * dur_us) / SUM(dur_us) * 10000 + 0.5) / 10000
             AS twa
    FROM seg WHERE dur_us IS NOT NULL
    GROUP BY event_type, day
    ORDER BY event_type, day
    """,
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per (event_type, day): each reading is held
    until the next one (LOCF weighting), so twa = sum(value * dt) /
    sum(dt) over the day's segments — the gauge rollup every metrics
    store needs for irregular samples (a plain AVG over-weights bursts;
    TimescaleDB ships this as `time_weight`). The day's last reading has
    no successor segment and is excluded from both sums (identical rule
    both engines). Durations are exact integer microseconds; only the
    final ratio is floating, quantized to 4 decimals.

    Scale: one window + one aggregation, both keyed (event_type, day) —
    a single shuffle on a uniform composite key; days partition
    independently so state never exceeds a day's samples per key.
    """
    e = load(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts")
    )
    # window and group-by key on the SAME materialized attributes so
    # EnsureRequirements reuses one (event_type, day) partitioning
    w = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    seg = e.select(
        "event_type",
        "day",
        "value",
        (
            F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
        ).alias("dur_us"),
    )
    return (
        seg.filter(F.col("dur_us").isNotNull())
        .groupBy("event_type", "day")
        .agg(
            F.count("*").alias("n_samples"),
            # try_divide: a day whose every segment has zero duration
            # (all readings at one instant) must yield NULL like
            # DuckDB's 0/0 — under Spark's default ANSI mode a plain
            # division RAISES there (fuzzer-found)
            quantize(
                F.try_divide(
                    F.sum(F.col("value") * F.col("dur_us")),
                    F.sum("dur_us"),
                ), 4
            ).alias("twa"),
        )
        .select(
            "event_type",
            F.date_format("day", SPARK_TS_FMT).alias("day"),
            "n_samples",
            "twa",
        )
        .orderBy("event_type", "day")
    )


# -------------------------------------------------- M4 downsampling


@query(
    "events_m4_downsample",
    oracle=f"""
    WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket, value,
             row_number() OVER (
               PARTITION BY event_type, date_trunc('hour', ts)
               ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (
               PARTITION BY event_type, date_trunc('hour', ts)
               ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT event_type, strftime(bucket, '{DUCK_TS_FMT}') AS bucket,
           COUNT(*) AS n,
           MIN(value) AS v_min, MAX(value) AS v_max,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS v_first,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS v_last
    FROM b
    GROUP BY event_type, bucket
    ORDER BY event_type, bucket
    """,
)
def events_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB 2014): per (series, time
    bucket) keep min, max, first, and last value — the 4 points that
    make a width-limited line chart pixel-identical to the full series.
    First/last resolve by (ts, event_id) row_number so timestamp ties
    break deterministically in both engines (DuckDB's arg_min can't take
    a composite key).

    Scale: both row_number windows and the final aggregation share the
    (event_type, bucket) partitioning — one shuffle total, and the
    aggregation is map-side combinable. This is the query a dashboard
    issues over years of 100 TB telemetry to draw one screen of pixels.
    """
    e = load(spark, sf_dir, "events").withColumn(
        "bucket", F.date_trunc("hour", "ts")
    )
    # both windows and the aggregation key on the same materialized
    # attributes -> a single (event_type, bucket) partitioning
    wa = Window.partitionBy("event_type", "bucket").orderBy(
        "ts", "event_id"
    )
    wd = Window.partitionBy("event_type", "bucket").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    b = e.select(
        "event_type",
        "bucket",
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return (
        b.groupBy("event_type", "bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias(
                "v_first"
            ),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias(
                "v_last"
            ),
        )
        .select(
            "event_type",
            F.date_format("bucket", SPARK_TS_FMT).alias("bucket"),
            "n",
            "v_min",
            "v_max",
            "v_first",
            "v_last",
        )
        .orderBy("event_type", "bucket")
    )


# -------------------------------------------------- Misra-Gries heavy hitters

_MG_K = 199  # summary size -> deterministic error bound N/(k+1) = N/200
_MG_TOPN = 10


@query(
    "agg_heavy_hitters_mg",
    oracle=f"""
    WITH c AS (
      SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
    )
    SELECT user_id, cnt, TRUE AS within_bound
    FROM c
    ORDER BY cnt DESC, user_id
    LIMIT {_MG_TOPN}
    """,
)
def agg_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters with a DETERMINISTIC error bound: a Misra-Gries
    summary of size k={k} folds per input partition (bounded memory, one
    pass), partial summaries merge by key-sum — mergeability per
    Agarwal et al. (PODS'12): each partition's undercount is at most
    N_i/(k+1), so the merged estimate satisfies
    exact - N/(k+1) <= est <= exact for EVERY key, including keys the
    summary dropped (est=0). The output joins the summary against the
    exact top-{n} counts and emits `within_bound` — checked in exact
    integer arithmetic ((cnt-est)*(k+1) <= N), so the theorem makes it
    constant-TRUE and the oracle is the plain exact query (same
    verification pattern as the `agg_approx_*` family).

    Scale: the raw stream never shuffles — each partition emits at most
    k (user_id, est) rows, the merge shuffles only those summaries, and
    the exact side is a uniform-key count. (This reference fold spends
    O(k) per decrement for clarity; production amortizes it to O(1).)
    """.format(k=_MG_K, n=_MG_TOPN)
    import pandas as pd

    e = load(spark, sf_dir, "events")

    def mg_fold(batches):
        counters: dict[int, int] = {}
        for pdf in batches:
            for u in pdf["user_id"]:
                u = int(u)
                if u in counters:
                    counters[u] += 1
                elif len(counters) < _MG_K:
                    counters[u] = 1
                else:
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        yield pd.DataFrame(
            {
                "user_id": pd.Series(list(counters), dtype="int64"),
                "est": pd.Series(list(counters.values()), dtype="int64"),
            }
        )

    summary = (
        e.select("user_id")
        .mapInPandas(mg_fold, "user_id BIGINT, est BIGINT")
        .groupBy("user_id")
        .agg(F.sum("est").alias("est"))
    )
    total = e.agg(F.count("*").alias("n_total"))
    exact = e.groupBy("user_id").agg(F.count("*").alias("cnt"))
    # orderBy+limit -> TakeOrderedAndProject (never a global sort)
    top = exact.orderBy(F.col("cnt").desc(), "user_id").limit(_MG_TOPN)
    est0 = F.coalesce(F.col("est"), F.lit(0))
    return (
        top.join(summary, "user_id", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "user_id",
            "cnt",
            (
                (est0 <= F.col("cnt"))
                & ((F.col("cnt") - est0) * (_MG_K + 1) <= F.col("n_total"))
            ).alias("within_bound"),
        )
        .orderBy(F.col("cnt").desc(), "user_id")
    )


# -------------------------------------------------- URL-canonical dedup


@query(
    "dedup_url_canonical",
    oracle=r"""
    WITH hid AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h
      FROM documents
    ),
    raw AS (
      SELECT doc_id,
             CASE h % 4
               WHEN 0 THEN 'https://WWW.' || source || '.Example.com:443/p/'
                           || (h // 4) % 125 || '/?utm_source=feed&x=1#top'
               WHEN 1 THEN 'https://www.' || source || '.example.com/p/'
                           || (h // 4) % 125 || '?x=1'
               WHEN 2 THEN 'https://www.' || source || '.example.com/p/'
                           || (h // 4) % 125 || '/?x=1&utm_campaign=a'
               ELSE 'http://www.' || source || '.example.com/p/'
                    || (h // 4) % 125 || '?x=1&ref=tw#s'
             END AS url
      FROM hid
    ),
    canon AS (
      SELECT doc_id,
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          regexp_replace(regexp_replace(regexp_replace(
            lower(regexp_extract(url, '^([A-Za-z]+://[^/?#]*)', 1))
              || regexp_replace(url, '^[A-Za-z]+://[^/?#]*', ''),
            '^http://', 'https://'),
          '^(https://[^/?#:]*):(443|80)', '\1'),
          '#.*$', ''),
          '(utm_[a-z]+|ref)=[^&]*&?', '', 'g'),
          '[?&]$', ''),
          '/\?', '?'),
          '/$', '') AS curl
      FROM raw
    )
    SELECT curl, COUNT(*) AS n_variants, MIN(doc_id) AS keeper_doc_id
    FROM canon
    GROUP BY curl
    ORDER BY curl
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup via canonicalization — the first pass of every
    web-crawl pipeline (before any content hashing): lowercase
    scheme+host, upgrade http->https, strip default ports, drop
    tracking params (utm_*, ref) with separator repair, strip fragments
    and trailing slashes, then exact-group on the canonical form. URLs
    are synthesized from (source, md5-int(doc_id)) — four messy
    variants over a 125-page space, so groups collapse verifiably at
    any corpus size and the derivation works for integer or string
    document ids. The regex chain uses
    the Java/RE2-common subset (same approach as text_pii_redact).

    Scale: pure narrow projection then one group-by on the canonical
    string (uniform key) — the same cost as dedup_exact.
    """
    d = load(spark, sf_dir, "documents")
    base = F.concat(
        F.col("source"),
        F.lit(".example.com"),
    )
    # portable md5-derived integer: works for integer OR string doc ids
    # (the 10x scale-probe corpus uses string ids) and is identical
    # arithmetic in DuckDB
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    d = d.withColumn("h", h)
    pid = (F.expr("h div 4") % 125).cast("string")
    url = (
        F.when(
            F.col("h") % 4 == 0,
            F.concat(
                F.lit("https://WWW."), F.col("source"),
                F.lit(".Example.com:443/p/"), pid,
                F.lit("/?utm_source=feed&x=1#top"),
            ),
        )
        .when(
            F.col("h") % 4 == 1,
            F.concat(
                F.lit("https://www."), base, F.lit("/p/"), pid,
                F.lit("?x=1"),
            ),
        )
        .when(
            F.col("h") % 4 == 2,
            F.concat(
                F.lit("https://www."), base, F.lit("/p/"), pid,
                F.lit("/?x=1&utm_campaign=a"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("http://www."), base, F.lit("/p/"), pid,
                F.lit("?x=1&ref=tw#s"),
            )
        )
    )
    curl = url
    curl = F.concat(
        F.lower(F.regexp_extract(curl, r"^([A-Za-z]+://[^/?#]*)", 1)),
        F.regexp_replace(curl, r"^[A-Za-z]+://[^/?#]*", ""),
    )
    curl = F.regexp_replace(curl, r"^http://", "https://")
    curl = F.regexp_replace(curl, r"^(https://[^/?#:]*):(443|80)", "$1")
    curl = F.regexp_replace(curl, r"#.*$", "")
    curl = F.regexp_replace(curl, r"(utm_[a-z]+|ref)=[^&]*&?", "")
    curl = F.regexp_replace(curl, r"[?&]$", "")
    curl = F.regexp_replace(curl, r"/\?", "?")
    curl = F.regexp_replace(curl, r"/$", "")
    return (
        d.select("doc_id", curl.alias("curl"))
        .groupBy("curl")
        .agg(
            F.count("*").alias("n_variants"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .orderBy("curl")
    )
