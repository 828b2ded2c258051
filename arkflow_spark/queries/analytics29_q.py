"""Round-4 batch 29: hash-priority sampling, RAG chunking, Hill tail
index, on-time fill rate.

- `events_uniform_sample_hashprio` — uniform k-sample without
  replacement as a TOP-K over md5 priorities: the distributed
  reservoir-sampling equivalent (k smallest of n uniform priorities IS
  a uniform k-subset), reproducible across engines and runs, and
  executed as TakeOrderedAndProject — never a global sort. Companion
  to the WEIGHTED `documents_weighted_sample_ares`.
- `documents_rag_chunks` — fixed-size sliding word-window chunking
  (64-word chunks, stride 48) with per-chunk fingerprints: the RAG /
  embedding-indexing preprocessing step, fully JVM-side (split +
  sequence + slice, no Python).
- `events_hill_tail_index` — the Hill estimator of the value
  distribution's tail index per stream (heavy-tail diagnosis: alpha <
  2 means infinite variance — percentile SLOs over means).
- `orders_otif_fill_rate` — monthly share of orders fully shipped
  within 30 days of order date (the OTIF supply-chain KPI).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# --------------------------------------------- hash-priority sample

_SAMPLE_K = 100


@query(
    "events_uniform_sample_hashprio",
    oracle=f"""
    SELECT event_id, event_type,
           substr(md5(CAST(event_id AS VARCHAR)), 1, 12) AS priority,
           CAST(row_number() OVER (
             ORDER BY md5(CAST(event_id AS VARCHAR)), event_id)
             AS BIGINT) AS rk
    FROM events
    QUALIFY rk <= {_SAMPLE_K}
    ORDER BY rk
    """,
)
def events_uniform_sample_hashprio(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Uniform {k}-sample without replacement via hash priorities: every
    row draws priority md5(event_id); the k SMALLEST priorities are a
    uniform k-subset (order statistics of i.i.d. uniforms), so sampling
    becomes a distributed top-k — per-partition heaps then a k-row
    merge (TakeOrderedAndProject), never a global sort, never a
    reservoir pass through a single node. Deterministic: re-running
    yields the same sample (seed = the id space), which makes the
    sample auditable and the pipeline replayable — the property a
    100 TB eval-set draw actually needs.
    """
    e = load(spark, sf_dir, "events")
    prio = F.substring(F.md5(F.col("event_id").cast("string")), 1, 12)
    ranked = e.select(
        "event_id", "event_type", prio.alias("priority")
    ).withColumn(
        "rk",
        # scale: top-k-bounded (rank<=K filter executes as
        # per-partition WindowGroupLimit — top-k pushdown, no
        # single-partition sort of the full stream)
        F.row_number().over(Window.orderBy("priority", "event_id")),
    )
    return (
        ranked.filter(F.col("rk") <= _SAMPLE_K)
        .select(
            "event_id",
            "event_type",
            "priority",
            F.col("rk").cast("bigint").alias("rk"),
        )
        .orderBy("rk")
    )


events_uniform_sample_hashprio.__doc__ = (
    events_uniform_sample_hashprio.__doc__.replace("{k}", str(_SAMPLE_K))
)


# ------------------------------------------------------ RAG chunking

_CHUNK_WORDS = 64
_CHUNK_STRIDE = 48  # 16-word overlap


@query(
    "documents_rag_chunks",
    oracle=rf"""
    WITH w AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS words,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_words
      FROM documents
    ),
    chunked AS (
      SELECT doc_id, n_words, c.chunk_idx,
             words[c.chunk_idx * {_CHUNK_STRIDE} + 1 :
                   c.chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_WORDS}]
               AS chunk
      FROM w, LATERAL (
        SELECT unnest(range(
          CASE WHEN n_words <= {_CHUNK_WORDS} THEN 1
               ELSE (n_words - {_CHUNK_WORDS} + {_CHUNK_STRIDE} - 1)
                    // {_CHUNK_STRIDE} + 1 END)) AS chunk_idx
      ) c
    )
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(len(chunk) AS BIGINT) AS chunk_words,
           md5(array_to_string(chunk, ' ')) AS chunk_md5
    FROM chunked
    ORDER BY doc_id, chunk_idx
    """,
)
def documents_rag_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking for retrieval indexing: {cw}-word chunks
    every {st} words ({ov}-word overlap so no boundary sentence is lost
    to retrieval), one fingerprint per chunk (the dedup/citation key of
    a RAG corpus). Everything is array builtins — split, sequence,
    slice, md5 — inside whole-stage codegen; the chunk explosion is the
    only row amplification (~n_words/{st} per doc).

    Scale: embarrassingly parallel per document (no shuffle at all
    until the final presentation sort); at 100 TB the chunk stream
    feeds the embedding UDF and the `dedup_exact` fingerprint pass
    without re-keying.
    """
    d = load(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    n_words = F.size(words)
    n_chunks = F.when(n_words <= _CHUNK_WORDS, F.lit(1)).otherwise(
        F.floor(
            (n_words - _CHUNK_WORDS + _CHUNK_STRIDE - 1) / _CHUNK_STRIDE
        ).cast("int")
        + 1
    )
    w = d.select(
        "doc_id",
        words.alias("words"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    chunk = F.slice(
        F.col("words"),
        F.col("chunk_idx") * _CHUNK_STRIDE + 1,
        _CHUNK_WORDS,
    )
    return (
        w.select(
            "doc_id",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            F.size(chunk).cast("bigint").alias("chunk_words"),
            F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


documents_rag_chunks.__doc__ = (
    documents_rag_chunks.__doc__.replace("{cw}", str(_CHUNK_WORDS))
    .replace("{st}", str(_CHUNK_STRIDE))
    .replace("{ov}", str(_CHUNK_WORDS - _CHUNK_STRIDE))
)


# --------------------------------------------------- Hill tail index

_HILL_K = 200


@query(
    "events_hill_tail_index",
    oracle=f"""
    WITH pos AS (
      SELECT event_type, event_id, value
      FROM events WHERE value > 0
    ),
    ranked AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM pos
    ),
    capped AS (
      SELECT event_type, value, rn,
             LEAST({_HILL_K}, n - 1) AS k
      FROM ranked WHERE rn <= LEAST({_HILL_K}, n - 1) + 1 AND n >= 2
    ),
    thr AS (
      SELECT event_type, k,
             MAX(CASE WHEN rn = k + 1 THEN value END) AS x_k1
      FROM capped GROUP BY event_type, k
    )
    SELECT c.event_type, CAST(c.k AS BIGINT) AS k,
           floor(CAST(SUM(CAST(floor(ln(c.value / t.x_k1) * 1000000
                                     + 0.5) / 1000000
                               AS DECIMAL(28,6))) AS DOUBLE)
                 / c.k * 10000 + 0.5) / 10000 AS hill_inv_alpha,
           floor(c.k * 1.0
                 / NULLIF(CAST(SUM(CAST(floor(ln(c.value / t.x_k1)
                                             * 1000000 + 0.5) / 1000000
                                   AS DECIMAL(28,6))) AS DOUBLE), 0)
                 * 10000 + 0.5) / 10000 AS tail_index
    FROM capped c JOIN thr t
      ON c.event_type = t.event_type AND c.rn <= c.k
    GROUP BY c.event_type, c.k
    ORDER BY c.event_type
    """,
)
def events_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the tail index per stream: over the k={k}
    largest positive values, 1/alpha = mean of ln(x_i / x_(k+1)); alpha
    < 2 flags an infinite-variance heavy tail (means and z-scores are
    then meaningless — route the metric to `events_percentile_bands` /
    DDSketch instead). Log terms are quantized and reduced exactly as
    DECIMAL so both engines agree bit-for-bit.

    Scale: one keyed rank window immediately cut to k+1 rows per
    stream, then a k-row reduction — the heavy data never leaves the
    first shuffle, and k is a constant.
    """
    e = load(spark, sf_dir, "events").filter(F.col("value") > 0)
    pw = Window.partitionBy("event_type")
    ranked = e.select("event_type", "event_id", "value").withColumn(
        "rn",
        F.row_number().over(pw.orderBy(F.desc("value"), "event_id")),
    ).withColumn("n", F.count("*").over(pw))
    capped = ranked.filter(
        (F.col("n") >= 2)
        & (
            F.col("rn")
            <= F.least(F.lit(_HILL_K), F.col("n") - 1) + 1
        )
    ).withColumn("k", F.least(F.lit(_HILL_K), F.col("n") - 1))
    thr = capped.groupBy("event_type", "k").agg(
        F.max(
            F.when(F.col("rn") == F.col("k") + 1, F.col("value"))
        ).alias("x_k1")
    )
    joined = capped.filter(F.col("rn") <= F.col("k")).join(
        thr, ["event_type", "k"]
    )
    logsum = F.sum(
        quantize(F.log(F.col("value") / F.col("x_k1")), 6).cast(
            "decimal(28,6)"
        )
    ).cast("double")
    return (
        joined.groupBy("event_type", "k")
        .agg(
            quantize(logsum / F.col("k"), 4).alias("hill_inv_alpha"),
            # an all-equal top-k has a zero log-sum: NULL, never an error
            quantize(F.try_divide(F.col("k") * 1.0, logsum), 4).alias(
                "tail_index"
            ),
        )
        .select(
            "event_type",
            F.col("k").cast("bigint").alias("k"),
            "hill_inv_alpha",
            "tail_index",
        )
        .orderBy("event_type")
    )


events_hill_tail_index.__doc__ = events_hill_tail_index.__doc__.replace(
    "{k}", str(_HILL_K)
)


# ----------------------------------------------------- OTIF fill rate

_OTIF_DAYS = 30


@query(
    "orders_otif_fill_rate",
    oracle=f"""
    WITH shipped AS (
      SELECT l_orderkey, MAX(l_shipdate) AS last_ship
      FROM lineitem GROUP BY 1
    )
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN s.last_ship <= o.o_orderdate
                              + INTERVAL {_OTIF_DAYS} DAYS
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_on_time,
           floor(SUM(CASE WHEN s.last_ship <= o.o_orderdate
                               + INTERVAL {_OTIF_DAYS} DAYS
                          THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
                 * 10000 + 0.5) / 10000 AS fill_rate
    FROM orders o JOIN shipped s ON s.l_orderkey = o.o_orderkey
    GROUP BY 1 ORDER BY 1
    """,
)
def orders_otif_fill_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly on-time-in-full rate: the share of orders whose LAST line
    shipped within {d} days of the order date — the standard
    supply-chain service KPI, month over month.

    Scale: one groupBy(orderkey) for last-ship, one orderkey join
    (co-keyed with the aggregate — AQE plans it off the same
    partitioning), one monthly rollup.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    shipped = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("last_ship")
    )
    on_time = F.when(
        F.col("last_ship")
        <= F.col("o_orderdate") + F.expr(f"INTERVAL {_OTIF_DAYS} DAYS"),
        1,
    ).otherwise(0)
    return (
        o.join(shipped, o.o_orderkey == shipped.l_orderkey)
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(on_time).cast("bigint").alias("n_on_time"),
            quantize(F.sum(on_time) * 1.0 / F.count("*"), 4).alias(
                "fill_rate"
            ),
        )
        .orderBy("month")
    )


orders_otif_fill_rate.__doc__ = orders_otif_fill_rate.__doc__.replace(
    "{d}", str(_OTIF_DAYS)
)
