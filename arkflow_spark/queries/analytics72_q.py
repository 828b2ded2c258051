"""Round-5 batch 72: perceptual-hash near-dup, count anomaly scoring,
dead-stream detection.

- `multimodal_ahash_near_dup` — average-hash (aHash) near-duplicate
  audit over binary media payloads: 64 block-mean bits per payload
  (computed with EXACT integer comparisons — block_sum * n vs
  total_sum * block_len — so the oracle agrees bit-for-bit); emits
  payloads vs distinct hashes vs near-dup surplus plus the mean bit
  density. The perceptual-hash complement to the byte-exact
  `dedup_exact`: aHash survives small payload perturbations that
  change the sha256. Spark side is a real numpy/Arrow kernel
  (add.reduceat over the byte array) via mapInPandas.
- `events_poisson_surprise` — Poisson deviance surprise per
  (stream, hour): s = k ln(k/lambda) - k + lambda against the
  stream's own mean hourly rate; the top-20 most surprising hours.
  The count-data anomaly score where z-scores fail (variance = mean,
  not free).
- `events_absence_anomaly` — dead-stream detection: the most
  improbable silent calendar hours per the stream's hour-of-day
  Poisson baseline (P0 = exp(-lambda_hod)), flagged at the 1%
  threshold. The monitoring gap every presence-based detector has —
  you cannot aggregate rows that never arrived; the calendar grid
  supplies them.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ aHash near-dup

_AHASH_BITS = 64


@query(
    "multimodal_ahash_near_dup",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, text, length(text) AS n
      FROM documents WHERE length(text) >= {_AHASH_BITS}
    ),
    by_byte AS (
      SELECT d.doc_id, d.n,
             (g.i - 1) * {_AHASH_BITS} // d.n AS blk,
             ascii(substr(d.text, g.i, 1)) AS b
      FROM docs d CROSS JOIN generate_series(1, 100000) g(i)
      WHERE g.i <= d.n
    ),
    blocks AS (
      SELECT doc_id, n, blk,
             CAST(SUM(b) AS BIGINT) AS bsum,
             CAST(COUNT(*) AS BIGINT) AS blen
      FROM by_byte GROUP BY 1, 2, 3
    ),
    tot AS (
      SELECT doc_id, CAST(SUM(bsum) AS BIGINT) AS tsum
      FROM blocks GROUP BY doc_id
    ),
    bits AS (
      SELECT b.doc_id,
             string_agg(CASE WHEN b.bsum * b.n > t.tsum * b.blen
                             THEN '1' ELSE '0' END, ''
                        ORDER BY b.blk) AS ahash
      FROM blocks b JOIN tot t USING (doc_id)
      GROUP BY b.doc_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_payloads,
           CAST(COUNT(DISTINCT ahash) AS BIGINT) AS n_distinct_hashes,
           CAST(COUNT(*) - COUNT(DISTINCT ahash) AS BIGINT)
             AS n_near_dups,
           floor(CAST(SUM(length(replace(ahash, '0', ''))) AS DOUBLE)
                 / (COUNT(*) * {_AHASH_BITS}) * 10000 + 0.5)
             / 10000 AS bit_density
    FROM bits
    """,
)
def multimodal_ahash_near_dup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Average-hash near-duplicate audit over binary payloads: each
    payload's bytes split into {b} contiguous blocks (boundaries
    floor(i*n/{b})), bit i = [block mean > global mean] decided by the
    exact integer cross-product block_sum*n > total_sum*block_len.
    Emits the corpus audit row — payload count, distinct hashes, the
    near-dup surplus (payloads sharing an aHash with an earlier one),
    and the mean bit density (~0.5 on healthy content; the density
    makes every hash bit observable to the oracle even on a
    collision-free corpus, which this synthetic one is).

    The Spark kernel is a vectorized numpy pass (np.bincount block
    sums over the byte array per payload, block = floor(x*{b}/n) —
    the oracle's exact map) inside ONE mapInPandas stage — the
    brief's Arrow-batch shape for media feature extraction; the
    audit after it is a plain hash aggregate on the 64-bit digest.

    Scale shape: one narrow scan + Arrow-batched kernel (fan-out 1:1),
    one groupBy on the digest — exactly `dedup_exact`'s single-shuffle
    profile with a perceptual key instead of a cryptographic one.
    """.format(b=_AHASH_BITS)
    import numpy as np
    import pandas as pd

    from arkflow_spark.operators.multimodal import attach_fake_media

    d = load(spark, sf_dir, "documents")
    media = attach_fake_media(
        d.filter(F.length("text") >= _AHASH_BITS),
        text_col="text",
        id_col="doc_id",
    ).select("media_id", "payload")

    def ahash_fn(batches):
        for pdf in batches:
            hashes = []
            for buf in pdf["payload"]:
                a = np.frombuffer(bytes(buf), dtype=np.uint8).astype(
                    np.int64
                )
                n = len(a)
                # block of byte x is floor(x*B/n) — same map as the
                # oracle; bincount sums are integer-exact in float64
                # (byte sums << 2^53)
                blk = (np.arange(n) * _AHASH_BITS) // n
                bsums = np.bincount(
                    blk, weights=a, minlength=_AHASH_BITS
                ).astype(np.int64)
                blens = np.bincount(blk, minlength=_AHASH_BITS).astype(
                    np.int64
                )
                tsum = int(a.sum())
                bits = (bsums * n) > (tsum * blens)
                hashes.append("".join("1" if x else "0" for x in bits))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "ahash": hashes}
            )

    bits = media.mapInPandas(ahash_fn, "media_id BIGINT, ahash STRING")
    return bits.agg(
        F.count("*").cast("bigint").alias("n_payloads"),
        F.countDistinct("ahash").cast("bigint").alias("n_distinct_hashes"),
        (F.count("*") - F.countDistinct("ahash"))
        .cast("bigint")
        .alias("n_near_dups"),
        quantize(
            F.sum(F.length(F.replace(F.col("ahash"), F.lit("0"), F.lit(""))))
            .cast("double")
            / (F.count("*") * _AHASH_BITS), 4
        ).alias("bit_density"),
    )


# ------------------------------------------------ Poisson surprise

_SURPRISE_TOP = 20


@query(
    "events_poisson_surprise",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS hr,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM events GROUP BY 1, 2
    ),
    base AS (
      SELECT event_type,
             CAST(SUM(k) AS BIGINT) AS tot,
             CAST(COUNT(*) AS BIGINT) AS nh
      FROM hourly GROUP BY event_type
    )
    SELECT h.event_type, h.hr, h.k,
           floor(b.tot * 1.0 / b.nh * 10000 + 0.5) / 10000 AS lambda,
           floor((h.k * ln(h.k * 1.0 / (b.tot * 1.0 / b.nh))
                  - h.k + b.tot * 1.0 / b.nh) * 10000 + 0.5) / 10000
             AS surprise
    FROM hourly h JOIN base b USING (event_type)
    ORDER BY surprise DESC, h.event_type, h.hr
    LIMIT {_SURPRISE_TOP}
    """,
)
def events_poisson_surprise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson deviance surprise for hourly counts: against the
    stream's mean rate lambda, s = k ln(k/lambda) - k + lambda (the
    Poisson log-likelihood-ratio / half-deviance; ~z^2/2 for small
    departures, exact for counts). Top-{t} most surprising hours. The
    right anomaly score for counts — `events_anomaly_zscore` assumes
    free variance, which Poisson data doesn't have.

    Scale shape: one calendar-bounded hourly rollup, one per-stream
    baseline broadcast, closed-form score, ORDER BY + LIMIT head
    (TakeOrderedAndProject).
    """.format(t=_SURPRISE_TOP)
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        F.floor(F.unix_micros(F.col("ts")) / 3600000000.0)
        .cast("bigint")
        .alias("hr"),
    ).agg(F.count("*").cast("bigint").alias("k"))
    base = hourly.groupBy("event_type").agg(
        F.sum("k").cast("bigint").alias("tot"),
        F.count("*").cast("bigint").alias("nh"),
    )
    lam = F.col("tot") * 1.0 / F.col("nh")
    return (
        hourly.join(F.broadcast(base), "event_type")
        .select(
            "event_type",
            "hr",
            "k",
            quantize(lam, 4).alias("lambda"),
            quantize(
                F.col("k") * F.log(F.col("k") * 1.0 / lam)
                - F.col("k")
                + lam, 4
            ).alias("surprise"),
        )
        .orderBy(F.col("surprise").desc(), "event_type", "hr")
        .limit(_SURPRISE_TOP)
    )


# ------------------------------------------------ absence anomaly

_P0_MAX = 0.01  # flag silence when P(zero | baseline) < 1%
_ABSENCE_TOP = 30


@query(
    "events_absence_anomaly",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS hr,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM events GROUP BY 1, 2
    ),
    span AS (
      SELECT MIN(hr) AS h0, MAX(hr) AS h1 FROM hourly
    ),
    grid AS (
      SELECT t.event_type, s.h0 + g.i AS hr
      FROM (SELECT DISTINCT event_type FROM hourly) t
      CROSS JOIN span s
      CROSS JOIN generate_series(0, 100000) g(i)
      WHERE s.h0 + g.i <= s.h1
    ),
    hod_base AS (
      SELECT g.event_type, g.hr % 24 AS hod,
             CAST(SUM(COALESCE(h.k, 0)) AS BIGINT) AS tot,
             CAST(COUNT(*) AS BIGINT) AS nh
      FROM grid g LEFT JOIN hourly h
        ON h.event_type = g.event_type AND h.hr = g.hr
      GROUP BY 1, 2
    )
    SELECT g.event_type, g.hr, g.hr % 24 AS hod,
           floor(b.tot * 1.0 / b.nh * 10000 + 0.5) / 10000
             AS lambda_hod,
           floor(exp(-(b.tot * 1.0 / b.nh)) * 1000000 + 0.5) / 1000000
             AS p_silence,
           exp(-(b.tot * 1.0 / b.nh)) < {_P0_MAX} AS flagged
    FROM grid g
    LEFT JOIN hourly h ON h.event_type = g.event_type AND h.hr = g.hr
    JOIN hod_base b ON b.event_type = g.event_type
                   AND b.hod = g.hr % 24
    WHERE h.k IS NULL
    ORDER BY p_silence, g.event_type, g.hr
    LIMIT {_ABSENCE_TOP}
    """,
)
def events_absence_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-stream detection: the top-{t} most improbable silent
    calendar hours per the stream's hour-of-day Poisson baseline
    (P0 = exp(-lambda_hod)), each carrying a `flagged` verdict at the
    {p} threshold. Presence-based detectors cannot see silence — there
    is no row to aggregate — so the calendar grid manufactures the
    absent hours and the Poisson zero-probability prices each one. THE
    first alert a pipeline owner wants (sensor died, producer wedged)
    and the one most dashboards lack.

    Scale shape: the grid is calendar x streams (bounded); the hourly
    rollup is one shuffle; baselines are 24 rows per stream,
    broadcast; the head is ORDER BY + LIMIT over the bounded grid.
    """.format(p=_P0_MAX, t=_ABSENCE_TOP)
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        F.floor(F.unix_micros(F.col("ts")) / 3600000000.0)
        .cast("bigint")
        .alias("hr"),
    ).agg(F.count("*").cast("bigint").alias("k")).persist()
    # ^ (stream x hour)-bounded; feeds span/types/the grid join twice —
    # one raw-stream rollup
    span = hourly.agg(
        F.min("hr").alias("h0"), F.max("hr").alias("h1")
    )
    types = hourly.select("event_type").distinct()
    grid = (
        types.crossJoin(F.broadcast(span))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("hr"),
        )
    )
    joined = grid.join(hourly, ["event_type", "hr"], "left")
    hod_base = joined.groupBy(
        "event_type", (F.col("hr") % 24).alias("hod")
    ).agg(
        F.sum(F.coalesce(F.col("k"), F.lit(0)))
        .cast("bigint")
        .alias("tot"),
        F.count("*").cast("bigint").alias("nh"),
    )
    lam = F.col("tot") * 1.0 / F.col("nh")
    return (
        joined.withColumn("hod", F.col("hr") % 24)
        .join(F.broadcast(hod_base), ["event_type", "hod"])
        .filter(F.col("k").isNull())
        .select(
            "event_type",
            "hr",
            "hod",
            quantize(lam, 4).alias("lambda_hod"),
            quantize(F.exp(-lam), 6).alias(
                "p_silence"
            ),
            (F.exp(-lam) < _P0_MAX).alias("flagged"),
        )
        .orderBy("p_silence", "event_type", "hr")
        .limit(_ABSENCE_TOP)
    )
