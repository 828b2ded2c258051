"""Round-4 batch 45: character entropy, inspection-paradox audit,
embedding anisotropy, activation time-to-N.

- `text_char_entropy` — per-document Shannon entropy over characters:
  the junk detector that catches base64 blobs, minified code, and
  key-mash noise (entropy far above prose) as well as repeated-char
  padding (far below) — a standard corpus-quality signal next to
  `text_quality_score`'s word-level rules.
- `events_inspection_paradox` — the waiting-time paradox audit per
  stream: mean inter-arrival gap vs the size-biased mean residual
  E[g^2]/(2*E[g]) a random observer actually experiences, and their
  ratio (Poisson baseline 1, perfectly regular 0.5, > 1 = bursty
  arrivals whose "average gap" dashboards understate real waiting).
- `embedding_anisotropy` — mean pairwise cosine over a bounded sample:
  the anisotropy score (Ethayarajh 2019); embeddings crowded into a
  cone (mean cosine >> 0) degrade cosine-based retrieval — the
  companion diagnostic to `embedding_intrinsic_dim_twonn`.
- `events_activation_time_to_n` — activation latency: per user, the
  time from their first event to their 5th, summarized as exact
  rank-based median/p90 — the onboarding-speed metric
  (`events_conversion_latency` measures one step; this measures ramp).

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ---------------------------------------------------- character entropy


@query(
    "text_char_entropy",
    oracle="""
    WITH chars AS (
      SELECT doc_id, unnest(string_split(text, '')) AS ch
      FROM documents WHERE len(text) > 0
    ),
    freq AS (
      SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
      FROM chars GROUP BY 1, 2
    ),
    tot AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_distinct
      FROM freq GROUP BY 1
    )
    SELECT f.doc_id, t.n AS n_chars_counted, t.n_distinct,
           floor(CAST(SUM(CAST(-(CAST(f.c AS DOUBLE) / t.n)
                                * log2(CAST(f.c AS DOUBLE) / t.n)
                                AS DECIMAL(18,10))) AS DOUBLE)
                 * 10000 + 0.5) / 10000 AS entropy_bits
    FROM freq f JOIN tot t ON t.doc_id = f.doc_id
    GROUP BY f.doc_id, t.n, t.n_distinct
    ORDER BY f.doc_id
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (bits/char) of each document's character
    distribution: prose sits ~4-4.5 bits; base64/random junk pushes
    toward log2(alphabet); repeated-char padding collapses toward 0 —
    both tails are filter candidates.

    Each -p*log2(p) term is one mirrored double expression quantized to
    DECIMAL(18,10) and summed exactly per document. The explode is
    narrow; both aggregations are map-side combinable on the doc key.
    At 100 TB, fold the per-character count into a fixed-width map
    (aggregate by (doc, char) exactly as here — alphabet-bounded).

    Unicode caveat (why this op is absent from the doc fuzz): Spark's
    regex char split works on UTF-16 code units, DuckDB's string_split
    on code points — identical for BMP text (all sf corpora), divergent
    on astral-plane characters.
    """
    d = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    chars = d.select(
        "doc_id",
        F.explode(F.split(F.col("text"), "(?!^)")).alias("ch"),
    ).filter(F.col("ch") != "")
    freq = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    tot = freq.groupBy("doc_id").agg(
        F.sum("c").alias("n"), F.count("*").alias("n_distinct")
    )
    p = F.col("c").cast("double") / F.col("n")
    return (
        freq.join(tot, "doc_id")
        .groupBy("doc_id", "n", "n_distinct")
        .agg(
            F.sum(((-p) * F.log2(p)).cast("decimal(18,10)"))
            .cast("double")
            .alias("h")
        )
        .select(
            "doc_id",
            F.col("n").alias("n_chars_counted"),
            "n_distinct",
            quantize(F.col("h"), 4).alias("entropy_bits"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------ inspection paradox


@query(
    "events_inspection_paradox",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             epoch_us(ts) - epoch_us(lag(ts) OVER (
               PARTITION BY event_type ORDER BY ts, event_id)) AS g_us
      FROM events
    ),
    m AS (
      SELECT event_type, CAST(COUNT(g_us) AS BIGINT) AS n_gaps,
             CAST(SUM(CAST(g_us / 60000000.0 AS DECIMAL(24,10)))
                  AS DOUBLE) AS s1,
             CAST(SUM(CAST((g_us / 60000000.0) * (g_us / 60000000.0)
                           AS DECIMAL(28,10))) AS DOUBLE) AS s2
      FROM gaps WHERE g_us IS NOT NULL
      GROUP BY 1
    )
    SELECT event_type, n_gaps,
           floor(s1 / n_gaps * 10000 + 0.5) / 10000 AS mean_gap_min,
           floor(s2 / (2 * s1) * 10000 + 0.5) / 10000
             AS observer_wait_min,
           floor((s2 / (2 * s1)) / (s1 / n_gaps) * 10000 + 0.5)
             / 10000 AS paradox_ratio
    FROM m
    WHERE n_gaps > 0 AND s1 > 0
    ORDER BY event_type
    """,
)
def events_inspection_paradox(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Waiting-time paradox audit per stream: the naive mean
    inter-arrival gap, the mean residual wait a random observer actually
    experiences (E[g^2] / 2E[g]), and their ratio to the mean gap.
    Baselines: memoryless Poisson arrivals give ratio 1 (wait = mean
    gap), a perfectly regular stream gives 0.5 (wait = half the gap),
    and > 1 means bursty arrivals whose "average gap" dashboards
    understate real waits.

    Gaps come from one ordered lag window in exact integer
    microseconds; first and second moments accumulate as exact decimals
    of mirrored per-gap doubles. Streams with a single event (no gaps)
    or zero total gap are excluded in both engines.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = e.select(
        "event_type",
        (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
        ).alias("g_us"),
    ).filter(F.col("g_us").isNotNull())
    g_min = F.col("g_us") / 60000000.0
    m = gaps.groupBy("event_type").agg(
        F.count("g_us").alias("n_gaps"),
        F.sum(g_min.cast("decimal(24,10)")).cast("double").alias("s1"),
        F.sum((g_min * g_min).cast("decimal(28,10)"))
        .cast("double")
        .alias("s2"),
    )
    s1, s2, n = F.col("s1"), F.col("s2"), F.col("n_gaps")
    mean_gap = s1 / n
    wait = s2 / (2 * s1)
    return (
        m.filter((n > 0) & (s1 > 0))
        .select(
            "event_type",
            "n_gaps",
            quantize(mean_gap, 4).alias("mean_gap_min"),
            quantize(wait, 4).alias("observer_wait_min"),
            quantize(wait / mean_gap, 4).alias("paradox_ratio"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------- anisotropy score

_ANISO_N = 200


@query(
    "embedding_anisotropy",
    oracle=f"""
    WITH ok AS (
      -- full-length, NULL-free vectors only (same discipline as
      -- embedding_intrinsic_dim_twonn: Spark zip_with NULL-pads ragged
      -- vectors while an index join keeps the partial overlap)
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id < {_ANISO_N} AND len(embedding) = 64
        AND len(list_filter(embedding, x -> x IS NULL)) = 0
    ),
    x AS (
      SELECT vec_id, g.i AS i, CAST(embedding[g.i] AS DOUBLE) AS v
      FROM ok CROSS JOIN generate_series(1, 64) g(i)
    ),
    nrm AS (
      SELECT vec_id, sqrt(SUM(v * v)) AS nrm FROM x GROUP BY vec_id
      HAVING SUM(v * v) > 0
    ),
    dots AS (
      SELECT a.vec_id AS va, b.vec_id AS vb, SUM(a.v * b.v) AS dot
      FROM x a JOIN x b ON a.i = b.i AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    ),
    cos AS (
      SELECT CAST(d.dot / (na.nrm * nb.nrm) AS DECIMAL(18,12)) AS c
      FROM dots d
      JOIN nrm na ON na.vec_id = d.va
      JOIN nrm nb ON nb.vec_id = d.vb
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           floor(CAST(SUM(c) AS DOUBLE) / COUNT(*) * 10000 + 0.5)
             / 10000 AS mean_cosine,
           floor(CAST(MAX(c) AS DOUBLE) * 10000 + 0.5) / 10000
             AS max_cosine,
           floor(CAST(MIN(c) AS DOUBLE) * 10000 + 0.5) / 10000
             AS min_cosine
    FROM cos
    """,
)
def embedding_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anisotropy of the embedding space (Ethayarajh 2019): the mean
    pairwise cosine over a {n}-vector sample — isotropic spaces average
    ~0; a crowded cone (mean >> 0) degrades every cosine-based
    retrieval decision downstream. Min/max flag duplicate poles.

    Per-pair cosines quantize to DECIMAL(18,12) (the division is one
    mirrored double expression; reduction noise lives at 1e-15, two
    orders below the quantum) and aggregate exactly. The all-pairs
    stage is sample-bounded ({n}^2/2 pairs); zero vectors are excluded
    in both engines.
    """.format(n=_ANISO_N)
    from arkflow_spark.queries.vector_q import _dot, _norm

    e = load(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") < _ANISO_N)
        & (F.size("embedding") == 64)
        & ~F.exists("embedding", lambda x: x.isNull())
    )
    withn = e.select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
    ).filter(F.col("nrm") > 0)
    a = withn.select(
        F.col("vec_id").alias("va"),
        F.col("embedding").alias("e_a"),
        F.col("nrm").alias("n_a"),
    )
    b = withn.select(
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("e_b"),
        F.col("nrm").alias("n_b"),
    )
    cos = (
        a.join(F.broadcast(b), F.col("va") < F.col("vb"))
        .select(
            (
                _dot(F.col("e_a"), F.col("e_b"))
                / (F.col("n_a") * F.col("n_b"))
            )
            .cast("decimal(18,12)")
            .alias("c")
        )
    )
    return cos.agg(
        F.count("*").alias("n_pairs"),
        quantize(
            F.sum("c").cast("double") / F.count("*"), 4
        ).alias("mean_cosine"),
        quantize(F.max("c").cast("double"), 4).alias("max_cosine"),
        quantize(F.min("c").cast("double"), 4).alias("min_cosine"),
    )


# ------------------------------------------------ activation time-to-N

_ACT_N = 5


@query(
    "events_activation_time_to_n",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    spans AS (
      SELECT f.user_id,
             (epoch_us(n.ts) - epoch_us(f.ts)) / 3600000000.0 AS hours
      FROM seq f JOIN seq n
        ON n.user_id = f.user_id AND f.rn = 1 AND n.rn = {_ACT_N}
    ),
    ranked AS (
      SELECT hours,
             CAST(COUNT(*) OVER (ORDER BY hours
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM spans
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_activated,
           floor(MIN(CASE WHEN cum * 2 >= n THEN hours END)
                 * 10000 + 0.5) / 10000 AS median_hours,
           floor(MIN(CASE WHEN cum * 10 >= n * 9 THEN hours END)
                 * 10000 + 0.5) / 10000 AS p90_hours
    FROM ranked
    """,
)
def events_activation_time_to_n(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Activation latency: for every user who reached {n} events, the
    time from their first event to their {n}th, summarized as the exact
    rank-based median and p90 (integer fractile tests — no double
    ECDF). The onboarding-ramp metric product teams pair with
    `events_conversion_latency`'s single-step funnel.

    One user-keyed row_number window; first/{n}th rows self-join on the
    user key (two tiny filtered sides); the global percentile position
    is an exact distributed rank (functions/distributed_rank — one row
    per activated user, corpus-scaled, so no single-partition sort).
    The (hours, user_id) tie-break is fractile-equivalent to the
    oracle's arbitrary-tie ROWS count: a run of equal hours qualifies
    iff its LAST position passes the integer fractile test, identical
    under any tie permutation.
    """.format(n=_ACT_N)
    from arkflow_spark.functions.distributed_rank import (
        N,
        RN,
        with_global_order,
    )

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "ts", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn").isin(1, _ACT_N))
    f = seq.filter(F.col("rn") == 1).select(
        "user_id", F.col("ts").alias("t0")
    )
    n5 = seq.filter(F.col("rn") == _ACT_N).select(
        "user_id", F.col("ts").alias("tn")
    )
    spans = f.join(n5, "user_id").select(
        "user_id",
        (
            (F.unix_micros("tn") - F.unix_micros("t0")) / 3600000000.0
        ).alias("hours"),
    )
    ranked = with_global_order(
        spans, [F.asc("hours"), F.asc("user_id")]
    ).select(
        "hours", F.col(RN).alias("cum"), F.col(N).alias("n")
    )
    return ranked.agg(
        F.max("n").alias("n_activated"),
        quantize(
            F.min(
                F.when(F.col("cum") * 2 >= F.col("n"), F.col("hours"))
            ), 4
        ).alias("median_hours"),
        quantize(
            F.min(
                F.when(
                    F.col("cum") * 10 >= F.col("n") * 9, F.col("hours")
                )
            ), 4
        ).alias("p90_hours"),
    )
