"""Round-5 batch 58: shot segmentation, dependence measures, signal
regularity.

- `multimodal_shot_boundaries` — run-length scene segmentation over
  the sampled frame fingerprints: a boundary wherever the consecutive
  frame hash changes; per media the shot count, mean shot length and
  longest shot. The video-structure readout built on the SAME
  mapInPandas frame machinery as `multimodal_duplicate_frames` (which
  measures repetition, not structure).
- `events_mutual_information` — mutual information between stream and
  hour-of-day on the bounded contingency grid, with the normalized
  MI/H(stream) coefficient: the general-dependence complement to
  `events_chi_square_independence` (chi-square misses which share of
  stream identity the clock explains).
- `events_sample_entropy` — Sample Entropy (Richman-Moorman 2000) of
  each stream's hourly counts: -ln(A/B) where B counts close template
  pairs of length 2 and A of length 3 (Chebyshev distance, tolerance
  r = 0.2 sd). Low SampEn = repetitive/predictable load; high =
  irregular. The nonlinear-dynamics regularity number that variance
  and spectra both miss.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ shot boundaries


@query(
    "multimodal_shot_boundaries",
    oracle="""
    WITH b AS (
      SELECT doc_id AS media_id, text,
             octet_length(encode(text)) AS n
      FROM documents
    ),
    frames AS (
      -- ASCII text: char slicing == byte slicing (the
      -- multimodal_frame_sample oracle arithmetic)
      SELECT media_id, g.i AS frame_idx,
             sha256(substr(text, g.i * 64 + 1, 64)) AS frame_sha
      FROM b CROSS JOIN generate_series(0, 7) g(i)
      WHERE g.i < greatest(1, n // 64)
    ),
    runs AS (
      SELECT media_id, frame_idx,
             CASE WHEN frame_sha = LAG(frame_sha) OVER (
                    PARTITION BY media_id ORDER BY frame_idx)
                  THEN 0 ELSE 1 END AS is_start
      FROM frames
    ),
    shots AS (
      SELECT media_id,
             SUM(is_start) OVER (PARTITION BY media_id
                 ORDER BY frame_idx ROWS UNBOUNDED PRECEDING) AS shot_id
      FROM runs
    ),
    per_shot AS (
      SELECT media_id, shot_id, CAST(COUNT(*) AS BIGINT) AS len
      FROM shots GROUP BY 1, 2
    )
    SELECT media_id,
           CAST(SUM(len) AS BIGINT) AS n_frames,
           CAST(COUNT(*) AS BIGINT) AS n_shots,
           floor(SUM(len) * 1.0 / COUNT(*) * 10000 + 0.5) / 10000
             AS mean_shot_len,
           CAST(MAX(len) AS BIGINT) AS longest_shot
    FROM per_shot
    GROUP BY media_id
    ORDER BY media_id
    """,
)
def multimodal_shot_boundaries(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Scene segmentation over sampled frames: a shot boundary wherever
    the frame fingerprint CHANGES from its predecessor; reports shot
    count, mean shot length and longest shot per media. Real decoders
    replace the chunk fingerprint with a perceptual distance — the
    run-length dataflow (lag + cumulative-start window + run rollup)
    is decoder-agnostic and is the piece Spark owns.

    Plan: payload-bounded frame fan-out (<= 8 frames/media via the
    real mapInPandas sampler), media-partitioned windows over those
    bounded frames, two media-keyed rollups; integer-exact.
    """
    from arkflow_spark.operators.multimodal import (
        attach_fake_media,
        frame_sample,
    )

    d = load(spark, sf_dir, "documents")
    media = attach_fake_media(d, text_col="text", id_col="doc_id")
    frames = frame_sample(media, every_n_bytes=64, max_frames=8)
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    runs = frames.withColumn(
        "is_start",
        F.when(
            F.col("frame_sha") == F.lag("frame_sha").over(w), 0
        ).otherwise(1),
    )
    shots = runs.withColumn(
        "shot_id",
        F.sum("is_start").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_shot = shots.groupBy("media_id", "shot_id").agg(
        F.count("*").cast("bigint").alias("len")
    )
    return (
        per_shot.groupBy("media_id")
        .agg(
            F.sum("len").cast("bigint").alias("n_frames"),
            F.count("*").cast("bigint").alias("n_shots"),
            quantize(F.sum("len") * 1.0 / F.count("*"), 4).alias(
                "mean_shot_len"
            ),
            F.max("len").cast("bigint").alias("longest_shot"),
        )
        .orderBy("media_id")
    )


# ------------------------------------------------ mutual information


@query(
    "events_mutual_information",
    oracle="""
    WITH cell AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
             CAST(COUNT(*) AS BIGINT) AS nxy
      FROM events GROUP BY 1, 2
    ),
    mx AS (
      SELECT event_type, CAST(SUM(nxy) AS BIGINT) AS nx
      FROM cell GROUP BY 1
    ),
    my AS (
      SELECT hod, CAST(SUM(nxy) AS BIGINT) AS ny FROM cell GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(nxy) AS BIGINT) AS n FROM cell
    ),
    mi AS (
      SELECT SUM(c.nxy * 1.0 / t.n
                 * ln(c.nxy * 1.0 * t.n / (x.nx * 1.0 * y.ny))) AS mi
      FROM cell c
      JOIN mx x USING (event_type)
      JOIN my y USING (hod)
      CROSS JOIN tot t
    ),
    hx AS (
      SELECT -SUM(x.nx * 1.0 / t.n * ln(x.nx * 1.0 / t.n)) AS h
      FROM mx x CROSS JOIN tot t
    )
    SELECT t.n AS n_events,
           floor(mi.mi * 10000 + 0.5) / 10000 AS mi_nats,
           floor(hx.h * 10000 + 0.5) / 10000 AS h_stream_nats,
           floor(mi.mi / hx.h * 10000 + 0.5) / 10000 AS mi_normalized
    FROM mi CROSS JOIN hx CROSS JOIN tot t
    """,
)
def events_mutual_information(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mutual information I(stream; hour-of-day) on the bounded
    contingency grid, plus the uncertainty coefficient I/H(stream):
    the share of stream identity the wall clock explains. MI catches
    ANY dependence shape (chi-square's effect size is harder to read
    across table sizes); all probabilities are exact integer-count
    ratios, so both engines compute bit-identical terms.

    Scale shape: one map-side-combinable (stream x 24h) rollup; the
    MI sum, marginals and entropies all run on the bounded grid.
    """
    e = load(spark, sf_dir, "events")
    cell = e.groupBy(
        "event_type", F.hour("ts").cast("bigint").alias("hod")
    ).agg(F.count("*").cast("bigint").alias("nxy")).persist()
    # ^ bounded contingency grid feeding marginals/total/MI branches —
    # one raw-stream rollup instead of five
    mx = cell.groupBy("event_type").agg(
        F.sum("nxy").cast("bigint").alias("nx")
    )
    my = cell.groupBy("hod").agg(F.sum("nxy").cast("bigint").alias("ny"))
    tot = cell.agg(F.sum("nxy").cast("bigint").alias("n"))
    mi = (
        cell.join(F.broadcast(mx), "event_type")
        .join(F.broadcast(my), "hod")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.col("nxy")
                * 1.0
                / F.col("n")
                * F.log(
                    F.col("nxy")
                    * 1.0
                    * F.col("n")
                    / (F.col("nx") * 1.0 * F.col("ny"))
                )
            ).alias("mi")
        )
    )
    hx = (
        mx.crossJoin(F.broadcast(tot))
        .agg(
            (
                -F.sum(
                    F.col("nx")
                    * 1.0
                    / F.col("n")
                    * F.log(F.col("nx") * 1.0 / F.col("n"))
                )
            ).alias("h")
        )
    )
    return (
        mi.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("n").alias("n_events"),
            quantize(F.col("mi"), 4).alias("mi_nats"),
            quantize(F.col("h"), 4).alias("h_stream_nats"),
            quantize(F.col("mi") / F.col("h"), 4).alias("mi_normalized"),
        )
    )


# ------------------------------------------------ sample entropy


@query(
    "events_sample_entropy",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS hr,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    tpl AS (
      SELECT event_type, hr, c,
             LEAD(c, 1) OVER (PARTITION BY event_type ORDER BY hr) AS c1,
             LEAD(c, 2) OVER (PARTITION BY event_type ORDER BY hr) AS c2,
             LEAD(hr, 2) OVER (PARTITION BY event_type ORDER BY hr) - hr
               AS span
      FROM hourly
    ),
    full_tpl AS (
      SELECT event_type, hr, c, c1, c2
      FROM tpl WHERE c2 IS NOT NULL AND span = 2
    ),
    r AS (
      SELECT event_type,
             0.2 * sqrt((SUM(CAST(c AS DOUBLE) * c)
                         - SUM(CAST(c AS DOUBLE)) * SUM(CAST(c AS DOUBLE))
                           / COUNT(*)) / (COUNT(*) - 1)) AS tol
      FROM hourly GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type,
             CAST(SUM(CASE WHEN GREATEST(ABS(a.c - b.c),
                                         ABS(a.c1 - b.c1)) <= r.tol
                      THEN 1 ELSE 0 END) AS BIGINT) AS b_cnt,
             CAST(SUM(CASE WHEN GREATEST(ABS(a.c - b.c),
                                         ABS(a.c1 - b.c1),
                                         ABS(a.c2 - b.c2)) <= r.tol
                      THEN 1 ELSE 0 END) AS BIGINT) AS a_cnt
      FROM full_tpl a
      JOIN full_tpl b ON b.event_type = a.event_type AND b.hr > a.hr
      JOIN r ON r.event_type = a.event_type
      GROUP BY a.event_type
    )
    SELECT p.event_type, p.b_cnt AS template_pairs_m2,
           p.a_cnt AS template_pairs_m3,
           floor(r.tol * 10000 + 0.5) / 10000 AS tolerance,
           floor(-ln(p.a_cnt * 1.0 / p.b_cnt) * 10000 + 0.5) / 10000
             AS sample_entropy
    FROM pairs p JOIN r USING (event_type)
    WHERE p.b_cnt > 0 AND p.a_cnt > 0
    ORDER BY p.event_type
    """,
)
def events_sample_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample Entropy (m = 2, r = 0.2 sd) of each stream's hourly count
    series: B = pairs of length-2 templates within Chebyshev tolerance
    r, A = same for length-3; SampEn = -ln(A/B). Template vectors use
    only CONSECUTIVE hours (span check), counts are exact integers, so
    the tolerance comparison |int diff| <= 0.2 sd is the only
    float-boundary — measure-zero for fractional tolerances.

    Scale shape: one hourly rollup, lead windows partitioned by stream
    over the calendar-bounded grid, then the per-stream template pair
    join — calendar-bounded (hours^2), embarrassingly parallel. For
    year-scale grids, band the join by coarse count-buckets (templates
    farther than r in the first coordinate can never match) — the
    standard pruning, unnecessary at this span.
    """
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        F.floor(F.unix_micros(F.col("ts")) / 3600000000.0)
        .cast("bigint")
        .alias("hr"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    w = Window.partitionBy("event_type").orderBy("hr")
    tpl = hourly.select(
        "event_type",
        "hr",
        "c",
        F.lead("c", 1).over(w).alias("c1"),
        F.lead("c", 2).over(w).alias("c2"),
        (F.lead("hr", 2).over(w) - F.col("hr")).alias("span"),
    ).filter(F.col("c2").isNotNull() & (F.col("span") == 2))
    r = hourly.groupBy("event_type").agg(
        (
            0.2
            * F.sqrt(
                (
                    F.sum(F.col("c").cast("double") * F.col("c"))
                    - F.sum(F.col("c").cast("double"))
                    * F.sum(F.col("c").cast("double"))
                    / F.count("*")
                )
                / (F.count("*") - 1)
            )
        ).alias("tol")
    )
    a = tpl.alias("a")
    b = tpl.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.hr") > F.col("a.hr")),
        )
        .join(
            F.broadcast(r.withColumnRenamed("event_type", "et_r")),
            F.col("a.event_type") == F.col("et_r"),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(
                    F.greatest(
                        F.abs(F.col("a.c") - F.col("b.c")),
                        F.abs(F.col("a.c1") - F.col("b.c1")),
                    )
                    <= F.col("tol"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("b_cnt"),
            F.sum(
                F.when(
                    F.greatest(
                        F.abs(F.col("a.c") - F.col("b.c")),
                        F.abs(F.col("a.c1") - F.col("b.c1")),
                        F.abs(F.col("a.c2") - F.col("b.c2")),
                    )
                    <= F.col("tol"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("a_cnt"),
        )
    )
    return (
        pairs.join(F.broadcast(r), "event_type")
        .filter((F.col("b_cnt") > 0) & (F.col("a_cnt") > 0))
        .select(
            "event_type",
            F.col("b_cnt").alias("template_pairs_m2"),
            F.col("a_cnt").alias("template_pairs_m3"),
            quantize(F.col("tol"), 4).alias("tolerance"),
            quantize(
                -F.log(F.col("a_cnt") * 1.0 / F.col("b_cnt")), 4
            ).alias("sample_entropy"),
        )
        .orderBy("event_type")
    )
