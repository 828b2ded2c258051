"""Round-6 batch 119: kNN reciprocity, parquet encoding advisor,
alert time-to-detect.

- `ann_knn_reciprocity` — reciprocity of the label-bucketed top-5
  cosine kNN graph: the share of directed kNN edges whose reverse is
  also a kNN edge. Mutual-NN edges are the trustworthy ones (used by
  reciprocal-rank fusion and NN-clustering); low reciprocity marks
  hubness-distorted regions where A's neighbour list says nothing
  about B's (`embedding_hubness_knn` measures the cause, this the
  symptom).
- `layout_encoding_advisor` — column-encoding advisor for the 100 TB
  parquet layout: per lineitem column, distinct ratio, mean
  equal-value run length in writer order, and monotone-delta share,
  mapped to DICT / RLE / DELTA / PLAIN recommendations — the storage
  sibling of `lineitem_zorder_layout` and `documents_partition_advisor`.
- `events_alert_mttd` — mean time to detect: for each error-burst
  incident (the `events_incident_mtbf` gap sessionization), the delay
  until the `events_multiwindow_burn_alerts` PAGE condition first
  fires within the incident window. Burn-rate policies trade
  detection speed for flap resistance; this measures the speed side
  on real history.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ kNN reciprocity

_KR_K = 5


@query(
    "ann_knn_reciprocity",
    oracle=f"""
    WITH x AS (
      SELECT vec_id, label, g.i AS i, CAST(embedding[g.i] AS DOUBLE) AS v
      FROM embeddings CROSS JOIN generate_series(1, 64) g(i)
      WHERE g.i <= len(embedding)
    ),
    nrm AS (
      SELECT vec_id, sqrt(SUM(v * v)) AS nrm FROM x GROUP BY vec_id
    ),
    dots AS (
      SELECT a.vec_id AS qa, b.vec_id AS qb, a.label AS label,
             SUM(a.v * b.v) AS dot
      FROM x a JOIN x b ON b.i = a.i AND b.label = a.label
                        AND b.vec_id <> a.vec_id
      GROUP BY 1, 2, 3
    ),
    knn AS (
      SELECT qa, qb, label,
             row_number() OVER (PARTITION BY qa
               ORDER BY dot / (na.nrm * nb.nrm) DESC, qb) AS r
      FROM dots
      JOIN nrm na ON na.vec_id = qa
      JOIN nrm nb ON nb.vec_id = qb
      QUALIFY r <= {_KR_K}
    ),
    rec AS (
      SELECT e.label, e.qa, e.qb,
             r2.qa IS NOT NULL AS mutual
      FROM knn e LEFT JOIN knn r2
        ON r2.qa = e.qb AND r2.qb = e.qa
    )
    SELECT CAST(label AS INTEGER) AS label,
           CAST(COUNT(DISTINCT qa) AS BIGINT) AS n_vecs,
           CAST(COUNT(*) AS BIGINT) AS n_edges,
           CAST(COUNT(*) FILTER (mutual) AS BIGINT) AS n_mutual,
           floor(COUNT(*) FILTER (mutual) * 1.0 / COUNT(*)
                 * 10000 + 0.5) / 10000 AS reciprocity
    FROM rec GROUP BY label ORDER BY label
    """,
)
def ann_knn_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocity of the top-{k} cosine kNN graph within each label
    bucket: directed edges whose reverse also ranks top-{k}. The
    bucketed restriction is the IVF discipline — at 100 TB the kNN
    graph is only ever built within coarse buckets, so the pair space
    is (bucket size)^2 per bucket, never corpus-quadratic.

    Determinism: dot products are sequential array folds (identical
    doubles both engines); ranking ties break on candidate id.
    """.format(k=_KR_K)
    from arkflow_spark.queries.vector_q import _dot, _norm

    e = load(spark, sf_dir, "embeddings")
    withn = e.select(
        "vec_id", "label", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    a = withn.select(
        F.col("vec_id").alias("qa"),
        F.col("label").alias("label"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = withn.select(
        F.col("vec_id").alias("qb"),
        F.col("label").alias("lb"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    scored = a.join(
        b, (F.col("lb") == F.col("label")) & (F.col("qb") != F.col("qa"))
    ).select(
        "qa",
        "qb",
        "label",
        (
            _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
        ).alias("cos"),
    )
    w = Window.partitionBy("qa").orderBy(F.desc("cos"), F.asc("qb"))
    knn = (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _KR_K)
        .select("qa", "qb", "label")
    )
    r2 = knn.select(
        F.col("qa").alias("rb"), F.col("qb").alias("ra")
    ).withColumn("mutual", F.lit(True))
    rec = knn.join(
        r2,
        (F.col("qa") == F.col("ra")) & (F.col("qb") == F.col("rb")),
        "left",
    )
    mut = F.count(F.when(F.col("mutual"), 1))
    return (
        rec.groupBy("label")
        .agg(
            F.countDistinct("qa").cast("bigint").alias("n_vecs"),
            F.count("*").cast("bigint").alias("n_edges"),
            mut.cast("bigint").alias("n_mutual"),
            quantize(mut * 1.0 / F.count("*"), 4).alias("reciprocity"),
        )
        .select(
            F.col("label").cast("int").alias("label"),
            "n_vecs",
            "n_edges",
            "n_mutual",
            "reciprocity",
        )
        .orderBy("label")
    )


# ------------------------------------------------ encoding advisor

_ENC_COLS = (
    "l_returnflag",
    "l_linestatus",
    "l_shipdate",
    "l_quantity",
    "l_partkey",
    "l_extendedprice",
)


def _enc_oracle() -> str:
    blocks = []
    for c in _ENC_COLS:
        blocks.append(f"""
    SELECT '{c}' AS col,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
           floor(COUNT(DISTINCT v) * 1.0 / COUNT(*) * 1000000 + 0.5)
             / 1000000 AS distinct_ratio,
           floor(COUNT(*) * 1.0
                 / (COUNT(*) - SUM(CASE WHEN same THEN 1 ELSE 0 END))
                 * 10000 + 0.5) / 10000 AS mean_run_len,
           floor(SUM(CASE WHEN mono IS NOT NULL AND mono
                          THEN 1 ELSE 0 END) * 1.0
                 / greatest(SUM(CASE WHEN mono IS NOT NULL
                                     THEN 1 ELSE 0 END), 1)
                 * 10000 + 0.5) / 10000 AS monotone_share
    FROM (
      SELECT CAST({c} AS VARCHAR) AS v,
             CAST({c} AS VARCHAR) = lag(CAST({c} AS VARCHAR))
               OVER w AS same0,
             COALESCE(CAST({c} AS VARCHAR) = lag(CAST({c} AS VARCHAR))
               OVER w, FALSE) AS same,
             CAST({c} AS VARCHAR) >= lag(CAST({c} AS VARCHAR)) OVER w
               AS mono
      FROM lineitem
      WINDOW w AS (PARTITION BY l_orderkey
                   ORDER BY l_linenumber, l_partkey, l_suppkey,
                            l_extendedprice)
    )""")
    union = "\n    UNION ALL\n".join(blocks)
    return f"""
    WITH metrics AS (
    {union}
    )
    SELECT col, n_rows, n_distinct, distinct_ratio, mean_run_len,
           monotone_share,
           CASE WHEN distinct_ratio < 0.01 AND mean_run_len >= 3
                  THEN 'RLE_DICT'
                WHEN distinct_ratio < 0.01 THEN 'DICT'
                WHEN monotone_share > 0.9 THEN 'DELTA'
                ELSE 'PLAIN' END AS recommendation
    FROM metrics ORDER BY col
    """


@query("layout_encoding_advisor", oracle=_enc_oracle())
def layout_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet encoding advisor over lineitem's columns in writer order
    (l_orderkey, l_linenumber): distinct ratio (dictionary
    viability), mean equal-value run length WITHIN an order (RLE
    gain; cross-order boundaries break runs), and the share of
    non-null within-order deltas that are non-decreasing (delta
    encoding). Thresholds map to RLE_DICT / DICT / DELTA / PLAIN. At
    100 TB the wrong encoding is a multi-PB storage tax — this reads
    the answer off the data instead of guessing.

    Scale shape (r8 optimization round): ALL six columns share the one
    order-partitioned window spec, so one window pass computes every
    (value, same-as-prev, monotone) triple — the old per-column-branch
    union sorted the full table SIX times (6 window exchanges + 6
    count-distinct shuffles, 18 exchanges total). The triples unpivot
    to (col, v, same, mono) rows and one grouped rollup produces the
    same six metric rows: 1 window exchange + the grouped distinct's
    shuffle, identical values.
    """
    li = load(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) alone is NOT unique in this fixture —
    # a total within-order ordering needs the part/supp/price tiebreak
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice"
    )
    proj = []
    for c in _ENC_COLS:
        v = F.col(c).cast("string")
        prev = F.lag(v).over(w)
        proj += [
            v.alias(f"v_{c}"),
            F.coalesce(v == prev, F.lit(False)).alias(f"same_{c}"),
            (v >= prev).alias(f"mono_{c}"),
        ]
    stacked = (
        li.select(*proj)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("col"),
                            F.col(f"v_{c}").alias("v"),
                            F.col(f"same_{c}").alias("same"),
                            F.col(f"mono_{c}").alias("mono"),
                        )
                        for c in _ENC_COLS
                    ]
                )
            ).alias("s")
        )
        .select("s.*")
    )
    metrics = stacked.groupBy("col").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.countDistinct("v").cast("bigint").alias("n_distinct"),
        quantize(F.countDistinct("v") * 1.0 / F.count("*"), 6).alias(
            "distinct_ratio"
        ),
        quantize(
            F.count("*")
            * 1.0
            / (F.count("*") - F.sum(F.col("same").cast("int"))), 4
        ).alias("mean_run_len"),
        quantize(
            F.sum(
                F.when(
                    F.col("mono").isNotNull() & F.col("mono"), 1
                ).otherwise(0)
            )
            * 1.0
            / F.greatest(
                F.sum(
                    F.when(F.col("mono").isNotNull(), 1).otherwise(0)
                ),
                F.lit(1),
            ), 4
        ).alias("monotone_share"),
    )
    rec = (
        F.when(
            (F.col("distinct_ratio") < 0.01)
            & (F.col("mean_run_len") >= 3),
            F.lit("RLE_DICT"),
        )
        .when(F.col("distinct_ratio") < 0.01, F.lit("DICT"))
        .when(F.col("monotone_share") > 0.9, F.lit("DELTA"))
        .otherwise(F.lit("PLAIN"))
    )
    return metrics.withColumn("recommendation", rec).orderBy("col")


# ------------------------------------------------ alert MTTD

_MTTD_GAP_S = 1800
_MTTD_BUDGET = 0.05


@query(
    "events_alert_mttd",
    oracle=f"""
    WITH err AS (
      SELECT ts, event_id,
             CASE WHEN epoch(ts) - lag(epoch(ts)) OVER
                    (ORDER BY ts, event_id) > {_MTTD_GAP_S}
                  OR lag(epoch(ts)) OVER (ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_incident
      FROM events WHERE event_type = 'error'
    ),
    marked AS (
      SELECT ts, SUM(new_incident) OVER
               (ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
               AS incident_id
      FROM err
    ),
    incidents AS (
      SELECT incident_id, MIN(ts) AS started, MAX(ts) AS ended
      FROM marked GROUP BY incident_id
    ),
    mins AS (
      SELECT date_trunc('minute', ts) AS m,
             COUNT(*) AS n,
             COUNT(*) FILTER (event_type = 'error') AS e
      FROM events GROUP BY 1
    ),
    grid AS (
      SELECT m,
             SUM(n) OVER w5 AS n5, SUM(e) OVER w5 AS e5,
             SUM(n) OVER w60 AS n60, SUM(e) OVER w60 AS e60
      FROM mins
      WINDOW
        w5 AS (ORDER BY m RANGE BETWEEN INTERVAL 4 MINUTE PRECEDING
               AND CURRENT ROW),
        w60 AS (ORDER BY m RANGE BETWEEN INTERVAL 59 MINUTE PRECEDING
                AND CURRENT ROW)
    ),
    pages AS (
      SELECT m FROM grid
      WHERE (e60 * 1.0 / n60) / {_MTTD_BUDGET} > 14.4
        AND (e5 * 1.0 / n5) / {_MTTD_BUDGET} > 14.4
    ),
    det AS (
      SELECT i.incident_id, i.started,
             MIN(p.m) AS first_page
      FROM incidents i LEFT JOIN pages p
        ON p.m >= date_trunc('minute', i.started)
       AND p.m <= i.ended + INTERVAL 60 MINUTE
      GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_incidents,
           CAST(COUNT(first_page) AS BIGINT) AS detected,
           floor(COUNT(first_page) * 1.0 / COUNT(*) * 10000 + 0.5)
             / 10000 AS detection_rate,
           floor(CAST(SUM(CAST(epoch_us(first_page) - epoch_us(started)
                               AS DECIMAL(24,1))) AS DOUBLE)
                 / greatest(COUNT(first_page), 1) / 60000000
                 * 10000 + 0.5) / 10000 AS mean_mttd_min
    FROM det
    """,
)
def events_alert_mttd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean time to detect: for each gap-sessionized error incident
    ({g} min quiet closes it), the delay from incident start to the
    first minute the multiwindow PAGE condition
    (`events_multiwindow_burn_alerts`) fires inside the incident
    window (+60 min grace). Burn-rate alerting buys flap resistance
    with latency — MTTD and detection rate are the price tag, read
    off history instead of guessed.

    Scale shape: incident assignment reuses the distributed-rank
    construction on the minority error stream (`events_incident_mtbf`);
    the page grid is calendar-bounded minutes; the detection join is
    an incidents x pages time-range join, both sides bounded.
    """.format(g=_MTTD_GAP_S // 60)
    from arkflow_spark.functions import distributed_rank as dr

    e = load(spark, sf_dir, "events")
    err = e.filter(F.col("event_type") == "error")
    ep = F.unix_micros(F.col("ts").cast("timestamp"))
    base = err.select("ts", "event_id", ep.alias("__ep"))
    r1 = dr.with_global_order(base, [F.asc("ts"), F.asc("event_id")])
    prev = r1.select(
        (F.col(dr.RN) + 1).alias("__rnp"),
        F.col("__ep").alias("__prev_ep"),
    )
    flagged = (
        r1.join(prev, F.col(dr.RN) == F.col("__rnp"), "left")
        .select(
            "ts",
            F.col(dr.RN).alias("__rn0"),
            F.when(
                (F.col("__ep") - F.col("__prev_ep")
                 > _MTTD_GAP_S * 1000000)
                | F.col("__prev_ep").isNull(),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("__ni"),
        )
    )
    marked = dr.with_global_order(
        flagged, [F.asc("__rn0")], sums={"ni": F.col("__ni")}
    ).select("ts", F.col("__cum_ni").alias("incident_id"))
    incidents = marked.groupBy("incident_id").agg(
        F.min("ts").alias("started"), F.max("ts").alias("ended")
    )
    mins = e.groupBy(F.date_trunc("minute", "ts").alias("m")).agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("e"),
    ).withColumn("msec", F.unix_timestamp("m"))
    # scale: calendar-bounded (minute grid; rows <= timespan minutes)
    trail = lambda mm: Window.orderBy("msec").rangeBetween(
        -(mm - 1) * 60, 0
    )
    grid = mins.select(
        "m",
        F.sum("n").over(trail(5)).alias("n5"),
        F.sum("e").over(trail(5)).alias("e5"),
        F.sum("n").over(trail(60)).alias("n60"),
        F.sum("e").over(trail(60)).alias("e60"),
    )
    pages = grid.filter(
        ((F.col("e60") * 1.0 / F.col("n60")) / _MTTD_BUDGET > 14.4)
        & ((F.col("e5") * 1.0 / F.col("n5")) / _MTTD_BUDGET > 14.4)
    ).select("m")
    det = (
        incidents.join(
            pages,
            (F.col("m") >= F.date_trunc("minute", "started"))
            & (
                F.col("m")
                <= F.col("ended") + F.expr("INTERVAL 60 MINUTES")
            ),
            "left",
        )
        .groupBy("incident_id", "started")
        .agg(F.min("m").alias("first_page"))
    )
    delay_us = (
        F.unix_micros(F.col("first_page").cast("timestamp"))
        - F.unix_micros(F.col("started").cast("timestamp"))
    ).cast("decimal(24,1)")
    return det.agg(
        F.count("*").cast("bigint").alias("n_incidents"),
        F.count("first_page").cast("bigint").alias("detected"),
        quantize(F.count("first_page") * 1.0 / F.count("*"), 4).alias(
            "detection_rate"
        ),
        quantize(
            F.sum(delay_us).cast("double")
            / F.greatest(F.count("first_page"), F.lit(1))
            / 60000000, 4
        ).alias("mean_mttd_min"),
    )
