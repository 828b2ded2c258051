"""Round-5 batch 80: scale-free forecast backtest, clustering-vs-
provenance agreement, procurement price dispersion.

- `events_forecast_mase_seasonal_naive` — MASE backtest of the
  seasonal-naive forecaster (value = same hour last week) on the
  second timeline half, scaled by the forecaster's own in-sample MAE
  (Hyndman & Koehler 2006). MASE < 1 beats the naive baseline
  in-sample — the scale-free verdict WAPE/sMAPE (`events_
  forecast_eval_wape`) cannot give across streams of different
  volumes.
- `embedding_cluster_source_nmi` — normalized mutual information
  between the IVF cluster assignment (`ann_ivf_assign`) and document
  provenance (source): NMI ~ 1 means clusters just rediscover
  sources (embedding adds nothing over metadata); NMI ~ 0 means
  clusters cut across provenance (semantic structure worth indexing).
- `lineitem_part_price_dispersion` — same-part cross-supplier unit
  price dispersion: suppliers per part, max/min price ratio and
  spread, top-20 by ratio. The procurement-arbitrage screen: a 1.3x
  ratio on a high-volume part is found money.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import ORACLE, QUERIES, quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ MASE backtest

_SEASON_H = 168  # seasonal-naive lag: one week of hours


@query(
    "events_forecast_mase_seasonal_naive",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS hr,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    cut AS (
      SELECT MIN(hr) + (MAX(hr) - MIN(hr)) // 2 AS chr FROM hourly
    ),
    paired AS (
      SELECT h.event_type, h.hr, h.c, l.c AS c_lag,
             h.hr >= x.chr AS is_test
      FROM hourly h
      JOIN hourly l ON l.event_type = h.event_type
                   AND l.hr = h.hr - {_SEASON_H}
      CROSS JOIN cut x
    ),
    mae AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN NOT is_test
                      THEN abs(c - c_lag) END) AS BIGINT) AS train_ae,
             CAST(SUM(CASE WHEN NOT is_test THEN 1 ELSE 0 END)
                  AS BIGINT) AS train_n,
             CAST(SUM(CASE WHEN is_test
                      THEN abs(c - c_lag) END) AS BIGINT) AS test_ae,
             CAST(SUM(CASE WHEN is_test THEN 1 ELSE 0 END)
                  AS BIGINT) AS test_n
      FROM paired GROUP BY event_type
    )
    SELECT event_type, train_n, test_n,
           floor(test_ae * 1.0 / test_n * 10000 + 0.5) / 10000
             AS test_mae,
           floor((test_ae * 1.0 / test_n)
                 / (train_ae * 1.0 / train_n) * 10000 + 0.5) / 10000
             AS mase
    FROM mae WHERE train_n > 0 AND test_n > 0 AND train_ae > 0
    ORDER BY event_type
    """,
)
def events_forecast_mase_seasonal_naive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MASE backtest per stream: the seasonal-naive forecast (count at
    the same hour last week) scored on the second timeline half, with
    the same forecaster's in-sample MAE on the first half as the
    scale. All error sums are exact integers; two divisions at the
    end. MASE is comparable ACROSS streams — 0.8 on a small stream
    and 0.8 on a huge one mean the same thing, which raw MAE/WAPE do
    not.

    Scale shape: one calendar-bounded hourly rollup, one self-join on
    (stream, hr - {h}) over the hourly grid, one conditional
    aggregate.
    """.format(h=_SEASON_H)
    hourly = (
        load(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.floor(F.unix_micros(F.col("ts")) / 3600000000.0)
            .cast("bigint")
            .alias("hr"),
        )
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    cut = hourly.agg(
        (F.min("hr") + F.floor((F.max("hr") - F.min("hr")) / 2))
        .cast("bigint")
        .alias("chr")
    )
    lag = hourly.select(
        "event_type",
        (F.col("hr") + _SEASON_H).alias("hr"),
        F.col("c").alias("c_lag"),
    )
    paired = (
        hourly.join(lag, ["event_type", "hr"])
        .crossJoin(F.broadcast(cut))
        .withColumn("is_test", F.col("hr") >= F.col("chr"))
    )
    ae = F.abs(F.col("c") - F.col("c_lag"))
    mae = paired.groupBy("event_type").agg(
        F.sum(F.when(~F.col("is_test"), ae)).cast("bigint").alias(
            "train_ae"
        ),
        F.sum(F.when(~F.col("is_test"), 1).otherwise(0))
        .cast("bigint")
        .alias("train_n"),
        F.sum(F.when(F.col("is_test"), ae)).cast("bigint").alias(
            "test_ae"
        ),
        F.sum(F.when(F.col("is_test"), 1).otherwise(0))
        .cast("bigint")
        .alias("test_n"),
    )
    return (
        mae.filter(
            (F.col("train_n") > 0)
            & (F.col("test_n") > 0)
            & (F.col("train_ae") > 0)
        )
        .select(
            "event_type",
            "train_n",
            "test_n",
            quantize(F.col("test_ae") * 1.0 / F.col("test_n"), 4).alias(
                "test_mae"
            ),
            quantize(
                (F.col("test_ae") * 1.0 / F.col("test_n"))
                / (F.col("train_ae") * 1.0 / F.col("train_n")), 4
            ).alias("mase"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------------ cluster-source NMI


def _nmi_oracle() -> str:
    # vector_q registers the ann_ivf_assign oracle read below
    import arkflow_spark.queries.vector_q  # noqa: F401
    ivf = ORACLE["ann_ivf_assign"]
    return f"""
    WITH assign AS (
      SELECT vec_id, assigned_label FROM ({ivf}) a
    ),
    cont AS (
      SELECT a.assigned_label AS cl, d.source AS src,
             CAST(COUNT(*) AS BIGINT) AS n_ij
      FROM assign a JOIN documents d ON d.doc_id = a.vec_id
      GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(n_ij) AS BIGINT) AS n FROM cont),
    rm AS (SELECT cl, CAST(SUM(n_ij) AS BIGINT) AS ni FROM cont
           GROUP BY cl),
    cm AS (SELECT src, CAST(SUM(n_ij) AS BIGINT) AS nj FROM cont
           GROUP BY src),
    mi AS (
      SELECT CAST(SUM(CAST(floor(c.n_ij * 1.0 / t.n
                   * ln(c.n_ij * 1.0 * t.n / (r.ni * 1.0 * cm.nj))
                   * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)))
                  AS DOUBLE) AS mi
      FROM cont c
      JOIN rm r USING (cl) JOIN cm USING (src) CROSS JOIN tot t
    ),
    hr AS (
      SELECT CAST(SUM(CAST(floor(-(ni * 1.0 / t.n)
                   * ln(ni * 1.0 / t.n) * 1000000 + 0.5) / 1000000
                   AS DECIMAL(18,6))) AS DOUBLE) AS h
      FROM rm CROSS JOIN tot t
    ),
    hc AS (
      SELECT CAST(SUM(CAST(floor(-(nj * 1.0 / t.n)
                   * ln(nj * 1.0 / t.n) * 1000000 + 0.5) / 1000000
                   AS DECIMAL(18,6))) AS DOUBLE) AS h
      FROM cm CROSS JOIN tot t
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rm) AS n_clusters,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cm) AS n_sources,
           floor(mi.mi * 10000 + 0.5) / 10000 AS mutual_information,
           floor(mi.mi / sqrt(hr.h * hc.h) * 10000 + 0.5) / 10000
             AS nmi
    FROM mi CROSS JOIN hr CROSS JOIN hc
    """


@query("embedding_cluster_source_nmi", oracle=_nmi_oracle())
def embedding_cluster_source_nmi(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Normalized mutual information between the IVF coarse-quantizer
    assignment (`ann_ivf_assign`, label-seeded centroids — fully
    deterministic) and document provenance: MI and NMI =
    MI / sqrt(H_cluster * H_source), per-cell terms 6dp-quantized so
    both engines reduce identically. NMI ~ 1 = the index partitions
    by source (provenance-sharded IVF is free); NMI ~ 0 = semantic
    structure orthogonal to provenance.

    Scale shape: the contingency table is (clusters x sources) —
    category-bounded; the assignment reuses the registered IVF query;
    the doc dim joins broadcast.
    """
    assign = QUERIES["ann_ivf_assign"](spark, sf_dir).select(
        "vec_id", "assigned_label"
    )
    d = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    cont = (
        assign.join(F.broadcast(d), "vec_id")
        .groupBy(
            F.col("assigned_label").alias("cl"),
            F.col("source").alias("src"),
        )
        .agg(F.count("*").cast("bigint").alias("n_ij"))
        .persist()  # clusters x sources rows; lineage is the whole IVF
        # assignment — totals/marginals/MI all read this one tiny table
    )
    tot = cont.agg(F.sum("n_ij").cast("bigint").alias("n"))
    rm = cont.groupBy("cl").agg(F.sum("n_ij").cast("bigint").alias("ni"))
    cm = cont.groupBy("src").agg(
        F.sum("n_ij").cast("bigint").alias("nj")
    )
    mi = (
        cont.join(F.broadcast(rm), "cl")
        .join(F.broadcast(cm), "src")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                quantize(
                    F.col("n_ij")
                    * 1.0
                    / F.col("n")
                    * F.log(
                        F.col("n_ij")
                        * 1.0
                        * F.col("n")
                        / (F.col("ni") * 1.0 * F.col("nj"))
                    ), 6
                ).cast("decimal(18,6)")
            )
            .cast("double")
            .alias("mi")
        )
    )

    def entropy(df, cnt_col):
        return (
            df.crossJoin(F.broadcast(tot))
            .agg(
                F.sum(
                    quantize(
                        -(F.col(cnt_col) * 1.0 / F.col("n"))
                        * F.log(F.col(cnt_col) * 1.0 / F.col("n")), 6
                    ).cast("decimal(18,6)")
                )
                .cast("double")
                .alias("h")
            )
        )

    hr = entropy(rm, "ni").select(F.col("h").alias("h_r"))
    hc = entropy(cm, "nj").select(F.col("h").alias("h_c"))
    counts = rm.agg(
        F.count("*").cast("bigint").alias("n_clusters")
    ).crossJoin(
        F.broadcast(cm.agg(F.count("*").cast("bigint").alias("n_sources")))
    )
    return (
        counts.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hr))
        .crossJoin(F.broadcast(hc))
        .select(
            "n_clusters",
            "n_sources",
            quantize(F.col("mi"), 4).alias("mutual_information"),
            quantize(
                F.col("mi") / F.sqrt(F.col("h_r") * F.col("h_c")), 4
            ).alias("nmi"),
        )
    )


# ------------------------------------------------ price dispersion

_DISP_TOP = 20


@query(
    "lineitem_part_price_dispersion",
    oracle=f"""
    WITH sp AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                  AS DOUBLE)
               / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                      AS DOUBLE) AS unit_price
      FROM lineitem
      GROUP BY 1, 2
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 0
    ),
    disp AS (
      SELECT l_partkey,
             CAST(COUNT(*) AS BIGINT) AS n_suppliers,
             floor(MIN(unit_price) * 10000 + 0.5) / 10000 AS min_price,
             floor(MAX(unit_price) * 10000 + 0.5) / 10000 AS max_price,
             floor(MAX(unit_price) / MIN(unit_price) * 10000 + 0.5)
               / 10000 AS price_ratio
      FROM sp GROUP BY l_partkey HAVING COUNT(*) >= 2
    )
    SELECT l_partkey, n_suppliers, min_price, max_price, price_ratio
    FROM disp
    ORDER BY price_ratio DESC, l_partkey
    LIMIT {_DISP_TOP}
    """,
)
def lineitem_part_price_dispersion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-supplier unit-price dispersion per part: quantity-
    weighted unit price per (part, supplier) from exact decimal sums,
    then per multi-supplier part the min/max price and their ratio —
    top-{t} by ratio. A high ratio on a high-volume part is the
    procurement-arbitrage finding; a ratio of exactly 1.0 everywhere
    means prices are list-driven, not negotiated.

    Scale shape: one (part, supplier) rollup with exact decimal sums;
    the per-part dispersion is a second keyed rollup; the head is
    ORDER BY + LIMIT (TakeOrderedAndProject).
    """.format(t=_DISP_TOP)
    li = load(spark, sf_dir, "lineitem")
    sp = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("rev"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("qty"),
        )
        .filter(F.col("qty") > 0)
        .select(
            "l_partkey",
            (F.col("rev") / F.col("qty")).alias("unit_price"),
        )
    )
    return (
        sp.groupBy("l_partkey")
        .agg(
            F.count("*").cast("bigint").alias("n_suppliers"),
            quantize(F.min("unit_price"), 4).alias("min_price"),
            quantize(F.max("unit_price"), 4).alias("max_price"),
            quantize(F.max("unit_price") / F.min("unit_price"), 4).alias(
                "price_ratio"
            ),
        )
        .filter(F.col("n_suppliers") >= 2)
        .orderBy(F.col("price_ratio").desc(), "l_partkey")
        .limit(_DISP_TOP)
    )
