"""Round-5 batch 73: paired seasonal comparison, metric-space eval,
revenue bridge.

- `events_paired_t_hod` — paired t-test of the two timeline halves,
  pairing on hour-of-week slots: d_i = mean hourly count in half 2
  minus half 1 for slot i; t = mean(d) / (sd(d)/sqrt(n)). Pairing
  removes the weekly seasonality that makes the unpaired Welch test
  (`events_welch_ttest`) insensitive — the load can double at night
  and the unpaired test still calls the halves "equal".
- `embedding_triplet_violations` — triplet-margin audit of the
  embedding space: for deterministic (anchor, positive=next same-label
  id, negative=next next-label id within a bounded id window), the
  fraction where cosine(a,p) fails to beat cosine(a,n) — the metric
  sanity every retrieval/label-propagation consumer assumes, reported
  per label so one bad class is visible.
- `lineitem_revenue_bridge` — price/volume/mix bridge of the revenue
  change between two years per return flag: dR = sum (p2-p1) q1
  (price) + sum p1 (q2-q1) (volume) + sum (p2-p1)(q2-q1) (cross) over
  parts present both years, plus entered/exited part revenue. The
  additive decomposition finance asks for after the index numbers
  (`lineitem_price_index`) say "prices rose 3%".

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ paired t (hour-of-week)


@query(
    "events_paired_t_hod",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS hr,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    cut AS (
      SELECT MIN(hr) + (MAX(hr) - MIN(hr)) // 2 AS chr FROM hourly
    ),
    halves AS (
      SELECT h.event_type, h.hr % 168 AS how,
             CASE WHEN h.hr < c.chr THEN 1 ELSE 2 END AS half,
             h.c
      FROM hourly h CROSS JOIN cut c
    ),
    slot AS (
      SELECT event_type, how,
             CAST(SUM(CASE WHEN half = 1 THEN c END) AS BIGINT) AS s1,
             CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
             CAST(SUM(CASE WHEN half = 2 THEN c END) AS BIGINT) AS s2,
             CAST(SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n2
      FROM halves GROUP BY 1, 2
      HAVING SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) > 0
         AND SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END) > 0
    ),
    diffs AS (
      SELECT event_type,
             floor((s2 * 1.0 / n2 - s1 * 1.0 / n1) * 1000000 + 0.5)
               / 1000000 AS d
      FROM slot
    ),
    agg AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CAST(d AS DECIMAL(18,6))) AS DOUBLE) AS sd1,
             CAST(SUM(CAST(floor(d * d * 1000000 + 0.5) / 1000000
                           AS DECIMAL(18,6))) AS DOUBLE) AS sd2
      FROM diffs GROUP BY event_type
    )
    SELECT event_type, n_pairs,
           floor(sd1 / n_pairs * 10000 + 0.5) / 10000 AS mean_diff,
           floor(sd1 / n_pairs
                 / sqrt(((sd2 - sd1 * sd1 / n_pairs) / (n_pairs - 1))
                        / n_pairs)
                 * 10000 + 0.5) / 10000 AS t_stat
    FROM agg ORDER BY event_type
    """,
)
def events_paired_t_hod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired t-test between timeline halves, pairing on hour-of-week:
    per (stream, slot) the mean hourly count in each half, d = second
    minus first (6dp-quantized), then t = mean(d)/(sd(d)/sqrt(n)) from
    decimal-exact moment sums. Pairing differences out the weekly
    profile, so the test sees the level shift, not the seasonality.

    Scale shape: one calendar-bounded hourly rollup, one 168-slot
    conditional aggregate per stream, constant-size t arithmetic.
    """
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
    halves = hourly.crossJoin(F.broadcast(cut)).select(
        "event_type",
        (F.col("hr") % 168).alias("how"),
        F.when(F.col("hr") < F.col("chr"), 1).otherwise(2).alias("half"),
        "c",
    )
    slot = (
        halves.groupBy("event_type", "how")
        .agg(
            F.sum(F.when(F.col("half") == 1, F.col("c")))
            .cast("bigint")
            .alias("s1"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n1"),
            F.sum(F.when(F.col("half") == 2, F.col("c")))
            .cast("bigint")
            .alias("s2"),
            F.sum(F.when(F.col("half") == 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n2"),
        )
        .filter((F.col("n1") > 0) & (F.col("n2") > 0))
    )
    diffs = slot.select(
        "event_type",
        quantize(
            F.col("s2") * 1.0 / F.col("n2")
            - F.col("s1") * 1.0 / F.col("n1"), 6
        ).alias("d"),
    )
    agg = diffs.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum(F.col("d").cast("decimal(18,6)"))
        .cast("double")
        .alias("sd1"),
        F.sum(
            quantize(F.col("d") * F.col("d"), 6).cast("decimal(18,6)")
        )
        .cast("double")
        .alias("sd2"),
    )
    n = F.col("n_pairs")
    mean_d = F.col("sd1") / n
    var_d = (F.col("sd2") - F.col("sd1") * F.col("sd1") / n) / (n - 1)
    return agg.select(
        "event_type",
        "n_pairs",
        quantize(mean_d, 4).alias("mean_diff"),
        quantize(mean_d / F.sqrt(var_d / n), 4).alias("t_stat"),
    ).orderBy("event_type")


# ------------------------------------------------ triplet violations

_TRIPLET_WINDOW = 50  # candidate negatives within this id distance
_N_LABELS = 10


@query(
    "embedding_triplet_violations",
    oracle=f"""
    WITH x AS (
      SELECT vec_id, label, g.i AS i,
             CAST(embedding[g.i] AS DOUBLE) AS v
      FROM embeddings CROSS JOIN generate_series(1, 64) g(i)
      WHERE g.i <= len(embedding)
    ),
    nrm AS (
      SELECT vec_id, sqrt(SUM(v * v)) AS nrm FROM x GROUP BY vec_id
    ),
    anchors AS (
      SELECT vec_id, label FROM embeddings WHERE vec_id % 10 = 1
    ),
    pos AS (
      SELECT a.vec_id AS aid, MIN(e.vec_id) AS pid
      FROM anchors a JOIN embeddings e
        ON e.label = a.label AND e.vec_id > a.vec_id
       AND e.vec_id <= a.vec_id + {_TRIPLET_WINDOW}
      GROUP BY a.vec_id
    ),
    neg AS (
      SELECT a.vec_id AS aid, MIN(e.vec_id) AS nid
      FROM anchors a JOIN embeddings e
        ON e.label = (a.label + 1) % {_N_LABELS}
       AND e.vec_id > a.vec_id
       AND e.vec_id <= a.vec_id + {_TRIPLET_WINDOW}
      GROUP BY a.vec_id
    ),
    trip AS (
      SELECT p.aid, p.pid, n.nid
      FROM pos p JOIN neg n ON n.aid = p.aid
    ),
    simp AS (
      SELECT t.aid, SUM(qa.v * qp.v) / (na.nrm * np.nrm) AS s_ap
      FROM trip t
      JOIN x qa ON qa.vec_id = t.aid
      JOIN x qp ON qp.vec_id = t.pid AND qp.i = qa.i
      JOIN nrm na ON na.vec_id = t.aid
      JOIN nrm np ON np.vec_id = t.pid
      GROUP BY t.aid, na.nrm, np.nrm
    ),
    simn AS (
      SELECT t.aid, SUM(qa.v * qn.v) / (na.nrm * nn.nrm) AS s_an
      FROM trip t
      JOIN x qa ON qa.vec_id = t.aid
      JOIN x qn ON qn.vec_id = t.nid AND qn.i = qa.i
      JOIN nrm na ON na.vec_id = t.aid
      JOIN nrm nn ON nn.vec_id = t.nid
      GROUP BY t.aid, na.nrm, nn.nrm
    ),
    scored AS (
      SELECT a.label,
             CASE WHEN p.s_ap <= n.s_an THEN 1 ELSE 0 END AS viol,
             floor((p.s_ap - n.s_an) * 1000000 + 0.5) / 1000000 AS gap
      FROM anchors a
      JOIN simp p ON p.aid = a.vec_id
      JOIN simn n ON n.aid = a.vec_id
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_triplets,
           CAST(SUM(viol) AS BIGINT) AS n_violations,
           floor(SUM(viol) * 1.0 / COUNT(*) * 10000 + 0.5) / 10000
             AS violation_rate,
           floor(CAST(SUM(CAST(gap AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*) * 10000 + 0.5) / 10000 AS mean_gap
    FROM scored GROUP BY label ORDER BY label
    """,
)
def embedding_triplet_violations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Triplet-margin audit per label: anchors (vec_id % 10 = 1) pair
    with the nearest-following same-label vector (positive) and the
    nearest-following next-label vector (negative), both within a
    +{w}-id window; a violation is cosine(a,p) <= cosine(a,n).
    Violation rate >> 0 for one label means its region of the space
    is entangled — retrieval and kNN labeling will fail there first.

    Scale shape: anchor/positive/negative pairing is an id-windowed
    range join (fan-out capped at {w} per anchor, the as-of-join
    discipline), similarities are two narrow broadcast-joined dot
    products, and the verdict aggregates per label. Deterministic:
    pairing is by id order; gaps quantize before the decimal mean.
    """.format(w=_TRIPLET_WINDOW)
    e = load(spark, sf_dir, "embeddings")
    from arkflow_spark.queries.vector_q import _dot, _norm

    withn = e.select(
        "vec_id",
        "label",
        "embedding",
        _norm(F.col("embedding")).alias("nrm"),
    )
    anchors = withn.filter(F.col("vec_id") % 10 == 1).select(
        F.col("vec_id").alias("aid"),
        F.col("label").alias("alabel"),
        F.col("embedding").alias("a_emb"),
        F.col("nrm").alias("a_n"),
    )
    pool = withn.select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("clabel"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_n"),
    )

    def nearest(join_label_cond, out_name):
        cand = anchors.join(
            F.broadcast(pool),
            join_label_cond
            & (F.col("cid") > F.col("aid"))
            & (F.col("cid") <= F.col("aid") + _TRIPLET_WINDOW),
        )
        w = Window.partitionBy("aid").orderBy("cid")
        return (
            cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "aid",
                "alabel",
                "a_emb",
                "a_n",
                F.col("cid").alias(out_name),
                (
                    _dot(F.col("a_emb"), F.col("c_emb"))
                    / (F.col("a_n") * F.col("c_n"))
                ).alias(f"s_{out_name}"),
            )
        )

    p = nearest(F.col("clabel") == F.col("alabel"), "pid")
    n = nearest(
        F.col("clabel") == (F.col("alabel") + 1) % _N_LABELS, "nid"
    ).select("aid", "nid", "s_nid")
    scored = p.join(n, "aid").select(
        F.col("alabel").alias("label"),
        F.when(F.col("s_pid") <= F.col("s_nid"), 1)
        .otherwise(0)
        .alias("viol"),
        quantize(F.col("s_pid") - F.col("s_nid"), 6).alias("gap"),
    )
    return (
        scored.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_triplets"),
            F.sum("viol").cast("bigint").alias("n_violations"),
            quantize(F.sum("viol") * 1.0 / F.count("*"), 4).alias(
                "violation_rate"
            ),
            quantize(
                F.sum(F.col("gap").cast("decimal(18,6)")).cast("double")
                / F.count("*"), 4
            ).alias("mean_gap"),
        )
        .orderBy("label")
    )


# ------------------------------------------------ revenue bridge

_BRIDGE_Y1 = 1998
_BRIDGE_Y2 = 1999


@query(
    "lineitem_revenue_bridge",
    oracle=f"""
    WITH yr AS (
      SELECT l_returnflag AS flag, l_partkey,
             EXTRACT(year FROM l_shipdate) AS y,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS q,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                  AS DOUBLE) AS r
      FROM lineitem
      WHERE EXTRACT(year FROM l_shipdate)
              IN ({_BRIDGE_Y1}, {_BRIDGE_Y2})
      GROUP BY 1, 2, 3
    ),
    pv AS (
      SELECT flag, l_partkey,
             MAX(CASE WHEN y = {_BRIDGE_Y1} THEN q END) AS q1,
             MAX(CASE WHEN y = {_BRIDGE_Y1} THEN r END) AS r1,
             MAX(CASE WHEN y = {_BRIDGE_Y2} THEN q END) AS q2,
             MAX(CASE WHEN y = {_BRIDGE_Y2} THEN r END) AS r2
      FROM yr GROUP BY 1, 2
    ),
    terms AS (
      SELECT flag,
             floor(CASE WHEN q1 IS NOT NULL AND q2 IS NOT NULL
                   THEN (r2 / q2 - r1 / q1) * q1 ELSE 0 END
                   * 100 + 0.5) / 100 AS price_t,
             floor(CASE WHEN q1 IS NOT NULL AND q2 IS NOT NULL
                   THEN (r1 / q1) * (q2 - q1) ELSE 0 END
                   * 100 + 0.5) / 100 AS volume_t,
             floor(CASE WHEN q1 IS NOT NULL AND q2 IS NOT NULL
                   THEN (r2 / q2 - r1 / q1) * (q2 - q1) ELSE 0 END
                   * 100 + 0.5) / 100 AS cross_t,
             CASE WHEN q1 IS NULL THEN r2 ELSE 0 END AS entered_t,
             CASE WHEN q2 IS NULL THEN -r1 ELSE 0 END AS exited_t
      FROM pv
    )
    SELECT flag AS l_returnflag,
           CAST(SUM(CAST(price_t AS DECIMAL(18,2))) AS DOUBLE)
             AS price_effect,
           CAST(SUM(CAST(volume_t AS DECIMAL(18,2))) AS DOUBLE)
             AS volume_effect,
           CAST(SUM(CAST(cross_t AS DECIMAL(18,2))) AS DOUBLE)
             AS cross_effect,
           CAST(SUM(CAST(entered_t AS DECIMAL(18,2))) AS DOUBLE)
             AS entered_revenue,
           CAST(SUM(CAST(exited_t AS DECIMAL(18,2))) AS DOUBLE)
             AS exited_revenue
    FROM terms GROUP BY flag ORDER BY l_returnflag
    """,
)
def lineitem_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price/volume/mix revenue bridge {y1} -> {y2} per return flag:
    for parts shipped in both years, dR decomposes into
    (p2-p1)q1 [price] + p1(q2-q1) [volume] + (p2-p1)(q2-q1) [cross]
    with p = revenue/quantity; parts present in only one year land in
    entered/exited. The five effects sum exactly to the revenue delta
    — the additive story behind the Laspeyres/Paasche ratios in
    `lineitem_price_index`.

    Scale shape: one (flag, part, year) rollup with exact decimal
    sums; the two-year pivot is a same-key conditional aggregate (no
    join); per-part terms quantize to cents before the final decimal
    reduce, so both engines sum identically.
    """.format(y1=_BRIDGE_Y1, y2=_BRIDGE_Y2)
    li = load(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate").isin(_BRIDGE_Y1, _BRIDGE_Y2)
    )
    yr = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        "l_partkey",
        F.year("l_shipdate").alias("y"),
    ).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("q"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("r"),
    )
    pv = yr.groupBy("flag", "l_partkey").agg(
        F.max(F.when(F.col("y") == _BRIDGE_Y1, F.col("q"))).alias("q1"),
        F.max(F.when(F.col("y") == _BRIDGE_Y1, F.col("r"))).alias("r1"),
        F.max(F.when(F.col("y") == _BRIDGE_Y2, F.col("q"))).alias("q2"),
        F.max(F.when(F.col("y") == _BRIDGE_Y2, F.col("r"))).alias("r2"),
    )
    both = F.col("q1").isNotNull() & F.col("q2").isNotNull()
    p1 = F.col("r1") / F.col("q1")
    p2 = F.col("r2") / F.col("q2")
    terms = pv.select(
        "flag",
        quantize(
            F.when(both, (p2 - p1) * F.col("q1")).otherwise(0.0), 2
        ).alias("price_t"),
        quantize(
            F.when(both, p1 * (F.col("q2") - F.col("q1"))).otherwise(0.0), 2
        ).alias("volume_t"),
        quantize(
            F.when(
                both, (p2 - p1) * (F.col("q2") - F.col("q1"))
            ).otherwise(0.0), 2
        ).alias("cross_t"),
        F.when(F.col("q1").isNull(), F.col("r2"))
        .otherwise(0.0)
        .alias("entered_t"),
        F.when(F.col("q2").isNull(), -F.col("r1"))
        .otherwise(0.0)
        .alias("exited_t"),
    )
    d2 = lambda c: F.sum(F.col(c).cast("decimal(18,2)")).cast("double")
    return (
        terms.groupBy("flag")
        .agg(
            d2("price_t").alias("price_effect"),
            d2("volume_t").alias("volume_effect"),
            d2("cross_t").alias("cross_effect"),
            d2("entered_t").alias("entered_revenue"),
            d2("exited_t").alias("exited_revenue"),
        )
        .select(
            F.col("flag").alias("l_returnflag"),
            "price_effect",
            "volume_effect",
            "cross_effect",
            "entered_revenue",
            "exited_revenue",
        )
        .orderBy("l_returnflag")
    )
