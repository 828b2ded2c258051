"""Round-5 batch 111: supplier volatility, IVF assignment stability,
ARPU trend.

- `supplier_revenue_volatility` — coefficient of variation of
  quarterly revenue per supplier, top movers: flow stability is the
  supply-planning number (a volatile supplier needs buffer stock
  even at the same average volume). Exact decimal quarterly sums,
  closed-form moments over the bounded quarter panel.
- `ann_ivf_assignment_stability` — how sensitive is the IVF index to
  its training sample? Build label-seeded centroids from the
  even-id half and the odd-id half separately; the share of vectors
  both halves send to the SAME label is the assignment stability.
  Low agreement means bucket boundaries are sample noise and probe
  recall will drift on re-trains.
- `orders_arpu_trend` — quarterly revenue per active customer (the
  ARPU the board tracks) with the OLS trend over quarters: separates
  "more customers" growth from "bigger customers" growth in one
  number each quarter.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


_VOL_TOP = 20


# ------------------------------------------- supplier volatility


@query(
    "supplier_revenue_volatility",
    oracle=f"""
    WITH rev AS (
      SELECT l.l_suppkey AS s,
             CAST(EXTRACT(year FROM o.o_orderdate) * 4
                  + (EXTRACT(quarter FROM o.o_orderdate) - 1)
                  AS BIGINT) AS q,
             CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(18,6))) AS DOUBLE) AS r
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
    ),
    mom AS (
      SELECT s,
             CAST(COUNT(*) AS BIGINT) AS n_quarters,
             SUM(r) AS sr, SUM(r * r) AS srr
      FROM rev GROUP BY s
    )
    SELECT s AS suppkey, n_quarters,
           floor(sr / n_quarters * 100 + 0.5) / 100
             AS mean_quarterly_rev,
           floor(sqrt(GREATEST((srr - sr * sr / n_quarters)
                               / (n_quarters - 1), 0))
                 / (sr / n_quarters) * 10000 + 0.5) / 10000
             AS rev_cv
    FROM mom
    WHERE n_quarters >= 4
    ORDER BY rev_cv DESC, suppkey
    LIMIT {_VOL_TOP}
    """,
)
def supplier_revenue_volatility(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quarterly revenue volatility per supplier: the CV (sample sd /
    mean) over each supplier's quarterly revenue series, top-{t} most
    volatile among suppliers with 4+ active quarters. Two suppliers
    with equal average volume need very different buffer stock if one
    delivers in spikes — this is that ranking.

    Scale shape: one (supplier, quarter) decimal rollup, closed-form
    per-supplier moments, top-{t} via ORDER+LIMIT.
    """.format(t=_VOL_TOP)
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("l_suppkey").alias("s"),
            (
                F.year("o_orderdate") * 4 + (F.quarter("o_orderdate") - 1)
            )
            .cast("bigint")
            .alias("q"),
        )
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("decimal(18,6)")
            )
            .cast("double")
            .alias("r")
        )
    )
    mom = rev.groupBy("s").agg(
        F.count("*").cast("bigint").alias("n_quarters"),
        F.sum("r").alias("sr"),
        F.sum(F.col("r") * F.col("r")).alias("srr"),
    )
    mean = F.col("sr") / F.col("n_quarters")
    sd = F.sqrt(
        F.greatest(
            (F.col("srr") - F.col("sr") * F.col("sr") / F.col("n_quarters"))
            / (F.col("n_quarters") - 1),
            F.lit(0.0),
        )
    )
    return (
        mom.filter(F.col("n_quarters") >= 4)
        .select(
            F.col("s").alias("suppkey"),
            "n_quarters",
            quantize(mean, 2).alias(
                "mean_quarterly_rev"
            ),
            quantize(sd / mean, 4).alias("rev_cv"),
        )
        .orderBy(F.col("rev_cv").desc(), "suppkey")
        .limit(_VOL_TOP)
    )


# --------------------------------------- IVF assignment stability

_DIM = 64


@query(
    "ann_ivf_assignment_stability",
    oracle=f"""
    WITH x AS (
      SELECT vec_id, label, vec_id % 2 AS half, g.i AS i,
             CAST(embedding[g.i] AS DOUBLE) AS v
      FROM embeddings CROSS JOIN generate_series(1, {_DIM}) g(i)
      WHERE g.i <= len(embedding)
    ),
    cent AS (
      SELECT half, label, i,
             CAST(SUM(CAST(floor(v * 1000000 + 0.5) / 1000000
                  AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(DISTINCT vec_id) AS c
      FROM x GROUP BY half, label, i
    ),
    d AS (
      SELECT x.vec_id, c.half, c.label,
             SUM(CAST(floor((x.v - c.c) * (x.v - c.c) * 1000000 + 0.5)
                 / 1000000 AS DECIMAL(28,6))) AS d2
      FROM x JOIN cent c ON c.i = x.i
      GROUP BY 1, 2, 3
    ),
    best AS (
      SELECT vec_id, half, label FROM (
        SELECT vec_id, half, label,
               row_number() OVER (PARTITION BY vec_id, half
                                  ORDER BY d2, label) AS rn
        FROM d
      ) WHERE rn = 1
    ),
    agree AS (
      SELECT a.vec_id,
             CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS same
      FROM best a JOIN best b
        ON b.vec_id = a.vec_id AND a.half = 0 AND b.half = 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(same) AS BIGINT) AS n_agree,
           floor(SUM(same) * 1.0 / COUNT(*) * 10000 + 0.5) / 10000
             AS stability
    FROM agree
    """,
)
def ann_ivf_assignment_stability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVF training-sample sensitivity: label-seeded centroids built
    from the even-vec_id half and the odd half independently; every
    vector is assigned to its nearest centroid under EACH set, and
    stability = the share assigned to the same label by both. Low
    stability means bucket boundaries are sample noise — probe
    recall will drift on every re-train, and the bucket count or
    seeding needs work before trusting recall evals
    (`ann_ivf_pq_recall_eval`).

    Scale shape: centroids are (2 x labels x {d}) bounded aggregates
    broadcast onto one per-dim distance pass; the argmin ranks
    2 x labels rows per vector; the agreement join is vec-keyed.
    """.format(d=_DIM)
    e = load(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id",
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("i0", "v0"),
    ).select(
        "vec_id",
        "label",
        "half",
        (F.col("i0") + 1).alias("i"),
        F.col("v0").cast("double").alias("v"),
    )
    # r9: COUNT(*) == COUNT(DISTINCT vec_id) here — posexplode emits
    # exactly one row per (vec_id, i), so vec_ids within a
    # (half, label, i) group are already distinct. The count_distinct
    # planned as a 4-level two-phase distinct aggregate (an extra
    # corpus x 64-wide exchange keyed on (half, label, i, vec_id));
    # count(*) keeps the aggregate one-pass map-side combinable.
    # Values are identical, the oracle hash is the witness.
    cent = x.groupBy("half", "label", "i").agg(
        (
            F.sum(quantize(F.col("v"), 6).cast("decimal(18,6)")).cast(
                "double"
            )
            / F.count("*")
        ).alias("c")
    )  # 2 x labels x dims — broadcast into the distance pass
    cc = cent.select(
        F.col("half").alias("chalf"),
        F.col("label").alias("clabel"),
        "i",
        "c",
    )
    d = (
        x.select("vec_id", "i", "v")
        .join(F.broadcast(cc), "i")
        .groupBy("vec_id", "chalf", "clabel")
        .agg(
            F.sum(
                quantize(
                    (F.col("v") - F.col("c")) * (F.col("v") - F.col("c")), 6
                ).cast("decimal(28,6)")
            ).alias("d2")
        )
    )
    # r9: the argmin per (vector, half) is min(struct(d2, clabel)) —
    # identical to the row_number() window's (d2 ASC, label ASC) first
    # row (d2 is a SUM over >= 1 non-null term, so never NULL; the
    # struct-min NULL-ordering caveat of customer_brand_switching does
    # not arise) — and BOTH halves fold into ONE vec_id-keyed hash
    # aggregate via conditional mins. This replaces: a full sort of
    # the (vectors x 2 x labels) distance frame under a window, a
    # persist, two filter scans of it, and a self-join — with two
    # map-side-combinable aggregates. The filter on both mins being
    # present mirrors the old INNER join (each vector needs an
    # assignment under each centroid set).
    best = d.groupBy("vec_id").agg(
        F.min(
            F.when(
                F.col("chalf") == 0,
                F.struct(F.col("d2"), F.col("clabel")),
            )
        ).alias("ma"),
        F.min(
            F.when(
                F.col("chalf") == 1,
                F.struct(F.col("d2"), F.col("clabel")),
            )
        ).alias("mb"),
    )
    return (
        best.filter(F.col("ma").isNotNull() & F.col("mb").isNotNull())
        .select(
            F.when(
                F.col("ma.clabel") == F.col("mb.clabel"), 1
            ).otherwise(0).alias("same")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.sum("same").cast("bigint").alias("n_agree"),
            quantize(F.sum("same") * 1.0 / F.count("*"), 4).alias(
                "stability"
            ),
        )
    )


# ------------------------------------------------ ARPU trend


@query(
    "orders_arpu_trend",
    oracle="""
    WITH per AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) * 4
                  + (EXTRACT(quarter FROM o_orderdate) - 1)
                  AS BIGINT) AS q,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_active,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1
    ),
    idx AS (
      SELECT q, n_active, rev,
             floor(CAST(rev AS DOUBLE) / n_active * 100 + 0.5) / 100
               AS arpu,
             row_number() OVER (ORDER BY q) AS i,
             CAST(COUNT(*) OVER () AS BIGINT) AS k
      FROM per
    ),
    tr AS (
      SELECT CAST(MAX(k) AS BIGINT) AS k, SUM(i) AS si,
             SUM(i * i) AS sii, SUM(arpu) AS sa, SUM(i * arpu) AS sia
      FROM idx
    )
    SELECT x.q AS quarter, x.n_active,
           floor(CAST(x.rev AS DOUBLE) * 100 + 0.5) / 100 AS revenue,
           x.arpu,
           floor((t.k * t.sia - t.si * t.sa)
                 / (t.k * t.sii - t.si * t.si) * 10000 + 0.5) / 10000
             AS arpu_trend_per_quarter
    FROM idx x CROSS JOIN tr t
    ORDER BY x.q
    """,
)
def orders_arpu_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarterly ARPU (revenue per active customer) with its OLS
    trend over the quarter sequence: splits growth into "more
    customers" (active count) vs "bigger customers" (ARPU), and the
    trend says which way monetization is actually moving.

    Scale shape: one quarter rollup with a distinct-customer count;
    the trend is a closed form over the bounded quarter panel.
    # scale: calendar-bounded window
    """
    o = load(spark, sf_dir, "orders")
    per = o.groupBy(
        (
            F.year("o_orderdate") * 4 + (F.quarter("o_orderdate") - 1)
        )
        .cast("bigint")
        .alias("q")
    ).agg(
        F.count_distinct("o_custkey").cast("bigint").alias("n_active"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"),
    )
    from pyspark.sql import Window

    wq = Window.orderBy("q")
    idx = per.select(
        "q",
        "n_active",
        "rev",
        quantize(F.col("rev").cast("double") / F.col("n_active"), 2).alias(
            "arpu"
        ),
        F.row_number().over(wq).alias("i"),
    ).persist()  # quarter-bounded; feeds the trend and the final rows
    tr = idx.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("i").alias("si"),
        F.sum(F.col("i") * F.col("i")).alias("sii"),
        F.sum("arpu").alias("sa"),
        F.sum(F.col("i") * F.col("arpu")).alias("sia"),
    )
    return (
        idx.crossJoin(F.broadcast(tr))
        .select(
            F.col("q").alias("quarter"),
            "n_active",
            quantize(F.col("rev").cast("double"), 2).alias("revenue"),
            "arpu",
            quantize(
                (F.col("k") * F.col("sia") - F.col("si") * F.col("sa"))
                / (F.col("k") * F.col("sii") - F.col("si") * F.col("si")), 4
            ).alias("arpu_trend_per_quarter"),
        )
        .orderBy("quarter")
    )
