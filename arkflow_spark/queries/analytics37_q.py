"""Round-4 batch 37: Spearman rank correlation, newsvendor stocking
quantile, link prediction on the copurchase graph, SAX motif discovery.

- `events_spearman_corr` — Spearman's rho per event stream between the
  metric value and the minute-of-day: the monotonic-association readout
  (is this metric diurnal?) that Pearson (`events_cross_correlation`)
  misses when the relationship is nonlinear. Midrank ties, exact
  decimal rank-moment sums.
- `lineitem_newsvendor_qstar` — the classical newsvendor critical
  fractile: stock Q* = the smallest weekly-demand level whose empirical
  CDF reaches beta = Cu/(Cu+Co) = 0.8 — the inventory-planning partner
  of `orders_eoq_replenishment` (how MUCH to order vs how OFTEN).
- `graph_link_prediction_ra` — common-neighbors / Jaccard / resource-
  allocation scores for part pairs at distance 2 in the copurchase
  graph (never co-bought, share >= 1 neighbor): the classic
  recommendation candidate generator. RA = sum 1/deg(z) over shared
  neighbors z (Zhou et al.), chosen over Adamic-Adar because 1/deg is
  an IEEE-exact division in both engines while 1/ln(deg) is not.
- `events_sax_motifs` — SAX symbolization (z-normalize -> 8-point PAA
  -> 4-symbol gaussian alphabet) and sliding 3-window motif counting:
  the standard discrete-pattern mining step over raw series.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.functions import copurchase
from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# --------------------------------------------------- Spearman rank corr


@query(
    "events_spearman_corr",
    oracle="""
    WITH base AS (
      SELECT event_type, value AS x,
             CAST(date_part('hour', ts) * 60 + date_part('minute', ts)
                  AS BIGINT) AS y
      FROM events
    ),
    ranked AS (
      SELECT event_type,
             rank() OVER (PARTITION BY event_type ORDER BY x)
               + (COUNT(*) OVER (PARTITION BY event_type, x) - 1) / 2.0
               AS rx,
             rank() OVER (PARTITION BY event_type ORDER BY y)
               + (COUNT(*) OVER (PARTITION BY event_type, y) - 1) / 2.0
               AS ry
      FROM base
    ),
    m AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(rx AS DECIMAL(18,1))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(ry AS DECIMAL(18,1))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(rx * rx AS DECIMAL(28,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(ry * ry AS DECIMAL(28,2))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(rx * ry AS DECIMAL(28,2))) AS DOUBLE) AS sxy
      FROM ranked GROUP BY 1
    )
    SELECT event_type, n,
           floor((n * sxy - sx * sy)
                 / NULLIF(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
                          0)
                 * 10000 + 0.5) / 10000 AS spearman_rho
    FROM m ORDER BY event_type
    """,
)
def events_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman's rho per stream: Pearson correlation of the midranks of
    (value, minute-of-day).

    Midranks are half-integers (min-rank + (ties-1)/2), so every rank
    moment accumulates EXACTLY as decimal (products have quarter
    fractions -> DECIMAL(28,2)); rho is scalar double arithmetic over
    those exact sums, NULL when either variable is constant (zero rank
    variance). Plan: two window passes over the stream (one sort per
    variable, rank + tie-count share each sort) and one final
    map-side-combinable aggregation — no joins.
    """
    e = load(spark, sf_dir, "events").select(
        "event_type",
        F.col("value").alias("x"),
        (F.hour("ts") * 60 + F.minute("ts")).cast("bigint").alias("y"),
    )
    wx = Window.partitionBy("event_type").orderBy("x")
    wxt = Window.partitionBy("event_type", "x")
    wy = Window.partitionBy("event_type").orderBy("y")
    wyt = Window.partitionBy("event_type", "y")
    ranked = e.select(
        "event_type",
        (F.rank().over(wx) + (F.count("*").over(wxt) - 1) / 2.0).alias("rx"),
        (F.rank().over(wy) + (F.count("*").over(wyt) - 1) / 2.0).alias("ry"),
    )
    m = ranked.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("rx").cast("decimal(18,1)")).cast("double").alias("sx"),
        F.sum(F.col("ry").cast("decimal(18,1)")).cast("double").alias("sy"),
        F.sum((F.col("rx") * F.col("rx")).cast("decimal(28,2)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("ry") * F.col("ry")).cast("decimal(28,2)"))
        .cast("double")
        .alias("syy"),
        F.sum((F.col("rx") * F.col("ry")).cast("decimal(28,2)"))
        .cast("double")
        .alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = n * F.col("sxy") - sx * sy
    den = F.sqrt(
        (n * F.col("sxx") - sx * sx) * (n * F.col("syy") - sy * sy)
    )
    return m.select(
        "event_type",
        "n",
        quantize(F.try_divide(num, F.nullif(den, F.lit(0.0))), 4).alias(
            "spearman_rho"
        ),
    ).orderBy("event_type")


# ------------------------------------------------ newsvendor Q* fractile

BETA_NUM, BETA_DEN = 4, 5  # beta = Cu/(Cu+Co) = 0.8 as an exact ratio


@query(
    "lineitem_newsvendor_qstar",
    oracle=f"""
    WITH weekly AS (
      SELECT l_partkey, date_trunc('week', l_shipdate) AS wk,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS d
      FROM lineitem GROUP BY 1, 2
    ),
    tot AS (
      SELECT l_partkey, COUNT(*) AS n_weeks,
             CAST(SUM(CAST(d AS DECIMAL(18,6))) AS DOUBLE) AS total_d
      FROM weekly GROUP BY 1
    ),
    ecdf AS (
      SELECT w.l_partkey, w.d,
             CAST(COUNT(*) OVER (PARTITION BY w.l_partkey ORDER BY w.d
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             t.n_weeks
      FROM weekly w JOIN tot t ON t.l_partkey = w.l_partkey
    ),
    qstar AS (
      SELECT l_partkey, MIN(d) AS q_star
      FROM ecdf
      WHERE cum * {BETA_DEN} >= n_weeks * {BETA_NUM}
      GROUP BY 1
    )
    SELECT t.l_partkey, CAST(t.n_weeks AS BIGINT) AS n_weeks,
           floor(t.total_d / t.n_weeks * 10000 + 0.5) / 10000
             AS mean_weekly,
           q.q_star,
           floor((q.q_star - t.total_d / t.n_weeks) * 10000 + 0.5) / 10000
             AS safety_stock
    FROM tot t JOIN qstar q ON q.l_partkey = t.l_partkey
    ORDER BY t.total_d DESC, t.l_partkey
    LIMIT 20
    """,
)
def lineitem_newsvendor_qstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newsvendor stocking level per part: Q* = the smallest weekly
    demand whose empirical CDF reaches the critical fractile beta = 0.8
    (underage cost 4x overage), for the top-20 parts by total demand.

    The fractile test is the INTEGER comparison cum*5 >= n_weeks*4 — no
    double ECDF, so ties at the quantile boundary resolve identically in
    both engines. Plan: two map-side-combinable aggs (weekly demand,
    per-part totals), one per-part cumulative window, an integer-filter
    + MIN argmin, and a TakeOrderedAndProject top-20; the totals join is
    per-part (narrow) and the final join touches 20 rows.
    """
    weekly = (
        load(spark, sf_dir, "lineitem")
        .groupBy(
            "l_partkey", F.date_trunc("week", "l_shipdate").alias("wk")
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,6)"))
            .cast("double")
            .alias("d")
        )
    )
    # r8: per-part totals via whole-partition windows on the SAME
    # l_partkey exchange the cumulative window already needs, instead
    # of a groupBy + two joins — each tot reference re-ran the whole
    # lineitem rollup. Count and the decimal sum are order-independent,
    # so n_weeks/total_d are bit-identical to the aggregate-then-join
    # form the oracle keeps.
    wcum = (
        Window.partitionBy("l_partkey")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wp = Window.partitionBy("l_partkey")
    ecdf = weekly.select(
        "l_partkey",
        "d",
        F.count("*").over(wcum).alias("cum"),
        F.count("*").over(wp).alias("n_weeks"),
        F.sum(F.col("d").cast("decimal(18,6)"))
        .over(wp)
        .cast("double")
        .alias("total_d"),
    )
    qstar = (
        ecdf.filter(
            F.col("cum") * BETA_DEN >= F.col("n_weeks") * BETA_NUM
        )
        .groupBy("l_partkey", "n_weeks", "total_d")
        .agg(F.min("d").alias("q_star"))
    )
    mean_w = F.col("total_d") / F.col("n_weeks")
    return (
        qstar.select(
            "l_partkey",
            "n_weeks",
            quantize(mean_w, 4).alias("mean_weekly"),
            "q_star",
            quantize(F.col("q_star") - mean_w, 4).alias("safety_stock"),
            "total_d",
        )
        .orderBy(F.desc("total_d"), F.asc("l_partkey"))
        .limit(20)
        .drop("total_d")
    )


# ------------------------------------------- link prediction at 2 hops


LP_W = 10  # per-node adjacency cap for candidate generation


@query(
    "graph_link_prediction_ra",
    oracle=f"""
    WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    und AS (
      SELECT u, v, w FROM edges
      UNION ALL SELECT v AS u, u AS v, w FROM edges
    ),
    capped AS (
      SELECT u, v FROM (
        SELECT u, v,
               row_number() OVER (PARTITION BY u
                                  ORDER BY w DESC, v) AS rn
        FROM und
      ) WHERE rn <= {LP_W}
    ),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg
            FROM capped GROUP BY 1),
    two_hop AS (
      SELECT l.u AS a, r.v AS b, l.v AS z
      FROM capped l JOIN capped r ON l.v = r.u AND l.u < r.v
    ),
    cand AS (
      SELECT t.a, t.b,
             CAST(COUNT(*) AS BIGINT) AS cn,
             CAST(SUM(CAST(1.0 / d.deg AS DECIMAL(18,12))) AS DOUBLE)
               AS ra
      FROM two_hop t
      JOIN deg d ON d.u = t.z
      LEFT JOIN edges e ON e.u = t.a AND e.v = t.b
      WHERE e.u IS NULL
      GROUP BY 1, 2
    )
    SELECT c.a AS part_a, c.b AS part_b, c.cn,
           floor(CAST(c.cn AS DOUBLE) / (da.deg + db.deg - c.cn)
                 * 10000 + 0.5) / 10000 AS jaccard,
           floor(c.ra * 10000 + 0.5) / 10000 AS ra_index
    FROM cand c
    JOIN deg da ON da.u = c.a
    JOIN deg db ON db.u = c.b
    ORDER BY c.cn DESC, c.a, c.b
    LIMIT 20
    """,
)
def graph_link_prediction_ra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the copurchase graph: for part pairs at
    exactly distance 2 in the CAPPED adjacency (share a neighbor, no
    direct edge), score by common-neighbor count, Jaccard over (capped)
    degrees, and the resource-allocation index RA = sum_z 1/deg(z).

    Each node keeps only its top-{w} strongest edges (by co-purchase
    count, neighbor-id tiebreak) before the 2-hop expansion — the
    standard candidate-generation bound that makes the fan-out
    N*W^2-linear instead of sum-of-deg^2 (uncapped, this query was
    corpus-quadratic on hub parts: 86s at sf0.1 vs ~3s capped). The
    anti-join that removes direct edges uses the FULL edge set, so no
    already-connected pair can appear.

    Determinism: 1/deg is an IEEE-correctly-rounded double division
    (identical across engines), quantized to DECIMAL(18,12) per term and
    summed exactly; the cap's (w DESC, v) ordering is total.

    Edges read the shared materialized co-purchase index
    (`functions/copurchase.py`) — bucketed+sorted on `u`, so the
    per-node cap window needs no exchange on its partition key.
    """.format(w=LP_W)
    und = copurchase.undirected(spark, sf_dir).withColumnRenamed(
        "n", "w"
    )
    wcap = Window.partitionBy("u").orderBy(F.desc("w"), F.asc("v"))
    capped = (
        und.withColumn("rn", F.row_number().over(wcap))
        .filter(F.col("rn") <= LP_W)
        .select("u", "v")
        .persist()
    )
    deg = capped.groupBy("u").agg(F.count("*").alias("deg")).persist()
    lft = capped.select(F.col("u").alias("a"), F.col("v").alias("z"))
    rgt = capped.select(F.col("u").alias("z"), F.col("v").alias("b"))
    two_hop = lft.join(rgt, "z").filter(F.col("a") < F.col("b"))
    cand = (
        two_hop.join(
            copurchase.directed(spark, sf_dir).select(
                F.col("u").alias("a"), F.col("v").alias("b")
            ),
            ["a", "b"],
            "left_anti",
        )
        .join(deg.select(F.col("u").alias("z"), "deg"), "z")
        .groupBy("a", "b")
        .agg(
            F.count("*").alias("cn"),
            F.sum((F.lit(1.0) / F.col("deg")).cast("decimal(18,12)"))
            .cast("double")
            .alias("ra"),
        )
    )
    da = deg.select(F.col("u").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("u").alias("b"), F.col("deg").alias("deg_b"))
    top = cand.orderBy(F.desc("cn"), F.asc("a"), F.asc("b")).limit(20)
    return (
        top.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            "cn",
            quantize(
                F.col("cn").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("cn")), 4
            ).alias("jaccard"),
            quantize(F.col("ra"), 4).alias("ra_index"),
        )
        .orderBy(F.desc("cn"), F.asc("part_a"), F.asc("part_b"))
    )


# ------------------------------------------------------- SAX motifs

PAA_W = 8     # points per PAA window
WORD_LEN = 3  # PAA windows per motif word
# gaussian breakpoints for a 4-symbol alphabet (quartiles of N(0,1))
BP_1, BP_2, BP_3 = -0.6745, 0.0, 0.6745


@query(
    "events_sax_motifs",
    oracle=f"""
    WITH ordered AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) - 1 AS rn
      FROM events
    ),
    stats AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s,
             CAST(SUM(CAST(value * value AS DECIMAL(24,6))) AS DOUBLE)
               AS q
      FROM events GROUP BY 1
    ),
    paa AS (
      SELECT event_type, rn // {PAA_W} AS win_id,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
               / {PAA_W} AS m,
             COUNT(*) AS npts
      FROM ordered GROUP BY 1, 2
    ),
    sym AS (
      SELECT p.event_type, p.win_id,
             CASE
               WHEN (p.m - s.s / s.n)
                    / sqrt((s.q - s.s * s.s / s.n) / s.n) < {BP_1} THEN 'a'
               WHEN (p.m - s.s / s.n)
                    / sqrt((s.q - s.s * s.s / s.n) / s.n) < {BP_2} THEN 'b'
               WHEN (p.m - s.s / s.n)
                    / sqrt((s.q - s.s * s.s / s.n) / s.n) < {BP_3} THEN 'c'
               ELSE 'd'
             END AS sym
      FROM paa p
      JOIN stats s ON s.event_type = p.event_type
      WHERE p.npts = {PAA_W}
        AND s.q - s.s * s.s / s.n > 0
    ),
    words AS (
      SELECT event_type,
             sym
             || lead(sym, 1) OVER (PARTITION BY event_type ORDER BY win_id)
             || lead(sym, 2) OVER (PARTITION BY event_type ORDER BY win_id)
               AS word
      FROM sym
    ),
    counts AS (
      SELECT event_type, word, CAST(COUNT(*) AS BIGINT) AS n_occ
      FROM words WHERE word IS NOT NULL GROUP BY 1, 2
    )
    SELECT event_type, word, n_occ, rnk FROM (
      SELECT event_type, word, n_occ,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY n_occ DESC, word) AS rnk
      FROM counts
    ) WHERE rnk <= 5
    ORDER BY event_type, rnk
    """,
)
def events_sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX motif mining per stream: z-normalize against the stream's
    global mean/sd, compress into 8-point PAA windows, map each window
    mean to a 4-symbol gaussian alphabet, and count sliding 3-symbol
    words — the top-5 recurring shapes per stream.

    Determinism: mean/sd come from exact decimal sums; the z-score is
    one mirrored double expression per window (IEEE-identical), so
    symbol assignment cannot diverge. Constant streams (sd = 0) are
    excluded in both engines. Plan: one row_number window (ts order),
    two map-side-combinable aggs (window means, stream moments — the
    moments agg reuses the scan), a broadcast of one stats row per
    stream, a lead window over the tiny PAA table, and a k-bounded
    top-5.
    """
    e = load(spark, sf_dir, "events")
    wrn = Window.partitionBy("event_type").orderBy("ts", "event_id")
    ordered = e.select(
        "event_type",
        "value",
        (F.row_number().over(wrn) - 1).alias("rn"),
    )
    stats = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("s"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(24,6)"))
        .cast("double")
        .alias("q"),
    )
    paa = ordered.groupBy(
        "event_type", (F.col("rn") / PAA_W).cast("bigint").alias("win_id")
    ).agg(
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / PAA_W
        ).alias("m"),
        F.count("*").alias("npts"),
    )
    mean = F.col("s") / F.col("n")
    var = (F.col("q") - F.col("s") * F.col("s") / F.col("n")) / F.col("n")
    z = (F.col("m") - mean) / F.sqrt(var)
    sym = (
        paa.join(F.broadcast(stats), "event_type")
        .filter(
            (F.col("npts") == PAA_W)
            & (F.col("q") - F.col("s") * F.col("s") / F.col("n") > 0)
        )
        .select(
            "event_type",
            "win_id",
            F.when(z < BP_1, "a")
            .when(z < BP_2, "b")
            .when(z < BP_3, "c")
            .otherwise("d")
            .alias("sym"),
        )
    )
    wlead = Window.partitionBy("event_type").orderBy("win_id")
    words = sym.select(
        "event_type",
        F.concat(
            F.col("sym"),
            F.lead("sym", 1).over(wlead),
            F.lead("sym", 2).over(wlead),
        ).alias("word"),
    ).filter(F.col("word").isNotNull())
    counts = words.groupBy("event_type", "word").agg(
        F.count("*").alias("n_occ")
    )
    wtop = Window.partitionBy("event_type").orderBy(
        F.desc("n_occ"), F.asc("word")
    )
    return (
        counts.withColumn("rnk", F.row_number().over(wtop))
        .filter(F.col("rnk") <= 5)
        .orderBy("event_type", "rnk")
    )
