"""Round-5 batch 66: exact 1-D clustering, mixture-model fitting.

- `events_kmeans1d_binned` — EXACT 1-D k-means (k=3) per stream on the
  256-bin value histogram: optimal 1-D clusters are contiguous ranges
  of the sorted axis, so the best clustering is the best (a, b) double
  split — found by exhaustive enumeration with O(1) per-candidate SSE
  from prefix moments. No Lloyd iterations, no init sensitivity, no
  local optima: the provably optimal answer Lloyd only approximates
  (the `events_segmentation_2cp_daily` machinery pointed at the value
  axis instead of time).
- `documents_length_mixture_em` — two-component Gaussian mixture on
  log document length via 5 unrolled EM rounds over a 128-bin
  histogram (responsibilities per BIN, weighted by bin mass — the
  binned-EM formulation), quantile-seeded so the iteration is fully
  deterministic. Separates the "short snippet" and "full document"
  populations that one mean+sd pretends are a single regime.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs); methods published
(1-D k-means optimal substructure e.g. Wang & Song 2011; binned EM per
Dempster et al. 1977). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ exact 1-D k-means

_KM_BINS = 256


@query(
    "events_kmeans1d_binned",
    oracle=f"""
    WITH b AS (
      SELECT event_type, MIN(value) AS lo, MAX(value) AS hi
      FROM events GROUP BY event_type
    ),
    hist AS (
      SELECT e.event_type,
             LEAST(CAST(floor((e.value - b.lo)
                   / ((b.hi - b.lo) / {_KM_BINS})) AS BIGINT),
                   {_KM_BINS} - 1) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(e.value AS DECIMAL(18,6))) AS s,
             SUM(e.value * e.value) AS ss
      FROM events e JOIN b USING (event_type)
      GROUP BY 1, 2
    ),
    pre AS (
      SELECT event_type, bin,
             CAST(SUM(n) OVER w AS DOUBLE) AS cn,
             CAST(SUM(s) OVER w AS DOUBLE) AS cs,
             SUM(ss) OVER w AS css
      FROM hist
      WINDOW w AS (PARTITION BY event_type ORDER BY bin
                   ROWS UNBOUNDED PRECEDING)
    ),
    tot AS (
      SELECT event_type, MAX(cn) AS tn, MAX(cs) AS ts, MAX(css) AS tss
      FROM pre GROUP BY event_type
    ),
    cand AS (
      SELECT a.event_type, a.bin AS ba, c.bin AS bb,
             (a.css - a.cs * a.cs / a.cn)
             + ((c.css - a.css)
                - (c.cs - a.cs) * (c.cs - a.cs) / (c.cn - a.cn))
             + ((t.tss - c.css)
                - (t.ts - c.cs) * (t.ts - c.cs) / (t.tn - c.cn))
               AS sse
      FROM pre a
      JOIN pre c ON c.event_type = a.event_type AND c.bin > a.bin
      JOIN tot t ON t.event_type = a.event_type
      WHERE a.cn > 0 AND c.cn > a.cn AND t.tn > c.cn
    ),
    best AS (
      SELECT event_type, ba, bb, sse,
             row_number() OVER (PARTITION BY event_type
                 ORDER BY sse, ba, bb) AS rn
      FROM cand
    )
    SELECT s.event_type,
           floor((b.lo + (s.ba + 1) * (b.hi - b.lo) / {_KM_BINS})
                 * 10000 + 0.5) / 10000 AS boundary_1,
           floor((b.lo + (s.bb + 1) * (b.hi - b.lo) / {_KM_BINS})
                 * 10000 + 0.5) / 10000 AS boundary_2,
           floor(s.sse / t.tn * 10000 + 0.5) / 10000
             AS within_sse_per_point,
           floor((1 - s.sse / (t.tss - t.ts * t.ts / t.tn))
                 * 10000 + 0.5) / 10000 AS variance_explained
    FROM best s
    JOIN b USING (event_type)
    JOIN tot t USING (event_type)
    WHERE s.rn = 1
    ORDER BY s.event_type
    """,
)
def events_kmeans1d_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D k-means (k=3) per stream on the {nb}-bin histogram:
    optimal 1-D clusters are CONTIGUOUS on the sorted axis, so the
    global optimum is the best double split (a, b) — enumerated
    exhaustively with O(1) SSE per candidate from cumulative moments.
    Reports the two optimal boundaries, per-point within-SSE and the
    k-means variance-explained. Lloyd's algorithm approximates this
    from a random seed; on one dimension the exact answer is cheaper.

    Determinism: bin masses are integers, value sums exact decimals;
    candidate SSEs are identical closed forms; argmin ties break on
    (bin_a, bin_b).

    Scale shape: one min/max rollup + one histogram rollup over the
    corpus (both map-side combinable), then the O(bins^2) candidate
    join per stream on the BOUNDED grid (~33k candidates) — fully
    parallel, zero iterations.
    """.format(nb=_KM_BINS)
    e = load(spark, sf_dir, "events")
    # b (per-stream bounds) feeds the histogram AND the final boundary
    # projection; pre (streams x bins cumulative panel) feeds both
    # candidate sides and the totals — persist so the raw stream is
    # scanned/rolled up exactly once.
    b = e.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    ).persist()
    hist = (
        e.join(F.broadcast(b), "event_type")
        .groupBy(
            "event_type",
            F.least(
                F.floor(
                    (F.col("value") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) / _KM_BINS)
                ).cast("bigint"),
                F.lit(_KM_BINS - 1),
            ).alias("bin"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("s"),
            F.sum(F.col("value") * F.col("value")).alias("ss"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = hist.select(
        "event_type",
        "bin",
        F.sum("n").over(w).cast("double").alias("cn"),
        F.sum("s").over(w).cast("double").alias("cs"),
        F.sum("ss").over(w).alias("css"),
    ).persist()
    tot = pre.groupBy("event_type").agg(
        F.max("cn").alias("tn"),
        F.max("cs").alias("ts"),
        F.max("css").alias("tss"),
    )
    a = pre.alias("a")
    c = pre.alias("c")
    cand = (
        a.join(
            c,
            (F.col("c.event_type") == F.col("a.event_type"))
            & (F.col("c.bin") > F.col("a.bin")),
        )
        .join(
            F.broadcast(tot.withColumnRenamed("event_type", "et_t")),
            F.col("a.event_type") == F.col("et_t"),
        )
        .filter(
            (F.col("a.cn") > 0)
            & (F.col("c.cn") > F.col("a.cn"))
            & (F.col("tn") > F.col("c.cn"))
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            F.col("a.bin").alias("ba"),
            F.col("c.bin").alias("bb"),
            (
                (
                    F.col("a.css")
                    - F.col("a.cs") * F.col("a.cs") / F.col("a.cn")
                )
                + (
                    (F.col("c.css") - F.col("a.css"))
                    - (F.col("c.cs") - F.col("a.cs"))
                    * (F.col("c.cs") - F.col("a.cs"))
                    / (F.col("c.cn") - F.col("a.cn"))
                )
                + (
                    (F.col("tss") - F.col("c.css"))
                    - (F.col("ts") - F.col("c.cs"))
                    * (F.col("ts") - F.col("c.cs"))
                    / (F.col("tn") - F.col("c.cn"))
                )
            ).alias("sse"),
        )
    )
    wbest = Window.partitionBy("event_type").orderBy("sse", "ba", "bb")
    return (
        cand.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .join(F.broadcast(b), "event_type")
        .join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            quantize(
                F.col("lo")
                + (F.col("ba") + 1) * (F.col("hi") - F.col("lo")) / _KM_BINS, 4
            ).alias("boundary_1"),
            quantize(
                F.col("lo")
                + (F.col("bb") + 1) * (F.col("hi") - F.col("lo")) / _KM_BINS, 4
            ).alias("boundary_2"),
            quantize(F.col("sse") / F.col("tn"), 4).alias(
                "within_sse_per_point"
            ),
            quantize(
                1
                - F.col("sse")
                / (F.col("tss") - F.col("ts") * F.col("ts") / F.col("tn")), 4
            ).alias("variance_explained"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------------ length mixture EM

_EM_BINS = 128
_EM_ROUNDS = 5


@query(
    "documents_length_mixture_em",
    oracle=f"""
    WITH x AS (
      SELECT ln(CAST(GREATEST(n_chars, 1) AS DOUBLE)) AS v
      FROM documents
    ),
    b AS (
      SELECT MIN(v) AS lo, MAX(v) AS hi,
             quantile_cont(v, 0.25) AS q1, quantile_cont(v, 0.75) AS q3,
             CAST(COUNT(*) AS BIGINT) AS n,
             (SUM(v * v) - SUM(v) * SUM(v) / COUNT(*))
               / (COUNT(*) - 1) AS var0
      FROM x
    ),
    hist AS (
      SELECT LEAST(CAST(floor((x.v - b.lo)
                 / ((b.hi - b.lo) / {_EM_BINS})) AS BIGINT),
                 {_EM_BINS} - 1) AS bin,
             CAST(COUNT(*) AS BIGINT) AS m
      FROM x CROSS JOIN b
      GROUP BY 1
    ),
    cells AS (
      SELECT h.bin, h.m,
             b.lo + (h.bin + 0.5) * (b.hi - b.lo) / {_EM_BINS} AS c,
             b.q1, b.q3, b.var0, b.n
      FROM hist h CROSS JOIN b
    ),
    e0 AS (
      SELECT bin, m, c, n,
             0.5 AS w1, q1 AS mu1, q3 AS mu2,
             var0 / 2 AS s1, var0 / 2 AS s2
      FROM cells
    ),
    r0 AS (
      SELECT bin, m, c, n,
             (w1 / sqrt(s1) * exp(-0.5 * (c - mu1) * (c - mu1) / s1))
             / NULLIF(w1 / sqrt(s1)
                      * exp(-0.5 * (c - mu1) * (c - mu1) / s1)
                    + (1 - w1) / sqrt(s2)
                      * exp(-0.5 * (c - mu2) * (c - mu2) / s2), 0)
               AS r1
      FROM e0
    ),
    p0 AS (
      SELECT SUM(m * r1) / SUM(m) AS w1,
             SUM(m * r1 * c) / SUM(m * r1) AS mu1,
             SUM(m * (1 - r1) * c) / SUM(m * (1 - r1)) AS mu2,
             GREATEST(SUM(m * r1 * c * c) / SUM(m * r1)
                      - POW(SUM(m * r1 * c) / SUM(m * r1), 2),
                      0.0001) AS s1,
             GREATEST(SUM(m * (1 - r1) * c * c) / SUM(m * (1 - r1))
                      - POW(SUM(m * (1 - r1) * c)
                            / SUM(m * (1 - r1)), 2),
                      0.0001) AS s2
      FROM r0
    ),
    e1 AS (
      SELECT r.bin, r.m, r.c, r.n, p.w1, p.mu1, p.mu2, p.s1, p.s2
      FROM r0 r CROSS JOIN p0 p
    ),
    r1 AS (
      SELECT bin, m, c, n,
             (w1 / sqrt(s1) * exp(-0.5 * (c - mu1) * (c - mu1) / s1))
             / NULLIF(w1 / sqrt(s1)
                      * exp(-0.5 * (c - mu1) * (c - mu1) / s1)
                    + (1 - w1) / sqrt(s2)
                      * exp(-0.5 * (c - mu2) * (c - mu2) / s2), 0)
               AS r1
      FROM e1
    ),
    p1 AS (
      SELECT SUM(m * r1) / SUM(m) AS w1,
             SUM(m * r1 * c) / SUM(m * r1) AS mu1,
             SUM(m * (1 - r1) * c) / SUM(m * (1 - r1)) AS mu2,
             GREATEST(SUM(m * r1 * c * c) / SUM(m * r1)
                      - POW(SUM(m * r1 * c) / SUM(m * r1), 2),
                      0.0001) AS s1,
             GREATEST(SUM(m * (1 - r1) * c * c) / SUM(m * (1 - r1))
                      - POW(SUM(m * (1 - r1) * c)
                            / SUM(m * (1 - r1)), 2),
                      0.0001) AS s2
      FROM r1
    ),
    e2 AS (
      SELECT r.bin, r.m, r.c, r.n, p.w1, p.mu1, p.mu2, p.s1, p.s2
      FROM r1 r CROSS JOIN p1 p
    ),
    r2 AS (
      SELECT bin, m, c, n,
             (w1 / sqrt(s1) * exp(-0.5 * (c - mu1) * (c - mu1) / s1))
             / NULLIF(w1 / sqrt(s1)
                      * exp(-0.5 * (c - mu1) * (c - mu1) / s1)
                    + (1 - w1) / sqrt(s2)
                      * exp(-0.5 * (c - mu2) * (c - mu2) / s2), 0)
               AS r1
      FROM e2
    ),
    p2 AS (
      SELECT SUM(m * r1) / SUM(m) AS w1,
             SUM(m * r1 * c) / SUM(m * r1) AS mu1,
             SUM(m * (1 - r1) * c) / SUM(m * (1 - r1)) AS mu2,
             GREATEST(SUM(m * r1 * c * c) / SUM(m * r1)
                      - POW(SUM(m * r1 * c) / SUM(m * r1), 2),
                      0.0001) AS s1,
             GREATEST(SUM(m * (1 - r1) * c * c) / SUM(m * (1 - r1))
                      - POW(SUM(m * (1 - r1) * c)
                            / SUM(m * (1 - r1)), 2),
                      0.0001) AS s2
      FROM r2
    ),
    e3 AS (
      SELECT r.bin, r.m, r.c, r.n, p.w1, p.mu1, p.mu2, p.s1, p.s2
      FROM r2 r CROSS JOIN p2 p
    ),
    r3 AS (
      SELECT bin, m, c, n,
             (w1 / sqrt(s1) * exp(-0.5 * (c - mu1) * (c - mu1) / s1))
             / NULLIF(w1 / sqrt(s1)
                      * exp(-0.5 * (c - mu1) * (c - mu1) / s1)
                    + (1 - w1) / sqrt(s2)
                      * exp(-0.5 * (c - mu2) * (c - mu2) / s2), 0)
               AS r1
      FROM e3
    ),
    p3 AS (
      SELECT SUM(m * r1) / SUM(m) AS w1,
             SUM(m * r1 * c) / SUM(m * r1) AS mu1,
             SUM(m * (1 - r1) * c) / SUM(m * (1 - r1)) AS mu2,
             GREATEST(SUM(m * r1 * c * c) / SUM(m * r1)
                      - POW(SUM(m * r1 * c) / SUM(m * r1), 2),
                      0.0001) AS s1,
             GREATEST(SUM(m * (1 - r1) * c * c) / SUM(m * (1 - r1))
                      - POW(SUM(m * (1 - r1) * c)
                            / SUM(m * (1 - r1)), 2),
                      0.0001) AS s2
      FROM r3
    ),
    e4 AS (
      SELECT r.bin, r.m, r.c, r.n, p.w1, p.mu1, p.mu2, p.s1, p.s2
      FROM r3 r CROSS JOIN p3 p
    ),
    r4 AS (
      SELECT bin, m, c, n,
             (w1 / sqrt(s1) * exp(-0.5 * (c - mu1) * (c - mu1) / s1))
             / NULLIF(w1 / sqrt(s1)
                      * exp(-0.5 * (c - mu1) * (c - mu1) / s1)
                    + (1 - w1) / sqrt(s2)
                      * exp(-0.5 * (c - mu2) * (c - mu2) / s2), 0)
               AS r1
      FROM e4
    ),
    p4 AS (
      SELECT SUM(m * r1) / SUM(m) AS w1,
             SUM(m * r1 * c) / SUM(m * r1) AS mu1,
             SUM(m * (1 - r1) * c) / SUM(m * (1 - r1)) AS mu2,
             GREATEST(SUM(m * r1 * c * c) / SUM(m * r1)
                      - POW(SUM(m * r1 * c) / SUM(m * r1), 2),
                      0.0001) AS s1,
             GREATEST(SUM(m * (1 - r1) * c * c) / SUM(m * (1 - r1))
                      - POW(SUM(m * (1 - r1) * c)
                            / SUM(m * (1 - r1)), 2),
                      0.0001) AS s2
      FROM r4
    ),
    e5 AS (
      SELECT r.bin, r.m, r.c, r.n, p.w1, p.mu1, p.mu2, p.s1, p.s2
      FROM r4 r CROSS JOIN p4 p
    )
    SELECT DISTINCT CAST(n AS BIGINT) AS n_docs,
           floor(w1 * 10000 + 0.5) / 10000 AS weight_short,
           floor(mu1 * 10000 + 0.5) / 10000 AS mu_log_short,
           floor(mu2 * 10000 + 0.5) / 10000 AS mu_log_long,
           floor(sqrt(s1) * 10000 + 0.5) / 10000 AS sd_log_short,
           floor(sqrt(s2) * 10000 + 0.5) / 10000 AS sd_log_long
    FROM e{_EM_ROUNDS}
    """,
)
def documents_length_mixture_em(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-component Gaussian mixture on log document length, fit by
    {r} unrolled binned-EM rounds over a {nb}-bin histogram:
    responsibilities are computed per BIN (weighted by bin mass), the
    M-step updates are exact weighted moments over the bounded grid,
    and initialization is quantile-seeded (mu = Q1/Q3, equal weights,
    half-variance) so every round is deterministic. Recovers the
    snippet-vs-document bimodality that a single lognormal hides —
    the basis for length-band filtering thresholds
    (`documents_length_band_filter`).

    Scale shape: the corpus contributes one bounds aggregate and one
    ln-transform histogram rollup (both map-side combinable); the
    {r} EM rounds then run driver-side over the collected {nb}-row
    grid (the sanctioned bounded-collect pattern — constant-size
    work, no per-round lineage re-execution). Variance floors (1e-4)
    guard degenerate components identically in both engines.
    """.format(r=_EM_ROUNDS, nb=_EM_BINS)
    d = load(spark, sf_dir, "documents")
    x = d.select(
        F.log(
            F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
        ).alias("v")
    )
    b = x.agg(
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
        F.expr("percentile(v, 0.25)").alias("q1"),
        F.expr("percentile(v, 0.75)").alias("q3"),
        F.count("*").cast("bigint").alias("n"),
        (
            (
                F.sum(F.col("v") * F.col("v"))
                - F.sum("v") * F.sum("v") / F.count("*")
            )
            / (F.count("*") - 1)
        ).alias("var0"),
    )
    hist = (
        x.crossJoin(F.broadcast(b))
        .groupBy(
            F.least(
                F.floor(
                    (F.col("v") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) / _EM_BINS)
                ).cast("bigint"),
                F.lit(_EM_BINS - 1),
            ).alias("bin")
        )
        .agg(F.count("*").cast("bigint").alias("m"))
    )
    cells = hist.crossJoin(F.broadcast(b)).select(
        "bin",
        "m",
        (
            F.col("lo")
            + (F.col("bin") + 0.5) * (F.col("hi") - F.col("lo")) / _EM_BINS
        ).alias("c"),
        "q1",
        "q3",
        "var0",
        "n",
    )
    # The EM rounds run DRIVER-SIDE over the collected 128-row grid
    # (the sanctioned bounded-collect pattern): Spark owns the two
    # corpus scans (bounds + histogram); the 5 x 128 update loop is
    # constant-size, with the identical closed-form updates the
    # oracle's unrolled CTE chain computes.
    grid = cells.collect()  # bounded: _EM_BINS rows
    n_docs = grid[0]["n"] if grid else 0
    w1 = 0.5
    mu1 = grid[0]["q1"] if grid else 0.0
    mu2 = grid[0]["q3"] if grid else 0.0
    s1 = (grid[0]["var0"] / 2) if grid else 1.0
    s2 = s1
    ms = [(r["m"], r["c"]) for r in grid]
    for _ in range(_EM_ROUNDS):
        sw = sm1 = sc1 = sq1 = sm2 = sc2 = sq2 = 0.0
        for m, c in ms:
            d1 = c - mu1
            d2 = c - mu2
            p1 = w1 / s1**0.5 * __import__("math").exp(
                -0.5 * d1 * d1 / s1
            )
            p2 = (1 - w1) / s2**0.5 * __import__("math").exp(
                -0.5 * d2 * d2 / s2
            )
            tot = p1 + p2
            r1 = p1 / tot if tot else 0.0
            mr1 = m * r1
            mr2 = m * (1 - r1)
            sw += m
            sm1 += mr1
            sc1 += mr1 * c
            sq1 += mr1 * c * c
            sm2 += mr2
            sc2 += mr2 * c
            sq2 += mr2 * c * c
        w1 = sm1 / sw
        mu1 = sc1 / sm1
        mu2 = sc2 / sm2
        s1 = max(sq1 / sm1 - (sc1 / sm1) ** 2, 0.0001)
        s2 = max(sq2 / sm2 - (sc2 / sm2) ** 2, 0.0001)
    state = spark.createDataFrame(
        [(int(n_docs), w1, mu1, mu2, s1, s2)],
        "n BIGINT, w1 DOUBLE, mu1 DOUBLE, mu2 DOUBLE, "
        "s1 DOUBLE, s2 DOUBLE",
    )
    return state.select(
        F.col("n").alias("n_docs"),
        quantize(F.col("w1"), 4).alias("weight_short"),
        quantize(F.col("mu1"), 4).alias("mu_log_short"),
        quantize(F.col("mu2"), 4).alias("mu_log_long"),
        quantize(F.sqrt("s1"), 4).alias("sd_log_short"),
        quantize(F.sqrt("s2"), 4).alias("sd_log_long"),
    ).distinct()
