"""Round-5 batch 55: random-projection auditing, shape-constrained
fitting, blocked rank testing, spectral summaries.

- `embedding_jl_distortion` — Johnson-Lindenstrauss audit: project the
  64-d embeddings to 16-d with a deterministic +/-1 sign matrix and
  measure pairwise squared-distance distortion on a fixed pair set.
  The go/no-go check before replacing full-dimension ANN scans with a
  projected index (`ann_*` family): JL says distortion concentrates
  near 1; this measures YOUR corpus's actual spread.
- `events_isotonic_hourly` — isotonic (monotone non-decreasing)
  regression of mean value on hour-of-day via the exact max-min
  formulation fit_k = max_{i<=k} min_{j>=k} avg(i..j) — equal to PAVA's
  solution. The shape-constrained calibration curve ("value grows
  through the day") with no parametric form.
- `events_friedman_daily` — Friedman's blocked rank test: days are
  blocks, streams are treatments, ranks within each day; chi-square
  statistic 12n/(k(k+1)) sum (Rbar_j - (k+1)/2)^2. The repeated-
  measures complement to `events_kruskal_wallis` (which ignores the
  day blocking).
- `events_spectral_entropy` — normalized Shannon entropy of the DFT
  power spectrum over frequencies 1..12 cycles/series on the hourly
  grid: ~1 = white (flat spectrum), ~0 = single dominant cycle. One
  number per stream for "how periodic is this load", complementing
  `events_periodogram` (which reports the candidate peaks).

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs); methods published
(Johnson-Lindenstrauss 1984; Ayer et al. 1955 / PAVA; Friedman 1937;
spectral entropy per Inouye et al.). All oracled vs DuckDB.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ JL distortion audit

_JL_IN = 64
_JL_OUT = 16
_JL_MAX_ID = 200  # pair set: (2m, 2m+1) for vec_id < 200


def _jl_signs() -> list[list[int]]:
    """Deterministic +/-1 projection matrix: sign(j, i) from the md5
    parity of 'j_i' — reproducible everywhere, no RNG, shared verbatim
    by the Spark plan and the DuckDB oracle as literals."""
    return [
        [
            1
            if int(hashlib.md5(f"{j}_{i}".encode()).hexdigest()[0], 16) % 2
            == 0
            else -1
            for i in range(_JL_IN)
        ]
        for j in range(_JL_OUT)
    ]


_SIGNS = _jl_signs()


def _oracle_proj(side: str, j: int) -> str:
    terms = " + ".join(
        f"{'' if s > 0 else '-'}CAST({side}.embedding[{i + 1}] AS DOUBLE)"
        for i, s in enumerate(_SIGNS[j])
    )
    return f"(({terms}) / 4.0)"


@query(
    "embedding_jl_distortion",
    oracle=f"""
    WITH pairs AS (
      SELECT a.vec_id AS ida, b.vec_id AS idb,
             list_aggregate(list_transform(list_zip(a.embedding,
                 b.embedding), x -> POW(CAST(x[1] AS DOUBLE)
                                        - CAST(x[2] AS DOUBLE), 2)),
                 'sum') AS d_orig,
             {" + ".join(
                 f"POW({_oracle_proj('a', j)} - {_oracle_proj('b', j)}, 2)"
                 for j in range(_JL_OUT)
             )} AS d_proj
      FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
      WHERE a.vec_id % 2 = 0 AND a.vec_id < {_JL_MAX_ID}
        AND len(a.embedding) = {_JL_IN} AND len(b.embedding) = {_JL_IN}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           floor(CAST(SUM(CAST(d_proj / d_orig AS DECIMAL(18,6)))
                      AS DOUBLE) / COUNT(*) * 10000 + 0.5) / 10000
             AS mean_distortion,
           floor(MIN(d_proj / d_orig) * 10000 + 0.5) / 10000
             AS min_distortion,
           floor(MAX(d_proj / d_orig) * 10000 + 0.5) / 10000
             AS max_distortion
    FROM pairs
    """,
)
def embedding_jl_distortion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """JL random-projection distortion audit: 64-d -> 16-d via a
    deterministic md5-parity +/-1 matrix scaled by 1/sqrt(16);
    distortion = ||Px - Py||^2 / ||x - y||^2 on the fixed consecutive
    pair set (vec 2m vs 2m+1, id < {mx}). Reports mean/min/max —
    the spread around 1 tells you whether a 4x cheaper projected
    index keeps neighbor structure for THIS corpus.

    Determinism: the sign matrix is literal constants generated from
    md5 parity at import (both engines receive identical +/-1
    literals); each projection coordinate is a fixed-order 64-term
    double sum written identically in both engines; the pair set is
    id-defined (no sampling).

    Scale shape: the projection is per-row arithmetic (scan-bound,
    whole-stage codegen — no Python); the audit joins CONSECUTIVE ids
    only (id-arithmetic equijoin on a bounded id range — never
    all-pairs). At 100 TB the pair set stays fixed-size by
    construction.
    """.format(mx=_JL_MAX_ID)
    emb = load(spark, sf_dir, "embeddings")

    def proj(j: int):
        arr = F.array(*[F.lit(float(s)) for s in _SIGNS[j]])
        return (
            F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    arr,
                    lambda x, s: x.cast("double") * s,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / 4.0
        )

    base = emb.filter(
        (F.col("vec_id") < _JL_MAX_ID) & (F.size("embedding") == _JL_IN)
    ).select(
        "vec_id",
        "embedding",
        *[proj(j).alias(f"p{j}") for j in range(_JL_OUT)],
    )
    a = base.alias("a")
    b = base.alias("b")
    d_orig = F.aggregate(
        F.zip_with(
            F.col("a.embedding"),
            F.col("b.embedding"),
            lambda x, y: F.pow(x.cast("double") - y.cast("double"), F.lit(2)),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    d_proj = None
    for j in range(_JL_OUT):
        term = F.pow(F.col(f"a.p{j}") - F.col(f"b.p{j}"), F.lit(2))
        d_proj = term if d_proj is None else d_proj + term
    pairs = (
        a.join(b, F.col("b.vec_id") == F.col("a.vec_id") + 1)
        .filter(F.col("a.vec_id") % 2 == 0)
        .select(d_orig.alias("d_orig"), d_proj.alias("d_proj"))
    )
    ratio = F.col("d_proj") / F.col("d_orig")
    return pairs.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        quantize(
            F.sum(ratio.cast("decimal(18,6)")).cast("double") / F.count("*"), 4
        ).alias("mean_distortion"),
        quantize(F.min(ratio), 4).alias("min_distortion"),
        quantize(F.max(ratio), 4).alias("max_distortion"),
    )


# ------------------------------------------------ isotonic regression


@query(
    "events_isotonic_hourly",
    oracle="""
    WITH cells AS (
      SELECT CAST(hour(ts) AS BIGINT) AS h,
             CAST(COUNT(*) AS BIGINT) AS w,
             SUM(CAST(value AS DECIMAL(18,6))) AS s
      FROM events GROUP BY 1
    ),
    seg AS (
      SELECT i.h AS i, j.h AS j,
             CAST((SELECT SUM(c.s) FROM cells c
                   WHERE c.h BETWEEN i.h AND j.h) AS DOUBLE)
             / (SELECT SUM(c.w) FROM cells c
                WHERE c.h BETWEEN i.h AND j.h) AS avg_ij
      FROM cells i JOIN cells j ON j.h >= i.h
    ),
    mins AS (
      SELECT s.i, k.h AS k, MIN(s.avg_ij) AS m
      FROM seg s JOIN cells k ON s.i <= k.h AND k.h <= s.j
      GROUP BY s.i, k.h
    ),
    fit AS (
      SELECT k, MAX(m) AS iso FROM mins
      WHERE i <= k GROUP BY k
    )
    SELECT c.h AS hour, c.w AS n_events,
           floor(CAST(c.s AS DOUBLE) / c.w * 10000 + 0.5) / 10000
             AS mean_value,
           floor(f.iso * 10000 + 0.5) / 10000 AS isotonic_fit
    FROM cells c JOIN fit f ON f.k = c.h
    ORDER BY c.h
    """,
)
def events_isotonic_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted isotonic regression of mean value on hour-of-day via
    the exact minimax identity fit(k) = max_{i<=k} min_{j>=k}
    avg(i..j) (equal to the PAVA solution; Ayer et al. 1955,
    Robertson-Wright-Dykstra). Where the raw hourly means wiggle, the
    fit pools adjacent violators — the canonical shape-constrained
    calibration.

    Determinism: cell sums are exact DECIMAL (segment sums stay
    decimal until one double divide per segment); the minimax runs on
    the bounded 24-cell grid, identical formulas both engines.

    Scale shape: ONE map-side-combinable rollup to 24 cells; the
    O(H^2)/O(H^3) minimax joins run on the CALENDAR-bounded grid
    (24 x 24 segments, x 24 k's) — PAVA's sequential pooling loop is
    unnecessary when the domain is a bounded grid, and the minimax
    form is embarrassingly parallel.
    """
    e = load(spark, sf_dir, "events")
    cells = e.groupBy(F.hour("ts").cast("bigint").alias("h")).agg(
        F.count("*").cast("bigint").alias("w"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("s"),
    ).persist()  # 24 cells consumed by five minimax branches — one
    # raw-stream rollup
    i = cells.select(F.col("h").alias("i"))
    j = cells.select(F.col("h").alias("j"))
    spans = i.join(j, F.col("j") >= F.col("i"))
    seg = (
        spans.join(
            cells, (F.col("h") >= F.col("i")) & (F.col("h") <= F.col("j"))
        )
        .groupBy("i", "j")
        .agg(
            (
                F.sum("s").cast("double") / F.sum("w")
            ).alias("avg_ij")
        )
    )
    ks = cells.select(F.col("h").alias("k"))
    mins = (
        seg.join(
            F.broadcast(ks),
            (F.col("i") <= F.col("k")) & (F.col("k") <= F.col("j")),
        )
        .groupBy("i", "k")
        .agg(F.min("avg_ij").alias("m"))
    )
    fit = (
        mins.filter(F.col("i") <= F.col("k"))
        .groupBy("k")
        .agg(F.max("m").alias("iso"))
    )
    return (
        cells.join(fit, cells.h == fit.k)
        .select(
            F.col("h").alias("hour"),
            F.col("w").alias("n_events"),
            quantize(F.col("s").cast("double") / F.col("w"), 4).alias(
                "mean_value"
            ),
            quantize(F.col("iso"), 4).alias("isotonic_fit"),
        )
        .orderBy("hour")
    )


# ------------------------------------------------ Friedman blocked ranks


@query(
    "events_friedman_daily",
    oracle="""
    WITH grid AS (
      SELECT d.day, t.event_type,
             COALESCE(c.n, 0) AS n
      FROM (SELECT DISTINCT date_trunc('day', ts) AS day FROM events) d
      CROSS JOIN (SELECT DISTINCT event_type FROM events) t
      LEFT JOIN (
        SELECT date_trunc('day', ts) AS day, event_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
      ) c USING (day, event_type)
    ),
    rk AS (
      SELECT event_type,
             row_number() OVER (PARTITION BY day
                                ORDER BY n, event_type) AS r
      FROM grid
    ),
    m AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_blocks,
             CAST(SUM(r) AS DOUBLE) / COUNT(*) AS mean_rank
      FROM rk GROUP BY event_type
    ),
    chi AS (
      SELECT CAST(MAX(n_blocks) AS BIGINT) AS nb,
             CAST(COUNT(*) AS BIGINT) AS k,
             SUM(mean_rank) AS sr, SUM(mean_rank * mean_rank) AS srr
      FROM m
    )
    SELECT m.event_type, m.n_blocks,
           floor(m.mean_rank * 10000 + 0.5) / 10000 AS mean_rank,
           floor(12.0 * c.nb / (c.k * (c.k + 1))
                 * (c.srr - (c.k + 1) * c.sr
                    + c.k * POW((c.k + 1) / 2.0, 2))
                 * 10000 + 0.5) / 10000 AS friedman_chi2
    FROM m CROSS JOIN chi c
    ORDER BY m.event_type
    """,
)
def events_friedman_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman's blocked rank test: each DAY ranks the streams by
    volume (tie-break = stream name, so ranks are deterministic
    row_numbers — the tie-broken variant, documented), the statistic
    chi2_F = 12 n_blocks / (k(k+1)) sum_j (Rbar_j - (k+1)/2)^2
    compares mean ranks against the no-difference expectation. Where
    `events_kruskal_wallis` pools all observations, Friedman controls
    for the per-day level — the repeated-measures version.

    Scale shape: one (day x stream) rollup (map-side combinable), a
    dense calendar grid via cross join of two TINY distinct sets,
    per-day rank windows over k=5 rows, then stream-level means.
    Everything after the rollup is calendar-bounded.
    """
    e = load(spark, sf_dir, "events")
    days = e.select(F.date_trunc("day", "ts").alias("day")).distinct()
    types = e.select("event_type").distinct()
    counts = e.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(F.count("*").cast("bigint").alias("n"))
    grid = (
        days.crossJoin(types)
        .join(counts, ["day", "event_type"], "left")
        .select(
            "day", "event_type", F.coalesce("n", F.lit(0)).alias("n")
        )
    )
    w = Window.partitionBy("day").orderBy("n", "event_type")
    rk = grid.select("event_type", F.row_number().over(w).alias("r"))
    m = rk.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_blocks"),
        (F.sum("r").cast("double") / F.count("*")).alias("mean_rank"),
    ).persist()  # k rows; feeds the chi rollup and the final select —
    # halves the raw-stream scans behind the rank grid
    chi = m.agg(
        F.max("n_blocks").cast("bigint").alias("nb"),
        F.count("*").cast("bigint").alias("k"),
        F.sum("mean_rank").alias("sr"),
        F.sum(F.col("mean_rank") * F.col("mean_rank")).alias("srr"),
    )
    return (
        m.crossJoin(F.broadcast(chi))
        .select(
            "event_type",
            "n_blocks",
            quantize(F.col("mean_rank"), 4).alias("mean_rank"),
            quantize(
                12.0
                * F.col("nb")
                / (F.col("k") * (F.col("k") + 1))
                * (
                    F.col("srr")
                    - (F.col("k") + 1) * F.col("sr")
                    + F.col("k")
                    * F.pow((F.col("k") + 1) / 2.0, F.lit(2))
                ), 4
            ).alias("friedman_chi2"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------------ spectral entropy

_SPEC_FREQS = 12


@query(
    "events_spectral_entropy",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS hr,
             CAST(COUNT(*) AS DOUBLE) AS c
      FROM events GROUP BY 1, 2
    ),
    base AS (
      SELECT event_type, MIN(hr) AS h0,
             CAST(COUNT(*) AS BIGINT) AS t,
             AVG(c) AS mu
      FROM hourly GROUP BY event_type
    ),
    freq AS (
      SELECT unnest(range(1, {_SPEC_FREQS} + 1)) AS f
    ),
    proj AS (
      SELECT h.event_type, fr.f,
             SUM((h.c - b.mu) * cos(2 * pi() * fr.f * (h.hr - b.h0)
                                    / b.t)) AS sc,
             SUM((h.c - b.mu) * sin(2 * pi() * fr.f * (h.hr - b.h0)
                                    / b.t)) AS ss
      FROM hourly h
      JOIN base b USING (event_type)
      CROSS JOIN freq fr
      GROUP BY 1, 2
    ),
    power AS (
      SELECT event_type, f, sc * sc + ss * ss AS pw
      FROM proj
    ),
    tot AS (
      SELECT event_type, SUM(pw) AS tp FROM power GROUP BY 1
    )
    SELECT p.event_type,
           floor(-SUM(CASE WHEN p.pw > 0
                      THEN p.pw / t.tp * ln(p.pw / t.tp)
                      ELSE 0 END) / ln({_SPEC_FREQS})
                 * 10000 + 0.5) / 10000 AS spectral_entropy,
           floor(MAX(p.pw / t.tp) * 10000 + 0.5) / 10000
             AS top_freq_share
    FROM power p JOIN tot t USING (event_type)
    GROUP BY p.event_type
    ORDER BY p.event_type
    """,
)
def events_spectral_entropy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Normalized spectral entropy of each stream's hourly volume over
    DFT frequencies 1..{nf} cycles/series (mean-centered projections):
    H = -sum p_f ln p_f / ln(F) where p_f is the normalized power.
    ~1 says the load is spectrally white; ~0 says one cycle dominates
    (the `events_periodogram` peak); the scalar that triages WHICH
    streams deserve a seasonal model at all.

    Scale shape: one hourly rollup, a broadcast 1-row-per-stream base,
    a {nf}-row frequency explode, and per-(stream, f) trig sums over
    the calendar-bounded hour table. Trig noise across engines is
    ~ulp-level and sits far below the 4-decimal quantum after power
    normalization (the `events_periodogram` precedent).
    """.format(nf=_SPEC_FREQS)
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        F.floor(F.unix_micros(F.col("ts")) / 3600000000.0)
        .cast("bigint")
        .alias("hr"),
    ).agg(F.count("*").cast("double").alias("c"))
    base = hourly.groupBy("event_type").agg(
        F.min("hr").alias("h0"),
        F.count("*").cast("bigint").alias("t"),
        F.avg("c").alias("mu"),
    )
    freqs = F.explode(
        F.sequence(F.lit(1), F.lit(_SPEC_FREQS))
    ).alias("f")
    two_pi = 2.0 * 3.141592653589793
    proj = (
        hourly.join(F.broadcast(base), "event_type")
        .select("event_type", "hr", "c", "h0", "t", "mu", freqs)
        .groupBy("event_type", "f")
        .agg(
            F.sum(
                (F.col("c") - F.col("mu"))
                * F.cos(
                    two_pi
                    * F.col("f")
                    * (F.col("hr") - F.col("h0"))
                    / F.col("t")
                )
            ).alias("sc"),
            F.sum(
                (F.col("c") - F.col("mu"))
                * F.sin(
                    two_pi
                    * F.col("f")
                    * (F.col("hr") - F.col("h0"))
                    / F.col("t")
                )
            ).alias("ss"),
        )
    )
    power = proj.select(
        "event_type",
        "f",
        (F.col("sc") * F.col("sc") + F.col("ss") * F.col("ss")).alias("pw"),
    )
    tot = power.groupBy("event_type").agg(F.sum("pw").alias("tp"))
    share = F.col("pw") / F.col("tp")
    return (
        power.join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(
            quantize(
                -F.sum(
                    F.when(
                        F.col("pw") > 0, share * F.log(share)
                    ).otherwise(0.0)
                )
                / float(__import__("math").log(_SPEC_FREQS)), 4
            ).alias("spectral_entropy"),
            quantize(F.max(share), 4).alias("top_freq_share"),
        )
        .orderBy("event_type")
    )
