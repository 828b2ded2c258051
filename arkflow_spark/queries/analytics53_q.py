"""Round-5 batch 53: record linkage, the count-min sketch, and
lead-lag (Granger-style) causality screening.

- `part_entity_resolution_fs` — Fellegi-Sunter probabilistic record
  linkage over the part catalog: blocked candidate pairs, field-level
  agreement vectors (type / leading name token / price band),
  log-likelihood match weights with data-estimated u-probabilities,
  and the classic match / possible / non-match decision bands. The
  dedup family's sibling for STRUCTURED records (the text family
  handles documents).
- `agg_count_min_sketch` — the Cormode-Muthukrishnan CMS: d=3 seeded
  md5 hash rows x w=512 counters, point estimate = min over rows.
  Evaluated against exact counts for the top-10 heaviest users —
  reports estimate, exact, and the (always >= 0) overestimate. The
  mergeable, fixed-size frequency sketch that complements the
  Misra-Gries heavy hitters (`agg_heavy_hitters_mg`).
- `events_granger_hourly` — lead-lag screen over every ordered stream
  pair on the hourly rate grid: does x's PREVIOUS hour improve the
  AR(1) prediction of y's current hour? Closed-form OLS on centered
  moments, F-statistic for the nested-model comparison. The alarm
  triage question ("do error bursts LEAD purchase dips?") as one
  bounded-grid query.

Reference scope: arkflow's SQL processor + aggregate surface
(crates/arkflow-plugin/src/processor/sql.rs); methods are published
classics (Fellegi-Sunter 1969; Cormode-Muthukrishnan 2005; Granger
1969). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ Fellegi-Sunter linkage

_FS_M = {"type": 0.95, "name": 0.9, "price": 0.85}  # published-style priors
_FS_UPPER = 2.0  # ln-likelihood decision bands
_FS_LOWER = 0.0


@query(
    "part_entity_resolution_fs",
    oracle=f"""
    WITH pairs AS (
      SELECT a.p_partkey AS ka, b.p_partkey AS kb,
             CASE WHEN a.p_type = b.p_type THEN 1 ELSE 0 END AS f_type,
             CASE WHEN split_part(a.p_name, ' ', 1)
                       = split_part(b.p_name, ' ', 1)
                  THEN 1 ELSE 0 END AS f_name,
             CASE WHEN ABS(a.p_retailprice - b.p_retailprice) < 10
                  THEN 1 ELSE 0 END AS f_price
      FROM part a JOIN part b
        ON a.p_size = b.p_size AND a.p_brand = b.p_brand
       AND a.p_partkey < b.p_partkey
    ),
    u AS (
      SELECT CAST(SUM(f_type) AS DOUBLE) / COUNT(*) AS u_type,
             CAST(SUM(f_name) AS DOUBLE) / COUNT(*) AS u_name,
             CAST(SUM(f_price) AS DOUBLE) / COUNT(*) AS u_price
      FROM pairs
    ),
    scored AS (
      SELECT p.ka, p.kb,
             (CASE WHEN p.f_type = 1 THEN ln({_FS_M['type']} / u.u_type)
                   ELSE ln({1 - _FS_M['type']} / (1 - u.u_type)) END
              + CASE WHEN p.f_name = 1 THEN ln({_FS_M['name']} / u.u_name)
                     ELSE ln({1 - _FS_M['name']} / (1 - u.u_name)) END
              + CASE WHEN p.f_price = 1
                     THEN ln({_FS_M['price']} / u.u_price)
                     ELSE ln({1 - _FS_M['price']} / (1 - u.u_price)) END)
               AS score
      FROM pairs p CROSS JOIN u
    )
    SELECT CASE WHEN score > {_FS_UPPER} THEN 'match'
                WHEN score > {_FS_LOWER} THEN 'possible'
                ELSE 'non_match' END AS decision,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           floor(CAST(SUM(CAST(score AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*) * 10000 + 0.5) / 10000 AS avg_score
    FROM scored
    GROUP BY 1 ORDER BY 1
    """,
)
def part_entity_resolution_fs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fellegi-Sunter record linkage over parts: block on
    (p_size, p_brand) — candidate generation is block-bounded, never
    all-pairs — then per-pair agreement on type / leading name token /
    price-within-10, log-likelihood weights ln(m/u) vs ln((1-m)/(1-u))
    with fixed m-priors and u estimated FROM the candidate population
    (exact integer agreement counts -> one double ratio), and the
    classic three-band decision. Aggregate output: pair count and mean
    weight per decision band.

    Determinism: u's are exact-count ratios; per-pair scores add three
    identically-written doubles (bit-identical across engines); the
    band mean goes through the exact-decimal sum.

    Scale shape: self-join keyed on the block columns (shuffle on
    block key, skew bounded by the brand x size grain), two broadcast
    scalars (u's), one rollup. At 100 TB the block key would widen
    (brand x size x type-prefix) to keep blocks bounded; the dataflow
    is unchanged.
    """
    p = load(spark, sf_dir, "part").select(
        "p_partkey", "p_size", "p_brand", "p_type", "p_name", "p_retailprice"
    )
    a = p.alias("a")
    b = p.alias("b")
    tok = lambda side: F.split(F.col(f"{side}.p_name"), " ")[0]  # noqa: E731
    pairs = a.join(
        b,
        (F.col("a.p_size") == F.col("b.p_size"))
        & (F.col("a.p_brand") == F.col("b.p_brand"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    ).select(
        F.when(F.col("a.p_type") == F.col("b.p_type"), 1)
        .otherwise(0)
        .alias("f_type"),
        F.when(tok("a") == tok("b"), 1).otherwise(0).alias("f_name"),
        F.when(
            F.abs(F.col("a.p_retailprice") - F.col("b.p_retailprice")) < 10,
            1,
        )
        .otherwise(0)
        .alias("f_price"),
    )
    u = pairs.agg(
        *[
            (F.sum(f"f_{f}").cast("double") / F.count("*")).alias(f"u_{f}")
            for f in ("type", "name", "price")
        ]
    )

    def w(f: str) -> F.Column:
        m = _FS_M[f]
        return F.when(
            F.col(f"f_{f}") == 1, F.log(m / F.col(f"u_{f}"))
        ).otherwise(F.log((1 - m) / (1 - F.col(f"u_{f}"))))

    scored = pairs.crossJoin(F.broadcast(u)).select(
        (w("type") + w("name") + w("price")).alias("score")
    )
    return (
        scored.select(
            F.when(F.col("score") > _FS_UPPER, "match")
            .when(F.col("score") > _FS_LOWER, "possible")
            .otherwise("non_match")
            .alias("decision"),
            "score",
        )
        .groupBy("decision")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            quantize(
                F.sum(F.col("score").cast("decimal(18,6)")).cast("double")
                / F.count("*"), 4
            ).alias("avg_score"),
        )
        .orderBy("decision")
    )


# ------------------------------------------------ count-min sketch

_CMS_D = 3
_CMS_W = 512


def _cms_col_spark(seed: int) -> F.Column:
    key = F.concat(
        F.col("user_id").cast("string"), F.lit(f"|{seed}")
    )
    return F.pmod(
        F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("bigint"),
        F.lit(_CMS_W),
    )


def _cms_col_duck(seed: int) -> str:
    return (
        f"CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) "
        f"|| '|{seed}'), 1, 15)) AS BIGINT) % {_CMS_W}"
    )


@query(
    "agg_count_min_sketch",
    oracle=f"""
    WITH cms AS (
      {" UNION ALL ".join(
          f"SELECT {d} AS row_id, {_cms_col_duck(d)} AS col_id,"
          f" CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 2"
          for d in range(_CMS_D)
      )}
    ),
    exact AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
      FROM events GROUP BY user_id
      ORDER BY exact_n DESC, user_id LIMIT 10
    )
    SELECT e.user_id, e.exact_n,
           CAST(MIN(c.cnt) AS BIGINT) AS cms_estimate,
           CAST(MIN(c.cnt) - e.exact_n AS BIGINT) AS overestimate
    FROM exact e
    JOIN cms c ON (
      {" OR ".join(
          f"(c.row_id = {d} AND c.col_id = "
          f"{_cms_col_duck(d).replace('user_id', 'e.user_id')})"
          for d in range(_CMS_D)
      )}
    )
    GROUP BY e.user_id, e.exact_n
    ORDER BY e.exact_n DESC, e.user_id
    """,
)
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over per-user event counts: d={d} seeded md5
    hash rows x w={w} counters (3 x 512 cells TOTAL, mergeable across
    shards by cell-wise addition — the property that makes CMS the
    distributed frequency sketch), point estimate = min over rows.
    Evaluated against the exact top-10 users: estimate >= exact always
    (one-sided error), overestimate bounded by e*N/w in expectation.

    Determinism: hashes are md5-hex-prefix integers (the house
    cross-engine hash), counts are exact integers — no doubles
    anywhere.

    Scale shape: building the sketch is d map-side-combinable rollups
    to a FIXED {d}x{w} table (the reduce output is constant-size
    regardless of corpus); probing joins the broadcast 10-row exact
    top-k against the broadcast sketch. The exact top-k itself is
    orderBy+limit (TakeOrderedAndProject — no global sort).
    """.format(d=_CMS_D, w=_CMS_W)
    e = load(spark, sf_dir, "events")
    cms = None
    for d in range(_CMS_D):
        part = e.groupBy(_cms_col_spark(d).alias("col_id")).agg(
            F.count("*").cast("bigint").alias("cnt")
        ).select(F.lit(d).alias("row_id"), "col_id", "cnt")
        cms = part if cms is None else cms.unionAll(part)
    exact = (
        e.groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("user_id"))
        .limit(10)
    )
    probe_cols = [
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("user_id").cast("string"),
                            F.lit(f"|{d}"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint"),
            F.lit(_CMS_W),
        ).alias(f"c{d}")
        for d in range(_CMS_D)
    ]
    probes = exact.select("user_id", "exact_n", *probe_cols)
    cond = None
    for d in range(_CMS_D):
        this = (F.col("row_id") == d) & (
            F.col("col_id") == F.col(f"c{d}")
        )
        cond = this if cond is None else (cond | this)
    return (
        probes.join(F.broadcast(cms), cond)
        .groupBy("user_id", "exact_n")
        .agg(F.min("cnt").cast("bigint").alias("cms_estimate"))
        .select(
            "user_id",
            "exact_n",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_n"))
            .cast("bigint")
            .alias("overestimate"),
        )
        .orderBy(F.desc("exact_n"), F.asc("user_id"))
    )


# ------------------------------------------------ Granger lead-lag screen


@query(
    "events_granger_hourly",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(COUNT(*) AS DOUBLE) AS cnt
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT MIN(h) AS mn, MAX(h) AS mx FROM hourly
    ),
    spine AS (
      SELECT t.event_type,
             unnest(generate_series(b.mn, b.mx, INTERVAL 1 HOUR)) AS h
      FROM (SELECT DISTINCT event_type FROM hourly) t CROSS JOIN bounds b
    ),
    series AS (
      SELECT s.event_type, s.h, COALESCE(hv.cnt, 0) AS cnt,
             LAG(COALESCE(hv.cnt, 0)) OVER (
               PARTITION BY s.event_type ORDER BY s.h) AS lag1
      FROM spine s LEFT JOIN hourly hv USING (event_type, h)
    ),
    tri AS (
      SELECT y.event_type AS y_type, x.event_type AS x_type,
             y.cnt AS yv, y.lag1 AS yl, x.lag1 AS xl
      FROM series y JOIN series x USING (h)
      WHERE x.event_type <> y.event_type
        AND y.lag1 IS NOT NULL AND x.lag1 IS NOT NULL
    ),
    mo AS (
      SELECT y_type, x_type, CAST(COUNT(*) AS BIGINT) AS t,
             AVG(yv) AS my, AVG(yl) AS ml, AVG(xl) AS mx
      FROM tri GROUP BY 1, 2
    ),
    ce AS (
      SELECT t.y_type, t.x_type, m.t,
             SUM((t.yl - m.ml) * (t.yl - m.ml)) AS sll,
             SUM((t.xl - m.mx) * (t.xl - m.mx)) AS sxx,
             SUM((t.yl - m.ml) * (t.xl - m.mx)) AS slx,
             SUM((t.yl - m.ml) * (t.yv - m.my)) AS sly,
             SUM((t.xl - m.mx) * (t.yv - m.my)) AS sxy,
             SUM((t.yv - m.my) * (t.yv - m.my)) AS syy
      FROM tri t JOIN mo m USING (y_type, x_type)
      GROUP BY 1, 2, 3
    )
    SELECT y_type, x_type, t AS n_hours,
           floor((syy - sly * sly / sll) * 10000 + 0.5) / 10000 AS rss_ar1,
           floor((syy - ((sxx * sly - slx * sxy) * sly
                          + (sll * sxy - slx * sly) * sxy)
                        / (sll * sxx - slx * slx))
                 * 10000 + 0.5) / 10000 AS rss_full,
           floor(((syy - sly * sly / sll)
                  - (syy - ((sxx * sly - slx * sxy) * sly
                             + (sll * sxy - slx * sly) * sxy)
                           / (sll * sxx - slx * slx)))
                 / ((syy - ((sxx * sly - slx * sxy) * sly
                             + (sll * sxy - slx * sly) * sxy)
                           / (sll * sxx - slx * slx)) / (t - 3))
                 * 10000 + 0.5) / 10000 AS f_stat
    FROM ce
    ORDER BY y_type, x_type
    """,
)
def events_granger_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger-style lead-lag screen over every ordered stream pair on
    the gap-filled hourly rate grid: restricted model y_t ~ y_{t-1},
    full model y_t ~ y_{t-1} + x_{t-1}; both solved in closed form from
    centered moment sums (2x2 normal equations), F = (RSS_r - RSS_f)
    / (RSS_f / (T-3)). A large F for (y=purchase, x=error) says error
    rates carry predictive information about next-hour purchases —
    the triage screen before any causal claim.

    Determinism: the series are exact integer counts on a shared
    calendar spine; means and centered moments are doubles whose
    reduction-order noise (bounded series, similar magnitudes) sits
    ~1e-10 below the 4-decimal quantum.

    Scale shape: one map-side-combinable (stream x hour) rollup, a
    calendar-bounded spine explode, per-stream lag windows partitioned
    by stream over the bounded grid, then a pair join keyed on the
    hour — every post-rollup table is (streams x hours)-bounded.
    """
    e = load(spark, sf_dir, "events")
    # (streams x hours)-bounded tables consumed by multiple branches:
    # hourly feeds bounds/types/series, series both pair-join sides,
    # tri the moment pass and the centered pass — persist each so the
    # raw stream is rolled up exactly once.
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count("*").cast("double").alias("cnt")).persist()
    bounds = hourly.agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    types = hourly.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence("mn", "mx", F.expr("interval 1 hour"))).alias(
            "h"
        ),
    )
    wlag = Window.partitionBy("event_type").orderBy("h")
    series = (
        spine.join(hourly, ["event_type", "h"], "left")
        .select(
            "event_type", "h", F.coalesce("cnt", F.lit(0.0)).alias("cnt")
        )
        .withColumn("lag1", F.lag("cnt").over(wlag))
        .persist()
    )
    y = series.alias("y")
    x = series.alias("x")
    tri = (
        y.join(x, F.col("y.h") == F.col("x.h"))
        .filter(F.col("x.event_type") != F.col("y.event_type"))
        .filter(F.col("y.lag1").isNotNull() & F.col("x.lag1").isNotNull())
        .select(
            F.col("y.event_type").alias("y_type"),
            F.col("x.event_type").alias("x_type"),
            F.col("y.cnt").alias("yv"),
            F.col("y.lag1").alias("yl"),
            F.col("x.lag1").alias("xl"),
        )
        .persist()
    )
    mo = tri.groupBy("y_type", "x_type").agg(
        F.count("*").cast("bigint").alias("t"),
        F.avg("yv").alias("my"),
        F.avg("yl").alias("ml"),
        F.avg("xl").alias("mx"),
    )
    j = tri.join(F.broadcast(mo), ["y_type", "x_type"])
    dy = F.col("yv") - F.col("my")
    dl = F.col("yl") - F.col("ml")
    dx = F.col("xl") - F.col("mx")
    ce = j.groupBy("y_type", "x_type", "t").agg(
        F.sum(dl * dl).alias("sll"),
        F.sum(dx * dx).alias("sxx"),
        F.sum(dl * dx).alias("slx"),
        F.sum(dl * dy).alias("sly"),
        F.sum(dx * dy).alias("sxy"),
        F.sum(dy * dy).alias("syy"),
    )
    det = F.col("sll") * F.col("sxx") - F.col("slx") * F.col("slx")
    bcoef = (F.col("sxx") * F.col("sly") - F.col("slx") * F.col("sxy")) / det
    ccoef = (F.col("sll") * F.col("sxy") - F.col("slx") * F.col("sly")) / det
    rss_full = F.col("syy") - (
        bcoef * F.col("sly") + ccoef * F.col("sxy")
    )
    rss_ar1 = F.col("syy") - F.col("sly") * F.col("sly") / F.col("sll")
    return ce.select(
        "y_type",
        "x_type",
        F.col("t").alias("n_hours"),
        quantize(rss_ar1, 4).alias("rss_ar1"),
        quantize(rss_full, 4).alias("rss_full"),
        quantize(
            (rss_ar1 - rss_full) / (rss_full / (F.col("t") - 3)), 4
        ).alias("f_stat"),
    ).orderBy("y_type", "x_type")
