"""Round-6 batch 117: Fisher's exact test, Mantel-Haenszel pooling,
revealed comparative advantage.

- `nation_fisher_exact_deficit` — Fisher's EXACT test on the 25-nation
  2x2 (trade deficit? x regions 0-1?): the full hypergeometric
  enumeration, two-sided. With n = 25 the chi-square approximation
  (`events_chi_square_independence`) is invalid — this is the test a
  statistician would actually run on a small contingency table, and
  the enumeration is schema-bounded by construction.
- `events_mantel_haenszel` — Cochran-Mantel-Haenszel pooled odds
  ratio of (id-hash arm x error outcome) STRATIFIED by time-of-day:
  the stratified 2x2 pooling that answers "is there an arm effect
  after controlling for daypart". `lineitem_simpson_paradox_check`
  shows why naive pooling lies; MH is the fix, with the
  continuity-corrected CMH chi-square.
- `nation_rca_index` — Balassa revealed comparative advantage:
  RCA(nation, segment) = (share of segment in nation's exports) /
  (share of segment in world trade), over the six part price
  segments. RCA > 1 = the nation specializes in that segment; the
  standard trade-specialization screen, companion to
  `nation_gravity_model`'s corridor residuals.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ Fisher's exact test

# ln(k!) for k = 0..25 as LITERAL doubles shared by both engines —
# like the RBO weight table, this removes any lgamma/ulp divergence:
# the nation table is schema-bounded at 25 rows, so 25 is the largest
# margin any cell can reach.
_LNFACT = [repr(math.lgamma(k + 1)) for k in range(26)]
_LNFACT_ROWS = ", ".join(f"({k}, {v})" for k, v in enumerate(_LNFACT))


@query(
    "nation_fisher_exact_deficit",
    oracle=f"""
    WITH flow AS (
      SELECT s.s_nationkey AS sn, c.c_nationkey AS cn,
             SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(18,6))) AS f
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    nat AS (
      SELECT n.n_nationkey,
             COALESCE((SELECT SUM(f) FROM flow WHERE sn = n.n_nationkey),
                      0) <
             COALESCE((SELECT SUM(f) FROM flow WHERE cn = n.n_nationkey),
                      0) AS deficit,
             n.n_regionkey <= 1 AS west
      FROM nation n
    ),
    cells AS (
      SELECT CAST(COUNT(*) FILTER (deficit AND west) AS BIGINT) AS a,
             CAST(COUNT(*) FILTER (deficit AND NOT west) AS BIGINT) AS b,
             CAST(COUNT(*) FILTER (NOT deficit AND west) AS BIGINT) AS c,
             CAST(COUNT(*) FILTER (NOT deficit AND NOT west) AS BIGINT)
               AS d
      FROM nat
    ),
    lf(k, lv) AS (VALUES {_LNFACT_ROWS}),
    probs AS (
      SELECT cells.a, cells.b, cells.c, cells.d, g.k AS kk,
             exp((SELECT lv FROM lf WHERE k = a + b)
               + (SELECT lv FROM lf WHERE k = c + d)
               + (SELECT lv FROM lf WHERE k = a + c)
               + (SELECT lv FROM lf WHERE k = b + d)
               - (SELECT lv FROM lf WHERE k = a + b + c + d)
               - (SELECT lv FROM lf WHERE k = g.k)
               - (SELECT lv FROM lf WHERE k = a + b - g.k)
               - (SELECT lv FROM lf WHERE k = a + c - g.k)
               - (SELECT lv FROM lf WHERE k = d - a + g.k)) AS p
      FROM cells, LATERAL (
        SELECT unnest(range(greatest(0, a - d), least(a + b, a + c) + 1))
          AS k
      ) g
    ),
    obs AS (SELECT p AS p_obs FROM probs WHERE kk = a)
    SELECT MAX(a) AS deficit_west, MAX(b) AS deficit_east,
           MAX(c) AS surplus_west, MAX(d) AS surplus_east,
           floor(CAST(SUM(CASE WHEN p <= p_obs * 1.0000001 THEN
                              CAST(p AS DECIMAL(28,15)) ELSE 0 END)
                      AS DOUBLE) * 10000 + 0.5) / 10000 AS p_two_sided,
           CAST(SUM(CASE WHEN p <= p_obs * 1.0000001 THEN
                         CAST(p AS DECIMAL(28,15)) ELSE 0 END)
                AS DOUBLE) < 0.05 AS reject_05
    FROM probs CROSS JOIN obs
    """,
)
def nation_fisher_exact_deficit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fisher's exact test: are trade-DEFICIT nations (supplier-side
    revenue below customer-side spend) over-represented in regions
    0-1? Two-sided p = sum of all hypergeometric tables no more
    likely than the observed one. Exact by enumeration — valid at
    n = 25 where chi-square is not — and the enumeration grid, margins
    and ln-factorial table are all schema-bounded at 25 (the
    ln-factorials ship as literal doubles to both engines, so there
    is no lgamma to disagree on).

    Scale shape: one lineitem scan into a 625-cell flow matrix,
    nation-level booleans, then pure literal-grid arithmetic.
    """
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    n = load(spark, sf_dir, "nation")
    flow = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("s_nationkey").alias("sn"),
            F.col("c_nationkey").alias("cn"),
        )
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("decimal(18,6)")
            ).alias("f")
        )
        .persist()  # r8: 625-cell matrix; export/import margins and the
        # two probs references otherwise replayed the corpus join 4x
    )
    exp_side = flow.groupBy("sn").agg(F.sum("f").alias("exports"))
    imp_side = flow.groupBy("cn").agg(F.sum("f").alias("imports"))
    nat = (
        n.join(F.broadcast(exp_side), n.n_nationkey == F.col("sn"), "left")
        .join(F.broadcast(imp_side), n.n_nationkey == F.col("cn"), "left")
        .select(
            (
                F.coalesce(F.col("exports"), F.lit(0).cast("decimal(18,6)"))
                < F.coalesce(
                    F.col("imports"), F.lit(0).cast("decimal(18,6)")
                )
            ).alias("deficit"),
            (F.col("n_regionkey") <= 1).alias("west"),
        )
    )
    cells = nat.agg(
        F.count(F.when(F.col("deficit") & F.col("west"), 1))
        .cast("bigint")
        .alias("a"),
        F.count(F.when(F.col("deficit") & ~F.col("west"), 1))
        .cast("bigint")
        .alias("b"),
        F.count(F.when(~F.col("deficit") & F.col("west"), 1))
        .cast("bigint")
        .alias("c"),
        F.count(F.when(~F.col("deficit") & ~F.col("west"), 1))
        .cast("bigint")
        .alias("d"),
    )
    lfm = F.create_map(
        *[x for k, v in enumerate(_LNFACT) for x in (F.lit(k), F.lit(float(v)))]
    )
    a, b, cc, d = (F.col("a"), F.col("b"), F.col("c"), F.col("d"))
    kk = F.col("kk")
    probs = (
        cells.select(
            "*",
            F.explode(
                F.sequence(
                    F.greatest(F.lit(0), a - d).cast("int"),
                    F.least(a + b, a + cc).cast("int"),
                )
            ).alias("kk"),
        )
        .select(
            "*",
            F.exp(
                lfm[(a + b).cast("int")]
                + lfm[(cc + d).cast("int")]
                + lfm[(a + cc).cast("int")]
                + lfm[(b + d).cast("int")]
                - lfm[(a + b + cc + d).cast("int")]
                - lfm[kk]
                - lfm[(a + b - kk).cast("int")]
                - lfm[(a + cc - kk).cast("int")]
                - lfm[(d - a + kk).cast("int")]
            ).alias("p"),
        )
    )
    obs = probs.filter(kk == a).select(F.col("p").alias("p_obs"))
    psum = F.sum(
        F.when(
            F.col("p") <= F.col("p_obs") * 1.0000001,
            F.col("p").cast("decimal(28,15)"),
        ).otherwise(F.lit(0).cast("decimal(28,15)"))
    )
    return probs.crossJoin(F.broadcast(obs)).agg(
        F.max("a").alias("deficit_west"),
        F.max("b").alias("deficit_east"),
        F.max("c").alias("surplus_west"),
        F.max("d").alias("surplus_east"),
        quantize(psum.cast("double"), 4).alias("p_two_sided"),
        (psum.cast("double") < 0.05).alias("reject_05"),
    )


# ------------------------------------------------ Mantel-Haenszel


@query(
    "events_mantel_haenszel",
    oracle="""
    WITH strat AS (
      SELECT CAST(hour(ts) // 6 AS INTEGER) AS daypart,
             user_id % 2 AS arm,
             event_type = 'error' AS err
      FROM events
    ),
    cells AS (
      SELECT daypart,
             COUNT(*) FILTER (arm = 0 AND err) AS a,
             COUNT(*) FILTER (arm = 0 AND NOT err) AS b,
             COUNT(*) FILTER (arm = 1 AND err) AS c,
             COUNT(*) FILTER (arm = 1 AND NOT err) AS d
      FROM strat GROUP BY daypart
    ),
    terms AS (
      SELECT daypart, a, b, c, d, a + b + c + d AS n,
             CAST(a * 1.0 * d / (a + b + c + d) AS DECIMAL(28,12)) AS rr,
             CAST(b * 1.0 * c / (a + b + c + d) AS DECIMAL(28,12)) AS ss,
             CAST((a + b) * 1.0 * (a + c) / (a + b + c + d)
                  AS DECIMAL(28,12)) AS e_a,
             CAST((a + b) * 1.0 * (c + d) * (a + c) * (b + d)
                  / ((a + b + c + d) * 1.0 * (a + b + c + d)
                     * (a + b + c + d - 1)) AS DECIMAL(28,12)) AS v_a
      FROM cells
    )
    SELECT CAST(COUNT(*) AS INTEGER) AS n_strata,
           CAST(SUM(a) AS BIGINT) AS observed_a,
           floor(CAST(SUM(e_a) AS DOUBLE) * 10000 + 0.5) / 10000
             AS expected_a,
           floor(CAST(SUM(rr) AS DOUBLE) / CAST(SUM(ss) AS DOUBLE)
                 * 10000 + 0.5) / 10000 AS mh_odds_ratio,
           floor((abs(SUM(a) - CAST(SUM(e_a) AS DOUBLE)) - 0.5)
                 * (abs(SUM(a) - CAST(SUM(e_a) AS DOUBLE)) - 0.5)
                 / CAST(SUM(v_a) AS DOUBLE) * 10000 + 0.5) / 10000
             AS cmh_chi2,
           (abs(SUM(a) - CAST(SUM(e_a) AS DOUBLE)) - 0.5)
             * (abs(SUM(a) - CAST(SUM(e_a) AS DOUBLE)) - 0.5)
             / CAST(SUM(v_a) AS DOUBLE) > 3.841459 AS reject_05
    FROM terms
    """,
)
def events_mantel_haenszel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cochran-Mantel-Haenszel: pooled odds ratio of (id-hash arm x
    error outcome) across four daypart strata, plus the
    continuity-corrected CMH chi-square. The daypart stratification
    removes the time-of-day confound (arms can be activity-skewed by
    hour) that a naive pooled 2x2 would bake in — the
    `lineitem_simpson_paradox_check` failure mode, solved the way
    epidemiology solves it. Under the null id-hash split this should
    accept; rejection = assignment bias.

    Determinism: per-stratum terms (ad/n, bc/n, E[a], Var[a]) are
    DECIMAL(28,12)-quantized before exact sums; counts exact.

    Scale shape: one events scan, a 4-stratum conditional-count
    rollup, one row out.
    """
    e = load(spark, sf_dir, "events")
    strat = e.select(
        (F.hour("ts") / 6).cast("int").alias("daypart"),
        (F.col("user_id") % 2).alias("arm"),
        (F.col("event_type") == "error").alias("err"),
    )
    cells = strat.groupBy("daypart").agg(
        F.count(F.when((F.col("arm") == 0) & F.col("err"), 1)).alias("a"),
        F.count(F.when((F.col("arm") == 0) & ~F.col("err"), 1)).alias(
            "b"
        ),
        F.count(F.when((F.col("arm") == 1) & F.col("err"), 1)).alias("c"),
        F.count(F.when((F.col("arm") == 1) & ~F.col("err"), 1)).alias(
            "d"
        ),
    )
    a, b, c, d = (F.col("a"), F.col("b"), F.col("c"), F.col("d"))
    nn = a + b + c + d
    dec = lambda col: col.cast("decimal(28,12)")
    terms = cells.select(
        "daypart",
        "a",
        dec(a * 1.0 * d / nn).alias("rr"),
        dec(b * 1.0 * c / nn).alias("ss"),
        dec((a + b) * 1.0 * (a + c) / nn).alias("e_a"),
        dec(
            (a + b) * 1.0 * (c + d) * (a + c) * (b + d)
            / (nn * 1.0 * nn * (nn - 1))
        ).alias("v_a"),
    )
    ea = F.sum("e_a").cast("double")
    corr = F.abs(F.sum("a") - ea) - 0.5
    chi2 = corr * corr / F.sum("v_a").cast("double")
    return terms.agg(
        F.count("*").cast("int").alias("n_strata"),
        F.sum("a").cast("bigint").alias("observed_a"),
        quantize(ea, 4).alias("expected_a"),
        quantize(
            F.sum("rr").cast("double") / F.sum("ss").cast("double"), 4
        ).alias("mh_odds_ratio"),
        quantize(chi2, 4).alias("cmh_chi2"),
        (chi2 > 3.841459).alias("reject_05"),
    )


# ------------------------------------------------ revealed comparative advantage

_RCA_TOP = 15


@query(
    "nation_rca_index",
    oracle=f"""
    WITH flow AS (
      SELECT ns.n_name AS nation, split_part(p.p_type, ' ', 1) AS segment,
             SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(18,6))) AS f
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation ns ON ns.n_nationkey = s.s_nationkey
      GROUP BY 1, 2
    ),
    ni AS (SELECT nation, SUM(f) AS fn FROM flow GROUP BY nation),
    sj AS (SELECT segment, SUM(f) AS fs FROM flow GROUP BY segment),
    tt AS (SELECT SUM(f) AS ft FROM flow)
    SELECT fl.nation, fl.segment,
           floor(CAST(fl.f AS DOUBLE) * 100 + 0.5) / 100 AS exports,
           floor((CAST(fl.f AS DOUBLE) / CAST(ni.fn AS DOUBLE))
                 / (CAST(sj.fs AS DOUBLE) / CAST(tt.ft AS DOUBLE))
                 * 10000 + 0.5) / 10000 AS rca,
           (CAST(fl.f AS DOUBLE) / CAST(ni.fn AS DOUBLE))
             / (CAST(sj.fs AS DOUBLE) / CAST(tt.ft AS DOUBLE)) > 1
             AS specialized
    FROM flow fl
    JOIN ni ON ni.nation = fl.nation
    JOIN sj ON sj.segment = fl.segment
    CROSS JOIN tt
    ORDER BY (CAST(fl.f AS DOUBLE) / CAST(ni.fn AS DOUBLE))
             / (CAST(sj.fs AS DOUBLE) / CAST(tt.ft AS DOUBLE)) DESC,
             fl.nation, fl.segment
    LIMIT {_RCA_TOP}
    """,
)
def nation_rca_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balassa revealed comparative advantage over the six part price
    segments (first token of p_type): RCA = the segment's share of the
    nation's export revenue over its share of world trade; top-{t}
    specializations shown. RCA > 1 marks what a nation
    disproportionately sells — the screen trade economists run before
    any tariff/sourcing scenario; pairs with `nation_gravity_model`
    (who over-trades with whom) by saying IN WHAT.

    Scale shape: one lineitem scan with broadcast dims into a
    25 x 6 flow matrix; everything after is broadcast-bounded
    arithmetic.
    """.format(t=_RCA_TOP)
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    flow = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.split(F.col("p_type"), " ").getItem(0).alias("segment"),
        )
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("decimal(18,6)")
            ).alias("f")
        )
        .persist()  # r8: 25x6 matrix referenced by ni/sj/tt AND the
        # probe — four corpus-join replays per action without it
    )
    ni = flow.groupBy("nation").agg(F.sum("f").alias("fn"))
    sj = flow.groupBy("segment").agg(F.sum("f").alias("fs"))
    tt = flow.agg(F.sum("f").alias("ft"))
    rca = (
        F.col("f").cast("double") / F.col("fn").cast("double")
    ) / (F.col("fs").cast("double") / F.col("ft").cast("double"))
    return (
        flow.join(F.broadcast(ni), "nation")
        .join(F.broadcast(sj), "segment")
        .crossJoin(F.broadcast(tt))
        .select(
            "nation",
            "segment",
            quantize(F.col("f").cast("double"), 2).alias("exports"),
            quantize(rca, 4).alias("rca"),
            (rca > 1).alias("specialized"),
            rca.alias("_r"),
        )
        .orderBy(F.desc("_r"), "nation", "segment")
        .limit(_RCA_TOP)
        .drop("_r")
    )
