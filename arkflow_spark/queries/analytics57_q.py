"""Round-5 batch 57: multi-criteria ranking, centroid classification,
queueing-theory staffing, corpus garbage screening.

- `supplier_topsis_scorecard` — TOPSIS multi-criteria supplier
  ranking: vector-normalized criteria (revenue and order count as
  benefits, average discount as cost), distance to the ideal and
  anti-ideal points, closeness coefficient d-/(d+ + d-). The
  procurement scorecard that fuses incomparable KPIs into one
  defensible ordering (Hwang-Yoon 1981).
- `embedding_centroid_classifier` — nearest-centroid (Rocchio)
  classification of the labeled embeddings with the full confusion
  matrix: the 10-line baseline every ANN/kNN pipeline must beat
  before it earns its index (`ann_knn_classify` is the expensive
  sibling).
- `events_erlang_staffing` — Erlang-C staffing per hour-of-day: from
  each hour-slot's mean arrival rate, the minimum agent count whose
  Erlang-C wait probability clears the SLA, with B/C computed by the
  exact cumulative-term recursion on a bounded (hour x c) grid. The
  canonical "how many workers does the queue need at 3pm" answer
  (Erlang 1917).
- `text_mojibake_garbage_screen` — OCR/mojibake garbage detector per
  source: replacement characters, long consonant runs, symbol
  density, digit-letter hybrid tokens; share of documents tripping
  any trap. The pretraining hygiene pass that catches broken
  encodings BEFORE they poison token statistics.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ TOPSIS scorecard


@query(
    "supplier_topsis_scorecard",
    oracle="""
    WITH crit AS (
      SELECT l.l_suppkey AS sk,
             CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE) AS rev,
             CAST(COUNT(DISTINCT l.l_orderkey) AS DOUBLE) AS n_ord,
             CAST(SUM(CAST(l.l_discount AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*) AS avg_disc
      FROM lineitem l GROUP BY 1
    ),
    norm AS (
      SELECT sqrt(SUM(rev * rev)) AS nr, sqrt(SUM(n_ord * n_ord)) AS nn,
             sqrt(SUM(avg_disc * avg_disc)) AS nd
      FROM crit
    ),
    v AS (
      SELECT c.sk, c.rev / n.nr / 3 AS v1, c.n_ord / n.nn / 3 AS v2,
             c.avg_disc / n.nd / 3 AS v3
      FROM crit c CROSS JOIN norm n
    ),
    ideal AS (
      SELECT MAX(v1) AS p1, MAX(v2) AS p2, MIN(v3) AS p3,
             MIN(v1) AS m1, MIN(v2) AS m2, MAX(v3) AS m3
      FROM v
    )
    SELECT v.sk AS s_suppkey,
           floor(sqrt(POW(v.v1 - i.p1, 2) + POW(v.v2 - i.p2, 2)
                      + POW(v.v3 - i.p3, 2)) * 10000 + 0.5) / 10000
             AS d_plus,
           floor(sqrt(POW(v.v1 - i.m1, 2) + POW(v.v2 - i.m2, 2)
                      + POW(v.v3 - i.m3, 2)) * 10000 + 0.5) / 10000
             AS d_minus,
           floor(sqrt(POW(v.v1 - i.m1, 2) + POW(v.v2 - i.m2, 2)
                      + POW(v.v3 - i.m3, 2))
                 / (sqrt(POW(v.v1 - i.p1, 2) + POW(v.v2 - i.p2, 2)
                         + POW(v.v3 - i.p3, 2))
                    + sqrt(POW(v.v1 - i.m1, 2) + POW(v.v2 - i.m2, 2)
                           + POW(v.v3 - i.m3, 2)))
                 * 10000 + 0.5) / 10000 AS closeness
    FROM v CROSS JOIN ideal i
    ORDER BY closeness DESC, s_suppkey LIMIT 15
    """,
)
def supplier_topsis_scorecard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TOPSIS supplier ranking over three criteria — revenue (benefit),
    distinct orders served (benefit), mean discount granted (cost) —
    vector-normalized, equal-weighted, scored by closeness to the
    ideal point: d-/(d+ + d-), top-15. The multi-criteria-decision
    classic, reduced to two aggregates and per-row arithmetic.

    Scale shape: one supplier rollup (map-side combinable), ONE 1-row
    broadcast carrying normalization constants AND ideal/anti-ideal
    bounds together (r8: the bounds are monotone images of the raw
    criteria, see below), then orderBy+limit (TakeOrdered). The
    scoring is scan-bound for any supplier count.
    """
    li = load(spark, sf_dir, "lineitem")
    crit = li.groupBy(F.col("l_suppkey").alias("sk")).agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,6)"
            )
        )
        .cast("double")
        .alias("rev"),
        F.count_distinct(F.col("l_orderkey")).cast("double").alias("n_ord"),
        (
            F.sum(F.col("l_discount").cast("decimal(18,6)")).cast("double")
            / F.count("*")
        ).alias("avg_disc"),
    )
    # norm + ideal fused into ONE 1-row aggregate: v1 = rev/nr/3 is a
    # monotone image of rev (nr > 0), so max(v1) is attained by the
    # max-rev supplier and equals max(rev)/nr/3 computed by the exact
    # same FP ops that produced that supplier's v1 — bit-identical to
    # aggregating v (likewise min, and for v2/v3). Collapses the third
    # supplier rollup of lineitem into the bounds pass.
    bounds = crit.agg(
        F.sqrt(F.sum(F.col("rev") * F.col("rev"))).alias("nr"),
        F.sqrt(F.sum(F.col("n_ord") * F.col("n_ord"))).alias("nn"),
        F.sqrt(F.sum(F.col("avg_disc") * F.col("avg_disc"))).alias("nd"),
        F.max("rev").alias("rev_max"),
        F.min("rev").alias("rev_min"),
        F.max("n_ord").alias("nord_max"),
        F.min("n_ord").alias("nord_min"),
        F.max("avg_disc").alias("disc_max"),
        F.min("avg_disc").alias("disc_min"),
    )
    j = crit.crossJoin(F.broadcast(bounds)).select(
        "sk",
        (F.col("rev") / F.col("nr") / 3).alias("v1"),
        (F.col("n_ord") / F.col("nn") / 3).alias("v2"),
        (F.col("avg_disc") / F.col("nd") / 3).alias("v3"),
        (F.col("rev_max") / F.col("nr") / 3).alias("p1"),
        (F.col("nord_max") / F.col("nn") / 3).alias("p2"),
        (F.col("disc_min") / F.col("nd") / 3).alias("p3"),
        (F.col("rev_min") / F.col("nr") / 3).alias("m1"),
        (F.col("nord_min") / F.col("nn") / 3).alias("m2"),
        (F.col("disc_max") / F.col("nd") / 3).alias("m3"),
    )
    dp = F.sqrt(
        F.pow(F.col("v1") - F.col("p1"), F.lit(2))
        + F.pow(F.col("v2") - F.col("p2"), F.lit(2))
        + F.pow(F.col("v3") - F.col("p3"), F.lit(2))
    )
    dm = F.sqrt(
        F.pow(F.col("v1") - F.col("m1"), F.lit(2))
        + F.pow(F.col("v2") - F.col("m2"), F.lit(2))
        + F.pow(F.col("v3") - F.col("m3"), F.lit(2))
    )
    return (
        j.select(
            F.col("sk").alias("s_suppkey"),
            quantize(dp, 4).alias("d_plus"),
            quantize(dm, 4).alias("d_minus"),
            quantize(dm / (dp + dm), 4).alias("closeness"),
        )
        .orderBy(F.desc("closeness"), F.asc("s_suppkey"))
        .limit(15)
    )


# ------------------------------------------------ nearest-centroid


@query(
    "embedding_centroid_classifier",
    oracle="""
    WITH el AS (
      SELECT vec_id, label, g.i AS i,
             CAST(embedding[g.i] AS DOUBLE) AS x
      FROM embeddings
      CROSS JOIN (SELECT unnest(range(1, 65)) AS i) g
      WHERE len(embedding) = 64
    ),
    cent AS (
      SELECT label AS clabel, i, AVG(x) AS c
      FROM el GROUP BY 1, 2
    ),
    dist AS (
      SELECT e.vec_id, e.label, c.clabel,
             SUM(POW(e.x - c.c, 2)) AS d2
      FROM el e JOIN cent c USING (i)
      GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT vec_id, label,
             FIRST(clabel ORDER BY d2, clabel) AS pred
      FROM dist GROUP BY vec_id, label
    )
    SELECT label AS true_label, pred AS predicted_label,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM pred
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def embedding_centroid_classifier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nearest-centroid (Rocchio) classifier on the labeled embedding
    table, evaluated in-sample as a confusion matrix: per-label mean
    vectors, then each vector assigned to the closest centroid
    (deterministic tie-break = label order). The cheap baseline an ANN
    index must beat — and the centroid table it produces is itself the
    IVF coarse quantizer seed.

    Determinism: centroids are per-(label, dim) means of float32
    values read identically by both engines; squared distances sum 64
    identically-computed doubles. Reduction-order noise (~1e-13
    relative) can flip an argmin only on exact centroid-distance ties
    (measure-zero for real embeddings).

    Scale shape: one posexplode rollup to (labels x 64) centroids
    (map-side combinable), centroids broadcast back, per-vector
    distance = dim-keyed join grouped by vector — the classic
    vectorized form; no per-pair vector materialization beyond
    (vectors x labels).
    """
    emb = load(spark, sf_dir, "embeddings").filter(
        F.size("embedding") == 64
    )
    el = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("i0", "xf"),
    ).select(
        "vec_id",
        "label",
        (F.col("i0") + 1).alias("i"),
        F.col("xf").cast("double").alias("x"),
    )
    cent = el.groupBy(F.col("label").alias("clabel"), "i").agg(
        F.avg("x").alias("c")
    )
    dist = (
        el.join(F.broadcast(cent), "i")
        .groupBy("vec_id", "label", "clabel")
        .agg(
            F.sum(
                F.pow(F.col("x") - F.col("c"), F.lit(2))
            ).alias("d2")
        )
    )
    wmin = Window.partitionBy("vec_id", "label").orderBy("d2", "clabel")
    pred = (
        dist.withColumn("rn", F.row_number().over(wmin))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", F.col("clabel").alias("pred"))
    )
    return (
        pred.groupBy(
            F.col("label").alias("true_label"),
            F.col("pred").alias("predicted_label"),
        )
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy("true_label", "predicted_label")
    )


# ------------------------------------------------ Erlang-C staffing

_ERL_MU = 20.0  # service rate: 3-minute mean handle time, per hour
_ERL_CMAX = 32
_ERL_SLA = 0.2  # max acceptable P(wait)


@query(
    "events_erlang_staffing",
    oracle=f"""
    WITH hourly AS (
      SELECT CAST(hour(ts) AS BIGINT) AS hod,
             CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS slot,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    lam AS (
      SELECT hod, CAST(SUM(n) AS DOUBLE) / COUNT(*) AS lambda_h
      FROM hourly GROUP BY hod
    ),
    grid AS (
      SELECT l.hod, l.lambda_h, l.lambda_h / {_ERL_MU} AS a,
             g.c
      FROM lam l CROSS JOIN
           (SELECT unnest(range(1, {_ERL_CMAX} + 1)) AS c) g
    ),
    terms AS (
      SELECT hod, lambda_h, a, c,
             SUM(ln(a / c)) OVER (PARTITION BY hod ORDER BY c
                 ROWS UNBOUNDED PRECEDING) AS s_c
      FROM grid
    ),
    cum AS (
      SELECT hod, lambda_h, a, c, exp(s_c) AS t_c,
             1 + SUM(exp(s_c)) OVER (PARTITION BY hod ORDER BY c
                 ROWS UNBOUNDED PRECEDING) AS denom
      FROM terms
    ),
    erl AS (
      SELECT hod, lambda_h, a, c,
             t_c / denom AS b_c
      FROM cum
    ),
    ec AS (
      SELECT hod, lambda_h, a, c,
             CASE WHEN c > a
                  THEN c * b_c / (c - a * (1 - b_c))
                  ELSE 1.0 END AS wait_prob
      FROM erl
    ),
    pick AS (
      SELECT hod, lambda_h,
             MIN(CASE WHEN c > a AND wait_prob <= {_ERL_SLA}
                 THEN c END) AS staff
      FROM ec GROUP BY hod, lambda_h
    )
    SELECT p.hod AS hour_of_day,
           floor(p.lambda_h * 10000 + 0.5) / 10000 AS arrivals_per_hour,
           floor(p.lambda_h / {_ERL_MU} * 10000 + 0.5) / 10000
             AS offered_load,
           CAST(COALESCE(p.staff, {_ERL_CMAX}) AS BIGINT) AS agents,
           floor(e.wait_prob * 10000 + 0.5) / 10000 AS wait_prob
    FROM pick p
    JOIN ec e ON e.hod = p.hod
            AND e.c = COALESCE(p.staff, {_ERL_CMAX})
    ORDER BY p.hod
    """,
)
def events_erlang_staffing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erlang-C staffing curve: per hour-of-day, the mean arrival rate
    across observed slots, offered load a = lambda/mu (mu = {mu}/h,
    a 3-minute mean handle time), and the minimum agent count c whose
    Erlang-C wait probability clears P(wait) <= {sla}. Erlang-B comes
    from the exact cumulative-term identity B(c) = t_c / (1 + sum t_k)
    with t_k = a^k/k! computed as exp of the running sum of ln(a/i) —
    a sequential window over the BOUNDED c-grid, bit-reproducible in
    both engines — and Erlang-C from B by the standard identity.

    Scale shape: one (hour-of-day x slot) rollup, a 24-row rate table,
    a bounded 24 x {cmax} grid with sequential windows over c, and a
    24-row join for the chosen staffing's wait probability. Everything
    after the first rollup is constant-size.
    """.format(mu=_ERL_MU, sla=_ERL_SLA, cmax=_ERL_CMAX)
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.hour("ts").cast("bigint").alias("hod"),
        F.floor(F.unix_micros(F.col("ts")) / 3600000000.0)
        .cast("bigint")
        .alias("slot"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    lam = hourly.groupBy("hod").agg(
        (F.sum("n").cast("double") / F.count("*")).alias("lambda_h")
    )
    grid = lam.select(
        "hod",
        "lambda_h",
        (F.col("lambda_h") / _ERL_MU).alias("a"),
        F.explode(F.sequence(F.lit(1), F.lit(_ERL_CMAX))).alias("c"),
    )
    wseq = (
        Window.partitionBy("hod")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.withColumn(
        "s_c", F.sum(F.log(F.col("a") / F.col("c"))).over(wseq)
    ).withColumn("t_c", F.exp("s_c")).withColumn(
        "denom", 1 + F.sum(F.exp("s_c")).over(wseq)
    )
    erl = cum.withColumn("b_c", F.col("t_c") / F.col("denom"))
    ec = erl.withColumn(
        "wait_prob",
        F.when(
            F.col("c") > F.col("a"),
            F.col("c")
            * F.col("b_c")
            / (F.col("c") - F.col("a") * (1 - F.col("b_c"))),
        ).otherwise(F.lit(1.0)),
    )
    pick = ec.groupBy("hod", "lambda_h").agg(
        F.min(
            F.when(
                (F.col("c") > F.col("a"))
                & (F.col("wait_prob") <= _ERL_SLA),
                F.col("c"),
            )
        ).alias("staff")
    )
    chosen = F.coalesce(F.col("staff"), F.lit(_ERL_CMAX))
    return (
        pick.join(
            ec.select(
                F.col("hod").alias("hod2"), "c", "wait_prob"
            ),
            (F.col("hod") == F.col("hod2"))
            & (
                F.col("c")
                == F.coalesce(F.col("staff"), F.lit(_ERL_CMAX))
            ),
        )
        .select(
            F.col("hod").alias("hour_of_day"),
            quantize(F.col("lambda_h"), 4).alias("arrivals_per_hour"),
            quantize(F.col("lambda_h") / _ERL_MU, 4).alias("offered_load"),
            chosen.cast("bigint").alias("agents"),
            quantize(F.col("wait_prob"), 4).alias("wait_prob"),
        )
        .orderBy("hour_of_day")
    )


# ------------------------------------------------ mojibake screen

_GARBAGE_CONSONANT = "[bcdfghjklmnpqrstvwxz]{{{n},}}".format(n=6)


@query(
    "text_mojibake_garbage_screen",
    oracle=f"""
    WITH flags AS (
      SELECT source,
             CASE WHEN contains(text, chr(65533)) THEN 1 ELSE 0 END
               AS f_replacement,
             CASE WHEN regexp_matches(lower(text),
                  '[bcdfghjklmnpqrstvwxz]{{6,}}') THEN 1 ELSE 0 END
               AS f_consonant_run,
             CASE WHEN len(regexp_extract_all(text, '[^a-zA-Z0-9 ]'))
                  * 1.0 / GREATEST(len(text), 1) > 0.25
                  THEN 1 ELSE 0 END AS f_symbol_heavy,
             CASE WHEN len(regexp_extract_all(text,
                  '[a-zA-Z][0-9]|[0-9][a-zA-Z]'))
                  * 1.0 / GREATEST(len(regexp_extract_all(text,
                        '[^ ]+')), 1) > 0.3
                  THEN 1 ELSE 0 END AS f_hybrid_tokens
      FROM documents
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(f_replacement) AS BIGINT) AS n_replacement,
           CAST(SUM(f_consonant_run) AS BIGINT) AS n_consonant_run,
           CAST(SUM(f_symbol_heavy) AS BIGINT) AS n_symbol_heavy,
           CAST(SUM(f_hybrid_tokens) AS BIGINT) AS n_hybrid_tokens,
           floor(SUM(CASE WHEN f_replacement + f_consonant_run
                          + f_symbol_heavy + f_hybrid_tokens > 0
                     THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
                 * 10000 + 0.5) / 10000 AS garbage_share
    FROM flags
    GROUP BY source
    ORDER BY source
    """,
)
def text_mojibake_garbage_screen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OCR/mojibake garbage screen per source shard: four independent
    traps — U+FFFD replacement characters (broken transcoding), >= 6
    consecutive consonants (OCR smear / key-mash), symbol density
    > 25% (markup or binary-as-text), digit-letter hybrid tokens
    > 30% of tokens (tables or base64 splatter) — and the share of
    documents tripping ANY trap. Runs BEFORE model-based quality
    scoring: a shard with 30% garbage share needs re-extraction, not
    a classifier (the `documents_license_screen` / `text_gopher_quality`
    hygiene family).

    Scale shape: one narrow regex-flag map stage, one map-side-
    combinable source rollup — scan-bound at any corpus size; regexes
    stay in the shared RE2-and-Java-safe subset (no lookaround).
    """
    d = load(spark, sf_dir, "documents")
    n_tokens = F.greatest(
        F.size(F.expr("regexp_extract_all(text, '[^ ]+', 0)")), F.lit(1)
    )
    n_sym = F.size(F.expr("regexp_extract_all(text, '[^a-zA-Z0-9 ]', 0)"))
    n_hyb = F.size(
        F.expr("regexp_extract_all(text, '[a-zA-Z][0-9]|[0-9][a-zA-Z]', 0)")
    )
    flags = d.select(
        "source",
        F.when(F.contains(F.col("text"), F.lit("�")), 1)
        .otherwise(0)
        .alias("f_replacement"),
        F.when(
            F.regexp_like(
                F.lower("text"), F.lit("[bcdfghjklmnpqrstvwxz]{6,}")
            ),
            1,
        )
        .otherwise(0)
        .alias("f_consonant_run"),
        F.when(
            n_sym * 1.0 / F.greatest(F.length("text"), F.lit(1)) > 0.25, 1
        )
        .otherwise(0)
        .alias("f_symbol_heavy"),
        F.when(n_hyb * 1.0 / n_tokens > 0.3, 1)
        .otherwise(0)
        .alias("f_hybrid_tokens"),
    )
    any_f = (
        F.col("f_replacement")
        + F.col("f_consonant_run")
        + F.col("f_symbol_heavy")
        + F.col("f_hybrid_tokens")
    )
    return (
        flags.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("f_replacement").cast("bigint").alias("n_replacement"),
            F.sum("f_consonant_run")
            .cast("bigint")
            .alias("n_consonant_run"),
            F.sum("f_symbol_heavy").cast("bigint").alias("n_symbol_heavy"),
            F.sum("f_hybrid_tokens")
            .cast("bigint")
            .alias("n_hybrid_tokens"),
            quantize(
                F.sum(F.when(any_f > 0, 1).otherwise(0))
                * 1.0
                / F.count("*"), 4
            ).alias("garbage_share"),
        )
        .orderBy("source")
    )
