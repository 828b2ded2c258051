"""Round-3 fourth-session batch 5: data-quality profiling/validation
(the Deequ-style pipeline gate), DDSketch log-bucket quantiles, and the
first BPE merge iteration.

- `dq_profile_columns` — one-pass column profiler (completeness, exact
  distinct count, min/max, mean): the stats pane every data platform
  shows, and the input to anomaly-based data-quality monitoring
  (AWS Deequ's `ColumnProfilerRunner` shape).
- `dq_validation_suite` — named constraint checks (PK uniqueness, FK
  integrity, completeness threshold, value ranges) with a metric and a
  pass/fail verdict per check: the circuit-breaker a 100 TB ingest runs
  before publishing a partition.
- `events_ddsketch_quantile` — quantiles from a DDSketch-style
  log-bucket histogram (Masson et al., VLDB 2019): deterministic
  buckets ceil(ln(v)/ln(gamma)), mergeable counts, and a PROVEN
  relative-error bound alpha=(gamma-1)/(gamma+1) — the
  relative-accuracy alternative to t-digest, exactly replayable in SQL
  (unlike random-seeded sketches).
- `text_bpe_pair_merge` — most frequent adjacent symbol pairs inside
  words (first BPE merge step, Sennrich et al. 2016): the tokenizer-
  training primitive over a corpus sample.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import (
    DUCK_TS_FMT,
    SPARK_TS_FMT,
    quantize,
    query,
)
from arkflow_spark.tables import load


# -------------------------------------------------- column profiler


@query(
    "dq_profile_columns",
    oracle=f"""
    WITH a AS (
      SELECT COUNT(*) AS n,
             COUNT(l_quantity) AS c_qty, COUNT(DISTINCT l_quantity) AS d_qty,
             MIN(l_quantity) AS mn_qty, MAX(l_quantity) AS mx_qty,
             floor(AVG(l_quantity) * 10000 + 0.5) / 10000 AS avg_qty,
             COUNT(l_discount) AS c_disc,
             COUNT(DISTINCT l_discount) AS d_disc,
             MIN(l_discount) AS mn_disc, MAX(l_discount) AS mx_disc,
             floor(AVG(l_discount) * 10000 + 0.5) / 10000 AS avg_disc,
             COUNT(l_returnflag) AS c_rf,
             COUNT(DISTINCT l_returnflag) AS d_rf,
             MIN(l_returnflag) AS mn_rf, MAX(l_returnflag) AS mx_rf,
             COUNT(l_shipdate) AS c_sd, COUNT(DISTINCT l_shipdate) AS d_sd,
             strftime(MIN(l_shipdate), '{DUCK_TS_FMT}') AS mn_sd,
             strftime(MAX(l_shipdate), '{DUCK_TS_FMT}') AS mx_sd
      FROM lineitem
    )
    SELECT col, completeness, n_distinct, min_num, max_num, mean,
           min_str, max_str
    FROM (
      SELECT 'l_quantity' AS col,
             floor(c_qty * 1.0 / n * 10000 + 0.5) / 10000 AS completeness,
             d_qty AS n_distinct, mn_qty AS min_num, mx_qty AS max_num,
             avg_qty AS mean, NULL AS min_str, NULL AS max_str
      FROM a
      UNION ALL
      SELECT 'l_discount', floor(c_disc * 1.0 / n * 10000 + 0.5) / 10000,
             d_disc, mn_disc, mx_disc, avg_disc, NULL, NULL FROM a
      UNION ALL
      SELECT 'l_returnflag', floor(c_rf * 1.0 / n * 10000 + 0.5) / 10000,
             d_rf, NULL, NULL, NULL, mn_rf, mx_rf FROM a
      UNION ALL
      SELECT 'l_shipdate', floor(c_sd * 1.0 / n * 10000 + 0.5) / 10000,
             d_sd, NULL, NULL, NULL, mn_sd, mx_sd FROM a
    )
    ORDER BY col
    """,
)
def dq_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style column profile over lineitem in ONE scan: per column
    the completeness (non-null fraction), exact distinct count, min/max
    (numeric or string/timestamp channel) and mean for numerics. The
    wide single-row aggregate unpivots to one row per column — metrics
    over N columns cost one pass, not N (Deequ's profiler contract).

    Scale: the distinct counts unpivot EARLY and hash-aggregate on
    (col, value) — map-side combining to the value cardinality before
    the shuffle — while the plain stats run one all-combinable pass;
    both scans are column-pruned. This two-pass shape beats Spark's
    single-pass multi-COUNT-DISTINCT plan (Expand x5 feeding a
    SortAggregate) 4x at sf0.1 and arbitrarily at 100 TB, where the
    Expand quintuples scan output while the unpivot's partial
    aggregation collapses it.
    """
    li = load(spark, sf_dir, "lineitem")
    # distinct counts via an early unpivot + two-level hash aggregation:
    # groupBy (col, value) combines map-side down to the value
    # cardinality BEFORE any shuffle — 4x faster than the single-pass
    # multi-COUNT-DISTINCT plan (Expand x5 into a SortAggregate, 5.0s
    # -> 1.2s at sf0.1); the non-distinct stats ride a separate cheap
    # hash-agg pass over the same column-pruned scan
    unpiv = li.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("l_quantity").alias("col"),
                    F.col("l_quantity").cast("string").alias("val"),
                ),
                F.struct(
                    F.lit("l_discount").alias("col"),
                    F.col("l_discount").cast("string").alias("val"),
                ),
                F.struct(
                    F.lit("l_returnflag").alias("col"),
                    F.col("l_returnflag").cast("string").alias("val"),
                ),
                F.struct(
                    F.lit("l_shipdate").alias("col"),
                    F.col("l_shipdate").cast("string").alias("val"),
                ),
            )
        ).alias("p")
    ).select("p.col", "p.val")
    d_counts = (
        unpiv.filter(F.col("val").isNotNull())
        .groupBy("col", "val")
        .agg(F.lit(1).alias("one"))
        .groupBy("col")
        .agg(F.count("*").alias("n_distinct"))
    )
    a = li.agg(
        F.count("*").alias("n"),
        F.count("l_quantity").alias("c_qty"),
        F.min("l_quantity").alias("mn_qty"),
        F.max("l_quantity").alias("mx_qty"),
        quantize(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.count("l_discount").alias("c_disc"),
        F.min("l_discount").alias("mn_disc"),
        F.max("l_discount").alias("mx_disc"),
        quantize(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count("l_returnflag").alias("c_rf"),
        F.min("l_returnflag").alias("mn_rf"),
        F.max("l_returnflag").alias("mx_rf"),
        F.count("l_shipdate").alias("c_sd"),
        F.date_format(F.min("l_shipdate"), SPARK_TS_FMT).alias("mn_sd"),
        F.date_format(F.max("l_shipdate"), SPARK_TS_FMT).alias("mx_sd"),
    )
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")

    def row(col, c, _d=None, mn=None, mx=None, mean=None, mns=None,
            mxs=None):
        return F.struct(
            F.lit(col).alias("col"),
            quantize(F.col(c) * 1.0 / F.col("n"), 4).alias("completeness"),
            (F.col(mn) if mn else null_d).alias("min_num"),
            (F.col(mx) if mx else null_d).alias("max_num"),
            (F.col(mean) if mean else null_d).alias("mean"),
            (F.col(mns) if mns else null_s).alias("min_str"),
            (F.col(mxs) if mxs else null_s).alias("max_str"),
        )

    # unpivot via explode(array(struct...)) so the wide aggregate — and
    # its scan — is planned exactly once (a UNION of selects re-plans it
    # per branch)
    stats = a.select(
        F.explode(
            F.array(
                row("l_quantity", "c_qty",
                    mn="mn_qty", mx="mx_qty", mean="avg_qty"),
                row("l_discount", "c_disc",
                    mn="mn_disc", mx="mx_disc", mean="avg_disc"),
                row("l_returnflag", "c_rf", mns="mn_rf", mxs="mx_rf"),
                row("l_shipdate", "c_sd", mns="mn_sd", mxs="mx_sd"),
            )
        ).alias("p")
    ).select("p.*")
    return (
        stats.join(F.broadcast(d_counts), "col")
        .select(
            "col", "completeness", "n_distinct", "min_num", "max_num",
            "mean", "min_str", "max_str",
        )
        .orderBy("col")
    )


# -------------------------------------------------- validation suite


@query(
    "dq_validation_suite",
    oracle="""
    SELECT * FROM (
      SELECT 'orders_pk_unique' AS check_name,
             CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS DOUBLE)
               AS metric,
             COUNT(*) = COUNT(DISTINCT o_orderkey) AS passed
      FROM orders
      UNION ALL
      SELECT 'orders_fk_customer',
             CAST(COUNT(*) AS DOUBLE), COUNT(*) = 0
      FROM orders o WHERE NOT EXISTS (
        SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
      UNION ALL
      SELECT 'lineitem_fk_orders',
             CAST(COUNT(*) AS DOUBLE), COUNT(*) = 0
      FROM lineitem l WHERE NOT EXISTS (
        SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      UNION ALL
      SELECT 'documents_text_complete',
             floor(SUM(CASE WHEN text IS NOT NULL AND length(text) > 0
                            THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
                   * 10000 + 0.5) / 10000,
             SUM(CASE WHEN text IS NOT NULL AND length(text) > 0
                      THEN 1 ELSE 0 END) * 100 >= COUNT(*) * 99
      FROM documents
      UNION ALL
      SELECT 'lineitem_discount_range',
             CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.5
                           THEN 1 ELSE 0 END) AS DOUBLE),
             SUM(CASE WHEN l_discount < 0 OR l_discount > 0.5
                      THEN 1 ELSE 0 END) = 0
      FROM lineitem
      UNION ALL
      SELECT 'events_value_nonnegative',
             CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS DOUBLE),
             SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) = 0
      FROM events
    )
    ORDER BY check_name
    """,
)
def dq_validation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-validation suite (Deequ `Check` analog): PK
    uniqueness, two FK referential-integrity checks (anti-join counts),
    a completeness threshold (>=99% non-empty text, compared in integer
    arithmetic so the verdict is exact), and range/sign checks — each
    emitting (check_name, metric, passed). A 100 TB ingest runs exactly
    this before publishing a partition; `passed = false` rows become the
    circuit breaker.

    Scale: one scan per CHILD table — checks sharing a table fuse into
    one aggregate (r8; previously one scan per check, two full
    lineitem passes). FK orphans count through a row-preserving LEFT
    JOIN against DISTINCT parent keys — exactly the NOT-EXISTS count
    for any input. The union is of 1-row results.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")
    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "events")

    # r8: one scan per CHILD table instead of one per check. The PK
    # check and the customer-FK check share the orders scan; the
    # orders-FK check and the discount range check share the lineitem
    # scan (previously TWO full lineitem passes). Orphans count via a
    # row-preserving LEFT JOIN against the DISTINCT parent keys — for
    # ANY data that join matches at most one row per child row, so
    # sum(parent IS NULL) is exactly the oracle's NOT-EXISTS count.
    ckeys = c.select(F.col("c_custkey").alias("_ck")).distinct()
    opk = (
        o.select("o_orderkey", "o_custkey")
        .join(F.broadcast(ckeys), o.o_custkey == F.col("_ck"), "left")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("o_orderkey").alias("d"),
            F.sum(
                F.when(F.col("_ck").isNull(), 1).otherwise(0)
            ).alias("viol"),
        )
        # both check rows unfold from the ONE aggregate row (a second
        # reference would replay the scan)
        .select(
            F.inline(
                F.array(
                    F.struct(
                        F.lit("orders_pk_unique").alias("check_name"),
                        (F.col("n") - F.col("d"))
                        .cast("double")
                        .alias("metric"),
                        (F.col("n") == F.col("d")).alias("passed"),
                    ),
                    F.struct(
                        F.lit("orders_fk_customer").alias("check_name"),
                        F.col("viol").cast("double").alias("metric"),
                        (F.col("viol") == 0).alias("passed"),
                    ),
                )
            )
        )
    )
    okeys = o.select(F.col("o_orderkey").alias("_ok")).distinct()
    disc_bad = F.sum(
        F.when(
            (F.col("l_discount") < 0) | (F.col("l_discount") > 0.5), 1
        ).otherwise(0)
    )
    lck = (
        li.select("l_orderkey", "l_discount")
        .join(okeys, li.l_orderkey == F.col("_ok"), "left")
        .agg(
            F.sum(
                F.when(F.col("_ok").isNull(), 1).otherwise(0)
            ).alias("viol"),
            disc_bad.alias("dviol"),
        )
        .select(
            F.inline(
                F.array(
                    F.struct(
                        F.lit("lineitem_fk_orders").alias("check_name"),
                        F.col("viol").cast("double").alias("metric"),
                        (F.col("viol") == 0).alias("passed"),
                    ),
                    F.struct(
                        F.lit("lineitem_discount_range").alias(
                            "check_name"
                        ),
                        F.col("dviol").cast("double").alias("metric"),
                        (F.col("dviol") == 0).alias("passed"),
                    ),
                )
            )
        )
    )
    nonempty = F.sum(
        F.when(
            F.col("text").isNotNull() & (F.length("text") > 0), 1
        ).otherwise(0)
    )
    complete = (
        d.agg(nonempty.alias("ok"), F.count("*").alias("n"))
        .select(
            F.lit("documents_text_complete").alias("check_name"),
            quantize(F.col("ok") * 1.0 / F.col("n"), 4).alias("metric"),
            (F.col("ok") * 100 >= F.col("n") * 99).alias("passed"),
        )
    )
    val_viol = F.sum(F.when(F.col("value") < 0, 1).otherwise(0))
    nonneg = (
        e.agg(val_viol.alias("viol"))
        .select(
            F.lit("events_value_nonnegative").alias("check_name"),
            F.col("viol").cast("double").alias("metric"),
            (F.col("viol") == 0).alias("passed"),
        )
    )
    out = opk
    for r in (lck, complete, nonneg):
        out = out.unionByName(r)
    return out.orderBy("check_name")


# -------------------------------------------------- DDSketch quantiles

_DD_GAMMA = 1.02  # alpha = (g-1)/(g+1) ~ 0.99% relative error
_DD_QS = (0.5, 0.9, 0.99)


def _dd_oracle() -> str:
    qs = ", ".join(f"({q})" for q in _DD_QS)
    return f"""
    WITH ranked AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events WHERE value > 0
    ),
    qs(q) AS (VALUES {qs}),
    picked AS (
      SELECT r.event_type, CAST(q.q AS DOUBLE) AS q, r.value AS exact_val,
             CAST(ceil(ln(r.value) / ln({_DD_GAMMA})) AS BIGINT) AS b
      FROM ranked r JOIN qs q
        ON r.rn = CAST(ceil(q.q * r.n) AS BIGINT)
    )
    SELECT event_type, q,
           floor(2e0 * power({_DD_GAMMA}, b) / ({_DD_GAMMA} + 1e0)
                 * 10000 + 0.5) / 10000 AS est,
           exact_val,
           TRUE AS within_bound
    FROM picked
    ORDER BY event_type, q
    """


@query("events_ddsketch_quantile", oracle=_dd_oracle())
def events_ddsketch_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles from a DDSketch log-bucket histogram (Masson et al.,
    VLDB 2019): bucket index b = ceil(ln(v)/ln(gamma)); the per-(type,
    bucket) counts are the mergeable sketch (map-side combinable,
    re-aggregatable across segments like the bitmap family); the
    q-quantile estimate is the gamma-midpoint 2*gamma^b/(gamma+1) of the
    first bucket whose cumulative count reaches ceil(q*n). Unlike
    t-digest/random sketches the buckets are a pure deterministic
    function of the value, so DuckDB replays them exactly — the oracle
    takes the bucket OF the rank-selected element, which is provably the
    same bucket the cumulative walk finds, and the relative-error bound
    |est-exact|/exact <= (gamma-1)/(gamma+1) is a theorem, hence the
    constant `within_bound` (same verification pattern as the MG/approx
    family). `exact_val` rides along so the driver hash-checks real
    values, not just the bound.

    Scale: the sketch is ~O(log(max/min)/ln(gamma)) buckets per key
    (here < 600) regardless of row count — the raw stream reduces
    map-side; only the tiny bucket table shuffles, then one cumulative
    window over buckets per key.
    """
    e = load(spark, sf_dir, "events").filter(F.col("value") > 0)
    b = F.ceil(F.log(F.col("value")) / F.log(F.lit(_DD_GAMMA))).cast(
        "bigint"
    )
    sketch = e.groupBy("event_type", b.alias("b")).agg(
        F.count("*").alias("cnt")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = sketch.select(
        "event_type",
        "b",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(
            Window.partitionBy("event_type").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    qs = spark.createDataFrame([(q,) for q in _DD_QS], ["q"])
    # first bucket whose cumulative count reaches the target rank
    hit = (
        cum.crossJoin(F.broadcast(qs))
        .filter(F.col("cum") >= F.ceil(F.col("q") * F.col("n")))
        .groupBy("event_type", "q")
        .agg(F.min("b").alias("b"))
    )
    # exact rank-selected element for the bound check
    w_rank = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = e.select(
        "event_type",
        "value",
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(
            Window.partitionBy("event_type").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    exact = (
        ranked.crossJoin(F.broadcast(qs))
        .filter(F.col("rn") == F.ceil(F.col("q") * F.col("n")))
        .select("event_type", "q", F.col("value").alias("exact_val"))
    )
    alpha = (_DD_GAMMA - 1.0) / (_DD_GAMMA + 1.0)
    est_raw = (
        2.0 * F.pow(F.lit(_DD_GAMMA), F.col("b")) / (_DD_GAMMA + 1.0)
    )
    return (
        hit.join(exact, ["event_type", "q"])
        .select(
            "event_type",
            "q",
            quantize(est_raw, 4).alias("est"),
            "exact_val",
            (
                F.abs(est_raw - F.col("exact_val")) / F.col("exact_val")
                <= F.lit(alpha) * 1.0001  # FP slack on the closed bound
            ).alias("within_bound"),
        )
        .orderBy("event_type", "q")
    )


# -------------------------------------------------- BPE pair counts

_BPE_TOPN = 20


@query(
    "text_bpe_pair_merge",
    oracle=rf"""
    WITH words AS (
      SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
      FROM documents
    ),
    chars AS (
      SELECT w, regexp_split_to_array(w, '') AS c FROM words
      WHERE length(w) >= 2
    ),
    pairs AS (
      SELECT unnest(list_transform(range(1, len(c)),
                                   i -> c[i] || c[i + 1])) AS pair
      FROM chars
    )
    SELECT pair, COUNT(*) AS cnt
    FROM pairs
    GROUP BY pair
    ORDER BY cnt DESC, pair
    LIMIT {_BPE_TOPN}
    """,
)
def text_bpe_pair_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge iteration (Sennrich et al. 2016): count adjacent
    character pairs INSIDE words across the corpus and rank the top
    {n} — the pair a byte-pair-encoding tokenizer would merge first.
    Word-internal only (no cross-word pairs), matching the original
    word-boundary-preserving BPE.

    Scale: tokenize -> per-word char-pair explode -> one uniform
    group-by -> TakeOrderedAndProject. The pair vocabulary is bounded
    (alphabet^2), so the final aggregate is tiny no matter the corpus;
    tokenizer training additionally samples the corpus first (the
    `documents_stratified_sample` operator is that sampler).
    """.format(n=_BPE_TOPN)
    d = load(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "w"
        )
    ).filter(F.length("w") >= 2)
    chars = words.select(F.split("w", "").alias("c"))
    pairs = chars.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("c") - 1),
                lambda i: F.concat(
                    F.element_at(F.col("c"), i),
                    F.element_at(F.col("c"), i + 1),
                ),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(_BPE_TOPN)
    )
