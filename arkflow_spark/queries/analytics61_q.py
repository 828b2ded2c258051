"""Round-5 batch 61: diversified retrieval, optimal thresholding,
model-lift evaluation.

- `ann_mmr_rerank` — Maximal Marginal Relevance diversification of the
  cosine top-20 shortlist: five greedy unrolled selection rounds of
  argmax [lambda sim(q,d) - (1-lambda) max sim(d, picked)]. The RAG
  retrieval step that stops five near-identical chunks from filling
  the context window (Carbonell-Goldstein 1998).
- `events_otsu_threshold` — Otsu's optimal alert threshold per stream:
  the value-histogram split maximizing between-class variance. Turns
  "where do I set the alarm" from a guess into the bimodality-aware
  optimum, on a bounded 64-bin histogram (Otsu 1979).
- `customer_decile_gains` — decile lift & cumulative-gains table for
  scoring customers by account balance against the "placed an order"
  outcome: per decile the response rate, lift vs base rate and
  cumulative capture share — the standard campaign-targeting readout,
  with deciles from the scale-safe distributed rank.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ MMR rerank

_MMR_QUERY = 0  # query vector id
_MMR_SHORTLIST = 20
_MMR_PICKS = 5
_MMR_LAMBDA = 0.7


def _duck_cos(a: str, b: str) -> str:
    return (
        f"list_aggregate(list_transform(list_zip({a}, {b}),"
        " x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')"
        f" / (sqrt(list_aggregate(list_transform({a},"
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"
        f" * sqrt(list_aggregate(list_transform({b},"
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))"
    )


def _mmr_oracle() -> str:
    lam = _MMR_LAMBDA
    picks = []
    prev = "sel0"
    steps = [
        f"""shortlist AS (
      SELECT c.vec_id, {_duck_cos('q.embedding', 'c.embedding')} AS rel
      FROM embeddings c CROSS JOIN
           (SELECT embedding FROM embeddings
            WHERE vec_id = {_MMR_QUERY}) q
      WHERE c.vec_id <> {_MMR_QUERY}
      ORDER BY rel DESC, c.vec_id LIMIT {_MMR_SHORTLIST}
    ),
    pairsim AS (
      SELECT a.vec_id AS ida, b.vec_id AS idb,
             {_duck_cos('ea.embedding', 'eb.embedding')} AS sim
      FROM shortlist a JOIN shortlist b ON a.vec_id <> b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
    ),
    sel0(vec_id, rel, pick_order) AS (
      SELECT NULL::BIGINT, NULL::DOUBLE, NULL::BIGINT WHERE FALSE
    )"""
    ]
    for i in range(1, _MMR_PICKS + 1):
        steps.append(f"""cand{i} AS (
      SELECT s.vec_id, s.rel,
             {lam} * s.rel - {1 - lam} * COALESCE((
               SELECT MAX(p.sim) FROM pairsim p
               WHERE p.ida = s.vec_id
                 AND p.idb IN (SELECT vec_id FROM {prev})), 0.0)
               AS mmr
      FROM shortlist s
      WHERE s.vec_id NOT IN (SELECT vec_id FROM {prev})
    ),
    sel{i} AS (
      SELECT vec_id, rel, CAST({i} AS BIGINT) AS pick_order
      FROM cand{i} ORDER BY mmr DESC, vec_id LIMIT 1
    ),
    acc{i} AS (
      SELECT * FROM {prev} UNION ALL SELECT * FROM sel{i}
    )""")
        prev = f"acc{i}"
    return (
        "WITH "
        + ",\n    ".join(steps)
        + f"""
    SELECT pick_order, vec_id,
           floor(rel * 10000 + 0.5) / 10000 AS relevance
    FROM {prev}
    ORDER BY pick_order
    """
    )


@query("ann_mmr_rerank", oracle=_mmr_oracle())
def ann_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified rerank: cosine top-{sl} shortlist for query
    vector {q}, then {k} greedy picks maximizing
    lambda*rel - (1-lambda)*max-sim-to-picked (lambda = {lam}).
    Each greedy round is a bounded argmax over the remaining
    shortlist against the picked set — the loop is over {k} PICKS,
    never over the corpus, so the unrolled dataflow is exact (not a
    heuristic parallelization of the sequential algorithm).

    Determinism: all similarities use the sequential left-fold dot
    product (engine expression for the shortlist, the identical
    Python fold for the pair grid); argmax ties break on vec_id.

    Scale shape: Spark owns the corpus side — one broadcast-query
    scan + top-{sl} (TakeOrderedAndProject); the {k}-pick greedy loop
    then runs driver-side over the BOUNDED {sl}-row shortlist (the
    sanctioned bounded-collect pattern — a k x shortlist^2 loop, no
    corpus access, no per-round lineage re-execution).
    """.format(sl=_MMR_SHORTLIST, q=_MMR_QUERY, k=_MMR_PICKS, lam=_MMR_LAMBDA)
    from arkflow_spark.queries.vector_q import _dot, _norm

    emb = load(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == _MMR_QUERY).select(
        F.col("embedding").alias("qe")
    )
    shortlist = (
        emb.filter(F.col("vec_id") != _MMR_QUERY)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            "embedding",
            (
                _dot(F.col("qe"), F.col("embedding"))
                / (_norm(F.col("qe")) * _norm(F.col("embedding")))
            ).alias("rel"),
        )
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(_MMR_SHORTLIST)
    )
    # Greedy selection runs DRIVER-SIDE over the bounded shortlist
    # (the sanctioned bounded-collect pattern): Spark owns the corpus
    # scan + top-k; the k x shortlist greedy loop is constant-size.
    # Pair similarities use the SAME sequential left-fold double
    # arithmetic as the engine `_dot` and DuckDB's list_aggregate, so
    # parity is bit-exact.
    rows = shortlist.collect()  # bounded: _MMR_SHORTLIST rows

    def cos(ea, eb) -> float:
        acc = 0.0
        for x, y in zip(ea, eb):
            acc += float(x) * float(y)
        na = 0.0
        for x in ea:
            na += float(x) * float(x)
        nb = 0.0
        for y in eb:
            nb += float(y) * float(y)
        return acc / (na**0.5 * nb**0.5)

    sim = {
        (r1["vec_id"], r2["vec_id"]): cos(r1["embedding"], r2["embedding"])
        for r1 in rows
        for r2 in rows
        if r1["vec_id"] != r2["vec_id"]
    }
    remaining = {r["vec_id"]: r["rel"] for r in rows}
    picked: list[tuple[int, int, float]] = []
    for i in range(1, _MMR_PICKS + 1):
        best = None
        for vid in sorted(remaining):
            pen = max(
                (sim[(vid, p)] for _, p, _ in picked), default=0.0
            )
            mmr = _MMR_LAMBDA * remaining[vid] - (1 - _MMR_LAMBDA) * pen
            if best is None or mmr > best[0]:
                best = (mmr, vid)
        picked.append((i, best[1], remaining.pop(best[1])))
    out = spark.createDataFrame(
        picked, "pick_order BIGINT, vec_id BIGINT, rel DOUBLE"
    )
    return out.select(
        "pick_order", "vec_id", quantize(F.col("rel"), 4).alias("relevance")
    ).orderBy("pick_order")


# ------------------------------------------------ Otsu threshold

_OTSU_BINS = 64


@query(
    "events_otsu_threshold",
    oracle=f"""
    WITH b AS (
      SELECT event_type, MIN(value) AS lo, MAX(value) AS hi,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type
    ),
    hist AS (
      SELECT e.event_type,
             LEAST(CAST(floor((e.value - b.lo)
                   / ((b.hi - b.lo) / {_OTSU_BINS})) AS BIGINT),
                   {_OTSU_BINS} - 1) AS bin,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             SUM(CAST(e.value AS DECIMAL(18,6))) AS sv
      FROM events e JOIN b USING (event_type)
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, bin,
             CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS w0,
             CAST(SUM(sv) OVER (PARTITION BY event_type ORDER BY bin
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS s0
      FROM hist
    ),
    tot AS (
      SELECT event_type, MAX(w0) AS n, MAX(s0) AS s FROM cum
      GROUP BY event_type
    ),
    scored AS (
      SELECT c.event_type, c.bin,
             c.w0 * (t.n - c.w0)
             * POW(c.s0 / c.w0 - (t.s - c.s0) / (t.n - c.w0), 2)
               AS between_var
      FROM cum c JOIN tot t USING (event_type)
      WHERE c.w0 > 0 AND c.w0 < t.n
    ),
    best AS (
      SELECT event_type, bin, between_var,
             row_number() OVER (PARTITION BY event_type
                 ORDER BY between_var DESC, bin) AS rn
      FROM scored
    )
    SELECT s.event_type,
           floor((b.lo + (s.bin + 1) * (b.hi - b.lo) / {_OTSU_BINS})
                 * 10000 + 0.5) / 10000 AS threshold,
           floor(s.between_var / b.n / b.n * 10000 + 0.5) / 10000
             AS between_var_norm
    FROM best s JOIN b USING (event_type)
    WHERE s.rn = 1
    ORDER BY s.event_type
    """,
)
def events_otsu_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Otsu's threshold per stream: over a {nb}-bin value histogram,
    pick the split maximizing the between-class variance
    w0 w1 (mu0 - mu1)^2 — the principled "where does the alert line
    go" answer for bimodal value streams (normal traffic vs incident
    spikes), reported with the normalized criterion value.

    Determinism: bin populations are integers, bin value-sums exact
    decimals; cumulative windows run bin-ordered (sequential both
    engines); argmax ties break on bin index.

    Scale shape: one min/max rollup, one map-side-combinable
    histogram rollup, then windows and argmax on the BIN-bounded
    table. The corpus is touched exactly twice, both scan-bound.
    """.format(nb=_OTSU_BINS)
    e = load(spark, sf_dir, "events")
    b = e.groupBy("event_type").agg(
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.count("*").cast("bigint").alias("n"),
    ).persist()  # bounds feed the histogram AND the final projection
    hist = (
        e.join(F.broadcast(b), "event_type")
        .groupBy(
            "event_type",
            F.least(
                F.floor(
                    (F.col("value") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) / _OTSU_BINS)
                ).cast("bigint"),
                F.lit(_OTSU_BINS - 1),
            ).alias("bin"),
        )
        .agg(
            F.count("*").cast("bigint").alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sv"),
        )
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "event_type",
        "bin",
        F.sum("cnt").over(wcum).cast("double").alias("w0"),
        F.sum("sv").over(wcum).cast("double").alias("s0"),
    ).persist()  # bin-bounded; feeds the totals and the scored pass
    tot = cum.groupBy("event_type").agg(
        F.max("w0").alias("n"), F.max("s0").alias("s")
    )
    scored = (
        cum.join(F.broadcast(tot), "event_type")
        .filter((F.col("w0") > 0) & (F.col("w0") < F.col("n")))
        .select(
            "event_type",
            "bin",
            (
                F.col("w0")
                * (F.col("n") - F.col("w0"))
                * F.pow(
                    F.col("s0") / F.col("w0")
                    - (F.col("s") - F.col("s0"))
                    / (F.col("n") - F.col("w0")),
                    F.lit(2),
                )
            ).alias("between_var"),
        )
    )
    wbest = Window.partitionBy("event_type").orderBy(
        F.desc("between_var"), F.asc("bin")
    )
    return (
        scored.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .join(F.broadcast(b), "event_type")
        .select(
            "event_type",
            quantize(
                F.col("lo")
                + (F.col("bin") + 1)
                * (F.col("hi") - F.col("lo"))
                / _OTSU_BINS, 4
            ).alias("threshold"),
            quantize(
                F.col("between_var") / F.col("n") / F.col("n"), 4
            ).alias("between_var_norm"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------------ decile gains


@query(
    "customer_decile_gains",
    oracle="""
    WITH resp AS (
      SELECT c.c_custkey, c.c_acctbal,
             CASE WHEN EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_custkey = c.c_custkey)
                  THEN 1 ELSE 0 END AS responded
      FROM customer c
    ),
    ranked AS (
      SELECT responded,
             ntile(10) OVER (ORDER BY c_acctbal DESC, c_custkey)
               AS decile
      FROM resp
    ),
    g AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(responded) AS BIGINT) AS resp
      FROM ranked GROUP BY decile
    ),
    t AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn,
             CAST(SUM(resp) AS BIGINT) AS rr
      FROM g
    )
    SELECT g.decile, g.n AS n_customers, g.resp AS n_responders,
           floor(g.resp * 1.0 / g.n * 10000 + 0.5) / 10000
             AS response_rate,
           floor((g.resp * 1.0 / g.n) / (t.rr * 1.0 / t.nn)
                 * 10000 + 0.5) / 10000 AS lift,
           floor(CAST(SUM(g.resp) OVER (ORDER BY g.decile
                 ROWS UNBOUNDED PRECEDING) AS DOUBLE) / t.rr
                 * 10000 + 0.5) / 10000 AS cumulative_capture
    FROM g CROSS JOIN t
    ORDER BY g.decile
    """,
)
def customer_decile_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift & cumulative-gains table: customers scored by
    account balance (descending), outcome = placed at least one order;
    per decile the response rate, lift over the base rate and the
    cumulative share of all responders captured. The campaign-
    targeting readout ("mailing the top 3 deciles reaches X% of
    buyers").

    Scale shape: the responder flag is a left-semi join on the order
    key; deciles come from functions/distributed_rank's exact_ntile
    (range partition + offsets — NO single-partition ntile window);
    all gains arithmetic runs on the 10-row decile table.
    """
    from arkflow_spark.functions.distributed_rank import (
        N,
        RN,
        exact_ntile,
        with_global_order,
    )

    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    responders = o.select("o_custkey").distinct()
    resp = c.join(
        responders, c.c_custkey == responders.o_custkey, "left"
    ).select(
        "c_custkey",
        "c_acctbal",
        F.when(F.col("o_custkey").isNotNull(), 1).otherwise(0).alias(
            "responded"
        ),
    )
    ranked = with_global_order(
        resp, [F.desc("c_acctbal"), F.asc("c_custkey")]
    ).withColumn("decile", exact_ntile(F.col(RN), F.col(N), 10))
    g = ranked.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("responded").cast("bigint").alias("resp"),
    )
    t = g.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("resp").cast("bigint").alias("rr"),
    )
    # scale: bucket-summary-bounded (the cumulative capture runs over
    # the 10-row decile table, never over customers)
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "decile",
            F.col("n").alias("n_customers"),
            F.col("resp").alias("n_responders"),
            quantize(F.col("resp") * 1.0 / F.col("n"), 4).alias(
                "response_rate"
            ),
            quantize(
                (F.col("resp") * 1.0 / F.col("n"))
                / (F.col("rr") * 1.0 / F.col("nn")), 4
            ).alias("lift"),
            quantize(
                F.sum("resp").over(wcum).cast("double") / F.col("rr"), 4
            ).alias("cumulative_capture"),
        )
        .orderBy("decile")
    )
