"""Round-4 batch 43: label-propagation communities, exponentially
decayed rates, Laspeyres/Paasche price indices, Two-NN intrinsic
dimension.

- `graph_community_label_prop_bucketed` — synchronous min-label
  propagation on the copurchase graph (3 rounds, unrolled identically
  in both engines), read from the shared labels index: the cheap
  community detector that needs no modularity optimization; completes
  the graph family (pagerank / triangles / k-core / link prediction /
  components-via-dedup).
- `events_decayed_rate` — exponentially time-decayed event mass per
  stream (half-life 7 days): the "recent activity" score every ranking
  and alerting pipeline keeps, computed exactly in one pass (decayed
  weights quantized per event, summed as decimals).
- `lineitem_price_index` — Laspeyres and Paasche price indices per year
  against the first year as base, over the parts traded in both: the
  canonical basket-inflation readout on transactional data.
- `embedding_intrinsic_dim_twonn` — the Two-NN intrinsic-dimension
  estimator (Facco et al. 2017): d = n / sum ln(r2/r1) over each
  point's two nearest neighbours — the embedding-collapse diagnostic
  (d far below the ambient 64 means the space is under-used), on a
  bounded 200-vector sample.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------- label propagation (3 rounds)

_LP_ROUNDS = 3


def _lp_round_sql(prev: str, rnd: int) -> str:
    """One synchronous min-label round as SQL text (DuckDB)."""
    return f"""
    lp{rnd} AS (
      SELECT n.u,
             LEAST(n_lbl.lbl,
                   COALESCE(MIN(nb_lbl.lbl), n_lbl.lbl)) AS lbl
      FROM nodes n
      JOIN {prev} n_lbl ON n_lbl.u = n.u
      LEFT JOIN und e ON e.u = n.u
      LEFT JOIN {prev} nb_lbl ON nb_lbl.u = e.v
      GROUP BY n.u, n_lbl.lbl
    )"""


_LP_ORACLE = f"""
    WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    und AS (
      SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ),
    nodes AS (SELECT DISTINCT u FROM und),
    lp0 AS (SELECT u, u AS lbl FROM nodes),
    {",".join(_lp_round_sql(f"lp{r}", r + 1) for r in range(_LP_ROUNDS))}
    SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MIN(u) AS BIGINT) AS min_member,
           CAST(MAX(u) AS BIGINT) AS max_member
    FROM lp{_LP_ROUNDS}
    GROUP BY lbl
    ORDER BY n_members DESC, community
    LIMIT 20
    """


@query("graph_community_label_prop_bucketed", oracle=_LP_ORACLE)
def graph_community_label_prop_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Synchronous min-label propagation (`_LP_ROUNDS` rounds) on the
    copurchase graph: every node adopts the minimum label in its closed
    neighbourhood each round — after k rounds labels have flooded k
    hops, approximating connected components/communities without any
    driver-side iteration state. Top-20 communities by size.

    Both engines unroll the SAME rounds (integer min — no floating
    point anywhere), so results are exactly equal. The propagation
    RESULT is materialized (`functions/graph_labels.component_labels`,
    keyed by (sf_dir, support, rounds)): this query and the
    modularity / histogram / percolation / weak-tie consumers share ONE
    propagation per session, and the per-query cost is a label-keyed
    rollup. The index build runs the Pregel-shaped round dataflow
    (`graph_labels.lp_rounds`) on the shared co-purchase index, bucketed
    on `u` — the `graph_pagerank_bucketed` machinery — so every round's
    edges-x-labels join needs NO exchange, leaving exactly ONE exchange
    per round: the unavoidable neighbour-min transpose. This query is
    the oracle check of that build.

    Plan evidence: tests/test_plans.py::
    test_label_prop_bucketed_round_join_exchange_free.
    """
    from arkflow_spark.functions.graph_labels import component_labels

    lbl = component_labels(spark, sf_dir, 1, _LP_ROUNDS)
    return (
        lbl.groupBy(F.col("lbl").alias("community"))
        .agg(
            F.count("*").alias("n_members"),
            F.min("u").alias("min_member"),
            F.max("u").alias("max_member"),
        )
        .orderBy(F.desc("n_members"), F.asc("community"))
        .limit(20)
    )


# ------------------------------------------------ exponentially decayed rate

_HALF_LIFE_DAYS = 7.0
_LN2 = 0.6931471805599453


@query(
    "events_decayed_rate",
    oracle=f"""
    WITH anchor AS (SELECT MAX(ts) AS t_end FROM events),
    w AS (
      -- exact integer microseconds (epoch() would keep a fractional
      -- second Spark's unix-seconds drops)
      SELECT e.event_type,
             CAST(exp(-{_LN2} / {_HALF_LIFE_DAYS}
                      * (epoch_us(a.t_end) - epoch_us(e.ts))
                      / 86400000000.0)
                  AS DECIMAL(18,12)) AS wt
      FROM events e CROSS JOIN anchor a
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           floor(CAST(SUM(wt) AS DOUBLE) * 10000 + 0.5) / 10000
             AS decayed_mass,
           floor(CAST(SUM(wt) AS DOUBLE) / COUNT(*) * 10000 + 0.5) / 10000
             AS freshness
    FROM w GROUP BY event_type ORDER BY event_type
    """,
)
def events_decayed_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially decayed event mass per stream (half-life
    {h} days, anchored at the corpus's latest timestamp): the "recent
    activity" score ranking/alerting keeps; `freshness` = decayed mass
    over raw count (1 = everything just happened, ~0 = stale stream).

    Each event's weight exp(-ln2/h * age_days) is one mirrored double
    expression quantized to DECIMAL(18,12) and summed exactly
    (map-side combinable); the anchor broadcasts as one row. At 100 TB
    this is the one-pass batch twin of the streaming EWMA state op.
    """.format(h=int(_HALF_LIFE_DAYS))
    e = load(spark, sf_dir, "events")
    anchor = e.agg(F.max("ts").alias("t_end"))
    w = e.crossJoin(F.broadcast(anchor)).select(
        "event_type",
        F.exp(
            -_LN2
            / _HALF_LIFE_DAYS
            * (F.unix_micros("t_end") - F.unix_micros("ts"))
            / 86400000000.0
        )
        .cast("decimal(18,12)")
        .alias("wt"),
    )
    return (
        w.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("wt").cast("double").alias("mass"),
        )
        .select(
            "event_type",
            "n",
            quantize(F.col("mass"), 4).alias("decayed_mass"),
            quantize(F.col("mass") / F.col("n"), 4).alias("freshness"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------- Laspeyres/Paasche indices


@query(
    "lineitem_price_index",
    oracle="""
    WITH px AS (
      SELECT CAST(date_part('year', l_shipdate) AS BIGINT) AS yr,
             l_partkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
               AS p,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    base AS (
      SELECT l_partkey, p AS p0, q AS q0 FROM px
      WHERE yr = (SELECT MIN(yr) FROM px)
    ),
    joined AS (
      SELECT px.yr,
             CAST(SUM(CAST(px.p * b.q0 AS DECIMAL(24,8))) AS DOUBLE)
               AS pt_q0,
             CAST(SUM(CAST(b.p0 * b.q0 AS DECIMAL(24,8))) AS DOUBLE)
               AS p0_q0,
             CAST(SUM(CAST(px.p * px.q AS DECIMAL(24,8))) AS DOUBLE)
               AS pt_qt,
             CAST(SUM(CAST(b.p0 * px.q AS DECIMAL(24,8))) AS DOUBLE)
               AS p0_qt,
             CAST(COUNT(*) AS BIGINT) AS n_parts
      FROM px JOIN base b ON b.l_partkey = px.l_partkey
      GROUP BY px.yr
    )
    SELECT yr, n_parts,
           floor(pt_q0 / p0_q0 * 10000 + 0.5) / 10000 AS laspeyres,
           floor(pt_qt / p0_qt * 10000 + 0.5) / 10000 AS paasche,
           floor(sqrt((pt_q0 / p0_q0) * (pt_qt / p0_qt))
                 * 10000 + 0.5) / 10000 AS fisher
    FROM joined ORDER BY yr
    """,
)
def lineitem_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres (base-year basket), Paasche (current basket) and
    Fisher (geometric mean) price indices per ship year against the
    first year, over parts traded in both years — the canonical
    basket-inflation readout on transaction data.

    Yearly unit prices come from exact decimal revenue/quantity sums;
    every index numerator/denominator term is quantized to
    DECIMAL(24,8) and summed exactly. Plan: one (year, part) agg, the
    base-year slice re-joined part-keyed, one year-keyed rollup.
    """
    li = load(spark, sf_dir, "lineitem")
    px = li.groupBy(
        F.year("l_shipdate").cast("bigint").alias("yr"), "l_partkey"
    ).agg(
        (
            F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
            .cast("double")
            / F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast(
                "double"
            )
        ).alias("p"),
        F.sum(F.col("l_quantity").cast("decimal(18,6)"))
        .cast("double")
        .alias("q"),
    ).persist()
    # r8: (years x parts)-bounded, but base_yr/base/joined each
    # replayed the lineitem rollup (3 corpus scans per action)
    base_yr = px.agg(F.min("yr").alias("y0"))
    base = (
        px.crossJoin(F.broadcast(base_yr))
        .filter(F.col("yr") == F.col("y0"))
        .select(
            "l_partkey",
            F.col("p").alias("p0"),
            F.col("q").alias("q0"),
        )
    )
    joined = (
        px.join(base, "l_partkey")
        .groupBy("yr")
        .agg(
            F.sum((F.col("p") * F.col("q0")).cast("decimal(24,8)"))
            .cast("double")
            .alias("pt_q0"),
            F.sum((F.col("p0") * F.col("q0")).cast("decimal(24,8)"))
            .cast("double")
            .alias("p0_q0"),
            F.sum((F.col("p") * F.col("q")).cast("decimal(24,8)"))
            .cast("double")
            .alias("pt_qt"),
            F.sum((F.col("p0") * F.col("q")).cast("decimal(24,8)"))
            .cast("double")
            .alias("p0_qt"),
            F.count("*").alias("n_parts"),
        )
    )
    lasp = F.col("pt_q0") / F.col("p0_q0")
    paas = F.col("pt_qt") / F.col("p0_qt")
    return joined.select(
        "yr",
        "n_parts",
        quantize(lasp, 4).alias("laspeyres"),
        quantize(paas, 4).alias("paasche"),
        quantize(F.sqrt(lasp * paas), 4).alias("fisher"),
    ).orderBy("yr")


# --------------------------------------------- Two-NN intrinsic dimension

_TWONN_N = 200


@query(
    "embedding_intrinsic_dim_twonn",
    oracle=f"""
    WITH ok AS (
      -- full-length, NULL-free vectors only: a ragged or NULL-element
      -- embedding would otherwise take engine-specific NULL semantics
      -- through the pair distance (Spark zip_with pads with NULL,
      -- DuckDB joins shared indices)
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id < {_TWONN_N} AND len(embedding) = 64
        AND len(list_filter(embedding, x -> x IS NULL)) = 0
    ),
    x AS (
      -- micro-quantized integer coordinates: distances become EXACT
      -- integers, so nearest-neighbour ranking cannot flip on
      -- reduction-order noise (the dedup_embedding_lsh discipline)
      SELECT vec_id, g.i AS i,
             CAST(round(CAST(embedding[g.i] AS DOUBLE) * 1000000)
                  AS BIGINT) AS v
      FROM ok CROSS JOIN generate_series(1, 64) g(i)
    ),
    d2 AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             CAST(SUM((a.v - b.v) * (a.v - b.v)) AS BIGINT) AS dd
      FROM x a JOIN x b ON a.i = b.i AND a.vec_id <> b.vec_id
      GROUP BY 1, 2
    ),
    nn AS (
      SELECT va, dd,
             row_number() OVER (PARTITION BY va ORDER BY dd, vb) AS rnk
      FROM d2
    ),
    mu AS (
      SELECT a.va,
             CAST(ln(sqrt(CAST(b.dd AS DOUBLE))
                     / sqrt(CAST(a.dd AS DOUBLE)))
                  AS DECIMAL(18,10)) AS lnmu
      FROM nn a JOIN nn b ON b.va = a.va AND b.rnk = 2
      WHERE a.rnk = 1 AND a.dd > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_used,
           floor(COUNT(*) / CAST(SUM(lnmu) AS DOUBLE) * 10000 + 0.5)
             / 10000 AS intrinsic_dim
    FROM mu
    """,
)
def embedding_intrinsic_dim_twonn(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-NN intrinsic dimension (Facco et al. 2017) on a {n}-vector
    sample: for each point take the ratio mu = r2/r1 of its two nearest
    neighbour distances; the MLE is d = n / sum(ln mu). An intrinsic
    dimension far below the ambient 64 flags embedding collapse /
    anisotropy — the geometry diagnostic run before trusting ANN recall
    numbers.

    Points with a zero first-neighbour distance (exact duplicates) are
    excluded in both engines (ln ratio undefined), as are ragged or
    NULL-element embeddings (Spark's zip_with NULL-pads a short vector,
    DuckDB's index join would keep the partial overlap — the filter
    makes both engines see only full 64-dim vectors). ln terms quantize
    to DECIMAL(18,10) and sum exactly. The all-pairs stage is bounded to
    the {n}-vector sample ({n}^2 pairs) — the estimator needs a sample,
    not the corpus; at 100 TB feed it a per-partition uniform sample.
    """.format(n=_TWONN_N)
    e = load(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") < _TWONN_N)
        & (F.size("embedding") == 64)
        & ~F.exists("embedding", lambda x: x.isNull())
    )
    # micro-quantized integer coordinates: exact integer distances, so
    # NN ranking cannot flip on reduction-order noise
    vs = F.transform(
        "embedding",
        lambda v: F.round(v.cast("double") * 1000000).cast("bigint"),
    )
    terms = F.zip_with(
        F.col("a_emb"),
        F.col("b_emb"),
        lambda x, y: (x - y) * (x - y),
    )
    a = e.select(
        F.col("vec_id").alias("va"), vs.alias("a_emb")
    )
    b = e.select(
        F.col("vec_id").alias("vb"), vs.alias("b_emb")
    )
    d2 = (
        a.join(F.broadcast(b), F.col("va") != F.col("vb"))
        .select(
            "va",
            "vb",
            F.aggregate(
                terms,
                F.lit(0).cast("bigint"),
                lambda acc, t: acc + t,
            ).alias("dd"),
        )
    )
    wnn = Window.partitionBy("va").orderBy(F.asc("dd"), F.asc("vb"))
    nn = d2.withColumn("rnk", F.row_number().over(wnn)).filter(
        F.col("rnk") <= 2
    )
    r1 = nn.filter((F.col("rnk") == 1) & (F.col("dd") > 0)).select(
        "va", F.col("dd").alias("d1")
    )
    r2 = nn.filter(F.col("rnk") == 2).select(
        "va", F.col("dd").alias("d2")
    )
    mu = r1.join(r2, "va").select(
        F.log(
            F.sqrt(F.col("d2").cast("double"))
            / F.sqrt(F.col("d1").cast("double"))
        )
        .cast("decimal(18,10)")
        .alias("lnmu")
    )
    return mu.agg(
        F.count("*").alias("n_used"),
        quantize(
            F.count("*") / F.sum("lnmu").cast("double"), 4
        ).alias("intrinsic_dim"),
    )
