"""Round-8 batch 136: cross-snapshot corpus pipeline (two-directory
dataflow — the first operators that read TWO dataset directories in
one query).

A continuously crawled training corpus is a sequence of snapshots; the
per-refresh questions are "what changed?" (merge classification) and
"did the distribution move?" (drift). Both operators read the CURRENT
snapshot (the query's ``sf_dir``) against the PREVIOUS snapshot — the
immutable ``/root/testdata/sf0.001`` fixture stands in for the prior
ingest directory (its documents share the id space but carry re-crawled
text, exactly the re-crawl shape). `dedup_incremental_snapshot` gates a
batch against an accepted corpus WITHIN one directory; this batch is
the directory-level twin a warehouse MERGE job runs.

- `dedup_snapshot_merge` — full-outer id-level merge classified by
  normalized-content fingerprint: ``new`` (id only in current),
  ``retired`` (id only in previous), ``updated`` (id in both,
  fingerprint differs), ``unchanged`` (fingerprint equal); counts per
  source and status.
- `documents_snapshot_quality_drift` — per-source distribution drift
  between snapshots: document counts, mean-length delta, and PSI over
  five fixed length bands (Laplace-smoothed so empty bands stay
  finite).

Scale shape: both are fingerprint/metadata dataflows — the merge joins
32-byte fingerprints keyed by doc_id (never documents), the drift
rollup reduces each snapshot to a (source, band) count grid before the
comparison; at 100 TB each side is one column-pruned scan + one
map-side-combinable aggregation, and the join key (doc_id) is the
natural bucketing of both snapshot tables.

Reference scope: arkflow's SQL processor + its file input's
multi-path scan (crates/arkflow-plugin/src/input/file.rs). Oracled vs
DuckDB (previous snapshot read via read_parquet on the fixture path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.queries.dedup_q import _norm_text
from arkflow_spark.tables import load

# the immutable prior-snapshot fixture (see module docstring)
PREV_SNAPSHOT = "/root/testdata/sf0.001"
_PREV_PQ = f"read_parquet('{PREV_SNAPSHOT}/documents.parquet')"

_N_BANDS = 5
_BAND_W = 150


@query(
    "dedup_snapshot_merge",
    oracle=rf"""
    WITH cur AS (
      SELECT doc_id, source,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
      FROM documents
    ),
    prev AS (
      SELECT doc_id, source,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
      FROM {_PREV_PQ}
    ),
    merged AS (
      SELECT COALESCE(c.source, p.source) AS source,
             CASE
               WHEN p.doc_id IS NULL THEN 'new'
               WHEN c.doc_id IS NULL THEN 'retired'
               WHEN c.f = p.f THEN 'unchanged'
               ELSE 'updated'
             END AS status
      FROM cur c FULL OUTER JOIN prev p ON p.doc_id = c.doc_id
    )
    SELECT source, status, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM merged GROUP BY source, status
    ORDER BY source, status
    """,
)
def dedup_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot MERGE classification: the current snapshot full-outer
    joins the previous one on doc_id; rows split into new / retired /
    updated / unchanged by normalized-content fingerprint, counted per
    source (retired rows keep the previous snapshot's source).

    Scale shape: each snapshot reduces to (doc_id, source, 32-byte
    fingerprint) before the join — one doc_id-keyed shuffle of hashes
    at any corpus size (co-partitioned for free when both snapshots
    store bucketed by doc_id); the status rollup is map-side
    combinable and bounded by sources x 4 statuses.
    """

    def fp(dir_):
        # join on the STRING form of the id: snapshots may disagree on
        # id type (the 10x scale probe's string ids vs the fixture's
        # BIGINT), and ANSI mode rejects an implicit string->bigint
        # coercion; string equality == numeric equality for same-typed
        # snapshots, so the oracle is unaffected
        return load(spark, dir_, "documents").select(
            F.col("doc_id").cast("string").alias("doc_id"),
            "source",
            F.md5(_norm_text(F.col("text"))).alias("f"),
        )

    cur, prev = fp(sf_dir), fp(PREV_SNAPSHOT)
    p = prev.select(
        F.col("doc_id").alias("p_id"),
        F.col("source").alias("p_source"),
        F.col("f").alias("p_f"),
    )
    merged = cur.join(p, cur.doc_id == p.p_id, "full_outer").select(
        F.coalesce("source", "p_source").alias("source"),
        F.when(F.col("p_id").isNull(), "new")
        .when(F.col("doc_id").isNull(), "retired")
        .when(F.col("f") == F.col("p_f"), "unchanged")
        .otherwise("updated")
        .alias("status"),
    )
    return (
        merged.groupBy("source", "status")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .orderBy("source", "status")
    )


@query(
    "documents_snapshot_quality_drift",
    oracle=f"""
    WITH spine AS (
      SELECT s.source, g.b
      FROM (SELECT DISTINCT source FROM documents) s
      CROSS JOIN generate_series(0, {_N_BANDS - 1}) g(b)
    ),
    cur AS (
      SELECT source, LEAST({_N_BANDS - 1}, n_chars // {_BAND_W}) AS b,
             COUNT(*) AS n
      FROM documents GROUP BY 1, 2
    ),
    prev AS (
      SELECT source, LEAST({_N_BANDS - 1}, n_chars // {_BAND_W}) AS b,
             COUNT(*) AS n
      FROM {_PREV_PQ} GROUP BY 1, 2
    ),
    tot AS (
      SELECT c.source, c.nc, p.np FROM
        (SELECT source, SUM(n) AS nc FROM cur GROUP BY source) c
        JOIN (SELECT source, SUM(n) AS np FROM prev GROUP BY source) p
          USING (source)
    ),
    terms AS (
      SELECT sp.source,
             (CAST(COALESCE(c.n, 0) + 1 AS DOUBLE)
                / (t.nc + {_N_BANDS})) AS pc,
             (CAST(COALESCE(p.n, 0) + 1 AS DOUBLE)
                / (t.np + {_N_BANDS})) AS pp
      FROM spine sp
      JOIN tot t ON t.source = sp.source
      LEFT JOIN cur c ON c.source = sp.source AND c.b = sp.b
      LEFT JOIN prev p ON p.source = sp.source AND p.b = sp.b
    ),
    psi AS (
      SELECT source,
             SUM(CAST((pc - pp) * ln(pc / pp) AS DECIMAL(28,12)))
               AS psi_sum
      FROM terms GROUP BY source
    ),
    means AS (
      SELECT t.source, t.nc AS n_cur, t.np AS n_prev,
             (SELECT CAST(SUM(n_chars) AS DOUBLE) / COUNT(*)
              FROM documents d WHERE d.source = t.source)
             - (SELECT CAST(SUM(n_chars) AS DOUBLE) / COUNT(*)
                FROM {_PREV_PQ} q WHERE q.source = t.source)
               AS len_delta
      FROM tot t
    )
    SELECT m.source,
           CAST(m.n_cur AS BIGINT) AS n_cur,
           CAST(m.n_prev AS BIGINT) AS n_prev,
           floor(m.len_delta * 10000 + 0.5) / 10000
             AS mean_len_delta,
           floor(CAST(p.psi_sum AS DOUBLE) * 10000 + 0.5) / 10000
             AS psi_length
    FROM means m JOIN psi p USING (source)
    ORDER BY m.source
    """,
)
def documents_snapshot_quality_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source snapshot-over-snapshot drift: document counts, mean
    document-length delta, and the population-stability index over
    {b} fixed {w}-char length bands (Laplace +1 smoothing keeps empty
    bands finite; PSI > 0.2 is the standard re-screen trigger).

    Scale shape: each snapshot reduces to a (source, band) count grid
    (sources x {b} rows) before any cross-snapshot math — the drift
    comparison costs two column-pruned scans plus grid-sized joins on
    a band spine, independent of document sizes; exact integer counts,
    decimal-summed PSI terms.
    """.format(b=_N_BANDS, w=_BAND_W)
    band = F.least(
        F.lit(_N_BANDS - 1),
        F.floor(F.col("n_chars") / _BAND_W).cast("int"),
    )

    def grid(dir_):
        return (
            load(spark, dir_, "documents")
            .select("source", band.alias("b"), "n_chars")
            .groupBy("source", "b")
            .agg(
                F.count("*").alias("n"),
                F.sum("n_chars").alias("chars"),
            )
            .persist()  # r8: sources x bands grid; totals/spine/terms
            # each replayed the snapshot scan (7 documents scans per
            # action) — the grid is the scale boundary, cache it
        )

    cur, prev = grid(sf_dir), grid(PREV_SNAPSHOT)
    tot_c = cur.groupBy("source").agg(
        F.sum("n").alias("nc"), F.sum("chars").alias("cc")
    )
    tot_p = prev.groupBy("source").agg(
        F.sum("n").alias("np"), F.sum("chars").alias("cp")
    )
    tot = tot_c.join(tot_p, "source")
    spine = tot_c.select("source").crossJoin(
        F.broadcast(
            spark.range(_N_BANDS).select(F.col("id").cast("int").alias("b"))
        )
    )
    pc = (F.coalesce(F.col("cn"), F.lit(0)) + 1).cast("double") / (
        F.col("nc") + _N_BANDS
    )
    pp = (F.coalesce(F.col("pn"), F.lit(0)) + 1).cast("double") / (
        F.col("np") + _N_BANDS
    )
    terms = (
        spine.join(tot.select("source", "nc", "np"), "source")
        .join(
            cur.select("source", "b", F.col("n").alias("cn")),
            ["source", "b"],
            "left",
        )
        .join(
            prev.select("source", "b", F.col("n").alias("pn")),
            ["source", "b"],
            "left",
        )
        .select(
            "source",
            ((pc - pp) * F.log(pc / pp)).alias("term"),
        )
    )
    psi = terms.groupBy("source").agg(
        F.sum(F.col("term").cast("decimal(28,12)")).alias("psi_sum")
    )
    len_delta = F.col("cc").cast("double") / F.col("nc") - F.col(
        "cp"
    ).cast("double") / F.col("np")
    return (
        tot.join(psi, "source")
        .select(
            "source",
            F.col("nc").cast("bigint").alias("n_cur"),
            F.col("np").cast("bigint").alias("n_prev"),
            quantize(len_delta, 4).alias("mean_len_delta"),
            quantize(F.col("psi_sum").cast("double"), 4).alias(
                "psi_length"
            ),
        )
        .orderBy("source")
    )
