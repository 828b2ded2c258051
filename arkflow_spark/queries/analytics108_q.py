"""Round-5 batch 108: corpus composition residuals, JSON field
profile, line structure.

- `documents_lang_source_residuals` — standardized residuals of the
  language x source contingency table: which sources are
  over/under-weighted in which languages relative to independence.
  The corpus-composition audit that decides whether "more French"
  means "more of one French-heavy crawl".
- `events_json_prop_profile` — the JSON `props` payload profiled at
  corpus scale per stream: parse rate, field presence, and the
  numeric field's min/mean/max — `get_json_object` running inside
  whole-stage codegen over every row, the schema-on-read reality
  check for semi-structured columns.
- `text_line_structure_profile` — per source, the LINE-grain
  structure: lines per doc, mean line length, and the short-line
  share. List-heavy and boilerplate-heavy sources show as short-line
  spikes — the structural complement to the sentence-grain profile
  (`text_sentence_length_profile`).

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------- lang x source residuals


@query(
    "documents_lang_source_residuals",
    oracle="""
    WITH obs AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
      FROM documents GROUP BY 1, 2
    ),
    rt AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS rl FROM obs
           GROUP BY lang),
    ct AS (SELECT source, CAST(SUM(o) AS BIGINT) AS cs FROM obs
           GROUP BY source),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
    grid AS (
      SELECT r.lang, c.source, r.rl, c.cs, COALESCE(ob.o, 0) AS o
      FROM rt r CROSS JOIN ct c
      LEFT JOIN obs ob ON ob.lang = r.lang AND ob.source = c.source
    )
    SELECT g.lang, g.source, g.o AS n_docs,
           floor(CAST(g.rl AS DOUBLE) * g.cs / t.n * 10000 + 0.5)
             / 10000 AS expected,
           floor((g.o - CAST(g.rl AS DOUBLE) * g.cs / t.n)
                 / sqrt(CAST(g.rl AS DOUBLE) * g.cs / t.n
                        * (1 - CAST(g.rl AS DOUBLE) / t.n)
                        * (1 - CAST(g.cs AS DOUBLE) / t.n))
                 * 10000 + 0.5) / 10000 AS std_residual
    FROM grid g CROSS JOIN tot t
    ORDER BY g.lang, g.source
    """,
)
def documents_lang_source_residuals(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Language x source composition audit via adjusted standardized
    residuals (Haberman): cells beyond ~|2| mark sources carrying a
    language far from the independence expectation. When a language's
    share moves, this table says WHICH crawl moved it — the
    corpus-composition attribution step before any rebalancing.

    Scale shape: one (lang x source) rollup (vocabulary-bounded),
    marginals and residuals on the bounded grid with broadcast
    totals.
    """
    d = load(spark, sf_dir, "documents")
    obs = d.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("o")
    ).persist()  # bounded grid; feeds both marginals and the residuals
    rt = obs.groupBy("lang").agg(F.sum("o").cast("bigint").alias("rl"))
    ct = obs.groupBy("source").agg(
        F.sum("o").cast("bigint").alias("cs")
    )
    tot = obs.agg(F.sum("o").cast("bigint").alias("n"))
    grid = (
        rt.crossJoin(F.broadcast(ct))
        .join(F.broadcast(obs), ["lang", "source"], "left")
        .select(
            "lang",
            "source",
            "rl",
            "cs",
            F.coalesce("o", F.lit(0)).alias("o"),
        )
        .crossJoin(F.broadcast(tot))
    )
    exp = F.col("rl").cast("double") * F.col("cs") / F.col("n")
    return grid.select(
        "lang",
        "source",
        F.col("o").alias("n_docs"),
        quantize(exp, 4).alias("expected"),
        quantize(
            (F.col("o") - exp)
            / F.sqrt(
                exp
                * (1 - F.col("rl").cast("double") / F.col("n"))
                * (1 - F.col("cs").cast("double") / F.col("n"))
            ), 4
        ).alias("std_residual"),
    ).orderBy("lang", "source")


# ------------------------------------------- JSON prop profile


@query(
    "events_json_prop_profile",
    oracle="""
    WITH parsed AS (
      SELECT event_type,
             json_extract(props, '$.k') AS kj,
             TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) AS kv
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           floor(SUM(CASE WHEN kj IS NOT NULL THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*) * 10000 + 0.5) / 10000
             AS k_present_share,
           CAST(MIN(kv) AS BIGINT) AS k_min,
           floor(SUM(kv) / COUNT(kv) * 10000 + 0.5) / 10000 AS k_mean,
           CAST(MAX(kv) AS BIGINT) AS k_max
    FROM parsed GROUP BY event_type ORDER BY event_type
    """,
)
def events_json_prop_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Semi-structured payload profile: the `props` JSON column
    parsed per stream — presence rate of the `k` field and its
    numeric min/mean/max. `get_json_object` runs JVM-side inside
    codegen over every row (no Python), which is the whole point:
    schema-on-read profiling at corpus scale is a projection, not an
    ETL job.

    Scale shape: one narrow JSON-path projection + one stream rollup,
    map-side combinable.
    """
    e = load(spark, sf_dir, "events")
    kv = F.get_json_object("props", "$.k").cast("double")
    return (
        e.select(
            "event_type",
            F.get_json_object("props", "$.k").alias("kj"),
            kv.alias("kv"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            quantize(
                F.sum(
                    F.when(F.col("kj").isNotNull(), 1).otherwise(0)
                )
                * 1.0
                / F.count("*"), 4
            ).alias("k_present_share"),
            F.min("kv").cast("bigint").alias("k_min"),
            quantize(F.sum("kv") / F.count("kv"), 4).alias("k_mean"),
            F.max("kv").cast("bigint").alias("k_max"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------- line structure profile

_SHORT_LINE_CHARS = 30


@query(
    "text_line_structure_profile",
    oracle=rf"""
    WITH lines AS (
      SELECT doc_id, source, trim(l) AS l
      FROM documents,
           unnest(string_split(text, chr(10))) AS t(l)
      WHERE trim(l) <> ''
    ),
    per_doc AS (
      SELECT source, doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lines GROUP BY 1, 2
    ),
    line_stats AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             CAST(SUM(len(l)) AS BIGINT) AS sum_chars,
             CAST(SUM(CASE WHEN len(l) < {_SHORT_LINE_CHARS}
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_short
      FROM lines GROUP BY source
    ),
    doc_stats AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_lines) AS BIGINT) AS tl
      FROM per_doc GROUP BY source
    )
    SELECT l.source,
           d.n_docs,
           l.n_lines,
           floor(l.n_lines * 1.0 / d.n_docs * 10000 + 0.5) / 10000
             AS lines_per_doc,
           floor(l.sum_chars * 1.0 / l.n_lines * 10000 + 0.5) / 10000
             AS mean_line_chars,
           floor(l.n_short * 1.0 / l.n_lines * 10000 + 0.5) / 10000
             AS short_line_share
    FROM line_stats l JOIN doc_stats d USING (source)
    ORDER BY l.source
    """,
)
def text_line_structure_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Line-grain document structure per source: non-empty lines per
    doc, mean line length, and the share of lines under
    {c} characters. Lists, navigation menus, and boilerplate render
    as short-line spikes long before any quality model runs — the
    structural screen CCNet applies before its LM does
    (`documents_ccnet_ppl_buckets`).

    Scale shape: one newline split-explode feeding a per-source line
    rollup and a per-doc count rollup — both map-side combinable,
    joined on the source dimension.
    """.format(c=_SHORT_LINE_CHARS)
    d = load(spark, sf_dir, "documents")
    lines = (
        d.select(
            "doc_id",
            "source",
            F.explode(F.split("text", "\n")).alias("l0"),
        )
        .select("doc_id", "source", F.trim("l0").alias("l"))
        .filter(F.col("l") != "")
        .persist()  # feeds the line-grain and doc-grain rollups
    )
    line_stats = lines.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.sum(F.length("l")).cast("bigint").alias("sum_chars"),
        F.sum(
            F.when(F.length("l") < _SHORT_LINE_CHARS, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_short"),
    )
    doc_stats = (
        lines.groupBy("source", "doc_id")
        .agg(F.count("*").alias("nl"))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("nl").cast("bigint").alias("tl"),
        )
    )
    return (
        line_stats.join(doc_stats, "source")
        .select(
            "source",
            "n_docs",
            "n_lines",
            quantize(F.col("n_lines") * 1.0 / F.col("n_docs"), 4).alias(
                "lines_per_doc"
            ),
            quantize(
                F.col("sum_chars") * 1.0 / F.col("n_lines"), 4
            ).alias("mean_line_chars"),
            quantize(F.col("n_short") * 1.0 / F.col("n_lines"), 4).alias(
                "short_line_share"
            ),
        )
        .orderBy("source")
    )
