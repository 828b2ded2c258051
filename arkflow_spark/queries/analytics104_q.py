"""Round-5 batch 104: template prefixes, casing styles, FD strength.

- `text_template_prefix_audit` — documents sharing a normalized
  64-char PREFIX: template headers and boilerplate openings that
  whole-document dedup (`dedup_exact`) misses because the bodies
  differ. Reports the top shared prefixes with doc counts and the
  share of the corpus opening with ANY shared prefix.
- `text_casing_style_profile` — per source, the mix of token casing
  styles (lower / Capitalized / ALLCAPS / mixed / non-alpha).
  ALLCAPS-heavy sources are shouting or OCR artifacts; mixed-case
  spikes mark code and identifiers — the casing lens the lowercased
  token pipelines (`text_tfidf`, LMs) destroy on contact.
- `dq_functional_dependency_strength` — profiling for near-FDs: for
  candidate column pairs X -> Y, the FD strength = sum over x of the
  majority-y count, over total rows (1.0 = Y is a function of X).
  The schema-discovery primitive behind normalization advice and
  join-key sanity checks.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


_PFX_LEN = 64
_PFX_TOP = 15


# ------------------------------------------------ template prefixes


@query(
    "text_template_prefix_audit",
    oracle=rf"""
    WITH pfx AS (
      SELECT doc_id,
             substr(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                    1, {_PFX_LEN}) AS p
      FROM documents
    ),
    grp AS (
      SELECT p, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM pfx GROUP BY p
    ),
    tot AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN n_docs > 1 THEN n_docs ELSE 0 END)
                  AS BIGINT) AS shared
      FROM grp
    )
    SELECT g.p AS prefix, g.n_docs,
           floor(g.n_docs * 1.0 / t.n * 10000 + 0.5) / 10000
             AS doc_share,
           floor(t.shared * 1.0 / t.n * 10000 + 0.5) / 10000
             AS corpus_shared_prefix_share
    FROM grp g CROSS JOIN tot t
    WHERE g.n_docs > 1
    ORDER BY g.n_docs DESC, g.p
    LIMIT {_PFX_TOP}
    """,
)
def text_template_prefix_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Template-opening audit: group documents by their normalized
    first {k} characters and surface prefixes shared by 2+ docs (top
    {t} by count), plus the corpus share opening with ANY shared
    prefix. Shared openings with differing bodies are exactly what
    boilerplate headers look like — invisible to whole-document
    dedup, cheap to strip once named.

    Scale shape: one narrow prefix projection, one prefix-keyed count
    (the dedup_exact shuffle shape), a broadcast total, top-{t} via
    ORDER+LIMIT.
    """.format(k=_PFX_LEN, t=_PFX_TOP)
    d = load(spark, sf_dir, "documents")
    from arkflow_spark.queries.dedup_q import _norm_text

    grp = (
        d.select(
            F.substring(_norm_text(F.col("text")), 1, _PFX_LEN).alias("p")
        )
        .groupBy("p")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .persist()  # prefix-bounded; feeds the totals and the head
    )
    tot = grp.agg(
        F.sum("n_docs").cast("bigint").alias("n"),
        F.sum(F.when(F.col("n_docs") > 1, F.col("n_docs")).otherwise(0))
        .cast("bigint")
        .alias("shared"),
    )
    return (
        grp.filter(F.col("n_docs") > 1)
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("p").alias("prefix"),
            "n_docs",
            quantize(F.col("n_docs") * 1.0 / F.col("n"), 4).alias(
                "doc_share"
            ),
            quantize(F.col("shared") * 1.0 / F.col("n"), 4).alias(
                "corpus_shared_prefix_share"
            ),
        )
        .orderBy(F.col("n_docs").desc(), "prefix")
        .limit(_PFX_TOP)
    )


# ------------------------------------------------ casing style profile


@query(
    "text_casing_style_profile",
    oracle=r"""
    WITH tok AS (
      SELECT source,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      FROM documents
    ),
    styled AS (
      SELECT source,
             CASE
               WHEN NOT regexp_matches(w, '[A-Za-z]') THEN 'nonalpha'
               WHEN regexp_matches(w, '^[A-Z][a-z0-9]*$')
                 THEN 'capitalized'
               WHEN NOT regexp_matches(w, '[a-z]') THEN 'allcaps'
               WHEN NOT regexp_matches(w, '[A-Z]') THEN 'lower'
               ELSE 'mixed'
             END AS style
      FROM tok WHERE w <> ''
    ),
    cnt AS (
      SELECT source, style, CAST(COUNT(*) AS BIGINT) AS c
      FROM styled GROUP BY 1, 2
    ),
    tot AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnt
      GROUP BY source
    )
    SELECT c.source, c.style, c.c AS n_tokens,
           floor(c.c * 1.0 / t.n * 10000 + 0.5) / 10000 AS share
    FROM cnt c JOIN tot t USING (source)
    ORDER BY c.source, c.style
    """,
)
def text_casing_style_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Token casing mix per source: lower / Capitalized / ALLCAPS /
    mixed-case / non-alpha shares. ALLCAPS-heavy sources are shouting
    or OCR; mixed-case concentrations are code and identifiers
    (`text_code_detection`'s cheap cousin) — measured BEFORE the
    pipeline lowercases everything and the signal is gone.

    Scale shape: one token explode into a (source x 5-style) count
    table; shares from exact integer sums.
    """
    d = load(spark, sf_dir, "documents")
    tok = (
        d.select(
            "source",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w"),
        )
        .filter(F.col("w") != "")
    )
    # ASCII-regex-only classification: engine case-mapping (Unicode
    # lower/upper edge cases) never enters the comparison
    style = (
        F.when(~F.col("w").rlike("[A-Za-z]"), "nonalpha")
        .when(F.col("w").rlike("^[A-Z][a-z0-9]*$"), "capitalized")
        .when(~F.col("w").rlike("[a-z]"), "allcaps")
        .when(~F.col("w").rlike("[A-Z]"), "lower")
        .otherwise("mixed")
    )
    cnt = tok.select("source", style.alias("style")).groupBy(
        "source", "style"
    ).agg(F.count("*").cast("bigint").alias("c")).persist()
    # ^ (source x 5)-bounded; feeds totals + final rows
    tot = cnt.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n")
    )
    return (
        cnt.join(F.broadcast(tot), "source")
        .select(
            "source",
            "style",
            F.col("c").alias("n_tokens"),
            quantize(F.col("c") * 1.0 / F.col("n"), 4).alias("share"),
        )
        .orderBy("source", "style")
    )


# -------------------------------------------- FD strength profiling

_FD_PAIRS = (
    ("part", "p_brand", "p_type"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("events", "user_id", "event_type"),
    ("nation", "n_nationkey", "n_regionkey"),
)


def _fd_oracle() -> str:
    parts = []
    for tbl, x, y in _FD_PAIRS:
        parts.append(f"""
    SELECT '{tbl}.{x} -> {tbl}.{y}' AS dependency,
           CAST(COUNT(DISTINCT {x}) AS BIGINT) AS n_keys,
           CAST(SUM(m) AS BIGINT) AS majority_rows,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           floor(SUM(m) * 1.0 / SUM(c) * 10000 + 0.5) / 10000
             AS fd_strength
    FROM (
      SELECT {x}, MAX(c) AS m, SUM(c) AS c FROM (
        SELECT {x}, {y}, CAST(COUNT(*) AS BIGINT) AS c
        FROM {tbl} GROUP BY 1, 2
      ) GROUP BY {x}
    )""")
    return "\nUNION ALL\n".join(parts) + "\nORDER BY dependency"


@query("dq_functional_dependency_strength", oracle=_fd_oracle())
def dq_functional_dependency_strength(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-FD profiling: for each candidate X -> Y, the share of rows
    whose Y equals the majority Y of their X (1.0 = Y is a true
    function of X, as nation -> region is by construction; values
    near 1 are denormalization candidates or latent join keys; values
    near the base rate mean no dependency). The classic data-
    profiling primitive (TANE-style g3 measure), computed exactly.

    Scale shape: per pair, one (X, Y) count rollup, one per-X
    majority aggregate, one total — all map-side combinable, unioned
    into a {n}-row report.
    """.format(n=len(_FD_PAIRS))
    out = None
    for tbl, x, y in _FD_PAIRS:
        t = load(spark, sf_dir, tbl)
        xy = t.groupBy(x, y).agg(F.count("*").cast("bigint").alias("c"))
        per_x = xy.groupBy(x).agg(
            F.max("c").alias("m"), F.sum("c").alias("c")
        )
        row = per_x.agg(
            F.count("*").cast("bigint").alias("n_keys"),
            F.sum("m").cast("bigint").alias("majority_rows"),
            F.sum("c").cast("bigint").alias("n_rows"),
            quantize(F.sum("m") * 1.0 / F.sum("c"), 4).alias("fd_strength"),
        ).select(
            F.lit(f"{tbl}.{x} -> {tbl}.{y}").alias("dependency"),
            "n_keys",
            "majority_rows",
            "n_rows",
            "fd_strength",
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("dependency")
