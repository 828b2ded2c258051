"""Round-6 batch 118: multiwindow burn-rate alerts, dialog-format
mining, CKA block similarity.

- `events_multiwindow_burn_alerts` — the SRE-workbook multiwindow
  multi-burn-rate alert policy evaluated over the event stream's
  error SLO: page when BOTH the 1h and 5m burn rates exceed 14.4x
  budget, ticket when both 6h and 30m exceed 6x. The two-window AND
  is what kills alert flap (the short window arms fast, the long
  window proves it's sustained); this query replays the policy over
  history and reports how often each would have fired.
- `text_dialog_format_share` — instruction/dialog-format mining: per
  source, the share of documents in Q/A format, in speaker-turn
  dialog format, and in list format (line-pattern detectors). The
  first pass of instruction-data curation — these formats get
  routed to different cleaning and templating than prose.
- `embedding_cka_blocks` — linear CKA (Kornblith et al. 2019)
  between the first-16 and last-16 embedding dimension blocks:
  ||Cov(A,B)||_F^2 / (||Cov(A,A)||_F ||Cov(B,B)||_F). Near-1 means
  the tail dimensions re-encode the head (truncation is nearly
  free; cf. `embedding_matryoshka_prefix_recall` which measures the
  same property behaviorally); near-0 means the blocks carry
  independent information.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ multiwindow burn alerts

_SLO_BUDGET = 0.05  # error budget: 5% of events may be errors


@query(
    "events_multiwindow_burn_alerts",
    oracle=f"""
    WITH mins AS (
      SELECT date_trunc('minute', ts) AS m,
             COUNT(*) AS n,
             COUNT(*) FILTER (event_type = 'error') AS e
      FROM events GROUP BY 1
    ),
    grid AS (
      SELECT m, n, e,
             SUM(n) OVER w5 AS n5, SUM(e) OVER w5 AS e5,
             SUM(n) OVER w30 AS n30, SUM(e) OVER w30 AS e30,
             SUM(n) OVER w60 AS n60, SUM(e) OVER w60 AS e60,
             SUM(n) OVER w360 AS n360, SUM(e) OVER w360 AS e360
      FROM mins
      WINDOW
        w5 AS (ORDER BY m RANGE BETWEEN INTERVAL 4 MINUTE PRECEDING
               AND CURRENT ROW),
        w30 AS (ORDER BY m RANGE BETWEEN INTERVAL 29 MINUTE PRECEDING
                AND CURRENT ROW),
        w60 AS (ORDER BY m RANGE BETWEEN INTERVAL 59 MINUTE PRECEDING
                AND CURRENT ROW),
        w360 AS (ORDER BY m RANGE BETWEEN INTERVAL 359 MINUTE PRECEDING
                 AND CURRENT ROW)
    ),
    flags AS (
      SELECT m,
             (e60 * 1.0 / n60) / {_SLO_BUDGET} > 14.4
               AND (e5 * 1.0 / n5) / {_SLO_BUDGET} > 14.4 AS page,
             (e360 * 1.0 / n360) / {_SLO_BUDGET} > 6
               AND (e30 * 1.0 / n30) / {_SLO_BUDGET} > 6 AS ticket,
             (e60 * 1.0 / n60) / {_SLO_BUDGET} AS burn60
      FROM grid
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_minutes,
           CAST(COUNT(*) FILTER (page) AS BIGINT) AS page_minutes,
           CAST(COUNT(*) FILTER (ticket) AS BIGINT) AS ticket_minutes,
           floor(COUNT(*) FILTER (page) * 1.0 / COUNT(*)
                 * 1000000 + 0.5) / 1000000 AS page_share,
           floor(COUNT(*) FILTER (ticket) * 1.0 / COUNT(*)
                 * 1000000 + 0.5) / 1000000 AS ticket_share,
           floor(MAX(burn60) * 10000 + 0.5) / 10000 AS max_burn_1h
    FROM flags
    """,
)
def events_multiwindow_burn_alerts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Replay of the Google-SRE multiwindow multi-burn-rate policy
    against the {b:.0%} error SLO: per minute, burn rate =
    (window error share) / budget over 5m/30m/1h/6h trailing windows;
    PAGE fires when 1h AND 5m both exceed 14.4x, TICKET when 6h AND
    30m both exceed 6x. Reports how many minutes each policy would
    have fired plus the worst 1h burn — the dry-run every SRE team
    does before wiring a new SLO to paging.

    Scale shape: one minute-grid rollup (map-side combinable), then
    trailing range windows over the calendar-bounded minute grid
    (# scale: calendar-bounded — minutes, not events), one summary
    row.
    """.format(b=_SLO_BUDGET)
    e = load(spark, sf_dir, "events")
    mins = e.groupBy(F.date_trunc("minute", "ts").alias("m")).agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("e"),
    )
    sec = F.unix_timestamp("m")
    mins = mins.withColumn("msec", sec)
    # scale: calendar-bounded (minute grid; rows <= timespan minutes)
    def trail(minutes):
        return (
            Window.orderBy("msec")
            .rangeBetween(-(minutes - 1) * 60, 0)
        )

    grid = mins.select(
        "m",
        *[
            F.sum(c).over(trail(w)).alias(f"{c}{w}")
            for w in (5, 30, 60, 360)
            for c in ("n", "e")
        ],
    )
    burn = lambda w: (
        F.col(f"e{w}") * 1.0 / F.col(f"n{w}")
    ) / _SLO_BUDGET
    flags = grid.select(
        "m",
        ((burn(60) > 14.4) & (burn(5) > 14.4)).alias("page"),
        ((burn(360) > 6) & (burn(30) > 6)).alias("ticket"),
        burn(60).alias("burn60"),
    )
    share = lambda c: quantize(
        F.count(F.when(F.col(c), 1)) * 1.0 / F.count("*"), 6
    )
    return flags.agg(
        F.count("*").cast("bigint").alias("n_minutes"),
        F.count(F.when(F.col("page"), 1)).cast("bigint").alias(
            "page_minutes"
        ),
        F.count(F.when(F.col("ticket"), 1)).cast("bigint").alias(
            "ticket_minutes"
        ),
        share("page").alias("page_share"),
        share("ticket").alias("ticket_share"),
        quantize(F.max("burn60"), 4).alias("max_burn_1h"),
    )


# ------------------------------------------------ dialog-format mining

_QA_RE = r"(?i)^\s*(q|question|a|answer)\s*[:.]"
_TURN_RE = r"^[A-Z][a-z]+\s*:\s"
_LIST_RE = r"^\s*([-*•]|\d+[.)])\s"


@query(
    "text_dialog_format_share",
    oracle=rf"""
    WITH lines AS (
      SELECT doc_id, source, unnest(string_split(text, chr(10))) AS ln
      FROM documents
    ),
    per_doc AS (
      SELECT doc_id, source,
             COUNT(*) FILTER (regexp_matches(ln, '{_QA_RE}')) AS qa,
             COUNT(*) FILTER (regexp_matches(ln, '{_TURN_RE}')) AS turn,
             COUNT(*) FILTER (regexp_matches(ln, '{_LIST_RE}')) AS lst
      FROM lines GROUP BY 1, 2
    ),
    cls AS (
      SELECT source,
             qa >= 2 AS is_qa,
             turn >= 3 AS is_dialog,
             lst >= 5 AS is_list
      FROM per_doc
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           floor(COUNT(*) FILTER (is_qa) * 1.0 / COUNT(*)
                 * 10000 + 0.5) / 10000 AS qa_share,
           floor(COUNT(*) FILTER (is_dialog) * 1.0 / COUNT(*)
                 * 10000 + 0.5) / 10000 AS dialog_share,
           floor(COUNT(*) FILTER (is_list) * 1.0 / COUNT(*)
                 * 10000 + 0.5) / 10000 AS list_share
    FROM cls GROUP BY source ORDER BY source
    """,
)
def text_dialog_format_share(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Format mining for instruction-data curation: per source, the
    share of documents whose LINE structure marks them as Q/A
    (>= 2 'Q:'/'A:'-style lines), speaker-turn dialog (>= 3
    'Name: ...' lines), or list-dominated (>= 5 bullet/numbered
    lines). These route to different templating than prose — Q/A
    pairs become instruction tuples, dialogs need turn segmentation,
    lists need de-bulleting — so the mix per source drives the
    curation plan. Line detectors only: no model, fully engine-stable.

    Scale shape: one line explode (fan-out = lines per doc), one
    per-doc conditional rollup, source-bounded output.
    """
    d = load(spark, sf_dir, "documents")
    lines = d.select(
        "doc_id",
        "source",
        F.explode(F.split(F.col("text"), "\n")).alias("ln"),
    )
    per_doc = lines.groupBy("doc_id", "source").agg(
        F.count(F.when(F.col("ln").rlike(_QA_RE), 1)).alias("qa"),
        F.count(F.when(F.col("ln").rlike(_TURN_RE), 1)).alias("turn"),
        F.count(F.when(F.col("ln").rlike(_LIST_RE), 1)).alias("lst"),
    )
    cls = per_doc.select(
        "source",
        (F.col("qa") >= 2).alias("is_qa"),
        (F.col("turn") >= 3).alias("is_dialog"),
        (F.col("lst") >= 5).alias("is_list"),
    )
    share = lambda c: quantize(
        F.count(F.when(F.col(c), 1)) * 1.0 / F.count("*"), 4
    )
    return (
        cls.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            share("is_qa").alias("qa_share"),
            share("is_dialog").alias("dialog_share"),
            share("is_list").alias("list_share"),
        )
        .orderBy("source")
    )


# ------------------------------------------------ CKA between dim blocks

_CKA_BLOCK = 16
_CKA_DIM = 64


@query(
    "embedding_cka_blocks",
    oracle=f"""
    WITH x AS (
      SELECT vec_id, g.i,
             floor(CAST(embedding[g.i] AS DOUBLE) * 1000000 + 0.5)
               / 1000000 AS v
      FROM embeddings, LATERAL (
        SELECT unnest(range(1, {_CKA_DIM} + 1)) AS i
      ) g
      WHERE len(embedding) = {_CKA_DIM}
        AND (g.i <= {_CKA_BLOCK} OR g.i > {_CKA_DIM - _CKA_BLOCK})
    ),
    n AS (SELECT COUNT(DISTINCT vec_id) AS n FROM x),
    mu AS (
      SELECT i, CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE)
                  / COUNT(*) AS m
      FROM x GROUP BY i
    ),
    prods AS (
      SELECT a.i AS ia, b.i AS ib,
             CAST(SUM(CAST(floor(a.v * b.v * 1000000 + 0.5) / 1000000
                           AS DECIMAL(24,6))) AS DOUBLE) AS spp
      FROM x a JOIN x b ON b.vec_id = a.vec_id
      GROUP BY 1, 2
    ),
    cov AS (
      SELECT p.ia, p.ib,
             p.spp / n.n - ma.m * mb.m AS c,
             p.ia <= {_CKA_BLOCK} AS a_head, p.ib <= {_CKA_BLOCK}
               AS b_head
      FROM prods p
      JOIN mu ma ON ma.i = p.ia
      JOIN mu mb ON mb.i = p.ib
      CROSS JOIN n
    ),
    fro AS (
      SELECT
        SUM(CASE WHEN a_head AND NOT b_head
                 THEN CAST(c * c AS DECIMAL(28,12)) END) AS ab,
        SUM(CASE WHEN a_head AND b_head
                 THEN CAST(c * c AS DECIMAL(28,12)) END) AS aa,
        SUM(CASE WHEN NOT a_head AND NOT b_head
                 THEN CAST(c * c AS DECIMAL(28,12)) END) AS bb
      FROM cov
    )
    SELECT floor(CAST(ab AS DOUBLE)
                 / sqrt(CAST(aa AS DOUBLE) * CAST(bb AS DOUBLE))
                 * 10000 + 0.5) / 10000 AS cka,
           floor(CAST(aa AS DOUBLE) * 10000 + 0.5) / 10000
             AS head_fro2,
           floor(CAST(bb AS DOUBLE) * 10000 + 0.5) / 10000
             AS tail_fro2
    FROM fro
    """,
)
def embedding_cka_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear CKA between the head-{k} and tail-{k} embedding dimension
    blocks: ||Cov(head, tail)||_F^2 normalized by the within-block
    Frobenius norms. High CKA = the tail re-encodes the head's
    information (truncation cheap — the representational explanation
    for whatever `embedding_matryoshka_prefix_recall` observes
    behaviorally); low = genuinely complementary blocks.

    Determinism: feature values and per-pair products are 6dp-floored
    and decimal-summed (the analytics111 discipline), so the
    cross-covariance entries are identical doubles in both engines.

    Scale shape: per vector the dim-pair fan-out is a fixed
    (2x{k})^2 = {f} rows; covariance entries live on a {f}-cell
    bounded grid; one vector scan.
    """.format(k=_CKA_BLOCK, f=(2 * _CKA_BLOCK) ** 2)
    e = load(spark, sf_dir, "embeddings").filter(
        F.size("embedding") == _CKA_DIM
    )
    x = (
        e.select(
            "vec_id", F.posexplode("embedding").alias("i0", "v0")
        )
        .select(
            "vec_id",
            (F.col("i0") + 1).alias("i"),
            quantize(F.col("v0").cast("double"), 6).alias("v"),
        )
        .filter(
            (F.col("i") <= _CKA_BLOCK)
            | (F.col("i") > _CKA_DIM - _CKA_BLOCK)
        )
    )
    n = x.agg(F.countDistinct("vec_id").alias("n"))
    mu = x.groupBy("i").agg(
        (
            F.sum(F.col("v").cast("decimal(18,6)")).cast("double")
            / F.count("*")
        ).alias("m")
    )
    a = x.select("vec_id", F.col("i").alias("ia"), F.col("v").alias("va"))
    b = x.select(
        F.col("vec_id").alias("vb"),
        F.col("i").alias("ib"),
        F.col("v").alias("vb_v"),
    )
    prods = (
        a.join(b, a.vec_id == F.col("vb"))
        .groupBy("ia", "ib")
        .agg(
            F.sum(
                quantize(F.col("va") * F.col("vb_v"), 6).cast(
                    "decimal(24,6)"
                )
            )
            .cast("double")
            .alias("spp")
        )
    )
    ma = mu.select(F.col("i").alias("ia"), F.col("m").alias("m_a"))
    mb = mu.select(F.col("i").alias("ib"), F.col("m").alias("m_b"))
    cov = (
        prods.join(F.broadcast(ma), "ia")
        .join(F.broadcast(mb), "ib")
        .crossJoin(F.broadcast(n))
        .select(
            (F.col("spp") / F.col("n") - F.col("m_a") * F.col("m_b"))
            .alias("c"),
            (F.col("ia") <= _CKA_BLOCK).alias("a_head"),
            (F.col("ib") <= _CKA_BLOCK).alias("b_head"),
        )
    )
    c2 = (F.col("c") * F.col("c")).cast("decimal(28,12)")
    fro = cov.agg(
        F.sum(F.when(F.col("a_head") & ~F.col("b_head"), c2)).alias("ab"),
        F.sum(F.when(F.col("a_head") & F.col("b_head"), c2)).alias("aa"),
        F.sum(F.when(~F.col("a_head") & ~F.col("b_head"), c2)).alias(
            "bb"
        ),
    )
    ab, aa, bb = (
        F.col("ab").cast("double"),
        F.col("aa").cast("double"),
        F.col("bb").cast("double"),
    )
    return fro.select(
        quantize(ab / F.sqrt(aa * bb), 4).alias("cka"),
        quantize(aa, 4).alias("head_fro2"),
        quantize(bb, 4).alias("tail_fro2"),
    )
