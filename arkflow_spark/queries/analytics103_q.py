"""Round-5 batch 103: session co-occurrence, precision forensics,
line-position bias.

- `events_session_basket_lift` — event-type co-occurrence within a
  SESSION (30-min idle gap), not within a whole account:
  P(b in session | a in session) and lift. The temporal version of
  `events_behavior_cooccurrence_lift` — "errors and purchases in the
  same sitting" is a far stronger signal than "the same user ever
  did both".
- `dq_decimal_precision_profile` — numeric precision forensics: for
  each monetary/ratio column, the share of values that are exact at
  2 / 4 / 6 decimal places. Currency that isn't cents-exact has been
  through float arithmetic (or FX) upstream; a ratio column that IS
  always 2dp-exact was rounded before landing — both are lineage
  facts every consumer should know.
- `lineitem_line_position_profile` — order-composition bias by line
  number: mean quantity and unit value per line position, with the
  share of order revenue carried by position 1. Line-1-heavy books
  change how partial fulfillment and per-line sampling behave.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs). All oracled vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


_SESS_GAP_MIN = 30


# ------------------------------------------------ session basket lift


@query(
    "events_session_basket_lift",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type, epoch_us(ts) AS ep,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
      FROM events
    ),
    marked AS (
      SELECT user_id, event_type, ep,
             CASE WHEN prev IS NULL
                    OR ep - prev > {_SESS_GAP_MIN} * 60000000
                  THEN 1 ELSE 0 END AS brk
      FROM seq
    ),
    sess AS (
      SELECT user_id, event_type,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ep
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    ),
    basket AS (
      SELECT DISTINCT user_id, sid, event_type FROM sess
    ),
    n_sess AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT DISTINCT user_id, sid FROM basket
      )
    ),
    support AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM basket GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM basket a JOIN basket b
        ON a.user_id = b.user_id AND a.sid = b.sid
       AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b,
           p.c_ab AS sessions_both,
           floor(p.c_ab * 1.0 / sa.c * 10000 + 0.5) / 10000
             AS p_b_given_a,
           floor(p.c_ab * 1.0 * n.n / (sa.c * sb.c) * 10000 + 0.5)
             / 10000 AS lift
    FROM pairs p
    JOIN support sa ON sa.event_type = p.type_a
    JOIN support sb ON sb.event_type = p.type_b
    CROSS JOIN n_sess n
    ORDER BY p.type_a, p.type_b
    """,
)
def events_session_basket_lift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Within-SESSION event-type co-occurrence ({g}-minute idle-gap
    sessions): P(b | a in the same sitting) and lift over session
    independence. Account-level co-occurrence
    (`events_behavior_cooccurrence_lift`) says two behaviors share a
    user; this says they share a MOMENT — the grain where
    error->abandonment causality actually lives.

    Scale shape: sessionization is the standard lag + running-sum
    pair of user-keyed windows; baskets are DISTINCT (session, type)
    with fan-out bounded by the type vocabulary; supports broadcast.
    """.format(g=_SESS_GAP_MIN)
    e = load(spark, sf_dir, "events")
    ep = F.unix_micros(F.col("ts"))
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = e.select(
        "user_id",
        "event_type",
        ep.alias("ep"),
        (
            F.when(
                F.lag(ep).over(wu).isNull()
                | (
                    ep - F.lag(ep).over(wu)
                    > _SESS_GAP_MIN * 60000000
                ),
                1,
            ).otherwise(0)
        ).alias("brk"),
    )
    ws = (
        Window.partitionBy("user_id")
        .orderBy("ep")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    basket = (
        marked.select(
            "user_id",
            "event_type",
            F.sum("brk").over(ws).alias("sid"),
        )
        .distinct()
        .persist()  # (user, session, type) rows; feeds the session
        # count, the supports, and both pair-join sides
    )
    n_sess = (
        basket.select("user_id", "sid")
        .distinct()
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    support = basket.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("c")
    )
    a = basket.select(
        "user_id", "sid", F.col("event_type").alias("type_a")
    )
    b = basket.select(
        "user_id", "sid", F.col("event_type").alias("type_b")
    )
    pairs = (
        a.join(b, ["user_id", "sid"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("c_ab"))
    )
    sa = support.select(
        F.col("event_type").alias("type_a"), F.col("c").alias("ca")
    )
    sb = support.select(
        F.col("event_type").alias("type_b"), F.col("c").alias("cb")
    )
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(n_sess))
        .select(
            "type_a",
            "type_b",
            F.col("c_ab").alias("sessions_both"),
            quantize(F.col("c_ab") * 1.0 / F.col("ca"), 4).alias(
                "p_b_given_a"
            ),
            quantize(
                F.col("c_ab") * 1.0 * F.col("n")
                / (F.col("ca") * F.col("cb")), 4
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


# ------------------------------------------- decimal precision profile


def _prec_oracle() -> str:
    cols = (
        ("orders", "o_totalprice"),
        ("part", "p_retailprice"),
        ("lineitem", "l_extendedprice"),
        ("lineitem", "l_discount"),
        ("events", "value"),
    )
    parts = []
    for tbl, col in cols:
        parts.append(f"""
    SELECT '{tbl}.{col}' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           floor(SUM(CASE WHEN {col} * 100
                          = floor({col} * 100) THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*) * 10000 + 0.5) / 10000
             AS exact_2dp_share,
           floor(SUM(CASE WHEN {col} * 10000
                          = floor({col} * 10000) THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*) * 10000 + 0.5) / 10000
             AS exact_4dp_share,
           floor(SUM(CASE WHEN {col} * 1000000
                          = floor({col} * 1000000) THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*) * 10000 + 0.5) / 10000
             AS exact_6dp_share
    FROM {tbl} WHERE {col} IS NOT NULL""")
    return "\nUNION ALL\n".join(parts) + "\nORDER BY column_name"


@query("dq_decimal_precision_profile", oracle=_prec_oracle())
def dq_decimal_precision_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Numeric precision forensics across the monetary/ratio columns:
    the share of values exactly representable at 2/4/6 decimal
    places (x * 10^k == floor(x * 10^k), double arithmetic —
    identical in both engines). Currency below 1.0 at 2dp has been
    through float math upstream; a "continuous" measure at 1.0 for
    2dp was pre-rounded — either way the column's lineage differs
    from its docs, and this profile is the evidence.

    Scale shape: one map-side-combinable aggregate per column (five
    independent scans, each pruned to one column), unioned — no
    joins, no windows.
    """
    cols = (
        ("orders", "o_totalprice"),
        ("part", "p_retailprice"),
        ("lineitem", "l_extendedprice"),
        ("lineitem", "l_discount"),
        ("events", "value"),
    )
    out = None
    for tbl, col in cols:
        c = F.col(col)
        share = lambda k: quantize(
            F.sum(
                F.when(c * k == F.floor(c * k), 1).otherwise(0)
            )
            * 1.0
            / F.count("*"), 4
        )
        row = (
            load(spark, sf_dir, tbl)
            .filter(c.isNotNull())
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                share(100).alias("exact_2dp_share"),
                share(10000).alias("exact_4dp_share"),
                share(1000000).alias("exact_6dp_share"),
            )
            .select(
                F.lit(f"{tbl}.{col}").alias("column_name"),
                "n_rows",
                "exact_2dp_share",
                "exact_4dp_share",
                "exact_6dp_share",
            )
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("column_name")


# ------------------------------------------- line-position profile


@query(
    "lineitem_line_position_profile",
    oracle="""
    WITH per AS (
      SELECT l_linenumber AS pos,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sp
      FROM lineitem GROUP BY l_linenumber
    ),
    tot AS (SELECT SUM(sp) AS tp FROM per)
    SELECT p.pos AS line_number, p.n_lines,
           floor(p.sq * 1.0 / p.n_lines * 10000 + 0.5) / 10000
             AS mean_quantity,
           floor(CAST(p.sp AS DOUBLE) / p.n_lines * 100 + 0.5) / 100
             AS mean_price,
           floor(CAST(p.sp AS DOUBLE) / CAST(t.tp AS DOUBLE)
                 * 10000 + 0.5) / 10000 AS revenue_share
    FROM per p CROSS JOIN tot t
    ORDER BY p.pos
    """,
)
def lineitem_line_position_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-composition bias by line position: per line number, the
    line count, mean quantity, mean price, and the position's share
    of total revenue. A book where position 1 carries most of the
    value behaves differently under partial fulfillment and per-line
    sampling than a uniform one — the tabular twin of
    `text_positional_length_profile`.

    Scale shape: one map-side-combinable rollup to the line-number-
    bounded table (persisted for the total + final branches).
    """
    li = load(spark, sf_dir, "lineitem")
    per = li.groupBy(F.col("l_linenumber").alias("pos")).agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.sum(F.col("l_quantity").cast("bigint"))
        .cast("bigint")
        .alias("sq"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias(
            "sp"
        ),
    ).persist()
    tot = per.agg(F.sum("sp").alias("tp"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("pos").alias("line_number"),
            "n_lines",
            quantize(F.col("sq") * 1.0 / F.col("n_lines"), 4).alias(
                "mean_quantity"
            ),
            quantize(F.col("sp").cast("double") / F.col("n_lines"), 2).alias(
                "mean_price"
            ),
            quantize(
                F.col("sp").cast("double") / F.col("tp").cast("double"), 4
            ).alias("revenue_share"),
        )
        .orderBy("line_number")
    )
