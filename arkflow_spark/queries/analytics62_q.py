"""Round-5 batch 62: coalition-game attribution, block-maxima EVT,
structured field extraction.

- `events_shapley_attribution` — data-driven (Shapley-value) marketing
  attribution over the four non-purchase touch types: users'
  pre-conversion touch SETS define coalition conversion rates
  v(S), and each channel's Shapley value averages its marginal
  contribution over all orderings — exactly, because the coalition
  lattice is 2^4. The principled alternative to last-touch
  (`events_attribution`) that heavily-gamed channels can't cheat.
- `events_gumbel_block_maxima` — the OTHER extreme-value method:
  Gumbel fit to DAILY block maxima via the method of moments
  (beta = sd sqrt(6)/pi, mu = mean - 0.5772 beta) with 30/90/365-day
  return levels. Cross-checks `events_gpd_pot_fit` — when the two
  disagree wildly, the tail model (not the data) is the story.
- `text_structured_extraction_rates` — field-extraction coverage per
  source: share of documents yielding emails, URLs, ISO dates,
  decimal quantities; plus mean extractions per covered doc. The
  feasibility probe run BEFORE committing to a structured-extraction
  pipeline over a shard.

Reference scope: arkflow's SQL processor surface
(crates/arkflow-plugin/src/processor/sql.rs); methods published
(Shapley 1953; Gumbel 1958). All oracled vs DuckDB.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


# ------------------------------------------------ Shapley attribution

_CHANNELS = ("click", "error", "signup", "view")


def _subsets():
    for r in range(len(_CHANNELS) + 1):
        yield from combinations(_CHANNELS, r)


def _set_key(s) -> str:
    return ",".join(sorted(s)) if s else ""


@query(
    "events_shapley_attribution",
    oracle=f"""
    WITH firstbuy AS (
      SELECT user_id, MIN(ts) AS t_buy
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    touches AS (
      SELECT e.user_id,
             string_agg(DISTINCT e.event_type, ',' ORDER BY e.event_type)
               AS touch_set
      FROM events e
      LEFT JOIN firstbuy f USING (user_id)
      WHERE e.event_type <> 'purchase'
        AND (f.t_buy IS NULL OR e.ts < f.t_buy)
      GROUP BY e.user_id
    ),
    marks AS (
      SELECT t.user_id, t.touch_set,
             CASE WHEN f.user_id IS NULL THEN 0 ELSE 1 END AS converted
      FROM touches t LEFT JOIN firstbuy f USING (user_id)
    ),
    sets AS (
      SELECT touch_set, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(converted) AS BIGINT) AS conv
      FROM marks GROUP BY touch_set
    )
    SELECT channel,
           floor(shapley * 10000 + 0.5) / 10000 AS shapley_value,
           floor(shapley / NULLIF(total, 0) * 10000 + 0.5) / 10000
             AS share
    FROM (
      SELECT s.channel, s.shapley, SUM(s.shapley) OVER () AS total
      FROM (
        {{SHAPLEY_UNION}}
      ) s
    )
    ORDER BY channel
    """,
)
def events_shapley_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact Shapley attribution over the 4 touch channels: each user's
    pre-first-purchase DISTINCT touch set defines the empirical
    coalition conversion rates v(S) = conversions(users with set S)
    / users(set S) — the simplified-Shapley characteristic standard in
    marketing analytics — and each channel's value is the exact
    average marginal v(S + c) - v(S) over all orderings (the 2^4
    lattice is enumerated at plan-build time; weights |S|!(n-|S|-1)!/n!
    are Python-computed constants). Missing coalitions contribute
    v = 0, stated in the docstring contract.

    Scale shape: one user rollup to (touch_set, converted), one
    16-row coalition table; the Shapley sum is constant-size
    arithmetic joined over that bounded table. The corpus is scanned
    twice (first-purchase times, touches), both map-side-combinable.
    """
    import math

    e = load(spark, sf_dir, "events")
    firstbuy = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_buy"))
    )
    touches = (
        e.filter(F.col("event_type") != "purchase")
        .join(F.broadcast(firstbuy), "user_id", "left")
        .filter(F.col("t_buy").isNull() | (F.col("ts") < F.col("t_buy")))
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                ",", F.array_sort(F.collect_set("event_type"))
            ).alias("touch_set")
        )
    )
    marks = touches.join(
        F.broadcast(firstbuy.select("user_id")), "user_id", "left_semi"
    ).withColumn("converted", F.lit(1)).unionByName(
        touches.join(
            F.broadcast(firstbuy.select("user_id")),
            "user_id",
            "left_anti",
        ).withColumn("converted", F.lit(0))
    )
    sets = marks.groupBy("touch_set").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("converted").cast("bigint").alias("conv"),
    )
    rows = {
        r["touch_set"]: (r["n"], r["conv"])
        for r in sets.collect()  # bounded: <= 2^4 coalition rows
    }

    def v(subset) -> float:
        key = _set_key(subset)
        n, conv = rows.get(key, (0, 0))
        return conv / n if n else 0.0

    nch = len(_CHANNELS)
    shap = {}
    for ch in _CHANNELS:
        total = 0.0
        for s in _subsets():
            if ch in s:
                continue
            w = (
                math.factorial(len(s))
                * math.factorial(nch - len(s) - 1)
                / math.factorial(nch)
            )
            total += w * (v(tuple(sorted(s + (ch,)))) - v(s))
        shap[ch] = total
    tot = sum(shap.values())
    out = spark.createDataFrame(
        [
            (
                ch,
                shap[ch],
                (shap[ch] / tot) if tot else None,
            )
            for ch in _CHANNELS
        ],
        "channel STRING, shapley DOUBLE, share DOUBLE",
    )
    return out.select(
        "channel",
        quantize(F.col("shapley"), 4).alias("shapley_value"),
        quantize(F.col("share"), 4).alias("share"),
    ).orderBy("channel")


def _shapley_union_sql() -> str:
    """Build the oracle's exact Shapley sum as a UNION over channels:
    every (subset, channel) marginal with its factorial weight as a
    literal — same constants the Spark side uses."""
    import math

    nch = len(_CHANNELS)
    parts = []
    for ch in _CHANNELS:
        terms = []
        for s in _subsets():
            if ch in s:
                continue
            w = (
                math.factorial(len(s))
                * math.factorial(nch - len(s) - 1)
                / math.factorial(nch)
            )
            with_ch = _set_key(tuple(sorted(s + (ch,))))
            without = _set_key(s)
            vv = (
                "COALESCE((SELECT conv * 1.0 / n FROM sets "
                "WHERE touch_set = '{k}'), 0.0)"
            )
            terms.append(
                f"{w!r} * ({vv.format(k=with_ch)} - {vv.format(k=without)})"
            )
        parts.append(
            f"SELECT '{ch}' AS channel, " + " + ".join(terms) + " AS shapley"
        )
    return " UNION ALL ".join(parts)


# materialize the oracle template now that the helper exists
from arkflow_spark.queries.base import ORACLE as _ORACLE_REG  # noqa: E402

_ORACLE_REG["events_shapley_attribution"] = _ORACLE_REG[
    "events_shapley_attribution"
].replace("{SHAPLEY_UNION}", _shapley_union_sql())


# ------------------------------------------------ Gumbel block maxima


@query(
    "events_gumbel_block_maxima",
    oracle="""
    WITH daily_max AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS d,
             MAX(value) AS mx
      FROM events GROUP BY 1, 2
    ),
    fit AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_blocks,
             CAST(SUM(CAST(mx AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
               AS mean_mx,
             sqrt((SUM(mx * mx)
                   - CAST(SUM(CAST(mx AS DECIMAL(18,6))) AS DOUBLE)
                     * CAST(SUM(CAST(mx AS DECIMAL(18,6))) AS DOUBLE)
                     / COUNT(*))
                  / (COUNT(*) - 1)) AS sd_mx
      FROM daily_max GROUP BY event_type
    ),
    params AS (
      SELECT event_type, n_blocks,
             sd_mx * sqrt(6.0) / pi() AS beta,
             mean_mx - 0.5772156649015329 * (sd_mx * sqrt(6.0) / pi())
               AS mu
      FROM fit
    )
    SELECT event_type, n_blocks,
           floor(mu * 10000 + 0.5) / 10000 AS gumbel_mu,
           floor(beta * 10000 + 0.5) / 10000 AS gumbel_beta,
           floor((mu - beta * ln(-ln(1 - 1.0 / 30))) * 10000 + 0.5)
             / 10000 AS return_level_30d,
           floor((mu - beta * ln(-ln(1 - 1.0 / 90))) * 10000 + 0.5)
             / 10000 AS return_level_90d,
           floor((mu - beta * ln(-ln(1 - 1.0 / 365))) * 10000 + 0.5)
             / 10000 AS return_level_365d
    FROM params
    ORDER BY event_type
    """,
)
def events_gumbel_block_maxima(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gumbel (EV-I) fit to daily block maxima by the method of
    moments — beta = sd sqrt(6)/pi, mu = mean - gamma_E beta — with
    the T-day return levels mu - beta ln(-ln(1 - 1/T)). The
    block-maxima counterpart to the peaks-over-threshold family
    (`events_gpd_pot_fit` / `events_gpd_return_levels`); material
    disagreement between the two return-level columns flags model
    risk in the tail, which is exactly when you must not trust a
    single extrapolation.

    Scale shape: one (stream x day) max rollup (map-side combinable),
    then constant-size moment arithmetic per stream. Block maxima are
    exact; the moments go through the decimal-sum discipline.
    """
    e = load(spark, sf_dir, "events")
    dmax = e.groupBy(
        "event_type",
        F.floor(F.unix_micros(F.col("ts")) / 86400000000.0)
        .cast("bigint")
        .alias("d"),
    ).agg(F.max("value").alias("mx"))
    fit = dmax.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_blocks"),
        (
            F.sum(F.col("mx").cast("decimal(18,6)")).cast("double")
            / F.count("*")
        ).alias("mean_mx"),
        F.sqrt(
            (
                F.sum(F.col("mx") * F.col("mx"))
                - F.sum(F.col("mx").cast("decimal(18,6)")).cast("double")
                * F.sum(F.col("mx").cast("decimal(18,6)")).cast("double")
                / F.count("*")
            )
            / (F.count("*") - 1)
        ).alias("sd_mx"),
    )
    import math

    beta = F.col("sd_mx") * math.sqrt(6.0) / math.pi
    mu = F.col("mean_mx") - 0.5772156649015329 * beta

    def rl(t: int):
        return mu - beta * F.lit(math.log(-math.log(1 - 1.0 / t)))

    return fit.select(
        "event_type",
        "n_blocks",
        quantize(mu, 4).alias("gumbel_mu"),
        quantize(beta, 4).alias("gumbel_beta"),
        quantize(rl(30), 4).alias("return_level_30d"),
        quantize(rl(90), 4).alias("return_level_90d"),
        quantize(rl(365), 4).alias("return_level_365d"),
    ).orderBy("event_type")


# ------------------------------------------------ extraction rates

_EXTRACTORS = (
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"),
    ("url", r"https?://[^\s]+"),
    ("iso_date", r"[0-9]{4}-[0-9]{2}-[0-9]{2}"),
    ("decimal_qty", r"[0-9]+\.[0-9]+"),
)


@query(
    "text_structured_extraction_rates",
    oracle=f"""
    WITH x AS (
      SELECT source,
             {",".join(
                 f"len(regexp_extract_all(text, '{rx}')) AS n_{name}"
                 for name, rx in _EXTRACTORS
             )}
      FROM documents
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           {",".join(
               f"floor(SUM(CASE WHEN n_{name} > 0 THEN 1 ELSE 0 END)"
               f" * 1.0 / COUNT(*) * 10000 + 0.5) / 10000"
               f" AS coverage_{name}"
               for name, _ in _EXTRACTORS
           )},
           CAST(SUM({" + ".join(
               f"n_{name}" for name, _ in _EXTRACTORS
           )}) AS BIGINT) AS total_extractions
    FROM x GROUP BY source
    ORDER BY source
    """,
)
def text_structured_extraction_rates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Field-extraction feasibility probe per source: document
    coverage for email / URL / ISO-date / decimal-quantity patterns
    plus the total extraction volume. A shard with 0.2% date coverage
    doesn't get a date-normalization stage; one with 40% URL coverage
    feeds the `dedup_url_canonical` pipeline. Regexes live in the
    shared RE2-and-Java-compatible subset.

    Scale shape: one regex-count map stage, one map-side-combinable
    source rollup — scan-bound; counts are exact integers.
    """
    d = load(spark, sf_dir, "documents")
    cols = [
        F.size(
            F.expr(f"regexp_extract_all(text, '{rx}', 0)")
        ).alias(f"n_{name}")
        for name, rx in _EXTRACTORS
    ]
    x = d.select("source", *cols)
    return (
        x.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            *[
                quantize(
                    F.sum(
                        F.when(F.col(f"n_{name}") > 0, 1).otherwise(0)
                    )
                    * 1.0
                    / F.count("*"), 4
                ).alias(f"coverage_{name}")
                for name, _ in _EXTRACTORS
            ],
            F.sum(
                sum(F.col(f"n_{name}") for name, _ in _EXTRACTORS)
            )
            .cast("bigint")
            .alias("total_extractions"),
        )
        .orderBy("source")
    )
