"""Hypothesis fuzz of the analytics operators against the DuckDB oracle on
generated inputs — exercises the shapes the sf tables rarely produce:
single-event users, duplicate timestamps, funnel stages out of order,
cohort days with one user, same-day status flips, empty delta/base sides
of the CDC merge."""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from arkflow_spark.plans.oracle import compare
from arkflow_spark.queries import ORACLE, QUERIES

# r9: gated behind ARKFLOW_FULL_TESTS=1 — hypothesis sweeps vs DuckDB, ~12 min
# (VERDICT r8 item 1: the driver's default verify profile must finish
# inside its window; nothing deleted, full suite runs with the flag)
pytestmark = pytest.mark.slow


EVENT_QUERIES = (
    "events_ewma",
    "events_anomaly_zscore",
    "events_funnel",
    "events_retention_cohort",
    "events_multires_rollup",
    "events_windowed_topk",
    # round-3 second session: OHLC boundary picks on duplicate
    # timestamps, counter resets, degenerate histograms (hi == lo),
    # changepoint frames that never fill
    "events_ohlc_bars",
    "events_counter_rate",
    "events_value_histogram",
    "events_changepoint_score",
    # round-3 fourth session: zero-duration TWA segments, single-pair
    # wavelet levels, empty error streams (MTBF over zero incidents),
    # sub-decile PSI baselines (duplicate edges), constant series
    # (sd=0 peaks), single-day MAU intervals
    "events_time_weighted_avg",
    "events_m4_downsample",
    "events_haar_wavelet",
    "events_peak_detection",
    "events_incident_mtbf",
    "events_burst_hysteresis",
    "events_apdex_score",
    "events_top_paths",
    "events_trend_movers",
    "events_dau_mau_stickiness",
    "events_error_budget_burn",
    "events_ddsketch_quantile",
    "events_drift_psi",
    "events_feature_crosses_hashed",
    # LTTB: 1/2/3-point series, all-equal-count tie-breaks
    "events_lttb_downsample",
    # rank-selected bucket quantiles on tiny groups; degenerate
    # (0/1-point) retention curves -> NULL fits in both engines
    "events_percentile_bands",
    "events_retention_halflife",
    # round-4: 1-user / zero-pre-period-variance CUPED inputs must be
    # NULL (try_divide) in both engines, never DIVIDE_BY_ZERO/NaN
    "events_cuped_adjustment",
    # round-4 batch 27-29: empty resamples (sum w = 0 -> NULL mean),
    # k > n samples, sub-2-positive-value Hill groups (excluded), zero
    # log-sum tails (NULL), duplicate-timestamp lateness ties
    "events_bootstrap_ci",
    "events_uniform_sample_hashprio",
    "events_hill_tail_index",
    "events_lateness_watermark_audit",
    # round-4 batch 31: all-zero-value streams (NULL Gini), single-event
    # streams (NULL MRbar -> zero out-of-limit count), 1-hour series (no
    # Theil-Sen pairs -> stream absent), 1-minute streams (variance 0 ->
    # burstiness -1)
    "events_gini_concentration",
    "events_spc_xmr_chart",
    "events_theil_sen_trend",
    "events_burstiness_fano",
    # round-4 batch 33: single-day streams (no consecutive-day pairs ->
    # empty drift), <k-user days (union < 2k in the Jaccard denominator)
    "events_topk_drift_jaccard",
    # round-4 batch 35: edge frames (4-element neighborhoods, lower
    # median), constant series (MAD 0 -> nothing flagged), single-cell
    # hour-of-week profiles
    "events_hampel_outliers",
    "events_hourweek_profile",
    # round-4 batch 36: one-cohort streams (filtered out), all-tied
    # values (KS D=0; MWU zero tie-corrected variance -> NULL z),
    # single-event streams
    "events_ks_test",
    "events_mann_whitney",
    # round-4 batch 37: constant-value / constant-minute streams (zero
    # rank variance -> NULL rho), sub-8-point streams (no full PAA
    # window -> empty motif sets), sd=0 streams excluded
    "events_spearman_corr",
    "events_sax_motifs",
    # round-4 batch 38: single-cell contingency grids (dof 0 -> NULL
    # V via 0-min guard is impossible: r,c >= 1 so dof 0 -> V div 0),
    # no-transition streams (empty entropy), sub-24h streams (empty
    # Holt-Winters output)
    "events_chi_square_independence",
    "events_markov_entropy_rate",
    "events_holt_winters",
    # round-4 batch 39: sub-7-hour streams (excluded), zero-variance
    # series (c0 = 0 excluded), lag columns NULL at series heads
    "events_ljung_box",
    # round-4 batch 40: 1-2-point streams (p05 = p95 = the value,
    # std NULL at n=1), single-excess tails (n<2 excluded), b0 = 2*b1
    # degenerate PWM (NULL xi/sigma via NULLIF)
    "events_winsorized_stats",
    "events_gpd_pot_fit",
    # round-4 batch 41: single-event streams (R = 1 exactly), midnight
    # wraparound means, duplicate-timestamp angles
    "events_circular_hour_stats",
    # round-4 batch 42: monotone streams (every point a record),
    # constant streams (1 record), 1-point streams (ln(1) = 0)
    "events_running_records",
    # round-4 batch 43: anchor == every event (age 0, weight 1),
    # single-event streams (freshness exactly 1)
    "events_decayed_rate",
    # round-4 batch 44: 1-event streams (0 pairs -> NULL flappiness),
    # constant streams (no crossings), all-above/all-below splits
    "events_threshold_flappiness",
    # round-4 batch 45: single-event streams (no gaps -> excluded),
    # all-duplicate timestamps (s1 = 0 -> excluded), users who never
    # reach 5 events (empty activation set -> NULL percentiles)
    "events_inspection_paradox",
    "events_activation_time_to_n",
)
ORDER_QUERIES = (
    "orders_scd2_history",
    "orders_merge_upsert",
    # round-3 fourth session: empty pre/post splits, single-order
    # cohorts, same-day skyline peers, modular snapshot classes on
    # tiny key ranges, 2-day duplicate windows
    "orders_incremental_agg_merge",
    "orders_snapshot_diff",
    "orders_mix_shift_decomposition",
    "orders_cohort_revenue_ltv",
    "orders_skyline_2d",
    "orders_duplicate_payments",
    "scalar_fiscal_calendar",
    # round-4 batch 33: snapshot == every order date (all age 0),
    # zero open orders (empty report), single-status inputs
    "orders_open_aging_buckets",
    # round-4 batch 39: single-order customers (x=0 -> P(alive)=1,
    # t_x=0), all-same-day histories (span 0)
    "customer_bgnbd_palive",
    # round-4 batch 44: single-year customers (offset 0 -> haircut 1),
    # zero-price orders (nominal 0 -> NULL haircut in neither engine:
    # 0/0 guarded by the same division in both)
    "customer_clv_discounted",
)

event = st.tuples(
    st.integers(min_value=0, max_value=3),              # user_id
    st.integers(min_value=0, max_value=60 * 24 * 10),   # minutes from t0
    st.sampled_from(["view", "click", "purchase"]),
    st.integers(min_value=0, max_value=10_000),         # value in cents
)
order = st.tuples(
    st.integers(min_value=0, max_value=2),              # custkey
    st.integers(min_value=0, max_value=365 * 6),        # days from t0
    st.sampled_from(["O", "F", "P"]),
    st.integers(min_value=0, max_value=500_000),        # price in cents
)


def _write(spark, path, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(event, min_size=1, max_size=30, unique=True))
def test_event_analytics_match_duckdb(spark, tmp_path_factory, rows):
    t0 = dt.datetime(2024, 1, 1)
    data = [
        (i, t0 + dt.timedelta(minutes=m), u, typ, c / 100.0, "{}")
        for i, (u, m, typ, c) in enumerate(sorted(rows))
    ]
    sf = tmp_path_factory.mktemp("anfuzz")
    _write(
        spark,
        str(sf / "events.parquet"),
        data,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    )
    try:
        for name in EVENT_QUERIES:
            res = compare(name, spark, str(sf), QUERIES[name], ORACLE[name])
            assert res.ok, (name, rows, str(res))
    finally:
        spark.catalog.clearCache()  # events_multires_rollup persists


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(order, min_size=1, max_size=25, unique=True))
def test_order_analytics_match_duckdb(spark, tmp_path_factory, rows):
    t0 = dt.datetime(1995, 1, 1)
    prio = {"O": "1-URGENT", "F": "3-MEDIUM", "P": "5-LOW"}
    data = [
        (i, k, status, c / 100.0, t0 + dt.timedelta(days=d),
         prio[status])
        for i, (k, d, status, c) in enumerate(sorted(rows))
    ]
    sf = tmp_path_factory.mktemp("ordfuzz")
    _write(
        spark,
        str(sf / "orders.parquet"),
        data,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    for name in ORDER_QUERIES:
        res = compare(name, spark, str(sf), QUERIES[name], ORACLE[name])
        assert res.ok, (name, rows, str(res))


vec = st.lists(
    st.integers(min_value=-1000, max_value=1000).map(lambda c: c / 100.0),
    min_size=64,
    max_size=64,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.large_base_example,
    ],
)
@given(
    vecs=st.lists(vec, min_size=17, max_size=40),
    dup=st.integers(min_value=0, max_value=100),
)
def test_pq_topk_matches_duckdb(spark, tmp_path_factory, vecs, dup):
    # duplicate one vector somewhere to force exact distance ties through
    # the argmin and ranking tie-breaks
    vecs = vecs + [vecs[dup % len(vecs)]]
    data = [(i, v, i % 3) for i, v in enumerate(vecs)]
    sf = tmp_path_factory.mktemp("pqfuzz")
    _write(
        spark,
        str(sf / "embeddings.parquet"),
        data,
        "vec_id bigint, embedding array<float>, label int",
    )
    res = compare(
        "ann_pq_topk",
        spark,
        str(sf),
        QUERIES["ann_pq_topk"],
        ORACLE["ann_pq_topk"],
    )
    assert res.ok, str(res)


doc_text = st.text(
    alphabet=" \t\n\r" + "abcdeé漢仮",  # whitespace runs + non-ASCII
    min_size=0,
    max_size=40,
)


DOC_QUERIES = (
    "dedup_incremental_snapshot",
    "documents_pack_sequences",
    "documents_training_mix",
    # round-4: single-word / <=chunk-size docs (exactly 1 chunk), stride
    # boundary off-by-ones, whitespace-only-ish texts; degenerate score
    # histograms (all docs same score)
    "documents_rag_chunks",
    "documents_quality_threshold_sweep",
    # round-4 batch 30: sub-span-length docs (excluded from the span
    # pass on both engines), duplicate texts (shared spans / distance-0
    # pairs), empty-norm blocks (NULL similarity via try_divide /
    # NULLIF), 1-doc languages (ntile degenerates to 'head'),
    # zero-regex-token docs (fertility 0), BMP non-ASCII Levenshtein
    "dedup_substring_spans",
    "documents_ccnet_ppl_buckets",
    "dedup_edit_distance_blocked",
    "documents_tokenizer_fertility",
    # round-4 batch 33: all-duplicate corpora (dedup stage drops all but
    # one), whitespace-only docs (symbol ratio 1 -> gate g2 drops), CJK
    # fuzz chars exercising the script-class regexes in both engines
    "documents_filter_funnel",
    "text_mixed_script_ratio",
    # round-4 batch 34: 1-word docs (zero bigrams -> absent from KN
    # scoring), caps larger than the domain (everything kept), repeated
    # texts (shared bigram tables)
    "documents_domain_cap_sample",
    "text_bigram_kn_logprob",
    # round-4 batch 35: docs below the gram length (NULL rep-n columns
    # for that n), all-identical grams (rep fraction -> (n-1)/n)
    "text_repeated_ngram_fractions",
    # round-4 batch 40: repeated texts (multi-member clusters), unicode
    # vocabulary sort parity (array_sort vs list_sort binary order),
    # no-duplicate corpora (empty golden output)
    "documents_survivorship_golden",
    # round-4 batch 41: single-source corpora (JSD = 0), words unique to
    # one source (q-side mass only), unicode token parity
    "text_js_divergence_sources",
    # round-4 batch 42: sub-25-word docs (no MATTR windows -> excluded
    # from the join), all-identical-word windows (TTR 1/25), temperature
    # weights on single-source corpora (share 1, epochs 1)
    "text_mattr_lexical_diversity",
    "documents_temperature_mix_weights",
    # round-4 batch 44: vocabularies smaller than every k (coverage 1.0
    # at each grid point), single-word corpora
    "text_vocab_coverage_curve",
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=st.lists(doc_text, min_size=1, max_size=30))
def test_document_pipeline_matches_duckdb(spark, tmp_path_factory, texts):
    """Fingerprinting, tokenization (TOKEN_RE regexp parity Java vs RE2),
    packing arithmetic, and the full training-mix composition on
    whitespace-heavy / non-ASCII generated corpora."""
    data = [
        (i, t, ("en", "de")[i % 2], ("web", "books")[i % 3 == 0], len(t))
        for i, t in enumerate(texts)
    ]
    sf = tmp_path_factory.mktemp("docfuzz")
    _write(
        spark,
        str(sf / "documents.parquet"),
        data,
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    )
    for name in DOC_QUERIES:
        res = compare(name, spark, str(sf), QUERIES[name], ORACLE[name])
        assert res.ok, (name, texts, str(res))


SUPPLY_QUERIES = (
    # round-4 batch 27-29 over orders+lineitem(+part+customer):
    # single-order customers (no gaps), same-day consecutive orders
    # (gap 0), 1-line orders, single discount level (k=1 -> NULL F),
    # zero-variance prices (NULL elasticity), all-on-time / all-late
    # months, backlogs that never close
    "orders_backlog_timeseries",
    "orders_otif_fill_rate",
    "customer_interpurchase_gaps",
    "lineitem_discount_anova",
    "lineitem_price_elasticity",
    # round-4 batch 32: single-supplier edge sets (1 histogram bucket ->
    # NULL log-log slope via NULLIF/try_divide in both engines)
    "graph_degree_powerlaw",
    # round-4 batch 34: single-line suppliers (p90 = the only row),
    # single-week demand (XYZ 'Z' via the n<2 NULL CV), zero-quantity
    # weeks, tie-heavy ABC cumulative shares broken by partkey
    "lineitem_abc_xyz_matrix",
    # round-4 batch 35: 1-day ship spans (years floor at 1/365),
    # single-part corpora (top-20 = all), demand ties broken by partkey
    "orders_eoq_replenishment",
    # round-4 batch 36: single-status dims (one open-ended interval),
    # same-day ship-vs-change boundaries (half-open intervals), empty
    # change history beyond the first order
    "lineitem_scd2_pit_revenue",
    # round-4 batch 37: single-week parts (ECDF = 1 at the only level,
    # Q* = that level, safety 0), 1-part/2-part graphs (no 2-hop pairs
    # -> empty link-prediction output)
    "lineitem_newsvendor_qstar",
    "graph_link_prediction_ra",
    # round-4 batch 39: same-day ships (t=0 excluded, possibly-empty
    # classes), single-distinct-t fits EXCLUDED (the regression
    # denominator is decimal-vs-double cancellation noise, not exact 0
    # — fuzz-caught), all-on-time suppliers (Wilson CI at p=1)
    "orders_weibull_cycletime_fit",
    "supplier_wilson_otd_ci",
    # round-4 batch 41: same-day place/complete (cycle 0, WIP +1/-1 on
    # one day), zero-completion months (NULL Little's W), 1-day spans
    "orders_littles_law_audit",
    # round-4 batch 42: single-demand-week parts (anchor only, rate =
    # size), consecutive-week demand (interval 1), k > n top cut
    "orders_croston_forecast",
    # round-4 batch 43: single-year corpora (index exactly 1.0 on the
    # base year only), parts absent from the base year (excluded),
    # 1-part/2-part graphs (min-label floods in round 1)
    "lineitem_price_index",
    "graph_community_label_prop_bucketed",
    # round-4 batch 44: single-supplier parts (HHI 1, leader share 1),
    # zero-quantity lineitems (share 0/0 -> both engines divide the
    # same exact decimal totals)
    "part_dual_sourcing_shares",
)

supply_order = st.tuples(
    st.integers(min_value=0, max_value=2),               # custkey
    st.integers(min_value=0, max_value=200),             # order day
    st.integers(min_value=0, max_value=60),              # ship delay days
    st.integers(min_value=0, max_value=2),               # partkey
    st.integers(min_value=1, max_value=50),              # quantity
    st.integers(min_value=100, max_value=500_000),       # price cents
    st.sampled_from([0.0, 0.05, 0.1]),                   # discount
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(supply_order, min_size=1, max_size=20, unique=True))
def test_supply_chain_analytics_match_duckdb(spark, tmp_path_factory, rows):
    t0 = dt.datetime(1995, 1, 1)
    orders = [
        (i, ck, "O", pc / 100.0, t0 + dt.timedelta(days=d), "1-URGENT")
        for i, (ck, d, sd, pk, q, pc, disc) in enumerate(sorted(rows))
    ]
    lineitem = [
        (
            i, pk, 0, 1, float(q), pc / 100.0, disc, 0.0, "N", "O",
            t0 + dt.timedelta(days=d + sd),
        )
        for i, (ck, d, sd, pk, q, pc, disc) in enumerate(sorted(rows))
    ]
    part = [(k, f"part{k}", f"Brand#{k + 1}", "t", 1, 1.0) for k in range(3)]
    customer = [
        (k, f"c{k}", 0, 0.0, ("AUTOMOBILE", "BUILDING", "MACHINERY")[k])
        for k in range(3)
    ]
    sf = tmp_path_factory.mktemp("supplyfuzz")
    _write(
        spark, str(sf / "orders.parquet"), orders,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    _write(
        spark, str(sf / "lineitem.parquet"), lineitem,
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp",
    )
    _write(
        spark, str(sf / "part.parquet"), part,
        "p_partkey bigint, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    )
    _write(
        spark, str(sf / "customer.parquet"), customer,
        "c_custkey bigint, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string",
    )
    for name in SUPPLY_QUERIES:
        res = compare(name, spark, str(sf), QUERIES[name], ORACLE[name])
        assert res.ok, (name, rows, str(res))


VECTOR_QUERIES = (
    # round-4 batch 32: duplicate vectors (distance ties -> cand_id
    # tie-break), all-zero vectors (NULL cosine ordered last in both
    # engines), constant dimensions (mx == mn -> code 0, recon == mn)
    "ann_sq8_topk",
    "ann_binary_hamming_topk",
    "embedding_label_outliers",
    # round-4 batch 43: all-duplicate samples (every r1 = 0 -> excluded,
    # NULL dimension), distance ties broken by cand id
    "embedding_intrinsic_dim_twonn",
    # round-4 batch 45: all-zero vectors excluded (nrm > 0), duplicate
    # vectors (max cosine 1.0)
    "embedding_anisotropy",
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.large_base_example,
    ],
)
@given(
    vecs=st.lists(vec, min_size=17, max_size=40),
    dup=st.integers(min_value=0, max_value=100),
    zero=st.booleans(),
)
def test_quantized_ann_matches_duckdb(
    spark, tmp_path_factory, vecs, dup, zero
):
    vecs = vecs + [vecs[dup % len(vecs)]]
    if zero:  # an all-zero vector: NULL cosine, code 0 everywhere
        vecs = vecs + [[0.0] * 64]
    data = [(i, v, i % 3) for i, v in enumerate(vecs)]
    sf = tmp_path_factory.mktemp("sqfuzz")
    _write(
        spark,
        str(sf / "embeddings.parquet"),
        data,
        "vec_id bigint, embedding array<float>, label int",
    )
    for name in VECTOR_QUERIES:
        res = compare(name, spark, str(sf), QUERIES[name], ORACLE[name])
        assert res.ok, (name, str(res))


# round-5 (ADVICE r4): ragged / NULL-element embeddings must be filtered
# identically by both engines in the all-pairs geometry diagnostics —
# Spark's zip_with NULL-pads a short vector while DuckDB's shared-index
# join keeps the partial overlap, so an unfiltered ragged vector silently
# diverges. Only the two hardened queries claim this contract.
RAGGED_SAFE_QUERIES = (
    "embedding_intrinsic_dim_twonn",
    "embedding_anisotropy",
)


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.large_base_example,
    ],
)
@given(
    vecs=st.lists(vec, min_size=17, max_size=30),
    short_len=st.integers(min_value=0, max_value=63),
    null_pos=st.integers(min_value=0, max_value=63),
)
def test_ragged_embeddings_match_duckdb(
    spark, tmp_path_factory, vecs, short_len, null_pos
):
    base = vecs[0]
    ragged = base[:short_len]  # shorter than 64
    with_null = list(base)
    with_null[null_pos] = None  # full-length but a NULL element
    data = [(i, v, i % 3) for i, v in enumerate(vecs)]
    data.append((len(data), ragged, 0))
    data.append((len(data), with_null, 1))
    sf = tmp_path_factory.mktemp("ragfuzz")
    _write(
        spark,
        str(sf / "embeddings.parquet"),
        data,
        "vec_id bigint, embedding array<float>, label int",
    )
    for name in RAGGED_SAFE_QUERIES:
        res = compare(name, spark, str(sf), QUERIES[name], ORACLE[name])
        assert res.ok, (name, str(res))
