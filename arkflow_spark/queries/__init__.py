"""Query registry: importing this package registers every named query.

Every module in this package except ``base`` is found by file and imported
here; each registers its queries into
:data:`arkflow_spark.queries.base.QUERIES` / ``ORACLE`` via the ``@query``
decorator, which rejects a name registered twice. ``__spark_entry__.py``
re-exports them for the driver contract.
"""

import importlib
import pkgutil

from arkflow_spark.queries.base import ORACLE, QUERIES  # noqa: F401

for _info in pkgutil.iter_modules(__path__):
    if _info.name != "base":
        importlib.import_module(f"{__name__}.{_info.name}")


# The driver's per-round correctness check samples the FIRST 50 registry
# entries in insertion order. ROUND-8 HEAD, per VERDICT r7 item 1:
# the three deferred changed-dataflow re-proofs + the two r8
# closure-index conversions, then the 12 never-sampled r7 operators
# (batches 131-134), then oldest-never-sampled — 45 first-ever samples
# (cumulative ever-sampled reaches 325). driver_ledger.json is the
# authoritative sampled/never-sampled record (regenerate with
# scripts/driver_ledger.py; integrity pinned by
# tests/test_driver_ledger.py, which also asserts this head spends its
# slots on debt or changed dataflows, not idle re-proofs).
_DRIVER_PRIORITY = (
    # ---- r9 head (the driver samples the FIRST 50 registry entries).
    # 9 re-proof slots + 41 first-ever samples (cumulative ever-sampled
    # reaches 366 if all land). Re-proof slots go to dataflows REWRITTEN
    # in r8/r9 that the driver has not hash-checked since the rewrite —
    # the protection the correctness gate exists for — before first-ever
    # coverage: graph_kcore_peel (r8 index adoption + r9 gather-form
    # peel), ann_ivf_assignment_stability (r9 argmin aggregate),
    # graph_triangle_count / graph_clustering_coefficient (r8 degree
    # orientation + r9 exchange-free degrees),
    # documents_dedup_quality_survivorship (r9 cluster-labels index
    # read), dedup_cluster_canonical (r8 signature carry + r9 refactor),
    # and VERDICT r8 item 8's named rewritten-but-never-resampled
    # trio q2_min_cost_supplier / events_hampel_outliers /
    # dq_sentinel_values. Then the 4 never-sampled r8 bench operators
    # + the 3 never-sampled r8 rewrites the VERDICT named, then the
    # oldest never-sampled backlog in registry order (the dq_intra /
    # median_polish entries double as r8-rewrite re-proofs):
    "graph_kcore_peel",
    "ann_ivf_assignment_stability",
    "graph_triangle_count",
    "graph_clustering_coefficient",
    "documents_dedup_quality_survivorship",
    "dedup_cluster_canonical",
    "q2_min_cost_supplier",
    "events_hampel_outliers",
    "dq_sentinel_values",
    "ann_pq_quantization_error",
    "ann_pq_reconstruction_by_label",
    "dedup_snapshot_merge",
    "documents_snapshot_quality_drift",
    "orders_littles_law_audit",
    "embedding_pca_power",
    "events_theil_sen_trend",
    "ann_pq_topk",
    "ann_ivf_pq_rerank",
    "ann_ivf_pq_recall_eval",
    "dq_last_digit_uniformity",
    "events_daily_mix_divergence",
    "dq_temporal_ordering",
    "ann_knn_accuracy_sweep",
    "dq_intra_order_consistency",
    "events_record_surprise",
    "events_mean_cumulative_function",
    "text_dispersion_dp",
    "dq_primary_key_uniqueness",
    "embedding_fisher_ratio_dims",
    "events_anderson_darling_2sample",
    "orders_month_end_loading",
    "orders_priority_lead_time",
    "customer_balance_order_propensity",
    "events_behavior_cooccurrence_lift",
    "events_bounce_sessions",
    "events_user_activity_markov",
    "part_hedonic_price_2var",
    "documents_novelty_decay_fit",
    "events_extremal_index_runs",
    "graph_degree_assortativity",
    "events_compound_poisson_check",
    "events_u_chart_error_rate",
    "lineitem_experience_curve",
    "events_median_polish_hourweek",
    "documents_neyman_allocation",
    "events_icc_user_clustering",
    "lineitem_part_price_dispersion",
    "embedding_cluster_source_nmi",
    "events_forecast_mase_seasonal_naive",
    "dedup_transitivity_audit",
    # ---- positions 51-52: r8/r9-touched but value-identical by
    # construction (customer_brand_switching: r8 struct-min arg-max,
    # interleaved-A/B + strict-parity proven; dedup_minhash_bbit_
    # calibration: r9 persist drop only, plan-level change, driver
    # green at r8 post-rewrite) — queued first for a future head
    # rather than displacing first-ever samples (the r7/r8 precedent).
    "customer_brand_switching",
    "dedup_minhash_bbit_calibration",
    # ---- remaining registry entries keep registration order (the
    # _reorder_for_driver fallback); the full per-round sampling
    # record lives in driver_ledger.json.
)


def _reorder_for_driver() -> None:
    head = [n for n in _DRIVER_PRIORITY if n in QUERIES]
    assert len(head) == len(_DRIVER_PRIORITY), (
        sorted(set(_DRIVER_PRIORITY) - set(QUERIES))
    )
    ordered = head + [n for n in QUERIES if n not in set(head)]
    snapshot = {n: QUERIES[n] for n in ordered}
    QUERIES.clear()
    QUERIES.update(snapshot)
    osnap = {n: ORACLE[n] for n in ordered if n in ORACLE}
    ORACLE.clear()
    ORACLE.update(osnap)


_reorder_for_driver()
