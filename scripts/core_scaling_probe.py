"""Core-scaling probe (r9, VERDICT r8 item 3): time the most expensive
bench queries on a 10x corpus under DIFFERENT core counts so parallel
speedup is demonstrated, not argued from plan shapes.

At sf0.1 the per-query harness floor (~0.3-0.5s of planning/scheduling)
hides compute scaling — 368/391 queries showed a ~1.0 ratio between 8
and 32 cores in BENCH_r08/BENCH_r08_c8. This probe removes the floor by
running on the 10x synthesized datasets (scripts/scale_probe.py's
builders: 10x facts with fixed dims + 10x documents/embeddings with
preserved near-dup structure) where compute dominates.

Usage (one process per core count — `local[N]` is fixed at session
start):

    SPARK_GRAFT_CPUS=32 python scripts/core_scaling_probe.py \
        --out=/tmp/core_probe_c32.json [--queries=a,b,c]
    SPARK_GRAFT_CPUS=8  python scripts/core_scaling_probe.py \
        --out=/tmp/core_probe_c8.json  [--queries=a,b,c]
    python scripts/core_scaling_probe.py --combine \
        /tmp/core_probe_c8.json /tmp/core_probe_c32.json

Methodology per query: 1 cold + 2 warm runs, `clearCache()` before
every run, warm = min of the two (the bench policy). The combine step
emits one JSON line {query: {"c8": s, "c32": s, "ratio": r}} with
ratio = t8/t32 — 4x the cores, so a compute-bound query should show
a ratio well above 1 (ideally toward 4); a ratio ~1 means the query is
floor- or driver-bound at this size.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The default list: the most expensive queries in the driver's
# BENCH_r08 warm table that run correctly on the combined 10x probe
# dataset (facts 10x + documents/embeddings 10x). Queries whose probe
# compatibility is known-broken (multimodal BIGINT doc-id casts) are
# excluded per scale_probe.py's note.
DEFAULT_QUERIES = (
    # embeddings-heavy (10x vectors)
    "ann_knn_reciprocity",
    "embedding_cka_blocks",
    "embedding_uniformity_alignment",
    "embedding_hubness_knn",
    "embedding_lof_simplified",
    "ann_ivf_assignment_stability",
    "embedding_matryoshka_prefix_recall",
    "embedding_jl_distortion",
    "embedding_label_centroid_margin",
    # documents-heavy (10x docs)
    "text_char_trigram_lang_signature",
    "text_burrows_delta",
    "text_boilerplate_shingles",
    "dedup_minhash_bbit_calibration",
    "dedup_minhash_lsh",
    "text_bigram_logprob",
    "documents_dedup_quality_survivorship",
    # relational-heavy (10x lineitem/orders/events)
    "graph_pagerank_bucketed",
    "graph_kcore_peel",
    "graph_triangle_count",
    "graph_clustering_coefficient",
    "layout_encoding_advisor",
    "orders_weibull_cycletime_fit",
    "lineitem_abc_xyz_matrix",
    "part_demand_pooling_benefit",
    "events_theil_sen_trend",
    "customer_brand_switching",
    "orders_chain_ladder",
    "events_session_capped",
    "nation_fisher_exact_deficit",
)

PROBE_DIR = "/tmp/scale_probe_combined_x10"


def build_combined(spark, out_dir: str) -> None:
    """10x facts + fixed dims (scale_probe.build_relational) PLUS 10x
    documents/embeddings (scale_probe.build) in ONE directory so every
    query family sees its scale axis grow."""
    from scripts.scale_probe import build, build_relational

    build_relational(spark, out_dir)  # writes 1x docs/embeddings too
    build(spark, out_dir)  # overwrites docs/embeddings with the 10x sets


def run(out_path: str, names) -> None:
    from arkflow_spark.queries import QUERIES
    from arkflow_spark.session import get_spark

    spark = get_spark("core-scaling-probe")
    if not os.path.exists(os.path.join(PROBE_DIR, "lineitem.parquet")):
        build_combined(spark, PROBE_DIR)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    results: dict[str, float] = {}
    for name in names:
        try:
            runs = []
            for i in range(3):  # 1 cold + 2 warm
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                QUERIES[name](spark, PROBE_DIR).collect()
                runs.append(time.perf_counter() - t0)
            results[name] = round(min(runs[1:]), 2)
            print(f"# c{cpus} {name}: cold={runs[0]:.2f} warm={results[name]}",
                  file=sys.stderr)
        except Exception as exc:  # probe-incompatible query: record, move on
            results[name] = None
            print(f"# c{cpus} {name}: FAILED {exc}", file=sys.stderr)
    payload = {"metric": "core_scaling_probe", "cpus": int(cpus),
               "data_dir": PROBE_DIR, "queries": results}
    with open(out_path, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps(payload))


def combine(p8: str, p32: str) -> None:
    with open(p8) as fh:
        r8 = json.load(fh)
    with open(p32) as fh:
        r32 = json.load(fh)
    out = {}
    for name, t8 in sorted(r8["queries"].items()):
        t32 = r32["queries"].get(name)
        if t8 is None or t32 is None:
            continue
        out[name] = {
            "c8": t8,
            "c32": t32,
            "ratio": round(t8 / max(t32, 1e-9), 2),
        }
    print(json.dumps({"metric": "core_scaling_x10", "queries": out}))


def main() -> None:
    if "--combine" in sys.argv:
        paths = [a for a in sys.argv[1:] if not a.startswith("--")]
        combine(paths[0], paths[1])
        return
    only = [
        a.split("=", 1)[1].split(",")
        for a in sys.argv[1:]
        if a.startswith("--queries=")
    ]
    outs = [
        a.split("=", 1)[1] for a in sys.argv[1:] if a.startswith("--out=")
    ]
    names = only[0] if only else list(DEFAULT_QUERIES)
    run(outs[0] if outs else "/tmp/core_probe.json", names)


if __name__ == "__main__":
    main()
