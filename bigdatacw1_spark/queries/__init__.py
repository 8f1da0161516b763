"""Query modules. Importing this package populates the registry."""

from bigdatacw1_spark.queries.registry import REGISTRY, QuerySpec

# Each import registers its queries via the @q decorator.
from bigdatacw1_spark.queries import inventory  # noqa: F401  (reference ports)
from bigdatacw1_spark.queries import ops_suite  # noqa: F401  (per-operator micro-queries)
from bigdatacw1_spark.queries import extensions  # noqa: F401  (dedup/similarity/text/multimodal)
from bigdatacw1_spark.queries import streaming_suite  # noqa: F401  (event-time windows)
from bigdatacw1_spark.queries import tpch  # noqa: F401  (TPC-H-shaped headliners)
from bigdatacw1_spark.queries import sampling_suite  # noqa: F401  (deterministic sampling)
from bigdatacw1_spark.queries import warehouse  # noqa: F401  (lifecycle + behavioral)
from bigdatacw1_spark.queries import finance_suite  # noqa: F401  (FX + trader limits)
from bigdatacw1_spark.queries import pipeline_suite  # noqa: F401  (Mongo-dialect stages)

# ---------------------------------------------------------------------------
# Driver correctness window.
#
# The round driver oracle-checks the FIRST 50 registry entries, in order:
# the 5 reference ports pinned as the permanent parity anchor, then the
# live window. Every other entry keeps its registration order. Past
# windows are drained: each entry's driver verdict is in some
# CORRECTNESS_r*.json, and tests/test_parity.py asserts that those files
# plus the live window cover the whole registry. To rotate, point
# _DRIVER_WINDOW at a new list of at most 45 oracle-bearing entries.
# ---------------------------------------------------------------------------
_ANCHORS = [
    # reference parity anchor (driver-green r1-r4; keep pinned)
    "ref_nosql1_top_group",
    "ref_sql1_conditional_pivot",
    "ref_sql2_portfolio",
    "ref_nosql2_screening",
    "ref_nosql2_hof",
]

ROUND13_WINDOW: list[str] = [
    # Round 13 LIVE window (optimization round 2 of 2), per the round-12
    # verdict's items 1 and 5: (a) drain the staged backlog, (b) put a
    # driver verdict on every query whose PLAN changed in an optimization
    # round, (c) re-verify the operator-library consumers whose shared
    # code paths round 13 touches.
    #
    # (a) the 10 staged round-11/12 additions (never driver-checked):
    "ext_kmv_ndv", "ext_good_turing", "ext_heaps_law", "ev_gorilla_dod",
    "ext_cms_replay",
    "ext_weighted_reservoir", "ext_kmv_set_algebra", "wh_ks_test",
    "wh_jackknife_ratio", "wh_cooks_distance",
    # (b) the four round-12 plan-changed queries (verdict item 1: their
    # rewrites were builder-verified only; the driver re-checks them now):
    "tpch_q18_large_orders", "tpch_q1_pricing_summary", "ext_cosine_topk",
    "ext_neardup_lsh_verified",
    # (c) round-13 optimization targets and the consumers of the shared
    # operators (dedup/similarity/graph libraries, literal-array builders)
    # this round touches — all previously driver-green, re-verified under
    # the new plans:
    "ext_ann_pq_topk", "ext_embed_neardup_lsh", "ext_dedup_method_agreement",
    "ext_count_min", "ext_kcore",
    "ext_incremental_admission", "ext_pair_bleu", "ext_contrastive_pairs",
    "ext_bloom_dedup", "ext_embed_neardup",
    "ext_winnowing_pairs", "ext_containment_pairs", "ext_tfidf_cosine_pairs",
    "ext_corpus_funnel", "ext_hard_negatives",
    "ext_pagerank", "ext_dedup_clusters_jump", "ext_lpa_communities",
    "ext_bfs_reach", "ext_shortest_path",
    "ext_link_graph_rank", "ext_ann_lsh_topk", "ext_ann_multiprobe",
    "ext_ann_ivf_topk", "ext_ann_pq_verified",
    "ext_ann_ivf_verified", "ext_semantic_dedup_verified", "ext_knn_graph",
    "ext_minhash_lsh_pairs", "ext_coreset_kcenter",
    "ext_kmeans_verified",
]

_DRIVER_WINDOW = _ANCHORS + ROUND13_WINDOW


def _rotate_registry() -> None:
    missing = [n for n in _DRIVER_WINDOW if n not in REGISTRY]
    if missing:  # fail loudly at import: a typo here silently shrinks coverage
        raise RuntimeError(f"driver-window entries not in REGISTRY: {missing}")
    rest = {k: v for k, v in REGISTRY.items() if k not in set(_DRIVER_WINDOW)}
    ordered = {k: REGISTRY[k] for k in _DRIVER_WINDOW}
    ordered.update(rest)
    REGISTRY.clear()
    REGISTRY.update(ordered)


_rotate_registry()

__all__ = ["REGISTRY", "QuerySpec"]
