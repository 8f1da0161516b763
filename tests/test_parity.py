"""The registry sweep: every registered query, built once (mirrors the
driver's t2 gate).

``test_oracle_parity`` builds each entry once at sf0.001, gates its
physical plan before any action (global windows, Python eval, cartesian
products), then compares its rows with the DuckDB oracle.
``scripts/check_parity.py`` runs the same comparison at sf0.01 (the
driver's scale). No other test loops over the registry building frames.
"""

from __future__ import annotations

import json
import pathlib

import pytest

from bigdatacw1_spark.plans import count_global_windows, formatted_plan, has_python_eval
from bigdatacw1_spark.queries import REGISTRY
from tests.conftest import SF_SMALL
from tests.oracle import compare, oracle_relation

ORACLE_CASES = sorted(name for name, spec in REGISTRY.items() if spec.oracle)

# The single-partition-window gate (VERDICT r4 #1): a WindowExec with no
# partitionBy moves every row to one task — a straggler at sf0.1 and an
# OOM at 100 TB. No registry entry may plan one over fact/corpus-sized
# input; exact global ranks/prefix sums go through
# operators.warehouse.global_order_columns (range-sharded rank + broadcast
# offsets) instead. This allowlist names every entry whose global window
# is PROVABLY bounded by construction — each with the bound — so any new
# entry that plans an unbounded global window fails here, not in
# production.
BOUNDED_OK = {
    # windows over top-k results (k=20 rows by construction)
    "ext_hybrid_rrf": 2,
    # position row_numbers over the two top-10 frames (k=10 rows)
    "ext_retrieval_ndcg": 2,
    # position row_number over the BM25 top-10 frame (k=10 rows)
    "ext_err_metric": 1,
    # rank row_number over the round-2 top-10 frame (k=10 rows)
    "ext_rocchio_prf": 1,
    # rank over the top-200 vocabulary frame (bounded by LIMIT)
    "ext_zipf_fit": 1,
    # rank over the top-10 |z| frame (bounded by LIMIT)
    "ext_log_odds_terms": 1,
    # window over the class vocabulary (distinct event types; the
    # encode design already broadcasts it, so it is tiny by contract)
    "ext_label_encode": 1,
    # waterfill over the LANGUAGE table (vocabulary-bounded by
    # construction — the corpus-sized pass is the upstream hash agg);
    # row_number and the exclusive prefix sum plan as two frames
    "ext_unimax_mix": 2,
    # final merge over per-partition-pruned skyline candidates
    # (operators/relational.skyline_2d documents the trade)
    "ext_skyline_parts": 1,
    # rank cumulation over distinct (4-digit score, label) cells —
    # <= 2·10^4 + 2 rows by construction (the corpus-sized pass is
    # the upstream hash aggregate; see binary_classifier_eval)
    "ext_quality_eval": 1,
    # windows over distinct event DAYS (calendar-bounded)
    "wh_survival_km": 2,
    # same lifetimes construction as wh_survival_km: reverse risk-set
    # sum + forward hazard sums over distinct DAYS (calendar-bounded)
    "wh_nelson_aalen": 2,
    # BH step-up over the hypothesis FAMILY — segment x priority
    # cells, <= 25 rows by vocabulary construction (the corpus-sized
    # pass is the upstream broadcast-join hash aggregate); rank, i*,
    # and the reversed cumulative-min adjusted-p plan as three frames
    "wh_bh_fdr": 3,
    # Holm step-down over the same 25-row hypothesis FAMILY: rank +
    # running-max adjusted p + running-min pass indicator
    "wh_holm_bonferroni": 3,
    # windows over the per-day FILE INVENTORY (metadata, not data)
    "wh_compaction_plan": 1,
    "wh_file_stats": 1,
    # rank row_number over the reservoir top-20 frame (k rows by
    # LIMIT construction; the corpus-sized pass is the upstream
    # TakeOrderedAndProject)
    "ext_weighted_reservoir": 1,
}

# Reference-parity entries must stay JVM-side end to end (SURVEY.md §2.10:
# no Python UDFs outside extensions). ev_stateful*/ev_tws* are exempt by
# design: applyInPandasWithState / transformWithState ARE Python stateful
# operators (§2.9). The ext_ entries below are held to the same rule
# because their design claim is an all-JVM plan (e.g. ext_rouge_l_pairs'
# LCS is a higher-order-function fold; a Python UDF fallback would cost
# 10-100x at corpus scale). Codec/decode entries such as ext_mm_audio,
# ext_mm_jpeg, ext_mm_ulaw, ext_avro_roundtrip and ext_mm_tiff are
# deliberately absent: their decode is an Arrow mapInPandas stage.
JVM_ONLY_EXT = {
    "ext_repetition_signals", "ext_crossdoc_ngram_overlap", "ext_pii_redact",
    "ext_lm_surprisal", "ext_line_dedup", "ext_pii_luhn", "ext_gopher_filter",
    "ext_dataset_card", "ext_incremental_admission", "ext_contrastive_pairs",
    "ext_bm25_topk", "ext_bpe_tokenize", "ext_l_diversity",
    "ext_rouge_l_pairs", "ext_adamic_adar", "ext_hits_scores",
    "ext_cohen_kappa", "ext_krippendorff_alpha", "ext_surt_keys",
    "ext_cdc_chunking",
    "ext_kmv_ndv", "ext_heaps_law", "ext_cms_replay", "ext_good_turing",
    "ext_weighted_reservoir", "ext_kmv_set_algebra",
}

# Entries whose joins must never degenerate to a CartesianProduct: one-row
# broadcast stats plan as BroadcastNestedLoop, and ext_adamic_adar's
# inverted-index pair join must be a real equi-join (a cartesian would be
# the all-pairs blowup its degree cap exists to prevent).
CARTESIAN_FREE = {
    "ext_lm_surprisal", "ext_line_dedup", "ext_pii_luhn", "ext_gopher_filter",
    "ext_dataset_card", "ext_incremental_admission", "ext_contrastive_pairs",
    "ext_bm25_topk", "ext_bpe_tokenize", "ext_l_diversity", "ev_ewma",
    "wh_ivm_join_delta",
    "ext_rouge_l_pairs", "ext_adamic_adar", "ext_hits_scores",
    "ext_cohen_kappa", "ext_krippendorff_alpha", "ext_surt_keys",
    "ext_cdc_chunking",
}


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_oracle_parity(spark, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, SF_SMALL)
    windows = count_global_windows(df)
    assert windows <= BOUNDED_OK.get(name, 0), (
        f"{name}: {windows} partition-less WindowExec on fact-sized input — "
        "use global_order_columns/ntile_from_rank, or justify a bound in BOUNDED_OK"
    )
    if name in JVM_ONLY_EXT or not name.startswith(("ext_", "ev_stateful", "ev_tws")):
        assert not has_python_eval(df), f"{name}: Python eval in plan"
    if name in CARTESIAN_FREE:
        assert "CartesianProduct" not in formatted_plan(df), f"{name}: cartesian product"
    if spec.oracle is None:
        df.count()  # a rows-only entry must run
    else:
        compare(df, spec.oracle, SF_SMALL)


@pytest.mark.parametrize("name", ORACLE_CASES)
def test_oracle_no_hugeint(name):
    """The oracle type lint alone, without Spark: binding the oracle on
    the shared DuckDB connection yields no HUGEINT column. ``compare``
    makes the same check on the same binding."""
    oracle_relation(REGISTRY[name].oracle, SF_SMALL)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_driver_window_and_staged_rotations():
    """The live driver window (first 50 registry entries) is exactly the
    5 ref_* anchors + the 45 oracle-bearing entries of ROUND13_WINDOW,
    and the driver verdicts in CORRECTNESS_r*.json plus the live window
    cover the ENTIRE registry — so a rename fails CI, not the driver."""
    from bigdatacw1_spark.queries import ROUND13_WINDOW, _ANCHORS, _DRIVER_WINDOW

    assert len(_DRIVER_WINDOW) == 50
    assert len(set(_DRIVER_WINDOW)) == 50
    assert _DRIVER_WINDOW == _ANCHORS + ROUND13_WINDOW
    assert list(REGISTRY)[:50] == _DRIVER_WINDOW
    assert "ext_kmv_ndv" in ROUND13_WINDOW
    assert "tpch_q18_large_orders" in ROUND13_WINDOW
    for name in _DRIVER_WINDOW:
        assert REGISTRY[name].oracle is not None, name

    checked = set(_DRIVER_WINDOW)
    for f in pathlib.Path(__file__).resolve().parents[1].glob("CORRECTNESS_r*.json"):
        checked |= set(json.loads(f.read_text()))
    missing = [n for n in REGISTRY if n not in checked]
    assert not missing, f"registry entries with no driver verdict: {missing}"
