"""No-Spark unit tests for bench.py's attempt-selection policy.

The policy guards the round-over-round trend line: a clean-sentinel
attempt only wins if it is also within 15% of the global min (a clean
attempt 1.3-1.5x slower than a flagged one is the process-level slow
pathology wearing a clean sentinel), and when nothing qualifies the
caller runs a tie-breaker attempt.
"""

from __future__ import annotations

import importlib.util
import pathlib

_spec = importlib.util.spec_from_file_location(
    "bench", pathlib.Path(__file__).resolve().parents[1] / "bench.py"
)
_bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_bench)


def _r(value: float, contended: bool) -> dict:
    return {"value": value, "sentinel": {"contended": contended}}


def test_fastest_clean_near_min_wins():
    got = _bench._pick_best([_r(10.0, False), _r(9.5, True), _r(10.4, False)])
    assert got is not None and got["value"] == 10.0


def test_clean_but_pathological_attempt_does_not_win():
    # The live case that motivated the policy: clean 13.0 vs contended 10.5.
    assert _bench._pick_best([_r(13.0, False), _r(10.5, True)]) is None


def test_all_contended_yields_none():
    assert _bench._pick_best([_r(9.0, True), _r(9.1, True)]) is None


def test_single_clean_attempt_wins():
    got = _bench._pick_best([_r(9.0, False)])
    assert got is not None and got["value"] == 9.0


def test_load_threshold_scales_with_cpus(monkeypatch):
    # Concrete pinned values (ADVICE r6: restating the formula could never
    # fail independently of the implementation).
    import os

    monkeypatch.setattr(os, "cpu_count", lambda: 8)
    assert _bench._load_threshold() == 1.5
    monkeypatch.setattr(os, "cpu_count", lambda: 32)
    assert _bench._load_threshold() == 1.6
    monkeypatch.setattr(os, "cpu_count", lambda: 64)
    assert abs(_bench._load_threshold() - 3.2) < 1e-12
    monkeypatch.setattr(os, "cpu_count", lambda: None)
    assert _bench._load_threshold() == 1.5


def _full_attempt_record(query_names) -> dict:
    """A worst-case-width winning-attempt dict shaped like main()'s output
    plus best_of_two()'s attempt fields."""
    return {
        "metric": "headline_total_sec",
        "value": 99.999,
        "unit": "sec",
        "queries": {n: 99.999 for n in query_names},
        "sf": 0.1,
        "queries_detail": {
            n: {"min": 9.9, "mean": 9.9, "runs": [9.9] * 5} for n in query_names
        },
        "method": "x" * 200,
        "sentinel": {
            "probe": "cpython-spin-10M",
            "start_sec": 99.999,
            "end_sec": 99.999,
            "parallel_start_sec": 99.999,
            "parallel_end_sec": 99.999,
            "parallel_over_serial": 9.999,
            "load1_pre_spark": 99.99,
            "load1_threshold": 9.99,
            "contended": False,
        },
        "attempts": [99.999, 99.999, 99.999],
        "attempts_contended": [False, True, False],
        "attempts_load1": [99.99, 99.99, 99.99],
    }


def test_final_line_fits_driver_capture_with_live_query_set():
    """Round 6 lost its bench headline because the single stdout JSON line
    outgrew the driver's 2000-char tail capture. The compact final line
    must stay under FINAL_LINE_BUDGET (1500) with the CURRENT headline set
    and worst-case numeric widths."""
    import json

    from bigdatacw1_spark.queries import REGISTRY

    headline = [n for n, s in REGISTRY.items() if s.headline]
    assert headline, "headline set is empty?"
    line = json.dumps(_bench._compact_line(_full_attempt_record(headline)))
    assert len(line) < _bench.FINAL_LINE_BUDGET, (len(line), line[:200])


def test_compact_line_drops_detail_keeps_decision_fields():
    rec = _full_attempt_record(["q1", "q2"])
    compact = _bench._compact_line(rec)
    assert "queries_detail" not in compact and "method" not in compact
    assert compact["queries"] == {"q1": 99.999, "q2": 99.999}
    assert compact["sentinel"] == {"contended": False, "load1_pre_spark": 99.99}
    assert compact["attempts"] == [99.999, 99.999, 99.999]
    assert compact["attempts_contended"] == [False, True, False]
    assert compact["attempts_load1"] == [99.99, 99.99, 99.99]
    assert compact["sf"] == 0.1
