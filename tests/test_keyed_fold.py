"""The per-key folds behind streaming/stateful.keyed_fold.

A keyed fold gives the same answer on a stream and on a static frame
only if it does not care how a key's rows are split into micro-batches:
folding b1 and then b2 must emit what folding concat(b1, b2) emits. The
split tests below check that for all four operators without Spark; the
top-k case goes through TopKValuesProcessor.handleInputRows with an
in-memory ValueState, since its transformWithState stream needs the
protobuf package.
"""

from __future__ import annotations

import random
from functools import partial

import duckdb
import pandas as pd
import pytest

from bigdatacw1_spark.streaming.cdc import _emit_row, _fold_ops
from bigdatacw1_spark.streaming.ewma_state import _emit_ewma, _fold_ewma
from bigdatacw1_spark.streaming.stateful import _emit_totals, _fold_totals, running_user_totals
from bigdatacw1_spark.streaming.stateful_tws import TopKValuesProcessor, _emit_topk, _fold_topk

KEY = (7,)


def _totals_batches():
    b = pd.DataFrame({"value": [1.004, 2.004, 3.004, 0.005, 1.005, -0.005, 2.5, -2.5]})
    return b.iloc[:3], b.iloc[3:]


def _ewma_batches():
    """150 observations of one key in random order, split 90/60, so
    each batch alone overflows the 64-observation lookback and the kept
    set of batch 1 is partly evicted by batch 2."""
    rng = random.Random(11)
    ts = rng.sample(range(10_000_000), 150)
    pdf = pd.DataFrame(
        {
            "event_id": range(150),
            "ts": pd.to_datetime(ts, unit="s").astype("datetime64[us]"),
            "value": [rng.uniform(-50, 50) for _ in range(150)],
        }
    )
    return pdf.iloc[:90], pdf.iloc[90:]


def _cdc_batches():
    """A tombstone in batch 1; an orphan update, then a re-insert and a
    sparse update in batch 2."""
    cols = ["ts", "event_id", "op", "a_cents", "b_cents"]
    b1 = pd.DataFrame(
        [(3, 3, "D", None, None), (1, 1, "I", 100, 200), (2, 2, "U", 150, None)], columns=cols
    )
    b2 = pd.DataFrame(
        [(4, 4, "U", None, 999), (5, 5, "I", 700, None), (6, 6, "U", None, 300)], columns=cols
    )
    return b1, b2


def _topk_batches():
    """Ties at the k=3 boundary within and across the batches."""
    return pd.DataFrame({"value": [5.0, 3.0, 3.0, 1.0]}), pd.DataFrame({"value": [3.0, 5.0, 2.0]})


FOLDS = {
    "totals": (_fold_totals, _emit_totals, _totals_batches),
    "ewma": (_fold_ewma, _emit_ewma, _ewma_batches),
    "cdc": (_fold_ops, _emit_row, _cdc_batches),
    "topk": (partial(_fold_topk, 3), _emit_topk, _topk_batches),
}


@pytest.mark.parametrize("name", FOLDS)
def test_fold_split_equivalence(name):
    fold, emit, batches = FOLDS[name]
    b1, b2 = batches()
    split = emit(KEY, fold(fold(None, b1), b2))
    whole = emit(KEY, fold(None, pd.concat([b1, b2], ignore_index=True)))
    if name == "cdc":  # upd_seq (the last column) counts the key's batches
        assert (split.iloc[0, -1], whole.iloc[0, -1]) == (2, 1)
        split, whole = split.iloc[:, :-1], whole.iloc[:, :-1]
    pd.testing.assert_frame_equal(split, whole)


def test_fold_cases_reach_their_edges():
    """The split cases above exercise what they claim to."""
    ewma = _fold_ewma(None, pd.concat(_ewma_batches()))
    assert ewma[0] == 150 and len(ewma[3]) == 64
    assert _fold_ops(None, pd.concat(_cdc_batches())) == (True, 700, 300, 2, 1)
    assert _fold_topk(3, None, pd.concat(_topk_batches())) == (7, [5.0, 5.0, 3.0])


class _ValueState:
    def __init__(self):
        self.value = None

    def exists(self):
        return self.value is not None

    def get(self):
        return self.value

    def update(self, value):
        self.value = tuple(value)


class _Handle:
    def getValueState(self, name, schema):
        return _ValueState()


def test_topk_processor_folds_across_batches():
    """handleInputRows, one call per micro-batch (each batch arriving as
    several chunks), emits the static fold over the whole input."""
    proc = TopKValuesProcessor(k=3)
    proc.init(_Handle())
    b1, b2 = _topk_batches()
    for batch in (b1, b2):
        chunks = [batch.iloc[:2], batch.iloc[2:]]
        (out,) = proc.handleInputRows(KEY, iter(chunks), None)
    whole = _emit_topk(KEY, _fold_topk(3, None, pd.concat([b1, b2], ignore_index=True)))
    pd.testing.assert_frame_equal(out, whole)


def test_running_totals_round_each_row_like_duckdb(spark):
    """sum_value is DuckDB's SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100:
    every row rounds half away from zero on its double product, so
    1.004 + 2.004 + 3.004 reads 6.00 (not 6.01 from rounding the sum).
    User 0 holds all values, user 100 the first three and each other
    user one. Checked on the static form and on a two-batch split of
    user 0."""
    values = [1.004, 2.004, 3.004, 0.005, 1.005, -0.005, 2.5, -2.5]
    rows = [(0, v) for v in values] + [(100, v) for v in values[:3]]
    rows += [(i, v) for i, v in enumerate(values, 1)]
    pdf = pd.DataFrame(rows, columns=["user_id", "value"])
    want = {
        u: s
        for u, s in duckdb.sql(
            "SELECT user_id, CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 "
            "FROM pdf GROUP BY user_id"
        ).fetchall()
    }
    assert want[100] == 6.0
    got = running_user_totals(spark.createDataFrame(pdf)).collect()
    assert {r.user_id: r.sum_value for r in got} == want
    b1, b2 = _totals_batches()
    assert _emit_totals((0,), _fold_totals(_fold_totals(None, b1), b2)).iloc[0, 2] == want[0]
