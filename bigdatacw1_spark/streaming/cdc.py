"""Streaming CDC materialization — the incremental companion of
operators/warehouse.cdc_materialize.

A change log (I=insert replaces the row, U=sparse update merges non-null
columns, D=tombstone clears the key, re-insert restarts) arrives as a
stream; per-key state (a stateful.keyed_fold) holds the CURRENT
materialized row and each micro-batch folds its ops in (ts, tiebreak)
order on top of that state, emitting the updated row per touched key.
Because the CDC fold is a left fold over a totally ordered log,
batch-prefix + state ≡ whole-log batch replay — the equivalence
tests/test_streaming.py pins against cdc_materialize, and
tests/test_keyed_fold.py pins for a tombstone and re-insert split
across two batches.

Scale: state is ONE fixed-width row per live key in the executor state
store (key-hash partitioned — the same shuffle a groupBy would do);
per-batch work is batch-sized. Replay ordering across batches relies on
the source delivering history in order (the file-source ingestion shape;
out-of-order CROSS-batch ops would need a reorder buffer keyed on a
watermark, which the batch operator's window formulation handles
naturally instead).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame

from bigdatacw1_spark.streaming.stateful import keyed_fold

CDC_STATE_SCHEMA = "live boolean, a_cents long, b_cents long, applied_ops long, upd_seq long"
CDC_OUT_SCHEMA = "user_id long, " + CDC_STATE_SCHEMA
_CDC_COLUMNS = ["user_id", "live", "a_cents", "b_cents", "applied_ops", "upd_seq"]


def _fold_ops(state: tuple | None, pdf: pd.DataFrame) -> tuple:
    """Pure CDC left fold: apply one batch's ops in (ts, event_id) order
    on top of (live, a, b, n) and count the batch in upd_seq. Mirrors
    cdc_materialize semantics row by row: orphan updates never resurrect
    a tombstoned key."""
    live, a, b, n, seq = state or (False, None, None, 0, 0)
    pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
    for op, av, bv in zip(pdf["op"], pdf["a_cents"], pdf["b_cents"]):
        if op == "D":
            live, a, b, n = False, None, None, 0
        elif op == "I":
            live = True
            a = None if pd.isna(av) else int(av)
            b = None if pd.isna(bv) else int(bv)
            n = 1
        elif op == "U" and live:
            if not pd.isna(av):
                a = int(av)
            if not pd.isna(bv):
                b = int(bv)
            n += 1
    return live, a, b, n, seq + 1


def _emit_row(key: tuple, state: tuple) -> pd.DataFrame:
    return pd.DataFrame([(key[0], *state)], columns=_CDC_COLUMNS)


def cdc_running_state(log: DataFrame) -> DataFrame:
    """Maintain the materialized CDC state per key across micro-batches.

    Input columns: user_id, ts, event_id, op ('I'/'U'/'D'), a_cents,
    b_cents (sparse — null means 'not touched by this op'). Streaming
    input emits one row per touched key per batch; upd_seq counts the
    key's batches, so the max-upd_seq row per key is the final state.
    Static input is one batch (upd_seq 1), which is what the
    batch-equivalence test compares against cdc_materialize.
    """
    return keyed_fold(log, "user_id", _fold_ops, _emit_row, CDC_STATE_SCHEMA, CDC_OUT_SCHEMA)
