"""Streaming CDC materialization — the incremental companion of
operators/warehouse.cdc_materialize.

A change log (I=insert replaces the row, U=sparse update merges non-null
columns, D=tombstone clears the key, re-insert restarts) arrives as a
stream; per-key state holds the CURRENT materialized row and each
micro-batch folds its ops in (ts, tiebreak) order on top of that state,
emitting the updated row per touched key. Because the CDC fold is a left
fold over a totally ordered log, batch-prefix + state ≡ whole-log batch
replay — the equivalence tests/test_streaming.py pins against
cdc_materialize.

Scale: state is ONE fixed-width row per live key in the executor state
store (key-hash partitioned — the same shuffle a groupBy would do);
per-batch work is batch-sized. Replay ordering across batches relies on
the source delivering history in order (the file-source ingestion shape;
out-of-order CROSS-batch ops would need a reorder buffer keyed on a
watermark, which the batch operator's window formulation handles
naturally instead).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

CDC_STATE_SCHEMA = T.StructType(
    [
        T.StructField("live", T.BooleanType()),
        T.StructField("a_cents", T.LongType()),
        T.StructField("b_cents", T.LongType()),
        T.StructField("applied_ops", T.LongType()),
        T.StructField("upd_seq", T.LongType()),
    ]
)

CDC_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("live", T.BooleanType()),
        T.StructField("a_cents", T.LongType()),
        T.StructField("b_cents", T.LongType()),
        T.StructField("applied_ops", T.LongType()),
        T.StructField("upd_seq", T.LongType()),
    ]
)


def _fold_ops(state: tuple, pdf: pd.DataFrame) -> tuple:
    """Pure CDC left fold: apply one batch's ops (already time-ordered)
    on top of (live, a, b, n). Mirrors cdc_materialize semantics row by
    row: orphan updates never resurrect a tombstoned key."""
    live, a, b, n = state
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
    return live, a, b, n


def _update_cdc(key, pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    live, a, b, n, seq = state.get if state.exists else (False, None, None, 0, 0)
    batch = pd.concat(list(pdfs), ignore_index=True).sort_values(
        ["ts", "event_id"], kind="mergesort"
    )
    live, a, b, n = _fold_ops((live, a, b, n), batch)
    seq += 1  # per-key batch counter: max upd_seq row = the final state
    state.update((live, a, b, n, seq))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "live": [live],
            "a_cents": [a],
            "b_cents": [b],
            "applied_ops": [n],
            "upd_seq": [seq],
        }
    )


def _batch_cdc(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
    live, a, b, n = _fold_ops((False, None, None, 0), pdf)
    return pd.DataFrame(
        {
            "user_id": [key[0]],
            "live": [live],
            "a_cents": [a],
            "b_cents": [b],
            "applied_ops": [n],
            "upd_seq": [1],
        }
    )


def cdc_running_state(log: DataFrame) -> DataFrame:
    """Maintain the materialized CDC state per key across micro-batches.

    Input columns: user_id, ts, event_id, op ('I'/'U'/'D'), a_cents,
    b_cents (sparse — null means 'not touched by this op'). Streaming
    input → applyInPandasWithState (update mode: one row per touched key
    per batch; the LAST row per key is the final state). Static input →
    the identical fold as a one-batch applyInPandas, which is what the
    batch-equivalence test compares against cdc_materialize.
    """
    if log.isStreaming:
        return log.groupBy("user_id").applyInPandasWithState(
            _update_cdc,
            outputStructType=CDC_OUT_SCHEMA,
            stateStructType=CDC_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    return log.groupBy("user_id").applyInPandas(_batch_cdc, schema=CDC_OUT_SCHEMA)
