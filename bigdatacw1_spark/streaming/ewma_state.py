"""Streaming EWMA with bounded per-key state (a stateful.keyed_fold).

The streaming twin of operators/timeseries.ewma_last: per key, the fold
keeps the ``lookback`` most recent (ts, event_id, value) observations as
explicit state, and the emit recomputes the EWMA over them after each
micro-batch. Keeping the newest-64 under truncation is merge-safe — an observation
can only be evicted by 64 newer ones, which themselves survive — so the
maintained set equals the batch operator's rank-window selection no
matter how the stream is batched or ordered, and the emitted value
matches the batch fold exactly (same Python doubles, same ascending
left fold, same floor rounding).

State per key is lookback-bounded by construction: 64 observations per
user regardless of stream length, the property that keeps the state
store viable at 100M keys.
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame

from bigdatacw1_spark.streaming.stateful import keyed_fold

EWMA_OUT_SCHEMA = "user_id long, n_obs long, last_ts timestamp, ewma double"
_EWMA_STATE = "n long, ts_us array<long>, eid array<long>, vals array<double>"

_ALPHA = 0.5
_LOOKBACK = 64


def _fold_ewma(state: tuple | None, pdf: pd.DataFrame) -> tuple:
    """State (n, ts_us, eid, vals): the rows seen, and the newest 64
    observations as three columns in ascending (ts, event_id) order.
    Merges this batch's rows into the kept ones and truncates."""
    n, *cols = state or (0, [], [], [])
    ts_us = pdf["ts"].astype("datetime64[us]").astype("int64").tolist()
    new = zip(ts_us, pdf["event_id"].tolist(), pdf["value"].astype(float).tolist())
    kept = sorted([*zip(*cols), *new])[-_LOOKBACK:]
    return (n + len(pdf), *map(list, zip(*kept)))


def _emit_ewma(key: tuple, state: tuple) -> pd.DataFrame:
    """Ascending left fold seeded with the oldest kept value — the same
    IEEE sequence as ewma_last's F.aggregate and the oracle's
    LIST_REDUCE — floored to 4 decimals."""
    n, ts_us, _, vals = state
    acc = vals[0]
    for v in vals[1:]:
        acc = acc * (1.0 - _ALPHA) + v * _ALPHA
    ewma = math.floor(acc * 10000.0 + 0.5) / 10000.0
    row = (key[0], n, pd.Timestamp(ts_us[-1], unit="us"), ewma)
    return pd.DataFrame([row], columns=["user_id", "n_obs", "last_ts", "ewma"])


def streaming_ewma(events: DataFrame) -> DataFrame:
    """Per-user EWMA (alpha=0.5, 64-observation lookback) as a keyed
    fold; on a static frame it is the batch operator that tests compare
    against the pure-SQL ewma_last."""
    cols = events.select("user_id", "event_id", "ts", "value")
    return keyed_fold(cols, "user_id", _fold_ewma, _emit_ewma, _EWMA_STATE, EWMA_OUT_SCHEMA)


def run_ewma_stream_to_memory(spark, events_dir: str, table_name: str = "ewma_out"):
    """Drive streaming_ewma over a file-replayed stream (one file per
    micro-batch) into a memory update sink; the latest emission per user
    (max n_obs) is the final EWMA."""
    from bigdatacw1_spark.streaming.windows import read_events_stream

    stream = read_events_stream(spark, events_dir)
    return (
        streaming_ewma(stream)
        .writeStream.format("memory")
        .queryName(table_name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
