"""Custom stateful operator on the Spark 4 transformWithState API.

transformWithStateInPandas supersedes applyInPandasWithState (see
stateful.py for that form): state is typed and named (ValueState /
ListState / MapState on a StatefulProcessorHandle), timers are
first-class, and the state store is RocksDB-backed — per-key state
lives off-heap and spills to disk, which is what makes 100M-key state
feasible where the in-memory HDFS-backed store would OOM. The shuffle
is still the grouping-key hash shuffle; only state residency changes.

Operator here: per-user top-K values — the "keep the K best offers per
customer ever seen" shape. State per key is K doubles, bounded by
construction, so state size is #keys x K regardless of stream length.

The operator is one fold and one emit. On a stream the processor's
handleInputRows calls them on each micro-batch against its ValueState;
on a static frame stateful.keyed_fold runs them in one applyInPandas
pass, which ev_tws_topk's oracle check pins. tests/test_keyed_fold.py
runs handleInputRows over a two-batch split with ties at the k
boundary without Spark; tests/test_streaming.py checks the real
incremental path where the protobuf package is installed.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

from bigdatacw1_spark.streaming.stateful import keyed_fold

TOPK_OUT_SCHEMA = "user_id bigint, n_seen bigint, rank int, value double"
_TOPK_STATE = "n_seen bigint, vals array<double>"


def _fold_topk(k: int, state: tuple | None, pdf: pd.DataFrame) -> tuple:
    """(rows seen, the k largest values in descending order)."""
    n_seen, acc = state or (0, [])
    merged = sorted([*acc, *pdf["value"].astype(float).tolist()], reverse=True)
    return n_seen + len(pdf), merged[:k]


def _emit_topk(key: tuple, state: tuple) -> pd.DataFrame:
    n_seen, acc = state
    rows = [(key[0], n_seen, rank, v) for rank, v in enumerate(acc, 1)]
    return pd.DataFrame(rows, columns=["user_id", "n_seen", "rank", "value"])


class TopKValuesProcessor(StatefulProcessor):
    """transformWithState processor: ValueState holds the top-k fold's
    state; every batch re-emits the updated top-k rows for keys that
    received input (Update mode)."""

    def __init__(self, k: int = 3) -> None:
        self.fold = partial(_fold_topk, k)

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("topk", _TOPK_STATE)

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        prior = self._state.get() if self._state.exists() else None
        new = self.fold(prior, pd.concat(list(rows), ignore_index=True))
        self._state.update(new)
        yield _emit_topk(key, new)

    def close(self) -> None:
        pass


def topk_per_user(events: DataFrame, k: int = 3) -> DataFrame:
    """Top-k values per user. Streaming: transformWithStateInPandas with
    bounded per-key state (requires the RocksDB state store provider —
    see run_tws_stream_to_memory). Static: the same fold and emit through
    keyed_fold's one applyInPandas pass."""
    cols = events.select("user_id", "value")
    if events.isStreaming:
        return cols.groupBy("user_id").transformWithStateInPandas(
            TopKValuesProcessor(k),
            outputStructType=TOPK_OUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    fold = partial(_fold_topk, k)
    return keyed_fold(cols, "user_id", fold, _emit_topk, _TOPK_STATE, TOPK_OUT_SCHEMA)


def run_tws_stream_to_memory(
    spark,
    events_dir: str,
    table_name: str = "tws_out",
    k: int = 3,
):
    """File-replayed stream through the transformWithState top-k, Update
    mode to a memory sink. transformWithState requires the RocksDB state
    store (set per-query via the session conf, runtime-settable) and the
    ``protobuf`` package for the Python<->state-server wire format — on
    an environment without protobuf this raises at stream start; the
    batch form (topk_per_user on a static frame) has no such
    dependency."""
    from bigdatacw1_spark.streaming.windows import read_events_stream

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    stream = read_events_stream(spark, events_dir)
    out = topk_per_user(stream, k)
    return (
        out.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
