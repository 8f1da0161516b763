"""Per-key stateful operators: one keyed fold for static and streaming frames.

The built-in windowed aggregations in streaming/windows.py cover
everything the declarative API can express; this module is the escape
hatch for operators that need explicit per-key state across
micro-batches. Every such operator is defined once, as two pure
functions handed to ``keyed_fold``:

- ``fold(state | None, pdf) -> state`` folds one key's rows of one
  micro-batch into its state (``None`` = the key has no state yet);
- ``emit(key, state) -> pd.DataFrame`` turns the state into output rows.

On a streaming frame ``keyed_fold`` runs ``applyInPandasWithState``
(update mode: each batch emits the updated rows of every key it
touched); on a static frame, where Spark forbids the stateful API, it
runs one ``applyInPandas`` pass of ``emit(key, fold(None, pdf))``. The
only thing that differs between the two is how the rows are split into
batches, so an operator whose fold is split-invariant (folding b1 then
b2 emits what folding concat(b1, b2) emits) gives the same answer under
both plans, and a batch oracle vouches for the stream.
streaming/ewma_state.py, streaming/cdc.py and streaming/stateful_tws.py
are built on it.

Scale: state lives in the executor state store partitioned by the
grouping key, so per-key state is bounded and the shuffle is the same
(key-hash) shuffle a groupBy would do. Timeouts (not used here) are how
production caps state size for abandoned keys.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout


def keyed_fold(
    df: DataFrame,
    key: str,
    fold: Callable[[tuple | None, pd.DataFrame], tuple],
    emit: Callable[[tuple, tuple], pd.DataFrame],
    state_schema: T.StructType | str,
    out_schema: T.StructType | str,
) -> DataFrame:
    """Group ``df`` by ``key`` and run ``fold``/``emit`` per key: as
    explicit state across micro-batches on a stream, as one pass from
    empty state on a static frame."""
    grouped = df.groupBy(key)
    if not df.isStreaming:
        return grouped.applyInPandas(lambda k, pdf: emit(k, fold(None, pdf)), schema=out_schema)

    def update(k, pdfs, state):
        new = fold(state.getOption, pd.concat(list(pdfs), ignore_index=True))
        state.update(new)
        yield emit(k, new)

    return grouped.applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


RUNNING_TOTALS_SCHEMA = "user_id long, n_events long, sum_value double"

_TOTALS_STATE = "n long, cents long"


def round_half_away(x: np.ndarray) -> np.ndarray:
    """Round doubles to integers, ties away from zero: DuckDB's ROUND on
    a DOUBLE (``std::round``). ``x - trunc(x)`` is exact, so a product
    just below a half (100.49999999999999) rounds down."""
    t = np.trunc(x)
    return t + np.copysign(1.0, x) * (np.abs(x - t) >= 0.5)


def _fold_totals(state: tuple | None, pdf: pd.DataFrame) -> tuple:
    """(count, sum of cents). Each row's ``value * 100`` is rounded on
    its own, as the oracle's ``SUM(CAST(ROUND(value * 100) AS BIGINT))``
    does, so the sum does not depend on how rows split into batches."""
    n, cents = state or (0, 0)
    values = pdf["value"].to_numpy(dtype=np.float64)
    values = values[~np.isnan(values)]  # SUM skips NULL; numpy mask, not Series.dropna (3x cost)
    return n + len(pdf), cents + int(round_half_away(values * 100.0).astype(np.int64).sum())


def _emit_totals(key: tuple, state: tuple) -> pd.DataFrame:
    n, cents = state
    return pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_value": [cents / 100.0]})


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user cumulative (count, sum of value in cents) as explicit
    state across micro-batches; emits the updated totals for every user
    seen in each batch, and the per-user totals on a static frame."""
    return keyed_fold(
        events, "user_id", _fold_totals, _emit_totals, _TOTALS_STATE, RUNNING_TOTALS_SCHEMA
    )


def run_stateful_stream_to_memory(spark, events_dir: str, table_name: str = "state_out"):
    """Drive running_user_totals over a file-source stream (one file per
    micro-batch) into an in-memory update sink. The LAST emitted row per
    user is the final running total."""
    from bigdatacw1_spark.streaming.windows import read_events_stream

    stream = read_events_stream(spark, events_dir).select("user_id", "value")
    return (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName(table_name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
