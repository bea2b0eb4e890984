"""Custom stateful streaming operators via ``applyInPandasWithState`` —
north-star extension (the reference has no stateful operators at all,
SURVEY.md §2.9: processing-time micro-batching only).

Two operators over the ``events`` stream:

* :func:`running_user_totals` — per-user running counters (event count,
  value sum, last-seen timestamp) that survive across micro-batches. The
  built-in windowed aggregates can't express "emit the running total on
  every batch a key appears in"; this is the canonical custom-state shape.
* :func:`inactivity_sessions` — session assembly with an explicit
  processing-time timeout: a session closes (and is emitted) only when its
  key has been silent for ``timeout_ms``. Unlike ``session_window`` this
  emits exactly one row per closed session and can carry arbitrary
  session-level state (here: first/last ts, count, value sum).

Scale notes (100 TB / high-cardinality keys):
* State lives in the state store, sharded by the shuffle on the group key —
  per-key state here is O(1) (a handful of scalars), so total state is
  bounded by distinct keys, not event volume.
* ``applyInPandasWithState`` exchanges Arrow batches; the python function
  touches each KEY once per batch, not each row.
* Timeouts bound session state: silent keys are evicted on expiry.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

RUNNING_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("last_ts", TimestampType()),
    ]
)

_RUNNING_STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("last_ts_us", LongType()),
    ]
)

SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

_SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)


def _running_totals_fn(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (n_events, total_value, last_ts_us) = (
        state.get if state.exists else (0, 0.0, 0)
    )
    for pdf in pdfs:
        n_events += len(pdf)
        total_value += float(pdf["value"].sum())
        batch_max_us = int(pdf["ts"].max().value // 1_000)
        last_ts_us = max(last_ts_us, batch_max_us)
    state.update((n_events, total_value, last_ts_us))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n_events],
            "total_value": [total_value],
            "last_ts": [pd.Timestamp(last_ts_us, unit="us")],
        }
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum, last ts) emitted on every batch the
    user appears in. Input needs columns user_id, ts (timestamp), value."""
    return (
        events.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _running_totals_fn,
            outputStructType=RUNNING_TOTALS_SCHEMA,
            stateStructType=_RUNNING_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


EMA_ALPHA = 0.5

EMA_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("ema_value", DoubleType()),
    ]
)

_EMA_STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("ema_value", DoubleType()),
    ]
)


def fold_ema(n_events: int, ema: float, values) -> tuple[int, float]:
    """Pure sequential EMA fold — the unit both the streaming accumulator
    below and the property test drive. With alpha = 1/2 every step is
    ``ema * 0.5 + v * 0.5``: the identical IEEE-double operation sequence
    as ``ema_by_user``'s JVM higher-order fold (operators/windows.py), so
    for any micro-batch cut points the accumulated EMA is BIT-EXACTLY the
    batch result (tests/test_properties.py::test_ema_fold_invariant_to_
    batch_boundaries). A null input (pandas NaN) poisons the fold exactly
    like SQL NULL does in the batch/DuckDB fold — NaN propagates through
    every later step and is emitted as NULL.

    Sequential on purpose: a vectorized per-batch closed form
    (``0.5^m * ema + Σ 0.5^(m-i) v_i``) reorders the floating-point ops
    and would break bit-parity with the batch fold; per-key rows per
    micro-batch are bounded by the batch size, which is the point of the
    escape hatch — state is O(1) per key however long the stream runs.
    """
    for v in values:
        v = float(v)
        if n_events == 0:
            ema = v
        else:
            ema = ema * (1.0 - EMA_ALPHA) + v * EMA_ALPHA
        n_events += 1
    return n_events, ema


def _ema_fn(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (n_events, ema) = state.get if state.exists else (0, float("nan"))
    # A key's micro-batch rows arrive as an ITERATOR of Arrow chunks
    # (split at spark.sql.execution.arrow.maxRecordsPerBatch) with no
    # cross-chunk order guarantee — the shuffle sorts on the grouping
    # key only. The fold is order-sensitive, so concatenate ALL chunks
    # and sort ONCE; sorting each chunk independently would silently
    # fold out of event-time order for keys larger than one chunk
    # (pinned by the small-maxRecordsPerBatch e2e test).
    # Cross-batch order remains the source's responsibility (a keyed
    # topic's per-partition order, or replay.ordered_file_split).
    chunks = list(pdfs)
    if chunks:
        batch = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts", "event_id"]
        )
        n_events, ema = fold_ema(n_events, ema, batch["value"])
    state.update((n_events, ema))
    import math

    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n_events],
            # NaN means the fold saw a NULL value: emit NULL, matching
            # the batch fold's NULL-poisoning semantics.
            "ema_value": [None if math.isnan(ema) else ema],
        }
    )


def running_user_ema(events: DataFrame) -> DataFrame:
    """Per-user running EMA emitted on every batch the user appears in —
    the unbounded-key escape hatch ``ema_by_user``'s docstring promises:
    the batch query materializes each user's full event array per key,
    while this holds two scalars per key in the state store. Input needs
    columns user_id, ts (timestamp), event_id, value."""
    return (
        events.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _ema_fn,
            outputStructType=EMA_SCHEMA,
            stateStructType=_EMA_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _session_fn_factory(timeout_ms: int):
    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            (start_us, end_us, n_events, total_value) = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(end_us, unit="us")],
                    "n_events": [n_events],
                    "total_value": [total_value],
                }
            )
            return
        (start_us, end_us, n_events, total_value) = (
            state.get if state.exists else (None, None, 0, 0.0)
        )
        for pdf in pdfs:
            lo = int(pdf["ts"].min().value // 1_000)
            hi = int(pdf["ts"].max().value // 1_000)
            start_us = lo if start_us is None else min(start_us, lo)
            end_us = hi if end_us is None else max(end_us, hi)
            n_events += len(pdf)
            total_value += float(pdf["value"].sum())
        state.update((start_us, end_us, n_events, total_value))
        state.setTimeoutDuration(timeout_ms)
        yield from ()  # emit nothing until the session closes

    return fn


def inactivity_sessions(events: DataFrame, timeout_ms: int = 30_000) -> DataFrame:
    """Sessions closed by processing-time inactivity: one output row per
    closed session. Input needs columns user_id, ts (timestamp), value."""
    return (
        events.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn_factory(timeout_ms),
            outputStructType=SESSION_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
