"""Custom stateful streaming operator via applyInPandasWithState:
per-user running totals that survive across micro-batches through the
checkpointed state store.

This is the escape hatch for streaming semantics the built-in windowed
aggregations can't express (per-key custom accumulators, online
models, cross-batch counters). State is a small tuple per key — the
state store scales with distinct keys, not events.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events_total", LongType()),
        StructField("value_total", DoubleType()),
        StructField("max_value_seen", DoubleType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("total", DoubleType()),
        StructField("mx", DoubleType()),
    ]
)


def _update_user_totals(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        n, total, mx = state.get
    else:
        n, total, mx = 0, 0.0, float("-inf")
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        if len(pdf):
            mx = max(mx, float(pdf["value"].max()))
    state.update((n, total, mx))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events_total": [n],
            "value_total": [total],
            "max_value_seen": [mx],
        }
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """events (streaming) -> one updated row per user per micro-batch
    with running totals accumulated in the state store."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("session_idx", LongType()),
    ]
)

# (last event us, current session start us, current session idx)
SESSION_STATE_SCHEMA = StructType(
    [
        StructField("last_us", LongType()),
        StructField("start_us", LongType()),
        StructField("idx", LongType()),
    ]
)


def stream_capped_sessions(
    events: DataFrame, gap_us: int, cap_us: int
) -> DataFrame:
    """Streaming twin of `pandas_ops.capped_sessionize` (gap-OR-cap,
    GA4 semantics): each micro-batch's events get session indices
    continuing from the checkpointed per-user state, so a session
    spanning several micro-batches keeps ONE index and the duration
    cap is enforced against the session's true cross-batch start.

    State per user is three longs — the store scales with users, not
    events. Contract: per-user event-time order across batches (the
    recurrence is sequential; replaying history out of order would
    need the batch operator instead). Within a batch, events sort by
    (ts, event_id) before assignment — identical tie order to the
    batch twin, which the parity test pins.
    """
    from pyspark.sql import functions as F

    def _assign(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            last, start, idx = state.get
        else:
            last, start, idx = None, None, 0
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf) == 0:
            return
        pdf = pdf.sort_values(["__us", "event_id"]).reset_index(drop=True)
        out = []
        for t in pdf["__us"].tolist():
            if idx == 0:
                idx, start = 1, t
            elif t - last > gap_us or t - start > cap_us:
                idx += 1
                start = t
            last = t
            out.append(idx)
        state.update((int(last), int(start), int(idx)))
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out),
                "event_id": pdf["event_id"],
                "session_idx": out,
            }
        )

    # raw parquet reads surface ts as TIMESTAMP_NTZ; the session TZ is
    # UTC so the cast is value-preserving and unix_micros resolves on
    # either physical type
    prepared = events.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("__us"),
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _assign,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

