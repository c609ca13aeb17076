"""Sessionization: gap-based event sessions, two implementations.

- sessionize(df): built-in ``session_window`` — works identically on batch
  and streaming DataFrames; the engine manages merge/expiry state. Prefer
  this when the semantics fit (fixed inactivity gap).
- sessionize_stateful(stream): ``applyInPandasWithState`` — the template for
  custom per-key state machines the built-ins can't express (dynamic gaps,
  per-session ML features, cross-event invariants). Arrow-batched, state is
  one row per user, sessions emit when closed by a gap or by processing-time
  timeout. Replay-tested equal to the built-in.

Serialization: the state function is a local closure (module-level functions
ship by cloudpickle reference and break when executors can't import this
package — see functions/multimodal.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("session_start", TimestampType(), True),
        StructField("session_end", TimestampType(), True),
        StructField("n_events", IntegerType(), True),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType(), True),
        StructField("last_us", LongType(), True),
        StructField("n_events", IntegerType(), True),
    ]
)


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
) -> DataFrame:
    """Gap-based sessions via the built-in session window (batch or
    streaming; on streams add a watermark upstream). Output matches
    SESSION_SCHEMA plus nothing else — downstream joins stay narrow."""
    return (
        events.groupBy(
            F.col("user_id").alias("user_id"),
            F.session_window(F.col("ts"), gap).alias("w"),
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            F.col("n_events").cast("int").alias("n_events"),
        )
    )


def sessionize_stateful(
    stream: DataFrame,
    gap_seconds: int = 1800,
    flush_timeout_seconds: int | None = None,
) -> DataFrame:
    """Custom stateful sessionization over a *streaming* DataFrame.

    Per user the state is (session_start, last_seen, n_events) in epoch
    micros. Each micro-batch: sort the user's new events, extend or close
    sessions on gap > gap_seconds, keep the open session in state, and arm
    a processing-time timeout of flush_timeout_seconds (default:
    gap_seconds) so idle users eventually flush their final session.

    Caution for bounded replays: with processing-time timeouts in the plan,
    an availableNow query does NOT self-terminate — it keeps running empty
    micro-batches even after every timer has fired and the state store is
    empty (observed on Spark 4.1: batch 1 flushes all timers, state rows
    drop to 0, batches continue regardless). Bounded replays should pass a
    small flush_timeout_seconds and stop() the query once the state-store
    row count in lastProgress reaches 0 (see tests/test_scale_helpers.py).

    Note: session_end here is the last event's timestamp (the built-in
    session_window reports end = last_event + gap; callers aligning the two
    add the gap).
    """
    import pandas as pd

    gap_us = gap_seconds * 1_000_000
    timeout_ms = (
        gap_seconds if flush_timeout_seconds is None else flush_timeout_seconds
    ) * 1000

    def update(key, pdf_iter, state: GroupState):
        (user,) = key
        closed: list[tuple[int, int, int, int]] = []
        if state.hasTimedOut:
            if state.exists:
                s, last, n = state.get
                closed.append((user, s, last, n))
                state.remove()
        else:
            ts_list: list[int] = []
            for pdf in pdf_iter:
                ts_list.extend(
                    int(v.value // 1000) for v in pd.to_datetime(pdf["__ts"])
                )
            ts_list.sort()
            if state.exists:
                s, last, n = state.get
            else:
                s = last = n = None
            for t in ts_list:
                if s is None:
                    s, last, n = t, t, 1
                elif t - last > gap_us:
                    closed.append((user, s, last, n))
                    s, last, n = t, t, 1
                else:
                    last, n = t, n + 1
            if s is not None:
                state.update((s, last, n))
                state.setTimeoutDuration(timeout_ms)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [c[0] for c in closed],
                    "session_start": [pd.Timestamp(c[1], unit="us") for c in closed],
                    "session_end": [pd.Timestamp(c[2], unit="us") for c in closed],
                    "n_events": [c[3] for c in closed],
                }
            )

    prepared = stream.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("ts").alias("__ts"),
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=SESSION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )

