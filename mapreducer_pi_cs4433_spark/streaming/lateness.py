"""Streaming twin of events_late_arrival_census (queries/curation.py):
per-event lateness tagging against the per-user RUNNING event-time
maximum, maintained continuously as events arrive.

The batch census asks "how late did each event arrive relative to the
newest event time its producer had already shipped?" using event_id as
the arrival-order proxy. The streaming form is the operator a real
ingest pipeline runs: state is ONE int64 per user (the running max
event-time second), each incoming event is tagged with
``greatest(running_max - ts, 0)`` and its lateness band, and the state
updates — emitted append-mode so any downstream aggregation (the census,
a per-band metric sink, a dead-letter route for 'e_over_1d') composes
freely.

Arrival order: across micro-batches the engine delivers batches in
arrival order; WITHIN a batch the tagger sorts the user's rows by the
arrival-id column before folding, so replaying a log in id-ordered
chunks reproduces the batch census bit-for-bit regardless of where the
chunk boundaries fall (pinned in tests/test_streaming_lateness.py).

Why a custom stateful map and not a built-in agg: the running max is
trivially a groupBy().max(), but tagging EVERY EVENT with the max "as of
its arrival" is a per-row join against evolving state — exactly the
applyInPandasWithState shape. State per user is a single long: bounded
by |users|, independent of stream length; no timers (a silent user's
state is one stale long — eviction policy belongs to the state store
TTL, not this operator).

Serialization: the update function is a local closure (module-level
functions ship by cloudpickle reference and break when executors can't
import this package — see functions/multimodal.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

LATENESS_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), True),
        StructField("event_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("late_s", LongType(), True),
        StructField("lateness", StringType(), True),
    ]
)

_LATENESS_STATE_SCHEMA = StructType(
    [StructField("max_ts_s", LongType(), True)]
)

_BANDS = ((0, "a_in_order"), (60, "b_under_1m"), (3600, "c_under_1h"),
          (86400, "d_under_1d"))


def _band(late_s: int) -> str:
    if late_s == 0:
        return "a_in_order"
    for bound, label in _BANDS[1:]:
        if late_s < bound:
            return label
    return "e_over_1d"


def late_arrival_tagger(
    stream: DataFrame,
) -> DataFrame:
    """Tag every event with its lateness (seconds + band) against the
    per-user running event-time max in arrival order; append-mode.

    The generous 30-day watermark reflects the operator's purpose: it
    MEASURES lateness rather than enforcing a tolerance, so it must see
    the late events a tighter watermark would drop (the census built on
    its output is precisely how that tighter watermark gets chosen).
    """
    import pandas as pd

    def update(key, pdf_iter, state: GroupState):
        (uid,) = key
        cur = state.get[0] if state.exists else None
        for pdf in pdf_iter:
            pdf = pdf.sort_values("__id", kind="mergesort")
            ts_s = (
                pd.to_datetime(pdf["__ts"]).astype("int64") // 10**9
            ).to_numpy()
            late = []
            for t in ts_s:
                t = int(t)
                cur = t if cur is None else max(cur, t)
                late.append(cur - t)
            yield pd.DataFrame(
                {
                    "user_id": uid,
                    "event_id": pdf["__id"].to_numpy(),
                    "event_type": pdf["event_type"].to_numpy(),
                    "late_s": late,
                    "lateness": [_band(v) for v in late],
                }
            )
        if cur is not None:
            state.update((cur,))

    prepared = stream.withWatermark("ts", "30 days").select(
        # cast like the attribution/conversion siblings: an int32 id
        # column would otherwise Arrow-mismatch LATENESS_SCHEMA's longs
        F.col("user_id").cast("long").alias("user_id"),
        F.col("ts").alias("__ts"),
        F.col("event_id").cast("long").alias("__id"),
        "event_type",
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=LATENESS_SCHEMA,
        stateStructType=_LATENESS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
