"""Streaming twin of scd2_user_type_history (queries/incremental.py): the
SCD Type-2 history builder as a per-key ``applyInPandasWithState`` machine
with watermark-ordered replay.

Batch semantics being twinned: consecutive same-state changes collapse
into validity intervals under the total version order ``(ts, event_id)``.
Run boundaries depend on exact event order, so the stream must not fold
in ARRIVAL order — a late change arriving after a newer one would
otherwise split or merge the wrong run. Like the funnel twin
(streaming/funnel.py), events buffer in state while they are still
preemptible and fold in EVENT-TIME order (microsecond ts, event_id
tie-break — the batch order exactly) only once the watermark passes them;
at that point the engine guarantees no earlier event can arrive, so every
fold step is final.

Emissions (append mode): one row per CLOSED interval —
(user_id, version, state, valid_from_s, valid_to_s, n_events), epoch
seconds. The open interval is not emitted (it would still be mutable);
it lives in state and is exactly the ``is_current`` row of the batch twin
at any watermark point. Closed-interval parity with the batch query is
pinned by tests, including arbitrary micro-batch split points.

State per key: the open run (4 scalars) + the not-yet-final buffer, which
the watermark continually drains — bounded by watermark lag, not history.
Event-time timers re-invoke keys whose buffered events finalize in
batches carrying no new rows for them.

Serialization: the update function is a local closure (module-level
functions ship by cloudpickle reference and break when executors can't
import this package — see functions/multimodal.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

SCD2_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), True),
        StructField("version", LongType(), True),
        StructField("state", StringType(), True),
        StructField("valid_from_s", LongType(), True),
        StructField("valid_to_s", LongType(), True),
        StructField("n_events", LongType(), True),
    ]
)

_SCD2_STATE_SCHEMA = StructType(
    [
        StructField("cur_state", StringType(), True),
        StructField("cur_vf_us", LongType(), True),
        StructField("cur_n", LongType(), True),
        StructField("cur_version", LongType(), True),
        StructField("buf_ts_us", ArrayType(LongType()), True),
        StructField("buf_eid", ArrayType(LongType()), True),
        StructField("buf_state", ArrayType(StringType()), True),
    ]
)


def scd2_history_stream(
    changes: DataFrame,
    watermark: str = "1 second",
) -> DataFrame:
    """Closed SCD2 validity intervals from a streaming change log; see
    module docstring for the ordered-replay contract."""
    import pandas as pd

    def update(key, pdf_iter, state: GroupState):
        (user,) = key
        if state.exists:
            cur_state, cur_vf, cur_n, cur_ver, b_ts, b_eid, b_st = state.get
            buf = list(zip(b_ts, b_eid, b_st))
        else:
            cur_state, cur_vf, cur_n, cur_ver, buf = None, None, 0, 0, []
        if not state.hasTimedOut:
            for pdf in pdf_iter:
                micros = (
                    pd.to_datetime(pdf["__ts"]).astype("int64") // 1000
                ).to_numpy()
                eids = pdf["__eid"].to_numpy()
                states = pdf["__state"].to_numpy()
                buf.extend(
                    (int(t), int(e), str(s))
                    for t, e, s in zip(micros, eids, states)
                )
        wm_us = state.getCurrentWatermarkMs() * 1000
        out = []
        if buf and wm_us > 0:
            buf.sort()  # (ts_us, event_id, state): the batch total order
            final = [e for e in buf if e[0] <= wm_us]
            buf = [e for e in buf if e[0] > wm_us]
            for t, _eid, st in final:
                if cur_state is None:
                    cur_state, cur_vf, cur_n, cur_ver = st, t, 1, 1
                elif st == cur_state:
                    cur_n += 1
                else:
                    out.append(
                        (user, cur_ver, cur_state,
                         cur_vf // 10**6, t // 10**6, cur_n)
                    )
                    cur_state, cur_vf, cur_n = st, t, 1
                    cur_ver += 1
        state.update(
            (
                cur_state,
                cur_vf,
                cur_n,
                cur_ver,
                [t for t, _, _ in buf],
                [e for _, e, _ in buf],
                [s for _, _, s in buf],
            )
        )
        if buf:
            # wake this key the moment its oldest pending change finalizes
            state.setTimeoutTimestamp(buf[0][0] // 1000 + 1000)
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [o[0] for o in out],
                    "version": [o[1] for o in out],
                    "state": [o[2] for o in out],
                    "valid_from_s": [o[3] for o in out],
                    "valid_to_s": [o[4] for o in out],
                    "n_events": [o[5] for o in out],
                }
            )

    prepared = (
        changes.withWatermark("ts", watermark)
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("ts").alias("__ts"),
            F.col("event_id").cast("long").alias("__eid"),
            F.col("event_type").cast("string").alias("__state"),
        )
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=SCD2_SCHEMA,
        stateStructType=_SCD2_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
