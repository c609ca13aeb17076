"""Streaming twin of events_attribution_last_touch (queries/insights.py):
last-touch channel resolution as a per-user ``applyInPandasWithState``
machine with watermark-gated emission.

Batch semantics being twinned: every purchase credits the user's most
recent NON-purchase touch at-or-before the purchase second (touches
collapsed per (user, second) to the lexicographic-max channel — the
kernel's deterministic tie) and within the lookback window, else the
'none' bucket. The batch form is an as-of join; the streaming form is
the machine an always-on attribution pipeline runs.

Why emission must wait for the watermark: the touch a purchase credits
can ARRIVE after the purchase does (event-time disorder — exactly what
the lateness census measures on this corpus). Resolving a purchase at
arrival time would mis-attribute it; the machine therefore holds each
purchase until the watermark passes its event time — at that point every
touch at-or-before it has arrived or been dropped by the engine, so the
as-of pick is final. The funnel twin (streaming/funnel.py) established
this ordered-replay contract; attribution reuses it.

State per user, and why it is bounded:

- pending purchases — only those ahead of the watermark, i.e. bounded by
  the watermark lag, not history.
- touches — pruned each batch to {the latest touch at-or-before the
  watermark} ∪ {touches ahead of the watermark}: any future purchase has
  event time beyond the watermark, and its as-of touch is either ahead
  of the watermark too or IS the latest final touch; everything older
  can never be credited again. This is the classic as-of state prune —
  steady state is ONE (second, channel) pair per user plus the in-flight
  horizon. The lookback window needs no extra state: an out-of-window
  latest touch simply resolves to 'none' at emission.

Event-time timers re-invoke users whose pending purchases finalize in
batches that carry no new rows for them.

Emissions (append mode): one row per purchase — (user_id, event_id,
purchase_s, channel). Aggregating per channel downstream reproduces the
batch census exactly once the watermark passes the corpus (pinned in
tests/test_streaming_attribution.py).

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

ATTRIBUTION_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), True),
        StructField("event_id", LongType(), True),
        StructField("purchase_s", LongType(), True),
        StructField("channel", StringType(), True),
    ]
)

# the batch twin's _ATTR_WINDOW_S
_LOOKBACK_S = 7 * 86_400

_ATTR_STATE_SCHEMA = StructType(
    [
        StructField("touch_s", ArrayType(LongType()), True),
        StructField("touch_ch", ArrayType(StringType()), True),
        StructField("pend_id", ArrayType(LongType()), True),
        StructField("pend_s", ArrayType(LongType()), True),
    ]
)


def attribution_stateful(stream: DataFrame, watermark: str = "1 second") -> DataFrame:
    """Last-touch attribution over a streaming event feed; see module
    docstring for the watermark-gated as-of contract."""
    import pandas as pd

    lb = _LOOKBACK_S

    def update(key, pdf_iter, state: GroupState):
        (user,) = key
        if state.exists:
            t_s, t_ch, p_id, p_s = state.get
            touches = dict(zip(t_s, t_ch))
            pending = list(zip(p_id, p_s))
        else:
            touches, pending = {}, []
        if not state.hasTimedOut:
            for pdf in pdf_iter:
                secs = (
                    pd.to_datetime(pdf["__ts"]).astype("int64") // 10**9
                ).to_numpy()
                for sec, eid, et in zip(
                    secs, pdf["__id"].to_numpy(), pdf["__type"].to_numpy()
                ):
                    sec = int(sec)
                    if et == "purchase":
                        pending.append((int(eid), sec))
                    else:
                        prev = touches.get(sec)
                        # per-second collapse: lexicographic max channel
                        # (ties batch's max-packed collapse exactly —
                        # the date prefix is equal within a second)
                        touches[sec] = et if prev is None else max(prev, et)
        wm_s = state.getCurrentWatermarkMs() // 1000
        out = []
        if pending and wm_s > 0:
            still = []
            # (event time, id) order makes the emission order itself
            # deterministic, not just the per-purchase verdicts
            for eid, ps in sorted(pending, key=lambda e: (e[1], e[0])):
                if ps > wm_s:
                    still.append((eid, ps))
                    continue
                final = [s for s in touches if s <= ps]
                ch = "none"
                if final:
                    s = max(final)
                    if ps - s <= lb:
                        ch = touches[s]
                out.append((user, eid, ps, ch))
            pending = still
        if touches and wm_s > 0:
            keep = {s for s in touches if s > wm_s}
            final = [s for s in touches if s <= wm_s]
            if final:
                keep.add(max(final))
            touches = {s: touches[s] for s in sorted(keep)}
        state.update(
            (
                list(touches.keys()),
                list(touches.values()),
                [e for e, _ in pending],
                [s for _, s in pending],
            )
        )
        if pending:
            # wake this user the moment its oldest pending purchase
            # becomes final, even if no new rows arrive for it
            state.setTimeoutTimestamp((min(s for _, s in pending) + 1) * 1000)
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [o[0] for o in out],
                    "event_id": [o[1] for o in out],
                    "purchase_s": [o[2] for o in out],
                    "channel": [o[3] for o in out],
                }
            )

    prepared = stream.withWatermark("ts", watermark).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("ts").alias("__ts"),
        F.col("event_id").cast("long").alias("__id"),
        F.col("event_type").alias("__type"),
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=ATTRIBUTION_SCHEMA,
        stateStructType=_ATTR_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
