"""Streaming twin of events_time_to_conversion (queries/insights.py):
per-touch time-to-next-purchase resolution as a per-user
``applyInPandasWithState`` machine with watermark-gated emission.

Batch semantics being twinned: every non-purchase touch at second s
resolves to the user's NEAREST purchase at-or-after s (same-second
inclusive, lag 0); converted iff the lag is within the 7-day window,
else censored. The batch form is one descending running-min window; the
streaming form is the machine a live conversion dashboard runs.

Why emission must wait for the watermark — twice over: a purchase
nearer to the touch than any seen so far can still arrive (event-time
disorder), so a touch with a known purchase at p finalizes only when
the watermark passes p (nothing below p can arrive after that); and a
touch with NO known purchase in its window finalizes as censored only
when the watermark passes s + window (the whole window is final). This
is the attribution twin's ordered-resolution contract pointed forward.

State per user, and why it is bounded:

- pending touches — each lives at most (window + watermark lag) of
  event time: by then it has resolved one way or the other.
- purchase seconds — pruned each batch to {p >= floor(watermark)}: a
  purchase STRICTLY below the floored watermark second can serve no
  future touch (any still-admissible late row has event time >= the
  watermark, so its touch second is >= floor(wm) > p), and it already
  resolved every pending touch it could (touches at s <= p resolve the
  moment wm >= p). The boundary second itself must be KEPT: Spark
  admits rows with event time strictly above the SUB-SECOND watermark
  (measured on 4.1.2: equality is dropped), so with wm = S + 0.5 a
  touch at S + 0.6 still arrives and its FLOORED second is S — its
  same-second lag-0 purchase (which the batch twin counts,
  purchases-first tie) lives at exactly p == S == floor(wm). Pruning
  with a strict > there (the pre-r8 form) silently lost that
  conversion (tests/test_streaming_conversion.py pins it). Steady
  state is the in-flight horizon plus at most one boundary second,
  independent of stream length.

Event-time timers re-invoke users whose pending touches finalize in
batches that carry no new rows for them (the earliest deadline:
min over pending of min(next-known-purchase, s + window)).

Emissions (append mode): one row per touch — (user_id, event_id,
event_type, touch_s, lag_s NULL unless converted, conv 0/1).
Aggregating per type downstream reproduces the batch census exactly
once the watermark passes the corpus plus a window
(tests/test_streaming_conversion.py).

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
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

CONVERSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), True),
        StructField("event_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("touch_s", LongType(), True),
        StructField("lag_s", LongType(), True),
        StructField("conv", IntegerType(), True),
    ]
)

_CONV_STATE_SCHEMA = StructType(
    [
        StructField("t_id", ArrayType(LongType()), True),
        StructField("t_ty", ArrayType(StringType()), True),
        StructField("t_s", ArrayType(LongType()), True),
        StructField("p_s", ArrayType(LongType()), True),
    ]
)


def conversion_stateful(
    stream: DataFrame,
    window_seconds: int = 7 * 86_400,
    watermark: str = "1 second",
) -> DataFrame:
    """Time-to-conversion over a streaming event feed; see module
    docstring for the forward-as-of watermark contract."""
    import pandas as pd

    w = int(window_seconds)

    def update(key, pdf_iter, state: GroupState):
        (user,) = key
        if state.exists:
            t_id, t_ty, t_s, p_s = state.get
            touches = list(zip(t_id, t_ty, t_s))
            purchases = set(p_s)
        else:
            touches, purchases = [], set()
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
                        purchases.add(sec)
                    else:
                        touches.append((int(eid), et, sec))
        wm_s = state.getCurrentWatermarkMs() // 1000
        out = []
        if touches and wm_s > 0:
            still = []
            for eid, et, s in sorted(touches, key=lambda t: (t[2], t[0])):
                nxt = min((p for p in purchases if p >= s), default=None)
                if nxt is not None and nxt <= s + w and wm_s >= nxt:
                    # resolving at wm_s == nxt is safe: a late event is
                    # strictly above the sub-second watermark, so its
                    # floored second is >= wm_s == nxt — never NEARER
                    out.append((user, eid, et, s, nxt - s, 1))
                elif wm_s > s + w:
                    # censor only STRICTLY past the window-end second:
                    # at wm_s == s + w a late purchase flooring to
                    # exactly s + w is still admissible and the batch
                    # twin counts it (lag <= window, inclusive) — the
                    # same floored-boundary class as the purchase-prune
                    # fix below (caught by r8 self-review)
                    out.append((user, eid, et, s, None, 0))
                else:
                    still.append((eid, et, s))
            touches = still
        if purchases and wm_s > 0:
            # keep the floored-watermark second itself: a late touch at
            # second wm_s is still admissible (event time >= watermark)
            # and may resolve lag-0 against a purchase at wm_s
            purchases = {p for p in purchases if p >= wm_s}
        state.update(
            (
                [t[0] for t in touches],
                [t[1] for t in touches],
                [t[2] for t in touches],
                sorted(purchases),
            )
        )
        if touches:
            deadline = min(
                min(
                    (p for p in purchases if p >= s and p <= s + w),
                    default=s + w,
                )
                for _, _, s in touches
            )
            state.setTimeoutTimestamp((deadline + 1) * 1000)
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [o[0] for o in out],
                    "event_id": [o[1] for o in out],
                    "event_type": [o[2] for o in out],
                    "touch_s": [o[3] for o in out],
                    "lag_s": pd.array(
                        [o[4] for o in out], dtype="Int64"
                    ),
                    "conv": [o[5] for o in out],
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
        outputStructType=CONVERSION_SCHEMA,
        stateStructType=_CONV_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
