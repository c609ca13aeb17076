"""Streaming twin of events_funnel_windowed (queries/pipeline_ext.py):
the stage-anchored attribution funnel as a per-user
``applyInPandasWithState`` machine with watermark-ordered replay.

Batch semantics being twinned: first view -> first click in the 24h
window AFTER that view -> first purchase in the 24h window after THAT
click (strict inequalities, second-truncated timestamps). The batch
query's stage aggregates are order statistics over the complete history,
so a faithful stream must not fold events in ARRIVAL order — a late-ish
view arriving before the watermark passes a click would otherwise anchor
the wrong window. The machine therefore buffers each user's events while
they are still preemptible and folds them in EVENT-TIME order only once
the watermark passes them: at that point no earlier event can still
arrive (rows behind the watermark are dropped by the engine), so the
fold is final and deterministic. Equal-timestamp ties need no ordering
policy: every stage predicate is strict (t > anchor), so a click sharing
its view's timestamp never qualifies regardless of fold order.

Emissions (append mode): one row per user per stage reached —
(user_id, stage, at_s epoch-seconds). Counting distinct users per stage
downstream reproduces the batch query's n_view / n_click_within /
n_purchase_within exactly once the watermark passes the corpus.

State per user: the three stage anchors plus the not-yet-final event
buffer, which the watermark continually drains — bounded by the
watermark lag, not by history. A user whose funnel resolved (purchased,
or stage windows expired) keeps only the three scalars. Event-time
timers re-invoke users whose buffered events finalize in batches that
carry no new rows for them.

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

FUNNEL_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), True),
        StructField("stage", StringType(), True),
        StructField("at_s", LongType(), True),
    ]
)

_FUNNEL_STATE_SCHEMA = StructType(
    [
        StructField("view_s", LongType(), True),
        StructField("click_s", LongType(), True),
        StructField("purchased", IntegerType(), True),
        StructField("buf_ts", ArrayType(LongType()), True),
        StructField("buf_kind", ArrayType(IntegerType()), True),
    ]
)

_KINDS = {"view": 0, "click": 1, "purchase": 2}

# a stage counts only within one day of the stage before it
_WINDOW_S = 86_400


def funnel_stateful(
    stream: DataFrame,
    watermark: str = "1 second",
) -> DataFrame:
    """Stage-anchored funnel over a streaming event feed; see module
    docstring for the ordered-replay contract."""
    import pandas as pd

    w = _WINDOW_S

    def update(key, pdf_iter, state: GroupState):
        (user,) = key
        if state.exists:
            view_s, click_s, purchased, buf_ts, buf_kind = state.get
            buf = list(zip(buf_ts, buf_kind))
        else:
            view_s, click_s, purchased, buf = None, None, 0, []
        if not state.hasTimedOut:
            for pdf in pdf_iter:
                secs = (
                    pd.to_datetime(pdf["__ts"]).astype("int64") // 10**9
                ).to_numpy()
                kinds = pdf["__kind"].to_numpy()
                buf.extend((int(t), int(k)) for t, k in zip(secs, kinds))
        wm_s = state.getCurrentWatermarkMs() // 1000
        out = []
        if buf and wm_s > 0:
            buf.sort()
            final = [e for e in buf if e[0] <= wm_s]
            buf = [e for e in buf if e[0] > wm_s]
            for t, k in final:
                if k == 0 and view_s is None:
                    view_s = t
                    out.append((user, "view", t))
                elif (
                    k == 1
                    and click_s is None
                    and view_s is not None
                    and view_s < t <= view_s + w
                ):
                    click_s = t
                    out.append((user, "click", t))
                elif (
                    k == 2
                    and not purchased
                    and click_s is not None
                    and click_s < t <= click_s + w
                ):
                    purchased = 1
                    out.append((user, "purchase", t))
        state.update(
            (
                view_s,
                click_s,
                purchased,
                [t for t, _ in buf],
                [k for _, k in buf],
            )
        )
        if buf:
            # wake this user the moment its oldest pending event becomes
            # final, even if no new rows arrive for it
            state.setTimeoutTimestamp((buf[0][0] + 1) * 1000)
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [o[0] for o in out],
                    "stage": [o[1] for o in out],
                    "at_s": [o[2] for o in out],
                }
            )

    kind_map = F.create_map(
        *[x for k, v in _KINDS.items() for x in (F.lit(k), F.lit(v))]
    )
    prepared = (
        stream.withWatermark("ts", watermark)
        .filter(F.col("event_type").isin(*_KINDS))
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("ts").alias("__ts"),
            kind_map[F.col("event_type")].cast("int").alias("__kind"),
        )
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=FUNNEL_SCHEMA,
        stateStructType=_FUNNEL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
