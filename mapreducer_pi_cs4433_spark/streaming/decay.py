"""Streaming twin of events_decayed_type_scores (queries/pipeline_ext.py):
freshness-weighted per-type popularity as an ``applyInPandasWithState``
state machine with EVENT-TIME timeouts.

Batch semantics being twinned: per (type, day) counts, weighted by an
exact power-of-two decay 2^(horizon - age) anchored on the newest day,
ages beyond the horizon dropped. The streaming version anchors each
snapshot on the newest COMPLETED day — the last day whose end the
watermark has passed — and emits one (event_type, as_of_day, n_events,
decayed_score) row per type per anchor day crossed, computed over
exactly the horizon window behind that anchor. Completed-day anchoring
is what makes a snapshot EXACT and deterministic: every event of the
anchor day is behind the watermark by then (whereas anchoring on the
watermark's own, still-open day would race data against timers and count
a partial day).

Why event-time timeouts: a type with no new rows in a batch still needs a
fresh snapshot when the watermark crosses a day boundary (its score
DECAYS with no traffic — that is the point of the metric). Each key arms
``setTimeoutTimestamp`` at the next day boundary, so the engine re-invokes
it from the watermark alone; the sessions module covers processing-time
timeouts, this module covers the event-time variant.

State per type: the (day, count) map inside the horizon behind the anchor
plus days still ahead of the watermark — bounded by horizon_days + the
watermark lag, never by stream length. A type that goes permanently
silent emits ONE final zero snapshot when its last bucket ages past the
horizon, then its state and timer are REMOVED (ADVICE r5) — the live key
set is bounded by types active within the horizon, not types ever seen. Late rows for a day already past
an emitted anchor but inside the horizon still merge (they affect FUTURE
anchors — correct, since a late event still counts toward later scores);
rows older than horizon behind the watermark are dropped.

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

_DAY_MS = 86_400_000

DECAY_SCHEMA = StructType(
    [
        StructField("event_type", StringType(), True),
        StructField("as_of_day", StringType(), True),
        StructField("n_events", LongType(), True),
        StructField("decayed_score", LongType(), True),
    ]
)

_DECAY_STATE_SCHEMA = StructType(
    [
        StructField("days", ArrayType(LongType()), True),
        StructField("counts", ArrayType(LongType()), True),
        StructField("last_emit_day", LongType(), True),
    ]
)


def decayed_scores_stateful(stream: DataFrame, horizon_days: int = 30) -> DataFrame:
    """Per-type decayed-popularity snapshots over a streaming event feed.

    Emits append-mode rows (event_type, as_of_day, n_events,
    decayed_score): one snapshot per type each time the newest COMPLETED
    day advances (driven by that type's own rows OR by its event-time
    timer), scoring sum(count * 2^(horizon - age)) over the horizon
    behind the anchor day — the same exact int64 bit-shift weighting as
    the batch query, so a snapshot whose anchor equals the batch corpus's
    newest day reproduces the batch row bit-for-bit once the watermark
    passes that day's end. If the watermark jumps several days in one
    batch, the snapshot lands on the latest completed day only
    (observation points, not a gap-filled series).
    """
    import pandas as pd

    hz = int(horizon_days)

    def update(key, pdf_iter, state: GroupState):
        (etype,) = key
        wm_ms = state.getCurrentWatermarkMs()
        # newest COMPLETED day: its end (anchor+1)*_DAY_MS <= wm_ms, so
        # every event of the anchor day is already behind the watermark
        anchor = wm_ms // _DAY_MS - 1
        if state.exists:
            days, counts, last_emit = state.get
            pend = dict(zip(days, counts))
        else:
            # a fresh key's emission floor is the CURRENT anchor: days
            # completed before the key existed carry zero counts by
            # construction (the engine's late filter guarantees incoming
            # rows sit above the watermark), and a key re-created after
            # dead-state removal must not re-emit its dead anchor
            pend, last_emit = {}, anchor
        if not state.hasTimedOut:
            for pdf in pdf_iter:
                day_idx = (
                    pd.to_datetime(pdf["__ts"]).astype("int64")
                    // (_DAY_MS * 10**6)
                ).to_numpy()
                for d in day_idx:
                    d = int(d)
                    pend[d] = pend.get(d, 0) + 1
        out = None
        if wm_ms > 0 and anchor >= 0:
            # horizon prune is safe once anchored: those days can never
            # contribute to this or any later anchor
            pend = {d: c for d, c in pend.items() if anchor - d <= hz}
            if anchor > last_emit:
                n = sum(c for d, c in pend.items() if d <= anchor)
                score = sum(
                    c << (hz - (anchor - d))
                    for d, c in pend.items()
                    if d <= anchor
                )
                out = pd.DataFrame(
                    {
                        "event_type": [etype],
                        "as_of_day": [
                            pd.Timestamp(anchor * 86_400, unit="s").strftime(
                                "%Y-%m-%d"
                            )
                        ],
                        "n_events": [n],
                        "decayed_score": [score],
                    }
                )
                last_emit = anchor
        if not pend and anchor >= 0:
            # decayed to zero with nothing pending: the final (0, 0)
            # snapshot for this anchor is in `out` (or already emitted) —
            # drop state AND timer instead of re-arming forever (ADVICE
            # r5: a permanently silent type would otherwise emit a zero
            # row every day and hold a state-store key indefinitely). A
            # later row re-creates state; the fresh-key emission floor
            # above keeps the dead anchor from double-emitting.
            state.remove()
        else:
            keys = sorted(pend)
            state.update((keys, [pend[d] for d in keys], last_emit))
            # re-arm at the moment the NEXT anchor completes — the engine
            # re-invokes this key when the watermark crosses it, data or
            # not
            state.setTimeoutTimestamp((anchor + 2) * _DAY_MS)
        if out is not None:
            yield out

    prepared = stream.withWatermark("ts", "1 second").select(
        F.col("event_type").alias("event_type"), F.col("ts").alias("__ts")
    )
    return prepared.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=DECAY_SCHEMA,
        stateStructType=_DECAY_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
