"""Streaming sliding-window distinct counts with WATERMARK-DRIVEN STATE
EVICTION — the ingest-time twin of the batch cube-cell entry
(queries/sketches.py::events_distinct_hll_sliding), and the one scale
property the other sketch monitors deliberately do not demonstrate:
their state is "per-key forever" (a running total needs exactly that);
a trailing-window answer instead needs per-(key, day) cells whose
lifetime is BOUNDED, or an actually-unbounded stream eventually holds
its whole history in the state store.

Shape: operator state per key is a small table of (day -> M-register
HLL cell). Every micro-batch max-folds its rows into the cells of the
days it touches (idx/rho are computed BEFORE the stateful operator by
the same JVM md5/conv/bin expressions the batch plan uses — the pandas
update is one vectorized ``np.maximum.at`` per touched day), then
re-emits the trailing-``win_days`` register merge for every anchor a
touched day can influence. Anchors are observed days, exactly the batch
entry's window set.

The eviction invariant (provable, and emitted so tests can pin it):
a cell for day D serves anchors D .. D+w-1 and nothing else; Spark's
watermark filter guarantees no future row carries a day below the
watermark; therefore once ``wm_day >= D + w`` neither a new anchor nor
a re-emission can ever read cell D again — it is dropped, inline on
data triggers and via an event-time timer on idle keys (a key whose
cells ALL age out has its state row removed entirely, so dead keys
don't pin the store either). State per key is thus at most
``win_days + ceil(watermark_delay)`` cells of M integers, independent
of stream length. Every emitted row carries (n_cells_in_state,
oldest_cell_day) AFTER eviction, making the bound an output-visible
contract instead of prose.

Correctness contract (the batch entry's, kept live across batch
boundaries and restarts): the LAST emission per (key, win_end) carries
v_zero / sum_inv_scaled / reg_checksum equal to the batch operator's
flat per-window build over the union of all chunks, bit-for-bit —
register max-folding is associative/commutative and cells merge by
register-wise max exactly as the batch fan-out does
(tests/test_streaming_sliding_distinct.py replays chunked, restarted,
under both state-store providers, against the hashlib reference).

Reference note: the reference repo (MapReducer-PI-cs4433) has no
streaming surface; this module extends the engine's streaming family
(SURVEY.md §2.8 "engine ships them anyway").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions import hll

_DAY_MS = 86_400_000

SLIDING_SCHEMA = StructType(
    [
        StructField("event_type", StringType(), False),
        StructField("win_end_day", IntegerType(), False),
        StructField("n_days_in_win", IntegerType(), False),
        StructField("v_zero", IntegerType(), False),
        StructField("sum_inv_scaled", LongType(), False),
        StructField("reg_checksum", LongType(), False),
        StructField("distinct_est", DoubleType(), False),
        # state-bound observability: AFTER this trigger's eviction
        StructField("n_cells_in_state", IntegerType(), False),
        StructField("oldest_cell_day", IntegerType(), False),
    ]
)

# cell table as parallel typed arrays: days (epoch days, sorted unique)
# + register matrix flattened row-major (len == len(days) * hll.M) —
# never a pickle, same discipline as the other sketch monitors
_STATE_SCHEMA = StructType(
    [
        StructField("days", ArrayType(IntegerType()), False),
        StructField("regs", ArrayType(IntegerType()), False),
    ]
)


def _load_cells(days, regs):
    """Decode the cell-table state row into {day: register row}. The
    table layout is this module's own — days sorted unique, one
    M-register row per day; the register rows themselves go through
    hll.restore."""
    import numpy as np

    d = np.asarray(days, dtype=np.int64)
    if (np.diff(d) <= 0).any() or len(regs) != d.shape[0] * hll.M:
        raise ValueError(
            f"HLL sliding state holds {d.shape[0]} days and {len(regs)} "
            f"register values (want days sorted unique, days*{hll.M} "
            "values): state row corrupted"
        )
    rows = hll.restore(np.reshape(regs, (d.shape[0], hll.M)))
    return dict(zip(d.tolist(), rows))


def hll_sliding_distinct_stream(
    stream: DataFrame,
    win_days: int = 7,
    watermark: str = "2 days",
    max_future_skew: str | None = None,
) -> DataFrame:
    """Per-key trailing-``win_days`` distinct-count snapshots with
    bounded state. Returns a streaming DataFrame (SLIDING_SCHEMA, update
    mode): each trigger re-emits every window anchor a touched day can
    influence, so late-but-in-watermark data revises exactly the
    anchors it belongs to and the final emission per (key, win_end)
    equals the batch sliding entry. NULL keys/ids/timestamps are dropped
    before the stateful operator, mirroring the batch entry's filter.

    ``max_future_skew`` (e.g. ``"2 days"``) is the clock-skew defense:
    Spark's watermark is EVENT-time driven, so one producer with a
    broken clock emitting a far-future timestamp silently advances the
    watermark past the entire live corpus — every real cell evicts,
    every real row late-filters, and the query keeps 'running'
    healthily over nothing. Eviction alone cannot defend against this
    (the poisoned row looks like the newest data); the defense is an
    ingest-side sanity clamp BEFORE the watermark node: rows with
    ``ts > current_timestamp() + max_future_skew`` are dropped, so a
    future-dated row can never move the watermark further than the
    bound. Off (None) by default — enable it on any stream whose
    producers' clocks you do not control.

    REPLAY CAVEAT: the clamp compares against
    ``current_timestamp()``, a wall-clock predicate evaluated at
    PROCESSING time — deliberately, because event-time state is
    exactly what a poisoned producer controls, so the only trustworthy
    reference is the consumer's own clock. The cost is that the
    predicate is nondeterministic across checkpoint recovery: a
    micro-batch replayed later re-evaluates the clamp at the NEW wall
    clock, so a row that sat within the bound on first processing can
    be admitted (never newly dropped — the bound only moves forward)
    on replay, and the 'last emission equals the batch build' contract
    weakens to 'equals the batch build over the admitted rows'. This
    is the standard trade of every ingest-time guard (Kafka broker
    timestamp validation makes the same one); deployments that need
    bit-identical replay should clamp at the PRODUCER/ingest layer and
    leave this option off. A deterministic in-query alternative —
    clamping against the max event time seen so far — is NOT offered:
    it reintroduces the vulnerability (the poisoned row itself defines
    'seen so far') and state-couples the filter to the operator it
    protects."""
    import numpy as np
    import pandas as pd

    w = int(win_days)

    def update(key, pdf_iter, state: GroupState):
        (ktype,) = key
        wm_day = state.getCurrentWatermarkMs() // _DAY_MS
        cells = _load_cells(*state.get) if state.exists else {}
        touched: set[int] = set()
        if not state.hasTimedOut:
            for pdf in pdf_iter:
                day_arr = pdf["day"].to_numpy(dtype=np.int64)
                idx_arr = pdf["idx"].to_numpy(dtype=np.int64)
                rho_arr = pdf["rho"].to_numpy(dtype=np.int64)
                for day in np.unique(day_arr):
                    day = int(day)
                    cell = cells.get(day)
                    if cell is None:
                        cell = cells[day] = np.zeros(hll.M, dtype=np.int64)
                    m = day_arr == day
                    np.maximum.at(cell, idx_arr[m], rho_arr[m])
                    touched.add(day)
        # EVICT: cell D's last possible reader is anchor D+w-1, and no
        # future row sits below the watermark — once wm_day >= D + w the
        # cell is unreachable. Runs on every invocation (data or timer).
        if wm_day > 0:
            cells = {d: c for d, c in cells.items() if d + w > wm_day}
        if not cells:
            # every cell aged out (or a spurious timer on empty state):
            # drop the whole state row — dead keys must not pin the store
            state.remove()
            return
        days_sorted = sorted(cells)
        state.update(
            (
                days_sorted,
                [int(v) for d in days_sorted for v in cells[d]],
            )
        )
        # re-arm at the moment the oldest live cell becomes evictable
        # (must sit strictly above the current watermark)
        state.setTimeoutTimestamp(
            max((days_sorted[0] + w) * _DAY_MS, (wm_day + 1) * _DAY_MS)
        )
        if not touched:
            return
        oldest = days_sorted[0]
        n_cells = len(days_sorted)
        out = []
        for anchor in days_sorted:
            if not any(t <= anchor <= t + w - 1 for t in touched):
                continue
            win = [
                cells[d] for d in days_sorted if anchor - w + 1 <= d <= anchor
            ]
            merged = np.maximum.reduce(win)
            v_zero = int((merged == 0).sum())
            sis = hll.sum_inv_scaled(merged)
            out.append(
                (
                    ktype,
                    anchor,
                    len(win),
                    v_zero,
                    sis,
                    int(((np.arange(hll.M) + 1) * merged).sum()),
                    hll.estimate(sis, v_zero),
                    n_cells,
                    oldest,
                )
            )
        if out:
            yield pd.DataFrame(
                out, columns=[f.name for f in SLIDING_SCHEMA.fields]
            )

    if max_future_skew is not None:
        # BEFORE withWatermark: a dropped row must never have advanced
        # the watermark it is being judged against
        stream = stream.filter(
            F.col("ts")
            <= F.expr(f"current_timestamp() + interval {max_future_skew}")
        )
    pre = (
        stream.withWatermark("ts", watermark)
        .filter(
            F.col("event_type").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
        )
        .select(
            F.col("event_type").alias("event_type"),
            # day MUST share the watermark's clock: getCurrentWatermarkMs
            # is UTC epoch ms, so the cell day is the UTC epoch day
            # (unix_timestamp of an instant is session-tz-independent).
            # A to_date()-derived day drifts one day off in non-UTC
            # sessions and breaks the eviction invariant exactly at the
            # window edge.
            F.floor(F.unix_timestamp(F.col("ts")) / F.lit(86400))
            .cast("int")
            .alias("day"),
            hll.idx_col(F.col("user_id")).alias("idx"),
            hll.rho_col(F.col("user_id")).alias("rho"),
            # the watermarked column must reach the stateful operator or
            # Spark rejects EventTimeTimeout; update() never reads it
            F.col("ts").alias("__ts"),
        )
    )
    return pre.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=SLIDING_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
