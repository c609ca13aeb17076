"""Streaming quantile monitor — the ingest-time twin of the batch KLL
entry (``events_quantile_sketch_kll``): one KLL sketch per key lives in
operator state, every micro-batch folds its values in, and every trigger
emits a fresh (p50, p95, p99, n_seen) snapshot — "what does this
metric's distribution look like RIGHT NOW" over an unbounded stream with
state bounded at O(cap · log(n/cap)) floats per key, forever.

The state row is the sketch's serialized item table — (level[], value[],
parity[], n) typed arrays, the same (level, value) representation the
batch operator shuffles between its build and merge phases — so restart
recovery is just refilling compactors, and the state store (HDFS or
RocksDB provider) never sees a Python pickle.

Correctness contract (same two invariants the batch oracle hash-checks):
``n_seen`` equals the EXACT number of values folded — compaction halves
items while doubling weight, and the odd-leftover rule keeps the total
exact across arbitrarily many batch boundaries — and each snapshot
quantile sits within the deterministic rank band of the exact quantile
over everything ingested so far (functions/kll.py documents the bound).
Both are asserted after chunked replays and a mid-stream restart in
tests/test_streaming_quantiles.py, under both state-store providers.

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

from ..functions import kll

SNAPSHOT_SCHEMA = StructType(
    [
        StructField("event_type", StringType(), False),
        StructField("n_seen", LongType(), False),
        StructField("p50", DoubleType(), True),
        StructField("p95", DoubleType(), True),
        StructField("p99", DoubleType(), True),
    ]
)

# the sketch's item table, flattened into typed parallel arrays by
# kll.to_state and decoded by kll.restore (never a Python pickle)
_STATE_SCHEMA = StructType(
    [
        StructField("item_levels", ArrayType(IntegerType()), False),
        StructField("item_values", ArrayType(DoubleType()), False),
        StructField("parity", ArrayType(IntegerType()), False),
        StructField("n", LongType(), False),
    ]
)


def kll_quantile_stream(
    stream: DataFrame,
    cap: int = kll.DEFAULT_CAP,
) -> DataFrame:
    """Per-key running quantile snapshots over a value stream.

    Returns a streaming DataFrame of (event_type, n_seen, p50, p95, p99):
    after every micro-batch, each key that received data re-emits its
    current snapshot (outputMode update — a live distribution dashboard).
    NULL values are dropped before the stateful operator, mirroring the
    batch entry's filter."""
    import pandas as pd

    def update(key, pdf_iter, state: GroupState):
        (ktype,) = key
        sk = kll.restore(*state.get, cap=cap) if state.exists else kll.new_sketch()
        got = 0
        for pdf in pdf_iter:
            vals = pdf["value"].to_numpy()
            got += len(vals)
            kll.add_many(sk, vals, cap=cap)
        if not got:
            return
        # the EMITTED count is the sketch's own total weight — the
        # batch entry's sketch_weight == n_events contract stays live in
        # the stream output instead of being shadowed by a side counter
        n_now = kll.total_weight(sk)
        state.update(kll.to_state(sk))
        yield pd.DataFrame(
            {
                "event_type": [ktype],
                "n_seen": [n_now],
                "p50": [kll.quantile(sk, 500)],
                "p95": [kll.quantile(sk, 950)],
                "p99": [kll.quantile(sk, 990)],
            }
        )

    # NULL keys would form their own state group and emit a snapshot row
    # violating SNAPSHOT_SCHEMA's non-nullable event_type — filter both
    # key and value, matching the batch twin (events_quantile_sketch_kll
    # filters event_type IS NOT NULL) and sibling hll_distinct_stream
    pre = stream.filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    ).select(
        F.col("event_type").alias("event_type"),
        F.col("value").cast("double").alias("value"),
    )
    return pre.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=SNAPSHOT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
