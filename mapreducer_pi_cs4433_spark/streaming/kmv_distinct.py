"""Streaming KMV distinct-count monitor — the k-min-sample member of the
sketch-monitor family (HLL running: streaming/distinct.py; HLL sliding
with eviction: streaming/sliding_distinct.py; KLL quantiles:
streaming/quantiles.py). One k-min hash sample per key lives in operator
state; every micro-batch k-min-merges its rows in; every trigger emits a
fresh (n_rows_seen, n_sample, theta, distinct_est, sample) snapshot.

Why KMV and not another HLL: the SAMPLE supports set algebra the
registers cannot — downstream consumers can intersect/difference a key's
emitted sample against yesterday's persisted sample (the batch
orders_kmv_set_difference machinery) for live churn/acquisition
dashboards, because below the common theta, sample membership IS set
membership.

Division of labor, same as the HLL monitor: the hash is computed BEFORE
the stateful operator by the same JVM md5 column expression the batch
entries use (functions/kmv.py::h_col), so the pandas state update is one
vectorized k-min merge (kmv.fold) per batch. State is a typed long array
(sorted, distinct, <= k values) plus the exact folded-row count, decoded
by kmv.restore — never a pickle.

Correctness contract (kept live across batch boundaries and restarts):
k-min merging is associative, commutative, and idempotent, so the
sample after ANY chunked replay equals the batch k-min over the union of
the chunks BIT-FOR-BIT (asserted against a pure-Python hashlib reference
with two full restarts under both state-store providers in
tests/test_streaming_kmv_distinct.py); ``n_rows_seen`` counts folded
rows exactly; ``distinct_est`` is the batch entries' exact int64
floor-divide arithmetic (functions/kmv.py::estimate).

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
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions import kmv

SNAPSHOT_SCHEMA = StructType(
    [
        StructField("event_type", StringType(), False),
        StructField("n_rows_seen", LongType(), False),
        StructField("n_sample", IntegerType(), False),
        # max sample hash when the sketch is full, else the full space
        # (exact-mode theta, as in the batch entries)
        StructField("theta", LongType(), False),
        StructField("distinct_est", LongType(), False),
        StructField("sample", ArrayType(LongType()), False),
    ]
)

# sorted distinct k-min hashes + exact folded-row count (decoded by
# kmv.restore)
_STATE_SCHEMA = StructType(
    [
        StructField("sample", ArrayType(LongType()), False),
        StructField("n_rows", LongType(), False),
    ]
)


def kmv_distinct_stream(
    stream: DataFrame,
    k: int = kmv.K,
) -> DataFrame:
    """Per-key running KMV snapshots over an id stream (SNAPSHOT_SCHEMA,
    update mode): after every micro-batch, each key that received data
    re-emits its current k-min sample and distinct estimate. NULL keys
    and ids are dropped before the stateful operator, mirroring the
    batch entries' filters; emitting the sample itself keeps the batch
    bit-exactness contract checkable on the stream output — and hands
    consumers the set-algebra capability (vs a persisted reference
    sample) that registers cannot offer."""
    import numpy as np
    import pandas as pd

    def update(key, pdf_iter, state: GroupState):
        (ktype,) = key
        if state.exists:
            sample, n_rows = state.get
            s = kmv.restore(sample, k, n_rows)
        else:
            s = np.empty(0, dtype=np.int64)
            n_rows = 0
        got = 0
        for pdf in pdf_iter:
            h = pdf["h"].to_numpy(dtype=np.int64)
            got += len(h)
            s = kmv.fold(s, h, k)
        if not got:
            return
        n_rows += got
        state.update(([int(v) for v in s], n_rows))
        n_sample = int(s.shape[0])
        theta = int(s[-1]) if n_sample == k else kmv.SPACE
        yield pd.DataFrame(
            {
                "event_type": [ktype],
                "n_rows_seen": [n_rows],
                "n_sample": [n_sample],
                "theta": [theta],
                "distinct_est": [kmv.estimate(n_sample, theta, k)],
                "sample": [[int(v) for v in s]],
            }
        )

    pre = stream.filter(
        F.col("event_type").isNotNull() & F.col("user_id").isNotNull()
    ).select(
        F.col("event_type").alias("event_type"),
        kmv.h_col(F.col("user_id")).alias("h"),
    )
    return pre.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=SNAPSHOT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
