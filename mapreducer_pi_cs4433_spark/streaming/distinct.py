"""Streaming distinct-count monitor — the ingest-time twin of the batch
HLL entry (``events_distinct_hll_rollup``): one register array per key
lives in operator state, every micro-batch max-folds its rows in, and
every trigger emits a fresh (n_rows_seen, v_zero, sum_inv_scaled,
distinct_est, registers) snapshot — "how many distinct X has this key
seen SO FAR" over an unbounded stream with state fixed at exactly M
integers per key, forever.

The division of labor keeps Python off the hot path: idx/rho are
computed BEFORE the stateful operator by the same JVM column
expressions the batch plan uses (functions/hll.py — md5/conv/bin
codegen), so the pandas state update only max-folds integer pairs into
the register array (one vectorized ``np.maximum.at`` per batch). The
state row is the dense register array plus the exact row count — typed
arrays, never a Python pickle, same discipline as the KLL monitor.

Correctness contract (the batch entry's, kept live across batch
boundaries): registers after ANY chunked replay equal the batch
operator's flat build over the union of the chunks BIT-FOR-BIT —
max-folding is associative and commutative, so arrival order and
restart points cannot perturb a single register (asserted with two full
restarts under both state-store providers in
tests/test_streaming_distinct.py); ``sum_inv_scaled`` stays an exact
integer; ``n_rows_seen`` counts folded rows exactly. The emitted
estimate rides functions/hll.py::estimate — the same scalar formula the
batch entry states as column arithmetic.

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

SNAPSHOT_SCHEMA = StructType(
    [
        StructField("event_type", StringType(), False),
        StructField("n_rows_seen", LongType(), False),
        StructField("v_zero", IntegerType(), False),
        StructField("sum_inv_scaled", LongType(), False),
        StructField("distinct_est", DoubleType(), False),
        StructField("registers", ArrayType(IntegerType()), False),
    ]
)

# dense register array + exact folded-row count (decoded by
# hll.restore) — fixed-size typed state, never a pickle
_STATE_SCHEMA = StructType(
    [
        StructField("registers", ArrayType(IntegerType()), False),
        StructField("n_rows", LongType(), False),
    ]
)


def hll_distinct_stream(
    stream: DataFrame,
) -> DataFrame:
    """Per-key running distinct-count snapshots over an id stream.

    Returns a streaming DataFrame of (event_type, n_rows_seen, v_zero,
    sum_inv_scaled, distinct_est, registers): after every micro-batch,
    each key that received data re-emits its current snapshot
    (outputMode update — a live cardinality dashboard). NULL keys and
    ids are dropped before the stateful operator, mirroring the batch
    entry's filter; emitting the registers themselves keeps the batch
    entry's bit-exactness contract checkable on the stream output."""
    import numpy as np
    import pandas as pd

    def update(key, pdf_iter, state: GroupState):
        (ktype,) = key
        if state.exists:
            registers, n_rows = state.get
            regs = hll.restore(registers, n_rows)
        else:
            regs = np.zeros(hll.M, dtype=np.int64)
            n_rows = 0
        got = 0
        for pdf in pdf_iter:
            got += len(pdf)
            np.maximum.at(
                regs,
                pdf["idx"].to_numpy(dtype=np.int64),
                pdf["rho"].to_numpy(dtype=np.int64),
            )
        if not got:
            return
        n_rows += got
        state.update(([int(r) for r in regs], n_rows))
        v_zero = int((regs == 0).sum())
        sis = hll.sum_inv_scaled(regs)
        yield pd.DataFrame(
            {
                "event_type": [ktype],
                "n_rows_seen": [n_rows],
                "v_zero": [v_zero],
                "sum_inv_scaled": [sis],
                "distinct_est": [hll.estimate(sis, v_zero)],
                "registers": [[int(r) for r in regs]],
            }
        )

    pre = (
        stream.filter(
            F.col("event_type").isNotNull() & F.col("user_id").isNotNull()
        ).select(
            F.col("event_type").alias("event_type"),
            hll.idx_col(F.col("user_id")).alias("idx"),
            hll.rho_col(F.col("user_id")).alias("rho"),
        )
    )
    return pre.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=SNAPSHOT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
