"""Streaming ingest of the HLL DAY-CELL store — the fourth writer in
the snapshot family, completing its symmetry:

  HLL:  _hll_year_regs   <-  snapshots.py (closed-year registers)
  KMV:  _kmv_year_samples <- snapshots.py (closed-year k-min samples)
  KLL:  _kll_day_cells   <-  kll_cells.py (closed-day item tables)
  HLL:  _hll_day_cells   <-  THIS MODULE (closed-day register cells)

The emitted store is the day-grain register table the batch HLL family
reads (events_distinct_hll_rollup / _sliding share its schema) and the
one operators/sketch_compaction.py::compact_hll_day_cells MAINTAINS —
with this writer the full lifecycle is streamed end to end: ingest
(here) -> consume (cell merges, zero raw rescans) -> repair
(snapshots.py backfill pattern) -> maintain (month compaction).

State is keyed by (event_type, day, lane shard): ``shard = pmod(idx,
shards)`` gives each state task a DISJOINT register-lane subset of its
cell (the snapshots.py sharding argument at day grain), so a hot
(type, day) cell ingests S-ways parallel and the union of shard
emissions IS the cell — register max needs no fold anywhere.
Idempotence is the family's STRONG kind: a closed cell's registers are
a deterministic value (register max is order/chunking/restart
invariant), so at-least-once re-delivery overwrites identical rows
(contrast the KLL writer's effect-idempotence for above-cap cells).

The cell day is the UTC epoch day of the event timestamp
(``unix_timestamp`` — session-tz-independent), so the day boundary and
the watermark share one clock and the closure timer at ``(day + 1) *
86_400_000`` ms is always legal while d-rows are deliverable. Hashing
runs BEFORE the Python operator as JVM column math (the house rule);
late rows past the watermark are recoverable through the snapshots.py
repair pattern.

Reference note: the reference repo (MapReducer-PI-cs4433) has no
streaming or sketch surface; this module belongs to the engine's
beyond-reference band (SURVEY.md §2.8).
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DateType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..functions import hll
from .snapshots import overwrite_partitions

_DAY_MS = 86_400_000

CELL_ROWS_SCHEMA = StructType(
    [
        StructField("event_type", StringType(), False),
        StructField("day", DateType(), False),
        StructField("idx", IntegerType(), False),
        StructField("reg_val", IntegerType(), False),
    ]
)

# one flat register array per open cell shard (decoded by hll.restore)
_STATE_SCHEMA = StructType(
    [StructField("regs", ArrayType(IntegerType()), False)]
)


def hll_day_cell_stream(
    stream: DataFrame,
    key_col: str = "event_type",
    id_col: str = "user_id",
    ts_col: str = "ts",
    watermark: str = "2 days",
    shards: int = 4,
) -> DataFrame:
    """Per-(event_type, day) HLL register cells, emitted ONCE per cell
    at event-time closure as (event_type, day, idx, reg_val) rows — the
    exact schema queries/sketches.py::_hll_day_cells persists — suitable
    for ``foreachBatch(write_hll_day_cells)``. Each (cell, lane-shard)
    state task folds register maxima over its disjoint lane subset
    (numpy maximum.at, one pass per batch) and the timeout path emits
    the shard's touched lanes and removes the state — a closed cell
    holds no bytes anywhere except its emitted rows."""
    import numpy as np
    import pandas as pd

    epoch = datetime.date(1970, 1, 1)

    def update(key, pdf_iter, state: GroupState):
        ktype, day = key[0], key[1]
        if state.hasTimedOut:
            regs = hll.restore(state.get[0])
            state.remove()
            touched = np.flatnonzero(regs)
            d = epoch + datetime.timedelta(days=int(day))
            yield pd.DataFrame(
                {
                    "event_type": [ktype] * len(touched),
                    "day": [d] * len(touched),
                    "idx": [int(i) for i in touched],
                    "reg_val": [int(regs[i]) for i in touched],
                }
            )
            return
        regs = (
            hll.restore(state.get[0])
            if state.exists
            else np.zeros(hll.M, dtype=np.int64)
        )
        for pdf in pdf_iter:
            np.maximum.at(
                regs,
                pdf["idx"].to_numpy(dtype=np.int64),
                pdf["rho"].to_numpy(dtype=np.int64),
            )
        state.update(([int(r) for r in regs],))
        state.setTimeoutTimestamp((int(day) + 1) * _DAY_MS)

    pre = (
        stream.filter(
            F.col(key_col).isNotNull()
            & F.col(id_col).isNotNull()
            & F.col(ts_col).isNotNull()
        )
        .select(
            F.col(ts_col).alias("__ts"),
            F.col(key_col).alias("event_type"),
            # UTC epoch day — shares the watermark's clock exactly
            F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(86400))
            .cast("int")
            .alias("day"),
            hll.idx_col(F.col(id_col)).alias("idx"),
            hll.rho_col(F.col(id_col)).alias("rho"),
        )
        .withColumn("shard", F.pmod(F.col("idx"), F.lit(int(shards))))
        .withWatermark("__ts", watermark)
    )
    return pre.groupBy("event_type", "day", "shard").applyInPandasWithState(
        update,
        outputStructType=CELL_ROWS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def write_hll_day_cells(batch_df: DataFrame, path: str) -> None:
    """foreachBatch sink: land closed cells under ``<path>/day=<d>/``
    via the family's shared dynamic-partition-overwrite sink.
    Value-idempotent under at-least-once delivery (register max)."""
    overwrite_partitions(batch_df, path, "day")


def read_hll_day_cells(spark, path: str) -> DataFrame:
    """Reader twin: the partition-discovered (event_type, day, idx,
    reg_val) cell table — column-compatible with
    queries/sketches.py::_hll_day_cells, so every batch cell consumer
    and operators/sketch_compaction.py::compact_hll_day_cells run on a
    stream-built store unchanged. The store's schema is known
    (CELL_ROWS_SCHEMA), so the read runs no schema-inference job; the
    file listing is still fresh on every call, so a new ``day=``
    partition shows up on the next read."""
    return spark.read.schema(CELL_ROWS_SCHEMA).parquet(path).select(
        "event_type",
        F.col("day").cast("date").alias("day"),
        F.col("idx").cast("int").alias("idx"),
        F.col("reg_val").cast("int").alias("reg_val"),
    )
