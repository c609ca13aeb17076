"""Streaming ingest of the KLL DAY-CELL store — the quantile-family
twin of streaming/snapshots.py, completing the lifecycle symmetry:

  HLL:  _hll_year_regs  <-  snapshots.py (closed-year registers)
  KLL:  _kll_day_cells  <-  THIS MODULE (closed-day cell item tables)

One KLL sketch per OPEN (key, day) cell lives in operator state (the
same typed-array item-table layout as the running monitor,
streaming/quantiles.py, written by kll.to_state and decoded by
kll.restore); when the event-time watermark closes a day, the cell's final
serialized items are emitted as (event_type, day, level, value) rows —
the exact schema queries/sketches.py::_kll_day_cells persists — and the
state is removed. Open cells bound the state (days-in-flight x keys,
never history); closed cells hold no bytes beyond their emitted items.

Idempotence, stated honestly — WEAKER than the HLL writer's and the
difference is the point: register max is order-invariant, so an HLL
snapshot is a bit-deterministic value and re-delivery rewrites
identical bytes. A KLL cell above the compaction cap is
fold-order-dependent — any serialization the stream produces is a
VALID sketch of the cell's multiset (exact total weight, rank band
holds), but two executions may produce different valid item tables.
The sink therefore guarantees idempotence in EFFECT: per-day partition
overwrite means re-delivery leaves exactly one valid cell per (key,
day) — never a duplicate, never mixed generations — while bit-equality
across re-executions is only guaranteed for sub-cap cells (no
compaction: items ARE the raw values at level 0). Day-sized cells are
sub-cap in practice, which is why the batch artifact chose day grain.

Timer legality mirrors the year writer: a day-d row's timestamp is
strictly below (d+1) * 86,400,000 ms, so the closure timer is always
above the watermark while d-rows are deliverable. The cell day is the
UTC epoch day of the event timestamp (``unix_timestamp`` — session-tz-
independent for timestamp inputs), so the day boundary and the
watermark share one clock exactly.

Reference note: the reference repo (MapReducer-PI-cs4433) has no
streaming or sketch surface; this module belongs to the engine's
beyond-reference band (SURVEY.md §2.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DateType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions import kll

_DAY_MS = 86_400_000

CELL_ROWS_SCHEMA = StructType(
    [
        StructField("event_type", StringType(), False),
        StructField("day", DateType(), False),
        StructField("level", IntegerType(), False),
        StructField("value", DoubleType(), False),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("item_levels", ArrayType(IntegerType()), False),
        StructField("item_values", ArrayType(DoubleType()), False),
        StructField("parity", ArrayType(IntegerType()), False),
        StructField("n", LongType(), False),
    ]
)


def kll_day_cell_stream(
    stream: DataFrame,
    watermark: str = "2 days",
    cap: int = kll.DEFAULT_CAP,
) -> DataFrame:
    """Per-(key, day) KLL cell sketches, emitted ONCE per cell at
    event-time closure as their serialized item tables — suitable for
    ``foreachBatch(write_day_cells)`` into the store the batch rollup
    (events_quantile_rollup_kll) merges without rescanning raw data."""
    import datetime as _dt

    import pandas as pd

    epoch = _dt.date(1970, 1, 1)

    def update(key, pdf_iter, state: GroupState):
        ktype, day = key
        if state.hasTimedOut:
            sk = kll.restore(*state.get, cap=cap)
            state.remove()
            items = kll.to_items(sk)
            d = epoch + _dt.timedelta(days=int(day))
            yield pd.DataFrame(
                {
                    "event_type": [ktype] * len(items),
                    "day": [d] * len(items),
                    "level": [l for l, _ in items],
                    "value": [v for _, v in items],
                }
            )
            return
        sk = kll.restore(*state.get, cap=cap) if state.exists else kll.new_sketch()
        for pdf in pdf_iter:
            kll.add_many(sk, pdf["value"].to_numpy(), cap=cap)
        state.update(kll.to_state(sk))
        # closure = watermark reaching the first instant AFTER day d;
        # always legal: delivered d-rows have ts < (d+1)-midnight, so
        # the watermark is below this while any d-row can still arrive
        state.setTimeoutTimestamp((int(day) + 1) * _DAY_MS)

    pre = (
        stream.filter(
            F.col("event_type").isNotNull()
            & F.col("value").isNotNull()
            & F.col("ts").isNotNull()
        )
        .select(
            F.col("ts").alias("__ts"),
            F.col("event_type").alias("event_type"),
            # UTC epoch day — shares the watermark's clock exactly
            F.floor(F.unix_timestamp(F.col("ts")) / F.lit(86400))
            .cast("int")
            .alias("day"),
            F.col("value").cast("double").alias("value"),
        )
        .withWatermark("__ts", watermark)
    )
    return pre.groupBy("event_type", "day").applyInPandasWithState(
        update,
        outputStructType=CELL_ROWS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def write_day_cells(batch_df: DataFrame, path: str) -> None:
    """foreachBatch sink: land closed cells under ``<path>/day=<d>/``
    via the family's shared dynamic-partition-overwrite sink
    (streaming/snapshots.py::overwrite_partitions) — at-least-once
    re-delivery leaves exactly one valid cell per (key, day), never
    duplicates (see the module docstring for the KLL-vs-HLL idempotence
    nuance). Empty batches are no-ops."""
    from .snapshots import overwrite_partitions

    overwrite_partitions(batch_df, path, "day")


def read_day_cells(spark, path: str) -> DataFrame:
    """Reader twin: the partition-discovered (event_type, day, level,
    value) cell table — column-compatible with
    queries/sketches.py::_kll_day_cells, so the batch rollup's type
    merge runs on a stream-built store unchanged."""
    return spark.read.parquet(path).select(
        "event_type",
        F.col("day").cast("date").alias("day"),
        F.col("level").cast("int").alias("level"),
        F.col("value").cast("double").alias("value"),
    )
