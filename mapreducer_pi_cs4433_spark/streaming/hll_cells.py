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

State is one JVM state-store row per (event_type, day, register): the
stream is Spark's own append-mode windowed aggregate, ``max(rho)`` per
register over a 1-day event-time window, so each register is its own
group and parallelism comes from the shuffle partitions. Register max
is the whole HLL merge, so no Python operator and no lane sharding is
needed. The append-mode aggregate emits each group exactly once, when
the watermark reaches the end of its window, which is this store's
closure contract; a closed cell holds no state anywhere except its
emitted rows.
Idempotence is the family's STRONG kind: a closed cell's registers are
a deterministic value (register max is order/chunking/restart
invariant), so at-least-once re-delivery overwrites identical rows
(contrast the KLL writer's effect-idempotence for above-cap cells).

The cell day is the UTC epoch day of the event timestamp
(``unix_timestamp`` — session-tz-independent). Tumbling windows are
epoch-aligned, so the day is a function of the window and adds no
groups, and a day closes when the watermark reaches ``(day + 1) *
86_400_000`` ms. A row older than the watermark still folds in while
its day is open; rows for a day that has already closed are dropped
by the aggregate and are recoverable through the snapshots.py repair
pattern.

A checkpoint written by the earlier Python state operator
(``applyInPandasWithState`` keyed by lane shard) cannot be resumed by
this aggregate. Spark 4.1 refuses the restart with

  [STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA] Streaming
  stateful operator name does not match with the operator in state
  metadata. ... Stateful operators in the metadata: [(OperatorId: 0 ->
  OperatorName: applyInPandasWithState)]; Stateful operators in current
  batch: [(OperatorId: 0 -> OperatorName: stateStoreSave)].

Start such a stream from a fresh checkpoint; the sink is idempotent by
value, so re-ingesting rewrites identical cells.

Reference note: the reference repo (MapReducer-PI-cs4433) has no
streaming or sketch surface; this module belongs to the engine's
beyond-reference band (SURVEY.md §2.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..functions import hll
from .snapshots import overwrite_partitions

CELL_ROWS_SCHEMA = StructType(
    [
        StructField("event_type", StringType(), False),
        StructField("day", DateType(), False),
        StructField("idx", IntegerType(), False),
        StructField("reg_val", IntegerType(), False),
    ]
)


def hll_day_cell_stream(
    stream: DataFrame,
    watermark: str = "2 days",
) -> DataFrame:
    """Per-(event_type, day) HLL register cells, emitted ONCE per cell
    at event-time closure as (event_type, day, idx, reg_val) rows — the
    exact schema queries/sketches.py::_hll_day_cells persists — suitable
    for ``foreachBatch(write_hll_day_cells)``. Only touched registers
    have a row, as in the batch twin."""
    pre = (
        stream.filter(
            F.col("event_type").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
        )
        .select(
            F.col("ts").alias("__ts"),
            F.col("event_type").alias("event_type"),
            # UTC epoch day — shares the watermark's clock exactly
            F.date_from_unix_date(
                F.floor(F.unix_timestamp(F.col("ts")) / F.lit(86400))
                .cast("int")
            ).alias("day"),
            hll.idx_col(F.col("user_id")).alias("idx"),
            hll.rho_col(F.col("user_id")).alias("rho"),
        )
        .withWatermark("__ts", watermark)
    )
    return (
        pre.groupBy("event_type", F.window("__ts", "1 day"), "day", "idx")
        .agg(F.max("rho").alias("reg_val"))
        .select("event_type", "day", "idx", "reg_val")
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
