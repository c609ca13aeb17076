"""Streaming INGEST half of the per-period sketch-snapshot lifecycle.

The batch side (queries/sketches.py::_hll_year_regs and its consumers)
reads persisted per-year HLL register tables and answers any
pair/range question without rescanning closed periods. This module is
how those snapshots come to EXIST on a live system: a stateful operator
accumulates each period's registers in typed-array state and emits the
period's final register rows EXACTLY when the event-time watermark
closes the period — then a partition-overwrite sink lands them under
``.../y=<period>/``, the same hive layout the batch consumers read.

Contract (the mergeability identity, streamed at the lifecycle level):
because register max is associative/commutative/idempotent, the emitted
rows for a closed period are bit-identical to a flat batch build over
that period's rows, REGARDLESS of how the stream was chunked or how
many restarts interrupted it (state recovers from the checkpoint) — the
test asserts this against an independent hashlib reference.

Delivery semantics: foreachBatch is at-least-once, so the sink must be
idempotent. It is, in the strongest way available to plain parquet:
each period's output is a DETERMINISTIC VALUE (the period's final
registers), and the sink OVERWRITES that period's partition directory —
re-delivery rewrites identical bytes-worth of rows, never appends a
duplicate. (Contrast streaming/merge_sink.py, whose per-batch deltas
are not re-derivable and therefore need the recorded-batch-id replay
guard; snapshots are re-derivable, so value-idempotence suffices.)

Late data: a row later than ``watermark`` past its period's end arrives
after the period's state was emitted and dropped — Spark's watermark
discards it before the operator (the standard trade; size the watermark
to the pipeline's real lateness). The trade is RECOVERABLE, not
terminal: repair_hll_year_snapshots / repair_kmv_year_samples fold any
batch of late rows into the affected closed partitions through the same
idempotent sink, and mergeability makes the repaired store bit-identical
to a flat build that had seen the rows on time. Rows with NULL key/id/
date are dropped before the operator, mirroring the batch builder's
filters.

Scale shape: the operators are keyed by (period, shard) where shard =
pmod(hash-derived column, S) — the open period ingests S-ways parallel
instead of funneling every row through ONE state key (the reference's
``setNumReduceTasks(1)`` cliff, streamed).
The HLL shard axis is the REGISTER LANE (pmod(idx, S)): shards own
disjoint register subsets, so the union of shard emissions IS the flat
build's register set and no fold is needed anywhere. The KMV shard
axis is the hash residue (pmod(h, S)): each shard keeps the k-min of
its residue class, and the SINK folds the <= S*k emitted rows back to
the global k-min (every global top-k hash is within its residue's
top-k — the same partial-merge property the batch builder's salted
two-phase k-min rests on). State per key is one bounded array (256
registers / <= k hashes); closed periods hold zero state (the timer
removes them), so total state is bounded by S x concurrently-open
periods, never by history length. The emitted rows are sketch-sized;
the raw stream is touched exactly once, map-side, by JVM column math
(md5/conv/bin — the hash runs BEFORE the Python operator, the house
rule).

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
    IntegerType,
    StructField,
    StructType,
)

from ..functions import hll

SNAPSHOT_ROWS_SCHEMA = StructType(
    [
        StructField("y", IntegerType(), False),
        StructField("idx", IntegerType(), False),
        StructField("reg", IntegerType(), False),
    ]
)

# one flat register array per open period (decoded by hll.restore) —
# typed, never a pickle
_STATE_SCHEMA = StructType([StructField("regs", ArrayType(IntegerType()), False)])


def _year_end_ms(y: int) -> int:
    """Epoch ms of (y+1)-01-01 00:00 UTC — the first instant AFTER year
    y; the closure timer fires when the watermark reaches it."""
    return int(
        (
            datetime.datetime(y + 1, 1, 1, tzinfo=datetime.timezone.utc)
            - datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        ).total_seconds()
        * 1000
    )


def hll_year_snapshot_stream(
    stream: DataFrame,
    watermark: str = "30 days",
    shards: int = 8,
) -> DataFrame:
    """Per-year HLL register snapshots, emitted ONCE per year at
    event-time closure. Returns a streaming DataFrame of (y, idx, reg)
    rows — the touched registers of each CLOSED year, in the exact
    schema the batch artifact (_hll_year_regs) persists — suitable for
    ``foreachBatch(write_year_snapshots)``.

    The operator is keyed by (year, register-lane shard): ``shard =
    pmod(idx, shards)`` partitions the 256 register lanes into
    ``shards`` DISJOINT subsets, so the open year's rows fan out to
    ``shards`` parallel state tasks instead of one and — because no
    register lane is shared — the union of the shards' emitted rows IS
    the year's register set, bit-identical to a flat build with no fold
    step anywhere. Updates fold register maxima into typed-array state
    (numpy maximum.at — one pass per batch); every update (re-)arms an
    event-time timer at the year's end instant, and the timeout path
    emits the shard's touched lanes and REMOVES the state, so a closed
    year holds no bytes anywhere except its emitted snapshot.

    Session-timezone safety: the GROUP key is ``year(date)`` — a
    property of the DATE, timezone-independent — while
    ``cast("timestamp")`` pins each date to its SESSION-LOCAL midnight
    instant and the closure timer sits at the UTC year-end instant.
    Those clocks differ by the session offset, but the invariant that
    matters holds in EVERY timezone (|offset| <= 14 h < 24 h): a year-y
    date's instant is strictly BEFORE year_end_ms(y), so the timer can
    neither fire while y-rows are still deliverable nor be armed below
    the watermark; the only timezone effect is that closure lands up to
    one offset later in far-east sessions (conservative, never lossy).
    Pinned by the UTC+14 test in tests/test_streaming_snapshots.py."""
    import numpy as np
    import pandas as pd

    def update(key, pdf_iter, state: GroupState):
        y = key[0]
        if state.hasTimedOut:
            regs = hll.restore(state.get[0])
            state.remove()
            touched = np.flatnonzero(regs)
            yield pd.DataFrame(
                {
                    "y": [int(y)] * len(touched),
                    "idx": [int(i) for i in touched],
                    "reg": [int(regs[i]) for i in touched],
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
        # closure = watermark reaching the year's end; Spark compares
        # the timer against the event-time watermark (max seen ts minus
        # the configured delay), so arming AT the boundary gives exactly
        # "end of year + watermark" in wall order. The timer is always
        # legal: a row for year y is only delivered while the watermark
        # is below its (sub-year-end) timestamp, so year_end > watermark
        # whenever this line runs.
        state.setTimeoutTimestamp(_year_end_ms(int(y)))

    pre = (
        stream.filter(
            F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull()
        )
        .select(
            F.col("o_orderdate").cast("timestamp").alias("__ts"),
            F.year(F.col("o_orderdate")).alias("y"),
            hll.idx_col(F.col("o_custkey")).alias("idx"),
            hll.rho_col(F.col("o_custkey")).alias("rho"),
        )
        .withColumn("shard", F.pmod(F.col("idx"), F.lit(int(shards))))
        .withWatermark("__ts", watermark)
    )
    return pre.groupBy("y", "shard").applyInPandasWithState(
        update,
        outputStructType=SNAPSHOT_ROWS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def overwrite_partitions(
    batch_df: DataFrame, path: str, part_col: str
) -> None:
    """The ONE foreachBatch snapshot sink (shared by every writer in
    this family — the year writers here and the day-cell writers in
    streaming/hll_cells.py and streaming/kll_cells.py): land the batch
    under ``<path>/<part_col>=<v>/`` with DYNAMIC partition overwrite,
    so at-least-once re-delivery replaces only the partitions present in
    the batch — never appends a duplicate, never touches earlier
    periods' directories. The overwrite mode is a PER-WRITE
    DataFrameWriter option, not a session conf toggle: the three
    snapshot writers share this sink and can run as concurrent
    foreachBatch streams in one SparkSession, where a save/restore of
    ``spark.sql.sources.partitionOverwriteMode`` could flip another
    stream's in-flight overwrite back to static — a whole-table erase.
    Dynamic mode also makes an empty batch (a trigger that closed
    nothing) a structural no-op — zero partitions in the data means zero
    directories touched — so there is no pre-probe and the batch plan
    executes EXACTLY ONCE per trigger (both properties are pinned in
    tests/test_streaming_snapshots.py)."""
    (
        batch_df.repartition(part_col)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(part_col)
        .parquet(path)
    )


def write_year_snapshots(batch_df: DataFrame, path: str) -> None:
    """foreachBatch sink: land each closed year's register rows under
    ``<path>/y=<year>/`` — the hive layout the batch consumers read.
    Idempotent by VALUE under at-least-once delivery: a year's snapshot
    is a deterministic function of the year's rows (register max), so
    re-delivery overwrites the partition with identical rows."""
    overwrite_partitions(batch_df, path, "y")


def repair_hll_year_snapshots(
    late_df: DataFrame,
    path: str,
) -> None:
    """Batch BACKFILL for the writers' watermark trade: rows later than
    ``watermark`` past their period's end are discarded before the
    streaming operator (module docstring). Register-max idempotence
    makes that loss recoverable — fold the late rows' registers into the
    affected CLOSED years and rewrite exactly those partitions through
    the idempotent sink. The repaired store equals a flat build over
    original + late rows (max is associative/commutative/idempotent —
    repair order, repair repetition, and batch-vs-late split all
    collapse to the same value); untouched years' partition directories
    are not rewritten (dynamic overwrite only touches partitions present
    in the merged frame). Bounded work: the merge ranks sketch-sized
    rows (<= affected-years x 256 + late registers), never history —
    ``localCheckpoint`` materializes that tiny result so the write does
    not read the path it overwrites."""
    spark = late_df.sparkSession
    late = (
        late_df.filter(
            F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull()
        )
        .select(
            F.year(F.col("o_orderdate")).alias("y"),
            hll.idx_col(F.col("o_custkey")).alias("idx"),
            hll.rho_col(F.col("o_custkey")).alias("rho"),
        )
        .groupBy("y", "idx")
        .agg(F.max("rho").alias("reg"))
    )
    years = [int(r.y) for r in late.select("y").distinct().collect()]
    if not years:
        return
    existing = read_year_snapshots(spark, path).filter(F.col("y").isin(years))
    merged = (
        existing.unionByName(late)
        .groupBy("y", "idx")
        .agg(F.max("reg").cast("int").alias("reg"))
        .select("y", "idx", "reg")
        .localCheckpoint(eager=True)
    )
    overwrite_partitions(merged, path, "y")


def read_year_snapshots(spark, path: str) -> DataFrame:
    """Reader twin: the partition-discovered (y, idx, reg) table —
    column-compatible with queries/sketches.py::_hll_year_regs, so every
    batch consumer (union / cumulative / set algebra) can run on a
    stream-built snapshot store unchanged."""
    return spark.read.parquet(path).select(
        F.col("y").cast("int").alias("y"),
        F.col("idx").cast("int").alias("idx"),
        F.col("reg").cast("int").alias("reg"),
    )


# ---------------------------------------------------------------------------
# KMV year samples — the third sketch family's writer, same lifecycle.
# k-min merge is associative/commutative/idempotent like register max,
# so KMV snapshots share HLL's STRONG idempotence: a closed year's
# sample is a bit-deterministic value regardless of chunking, restarts,
# or fold order (contrast streaming/kll_cells.py, where compaction is
# order-dependent and the guarantee weakens to effect-idempotence).
# ---------------------------------------------------------------------------

from pyspark.sql.types import LongType  # noqa: E402

from ..functions import kmv  # noqa: E402

KMV_ROWS_SCHEMA = StructType(
    [
        StructField("y", IntegerType(), False),
        StructField("h", LongType(), False),
    ]
)

_KMV_STATE_SCHEMA = StructType(
    [
        StructField("hs", ArrayType(LongType()), False),
        # k is PERSISTED with the sample so kmv.restore can refuse a
        # restart under a different k (a truncated sample resumed under
        # a larger k would read as a COMPLETE set)
        StructField("k", IntegerType(), False),
    ]
)


def kmv_year_snapshot_stream(
    stream: DataFrame,
    watermark: str = "30 days",
    k: int = kmv.K,
    shards: int = 8,
) -> DataFrame:
    """Per-year KMV k-min samples, emitted at event-time closure as
    (y, h) rows. The operator is keyed by (year, hash-residue shard):
    ``shard = pmod(h, shards)`` spreads the open year's rows over
    ``shards`` parallel state tasks, each holding the k-min of ITS
    residue class; a closed year therefore emits <= shards * k candidate
    rows, and the SINK (write_kmv_year_samples) folds them to the global
    k-min — correct because every global top-k hash is within its
    residue class's top-k (the batch builder's salted two-phase
    argument). The folded store is the exact schema
    queries/sketches.py::_kmv_year_samples persists, so the batch
    consumers (orders_kmv_set_difference /
    orders_kmv_diff_from_snapshots) run on a stream-built store
    unchanged. Hashing is JVM column math BEFORE the Python operator
    (kmv.h_col — the house rule); the state is one sorted <= k-long
    array per (year, shard) plus its build-k (restart guard, checked by
    kmv.restore); each batch folds via kmv.fold (one vectorized pass).
    Timer math and timezone reasoning are identical to
    hll_year_snapshot_stream."""
    import numpy as np
    import pandas as pd

    def update(key, pdf_iter, state: GroupState):
        y = key[0]
        if state.hasTimedOut:
            hs = kmv.restore(state.get[0], k, stored_k=state.get[1])
            state.remove()
            yield pd.DataFrame(
                {"y": [int(y)] * len(hs), "h": [int(h) for h in hs]}
            )
            return
        hs = (
            kmv.restore(state.get[0], k, stored_k=state.get[1])
            if state.exists
            else np.empty(0, dtype=np.int64)
        )
        for pdf in pdf_iter:
            hs = kmv.fold(hs, pdf["h"].to_numpy(dtype=np.int64), k)
        state.update(([int(h) for h in hs], int(k)))
        state.setTimeoutTimestamp(_year_end_ms(int(y)))

    pre = (
        stream.filter(
            F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull()
        )
        .select(
            F.col("o_orderdate").cast("timestamp").alias("__ts"),
            F.year(F.col("o_orderdate")).alias("y"),
            kmv.h_col(F.col("o_custkey")).alias("h"),
        )
        .withColumn("shard", F.pmod(F.col("h"), F.lit(int(shards))))
        .withWatermark("__ts", watermark)
    )
    return pre.groupBy("y", "shard").applyInPandasWithState(
        update,
        outputStructType=KMV_ROWS_SCHEMA,
        stateStructType=_KMV_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def fold_kmv_samples(batch_df: DataFrame, k: int = kmv.K) -> DataFrame:
    """Fold the year-writer's per-shard emissions (<= shards * k rows
    per closed year) to each year's GLOBAL k-min sample — the k-min
    merge that makes residue sharding lossless. Bounded work: the
    per-year sort ranks sketch-sized candidate sets, never data."""
    from pyspark.sql import Window

    w = Window.partitionBy("y").orderBy("h")
    return (
        batch_df.select("y", "h")
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= int(k))
        .drop("rn")
    )


def write_kmv_year_samples(
    batch_df: DataFrame, path: str, k: int = kmv.K
) -> None:
    """foreachBatch sink for the KMV year writer: global k-min fold,
    then the shared idempotent partition-overwrite sink. All shards of
    a year close in the SAME micro-batch (their timers share the year's
    end instant and fire on one watermark advance), so the fold always
    sees the year's complete candidate set, and re-delivery re-derives
    the identical folded value (k-min merge is deterministic)."""
    overwrite_partitions(fold_kmv_samples(batch_df, k), path, "y")


def read_kmv_year_samples(spark, path: str) -> DataFrame:
    """Reader twin, column-compatible with _kmv_year_samples (y, h)."""
    return spark.read.parquet(path).select(
        F.col("y").cast("int").alias("y"), F.col("h").cast("long").alias("h")
    )


def repair_kmv_year_samples(
    late_df: DataFrame,
    path: str,
    k: int = kmv.K,
) -> None:
    """KMV twin of repair_hll_year_snapshots: fold late rows' hashes
    into the affected closed years' k-min samples and rewrite exactly
    those partitions. k-min merge shares register max's algebra, so the
    repaired sample is bit-identical to a flat build over original +
    late rows regardless of how lateness split them."""
    spark = late_df.sparkSession
    late = (
        late_df.filter(
            F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull()
        )
        .select(
            F.year(F.col("o_orderdate")).alias("y"),
            kmv.h_col(F.col("o_custkey")).alias("h"),
        )
        .distinct()
    )
    years = [int(r.y) for r in late.select("y").distinct().collect()]
    if not years:
        return
    existing = read_kmv_year_samples(spark, path).filter(
        F.col("y").isin(years)
    )
    merged = fold_kmv_samples(existing.unionByName(late), k).localCheckpoint(
        eager=True
    )
    overwrite_partitions(merged, path, "y")
