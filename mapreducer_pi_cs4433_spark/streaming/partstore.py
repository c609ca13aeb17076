"""Per-batch parquet part store: the exactly-once directory protocol the
streaming ingest sinks share (extracted from ``streaming/neardup.py``
once a second consumer arrived — ``streaming/imagedup.py``; one
definition of the listing rules, two index layouts on top).

A STORE is a root directory holding one subdirectory per logical state
TABLE ("kind"). Each kind accumulates:

- per-batch parts ``b{batch_id:08d}/`` — written with mode=overwrite by
  the foreachBatch sink, so a crash-replay rewrites the same directory
  with the same deterministic content (exactly-once without a pointer
  file); a part is committed iff its ``_SUCCESS`` marker exists;
- compacted segments ``c{lo:08d}_{hi:08d}/`` — the maintenance fold of
  committed batches 0..hi into one well-sized table. Segments are
  always compacted from 0, so they are nested and the max-hi one
  subsumes the rest.

Reading rules (``live_parts``): the max-hi committed segment plus every
committed per-batch part ABOVE its coverage. A ``b`` dir at or below a
segment's hi is a compaction leftover (crash between segment commit and
leftover delete) and is ignored — that single rule is what makes the
compactor crash-safe without a manifest. ``exclude_batch`` removes the
batch currently being (re)processed, so a half-written replay attempt
can never feed its own candidates back to itself.

Lineage rule: batch ids are per-CHECKPOINT-LINEAGE (they restart at 0
under a new checkpoint dir), so a store is tied to one lineage for
life. ``check_lineage`` enforces it: an id BELOW the newest committed
batch is not a crash-replay (foreachBatch only ever re-delivers the
last batch) — it is a restarted query pointed at an old store, and
overwriting committed parts would corrupt the index.

Compaction (``compact``): covers 0..newest-1 — the NEWEST batch is
never folded because it is the only legal crash-replay target and a
replay must be able to exclude its own directories from history. The
already-covered check runs per KIND so a crash between kinds leaves a
re-run able to finish the stragglers. Write the segment first, delete
covered leftovers after: a crash in the window double-stores but never
double-reads.

Ingest wiring (``ingest_stream``, ``read_pairs``): both ingest sinks put
the same stream in front of their store — a watermark-bounded md5 digest
layer that drops byte-identical re-arrivals, then a foreachBatch sink
that folds each batch into the store and auto-compacts it — and both
emit into a "pairs" kind.
"""

from __future__ import annotations

import os

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def part_dir(root: str, kind: str, batch_id: int) -> str:
    return os.path.join(root, kind, f"b{batch_id:08d}")


def segment_dir(root: str, kind: str, lo: int, hi: int) -> str:
    return os.path.join(root, kind, f"c{lo:08d}_{hi:08d}")


def committed_batches(root: str, kind: str) -> list[int]:
    """Batch ids with a committed (_SUCCESS) per-batch part for one
    kind (compacted segments not included — see live_parts)."""
    base = os.path.join(root, kind)
    if not os.path.isdir(base):
        return []
    return sorted(
        int(d[1:])
        for d in os.listdir(base)
        if d.startswith("b")
        and os.path.exists(os.path.join(base, d, "_SUCCESS"))
    )


def compacted_hi(root: str, kind: str) -> int:
    """Highest batch id covered by a committed compacted segment, or -1
    when none exists."""
    base = os.path.join(root, kind)
    if not os.path.isdir(base):
        return -1
    his = [
        int(d.split("_")[1])
        for d in os.listdir(base)
        if d.startswith("c")
        and "_" in d
        and os.path.exists(os.path.join(base, d, "_SUCCESS"))
    ]
    return max(his, default=-1)


def newest_committed(root: str, kind: str) -> int:
    """Newest batch id present in the committed state — per-batch part
    or inside a compacted segment. The lineage guard's reference point."""
    batches = committed_batches(root, kind)
    return max(compacted_hi(root, kind), batches[-1] if batches else -1)


def live_parts(root: str, kind: str, exclude_batch: int) -> list[str]:
    """Directories whose union IS one kind's table (see module header)."""
    hi = compacted_hi(root, kind)
    parts = [segment_dir(root, kind, 0, hi)] if hi >= 0 else []
    parts += [
        part_dir(root, kind, b)
        for b in committed_batches(root, kind)
        if b > hi and b != exclude_batch
    ]
    return parts


def read_parts(
    spark: SparkSession, root: str, kind: str, exclude_batch: int
) -> DataFrame | None:
    parts = live_parts(root, kind, exclude_batch)
    if not parts:
        return None
    return spark.read.parquet(*parts)


def check_lineage(root: str, primary_kind: str, batch_id: int) -> None:
    """Raise if batch_id belongs to another checkpoint lineage (below
    the newest committed batch of the store's primary kind)."""
    newest = newest_committed(root, primary_kind)
    if batch_id < newest:
        raise ValueError(
            f"batch_id {batch_id} is below the newest committed batch "
            f"{newest}: this state dir belongs to another "
            "checkpoint lineage; use a fresh state_path for a new query"
        )


def compact(
    spark: SparkSession,
    root: str,
    kinds: tuple[str, ...],
    primary_kind: str,
    target_partitions: int = 8,
) -> int:
    """Fold committed batches 0..newest-1 into one segment per kind.
    Returns hi (the highest compacted batch id), or -1 when there is
    nothing new to compact. Safe to run from inside a foreachBatch sink
    AFTER the batch's own writes commit, or offline between trigger
    runs — the next batch's history read is the first reader that can
    observe the result either way."""
    import shutil

    newest = newest_committed(root, primary_kind)
    hi = newest - 1
    if hi < 0:
        return -1
    # per-KIND already-covered check: a crash after some kinds'
    # segments committed must leave a re-run able to finish stragglers
    todo = [k for k in kinds if compacted_hi(root, k) < hi]
    if not todo:
        return -1
    for kind in todo:
        live = live_parts(root, kind, exclude_batch=newest)
        if not live:
            continue
        seg = segment_dir(root, kind, 0, hi)
        spark.read.parquet(*live).repartition(target_partitions).write.mode(
            "overwrite"
        ).parquet(seg)
        # leftovers last — readers already ignore them once seg exists
        for b in committed_batches(root, kind):
            if b <= hi:
                shutil.rmtree(part_dir(root, kind, b), ignore_errors=True)
        for d in os.listdir(os.path.join(root, kind)):
            if d.startswith("c") and "_" in d and int(d.split("_")[1]) < hi:
                shutil.rmtree(os.path.join(root, kind, d), ignore_errors=True)
    return hi


def auto_compact_due(root: str, primary_kind: str, every: int) -> bool:
    """True when more than ``every`` committed per-batch parts sit above
    the current segment coverage — the count-based trigger (live parts,
    not batch ids, so empty batches and replays don't skew cadence)."""
    hi = compacted_hi(root, primary_kind)
    live_b = [b for b in committed_batches(root, primary_kind) if b > hi]
    return len(live_b) > every


def read_pairs(spark: SparkSession, root: str, schema: str) -> DataFrame:
    """Every pair a store has emitted so far: its committed "pairs" kind,
    or an empty frame of `schema` before the first batch commits."""
    got = read_parts(spark, root, "pairs", exclude_batch=-1)
    if got is None:
        return spark.createDataFrame([], schema)
    return got


def ingest_stream(
    stream: DataFrame,
    payload_col: str,
    root: str,
    checkpoint: str,
    watermark: str,
    compact_every: int | None,
    register: Callable[[SparkSession, DataFrame, str, int], None],
    compact_store: Callable[[SparkSession, str], int],
):
    """Start an ingest sink over `stream`; returns the started
    StreamingQuery (caller owns trigger/termination).

    Rows whose `payload_col` md5 digest already arrived inside the
    watermark horizon are dropped before the sink (exact dups are the
    cheap layer's job). Each non-empty batch goes to
    ``register(spark, batch, root, batch_id)``; with ``compact_every=N``
    the sink then calls ``compact_store(spark, root)`` once more than N
    live per-batch "pairs" parts accumulate (auto_compact_due) — right
    after the batch's own writes commit, the one point in a trigger
    cycle with no concurrent history reader, so a crash mid-compaction
    replays the batch through the same idempotent protocol."""
    os.makedirs(root, exist_ok=True)
    prepared = (
        stream.withColumn("__digest", F.md5(F.col(payload_col)))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["__digest"])
        .drop("__digest")
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        register(batch_df.sparkSession, batch_df, root, batch_id)
        if compact_every is not None and auto_compact_due(root, "pairs", compact_every):
            compact_store(batch_df.sparkSession, root)

    return (
        prepared.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
