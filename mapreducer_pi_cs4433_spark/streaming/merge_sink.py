"""Streaming CDC apply: MERGE each micro-batch of changes into a
persisted key-value state table — the sink half of the CDC pipeline
(streaming/cdc.py maintains the snapshot in operator state; this module
maintains it ON DISK, the way a lakehouse MERGE INTO target works).

Per micro-batch (driven through ``foreachBatch``):

1. compact the batch to one row per key (``max(struct(ts, event_id,
   payload))`` — the same total version order as everywhere else);
2. full-outer merge with the CURRENT state version (newer version wins).
   Idempotency: foreachBatch delivers at-least-once, so the sink records
   the applied ``batch_id`` next to the version pointer and SKIPS a batch
   it has already folded — a crash-replay changes neither the payload nor
   the ``n_changes`` audit counts. Ad-hoc calls without a batch_id are
   payload-idempotent only (greatest() keeps the incumbent on equal
   (ts, event_id)) — n_changes then counts re-applications, by design —
   and PRESERVE the last recorded batch id so they cannot erase the
   replay guard. Batch ids are per-CHECKPOINT-LINEAGE: a restarted query
   under a NEW checkpoint dir restarts ids at 0, which the `<=` skip
   would read as "already folded" — a state dir is therefore tied to one
   checkpoint lineage for its whole life (same rule Delta's
   `txn appId/version` idempotent-writer protocol imposes);
3. write the merged table as a NEW version directory and only then move
   the pointer file — readers resolve the pointer, so a crash mid-write
   leaves the previous version intact (write-ahead versioning on plain
   parquet; a table format with commit semantics — Iceberg/Delta — is the
   production hardening of exactly this protocol, and this module is
   deliberately shaped so swapping `_read_state`/`_write_state` for
   `DeltaTable.merge` is a local change).

Versions accumulate; ``prune_versions`` keeps the latest N (time travel
over the retained window comes free: ``read_state(path, version=k)``).

At 100 TB: the merge is one full-outer sort-merge join per batch keyed by
the entity — bucket the state table on the key so only the (small) batch
side shuffles; batch compaction bounds the join's delta side by the
batch's distinct keys.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.artifacts import read_committed_parquet

_PTR = "_LATEST"


def _version_dir(path: str, v: int) -> str:
    return os.path.join(path, f"v{v:08d}")


def _read_pointer(path: str) -> tuple[int, int | None] | None:
    """(version, last_applied_batch_id) from the pointer file, or None
    before the first commit. Line 1 is the version; line 2 (absent for
    ad-hoc merges) is the foreachBatch batch_id that produced it."""
    ptr = os.path.join(path, _PTR)
    if not os.path.exists(ptr):
        return None
    with open(ptr) as fh:
        lines = fh.read().split()
    return int(lines[0]), (int(lines[1]) if len(lines) > 1 else None)


def latest_version(path: str) -> int | None:
    got = _read_pointer(path)
    return None if got is None else got[0]


def last_applied_batch(path: str) -> int | None:
    """The foreachBatch batch_id already folded into the latest version
    (None before the first commit or after an ad-hoc merge)."""
    got = _read_pointer(path)
    return None if got is None else got[1]


def read_state(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame | None:
    """The state table at `version` (default: latest); None before the
    first commit. A version directory is written once and the pointer
    names it only after the write completes, so a warm read reuses the
    schema kept on the session and runs no job (a version without
    _SUCCESS, such as time travel to a crashed write, is read
    uncached)."""
    v = latest_version(path) if version is None else version
    if v is None:
        return None
    return read_committed_parquet(spark, _version_dir(path, v))


def merge_cdc_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_path: str,
    batch_id: int | None = None,
) -> int:
    """Fold one batch of change rows into the state table; returns the new
    version number. Safe to call from ``foreachBatch`` (one writer at a
    time — the raw-parquet concurrency caveat of streaming/dedup.py
    applies). Pass the foreachBatch ``batch_id`` for exactly-once apply:
    a batch whose id is already recorded in the pointer is skipped whole
    (at-least-once delivery would otherwise re-add its n_changes; batch
    ids are monotonically increasing, so <= means already folded)."""
    prev_applied = last_applied_batch(state_path)
    if (
        batch_id is not None
        and prev_applied is not None
        and batch_id <= prev_applied
    ):
        return latest_version(state_path)  # crash-replay: already folded
    compact = (
        batch.select(
            F.col("user_id").alias("k"),
            F.struct(
                F.col("ts").alias("ts"),
                F.col("event_id").alias("vid"),
                F.col("event_type"),
                F.round(F.col("value") * 100).cast("long").alias("v_centi"),
            ).alias("cur"),
            F.lit(1).cast("long").alias("n"),
        )
        .groupBy("k")
        .agg(F.max("cur").alias("cur"), F.sum("n").alias("n"))
    )
    prev_v = latest_version(state_path)
    if prev_v is None:
        merged = compact.select("k", "cur", F.col("n").alias("n_changes"))
        new_v = 0
    else:
        prev = read_state(spark, state_path, prev_v)
        p, c = prev.alias("p"), compact.alias("c")
        joined = p.join(c, F.col("p.k") == F.col("c.k"), "full_outer")
        # newer (ts, vid) wins; struct comparison gives the total order.
        # greatest() treats the missing side as NULL and NULL loses, so
        # keep/insert fall out of the same expression as update.
        merged = joined.select(
            F.coalesce(F.col("p.k"), F.col("c.k")).alias("k"),
            F.greatest(F.col("p.cur"), F.col("c.cur")).alias("cur"),
            (
                F.coalesce(F.col("p.n_changes"), F.lit(0))
                + F.coalesce(F.col("c.n"), F.lit(0))
            ).alias("n_changes"),
        )
        new_v = prev_v + 1
    merged.write.mode("overwrite").parquet(_version_dir(state_path, new_v))
    tmp = os.path.join(state_path, _PTR + ".tmp")
    # An ad-hoc merge (batch_id None) on a batch-id-managed pointer must
    # CARRY the recorded id forward: dropping it would erase the
    # exactly-once guard, letting a crash-replay of the last streaming
    # batch double-apply its n_changes.
    record_id = batch_id if batch_id is not None else prev_applied
    with open(tmp, "w") as fh:
        fh.write(str(new_v) if record_id is None else f"{new_v}\n{record_id}")
    os.replace(tmp, os.path.join(state_path, _PTR))  # atomic pointer move
    return new_v


def apply_cdc_stream(
    stream: DataFrame,
    state_path: str,
    checkpoint: str,
):
    """Wire a change stream into the merge sink; returns the started
    StreamingQuery (caller owns trigger/termination)."""
    os.makedirs(state_path, exist_ok=True)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_cdc_batch(
            batch_df.sparkSession, batch_df, state_path, batch_id=batch_id
        )

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def prune_versions(path: str, keep: int = 3) -> list[int]:
    """Drop all but the newest `keep` version directories (never the one
    the pointer names); returns the pruned version numbers."""
    import shutil

    latest = latest_version(path)
    if latest is None:
        return []
    versions = sorted(
        int(d[1:])
        for d in os.listdir(path)
        if d.startswith("v") and d[1:].isdigit()
    )
    victims = [v for v in versions[:-keep] if v != latest] if len(
        versions
    ) > keep else []
    for v in victims:
        shutil.rmtree(_version_dir(path, v), ignore_errors=True)
    return victims
