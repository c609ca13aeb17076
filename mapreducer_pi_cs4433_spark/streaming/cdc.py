"""Streaming CDC: change-log -> latest-state snapshot, always on.

The streaming twin of ``queries.incremental.cdc_latest_state``: the same
log-compaction semantics (one row per key, payload of the latest change
under the total version order ``(ts, event_id)``), maintained continuously
as changes arrive instead of recomputed per batch.

The operator is a plain watermarked streaming aggregation — ``max(struct)``
over the version-ordered change struct — NOT a custom stateful map. That
matters at scale: built-in streaming aggs get RocksDB state, map-side
partial aggregation inside each micro-batch, and update-mode emission for
free, and the state per key is ONE struct (the current winner), bounded
regardless of change rate. The watermark bounds the reorder buffer: changes
arriving later than the tolerance are dropped rather than retroactively
rewriting history (the same contract as every other twin in this package).

Deterministic tie handling: event_id is unique, so the struct comparison
prefix (ts, event_id) yields one winner per key no matter how changes are
interleaved across micro-batches — batch/stream parity is exact, not
eventually-approximate, and is pinned by tests including arbitrary
micro-batch split points.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_TS_FMT = "yyyy-MM-dd HH:mm:ss"


def cdc_latest_state_stream(changes: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Maintain the current snapshot of a keyed change log as a streaming
    aggregation (update output mode: each micro-batch emits the keys whose
    snapshot row changed).

    Output schema matches the batch twin (queries/incremental.py
    ``cdc_latest_state``): key, last_ts, last_type, last_value_centi,
    n_changes, first_ts — value in exact int64 centi-units, timestamps
    second-formatted.
    """
    log = changes.withWatermark("ts", watermark).select(
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("ts"),
        F.col("event_id").alias("event_id"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    agg = log.groupBy("user_id").agg(
        F.max(F.struct("ts", "event_id", "event_type", "v")).alias("last"),
        F.count("*").alias("n_changes"),
        F.min("ts").alias("first_ts"),
    )
    return agg.select(
        "user_id",
        F.date_format("last.ts", _TS_FMT).alias("last_ts"),
        F.col("last.event_type").alias("last_type"),
        F.col("last.v").alias("last_value_centi"),
        "n_changes",
        F.date_format("first_ts", _TS_FMT).alias("first_ts"),
    )
