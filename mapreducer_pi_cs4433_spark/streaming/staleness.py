"""Structured Streaming operators.

The reference is batch-only (SURVEY.md §2.8); these are the natural
streaming generalizations of its event-time logic:

- windowed_rollup: streaming twin of queries.extensions.events_hourly_rollup
  (tumbling event-time window + watermark for late data).
- last_access_state: streaming twin of Task G's per-user last-access
  tracking (TaskG.java:46-66) as a watermarked max-aggregate.
- stale_users_snapshot: batch-join helper applying Task G's staleness
  predicate to a last-access state table.

All operators take a streaming DataFrame (``spark.readStream...``) and
return a transformed streaming DataFrame; sinks/triggers belong to the
caller. Tests drive them with file sources + ``trigger(availableNow=True)``
and assert convergence to the batch results — the same code runs unbounded
on Kafka/kinesis sources in production.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_rollup(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling event-time rollup per event type with late-data tolerance.

    The watermark bounds state: windows older than (max event time -
    watermark) finalize and evict, so state size is O(active windows x
    event types) regardless of stream length. Decimal summation keeps the
    aggregate exact, as in the batch twin.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("hour_bucket"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def last_access_state(
    events: DataFrame,
    watermark: str = "1 day",
) -> DataFrame:
    """Per-user running max event time (Task G job 1, unbounded).

    A watermarked max-aggregate in update mode: state is one timestamp per
    user. The watermark lets the engine drop events arriving later than the
    tolerance instead of keeping unbounded reorder buffers.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.col("user_id").alias("user_id"))
        .agg(F.max("ts").alias("last_ts"))
    )


def stale_users_snapshot(
    users: DataFrame,
    last_state: DataFrame,
    ref_ts,
    days: int = 14,
) -> DataFrame:
    """Apply Task G's staleness predicate (SURVEY traps #3/#4: truncating
    day arithmetic; never-seen users pass) to a materialized last-access
    state table against a reference timestamp — the serving-side join of
    the streaming pipeline."""
    age_days = F.floor(
        (F.lit(ref_ts).cast("timestamp").cast("long") - F.col("last_ts").cast("long"))
        / 86400
    )
    return (
        users.join(
            last_state, users["c_custkey"] == last_state["user_id"], "left"
        )
        .filter(F.col("last_ts").isNull() | (age_days >= days))
        .drop("user_id")
    )
