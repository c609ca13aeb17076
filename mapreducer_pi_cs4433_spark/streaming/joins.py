"""Stream-stream joins — the continuous twin of operators/temporal.py.

Structured Streaming's stream-stream join buffers both sides in state;
unbounded conditions would buffer forever. The interval join here is the
bounded form every event-correlation pipeline needs (clicks ↔ errors,
impressions ↔ conversions): an equi-key plus a two-sided event-time range,
with watermarks on BOTH inputs so the engine can evict state older than
watermark + span — state size tracks stream rate x horizon, not lifetime.

The batch twin (range_join_bucketed) answers the same question over
at-rest data with an equi-join on time buckets; this operator answers it
continuously with join-state eviction. Both are exercised against the
same events data in tests (the streaming result must equal the batch
join on a bounded replay).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    span_seconds: int = 3600,
    watermark: str = "1 hour",
) -> DataFrame:
    """Join two STREAMING DataFrames on `key` where the right event falls
    within ± span_seconds of the left event's time.

    Right-side columns are prefixed `r_` (the two sides usually share
    column names, and the prefix keeps the output schema collision-free).
    The rename happens BEFORE the watermark so event-time tracking attaches
    to the column that actually appears in the join condition.

    The time bounds are what make the state bounded: with watermarks W on
    both sides, the engine drops left state older than W + span and right
    state older than W + span. Without the range condition a stream-stream
    join is unbounded-state and Spark (correctly) refuses append mode.
    Both sides carry their event time in ``ts``.
    """
    lw = left.withWatermark("ts", watermark)
    renamed = right.select(
        *[F.col(c).alias(f"r_{c}") for c in right.columns]
    )
    rw = renamed.withWatermark("r_ts", watermark)
    span = F.expr(f"INTERVAL {int(span_seconds)} SECONDS")
    cond = (
        (F.col(key) == F.col(f"r_{key}"))
        & (F.col("r_ts") >= F.col("ts") - span)
        & (F.col("r_ts") <= F.col("ts") + span)
    )
    return lw.join(rw, cond, "inner")
