"""Skew-resilient join strategies.

At 100 TB a single hot key (a viral page in access_logs, a null-heavy FK)
turns one shuffle partition into the whole job's critical path. Two
remedies, in preference order:

1. AQE skew-join splitting — on by default in session.get_spark
   (spark.sql.adaptive.skewJoin.enabled): oversized partitions are split at
   runtime and the matching build side is replicated. Zero code changes.
2. Explicit salting (this module) — for engines/paths where AQE can't help
   (aggregations with one giant group, stateful streaming joins) or when
   the skew is known ahead of time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join resilient to hot keys in `big`.

    big rows get a random salt in [0, salt_buckets); small rows are
    replicated across all salts (explode of a literal range — bounded
    fan-out = |small| x salt_buckets). The join key becomes (key, salt), so
    a hot key spreads over salt_buckets partitions instead of one.

    Use when `small` is too large to broadcast outright but small enough to
    replicate salt_buckets times; otherwise prefer AQE skew handling.

    Only inner/left joins are supported: the small side is REPLICATED across
    all salt buckets, so a right/full outer join would emit each unmatched
    small-side row salt_buckets times. (For those, de-skew differently —
    AQE, or pre-aggregate the big side.)

    The salt is a hash of the row's partition/offset id — deterministic
    under task retries (F.rand re-draws on retry, reassigning salts
    mid-shuffle; harmless for pure counts, wrong for anything
    position-sensitive), while still spreading a hot key's rows uniformly
    because the entropy comes from row identity, not the key.
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports inner/left only, got {how!r}: the "
            "replicated small side would duplicate unmatched rows "
            f"{salt_buckets}x under right/full outer semantics"
        )
    salted_big = big.withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets)).cast(
            "int"
        ),
    )
    salted_small = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    out = salted_big.join(salted_small, [key, "_salt"], how)
    return out.drop("_salt")


def skewed_count_per_key(df: DataFrame, key: str) -> DataFrame:
    """Two-phase count for skewed group keys: partial count per (key, salt)
    over 16 salts, then final sum per key. Spark's partial aggregation already does this
    for count/sum; the explicit form matters for aggregates without partial
    pushdown (e.g. collect_list-like states) and documents the pattern."""
    return (
        df.withColumn(
            "_salt",
            F.pmod(
                F.xxhash64(F.monotonically_increasing_id()), F.lit(16)
            ).cast("int"),
        )
        .groupBy(key, "_salt")
        .agg(F.count("*").alias("_partial"))
        .groupBy(key)
        .agg(F.sum("_partial").alias("cnt"))
    )


def top_frequent_keys(df: DataFrame, key: str, min_share: float = 0.01) -> DataFrame:
    """Diagnostic: keys holding more than min_share of all rows — the
    candidates for salting / filtering. One aggregation + one 1-row
    aggregate broadcast; no collect."""
    counts = df.groupBy(key).agg(F.count("*").alias("cnt"))
    total = df.agg(F.count("*").alias("_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") >= F.col("_total") * min_share)
        .select(key, "cnt", (F.col("cnt") / F.col("_total")).alias("share"))
    )
