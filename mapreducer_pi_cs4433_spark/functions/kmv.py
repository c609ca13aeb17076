"""Engine-neutral KMV / theta-sketch primitives — ONE definition for
the batch entries (queries/sketches.py::join_cardinality_kmv /
orders_kmv_set_difference) and the streaming monitor
(streaming/kmv_distinct.py).

A KMV sketch is the K MINIMUM DISTINCT values of a uniform hash over a
set's keys — a SET of hash values (two keys colliding to one hash count
once; that bias belongs to the hash and is the standard theta-sketch
trade; the convention is shared by every batch build, both DuckDB
oracles, and the streaming writers).
Folding is a k-min merge — associative, commutative, idempotent (like
HLL's register max), so per-partition partials, day cells, and
streaming state all merge into exactly the sketch a flat build would
produce, BIT-FOR-BIT: the sample itself is checkable, not just claims
about it. Unlike HLL, the sample supports the full set
algebra: below the common theta, sample membership IS set membership,
so union/intersection/difference all reduce to exact set operations on
<= k hashes (see the batch entries' oracles).

The hash family is the md5 'kmv|' slot discipline (first 8 hex chars as
int64 in [0, 2^32)) both engines — and a pure-Python hashlib reference
in the tests — reproduce bit-for-bit.

``restore`` is the one definition of the KMV state format and ``fold``
the one k-min merge: the streaming monitor (kmv_distinct) and the year
writer (snapshots) both decode and fold their state through them.

Reference note: the reference repo (MapReducer-PI-cs4433) has no sketch
surface; this module belongs to the engine's beyond-reference pipeline
band (SURVEY.md §2.8).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

K = 64
SPACE = 1 << 32  # md5-derived 8-hex-digit hash space


def restore(sample, k: int, n_rows: int | None = None, stored_k: int | None = None):
    """Decode a k-min sample read back from operator state: sorted
    unique, at most k values, all in [0, SPACE) — and never more values
    than ``n_rows`` folded rows when the state stores that count. A KMV
    sample is lossy downward only, so a corrupted row has no later
    invariant to surface it: raise here. When the state carries the k
    it was built with, that must match the configured k — a sample
    truncated at a smaller k, resumed under a larger one, would pass
    the size check and read as sub-k, i.e. a COMPLETE set under
    exact-mode theta."""
    import numpy as np

    if stored_k is not None and int(stored_k) != int(k):
        raise ValueError(
            f"KMV state was built with k={int(stored_k)} but the stream "
            f"is configured with k={int(k)}: refusing to resume — a "
            "truncated sample would pass as a complete set under "
            "exact-mode theta. Match k or rebuild the checkpoint."
        )
    s = np.asarray(sample, dtype=np.int64)
    if (
        s.shape[0] > k
        or (np.diff(s) <= 0).any()
        or (s < 0).any()
        or (s >= SPACE).any()
        or (n_rows is not None and n_rows < s.shape[0])
    ):
        raise ValueError(
            f"KMV state reconstructs {s.shape[0]} sample values for "
            f"{n_rows} rows (want sorted unique, <= {k} and <= rows, in "
            "[0, 2^32)): state row corrupted"
        )
    return s


def fold(sample, hashes, k: int):
    """k-min merge of a batch of hashes into a sample: union distinct,
    keep the k smallest. Associative, commutative and idempotent, so
    chunking, arrival order and restarts cannot perturb the result."""
    import numpy as np

    return np.unique(np.concatenate((sample, hashes)))[:k]


def h_col(key: Column) -> Column:
    """KMV hash: first 8 md5 hex chars of 'kmv|' + key, as int64 in
    [0, 2^32) — JVM column math, zero Python."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit("kmv|"), key.cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")


def h_sql(key_expr: str) -> str:
    """DuckDB twin of h_col (the _hll_idx_sql pattern)."""
    return (
        f"CAST(CAST(concat('0x', substr(md5(concat('kmv|', "
        f"CAST({key_expr} AS VARCHAR))), 1, 8)) AS UBIGINT) AS BIGINT)"
    )


def estimate(sample_size: int, theta: int, k: int = K) -> int:
    """Distinct-count estimate from a k-min sample as an exact int64
    floor-divide (the batch entries state the identical arithmetic in
    SQL): a sketch holding fewer than k samples IS its set (exact
    branch); a full sketch estimates (k-1) * space / theta."""
    if sample_size < k:
        return sample_size
    return (k - 1) * SPACE // theta


def difference_estimate(
    sample_a, theta_a: int, sample_b, theta_b: int, k: int = K
) -> int:
    """|A \\ B| estimate from two k-min samples — the live-churn
    consumption pattern: ``sample_a`` is a persisted reference period's
    sample, ``sample_b`` a streaming monitor's latest snapshot (or any
    two sketches of the same hash family). Below the common exact-mode
    theta, sample membership IS set membership, so the difference sample
    is an exact set difference of <= k hashes; the estimate is the same
    int64 floor-divide the batch entry (orders_kmv_set_difference)
    states in SQL. Exact-mode theta: a sub-k sample is complete, its
    theta is the whole space — so two sub-k samples give the exact
    difference.

    INCLUSIVE THETA, deliberately (ADVICE r10 #3): membership uses
    ``h <= t``, retaining the theta-defining k-th minimum itself —
    a hair of upward bias on full sketches relative to the strict
    ``h < t`` theta-sketch discipline (the same reason ``estimate``
    uses k-1). The convention is SHARED bit-for-bit by every consumer
    — this function, the batch entries' Spark plans and DuckDB oracles
    (orders_kmv_set_difference / orders_kmv_diff_from_snapshots /
    join_cardinality_kmv), the streaming monitor, and the hashlib
    reference in the tests — and sub-k mode is exact regardless, so
    cross-engine hash equality holds everywhere; changing to strict
    inequality would be a coordinated five-site hash-family migration
    for a bias far below the k=64 sampling error."""
    ta = theta_a if len(sample_a) >= k else SPACE
    tb = theta_b if len(sample_b) >= k else SPACE
    t = min(ta, tb)
    sb = set(sample_b)
    n = sum(1 for h in sample_a if h <= t and h not in sb)
    return n * SPACE // t
