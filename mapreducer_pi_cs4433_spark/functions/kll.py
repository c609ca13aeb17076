"""KLL-style mergeable quantile sketch — the missing member of the
sketch family (CMS/Bloom/KMV are exact md5 twins; GK rides Spark's
built-in percentile_approx). This one is built IN the engine so the
mergeability property is demonstrated structurally, not assumed:
per-partition compactor builds (mapInPandas) emit bounded item tables,
one per-key reduce (applyInPandas) merges them — the exact two-phase
shape a 100 TB quantile job wants, a shuffle of fixed-size sketches
instead of a sort of the value stream.

Design: equal-capacity compactors (the MRL/KLL simplification — KLL's
geometrically-decaying caps shave the constant, not the shape). Items at
level l carry weight 2^l. When a level exceeds its cap, its SORTED items
are halved by alternating selection and promoted one level up; the
selection parity flips per level per compaction (the classic
error-cancelling schedule), so the whole sketch is DETERMINISTIC given
its input multiset order — no RNG anywhere, which keeps replays and
retries bit-stable. Compaction preserves total weight exactly (half the
items, double the weight), so ``total_weight(sketch) == n`` is an exact
invariant the query surfaces as a hash-checked column.

Accuracy: each compaction at level l perturbs any rank by at most 2^l;
at most ceil(m_l / cap) compactions happen per level, giving the
standard deterministic bound rank_err <= n * H / cap with
H ~ log2(n / cap) levels. The catalog entry checks a +/-2% rank band at
cap=512; the MEASURED worst observed rank error at the test scale
factors is 3.35 permille (sf0.1, cell-merged hierarchy; 1.01-3.16
permille elsewhere — per-SF table in CORRECTNESS_NOTES.md "Round 10"),
a ~6x margin inside the band (the alternating parity cancels most of
the theoretical bound in practice); production sizing scales cap with
the target n like any sketch parameter.

Input-order note: a sketch's ITEMS depend on how rows were batched and
partitioned (like every practical sketch, including Spark's own GK
summaries); everything the catalog entry emits — the band bit, the
exact quantiles, the total weight — is partition-invariant, which is
what the repo's partition-sweep gate requires.

State format: ``to_state`` serializes a sketch as the typed-array row
(levels[], values[], parity[], n) the streaming operators keep in state
(quantiles, kll_cells), and ``restore`` is the one decoder of that row.
"""

from __future__ import annotations

import sys

# Shipped inside mapInPandas/applyInPandas closures; by-value registration
# makes them self-contained on executors (functions/hnsw.py precedent).
from pyspark import cloudpickle as _cloudpickle

_cloudpickle.register_pickle_by_value(sys.modules[__name__])

DEFAULT_CAP = 512


def new_sketch() -> dict:
    """levels[l] = unsorted list of values with weight 2^l; parity[l]
    flips on each compaction of level l."""
    return {"levels": [[]], "parity": [0]}


def _compact(sk: dict, l: int) -> None:
    """Halve level l into level l+1: sort, keep alternating items
    starting at the level's parity offset, flip the parity. The kept
    half's doubled weight preserves total weight exactly; the discarded
    half perturbs any rank by at most 2^l.

    An ODD level length would break the weight invariant — alternating
    selection over 2m+1 items keeps m or m+1, promoting to weight 2m or
    2m+2 — so one item (the max) stays behind at level l and only the
    even remainder compacts, the standard KLL leftover rule."""
    items = sorted(sk["levels"][l])
    leftover = [items.pop()] if len(items) % 2 else []
    if len(sk["levels"]) == l + 1:
        sk["levels"].append([])
        sk["parity"].append(0)
    sk["levels"][l] = leftover
    sk["levels"][l + 1].extend(items[sk["parity"][l] :: 2])
    sk["parity"][l] ^= 1


def _compress(sk: dict, cap: int) -> None:
    l = 0
    while l < len(sk["levels"]):
        if len(sk["levels"][l]) > cap:
            _compact(sk, l)
        else:
            l += 1


def add_many(sk: dict, values, cap: int = DEFAULT_CAP) -> None:
    sk["levels"][0].extend(float(v) for v in values)
    _compress(sk, cap)


def merge_items(sk: dict, items, cap: int = DEFAULT_CAP) -> None:
    """Fold (level, value) item rows — the serialized form of other
    sketches — into ``sk``. Callers sort the rows first when they need a
    deterministic result regardless of arrival order."""
    for level, value in items:
        level = int(level)
        while len(sk["levels"]) <= level:
            sk["levels"].append([])
            sk["parity"].append(0)
        sk["levels"][level].append(float(value))
    _compress(sk, cap)


def to_items(sk: dict) -> list[tuple[int, float]]:
    return [(l, v) for l, vals in enumerate(sk["levels"]) for v in vals]


def total_weight(sk: dict) -> int:
    return sum(len(vals) << l for l, vals in enumerate(sk["levels"]))


def to_state(sk: dict) -> tuple[list, list, list, int]:
    """The state row: the item table as parallel (level, value) arrays,
    the parity schedule, and the exact total weight."""
    items = to_items(sk)
    return (
        [l for l, _ in items],
        [v for _, v in items],
        list(sk["parity"]),
        total_weight(sk),
    )


def restore(levels, values, parity, n: int, cap: int) -> dict:
    """Rebuild a sketch from its ``to_state`` row. The stored items
    respect the cap they were BUILT with, so the refill must not compact
    — the stored PARITY schedule is then overlaid so future compactions
    resume exactly where the previous process stopped.

    Restarting with a SMALLER cap than the state was built with would
    make the refill itself compact: the level layout then no longer
    matches the stored parity array while total weight is preserved, so
    the weight check below would pass with a silently wrong parity
    schedule. Compaction strictly shrinks the item count, so a refill
    that lost items means a cap mismatch, and it raises.

    The stored ``n`` is a serialization-integrity cross-check, not
    bookkeeping: a dropped or duplicated item row is silent in every
    quantile (the rank band absorbs it) but never in the exact weight."""
    items = list(zip(levels, values))
    sk = new_sketch()
    merge_items(sk, items, cap=cap)
    if len(to_items(sk)) != len(items):
        raise ValueError(
            f"KLL state holds {len(items)} items but refilling at "
            f"cap={cap} compacted to {len(to_items(sk))}: the state "
            "was built with a larger cap — restart with the original "
            "cap (or a fresh checkpoint for the new one)"
        )
    par = list(parity) + [0] * (len(sk["levels"]) - len(parity))
    sk["parity"] = par[: len(sk["levels"])]
    if total_weight(sk) != n:
        raise ValueError(
            f"KLL state reconstructs weight {total_weight(sk)}, expected "
            f"{n}: state item table corrupted"
        )
    return sk


def quantile(sk: dict, q_num: int) -> float | None:
    """Smallest sketched value whose cumulative weight reaches
    ceil(W * q_num / 1000) — the same discrete-selection convention as
    the exact rank tables it is banded against. The quantile arrives as
    integer thousandths (never a float: ``int(0.95 * 1000)`` is 949 on
    IEEE doubles, the off-by-one that integer quantile plumbing exists
    to prevent)."""
    weighted = sorted(
        (v, 1 << l) for l, vals in enumerate(sk["levels"]) for v in vals
    )
    w_total = sum(w for _, w in weighted)
    if w_total == 0:
        return None
    target = -(-q_num * w_total // 1000)  # ceil
    cum = 0
    for v, w in weighted:
        cum += w
        if cum >= target:
            return v
    return weighted[-1][0]
