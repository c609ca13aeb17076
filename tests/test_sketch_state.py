"""State-codec tests for the three sketch families: every streaming
operator that keeps a sketch in state decodes it through
functions/{hll,kmv,kll}.py::restore, so each family's corruption classes
are pinned once here, table-driven, against that one decoder. A case is
(label, args, kwargs, expected error substring or None for a clean
round trip).

The HLL and KMV tables are split by the call shape each streaming
operator uses, so an operator's own test (e.g.
test_streaming_distinct::test_state_roundtrip_detects_corruption) runs
exactly the cases of its shape through check_cases."""

from __future__ import annotations

import pytest

from mapreducer_pi_cs4433_spark.functions import hll, kll, kmv

_REGS = [0] * hll.M
_REGS[3] = 7
_REGS[200] = hll.RHO_MAX
_OVER = [hll.RHO_MAX + 1] + _REGS[1:]

# hll.restore(registers, n_rows): streaming/distinct
HLL_WITH_ROWS = [
    ("clean, with row count", (_REGS, 10), {}, None),
    ("truncated", (_REGS[1:], 10), {}, "corrupted"),
    ("above RHO_MAX", (_OVER, 10), {}, "corrupted"),
    ("negative", ([-1] + _REGS[1:], 10), {}, "corrupted"),
    ("fewer rows than touched registers", (_REGS, 1), {}, "touched"),
]
# hll.restore(registers): streaming/snapshots
HLL_FLAT = [
    ("clean, no row count", (_REGS,), {}, None),
    ("truncated, no row count", (_REGS[1:],), {}, "corrupted"),
    ("above RHO_MAX, no row count", (_OVER,), {}, "corrupted"),
]
# hll.restore(stack of register rows): streaming/sliding_distinct
HLL_STACKED = [
    ("clean, stacked", ([_REGS, _REGS],), {}, None),
    ("above RHO_MAX, stacked", ([_REGS, _OVER],), {}, "corrupted"),
]

_GOOD = [5, 9, 1000]
# kmv.restore(sample, k): the checks every caller shares
KMV_SHARED = [
    ("clean", (_GOOD, 8), {}, None),
    ("unsorted", ([9, 5, 1000], 8), {}, "corrupted"),
    ("duplicate", ([5, 5, 1000], 8), {}, "corrupted"),
    ("more than k", (list(range(9)), 8), {}, "corrupted"),
    ("outside the hash space", ([5, kmv.SPACE], 8), {}, "corrupted"),
]
# kmv.restore(sample, k, n_rows): streaming/kmv_distinct
KMV_WITH_ROWS = [
    ("clean, row count", (_GOOD, 8), {"n_rows": 3}, None),
    ("clean, row count above sample", ([1, 5, 9], 16), {"n_rows": 10}, None),
    ("more values than rows", (_GOOD, 8), {"n_rows": 2}, "corrupted"),
]
# kmv.restore(sample, k, stored_k=...): streaming/snapshots year samples
KMV_STORED_K = [
    ("clean, stored k", (_GOOD, 8), {"stored_k": 8}, None),
    ("larger k", (_GOOD, 16), {"stored_k": 8}, "built with k=8"),
    ("smaller k", (_GOOD, 8), {"stored_k": 16}, "built with k=16"),
]


def check_cases(restore, cases):
    assert cases
    for label, args, kwargs, match in cases:
        if match is None:
            restore(*args, **kwargs)
            continue
        with pytest.raises(ValueError, match=match):
            restore(*args, **kwargs)
            pytest.fail(f"{label}: no error raised")


def test_hll_restore():
    """HLL is lossy, so unlike KLL no later invariant would surface a
    mangled state row — the decoder must catch every corruption class
    at the boundary: truncated array, out-of-range register, and a row
    count smaller than the touched-register count."""
    assert hll.restore(_REGS, 10).tolist() == _REGS
    assert hll.restore(_REGS).shape == (hll.M,)
    assert hll.restore([_REGS, _REGS]).shape == (2, hll.M)
    check_cases(hll.restore, HLL_WITH_ROWS + HLL_FLAT + HLL_STACKED)


def test_kmv_restore():
    """Unsorted, duplicated, oversized, out-of-range or count-
    inconsistent samples raise instead of silently degrading every
    future estimate; a sample built under one k never resumes under
    another (a truncated sample would read as a complete set)."""
    assert list(kmv.restore(_GOOD, 8)) == _GOOD
    assert list(kmv.restore(_GOOD, 8, stored_k=8)) == _GOOD
    assert list(kmv.restore([1, 5, 9], 16, n_rows=10)) == [1, 5, 9]
    check_cases(kmv.restore, KMV_SHARED + KMV_WITH_ROWS + KMV_STORED_K)


def test_kll_restore():
    """The state row must reconstruct the sketch exactly (same weight,
    same future behavior: parity overlaid); a state item table that lost
    a row fails the exact-weight cross-check; and a restart with a
    smaller cap than the state was built with raises instead of
    desyncing the parity schedule."""
    cap = 64
    sk = kll.new_sketch()
    kll.add_many(sk, [float(v % 97) for v in range(5000)], cap=cap)
    state = kll.to_state(sk)
    levels, values, parity, n = state
    assert n == 5000
    back = kll.restore(*state, cap=cap)
    assert kll.total_weight(back) == 5000
    assert back == sk  # parity overlay restores the full schedule
    lost = (levels[1:], values[1:], parity, n)
    doubled = (levels + levels[-1:], values + values[-1:], parity, n)
    check_cases(
        kll.restore,
        [
            ("clean", state, {"cap": cap}, None),
            ("lost an item row", lost, {"cap": cap}, "corrupted"),
            ("duplicated an item row", doubled, {"cap": cap}, "corrupted"),
            ("smaller cap than built", state, {"cap": 8}, "larger cap"),
        ],
    )
