"""Engine-neutral HyperLogLog register math — ONE definition for the
batch entry (queries/sketches.py::events_distinct_hll_rollup) and the
streaming monitor (streaming/distinct.py).

Geometry: M = 256 registers (p = 8 index bits, rsd ~= 1.04/sqrt(M) =
6.5%) over a 40-bit rho field. Every update derives from md5 bits both
engines standardize — idx is the first 2 hex chars, the rho field the
next 10 — so a DuckDB oracle (and a pure-Python hashlib reference, see
tests/test_properties.py) reproduces each register bit-for-bit. RHO_MAX
= 41 caps the all-zero field; sum(2^(RHO_MAX - reg)) over all registers
is <= M * 2^41 < 2^50, so the harmonic-sum bookkeeping fits a BIGINT
exactly and no float ever crosses an engine boundary.

Two faces of the same math, kept adjacent so they cannot drift:
``idx_col``/``rho_col`` are JVM column expressions (md5/conv/bin/length
— whole-stage codegen, zero Python) used by the batch plan and by the
streaming pre-projection; ``estimate`` is the scalar HLL estimator
(alpha_M * M^2 / sum, linear-counting branch below 2.5M while zero
registers remain) the streaming monitor emits per trigger — the batch
entry states the identical formula as column arithmetic for its
one-sided in-band contract.

``restore`` is the one definition of the HLL state format: every
streaming operator that keeps registers in state (distinct, snapshots,
sliding_distinct) decodes its state row through it.

Reference note: the reference repo (MapReducer-PI-cs4433) has no sketch
surface; this module belongs to the engine's beyond-reference pipeline
band (SURVEY.md §2.8).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

M = 256
RHO_MAX = 41  # 40-bit rho field, all-zero capped at 41
ALPHA = 0.7213 / (1 + 1.079 / M)


def restore(registers, n_rows: int | None = None):
    """Decode registers read back from operator state: a dense array of
    exactly M values in [0, RHO_MAX] (or a stack of such rows). Any
    other shape means the state row was corrupted in the store, and
    because HLL is lossy no downstream invariant (like the KLL weight)
    would surface it later — so raise here instead of silently
    degrading every future estimate. When the state also stores the
    folded-row count, touched registers can never exceed it."""
    import numpy as np

    regs = np.asarray(registers, dtype=np.int64)
    if regs.shape[-1:] != (M,) or (regs < 0).any() or (regs > RHO_MAX).any():
        raise ValueError(
            f"HLL state reconstructs shape {regs.shape} (want rows of {M} "
            f"registers, values in [0, {RHO_MAX}]): state row corrupted"
        )
    if n_rows is not None and n_rows < (touched := int((regs > 0).sum())):
        raise ValueError(
            f"HLL state claims {n_rows} rows but {touched} registers are "
            "touched: state row corrupted"
        )
    return regs


def idx_col(key: Column) -> Column:
    """Register index in [0, M): first 2 md5 hex chars (8 bits)."""
    h = F.md5(key.cast("string"))
    return F.conv(F.substring(h, 1, 2), 16, 10).cast("int")


def rho_col(key: Column) -> Column:
    """Leading-zero rank of the 40-bit field after the index bits:
    rho = 41 - bit_length(w), with the all-zero field capped at 41.
    bit_length rides length(bin(w)) — exact integer math the oracle
    mirrors with DuckDB's bin()."""
    h = F.md5(key.cast("string"))
    w = F.conv(F.substring(h, 3, 10), 16, 10).cast("long")
    return (
        F.when(w == 0, F.lit(RHO_MAX))
        .otherwise(F.lit(RHO_MAX) - F.length(F.bin(w)))
        .cast("int")
    )


def sum_inv_scaled(registers) -> int:
    """Harmonic sum scaled by 2^RHO_MAX — an exact Python int (each
    register contributes 2^(RHO_MAX - reg); an empty register, 2^RHO_MAX)."""
    return sum(1 << (RHO_MAX - int(r)) for r in registers)


def estimate(sis: int, v_zero: int) -> float:
    """Standard HLL estimator from the exact integer bookkeeping:
    raw = ALPHA * M^2 / (sis / 2^RHO_MAX); below 2.5M with empty
    registers remaining, linear counting M * ln(M / V)."""
    raw = ALPHA * M * M / (sis / float(1 << RHO_MAX))
    if raw <= 2.5 * M and v_zero > 0:
        return M * math.log(M / v_zero)
    return raw


def summ_cols(reg_col: str = "reg_val"):
    """(v_zero, sum_inv_scaled) single-row aggregate columns over a
    SPARSE register table (one row per touched register): empty
    registers contribute 2^RHO_MAX each, and the touched-register sum
    is coalesced to 0 so a register table with ZERO rows (an empty set
    side) yields the exact empty-sketch bookkeeping (v_zero = M,
    sis = M * 2^RHO_MAX) instead of NULL.
    Returns (v_zero_col, sis_col) to use inside one .agg()."""
    r = F.col(reg_col)
    v_zero = (F.lit(M) - F.count("*")).cast("long")
    sis = (
        F.coalesce(
            F.sum(F.pow(F.lit(2.0), F.lit(RHO_MAX) - r).cast("long")),
            F.lit(0).cast("long"),
        )
        + (F.lit(M) - F.count("*")) * F.lit(1 << RHO_MAX).cast("long")
    ).cast("long")
    return v_zero, sis


def estimate_col(v_zero: Column, sis: Column) -> Column:
    """Column twin of ``estimate``: the standard HLL estimator with the
    linear-counting branch, as whole-stage-codegen column math — the
    one definition every batch entry uses."""
    sum_inv = sis / F.lit(float(2**RHO_MAX))
    raw = F.lit(ALPHA * M * M) / sum_inv
    return F.when(
        (raw <= F.lit(2.5 * M)) & (v_zero > 0),
        F.lit(float(M)) * F.log(F.lit(float(M)) / v_zero),
    ).otherwise(raw)
