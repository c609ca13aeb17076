"""Multi-dimensional data layout: Z-order (Morton) clustering.

A 100 TB table is pruned at the FILE level: each parquet file's footer
carries per-column min/max, and a scan skips files whose range excludes
the predicate. A linear sort gives perfect pruning on the leading key and
NONE on any other; interleaving the bits of two keys (the Morton curve)
bounds every file's span in BOTH dimensions, so selective predicates on
either column — or both — skip most files. This is the layout primitive
behind Delta/Iceberg OPTIMIZE ZORDER BY, built here from pure integer
column arithmetic (shift/mask/or — whole-stage codegen, engine-neutral,
and therefore DuckDB-oracle-checkable bit for bit).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(col_a: str | Column, col_b: str | Column, bits: int = 16) -> Column:
    """Morton-interleave the low `bits` bits of two non-negative int
    columns: result bit 2i+1 is bit i of a, bit 2i is bit i of b.

    Keys wider than `bits` bits wrap (low-bit mask) — acceptable for
    layout (wrapped keys just co-locate distant values) and documented;
    pick `bits` >= log2(max key) when exact ordering matters. The
    expression is 2*bits shift-mask-or terms, all int64 codegen."""
    a = F.col(col_a) if isinstance(col_a, str) else col_a
    b = F.col(col_b) if isinstance(col_b, str) else col_b
    a = a.cast("long")
    b = b.cast("long")
    z: Column = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        ).bitwiseOR(F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i))
    return z


def zorder_oracle_expr(col_a: str, col_b: str, bits: int = 16) -> str:
    """The identical Morton interleave as DuckDB SQL (bigint >> & << |)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({col_a} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({col_b} >> {i}) & 1) << {2 * i})")
    return " | ".join(terms)


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 16,
) -> None:
    """Write `df` as parquet clustered on the (col_a, col_b) Morton curve:
    range-partition by the z-key into `n_files` output partitions, sort
    within each, drop the key. Each file then covers a compact z-range —
    bounded min/max span in BOTH key columns — so file-skipping prunes on
    either. Range partitioning samples the z-key distribution, which also
    evens out file sizes under key skew (hash partitioning would scatter
    the curve)."""
    (
        df.withColumn("__z", zorder_key(col_a, col_b))
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_with_bloom_filters(
    df: DataFrame,
    path: str,
    bloom_cols: list[str],
    ndv: int = 100_000,
) -> None:
    """Write parquet with per-column BLOOM FILTERS for the named columns —
    the point-lookup complement to z-order's range clustering. Min/max
    footer stats prune range predicates but are useless for `key = X` on
    high-cardinality unsorted columns (every row group spans most of the
    key domain); a bloom filter answers "definitely not in this row group"
    for equality probes, so a needle query skips row groups without any
    sort having been imposed at write time. `ndv` sizes the filter
    (expected distinct values per row group; ~1% false-positive rate at
    the parquet default bits-per-value). Readers use the filters
    transparently via Spark's parquet filter pushdown."""
    w = df.write.mode("overwrite")
    for c in bloom_cols:
        w = w.option(f"parquet.bloom.filter.enabled#{c}", "true").option(
            f"parquet.bloom.filter.expected.ndv#{c}", str(ndv)
        )
    w.parquet(path)
