"""Build-once/reuse artifact store for derived index tables.

At 100 TB, shingle postings (the inverted index), MinHash signatures, IVF
bucket assignments, and PQ codes are BUILD outputs written next to the
corpus and reused by every query — recomputing them per query re-scans
the corpus each time. Locally they land under a scratch root keyed by
(source dir, build params).

Staleness safety: the key hashes the corpus directory's file listing —
(name, mtime_ns, size) of every data file — so a corpus rewritten in
place gets a NEW key and artifacts rebuild instead of silently serving
derived values of deleted data (the failure mode load_table's
static-table memoization merely documents; here it is engineered away,
at the cost of one directory stat per lookup).

`ensure_table` is the single writer: every build-once table (shingle
postings, MinHash signatures, IVF/PQ/IVF-PQ codes, k-means tables, the
graph tables) is committed, timed and read through it, so the rule for
what "built" means lives here and nowhere else.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

_INDEX_ROOT_ENV = "SPARK_GRAFT_INDEX_DIR"
_INDEX_ROOT_DEFAULT = "/tmp/spark_graft_indexes"

# Build-cost ledger (VERDICT r3/r4 carried ask): every cold `ensure_*`
# materialization records its wall seconds here, keyed by artifact kind,
# so the bench can report "what building the indexes cost" separately
# from "what reading them costs" — warm reads in the headline, builds
# under extra.artifact_builds. In-process only; cleared by the reader.
BUILD_TIMES: dict[str, float] = {}


def _source_signature(sf_dir: str) -> str:
    sig = [os.path.abspath(sf_dir)]
    try:
        with os.scandir(sf_dir) as it:
            for e in sorted(it, key=lambda e: e.name):
                try:
                    st = e.stat()
                    sig.append(f"{e.name}:{st.st_mtime_ns}:{st.st_size}")
                except OSError:
                    continue
    except OSError:
        pass  # non-local or missing dir: fall back to the path-only key
    return "\n".join(sig)


def artifact_dir(sf_dir: str, kind: str) -> str:
    root = os.environ.get(_INDEX_ROOT_ENV, _INDEX_ROOT_DEFAULT)
    key = hashlib.md5(_source_signature(sf_dir).encode()).hexdigest()[:12]
    return os.path.join(root, key, kind)


def _scan_footers(df: DataFrame) -> list | None:
    """Parquet footers of ``df``'s input files when its plan is a bare
    file scan of local files, read without a Spark job; else None.

    A filter or join over a scan lists the same input files with other
    rows, so only a plan that is one file relation is answered from
    footers. A non-local file, or a footer that cannot be read (not
    parquet, mid-write, no pyarrow), gives None."""
    plan = df._jdf.queryExecution().analyzed()
    if (
        plan.getClass().getSimpleName() == "LogicalRelation"
        and plan.relation().getClass().getSimpleName() == "HadoopFsRelation"
    ):
        try:
            import pyarrow.parquet as pq

            paths = [urlparse(u) for u in df.inputFiles()]
            if all(u.scheme in ("", "file") for u in paths):
                return [pq.read_metadata(unquote(u.path)) for u in paths]
        except (OSError, ImportError, ValueError):
            pass
    return None


def scan_num_rows(df: DataFrame) -> int:
    """Row count of ``df``: from the parquet footers of its input files
    when the plan is a bare file scan (no Spark job), else ``count()``."""
    footers = _scan_footers(df)
    if footers is None:
        return df.count()
    return sum(m.num_rows for m in footers)


def scan_min(df: DataFrame, column: str):
    """Minimum of ``column`` over a bare file scan, from the min
    statistics of every non-empty row group in its parquet footers (no
    Spark job). None when the footers cannot be read, when a row group
    lacks the column or its statistics, or when the table is empty: the
    caller then has no bound and must compute."""
    low = None
    for meta in _scan_footers(df) or ():
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            if rg.num_rows == 0:
                continue
            stats = next(
                (
                    rg.column(i).statistics
                    for i in range(rg.num_columns)
                    if rg.column(i).path_in_schema == column
                ),
                None,
            )
            if stats is None or not stats.has_min_max:
                return None
            low = stats.min if low is None else min(low, stats.min)
    return low


def read_committed_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet directory that is complete once its _SUCCESS
    marker exists, without a schema-inference job after the first read.

    Parquet schema inference costs a Spark job per read, so the schema
    is kept on the session, keyed by (path, _SUCCESS mtime_ns): a
    rewrite that writes a new marker gets a new key. Only the schema is
    kept, never the DataFrame, so every read lists the files afresh: a
    store rewritten in place by dynamic partition overwrite, which
    leaves _SUCCESS untouched, still shows its new partitions. A
    directory without the marker (a write that never finished) is read
    with inference and nothing is kept."""
    try:
        key = (path, os.stat(os.path.join(path, "_SUCCESS")).st_mtime_ns)
    except OSError:
        return spark.read.parquet(path)
    schemas = getattr(spark, "_graft_artifact_schemas", None)
    if schemas is None:
        schemas = spark._graft_artifact_schemas = {}
    if key in schemas:
        return spark.read.schema(schemas[key]).parquet(path)
    df = spark.read.parquet(path)
    schemas[key] = df.schema
    return df


def ensure_table(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    build: Callable[[], DataFrame],
    partition_by: str | None = None,
) -> DataFrame:
    """Return the persisted artifact table, building it on first use.

    The parquet _SUCCESS marker is the build-complete signal (a killed
    build leaves no marker and is simply rebuilt). ``build`` runs before
    the table is written, so anything it persists on the side (PQ's
    ``codebooks.npy``) is in place before the marker exists: the marker
    alone means the whole artifact is there. A cold build's wall, nested
    builds its closure triggers included, lands in ``BUILD_TIMES[kind]``.
    A warm read runs no schema-inference job (``read_committed_parquet``);
    a rebuild writes a new marker and so is read with its new schema."""
    path = artifact_dir(sf_dir, kind)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        import time

        t0 = time.perf_counter()
        w = build().write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(path)
        BUILD_TIMES[kind] = round(time.perf_counter() - t0, 4)
    return read_committed_parquet(spark, path)
