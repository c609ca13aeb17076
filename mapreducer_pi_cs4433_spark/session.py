"""SparkSession construction tuned for both local testing and cluster scale.

The reference hand-tunes physical execution per job (map-only jobs, one
reducer, distributed-cache joins — see SURVEY.md §4). Here a single session
configuration lets Catalyst/AQE make those calls per-query instead:

- AQE on: runtime partition coalescing, skew-join splitting, and
  broadcast-join conversion replace the reference's hand-set reducer counts.
- ``spark.sql.session.timeZone=UTC``: timestamps in the test parquet are
  timezone-naive; pinning the session to UTC makes epoch arithmetic agree
  with DuckDB's naive-as-UTC semantics regardless of host TZ.
- Arrow enabled: any Pandas-UDF path (similarity, multimodal) transfers
  columnar batches instead of pickled rows.
- ``spark.python.sql.dataFrameDebugging.enabled=false``: with it on, every
  ``pyspark.sql.functions`` and Column call captures its Python call site
  (a stack walk plus several Py4J round trips, about 1 ms a call), and a
  query function builds its plan from dozens of such calls. PySpark fixes
  the setting per process at the first function call, reading it as off
  when no session exists yet, so without the conf it depended on import
  order. The cost is in error messages only: a runtime error keeps its
  class and condition (e.g. ``REMAINDER_BY_ZERO``), but its
  ``== DataFrame ==`` context names a JVM frame instead of the Python
  ``file:line``. The conf is static, so ``tune_session`` cannot set it on
  an externally-built session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(app_name: str = "mapreducer-pi-cs4433-spark") -> SparkSession:
    """Build (or fetch) the session.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (defaults to all cores)
    and ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` the shuffle partition count.
    On a real cluster the ``master`` setting is supplied externally and the
    local[] default is ignored via spark-submit.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    sp = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # explicit, not default-inherited: every correctness gate runs
        # under ansi=true, and a host spark-defaults.conf flipping it
        # would change div/cast/overflow semantics (see tune_session)
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # the whole-stage-codegen compile cache defaults to 100 entries;
        # an engine running 188 distinct queries (x several codegen
        # fragments each) evicts every fragment between bench passes and
        # pays Janino recompilation per query per pass. The cache is
        # per-JVM compile state, not data-scale-dependent, so a larger
        # value is right at any cluster size. Entries are compiled
        # classes (~KBs each) — 4096 is well inside the default heap.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    # optional JVM flags for the local driver (e.g. a GC experiment:
    # SPARK_GRAFT_DRIVER_JAVA_OPTS="-XX:+UseParallelGC"); empty default
    # keeps stock behavior, and a cluster deployment sets its own via
    # spark-submit
    jopts = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "")
    if jopts:
        builder = builder.config("spark.driver.extraJavaOptions", jopts)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable scale/parity conf to an externally-built session.

    The correctness driver hands us its own SparkSession; only runtime-mutable
    settings are touched (timezone for DuckDB parity, AQE for scale, ANSI
    pinned to the locally-tested value). Pinning ANSI matters for hash
    parity: every local gate (tests, full_oracle_check, the partition-count
    sweep) runs under Spark 4's ansi=true default, and div/cast/overflow
    semantics differ across ANSI modes — an externally-built session with a
    different setting would be running semantics no local gate ever
    exercised.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    return spark


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def enable_rocksdb_state(spark: SparkSession) -> SparkSession:
    """Switch Structured Streaming state to the RocksDB provider.

    The default HDFS-backed provider keeps every state row on the executor
    heap — fine for small keyspaces, an OOM at the 100 TB end (e.g.
    dedup digests or session state over billions of keys). RocksDB spills
    state to local SSD with a bounded block cache, and changelog
    checkpointing uploads per-batch deltas instead of full snapshots.

    Runtime-settable SQL confs, so this works on an externally-built
    session too; it affects queries STARTED after the call (running
    queries keep the provider recorded in their checkpoint).
    """
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true",
    )
    return spark
