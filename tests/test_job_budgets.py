"""Per-query job budgets and warm artifact reads.

A query function's eager driver work (checkpoints, counts, collects,
schema inference) runs as Spark jobs before its plan executes, and at
small scale each job's fixed cost outweighs its rows. The budgets below
are the measured warm job counts at sf0.001, so a new eager action in a
pinned query fails here. The artifact cases guard the schema memo that
lets a warm artifact or merge-sink state read run no job: it must never
serve a stale schema or a stale file listing.
"""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from mapreducer_pi_cs4433_spark.cli import _build_index
from mapreducer_pi_cs4433_spark.functions import dedup, similarity
from mapreducer_pi_cs4433_spark.functions.artifacts import (
    artifact_dir,
    ensure_table,
    scan_min,
    scan_num_rows,
)
from mapreducer_pi_cs4433_spark.plans.inspect import run_counting_jobs
from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES
from mapreducer_pi_cs4433_spark.queries.extensions import (
    _IVF_PLANES,
    _JACCARD_T,
    _KMEANS_K,
    _PQ_CODE_K,
    _PQ_M,
    _PQ_SAMPLE,
    _SHINGLE_K,
)
from mapreducer_pi_cs4433_spark.sources.loaders import load_table
from mapreducer_pi_cs4433_spark.streaming.hll_cells import (
    CELL_ROWS_SCHEMA,
    read_hll_day_cells,
    write_hll_day_cells,
)
from mapreducer_pi_cs4433_spark.streaming.merge_sink import (
    latest_version,
    merge_cdc_batch,
    read_state,
)
from mapreducer_pi_cs4433_spark.streaming.snapshots import overwrite_partitions

from .conftest import SF_SMOKE


@pytest.mark.parametrize(
    "name, budget",
    [
        # sf0.001 is a 3-core already: the footer minimum degree says so,
        # and no keeper is checkpointed
        ("graph_kcore_census", 0),
        # reads the component artifact that set-up builds
        ("dedup_clusters", 0),
        ("dedup_prefix_filter", 0),
        ("dedup_keeper_selection", 0),
        # the exact-dedup checkpoint: one aggregate (2 jobs under AQE)
        ("pipeline_clean_corpus", 2),
    ],
)
def test_warm_query_function_job_budget(spark, name, budget):
    fn = QUERIES[name]
    fn(spark, SF_SMOKE)  # builds artifacts on a fresh index dir
    _, jobs = run_counting_jobs(spark, lambda: fn(spark, SF_SMOKE))
    assert jobs <= budget


@pytest.mark.parametrize(
    "name, budget",
    [
        # one grouped aggregate of the degree artifact
        ("graph_kcore_census", 2),
        # one window shuffle over the component artifact
        ("dedup_clusters", 2),
        # the pair restriction onto the checkpoint, then the anti-join
        ("pipeline_clean_corpus", 3),
    ],
)
def test_warm_plan_execution_job_budget(spark, name, budget):
    """The jobs of executing the returned plan (a noop write, as the
    benchmark runs it): an added exchange or broadcast shows here."""
    fn = QUERIES[name]
    fn(spark, SF_SMOKE)  # builds artifacts on a fresh index dir
    df = fn(spark, SF_SMOKE)
    _, jobs = run_counting_jobs(
        spark, lambda: df.write.format("noop").mode("overwrite").save()
    )
    assert jobs <= budget


def test_connected_components_job_budget(spark):
    """The fixpoint over the warm pair artifact: the edge checkpoint,
    the aggregate superstep 1, and one join superstep that changes
    nothing, each convergence check read from an Observation. Its
    result is the component artifact dedup_clusters reads."""
    docs = load_table(spark, SF_SMOKE, "documents")
    params = dict(k=_SHINGLE_K, num_perm=64, bands=32, threshold=_JACCARD_T)
    pairs = dedup.ensure_neardup_pairs(spark, docs, SF_SMOKE, **params)
    comp, jobs = run_counting_jobs(spark, lambda: dedup.connected_components(pairs))
    assert jobs <= 8
    built = dedup.ensure_neardup_components(spark, docs, SF_SMOKE, **params)
    assert sorted(comp.collect()) == sorted(built.collect())


@pytest.mark.parametrize(
    "ensure",
    [
        lambda s, e: similarity.ensure_ivf_index(s, e, SF_SMOKE, planes=_IVF_PLANES),
        lambda s, e: similarity.ensure_pq_artifacts(
            s, e, SF_SMOKE, m=_PQ_M, k=_PQ_CODE_K, sample_rows=_PQ_SAMPLE
        )[1],
        lambda s, e: similarity.ensure_kmeans_assignment(s, e, SF_SMOKE, k=_KMEANS_K),
    ],
    ids=["ivf", "pq", "kmeans"],
)
def test_warm_similarity_artifact_runs_no_job(spark, ensure):
    """The similarity builders commit through ensure_table, so a warm
    read reuses the kept schema: no inference job."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    built = ensure(spark, emb)
    df, jobs = run_counting_jobs(spark, lambda: ensure(spark, emb))
    assert jobs == 0
    assert df.schema == built.schema


def test_warm_build_index_runs_no_job(spark, capsys):
    _build_index(spark, SF_SMOKE, "minhash")
    _, jobs = run_counting_jobs(spark, lambda: _build_index(spark, SF_SMOKE, "minhash"))
    assert jobs == 0
    assert "minhash ready (500 rows)" in capsys.readouterr().out


@pytest.fixture
def artifact_sf(tmp_path, monkeypatch):
    """An empty corpus dir whose artifacts live under tmp_path."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = tmp_path / "sf"
    sf.mkdir()
    return str(sf)


def test_warm_ensure_table_runs_no_job(spark, artifact_sf):
    def build():
        return spark.range(5).withColumn("v", F.col("id") * 2)

    ensure_table(spark, artifact_sf, "t", build)
    df, jobs = run_counting_jobs(
        spark, lambda: ensure_table(spark, artifact_sf, "t", build)
    )
    assert jobs == 0
    assert sorted(tuple(r) for r in df.collect()) == [
        (i, 2 * i) for i in range(5)
    ]


def test_scan_num_rows_reads_footers_of_a_bare_scan(spark, artifact_sf):
    df = ensure_table(
        spark, artifact_sf, "t", lambda: spark.range(10).repartition(3)
    )
    assert len(df.inputFiles()) == 3
    n, jobs = run_counting_jobs(spark, lambda: scan_num_rows(df))
    assert (n, jobs) == (10, 0)
    # a filter lists the same files: it must be counted, not footer-summed
    assert scan_num_rows(df.filter(F.col("id") < 4)) == 4
    # a partition_by layout nests its files one level down
    part = ensure_table(
        spark,
        artifact_sf,
        "p",
        lambda: spark.range(50).withColumn("p", F.col("id") % 2),
        partition_by="p",
    )
    n, jobs = run_counting_jobs(spark, lambda: scan_num_rows(part))
    assert (n, jobs) == (50, 0)


def test_scan_min_reads_footer_statistics(spark, artifact_sf):
    df = ensure_table(
        spark,
        artifact_sf,
        "t",
        lambda: spark.range(3, 40).select((F.col("id") * 7 % 31).alias("v"))
        .repartition(3),
    )
    low, jobs = run_counting_jobs(spark, lambda: scan_min(df, "v"))
    assert (low, jobs) == (df.agg(F.min("v")).first()[0], 0)
    # not a bare scan, an unknown column, an empty table: no bound
    assert scan_min(df.filter(F.col("v") > 5), "v") is None
    assert scan_min(df, "w") is None
    empty = ensure_table(spark, artifact_sf, "e", lambda: spark.range(0))
    assert scan_min(empty, "id") is None


def test_rebuilt_artifact_serves_new_schema(spark, artifact_sf):
    first = ensure_table(spark, artifact_sf, "t", lambda: spark.range(3))
    assert first.columns == ["id"]
    os.remove(os.path.join(artifact_dir(artifact_sf, "t"), "_SUCCESS"))
    rebuilt = ensure_table(
        spark,
        artifact_sf,
        "t",
        lambda: spark.range(2).select(
            F.col("id").cast("string").alias("name"), F.lit(7).alias("n")
        ),
    )
    assert dict(rebuilt.dtypes) == {"name": "string", "n": "int"}
    assert sorted(tuple(r) for r in rebuilt.collect()) == [("0", 7), ("1", 7)]


def test_partition_added_to_promoted_store_is_read(spark, artifact_sf):
    """A store rewritten in place by dynamic partition overwrite keeps
    its _SUCCESS marker, so the memoized schema is reused — but the file
    listing must be fresh."""

    def rows(day):
        return spark.range(2).select(F.col("id").alias("v"), F.lit(day).alias("day"))

    ensure_table(spark, artifact_sf, "s", lambda: rows("a"), partition_by="day")
    path = artifact_dir(artifact_sf, "s")
    marker = os.stat(os.path.join(path, "_SUCCESS")).st_mtime_ns
    assert ensure_table(spark, artifact_sf, "s", None).count() == 2

    overwrite_partitions(rows("b"), path, "day")
    assert os.stat(os.path.join(path, "_SUCCESS")).st_mtime_ns == marker
    got = ensure_table(spark, artifact_sf, "s", None)
    assert sorted(tuple(r) for r in got.collect()) == [
        (0, "a"), (0, "b"), (1, "a"), (1, "b")
    ]


def test_hll_cell_read_back_runs_no_job_and_sees_new_days(spark, tmp_path):
    store = str(tmp_path / "cells")

    def land(day):
        write_hll_day_cells(
            spark.createDataFrame(
                [("view", day, 3, 5), ("buy", day, 7, 2)], CELL_ROWS_SCHEMA
            ),
            store,
        )

    land(datetime.date(2024, 1, 5))
    df, jobs = run_counting_jobs(spark, lambda: read_hll_day_cells(spark, store))
    assert jobs == 0
    assert df.count() == 2
    land(datetime.date(2024, 1, 6))
    assert {
        str(r.day) for r in read_hll_day_cells(spark, store).collect()
    } == {"2024-01-05", "2024-01-06"}


def _changes(spark, rows):
    return spark.createDataFrame(
        [
            (k, datetime.datetime(2024, 1, 5, h), eid, "view", 1.5)
            for k, h, eid in rows
        ],
        "user_id long, ts timestamp, event_id long, event_type string, "
        "value double",
    )


def test_warm_merge_state_read_runs_no_job(spark, tmp_path):
    state = str(tmp_path / "state")
    merge_cdc_batch(spark, _changes(spark, [(1, 1, 10), (2, 2, 11)]), state)
    read_state(spark, state)
    df, jobs = run_counting_jobs(spark, lambda: read_state(spark, state))
    assert jobs == 0
    assert sorted((r.k, r.n_changes) for r in df.collect()) == [(1, 1), (2, 1)]


def test_merge_state_committed_after_a_read_is_served(spark, tmp_path):
    """The next version is a new directory under a new pointer, so the
    next read resolves it and keys its schema afresh."""
    state = str(tmp_path / "state")
    merge_cdc_batch(spark, _changes(spark, [(1, 1, 10)]), state)
    assert [r.k for r in read_state(spark, state).collect()] == [1]
    merge_cdc_batch(spark, _changes(spark, [(1, 3, 12), (5, 2, 13)]), state)
    assert latest_version(state) == 1
    got = read_state(spark, state)
    assert sorted((r.k, r.cur.vid, r.n_changes) for r in got.collect()) == [
        (1, 12, 2), (5, 13, 1)
    ]
