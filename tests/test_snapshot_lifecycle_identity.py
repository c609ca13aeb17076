"""Entry-level lifecycle identity (r11 verdict ask #2): the REGISTERED
snapshot consumers run UNCHANGED against a STREAM-built snapshot store
and still hash-match their DuckDB oracles.

The r11 suite proved the halves COMPATIBLE (the merge program over a
stream-built store equals the flat build); these tests prove them
INTERCHANGEABLE: the stream writers (streaming/snapshots.py) populate
the exact `ensure_table` location the batch artifact builders
(_hll_year_regs / _kmv_year_samples) own, and the registered entries
(orders_hll_union_from_snapshots / orders_hll_cumulative_from_snapshots
/ orders_kmv_diff_from_snapshots) — whose oracles rebuild every sketch
FLAT from raw orders in SQL — are run against that store with zero code
changes. Oracle-hash equality then certifies the full lifecycle:
stream-ingested snapshots answer production queries value-for-value as
if batch-built.

Mechanics: `SPARK_GRAFT_INDEX_DIR` is pointed at a temp root, the
writer streams the real sf0.001 orders (plus one far-future flush row
that closes every data year and is itself never emitted — its own year
stays open), and a `_SUCCESS` marker is added (dynamic partition
overwrite skips the marker; `ensure_table` treats it as build-complete,
so the marker is the explicit promotion step from "stream store" to
"served artifact"). The store is hive-partitioned by y where the batch
build is flat — reading through partition discovery with identical
column names/types is part of what is being proven.
"""

from __future__ import annotations

import datetime
import os
import shutil
import tempfile

import pytest

from mapreducer_pi_cs4433_spark.queries.catalog import ORACLE, QUERIES

from .conftest import SF_SMOKE
from .oracle import compare, duck_connection

_FLUSH = [(999_999, datetime.datetime(2005, 6, 1))]


def _stream_build_store(spark, make_stream, sink, dest: str) -> None:
    """Stream the sf0.001 orders (file 1) then a flush row (file 2)
    through a snapshot writer into ``dest``, maxFilesPerTrigger=1 so
    closure timers fire on a later batch's watermark advance — the
    production shape, not a single-batch shortcut."""
    src = tempfile.mkdtemp(prefix="lify_src_")
    ckpt = tempfile.mkdtemp(prefix="lify_ck_")
    try:
        (
            spark.read.parquet(os.path.join(SF_SMOKE, "orders.parquet"))
            .select("o_custkey", "o_orderdate")
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        spark.createDataFrame(
            _FLUSH, "o_custkey long, o_orderdate timestamp"
        ).coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("o_custkey long, o_orderdate timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            make_stream(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        # promotion: dynamic partition overwrite writes no _SUCCESS;
        # adding it is the explicit "serve this store" step ensure_table
        # keys on (a half-built store is never promoted by accident)
        open(os.path.join(dest, "_SUCCESS"), "w").close()
    finally:
        for d in (src, ckpt):
            shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def index_root(monkeypatch):
    root = tempfile.mkdtemp(prefix="lify_idx_")
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", root)
    yield root
    shutil.rmtree(root, ignore_errors=True)


def _data_years(store: str) -> set[int]:
    return {
        int(e.split("=", 1)[1])
        for e in os.listdir(store)
        if e.startswith("y=")
    }


def test_hll_consumers_run_unchanged_on_stream_built_store(
    spark, index_root
):
    from mapreducer_pi_cs4433_spark.functions.artifacts import artifact_dir
    from mapreducer_pi_cs4433_spark.streaming.snapshots import (
        hll_year_snapshot_stream,
        write_year_snapshots,
    )

    dest = artifact_dir(SF_SMOKE, "hll_year_regs")
    _stream_build_store(
        spark,
        lambda s: hll_year_snapshot_stream(s, watermark="30 days", shards=4),
        lambda df, bid: write_year_snapshots(df, dest),
        dest,
    )
    # every DATA year closed (the oracle derives years from raw orders,
    # so a missing year would hash-mismatch, not silently pass); the
    # flush year was never emitted
    assert _data_years(dest) == set(range(1995, 2002))

    con = duck_connection(SF_SMOKE)
    try:
        for name in (
            "orders_hll_union_from_snapshots",
            "orders_hll_cumulative_from_snapshots",
        ):
            compare(QUERIES[name](spark, SF_SMOKE), con, ORACLE[name])
    finally:
        con.close()


def test_hll_day_cell_consumers_run_unchanged_then_compact(
    spark, index_root
):
    """Day-family lifecycle identity (the year-family proof, at cell
    grain): stream the REAL sf0.001 events through the HLL day-cell
    writer into the _hll_day_cells `ensure_table` location, then

    1. run the REGISTERED day-cell consumers (events_distinct_hll_
       rollup AND events_distinct_hll_sliding) unchanged and assert
       oracle-hash equality — stream-built day cells serve production
       queries value-for-value;
    2. MONTH-COMPACT the same store (the maintenance leg, run against
       a live artifact location) and assert the rollup's registers,
       harmonic sums, exact counts, and band bit are ALL unchanged —
       only n_cells moves, to the month count, which is precisely the
       grain compaction trades away (day-grain consumers like the
       sliding entry are what `before` exists to protect)."""
    import datetime

    from pyspark.sql import functions as F

    from mapreducer_pi_cs4433_spark.functions.artifacts import artifact_dir
    from mapreducer_pi_cs4433_spark.operators.sketch_compaction import (
        compact_hll_day_cells,
    )
    from mapreducer_pi_cs4433_spark.sources.loaders import load_table
    from mapreducer_pi_cs4433_spark.streaming.hll_cells import (
        hll_day_cell_stream,
        write_hll_day_cells,
    )

    dest = artifact_dir(SF_SMOKE, "hll_day_cells")
    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_type", "user_id", "ts"
    )
    max_day = ev.agg(F.max(F.to_date("ts"))).collect()[0][0]
    flush_ts = datetime.datetime.combine(
        max_day + datetime.timedelta(days=40), datetime.time(12)
    )
    src = tempfile.mkdtemp(prefix="lify_ev_src_")
    ckpt = tempfile.mkdtemp(prefix="lify_ev_ck_")
    try:
        ev.coalesce(1).write.mode("append").parquet(src)
        spark.createDataFrame(
            [("__flush__", 999_999, flush_ts)],
            "event_type string, user_id long, ts timestamp",
        ).coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(
                "event_type string, user_id long, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            hll_day_cell_stream(stream, watermark="2 days")
            .writeStream.foreachBatch(
                lambda df, bid: write_hll_day_cells(df, dest)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        open(os.path.join(dest, "_SUCCESS"), "w").close()

        # every data day closed; the flush cell stays open (absent)
        n_data_days = ev.select(F.to_date("ts")).distinct().count()
        assert len(
            [e for e in os.listdir(dest) if e.startswith("day=")]
        ) == n_data_days

        con = duck_connection(SF_SMOKE)
        try:
            for name in (
                "events_distinct_hll_rollup",
                "events_distinct_hll_sliding",
            ):
                compare(QUERIES[name](spark, SF_SMOKE), con, ORACLE[name])
        finally:
            con.close()

        # ---- the maintenance leg on the live artifact location
        pre = {
            (r.event_type, r.reg_idx): r
            for r in QUERIES["events_distinct_hll_rollup"](
                spark, SF_SMOKE
            ).collect()
        }
        absorbed = compact_hll_day_cells(
            spark, dest, max_day + datetime.timedelta(days=1)
        )
        assert absorbed == n_data_days
        post = {
            (r.event_type, r.reg_idx): r
            for r in QUERIES["events_distinct_hll_rollup"](
                spark, SF_SMOKE
            ).collect()
        }
        assert pre.keys() == post.keys()
        months = {
            (r.event_type, r.m)
            for r in spark.read.parquet(dest)
            .select("event_type", F.trunc("day", "month").alias("m"))
            .distinct()
            .collect()
        }
        n_months = {}
        for t, _ in months:
            n_months[t] = n_months.get(t, 0) + 1
        for k, a in pre.items():
            b = post[k]
            for col in (
                "reg_val",
                "v_zero",
                "sum_inv_scaled",
                "exact_distinct",
                "hll_in_band",
            ):
                assert getattr(a, col) == getattr(b, col), (k, col)
            assert b.n_cells == n_months[k[0]]  # the traded grain
    finally:
        for d in (src, ckpt):
            shutil.rmtree(d, ignore_errors=True)


def test_kmv_consumer_runs_unchanged_on_stream_built_store(
    spark, index_root
):
    from mapreducer_pi_cs4433_spark.functions.artifacts import artifact_dir
    from mapreducer_pi_cs4433_spark.streaming.snapshots import (
        kmv_year_snapshot_stream,
        write_kmv_year_samples,
    )

    dest = artifact_dir(SF_SMOKE, "kmv_year_samples")
    _stream_build_store(
        spark,
        lambda s: kmv_year_snapshot_stream(s, watermark="30 days", shards=4),
        lambda df, bid: write_kmv_year_samples(df, dest),
        dest,
    )
    assert _data_years(dest) == set(range(1995, 2002))

    con = duck_connection(SF_SMOKE)
    try:
        for name in (
            "orders_kmv_diff_from_snapshots",
            "orders_kmv_cumulative_from_snapshots",
        ):
            compare(QUERIES[name](spark, SF_SMOKE), con, ORACLE[name])
    finally:
        con.close()
