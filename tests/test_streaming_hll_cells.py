"""Streaming HLL day-cell ingest tests (streaming/hll_cells.py): the
fourth writer in the snapshot family — closed (event_type, day) register
cells land in the day-grain store the batch HLL family reads and
operators/sketch_compaction.py maintains.

Contracts, replayed chunked with a full restart at every boundary:

1. Closure-exactness: a closed cell's registers are BIT-IDENTICAL to an
   independent hashlib flat build over every chunk's rows for that cell
   (register max at cell grain — order/chunking/restart invariant).
   The stream's one stateful operator is Spark's own aggregate
   (``stateStoreSave``), never a Python state operator.
2. Closure-only writes: open days hold no partition; cross-day and
   cross-type keys do not leak between cells. A day closes exactly when
   the watermark reaches its end, the batch twin's rule.
3. Late rows: a row older than the watermark still folds into a day
   that is open; a row for a closed day is dropped and the cell is left
   as it was.
4. Full-lifecycle composition: MONTH COMPACTION over the stream-built
   store (compact_hll_day_cells, run unchanged via the reader twin's
   layout) keeps the per-type register rollup bit-identical — the
   stream -> maintain -> consume round trip in one assertion.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import shutil
import tempfile

import pytest

from mapreducer_pi_cs4433_spark.functions import hll
from mapreducer_pi_cs4433_spark.streaming.hll_cells import (
    hll_day_cell_stream,
    read_hll_day_cells,
    write_hll_day_cells,
)


def _ref_registers(keys) -> dict[int, int]:
    regs: dict[int, int] = {}
    for k in set(keys):
        dig = hashlib.md5(str(k).encode()).digest()
        w = int.from_bytes(dig[1:6], "big")
        rho = hll.RHO_MAX - w.bit_length() if w else hll.RHO_MAX
        if rho > regs.get(dig[0], 0):
            regs[dig[0]] = rho
    return regs


def _ts(y, m, d, h=12):
    return datetime.datetime(y, m, d, h, 0)


def _run_chunks(spark, chunks, src, ckpt, store):
    """Land each chunk and run one availableNow query over it (a full
    restart at every boundary); returns every query's progress."""
    progress = []
    for chunk in chunks:
        spark.createDataFrame(
            chunk, "event_type string, user_id long, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(
            "event_type string, user_id long, ts timestamp"
        ).option("maxFilesPerTrigger", 1).parquet(src)
        q = (
            hll_day_cell_stream(stream, watermark="2 days")
            .writeStream.foreachBatch(
                lambda df, bid: write_hll_day_cells(df, store)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        progress.extend(q.recentProgress)
    return progress


def _state_ops(progress):
    return [op for p in progress for op in p["stateOperators"]]


def _read_cells(spark, store):
    got = {}
    for r in read_hll_day_cells(spark, store).collect():
        got.setdefault((r.event_type, r.day), {})[r.idx] = r.reg_val
    return got


def _store_days(store: str) -> set[str]:
    if not os.path.isdir(store):
        return set()
    return {
        e.split("=", 1)[1]
        for e in os.listdir(store)
        if e.startswith("day=")
    }


@pytest.mark.parametrize("provider", ["hdfs", "rocksdb"])
def test_hll_day_cells_close_bit_exactly(spark, provider):
    from mapreducer_pi_cs4433_spark.session import enable_rocksdb_state

    # (type, day) -> user keys; day-1 type-a keys SPLIT across a restart
    # (registers must fold through recovery); user 7 appears in several
    # cells (cross-cell keys must not leak); the flush row closes
    # everything >= 2 days older than it.
    cells = {
        ("a", datetime.date(2024, 1, 5)): [1, 2, 3, 7],
        ("b", datetime.date(2024, 1, 5)): [7, 10],
        ("a", datetime.date(2024, 1, 20)): [4, 5, 7],
        ("a", datetime.date(2024, 2, 3)): [6],
    }
    chunks = [
        [("a", k, _ts(2024, 1, 5)) for k in [1, 2]]
        + [("b", k, _ts(2024, 1, 5, 9)) for k in [7, 10]],
        [("a", k, _ts(2024, 1, 5, 18)) for k in [3, 7]]
        + [("a", k, _ts(2024, 1, 20)) for k in [4, 5, 7]],
        [("a", 6, _ts(2024, 2, 3))],
        [("z", 999, _ts(2024, 3, 5))],  # flush; its own cell stays open
    ]
    src = tempfile.mkdtemp(prefix="hcell_src_")
    ckpt = tempfile.mkdtemp(prefix="hcell_ck_")
    store = tempfile.mkdtemp(prefix="hcell_store_") + "/hll_day_cells"
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    if provider == "rocksdb":
        enable_rocksdb_state(spark)
    try:
        # first chunk alone: nothing closed (watermark inside day 1)
        progress = _run_chunks(spark, chunks[:1], src, ckpt, store)
        assert _store_days(store) == set()

        progress += _run_chunks(spark, chunks[1:], src, ckpt, store)
        assert _store_days(store) == {"2024-01-05", "2024-01-20", "2024-02-03"}

        # the JVM aggregate, not a Python state operator
        ops = {op["operatorName"] for op in _state_ops(progress)}
        assert ops == {"stateStoreSave"}

        got = _read_cells(spark, store)
        want = {
            (t, d): _ref_registers(ks) for (t, d), ks in cells.items()
        }
        assert got == want  # bit-identical to the independent flat build
    finally:
        if provider == "rocksdb":
            if prev is None:
                spark.conf.unset(
                    "spark.sql.streaming.stateStore.providerClass"
                )
            else:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", prev
                )
        for d in (src, ckpt, os.path.dirname(store)):
            shutil.rmtree(d, ignore_errors=True)


def test_day_closes_when_watermark_lands_on_its_end(spark):
    """The watermark is max ts - 2 days, so a flush one microsecond
    before 2024-01-08 leaves day 2024-01-05 open, and a flush at
    2024-01-08 00:00:00 closes it: the batch twin's rule, day <
    (max_ts - 2 days).date()."""
    keys = [1, 2, 3, 7]
    chunks = [
        [("a", k, _ts(2024, 1, 5)) for k in keys],
        [("z", 999, datetime.datetime(2024, 1, 7, 23, 59, 59, 999999))],
        [("z", 998, datetime.datetime(2024, 1, 8, 0, 0, 0))],
    ]
    src = tempfile.mkdtemp(prefix="hbound_src_")
    ckpt = tempfile.mkdtemp(prefix="hbound_ck_")
    store = tempfile.mkdtemp(prefix="hbound_store_") + "/hll_day_cells"
    try:
        _run_chunks(spark, chunks[:2], src, ckpt, store)
        assert _store_days(store) == set()
        _run_chunks(spark, chunks[2:], src, ckpt, store)
        assert _store_days(store) == {"2024-01-05"}
        assert _read_cells(spark, store) == {
            ("a", datetime.date(2024, 1, 5)): _ref_registers(keys)
        }
    finally:
        for d in (src, ckpt, os.path.dirname(store)):
            shutil.rmtree(d, ignore_errors=True)


def test_late_row_folds_into_open_day_and_drops_for_closed_day(spark):
    """A row older than the watermark whose day is still open is folded
    into that day's cell; once the day has closed, a row for it is
    dropped by the watermark and the stored cell stays as it was."""
    day = datetime.date(2024, 1, 5)
    keys = [1, 2, 3]
    late_key = next(
        k for k in range(1000, 2000)
        if _ref_registers(keys + [k]) != _ref_registers(keys)
    )
    closed_key = next(
        k for k in range(2000, 3000)
        if _ref_registers(keys + [late_key, k])
        != _ref_registers(keys + [late_key])
    )
    chunks = [
        # watermark -> 2024-01-05 18:00, inside the open day
        [("a", k, _ts(2024, 1, 5)) for k in keys]
        + [("z", 999, _ts(2024, 1, 7, 18))],
        # late (13:00 < 18:00) but its day is open
        [("a", late_key, _ts(2024, 1, 5, 13))],
        # watermark -> 2024-01-08 12:00: day 2024-01-05 closes
        [("z", 998, _ts(2024, 1, 10))],
        # a row for the closed day
        [("a", closed_key, _ts(2024, 1, 5, 14))],
    ]
    src = tempfile.mkdtemp(prefix="hlate_src_")
    ckpt = tempfile.mkdtemp(prefix="hlate_ck_")
    store = tempfile.mkdtemp(prefix="hlate_store_") + "/hll_day_cells"
    try:
        progress = _run_chunks(spark, chunks[:3], src, ckpt, store)
        assert sum(
            op["numRowsDroppedByWatermark"] for op in _state_ops(progress)
        ) == 0
        want = _ref_registers(keys + [late_key])
        assert _read_cells(spark, store)[("a", day)] == want

        progress = _run_chunks(spark, chunks[3:], src, ckpt, store)
        assert sum(
            op["numRowsDroppedByWatermark"] for op in _state_ops(progress)
        ) == 1
        assert _read_cells(spark, store)[("a", day)] == want
    finally:
        for d in (src, ckpt, os.path.dirname(store)):
            shutil.rmtree(d, ignore_errors=True)


def test_stream_built_store_compacts_and_rolls_up_identically(spark):
    """stream -> maintain -> consume: month-compact the STREAM-built
    day store and assert the per-type register rollup is bit-identical
    to the independent flat build over all keys — the full lifecycle in
    one pass (single provider; the provider axis is covered above)."""
    from pyspark.sql import functions as F

    from mapreducer_pi_cs4433_spark.operators.sketch_compaction import (
        compact_hll_day_cells,
    )

    type_keys = {
        "a": [1, 2, 3, 7, 4, 5, 6],
        "b": [7, 10],
    }
    chunks = [
        [("a", k, _ts(2024, 1, 5)) for k in [1, 2, 3, 7]]
        + [("b", k, _ts(2024, 1, 5, 9)) for k in [7, 10]],
        [("a", k, _ts(2024, 1, 20)) for k in [4, 5]]
        + [("a", 6, _ts(2024, 2, 3))],
        [("z", 999, _ts(2024, 3, 5))],
    ]
    src = tempfile.mkdtemp(prefix="hcomp_src_")
    ckpt = tempfile.mkdtemp(prefix="hcomp_ck_")
    store = tempfile.mkdtemp(prefix="hcomp_store_") + "/hll_day_cells"
    try:
        _run_chunks(spark, chunks, src, ckpt, store)
        assert len(_store_days(store)) == 3

        absorbed = compact_hll_day_cells(
            spark, store, datetime.date(2024, 3, 1)
        )
        assert absorbed == 3
        assert _store_days(store) == {"2024-01-01", "2024-02-01"}

        got = {
            (r.event_type, r.idx): r.reg_val
            for r in read_hll_day_cells(spark, store)
            .groupBy("event_type", "idx")
            .agg(F.max("reg_val").alias("reg_val"))
            .collect()
        }
        want = {
            (t, idx): reg
            for t, ks in type_keys.items()
            for idx, reg in _ref_registers(ks).items()
        }
        assert got == want
    finally:
        for d in (src, ckpt, os.path.dirname(store)):
            shutil.rmtree(d, ignore_errors=True)
