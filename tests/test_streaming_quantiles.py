"""Streaming KLL quantile monitor tests: chunked replays must keep the
batch entry's two contracts live across batch boundaries and restarts —
n_seen is the EXACT count of values folded (the weight invariant), and
every snapshot quantile sits inside the deterministic rank band of the
exact quantile over everything ingested so far. Runs under both state
store providers; state is typed arrays, never a pickle."""

from __future__ import annotations

import bisect
import math
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from mapreducer_pi_cs4433_spark.sources.loaders import load_table
from mapreducer_pi_cs4433_spark.streaming.quantiles import kll_quantile_stream

from .conftest import SF_SMOKE

_CAP = 64  # small enough that the smoke corpus compacts across batches


def _rank_band_ok(values: list[float], est: float, q_permille: int) -> bool:
    n = len(values)
    srt = sorted(values)
    h = max(1, math.ceil(math.log2(max(n / _CAP, 2))))
    bound = n * (h + 2) // _CAP + 1
    target = -(-q_permille * n // 1000)
    lo_rank = bisect.bisect_left(srt, est) + 1
    hi_rank = bisect.bisect_right(srt, est)
    return lo_rank - bound <= target <= hi_rank + bound


def _chunks(spark):
    ev = (
        load_table(spark, SF_SMOKE, "events")
        .filter(F.col("value").isNotNull())
        .select("event_id", "event_type", "value")
    )
    rows = ev.collect()
    return [[r for r in rows if r.event_id % 3 == i] for i in range(3)]


@pytest.mark.parametrize("provider", ["hdfs", "rocksdb"])
def test_stream_kll_weight_exact_and_in_band_across_restarts(spark, provider):
    """Three chunks, each its own query run against the SAME checkpoint
    (i.e. two full restarts with state recovery): the final snapshot per
    type must carry n_seen == the exact value count — across restarts,
    through the typed-array state round trip — and p50/p95/p99 inside
    the rank band of the exact quantiles. Emissions are monotone in
    n_seen (each trigger folds new data, never loses old)."""
    from mapreducer_pi_cs4433_spark.session import enable_rocksdb_state

    chunks = _chunks(spark)
    src = tempfile.mkdtemp(prefix="kq_src_")
    ckpt = tempfile.mkdtemp(prefix="kq_ck_")
    acc: list = []
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    if provider == "rocksdb":
        enable_rocksdb_state(spark)
    try:
        for i, chunk in enumerate(chunks):
            spark.createDataFrame(
                [(r.event_type, float(r.value)) for r in chunk],
                "event_type string, value double",
            ).coalesce(1).write.mode("append").parquet(src)
            stream = spark.readStream.schema(
                "event_type string, value double"
            ).option("maxFilesPerTrigger", 1).parquet(src)
            q = (
                kll_quantile_stream(stream, cap=_CAP)
                .writeStream.foreachBatch(
                    lambda df, bid: acc.extend(df.collect())
                )
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
        assert acc, "no snapshots emitted"
        truth: dict[str, list[float]] = {}
        for chunk in chunks:
            for r in chunk:
                truth.setdefault(r.event_type, []).append(float(r.value))
        final: dict[str, object] = {}
        for row in acc:
            if (
                row.event_type not in final
                or row.n_seen > final[row.event_type].n_seen
            ):
                final[row.event_type] = row
        assert set(final) == set(truth)
        for t, row in final.items():
            assert row.n_seen == len(truth[t]), t  # weight EXACT
            for est, qp in ((row.p50, 500), (row.p95, 950), (row.p99, 990)):
                assert _rank_band_ok(truth[t], est, qp), (t, qp, est)
        # snapshots were emitted per trigger and n_seen never decreased
        for t in truth:
            seen = [r.n_seen for r in acc if r.event_type == t]
            assert len(seen) >= 2, t  # mid-stream snapshots existed
            assert seen == sorted(seen), t
    finally:
        if provider == "rocksdb":
            if prev is None:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
            else:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", prev
                )
        for d in (src, ckpt):
            shutil.rmtree(d, ignore_errors=True)
