"""Streaming KMV monitor tests: chunked replays with restarts must keep
the batch k-min sample bit-exact — k-min merging is associative,
commutative, and idempotent, so the final sample per key equals an
independent pure-Python hashlib k-min over the union of the chunks, the
estimate is the batch entries' exact int64 arithmetic, and n_rows_seen
counts folded rows exactly. Runs under both state store providers;
state is a sorted typed long array, never a pickle."""

from __future__ import annotations

import hashlib
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from mapreducer_pi_cs4433_spark.functions import kmv
from mapreducer_pi_cs4433_spark.sources.loaders import load_table
from mapreducer_pi_cs4433_spark.streaming.kmv_distinct import kmv_distinct_stream

from .conftest import SF_SMOKE
from .test_sketch_state import KMV_SHARED, KMV_WITH_ROWS, check_cases

_K = 8  # small enough that the smoke corpus fills the sketch


def _ref_hash(u) -> int:
    """Independent hash build: raw digest bytes — shares no code with
    functions/kmv.py (first 8 hex chars == first 4 digest bytes)."""
    return int.from_bytes(
        hashlib.md5(f"kmv|{u}".encode()).digest()[:4], "big"
    )


def _ref_sample(user_ids, k: int = _K) -> list[int]:
    return sorted({_ref_hash(u) for u in user_ids})[:k]


def _chunks(spark):
    ev = (
        load_table(spark, SF_SMOKE, "events")
        .filter(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .select("event_id", "event_type", "user_id")
    )
    rows = ev.collect()
    return [[r for r in rows if r.event_id % 3 == i] for i in range(3)]


@pytest.mark.parametrize("provider", ["hdfs", "rocksdb"])
def test_stream_kmv_sample_matches_reference_across_restarts(spark, provider):
    """Three chunks, each its own query run against the SAME checkpoint
    (two full restarts with state recovery): the final snapshot per key
    must carry the EXACT k-min sample of a flat build over everything
    ingested — bit-for-bit, through the typed-array state round trip —
    with exact-mode theta, the exact estimate arithmetic, and exact
    n_rows_seen; emissions are monotone in n_rows_seen."""
    from mapreducer_pi_cs4433_spark.session import enable_rocksdb_state

    chunks = _chunks(spark)
    src = tempfile.mkdtemp(prefix="kmvs_src_")
    ckpt = tempfile.mkdtemp(prefix="kmvs_ck_")
    acc: list = []
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    if provider == "rocksdb":
        enable_rocksdb_state(spark)
    try:
        for chunk in chunks:
            spark.createDataFrame(
                [(r.event_type, r.user_id) for r in chunk],
                "event_type string, user_id long",
            ).coalesce(1).write.mode("append").parquet(src)
            stream = spark.readStream.schema(
                "event_type string, user_id long"
            ).option("maxFilesPerTrigger", 1).parquet(src)
            q = (
                kmv_distinct_stream(stream, k=_K)
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
        truth_rows: dict[str, list] = {}
        for chunk in chunks:
            for r in chunk:
                truth_rows.setdefault(r.event_type, []).append(r.user_id)
        final: dict[str, object] = {}
        for row in acc:
            if (
                row.event_type not in final
                or row.n_rows_seen > final[row.event_type].n_rows_seen
            ):
                final[row.event_type] = row
        assert set(final) == set(truth_rows)
        for t, row in final.items():
            ref = _ref_sample(truth_rows[t])
            assert list(row.sample) == ref, t  # sample bit-exact
            assert row.n_rows_seen == len(truth_rows[t]), t
            n_sample = len(ref)
            theta = ref[-1] if n_sample == _K else kmv.SPACE
            assert row.theta == theta, t
            assert row.distinct_est == kmv.estimate(n_sample, theta, _K), t
            # the smoke corpus fills a k=8 sketch: the sample path (not
            # just the exact branch) is exercised
            assert n_sample == _K, t
        for t in truth_rows:
            seen = [r.n_rows_seen for r in acc if r.event_type == t]
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


def test_stream_kmv_drops_null_keys_and_ids(spark):
    """NULL keys must not form a state group (the non-nullable snapshot
    key — the KLL-monitor lesson, applied at birth here); NULL ids must
    not fold. Counts exclude exactly those rows."""
    src = tempfile.mkdtemp(prefix="kmvn_src_")
    ckpt = tempfile.mkdtemp(prefix="kmvn_ck_")
    acc: list = []
    try:
        spark.createDataFrame(
            [("a", 1), ("a", 2), ("b", 3), (None, 4), ("a", None)],
            "event_type string, user_id long",
        ).coalesce(1).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(
            "event_type string, user_id long"
        ).parquet(src)
        q = (
            kmv_distinct_stream(stream, k=_K)
            .writeStream.foreachBatch(lambda df, bid: acc.extend(df.collect()))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        assert acc and all(r.event_type is not None for r in acc)
        got = {r.event_type: (r.n_rows_seen, r.distinct_est) for r in acc}
        # sub-k: the exact branch — estimates ARE the distinct counts
        assert got == {"a": (2, 2), "b": (1, 1)}
    finally:
        for d in (src, ckpt):
            shutil.rmtree(d, ignore_errors=True)


def test_restore_rejects_corrupted_state():
    """kmv_distinct_stream decodes its state row as
    kmv.restore(sample, k, n_rows): unsorted, oversized, out-of-range,
    or count-inconsistent samples raise instead of silently degrading
    every future estimate."""
    check_cases(kmv.restore, KMV_SHARED + KMV_WITH_ROWS)


def test_live_churn_against_persisted_reference_sample(spark):
    """The consumption pattern the monitor exists for: yesterday's
    persisted k-min sample vs the stream's latest snapshot gives a LIVE
    churn estimate (reference users not seen yet today) through
    kmv.difference_estimate. As today's chunks arrive, the estimate
    must (a) equal the same arithmetic applied to pure-Python hashlib
    sketches of the same data at every trigger, and (b) end exactly at
    the true churn when both sides are sub-k (exact-mode theta makes
    sub-k pairs exact)."""
    yesterday = list(range(100, 112))  # 12 reference users
    today_chunks = [[104, 105, 200], [106, 201, 202], [107, 108, 109]]
    ref = _ref_sample(yesterday, k=_K)
    ref_theta = ref[-1] if len(ref) == _K else kmv.SPACE

    src = tempfile.mkdtemp(prefix="kmvc_src_")
    ckpt = tempfile.mkdtemp(prefix="kmvc_ck_")
    acc: list = []
    try:
        for chunk in today_chunks:
            spark.createDataFrame(
                [("a", u) for u in chunk], "event_type string, user_id long"
            ).coalesce(1).write.mode("append").parquet(src)
            stream = spark.readStream.schema(
                "event_type string, user_id long"
            ).option("maxFilesPerTrigger", 1).parquet(src)
            q = (
                kmv_distinct_stream(stream, k=_K)
                .writeStream.foreachBatch(
                    lambda df, bid: acc.extend(df.collect())
                )
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
        assert len(acc) == len(today_chunks)
        seen: set = set()
        for row, chunk in zip(sorted(acc, key=lambda r: r.n_rows_seen),
                              today_chunks):
            seen |= set(chunk)
            churn = kmv.difference_estimate(
                ref, ref_theta, list(row.sample), row.theta, k=_K
            )
            # (a) same arithmetic over independently-built sketches
            stream_ref = _ref_sample(seen, k=_K)
            st_theta = (
                stream_ref[-1] if len(stream_ref) == _K else kmv.SPACE
            )
            want = kmv.difference_estimate(
                ref, ref_theta, stream_ref, st_theta, k=_K
            )
            assert churn == want
        # (b) exact-mode theta: SUB-K pairs give the exact difference —
        # a small reference period vs a small stream prefix, both below
        # k=8, must yield the true churn with no estimation error
        small_ref = [100, 104, 105, 300]          # 4 users yesterday
        small_seen = {104, 105, 200}              # 3 users so far today
        exact = kmv.difference_estimate(
            _ref_sample(small_ref, k=_K), kmv.SPACE,
            _ref_sample(small_seen, k=_K), kmv.SPACE, k=_K,
        )
        assert exact == len(set(small_ref) - small_seen) == 2
        # and the full-scenario truth is pinned so the data stays honest
        assert len(set(yesterday) - seen) == 6
    finally:
        for d in (src, ckpt):
            shutil.rmtree(d, ignore_errors=True)
