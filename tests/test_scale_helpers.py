"""Sinks, skew helpers, and sessionization tests."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from mapreducer_pi_cs4433_spark.operators import skew
from mapreducer_pi_cs4433_spark.sources import sinks
from mapreducer_pi_cs4433_spark.sources.loaders import load_table
from mapreducer_pi_cs4433_spark.streaming import sessions

from .conftest import SF_SMOKE


def test_write_partitioned_prunes(spark):
    events = load_table(spark, SF_SMOKE, "events")
    tmp = tempfile.mkdtemp(prefix="part_sink_")
    try:
        sinks.write_partitioned(events, tmp, ["event_type"])
        back = spark.read.parquet(tmp)
        assert back.count() == events.count()
        one = back.filter(F.col("event_type") == "click")
        from mapreducer_pi_cs4433_spark.plans.inspect import formatted_plan

        plan = formatted_plan(one)
        # the filter must land in PartitionFilters (directory pruning),
        # not as a post-scan row filter
        assert "PartitionFilters" in plan and "event_type" in plan.split(
            "PartitionFilters"
        )[1].split("]")[0]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_dynamic_partition_overwrite_replaces_only_touched_partitions(spark):
    """partitionOverwriteMode=dynamic: an overwrite write must replace ONLY
    the partitions present in the incoming frame — static mode (the
    default) clobbers the whole table root, which at 100 TB turns an
    hourly backfill into a table wipe."""
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    tmp = tempfile.mkdtemp(prefix="dyn_part_")
    try:
        events = load_table(spark, SF_SMOKE, "events")
        sinks.write_partitioned(events, tmp, ["event_type"])
        total_before = spark.read.parquet(tmp).count()
        one_type = spark.read.parquet(tmp).filter(
            F.col("event_type") == "click"
        )
        n_click = one_type.count()
        assert 0 < n_click < total_before
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # rewrite ONLY the click partition (halved), others must survive
        one_type.limit(n_click // 2).write.mode("overwrite").partitionBy(
            "event_type"
        ).parquet(tmp)
        after = spark.read.parquet(tmp)
        assert after.filter(F.col("event_type") == "click").count() == n_click // 2
        assert (
            after.filter(F.col("event_type") != "click").count()
            == total_before - n_click
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        shutil.rmtree(tmp, ignore_errors=True)


def test_merge_upsert_snapshot(spark):
    """Latest-version-wins upsert: newer incoming rows replace base rows,
    stale incoming rows lose, new keys insert, and an incoming row at the
    SAME version as base wins the tie (incoming flag is the second struct
    comparison field)."""
    base_df = spark.createDataFrame(
        [(1, "a-v1", 1), (2, "b-v1", 1), (3, "c-v1", 1)],
        ["doc_id", "text", "version"],
    )
    incoming = spark.createDataFrame(
        [
            (2, "b-v2", 2),   # newer: replaces
            (3, "c-stale", 0),  # older: loses
            (4, "d-v1", 1),   # new key: inserts
            (1, "a-v1-inc", 1),  # same version: incoming wins the tie
        ],
        ["doc_id", "text", "version"],
    )
    tmp = tempfile.mkdtemp(prefix="merge_base_")
    try:
        base_df.write.mode("overwrite").parquet(tmp)
        out = sinks.merge_upsert_snapshot(
            spark, tmp, incoming, key="doc_id", version_col="version"
        )
        got = {
            (r.doc_id, r.text, r.version)
            for r in spark.read.parquet(out).collect()
        }
        assert got == {
            (1, "a-v1-inc", 1),
            (2, "b-v2", 2),
            (3, "c-v1", 1),
            (4, "d-v1", 1),
        }
        shutil.rmtree(out, ignore_errors=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_jsonl_roundtrip_exact(spark):
    """documents -> JSONL -> back must be value-identical (schema supplied
    explicitly on re-read — inference is banned at scale), and timestamps
    in the events table survive the second-truncated serialization
    contract."""
    from mapreducer_pi_cs4433_spark.sources.loaders import load_jsonl

    docs = load_table(spark, SF_SMOKE, "documents")
    tmp = tempfile.mkdtemp(prefix="jsonl_")
    try:
        sinks.write_jsonl(docs, tmp)
        back = load_jsonl(spark, tmp, docs.schema)
        assert sorted(map(tuple, back.collect())) == sorted(
            map(tuple, docs.collect())
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_jsonl_malformed_row_policy(spark):
    """DROPMALFORMED drops corrupt records; PERMISSIVE keeps them as
    all-null rows — the reference's two malformed-input policies (SURVEY
    §2.1 S3) on the JSON source."""
    from mapreducer_pi_cs4433_spark.sources.loaders import load_jsonl

    tmp = tempfile.mkdtemp(prefix="jsonl_bad_")
    try:
        with open(f"{tmp}/part-0.json", "w") as f:
            f.write('{"a": 1, "b": "x"}\n')
            f.write("{not json at all\n")
            f.write('{"a": 2, "b": "y"}\n')
        schema = "a BIGINT, b STRING"
        kept = load_jsonl(spark, tmp, schema, mode="DROPMALFORMED").collect()
        assert sorted((r.a, r.b) for r in kept) == [(1, "x"), (2, "y")]
        permissive = load_jsonl(spark, tmp, schema).collect()
        assert len(permissive) == 3
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_orc_roundtrip(spark):
    """ORC is the second columnar interchange format Spark ships natively;
    a lossless roundtrip keeps the engine usable against ORC-resident
    warehouses without conversion jobs."""
    docs = load_table(spark, SF_SMOKE, "documents")
    tmp = tempfile.mkdtemp(prefix="orc_")
    try:
        docs.write.mode("overwrite").orc(tmp)
        back = spark.read.orc(tmp)
        assert sorted(map(tuple, back.collect())) == sorted(
            map(tuple, docs.collect())
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE's skew-join handling must actually fire on a hot key: with one
    key carrying ~100x the median partition bytes, the post-execution
    adaptive plan rewrites the sort-merge join with skew=true (the hot
    partition is split and the matching side replicated). This is the
    engine's first line of defense before manual salting (operators/skew)."""
    confs = {
        # thresholds sized to COMPRESSED shuffle bytes (what skew detection
        # measures); the pad is md5 hex — incompressible, or the hot
        # partition shrinks below any sane threshold and the rewrite
        # correctly declines. forceOptimizeSkewedJoin because the global
        # aggregate downstream would otherwise veto the extra shuffle.
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = (
            spark.range(0, 200_000)
            .select(
                F.when(F.col("id") % 10 < 9, F.lit(0))
                .otherwise(F.col("id") % 1000)
                .alias("k"),
                F.md5(F.col("id").cast("string")).alias("pad"),
            )
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), F.col("id").alias("rv")
        )
        j = left.join(right, "k").groupBy().agg(F.count("*").alias("n"))
        [row] = j.collect()
        assert row.n == 200_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """Spark's runtime row-level bloom filter: a selective dimension-side
    predicate materializes as a might_contain() pre-filter on the FACT scan,
    discarding non-joining rows before the shuffle — at 100 TB this is the
    difference between shuffling the whole fact table and shuffling the
    ~matching fraction. On (default-on) since Spark 3.5, but gated by an
    applicationSideScanSizeThreshold of 10 GB, so at bench scale it must be
    lowered to observe the plan; production corpora clear it naturally."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF_SMOKE, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        )
        orders = (
            load_table(spark, SF_SMOKE, "orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        j = (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy()
            .agg(F.sum("l_extendedprice").alias("s"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_bucketed_join_has_no_exchange(spark):
    """The whole point of bucketing: equi-join on the bucket column reads
    co-located buckets with zero shuffle exchanges."""
    from mapreducer_pi_cs4433_spark.plans.inspect import count_exchanges

    orders = load_table(spark, SF_SMOKE, "orders")
    customer = load_table(spark, SF_SMOKE, "customer")
    # warehouse dir is a static conf; tables land in ./spark-warehouse and
    # are dropped (with their files) in the finally block
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        sinks.write_bucketed_table(orders, "b_orders", "o_custkey", 8)
        sinks.write_bucketed_table(
            customer.withColumnRenamed("c_custkey", "o_custkey"), "b_cust", "o_custkey", 8
        )
        j = spark.table("b_orders").join(spark.table("b_cust"), "o_custkey")
        assert count_exchanges(j) == 0
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_cust")
        shutil.rmtree("spark-warehouse", ignore_errors=True)


def test_salted_join_matches_plain_join(spark):
    orders = load_table(spark, SF_SMOKE, "orders").select("o_custkey", "o_orderkey")
    customer = load_table(spark, SF_SMOKE, "customer").select("c_custkey", "c_name")
    plain = orders.join(
        customer, orders["o_custkey"] == customer["c_custkey"]
    ).select("o_orderkey", "c_name")
    salted = skew.salted_join(
        orders.withColumnRenamed("o_custkey", "k"),
        customer.withColumnRenamed("c_custkey", "k"),
        "k",
        salt_buckets=8,
    ).select("o_orderkey", "c_name")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_rejects_outer_modes(spark):
    """Replicating the small side across salts duplicates unmatched rows
    under right/full outer joins — those modes must be refused."""
    df = spark.range(5).withColumnRenamed("id", "k")
    for how in ("right", "full", "full_outer"):
        with pytest.raises(ValueError, match="inner/left"):
            skew.salted_join(df, df, "k", how=how)


def test_compact_small_files_public_api(spark):
    """Compaction must hit the target partition count and conserve rows,
    using only public DataFrame APIs (no sc._jvm)."""
    src = tempfile.mkdtemp(prefix="compact_")
    try:
        spark.range(1000).repartition(20).write.mode("overwrite").parquet(src)
        out = sinks.compact_small_files(spark, src, target_partitions=2)
        back = spark.read.parquet(out)
        assert back.count() == 1000
        import glob

        assert len(glob.glob(out + "/part-*")) == 2
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(src + "__compacted", ignore_errors=True)


def test_skewed_count_matches_plain_count(spark):
    orders = load_table(spark, SF_SMOKE, "orders")
    plain = {
        r.o_custkey: r.cnt
        for r in orders.groupBy("o_custkey").agg(F.count("*").alias("cnt")).collect()
    }
    two_phase = {
        r.o_custkey: r.cnt for r in skew.skewed_count_per_key(orders, "o_custkey").collect()
    }
    assert plain == two_phase


def test_top_frequent_keys(spark):
    events = load_table(spark, SF_SMOKE, "events")
    hot = skew.top_frequent_keys(events, "user_id", min_share=0.01)
    rows = hot.collect()
    assert rows  # 15 users over 1000 events -> all exceed 1%
    total = events.count()
    for r in rows:
        assert r.cnt / total >= 0.01
        assert abs(r.share - r.cnt / total) < 1e-12


def test_sessionize_builtin_batch(spark):
    events = load_table(spark, SF_SMOKE, "events")
    s = sessions.sessionize(events, gap="30 minutes")
    rows = s.collect()
    assert rows
    # invariants: start <= end, n_events >= 1, per-user sessions don't overlap
    per_user: dict[int, list] = {}
    for r in rows:
        assert r.session_start <= r.session_end and r.n_events >= 1
        per_user.setdefault(r.user_id, []).append((r.session_start, r.session_end))
    for spans in per_user.values():
        spans.sort()
        for (s1, e1), (s2, _e2) in zip(spans, spans[1:]):
            assert e1 <= s2
    # total events conserved
    assert sum(r.n_events for r in rows) == events.count()


@pytest.mark.parametrize("provider", ["hdfs", "rocksdb"])
def test_sessionize_stateful_matches_builtin(spark, provider):
    """After the bounded replay drains AND the flush timeout fires, the
    custom stateful operator must have emitted exactly the built-in
    session_window sessions. session_window end = last_event + gap,
    stateful end = last_event, so compare on (user, start, n_events).
    A short flush timeout is essential: armed processing-time timers keep
    an availableNow query alive through empty micro-batches otherwise.
    Runs under both state store providers: the on-heap default and RocksDB
    (the 100 TB keyspace path, session.enable_rocksdb_state)."""
    from mapreducer_pi_cs4433_spark.session import enable_rocksdb_state

    events = load_table(spark, SF_SMOKE, "events")
    src = tempfile.mkdtemp(prefix="sess_src_")
    ckpt = tempfile.mkdtemp(prefix="sess_ck_")
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    if provider == "rocksdb":
        enable_rocksdb_state(spark)
    try:
        events.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(events.schema).parquet(src)
        out = sessions.sessionize_stateful(
            stream, gap_seconds=1800, flush_timeout_seconds=2
        )
        q = (
            out.writeStream.format("memory")
            .queryName("sess_test")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        # availableNow never self-terminates with processing-time timers in
        # the plan (engine limitation, see sessionize_stateful docstring):
        # run until the state store is drained, then stop.
        import time as _t

        deadline = _t.time() + 120
        while _t.time() < deadline:
            p = q.lastProgress
            if p and p["batchId"] >= 1:
                ops = p.get("stateOperators") or []
                if ops and ops[0].get("numRowsTotal") == 0:
                    break
            _t.sleep(1)
        q.stop()
        q.awaitTermination(30)
        got = {
            (r.user_id, r.session_start, r.n_events)
            for r in spark.sql("select * from sess_test").collect()
        }
        want = {
            (r.user_id, r.session_start, r.n_events)
            for r in sessions.sessionize(events, gap="30 minutes").collect()
        }
        assert got == want
        assert got
    finally:
        if provider == "rocksdb":
            if prev is None:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
            else:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", prev
                )
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_export_shards_layout_and_determinism(spark):
    """export_shards must produce one directory per shard, preserve every
    row exactly once, sort rows by id within each file, and agree with the
    export_shard_manifest query's shard assignment."""
    import glob
    import os

    docs = load_table(spark, SF_SMOKE, "documents")
    tmp = tempfile.mkdtemp(prefix="shard_export_")
    try:
        sinks.export_shards(docs, tmp, id_col="doc_id", n_shards=16)
        dirs = sorted(
            os.path.basename(d) for d in glob.glob(os.path.join(tmp, "shard=*"))
        )
        assert dirs == [f"shard={i}" for i in range(16)] or len(dirs) <= 16
        back = spark.read.parquet(tmp)
        assert back.count() == docs.count()
        assert sorted(r.doc_id for r in back.select("doc_id").collect()) == sorted(
            r.doc_id for r in docs.select("doc_id").collect()
        )
        # shard assignment matches the manifest query's arithmetic
        manifest = {
            r.shard: r.n_docs
            for r in back.groupBy("shard").agg(F.count("*").alias("n_docs")).collect()
        }
        from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES

        expected = {
            r.shard: r.n_docs
            for r in QUERIES["export_shard_manifest"](spark, SF_SMOKE).collect()
        }
        assert manifest == expected
        # within-file order: every parquet file individually sorted by doc_id
        for f in glob.glob(os.path.join(tmp, "shard=*", "*.parquet")):
            ids = [r.doc_id for r in spark.read.parquet(f).select("doc_id").collect()]
            assert ids == sorted(ids)
        # determinism: a second export yields the identical assignment
        tmp2 = tempfile.mkdtemp(prefix="shard_export2_")
        try:
            sinks.export_shards(docs, tmp2, id_col="doc_id", n_shards=16)
            again = {
                r.shard: r.n_docs
                for r in spark.read.parquet(tmp2)
                .groupBy("shard")
                .agg(F.count("*").alias("n_docs"))
                .collect()
            }
            assert again == manifest
        finally:
            shutil.rmtree(tmp2, ignore_errors=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_dynamic_partition_pruning_on_partitioned_fact(spark):
    """Joining a partition-laid-out fact against a filtered dimension must
    inject a dynamic-pruning subquery into the fact scan (PartitionFilters
    with dynamicpruning), so at 100 TB the scan reads only the partitions
    the dimension filter survives — the runtime twin of static partition
    pruning."""
    import os

    events = load_table(spark, SF_SMOKE, "events")
    tmp = tempfile.mkdtemp(prefix="dpp_fact_")
    try:
        sinks.write_partitioned(events, tmp, ["event_type"])
        fact = spark.read.parquet(tmp)
        dim = spark.createDataFrame(
            [("click", 1.0), ("view", 0.5), ("purchase", 3.0), ("error", 0.0)],
            "event_type string, weight double",
        ).filter(F.col("weight") >= 3.0)
        joined = fact.join(dim, "event_type").groupBy("event_type").count()
        from mapreducer_pi_cs4433_spark.plans.inspect import formatted_plan

        plan = formatted_plan(joined)
        assert "dynamicpruning" in plan.lower()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_artifact_tables_build_once(spark, tmp_path, monkeypatch):
    """ensure_table builds on first call (no _SUCCESS) and afterwards only
    reads — a rebuild would re-scan the corpus per query, the exact
    lifecycle bug the artifact layer exists to prevent."""
    import os

    from mapreducer_pi_cs4433_spark.functions.artifacts import (
        artifact_dir,
        ensure_table,
    )

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(5).withColumnRenamed("id", "x")

    for _ in range(3):
        out = ensure_table(spark, "/some/corpus", "probe_k1", build)
        assert out.count() == 5
    assert calls["n"] == 1
    path = artifact_dir("/some/corpus", "probe_k1")
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    # distinct params -> distinct artifact
    ensure_table(spark, "/some/corpus", "probe_k2", build)
    assert calls["n"] == 2


def test_artifact_key_changes_when_source_rewritten(spark, tmp_path, monkeypatch):
    """A corpus rewritten in place must map to a NEW artifact key (rebuild),
    never serve derived values of the old data."""
    import os
    import time

    from mapreducer_pi_cs4433_spark.functions.artifacts import artifact_dir

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    f = corpus / "documents.parquet"
    f.write_bytes(b"v1-bytes")
    k1 = artifact_dir(str(corpus), "minhash_k12_p64")
    # rewrite with different content/size -> different key
    f.write_bytes(b"v2-bytes-longer")
    k2 = artifact_dir(str(corpus), "minhash_k12_p64")
    assert k1 != k2
    # identical listing -> stable key
    assert artifact_dir(str(corpus), "minhash_k12_p64") == k2


def test_orc_roundtrip_schema_and_pushdown(spark):
    """ORC round-trip must preserve schema + values exactly, and filters
    must reach the ORC scan (searchArgument pushdown) like parquet."""
    import os

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "text"
    )
    tmp = tempfile.mkdtemp(prefix="orc_rt_")
    try:
        sinks.write_orc(docs, os.path.join(tmp, "docs"))
        back = spark.read.orc(os.path.join(tmp, "docs"))
        assert back.schema == docs.schema
        assert sorted(r.doc_id for r in back.collect()) == sorted(
            r.doc_id for r in docs.collect()
        )
        plan = back.filter(F.col("doc_id") == 7)._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan and "doc_id" in plan
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_write_partitioned_rejects_high_cardinality(spark):
    """The cardinality guard (ROADMAP r10 candidate #5): partitioning on
    a near-unique column must be REFUSED before any file is written —
    the small-file explosion is silent at test scale and catastrophic at
    100 TB — while a low-cardinality layout passes untouched, an
    explicit higher cap overrides, and max_partitions=None skips the
    probe entirely."""
    import os

    import pytest as _pytest

    events = load_table(spark, SF_SMOKE, "events").limit(500)
    tmp = tempfile.mkdtemp(prefix="part_guard_")
    try:
        target = os.path.join(tmp, "bad")
        with _pytest.raises(ValueError, match="small-file explosion"):
            sinks.write_partitioned(
                events, target, ["event_id"], max_partitions=100
            )
        assert not os.path.exists(target)  # refused BEFORE writing
        # low cardinality passes under the same cap
        good = os.path.join(tmp, "good")
        sinks.write_partitioned(
            events, good, ["event_type"], max_partitions=100
        )
        assert spark.read.parquet(good).count() == 500
        # explicit opt-outs: higher cap, or no probe at all
        sinks.write_partitioned(
            events, os.path.join(tmp, "cap"), ["event_id"], max_partitions=1000
        )
        sinks.write_partitioned(
            events, os.path.join(tmp, "none"), ["event_id"], max_partitions=None
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
