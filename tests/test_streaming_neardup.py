"""Streaming near-dup ingest tests: a chunked replay of the corpus must
emit EXACTLY the batch operator's verified pair set (dedup_minhash_lsh —
same banding, same prefilter, same exact-Jaccard math), under both state
store providers; crash-replay of a batch is idempotent; the watermark
digest layer suppresses byte-identical re-arrivals before the MinHash
path."""

from __future__ import annotations

import datetime
import shutil
import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES
from mapreducer_pi_cs4433_spark.sources.loaders import load_table
from mapreducer_pi_cs4433_spark.streaming import partstore
from mapreducer_pi_cs4433_spark.streaming.neardup import (
    match_and_register_batch,
    neardup_ingest_stream,
    read_emitted_pairs,
)

from .conftest import SF_SMOKE

_BASE_TS = datetime.datetime(2024, 1, 1, 0, 0, 0)


def _doc_chunks(spark, extra_rows=()):
    """The smoke corpus interleaved into 3 ingest chunks (doc_id % 3, so
    near-dup pairs span chunk boundaries), each stamped with its own
    ingest hour."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    rows = sorted(docs.collect(), key=lambda r: r.doc_id)
    chunks = [[r for r in rows if r.doc_id % 3 == i] for i in range(3)]
    for i, extra in enumerate(extra_rows):
        chunks[i % 3].extend(extra)
    return chunks


def _write_chunk(spark, src, chunk, hour):
    ts = _BASE_TS + datetime.timedelta(hours=hour)
    spark.createDataFrame(
        [Row(doc_id=r.doc_id, text=r.text) for r in chunk]
    ).withColumn("ts", F.lit(ts).cast("timestamp")).coalesce(1).write.mode(
        "append"
    ).parquet(src)


def _batch_pairs(spark):
    return {
        (r.id_a, r.id_b, r.jaccard)
        for r in QUERIES["dedup_minhash_lsh"](spark, SF_SMOKE).collect()
    }


@pytest.mark.parametrize("provider", ["hdfs", "rocksdb"])
def test_neardup_ingest_replay_matches_batch(spark, provider):
    """Three-chunk replay -> the emitted pair union equals the batch
    operator bit-for-bit (ids AND jaccard doubles: the verification is
    the same integer math either way). Runs under both state store
    providers (the digest layer holds the only operator state)."""
    from mapreducer_pi_cs4433_spark.session import enable_rocksdb_state

    src = tempfile.mkdtemp(prefix="nd_src_")
    ckpt = tempfile.mkdtemp(prefix="nd_ck_")
    state = tempfile.mkdtemp(prefix="nd_state_")
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    if provider == "rocksdb":
        enable_rocksdb_state(spark)
    try:
        for i, chunk in enumerate(_doc_chunks(spark)):
            _write_chunk(spark, src, chunk, hour=i)
            stream = spark.readStream.schema(
                "doc_id long, text string, ts timestamp"
            ).option("maxFilesPerTrigger", 1).parquet(src)
            q = neardup_ingest_stream(stream, state, ckpt)
            q.awaitTermination(300)
        got = {
            (r.id_a, r.id_b, r.jaccard)
            for r in read_emitted_pairs(spark, state).collect()
        }
        want = _batch_pairs(spark)
        assert got == want
        assert got  # the corpus has planted near-dups; empty == broken
        # pairs must span chunk boundaries, or the test proves nothing
        assert any(a % 3 != b % 3 for a, b, _ in got)
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
        for d in (src, ckpt, state):
            shutil.rmtree(d, ignore_errors=True)


def test_neardup_batch_replay_is_idempotent(spark):
    """Re-running a batch id (foreachBatch crash-replay) overwrites the
    same per-batch directories with the same content — the pair union
    and the index parts are unchanged."""
    chunks = _doc_chunks(spark)
    state = tempfile.mkdtemp(prefix="ndi_state_")
    try:
        docs0 = spark.createDataFrame(
            [Row(doc_id=r.doc_id, text=r.text) for r in chunks[0]]
        )
        docs1 = spark.createDataFrame(
            [Row(doc_id=r.doc_id, text=r.text) for r in chunks[1]]
        )
        match_and_register_batch(spark, docs0, state, batch_id=0)
        match_and_register_batch(spark, docs1, state, batch_id=1)
        first = {
            (r.id_a, r.id_b, r.jaccard)
            for r in read_emitted_pairs(spark, state).collect()
        }
        # crash-replay of the LAST batch: same id, same docs
        match_and_register_batch(spark, docs1, state, batch_id=1)
        second = {
            (r.id_a, r.id_b, r.jaccard)
            for r in read_emitted_pairs(spark, state).collect()
        }
        assert first == second
    finally:
        shutil.rmtree(state, ignore_errors=True)


def test_neardup_digest_layer_suppresses_exact_dups(spark):
    """A byte-identical re-arrival (new doc_id, same text, inside the
    watermark horizon) is dropped by the digest layer BEFORE the MinHash
    path: it forms no pairs (without suppression it would pair at
    jaccard 1.0 with its twin) and the emitted set still equals the
    batch operator on the original corpus."""
    twin_src = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text"
    ).orderBy("doc_id").limit(1).collect()[0]
    dup = Row(doc_id=999_999, text=twin_src.text)
    src = tempfile.mkdtemp(prefix="ndd_src_")
    ckpt = tempfile.mkdtemp(prefix="ndd_ck_")
    state = tempfile.mkdtemp(prefix="ndd_state_")
    try:
        chunks = _doc_chunks(spark, extra_rows=([], [dup], []))
        for i, chunk in enumerate(chunks):
            _write_chunk(spark, src, chunk, hour=i)
            stream = spark.readStream.schema(
                "doc_id long, text string, ts timestamp"
            ).option("maxFilesPerTrigger", 1).parquet(src)
            q = neardup_ingest_stream(stream, state, ckpt, watermark="1 day")
            q.awaitTermination(300)
        got = {
            (r.id_a, r.id_b, r.jaccard)
            for r in read_emitted_pairs(spark, state).collect()
        }
        assert not any(a == 999_999 or b == 999_999 for a, b, _ in got)
        assert got == _batch_pairs(spark)
    finally:
        for d in (src, ckpt, state):
            shutil.rmtree(d, ignore_errors=True)


def test_neardup_reingested_doc_id_is_not_reregistered(spark):
    """First-writer-wins id guard (r9 advice): a doc_id already in the
    committed index — a byte-identical re-crawl arriving past the digest
    horizon, or the same id re-sent with CHANGED text — must not
    register a second sigs/postings copy. Without the guard the
    duplicated posting rows inflate verify_exact_jaccard's n_common and
    size counts, so every later jaccard involving that doc is silently
    wrong and the batch-equivalence contract breaks."""
    chunks = _doc_chunks(spark)
    state = tempfile.mkdtemp(prefix="ndr_state_")
    try:
        docs0 = spark.createDataFrame(
            [Row(doc_id=r.doc_id, text=r.text) for r in chunks[0]]
        )
        match_and_register_batch(spark, docs0, state, batch_id=0)
        # batch 1 re-sends one committed id byte-identical and another
        # committed id with changed text, plus chunk 1's genuinely new docs
        replay_same = chunks[0][0]
        replay_changed = chunks[0][1]
        docs1 = spark.createDataFrame(
            [Row(doc_id=r.doc_id, text=r.text) for r in chunks[1]]
            + [
                Row(doc_id=replay_same.doc_id, text=replay_same.text),
                Row(doc_id=replay_changed.doc_id, text="entirely new text"),
            ]
        )
        match_and_register_batch(spark, docs1, state, batch_id=1)
        match_and_register_batch(
            spark,
            spark.createDataFrame(
                [Row(doc_id=r.doc_id, text=r.text) for r in chunks[2]]
            ),
            state,
            batch_id=2,
        )
        # exactly one signature row per doc across the whole index
        sigs = partstore.read_parts(spark, state, "sigs", exclude_batch=-1)
        dup_ids = (
            sigs.groupBy("id").count().filter(F.col("count") > 1).collect()
        )
        assert dup_ids == []
        # and the emitted pairs still equal the batch operator on the
        # original corpus — the re-arrivals changed nothing
        got = {
            (r.id_a, r.id_b, r.jaccard)
            for r in read_emitted_pairs(spark, state).collect()
        }
        assert got == _batch_pairs(spark)
    finally:
        shutil.rmtree(state, ignore_errors=True)


def test_neardup_compaction_mid_stream_preserves_equivalence(spark):
    """Compacting the per-batch index parts MID-STREAM (after batch 1 of
    3) must leave the protocol intact: later batches still see the full
    history through the compacted segment, a crash-replay of the newest
    batch still excludes its own directories, and the final pair union
    still equals the batch operator (r8 verdict ask #6 — the module
    prescribed compaction but nothing proved the ``b{id}/_SUCCESS``
    listing protocol and a compactor agree)."""
    from mapreducer_pi_cs4433_spark.streaming.neardup import compact_index

    chunks = _doc_chunks(spark)
    state = tempfile.mkdtemp(prefix="ndc_state_")
    try:
        dfs = [
            spark.createDataFrame(
                [Row(doc_id=r.doc_id, text=r.text) for r in c]
            )
            for c in chunks
        ]
        match_and_register_batch(spark, dfs[0], state, batch_id=0)
        match_and_register_batch(spark, dfs[1], state, batch_id=1)
        assert compact_index(spark, state) == 0  # covers batch 0 only:
        # batch 1 is the newest committed — the only replay candidate —
        # and must stay a per-batch dir
        assert partstore.compacted_hi(state, "sigs") == 0
        assert partstore.committed_batches(state, "sigs") == [1]
        # crash-replay of the newest batch AFTER compaction: idempotent
        match_and_register_batch(spark, dfs[1], state, batch_id=1)
        match_and_register_batch(spark, dfs[2], state, batch_id=2)
        got = {
            (r.id_a, r.id_b, r.jaccard)
            for r in read_emitted_pairs(spark, state).collect()
        }
        assert got == _batch_pairs(spark)
        # compact again now that batch 2 committed; union unchanged
        assert compact_index(spark, state) == 1
        again = {
            (r.id_a, r.id_b, r.jaccard)
            for r in read_emitted_pairs(spark, state).collect()
        }
        assert again == got
        # crash-window safety: a leftover covered ``b`` dir (segment
        # committed, delete crashed) must NOT double-read
        import os as _os

        leftover = _os.path.join(state, "sigs", "b00000000")
        seg = _os.path.join(state, "sigs", "c00000000_00000001")
        spark.read.parquet(seg).filter(
            F.col("id") % 3 == 0
        ).write.mode("overwrite").parquet(leftover)
        sigs = partstore.read_parts(spark, state, "sigs", exclude_batch=-1)
        assert (
            sigs.groupBy("id").count().filter(F.col("count") > 1).count()
            == 0
        )
    finally:
        shutil.rmtree(state, ignore_errors=True)


def test_neardup_rejects_foreign_checkpoint_lineage(spark):
    """Batch ids restart at 0 under a new checkpoint dir, so an id BELOW
    the newest committed batch is a restarted query pointed at an old
    state dir — it must raise instead of overwriting committed index
    parts and hiding history (a true crash-replay only ever re-delivers
    the LAST batch, which stays allowed and idempotent)."""
    import pytest as _pytest

    chunks = _doc_chunks(spark)
    state = tempfile.mkdtemp(prefix="ndl_state_")
    try:
        docs0 = spark.createDataFrame(
            [Row(doc_id=r.doc_id, text=r.text) for r in chunks[0]]
        )
        match_and_register_batch(spark, docs0, state, batch_id=0)
        match_and_register_batch(spark, docs0, state, batch_id=1)
        with _pytest.raises(ValueError, match="checkpoint lineage"):
            match_and_register_batch(spark, docs0, state, batch_id=0)
        # the last committed id remains a legal (idempotent) replay
        match_and_register_batch(spark, docs0, state, batch_id=1)
    finally:
        shutil.rmtree(state, ignore_errors=True)


def test_neardup_within_batch_duplicate_id_registers_one_doc(spark):
    """Self-review r9: two rows with the SAME doc_id inside one batch
    (distinct texts under one id) must not register a
    merged union-document — exactly one deterministically-chosen text is
    signed, so the module's id-uniqueness invariant holds within a batch
    too, and the surviving pairs still match the batch operator run on
    the same deduplicated corpus."""
    chunks = _doc_chunks(spark)
    state = tempfile.mkdtemp(prefix="ndw_state_")
    try:
        dup_id = chunks[0][0].doc_id
        docs0 = spark.createDataFrame(
            [Row(doc_id=r.doc_id, text=r.text) for r in chunks[0]]
            + [Row(doc_id=dup_id, text="a second text under the same id")]
        )
        match_and_register_batch(spark, docs0, state, batch_id=0)
        sigs = partstore.read_parts(spark, state, "sigs", exclude_batch=-1)
        assert sigs.filter(F.col("id") == dup_id).count() == 1
        post = partstore.read_parts(spark, state, "postings", exclude_batch=-1)
        n_shingles = post.filter(F.col("id") == dup_id).count()
        # the registered shingle set must equal ONE text's, never the
        # union of both (the union-doc failure mode)
        from mapreducer_pi_cs4433_spark.functions.dedup import (
            _hashed_postings,
        )

        singles = {
            t: _hashed_postings(
                spark.createDataFrame([Row(doc_id=dup_id, text=t)]),
                "text",
                "doc_id",
                12,
            ).count()
            for t in (
                chunks[0][0].text,
                "a second text under the same id",
            )
        }
        assert n_shingles in set(singles.values())
        assert n_shingles < sum(singles.values())
    finally:
        shutil.rmtree(state, ignore_errors=True)


def test_neardup_auto_compaction_bounds_parts_and_preserves_equivalence(
    spark,
):
    """compact_every=N inside the sink: a six-chunk replay must (1) end
    with at most N per-batch dirs above one committed segment per state
    table — the bounded-part-count contract the hook exists for — and
    (2) emit exactly the batch operator's pair set, i.e. auto-compaction
    at the end of a trigger cycle never perturbs the next batch's
    history read."""
    import os as _os

    from mapreducer_pi_cs4433_spark.streaming.neardup import _INDEX_KINDS

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    rows = sorted(docs.collect(), key=lambda r: r.doc_id)
    chunks = [[r for r in rows if r.doc_id % 6 == i] for i in range(6)]
    src = tempfile.mkdtemp(prefix="nda_src_")
    ckpt = tempfile.mkdtemp(prefix="nda_ck_")
    state = tempfile.mkdtemp(prefix="nda_state_")
    try:
        for i, chunk in enumerate(chunks):
            _write_chunk(spark, src, chunk, hour=i)
            stream = spark.readStream.schema(
                "doc_id long, text string, ts timestamp"
            ).option("maxFilesPerTrigger", 1).parquet(src)
            q = neardup_ingest_stream(
                stream, state, ckpt, compact_every=2
            )
            q.awaitTermination(300)
        got = {
            (r.id_a, r.id_b, r.jaccard)
            for r in read_emitted_pairs(spark, state).collect()
        }
        assert got == _batch_pairs(spark)
        assert got
        for kind in _INDEX_KINDS:
            hi = partstore.compacted_hi(state, kind)
            assert hi >= 0, kind  # a segment actually committed
            live_b = [
                b for b in partstore.committed_batches(state, kind) if b > hi
            ]
            assert len(live_b) <= 2, (kind, hi, live_b)
            # covered leftovers were deleted, not just shadowed
            listing = _os.listdir(_os.path.join(state, kind))
            assert not any(
                d.startswith("b") and int(d[1:]) <= hi for d in listing
            ), (kind, listing)
    finally:
        for d in (src, ckpt, state):
            shutil.rmtree(d, ignore_errors=True)


def test_neardup_compaction_removes_subsumed_segment_and_recovers(spark):
    """Self-review r9, two compactor contracts the first test missed:
    (1) a second compaction must DELETE the older, subsumed segment
    (the always-false old_hi guard leaked a full index copy per run);
    (2) a crash between kinds (pairs' segment committed, the rest not)
    must leave a re-run able to finish the stragglers — the old
    pairs-only early-return turned that re-run into a permanent no-op."""
    import os as _os

    from mapreducer_pi_cs4433_spark.streaming import neardup as nd

    chunks = _doc_chunks(spark)
    state = tempfile.mkdtemp(prefix="nds_state_")
    try:
        dfs = [
            spark.createDataFrame(
                [Row(doc_id=r.doc_id, text=r.text) for r in c]
            )
            for c in chunks
        ]
        match_and_register_batch(spark, dfs[0], state, batch_id=0)
        match_and_register_batch(spark, dfs[1], state, batch_id=1)
        assert nd.compact_index(spark, state) == 0
        match_and_register_batch(spark, dfs[2], state, batch_id=2)
        # crash simulation: only the pairs kind gets its new segment
        orig_kinds = nd._INDEX_KINDS
        nd._INDEX_KINDS = ("pairs",)
        try:
            assert nd.compact_index(spark, state) == 1
        finally:
            nd._INDEX_KINDS = orig_kinds
        assert partstore.compacted_hi(state, "pairs") == 1
        assert partstore.compacted_hi(state, "sigs") == 0  # straggler
        # the re-run must finish the stragglers, not no-op on pairs
        assert nd.compact_index(spark, state) == 1
        for kind in orig_kinds:
            assert partstore.compacted_hi(state, kind) == 1, kind
            # and the subsumed c..._00000000 segment is gone
            listing = _os.listdir(_os.path.join(state, kind))
            assert [d for d in listing if d.startswith("c")] == [
                "c00000000_00000001"
            ], kind
        got = {
            (r.id_a, r.id_b, r.jaccard)
            for r in read_emitted_pairs(spark, state).collect()
        }
        assert got == _batch_pairs(spark)
    finally:
        shutil.rmtree(state, ignore_errors=True)
