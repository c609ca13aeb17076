"""Streaming near-dup ingest — the ingest-time twin of the batch
MinHash+LSH pipeline (``functions.dedup.minhash_lsh_pairs``, catalog
entry ``dedup_minhash_lsh``): as document batches arrive, band their
MinHash signatures against everything ingested BEFORE them and emit the
exact-verified near-dup pairs, so a crawl pipeline learns "this new page
is a near-copy of corpus doc X" at admission time instead of at the next
full-corpus dedup run.

Two layers, mirroring ``streaming/dedup.py``:

- the WATERMARK-BOUNDED layer (``neardup_ingest_stream``): exact-dup
  suppression via content digest + ``dropDuplicatesWithinWatermark`` —
  operator state holds one digest per doc inside the watermark horizon
  (evictable, bounded; runs under both state-store providers), so a
  re-crawled identical page never reaches the expensive path twice
  within the horizon;
- the foreachBatch layer (``match_and_register_batch``): per batch,
  MinHash the new docs, band-join them against the PERSISTED corpus
  index (the same signature/banded/posting tables the batch artifacts
  persist — ``functions/artifacts.py``'s build-once philosophy, here
  grown append-only per batch), exact-verify the candidates, append the
  verified pairs, then register the batch into the index.

Batch-equivalence contract: replaying a corpus in chunks emits exactly
``minhash_lsh_pairs`` of the full corpus (same banding, same 4-sigma
agreement prefilter, same exact-Jaccard verification — a pair's fate
depends only on the two documents' content, never on arrival timing),
asserted in tests/test_streaming_neardup.py. Within-batch pairs come
from the batch's banded self-join; cross-batch pairs from the
batch-vs-history band join — together they cover every pair exactly
once (a pair's LATER member sees the earlier one in history).

doc_ids are unique for the state dir's lifetime (first writer wins):
a batch row whose id is already in the committed sigs index is dropped
before signing — re-registering it would union a second sigs/postings
copy and silently inflate every later exact-Jaccard involving that doc.

Exactly-once without a pointer file: every write is a per-batch
SUBDIRECTORY keyed by batch id, written with overwrite — a foreachBatch
crash-replay rewrites the same directories with the same deterministic
content. History reads EXCLUDE the current batch id, so a half-written
replay attempt can never feed its own candidates. Batch ids are
per-CHECKPOINT-LINEAGE (they restart at 0 under a new checkpoint dir),
so a state dir is tied to one lineage for life — enforced: an id below
the newest committed batch (impossible for a true crash-replay, which
only ever re-delivers the last batch) raises instead of overwriting
committed index parts.

At 100 TB: the batch side of every join is batch-sized (broadcast); the
per-batch cost is ONE scan of the banded index (equi-join on (band,
bkey) — bucket the index by bkey to make it a local probe) plus
candidate-restricted joins against the signature and posting tables.
The index is the corpus's own derived state and grows with it — the
same ~520 B/doc the batch artifacts already persist, just appended per
batch instead of rebuilt per run; compact the per-batch parts
periodically with ``compact_index`` (protocol-aware: it folds committed
batches below the newest into one ``c{lo}_{hi}`` segment readers
prefer over the covered ``b`` dirs) like any streaming sink — either
offline between trigger runs, or automatically via
``neardup_ingest_stream(compact_every=N)``, which runs it inside the
sink AFTER a batch's own writes commit (a safe point: the next batch's
history read is the first reader that can observe it, and a crash
anywhere in the hook replays the batch through the same idempotent
protocol).

Reference note: the reference repo (MapReducer-PI-cs4433) has no
streaming or dedup surface; this module extends the engine's
LLM-pipeline family (SURVEY.md §2.8 "engine ships them anyway").
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import partstore
from ..functions.dedup import (
    _banded_keys,
    _hashed_postings,
    minhash_signatures,
    verify_exact_jaccard,
)

_PAIR_SCHEMA = "id_a long, id_b long, jaccard double"

# word 12-shingles, 64 MinHash permutations in 16 bands, Jaccard >= 0.5
_SHINGLE_K = 12
_NUM_PERM = 64
_BANDS = 16
_THRESHOLD = 0.5

# the index tables this module keeps in its partstore directory
_INDEX_KINDS = ("pairs", "sigs", "banded", "postings")


def compact_index(spark: SparkSession, state_path: str) -> int:
    """Compact the per-batch index parts into one segment per state
    table — the maintenance task the module header prescribes (small
    per-batch files accumulate exactly like any streaming sink's; the
    banded index especially wants few well-sized files because every
    batch probes it once). Protocol and crash-window analysis:
    ``partstore.compact``. Reads _INDEX_KINDS at call time (the
    crash-between-kinds tests monkeypatch it)."""
    return partstore.compact(spark, state_path, _INDEX_KINDS, "pairs", 8)


def read_emitted_pairs(spark: SparkSession, state_path: str) -> DataFrame:
    """Every near-dup pair emitted so far (id_a, id_b, jaccard) — the
    union the batch-equivalence test compares against
    dedup.minhash_lsh_pairs of the full corpus."""
    got = partstore.read_parts(spark, state_path, "pairs", exclude_batch=-1)
    if got is None:
        return spark.createDataFrame([], _PAIR_SCHEMA)
    return got


def match_and_register_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    state_path: str,
    batch_id: int,
) -> None:
    """Fold one document batch into the near-dup index and append the
    verified pairs it forms (within itself and against all prior
    batches). Idempotent per batch id — see module docstring.

    Same parameters and constants as the batch operator: banding at
    bands x (num_perm/bands) rows, the threshold - 4*sigma signature
    agreement prefilter, exact posting-intersection Jaccard — so a
    pair's presence and value are identical whether computed here or
    by minhash_lsh_pairs over the assembled corpus."""
    # Batch ids are per-CHECKPOINT-LINEAGE: an id below the newest
    # committed batch is a restarted query pointed at an old state dir,
    # never a crash-replay — enforced by the shared store protocol.
    partstore.check_lineage(state_path, "pairs", batch_id)
    rows_per_band = _NUM_PERM // _BANDS

    # WITHIN-batch id uniqueness: two rows with the same doc_id in ONE
    # batch (distinct texts under one id) would otherwise slip past the
    # committed-index guard below and register a MERGED union-document
    # — _hashed_postings would pool
    # both texts' shingles under the id, so every later jaccard against
    # it matches neither version. Pick one deterministically (min text
    # digest: stable under retries and partitioning), matching the
    # first-writer-wins semantics of the cross-batch guard.
    batch_docs = batch_docs.groupBy("doc_id").agg(
        F.expr("min_by(text, md5(text))").alias("text")
    )

    hist_banded = partstore.read_parts(spark, state_path, "banded", batch_id)
    hist_sigs = partstore.read_parts(spark, state_path, "sigs", batch_id)
    hist_post = partstore.read_parts(spark, state_path, "postings", batch_id)

    if hist_sigs is not None:
        # First-writer-wins id guard: a doc_id already in the
        # committed index (a byte-identical re-crawl arriving past the
        # digest layer's watermark horizon, or the same id re-sent with
        # changed text) must NOT register a second sigs/postings copy —
        # duplicate posting rows inflate
        # verify_exact_jaccard's n_common and size counts, silently
        # corrupting every later jaccard involving that doc and breaking
        # the batch-equivalence contract. doc_ids are a table's identity
        # for the state dir's lifetime, exactly like the batch corpus;
        # re-ingesting one is suppressed, matching the digest layer's
        # semantics. Cost shape: one id-column scan of the sigs index
        # semi-joined against the BROADCAST batch ids (batch-sized
        # output), then a broadcast anti-join back onto the batch — the
        # corpus side is never shuffled.
        batch_ids = batch_docs.select(F.col("doc_id").alias("id")).distinct()
        colliding = hist_sigs.select("id").join(F.broadcast(batch_ids), "id")
        batch_docs = batch_docs.join(
            F.broadcast(colliding.select(F.col("id").alias("doc_id"))),
            "doc_id",
            "left_anti",
        )

    # batch-sized derived tables, each consumed by several joins below:
    # materialize once (localCheckpoint) — the multi-consumer invariant
    sigs_b = minhash_signatures(
        batch_docs, k=_SHINGLE_K, num_perm=_NUM_PERM
    ).localCheckpoint()
    post_b = _hashed_postings(batch_docs, "text", "doc_id", _SHINGLE_K).localCheckpoint()
    banded_b = _banded_keys(sigs_b, _BANDS, rows_per_band).localCheckpoint()

    # candidates WITHIN the batch: the batch operator's banded self-join
    lb = banded_b.select("band", "bkey", F.col("id").alias("id_a"))
    rb = banded_b.select(
        F.col("band").alias("band_b"),
        F.col("bkey").alias("bkey_b"),
        F.col("id").alias("id_b"),
    )
    within = lb.join(
        rb,
        (lb["band"] == rb["band_b"])
        & (lb["bkey"] == rb["bkey_b"])
        & (lb["id_a"] < rb["id_b"]),
    ).select("id_a", "id_b")

    # candidates ACROSS: new docs vs the committed index — the batch
    # side broadcasts (it is batch-sized by construction); the history
    # banded table is scanned once per batch, never shuffled
    if hist_banded is not None:
        nb = banded_b.select(
            F.col("band").alias("band_n"),
            F.col("bkey").alias("bkey_n"),
            F.col("id").alias("id_n"),
        )
        cross = (
            hist_banded.join(
                F.broadcast(nb),
                (hist_banded["band"] == nb["band_n"])
                & (hist_banded["bkey"] == nb["bkey_n"]),
            )
            .select(
                F.least(F.col("id"), F.col("id_n")).alias("id_a"),
                F.greatest(F.col("id"), F.col("id_n")).alias("id_b"),
            )
            .filter(F.col("id_a") != F.col("id_b"))
        )
        candidates = within.unionByName(cross).distinct()
        all_sigs = hist_sigs.unionByName(sigs_b)
        all_post = hist_post.unionByName(post_b)
    else:
        candidates = within.distinct()
        all_sigs = sigs_b
        all_post = post_b

    # identical constants to minhash_lsh_pairs: threshold - 4 sigma
    # agreement floor, 64-term codegen sum (no array HOF)
    est_floor = max(
        0.0,
        _THRESHOLD - 4.0 * math.sqrt(_THRESHOLD * (1.0 - _THRESHOLD) / _NUM_PERM),
    )
    agree = sum(
        F.when(F.col("sig_a")[i] == F.col("sig_b")[i], 1).otherwise(0)
        for i in range(_NUM_PERM)
    )
    ga = all_sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    gb = all_sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    candidates = (
        candidates.join(ga, "id_a")
        .join(gb, "id_b")
        .filter(agree >= math.ceil(est_floor * _NUM_PERM))
        .select("id_a", "id_b")
    )

    # exact verification — the batch operator's posting-intersection
    # math via the SHARED helper (one definition of the "same math as
    # ngram_jaccard_pairs" contract), restricted to this batch's
    # candidates
    pairs = verify_exact_jaccard(candidates, all_post, _THRESHOLD)

    # pairs first, then the index parts: a crash anywhere re-runs the
    # whole batch and overwrites every directory identically
    pairs.write.mode("overwrite").parquet(
        partstore.part_dir(state_path, "pairs", batch_id)
    )
    sigs_b.write.mode("overwrite").parquet(
        partstore.part_dir(state_path, "sigs", batch_id)
    )
    banded_b.write.mode("overwrite").parquet(
        partstore.part_dir(state_path, "banded", batch_id)
    )
    post_b.write.mode("overwrite").parquet(
        partstore.part_dir(state_path, "postings", batch_id)
    )


def neardup_ingest_stream(
    stream: DataFrame,
    state_path: str,
    checkpoint: str,
    watermark: str = "1 hour",
    compact_every: int | None = None,
):
    """Wire a document stream into the near-dup ingest sink; returns the
    started StreamingQuery (caller owns trigger/termination).

    The watermark-bounded digest layer suppresses byte-identical
    re-arrivals inside the horizon BEFORE the MinHash path (they are
    exact dups, not near-dups — the batch twin of that layer is
    dedup_exact / merge_into_digest_table).

    ``compact_every=N`` turns on auto-compaction: once more than N
    committed per-batch parts sit above the current segment's coverage,
    the sink calls ``compact_index`` right after the batch's own writes
    commit. The trigger counts LIVE parts (not batch ids), so empty
    batches and replays don't skew the cadence, and the steady-state
    part count per state table is bounded at N per-batch dirs plus one
    compacted segment. The hook inherits the compactor's whole crash
    protocol — a crash mid-hook replays the batch, whose re-run excludes
    its own dirs and finishes straggler kinds — because the hook IS the offline call, just scheduled at the
    one point in a trigger cycle with no concurrent history reader."""
    os.makedirs(state_path, exist_ok=True)
    prepared = (
        stream.withColumn("__digest", F.md5(F.col("text")))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["__digest"])
        .drop("__digest")
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        match_and_register_batch(
            batch_df.sparkSession, batch_df, state_path, batch_id
        )
        if compact_every is not None and partstore.auto_compact_due(
            state_path, "pairs", compact_every
        ):
            compact_index(batch_df.sparkSession, state_path)

    return (
        prepared.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
