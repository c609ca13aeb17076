"""Streaming image near-dup ingest — the ingest-time twin of the batch
perceptual-hash pipeline (``image_ahash_neardup``): as image batches
arrive, decode and aHash the new payloads, match them against the
PERSISTED corpus hash index, and emit hash-equal pairs, so a crawl
pipeline learns "this new image is a perceptual copy of corpus image X"
at admission time instead of at the next full-corpus dedup run.

Same two-layer shape as the MinHash ingest (``streaming/neardup.py``):

- a WATERMARK-BOUNDED digest layer suppresses byte-identical
  re-arrivals before any pixel math (md5 over the payload bytes +
  ``dropDuplicatesWithinWatermark`` — exact dups are the cheap layer's
  job; the hash index answers the perceptual question);
- a foreachBatch layer (``match_and_register_batch``) hashes the new
  payloads (generic PPM decode -> exact-integer 8x8 aHash,
  ``functions/multimodal.py``), pairs them within the batch and against
  history, appends the verified pairs, then registers the batch's
  hashes into the index.

The index is ONE kind table of (media_id, ahash_lo, ahash_hi) — ~20
bytes per image regardless of payload size; payload bytes never enter
the store. Batch-equivalence contract: a pair's fate depends only on
the two images' hashes, never on arrival timing, so a chunked replay
emits exactly ``image_ahash_neardup`` of the assembled corpus —
asserted bit-for-bit in tests. Within-batch pairs come from the batch's
hash self-join; cross-batch pairs from the batch-vs-history probe
(batch side broadcast — the history index is scanned once per batch,
never shuffled). media_ids are unique for the store's lifetime (first
writer wins), and payloads the decoder rejects (malformed containers)
register nothing — the batch operator's malformed-row policy.

Exactly-once, compaction, crash windows, and the lineage guard are the
shared part-store protocol (``streaming/partstore.py``) — this module
is the second consumer that earned the extraction.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import partstore
from ..functions.multimodal import ahash_equal_pairs, ahash_features

_KINDS = ("pairs", "hashes")
_PAIR_SCHEMA = "id_a long, id_b long, ahash_hi long, ahash_lo long"


def read_emitted_pairs(spark: SparkSession, state_path: str) -> DataFrame:
    """Every near-dup pair emitted so far — the union the
    batch-equivalence test compares against image_ahash_neardup."""
    got = partstore.read_parts(spark, state_path, "pairs", exclude_batch=-1)
    if got is None:
        return spark.createDataFrame([], _PAIR_SCHEMA)
    return got


def match_and_register_batch(
    spark: SparkSession,
    batch_media: DataFrame,
    state_path: str,
    batch_id: int,
) -> None:
    """Fold one image batch into the hash index and append the pairs it
    forms (within itself and against all prior batches). Idempotent per
    batch id; same hash math as the batch operator, so a pair's
    presence and value are identical either way."""
    partstore.check_lineage(state_path, "pairs", batch_id)

    # WITHIN-batch id uniqueness: one deterministically-chosen payload
    # per id (min payload digest — stable under retries/partitioning),
    # the first-writer-wins rule the cross-batch guard applies between
    # batches. Without it, two payloads under one id would register two
    # hash rows and every later match against that id would double.
    batch_media = batch_media.groupBy("media_id").agg(
        F.expr("min_by(payload, md5(payload))").alias("payload")
    )

    hist = partstore.read_parts(spark, state_path, "hashes", batch_id)
    if hist is not None:
        # first-writer-wins id guard: an id already committed (a
        # re-crawl past the digest horizon, or the same id re-sent with
        # changed bytes) must not register a second hash row
        batch_ids = batch_media.select("media_id").distinct()
        colliding = hist.select("media_id").join(F.broadcast(batch_ids), "media_id")
        batch_media = batch_media.join(
            F.broadcast(colliding), "media_id", "left_anti"
        )

    hashed = ahash_features(
        batch_media.select("media_id", "payload")
    ).localCheckpoint()  # three consumers below: within-join x2 + write

    # within-batch pairs: the batch operator's OWN pair join (shared
    # definition — the batch-equivalence contract depends on it)
    within = ahash_equal_pairs(hashed)
    if hist is not None:
        nb = hashed.select(
            F.col("media_id").alias("id_n"),
            F.col("ahash_lo").alias("lo_n"),
            F.col("ahash_hi").alias("hi_n"),
        )
        # history scanned once, batch side broadcast; ids are disjoint
        # across batches (the guard above), so earlier-id-first ordering
        # via least/greatest matches the batch operator's id_a < id_b
        cross = (
            hist.join(
                F.broadcast(nb),
                (hist["ahash_lo"] == nb["lo_n"]) & (hist["ahash_hi"] == nb["hi_n"]),
            )
            .select(
                F.least(F.col("media_id"), F.col("id_n")).alias("id_a"),
                F.greatest(F.col("media_id"), F.col("id_n")).alias("id_b"),
                "ahash_hi",
                "ahash_lo",
            )
        )
        pairs = within.unionByName(cross)
    else:
        pairs = within

    # pairs first, then the index part: a crash anywhere re-runs the
    # whole batch and overwrites every directory identically
    pairs.write.mode("overwrite").parquet(
        partstore.part_dir(state_path, "pairs", batch_id)
    )
    hashed.write.mode("overwrite").parquet(
        partstore.part_dir(state_path, "hashes", batch_id)
    )


def compact_index(spark: SparkSession, state_path: str) -> int:
    """Fold committed batches below the newest into one segment per
    kind — ``partstore.compact`` with this store's layout."""
    return partstore.compact(spark, state_path, _KINDS, "pairs", 4)


def image_ingest_stream(
    stream: DataFrame,
    state_path: str,
    checkpoint: str,
    watermark: str = "1 hour",
    compact_every: int | None = None,
):
    """Wire an image stream into the near-dup ingest sink; returns the
    started StreamingQuery (caller owns trigger/termination). Options
    mirror neardup_ingest_stream: the digest layer suppresses
    byte-identical re-arrivals inside the watermark horizon, and
    ``compact_every=N`` auto-folds the index once more than N live
    per-batch parts accumulate."""
    os.makedirs(state_path, exist_ok=True)
    prepared = (
        stream.withColumn("__digest", F.md5(F.col("payload")))
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
