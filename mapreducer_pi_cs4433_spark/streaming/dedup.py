"""Streaming deduplication — the ingest-time twin of functions.dedup.

exact_dedup_stream drops payload-identical documents as they arrive:
content digest + dropDuplicatesWithinWatermark, so state holds one digest
per document seen within the watermark horizon (bounded, evictable) instead
of growing forever. This is the shape of an ingest pipeline that must not
admit the same crawled page twice within a window.

For unbounded exact dedup across ALL history, merge_into_digest_table is
the batch layer: a persisted append-only digest table is the source of
truth, and each ingest batch (a micro-batch sink, a crawl drop, a backfill)
is admitted only if its digest is unseen — across restarts, across jobs.
The streaming layer bounds duplication within the watermark horizon; the
digest merge closes the gap beyond it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException
from pyspark.sql.window import Window

# admit_new_documents' near-dup screen: word 12-shingles, 64 MinHash
# permutations in 32 bands, containment threshold 0.5
_SHINGLE_K = 12
_NUM_PERM = 64
_BANDS = 32
_THRESHOLD = 0.5


def exact_dedup_stream(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Admit only the first document per content digest within the
    watermark horizon. Output keeps the original columns plus `digest`.

    State per digest is one row; the watermark lets the engine evict
    digests older than the horizon, so state size tracks the horizon's
    document rate, not stream lifetime.
    """
    return (
        stream.withColumn("digest", F.md5(F.col("text")))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["digest"])
    )


def merge_into_digest_table(
    spark: SparkSession,
    new_docs: DataFrame,
    digest_table_path: str,
) -> DataFrame:
    """Incremental exact-dedup merge: admit only documents whose content
    digest has never been seen, and persist the new digests.

    The digest table at `digest_table_path` is an append-only parquet of
    (digest, keep_id) — ~48 bytes/document regardless of document size, the
    only state that must survive restarts. Per batch:

      1. within-batch dedup: one representative (min id) per digest;
      2. cross-history dedup: left_anti join against the digest table
         (shuffles digests only, never documents);
      3. append the admitted digests; return the admitted document rows.

    Re-running the same batch admits nothing (idempotent at the digest
    level), so a crashed-and-retried ingest cannot re-admit documents —
    the round-trip guarantee the streaming layer alone (watermark-bounded
    state) cannot make.

    Consistency note: the anti-join's view of the table is the file listing
    snapshotted when this function reads it, so the returned DataFrame is
    stable even though step 3 appends to the same path before the caller
    runs its action (parquet file listings are captured per-read, not
    per-action). One merge at a time per table — concurrent writers need a
    table format with commit semantics (Iceberg/Delta) instead of raw
    parquet appends.

    At 100 TB: the shuffle key is the digest (uniform by construction — no
    skew); store the table bucketed by digest (sinks.write_bucketed_table)
    to make the anti-join's seen-side exchange disappear, and compact
    appended files periodically (sinks.compact_small_files).
    """
    candidates = (
        new_docs.withColumn("digest", F.md5(F.col("text")))
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("digest").orderBy(F.col("doc_id").asc())
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    try:
        seen = spark.read.parquet(digest_table_path).select("digest")
        first_batch = False
    except AnalysisException:
        seen = None
        first_batch = True
    admitted = (
        candidates
        if first_batch
        else candidates.join(seen, "digest", "left_anti")
    )
    (
        admitted.select(
            "digest", F.col("doc_id").cast("long").alias("keep_id")
        ).write.mode("append").parquet(digest_table_path)
    )
    return admitted


def admit_new_documents(
    spark: SparkSession,
    new_docs: DataFrame,
    store_dir: str,
) -> DataFrame:
    """Full incremental corpus admission — the production refresh loop that
    merge_into_digest_table is the first stage of:

      1. EXACT history dedup: digest-table anti-join (idempotent, 48 B/doc
         state — merge_into_digest_table).
      2. NEAR-DUP screen vs the EXISTING corpus: banded-LSH candidates +
         exact n-gram containment (reject new docs whose shingles are
         >= 0.5 contained in any historical doc). The historical
         side is served ENTIRELY from the store's persisted signature and
         posting tables — admission never re-shingles the corpus, so the
         per-batch cost is O(batch) + candidate joins, independent of
         corpus size.
      3. WITHIN-BATCH near-dup: the same exact-verified LSH pair operator
         over the batch; the higher id of each pair is dropped.
      4. Survivors append to the corpus table, and their signature/posting
         rows APPEND to the index artifacts — the indexes grow
         incrementally with the corpus they describe.

    Store layout under `store_dir`: digests/ corpus/ sigs/ postings/
    (plain parquet; one writer at a time — the merge_into_digest_table
    concurrency caveat applies to every table here).

    Returns the admitted documents (original columns + digest).
    """
    from ..functions.dedup import (
        _hashed_postings,
        cross_containment_pairs,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    digests = f"{store_dir}/digests"
    corpus = f"{store_dir}/corpus"
    sigs_path = f"{store_dir}/sigs"
    postings_path = f"{store_dir}/postings"

    exact_ok = merge_into_digest_table(spark, new_docs, digests).localCheckpoint()
    sigs_new = minhash_signatures(
        exact_ok, k=_SHINGLE_K, num_perm=_NUM_PERM
    ).localCheckpoint()
    postings_new = _hashed_postings(exact_ok, _SHINGLE_K).localCheckpoint()

    try:
        sigs_old = spark.read.parquet(sigs_path)
        postings_old = spark.read.parquet(postings_path)
        have_history = True
    except AnalysisException:
        have_history = False

    rejected = None
    if have_history:
        vs_history = cross_containment_pairs(
            sigs_new,
            sigs_old,
            postings_new,
            postings_old,
            threshold=_THRESHOLD,
            num_perm=_NUM_PERM,
            bands=_BANDS,
        )
        rejected = vs_history.select(F.col("id_l").alias("_rid")).distinct()
    in_batch = minhash_lsh_pairs(
        sigs_new,
        postings_new,
        num_perm=_NUM_PERM,
        bands=_BANDS,
        threshold=_THRESHOLD,
    ).select(F.col("id_b").alias("_rid")).distinct()
    rejected = in_batch if rejected is None else rejected.unionByName(in_batch).distinct()

    admitted = exact_ok.join(
        rejected, exact_ok["doc_id"] == rejected["_rid"], "left_anti"
    ).localCheckpoint()
    keep_ids = admitted.select(F.col("doc_id").alias("id"))

    admitted.write.mode("append").parquet(corpus)
    sigs_new.join(keep_ids, "id", "left_semi").write.mode("append").parquet(sigs_path)
    postings_new.join(keep_ids, "id", "left_semi").write.mode("append").parquet(
        postings_path
    )
    return admitted
