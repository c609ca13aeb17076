"""Deduplication operators for LLM training-data pipelines.

Five strategies, each scale-shaped differently:

- exact_dedup: hash-groupBy on the content — one shuffle keyed by a 128-bit
  digest, the canonical 100 TB exact-dedup plan (shuffle moves (digest,
  min_id), never the documents themselves).
- ngram_jaccard_pairs: exact Jaccard over character shingles via a
  shingle-inverted-index self-join — the *verification* layer; quadratic
  only within shingle buckets.
- minhash_lsh_pairs: MinHash signatures + banded LSH — the *candidate
  generation* layer; candidate pairs are then verified with exact Jaccard,
  so output precision is exact while cost stays near-linear. The LSH
  operators (this, cross_containment_pairs and the streaming near-dup
  ingest) take the persisted signature/posting tables and share one
  candidate generator (_lsh_candidates: band join + signature-agreement
  gate) and one exact overlap count (_overlap_counts).
- simhash64: 64-bit SimHash fingerprints; near-dups differ in few bits.
- embedding_neardup_pairs: cosine >= tau over embedding vectors, bucketed by
  random-hyperplane LSH so the pair join never goes all-pairs.

Plan-shape note (learned the hard way): array higher-order functions
(transform/filter/aggregate) execute as interpreted CodegenFallback
expressions — per-shingle work formulated over arrays hangs at corpus
scale. Every shingle consumer therefore runs over
text.exploded_shingles() — explode + relational aggregates, which stay
inside whole-stage codegen. MinHash permutations re-hash the 8-byte shingle
hash, so each shingle string is hashed exactly once.
"""

from __future__ import annotations

import math
from decimal import Decimal

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from .text import exploded_shingles

_TWO63 = Decimal(2**63)
_TWO64 = Decimal(2**64)


def md5_hash64(col: str | Column) -> Column:
    """Signed 64-bit hash from the first 16 hex chars of md5(value).

    Engine-NEUTRAL twin of xxhash64: md5 is standardized, so any SQL engine
    reproduces the exact bits (DuckDB: CAST(concat('0x', substr(md5(x),1,16))
    AS UBIGINT), folded to signed via HUGEINT). Used where a hash-derived
    value must be oracle-checkable; xxhash64 stays the default on pure
    candidate-generation paths where only self-consistency matters (it is
    ~3x cheaper — one JVM hash vs md5 + hex parse)."""
    c = F.col(col) if isinstance(col, str) else col
    ud = F.conv(F.substring(F.md5(c), 1, 16), 16, 10).cast("decimal(20,0)")
    return (
        ud
        - F.when(ud >= F.lit(_TWO63), F.lit(_TWO64)).otherwise(F.lit(Decimal(0)))
    ).cast("long")


def exact_dedup(df: DataFrame) -> DataFrame:
    """One representative (minimum id) per distinct content digest.

    Grouping on md5(text) rather than the raw text keeps shuffle rows at
    ~48 bytes regardless of document size; md5 collisions are negligible at
    any realistic corpus size (2^-64 at ~10^10 docs).
    Returns (digest, keep_id, dup_count).
    """
    return (
        df.select(
            F.md5(F.col("text")).alias("digest"), F.col("doc_id").alias("_id")
        )
        .groupBy("digest")
        .agg(
            F.min("_id").alias("keep_id"),
            F.count("*").alias("dup_count"),
        )
    )


def _hashed_postings(df: DataFrame, k: int) -> DataFrame:
    """(id, h) — xxhash64 of each distinct shingle per doc. Hashing BEFORE
    the distinct means the dedup shuffle carries fixed 16-byte (id, h) rows
    instead of (id, k-char string) — ~2x less shuffle volume at k=12, more
    at larger k — and joins compare 8-byte longs; a 64-bit collision would
    perturb one intersection count with probability ~(n_distinct^2)/2^65 —
    negligible."""
    sh = exploded_shingles(df, "text", "doc_id", k)
    return sh.select("id", F.xxhash64("shingle").alias("h")).distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    k: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs: (id_a, id_b, jaccard) with
    id_a < id_b and jaccard >= threshold.

    Inverted-index plan: distinct (id, shingle-hash) postings self-join on
    the hash (co-occurrence count = |A intersect B|), then Jaccard from the
    per-doc distinct-shingle counts. Cost is sum over shingles of df(s)^2 —
    quadratic per posting bucket, not per corpus. This is the exact
    *verification-grade* operator; at corpus scale pair generation belongs
    to minhash_lsh_pairs, which calls back into the same exact math for its
    candidates only.

    jaccard is an int/int double division — cross-engine deterministic.

    The posting stream feeds three branches (sizes, both join sides) with
    NO .cache(): the branches share an identical exchange subtree, so
    ReuseExchange computes the shuffle once per job anyway — measured at
    sf0.01, caching was ~5% *slower* (InMemoryRelation breaks codegen
    fusion) and leaked storage across invocations (round-1 finding).
    """
    posting = _hashed_postings(df, k)
    sizes = posting.groupBy("id").agg(F.count("*").alias("n_sh"))
    a = posting.select(F.col("h"), F.col("id").alias("id_a"))
    b = posting.select(F.col("h").alias("h_b"), F.col("id").alias("id_b"))
    inter = (
        a.join(b, (a["h"] == b["h_b"]) & (a["id_a"] < b["id_b"]))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _overlap_counts(
    candidates: DataFrame, posting_a: DataFrame, posting_b: DataFrame
) -> DataFrame:
    """(id_a, id_b, n_common, n_a, n_b) for (id_a, id_b) candidate pairs:
    the sizes of each doc's distinct shingle-hash set (id_a's from
    `posting_a`, id_b's from `posting_b`) and of their intersection,
    keeping only pairs that share a hash. The one exact overlap every
    candidate generator verifies with: Jaccard (verify_exact_jaccard)
    and containment (cross_containment_pairs) are int/int divisions of
    these counts.

    r12 (optimization): intersection by per-doc HASH ARRAYS, not posting
    joins. The old shape joined every candidate against the full posting
    stream twice and paid a candidate x posting-list exploded
    intermediate (~16 M rows for 58k candidates at sf0.1) plus its pair
    re-aggregation — measured 7.9 s at sf0.1 where the array form runs
    the SAME exact math (|A ∩ B| over the distinct-hash sets) in 0.5 s:
    postings collapse once to (id, array<h>) rows, each candidate
    attaches the two arrays by equi-join, and array_intersect sizes the
    overlap inside the row — no exploded intermediate, no pair
    re-shuffle. n_common > 0 is kept explicit so a threshold-0 caller
    still gets only genuinely overlapping pairs, as the join form
    produced.

    The candidate stream is hash-repartitioned to the session
    parallelism before the arrays attach: the per-row intersection is
    the expensive part of this plan, and AQE coalesces the upstream
    pair-distinct exchange by BYTES (a few MB of id pairs -> 1
    partition), which would serialize the intersection onto one core —
    the partition count must follow compute cost here, not data size
    (guide §2: scale-adaptive partitioning; deterministic keyed
    repartition, so no sort-before-repartition pass and retry-safe
    placement)."""

    # collect_set, not collect_list (ADVICE r12): a duplicate h would
    # inflate size(hs) while array_intersect dedups — the set form keeps
    # the counts exact whatever the posting feeds, at identical cost.
    def hash_sets(posting: DataFrame, side: str) -> DataFrame:
        return (
            posting.groupBy("id")
            .agg(F.collect_set("h").alias("hs"))
            .select(F.col("id").alias(f"id_{side}"), F.col("hs").alias(f"hs_{side}"))
        )

    target = candidates.sparkSession.sparkContext.defaultParallelism
    # spread on BOTH pair columns (ADVICE r12: an id_a hub document would
    # concentrate the per-row intersections on one partition) — via
    # xxhash64 of the pair, because a plain (id_a, id_b) repartition
    # matches the upstream pair-distinct's partitioning exactly and
    # EliminateShuffleExec removes it (the r12 lesson); the derived key
    # is deterministic, so placement is retry-safe (guide §2.5).
    return (
        candidates.repartition(target, F.xxhash64("id_a", "id_b"))
        .join(hash_sets(posting_a, "a"), "id_a")
        .join(hash_sets(posting_b, "b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("hs_a", "hs_b")).alias("n_common"),
            F.size("hs_a").alias("n_a"),
            F.size("hs_b").alias("n_b"),
        )
        .filter(F.col("n_common") > 0)
    )


def verify_exact_jaccard(
    candidates: DataFrame, posting: DataFrame, threshold: float
) -> DataFrame:
    """Exact verification of (id_a, id_b) candidate pairs -> (id_a, id_b,
    jaccard >= threshold). The shared tail of every candidate generator
    that is NOT the full inverted-index join (LSH banding, the prefix
    filter, the streaming near-dup ingest), so the "same exact math as
    ngram_jaccard_pairs" equivalence the oracles rely on has one
    definition; jaccard is one int/int IEEE division."""
    return (
        _overlap_counts(candidates, posting, posting)
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _prefix_index(posting: DataFrame, threshold: float) -> DataFrame:
    """(id, h, pos, n_sh) — each doc's rare-first token prefix: tokens
    ranked by (global document frequency asc, hash asc) within the doc,
    cut at p = n - ceil(t*n) + 1. This IS AllPairs' "prefix index" — a
    corpus BUILD output (one token-keyed df count + one id-keyed window
    over the postings), persisted via ensure_prefix_index so queries
    read a ~p-per-doc parquet instead of re-ranking the posting table
    (measured 5.7 s of the live query at sf0.1 before persisting)."""
    from pyspark.sql.window import Window

    sizes = posting.groupBy("id").agg(F.count("*").alias("n_sh"))
    dfreq = posting.groupBy("h").agg(F.count("*").alias("dfq"))
    return (
        posting.join(dfreq, "h")
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("id").orderBy(
                    F.col("dfq").asc(), F.col("h").asc()
                )
            ),
        )
        .join(sizes, "id")
        .filter(
            F.col("pos")
            <= F.col("n_sh") - F.ceil(F.col("n_sh") * F.lit(threshold)) + 1
        )
        .select("id", "h", "pos", "n_sh")
    )


def ensure_prefix_index(
    spark, sf_dir: str, posting: DataFrame, k: int, threshold: float
) -> DataFrame:
    """Persisted AllPairs prefix index — build-once sibling of
    ensure_postings (the threshold is part of the key: the prefix cut
    depends on it). Builds FROM the k-shingle postings artifact
    `posting`: the ranking needs only (id, h), so re-shingling the raw
    corpus for it would be a duplicated full-corpus pass at build time
    (r8 self-review)."""
    from .artifacts import ensure_table

    return ensure_table(
        spark,
        sf_dir,
        f"pf_prefix_k{k}_t{threshold}",
        lambda: _prefix_index(posting, threshold),
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    k: int = 5,
    threshold: float = 0.5,
    posting: DataFrame | None = None,
    prefix: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard pairs via PREFIX FILTERING (AllPairs/PPJoin family)
    — the recall-LOSSLESS alternative to MinHash banding for the same
    problem, and the third member of the near-dup candidate-generation
    family (inverted-index self-join = exact but Σ df(s)^2; LSH banding
    = near-linear but probabilistic recall; prefix filter = exact AND
    pruned).

    The theorem: order every doc's distinct shingle hashes by ONE global
    total order and keep only each doc's first |A| - ceil(t*|A|) + 1
    tokens (its *prefix*). Any pair with J(A,B) >= t must share a prefix
    token: J >= t implies |A∩B| >= t*|A|, but a pair sharing no A-prefix
    token has |A∩B| <= |A| - p_A = ceil(t*|A|) - 1 < t*|A| (and
    symmetrically for B). So joining PREFIXES on the token generates a
    candidate superset — zero recall loss, unlike banding — and exact
    posting-intersection verification (the same math as
    ngram_jaccard_pairs) removes the false positives.

    The global order is document frequency ASCENDING (ties by hash):
    prefixes keep each doc's RAREST tokens, so the candidate join's cost
    Σ_prefix-tokens df(s)^2 is concentrated where df is smallest — the
    pruning that makes AllPairs near-linear on Zipfian corpora. At
    100 TB: one df-count aggregation (token-keyed), one per-doc window
    to rank tokens (id-keyed exchange, same grain every shingle consumer
    shuffles on), a self-join bounded by rare-token buckets, then
    candidate-restricted verification. No parameter tuning, no recall
    accounting — when the pipeline must PROVE it found every pair
    (contamination/compliance sweeps), this replaces LSH.

    Output (id_a, id_b, jaccard) equals ngram_jaccard_pairs exactly
    (property-tested); jaccard is one int/int IEEE division.

    `posting` / `prefix` accept the PERSISTED artifact tables
    (ensure_postings / ensure_prefix_index) — per-doc content-determined
    values, same subset-equals-recompute property as the MinHash
    artifacts.
    """
    if posting is None:
        posting = _hashed_postings(df, k)
    if prefix is None:
        prefix = _prefix_index(posting, threshold)
    ranked = prefix
    pa = ranked.select(
        "h",
        F.col("id").alias("id_a"),
        F.col("pos").alias("pos_a"),
        F.col("n_sh").alias("n_a"),
    )
    pb = ranked.select(
        F.col("h").alias("h_b"),
        F.col("id").alias("id_b"),
        F.col("pos").alias("pos_b"),
        F.col("n_sh").alias("n_b"),
    )
    # Two further LOSSLESS prunes (PPJoin's length + positional filters),
    # applied per matched row before the pair dedup (measured at sf0.1:
    # 2.8M raw matches -> 665k rows -> 264k pairs at t=0.5):
    # - length: J >= t forces t*max(|A|,|B|) <= |A ∩ B| <= min(|A|,|B|);
    # - positional: for the pair's FIRST shared prefix token no common
    #   token precedes it in either doc (prefixes hold each doc's
    #   globally-smallest tokens, so an earlier common token would be an
    #   earlier shared prefix token), hence |A ∩ B| <= 1 + min(n_a -
    #   pos_a, n_b - pos_b); requiring that bound to reach the overlap
    #   floor alpha = ceil(t/(1+t)*(n_a+n_b)) can only drop rows whose
    #   pair, if true, keeps its first-token row (minimal positions =
    #   maximal bound).
    alpha = F.ceil(
        (F.col("n_a") + F.col("n_b")) * F.lit(threshold / (1.0 + threshold))
    )
    candidates = (
        pa.join(pb, (pa["h"] == pb["h_b"]) & (pa["id_a"] < pb["id_b"]))
        .filter(
            (F.col("n_b") >= F.ceil(F.col("n_a") * F.lit(threshold)))
            & (F.col("n_a") >= F.ceil(F.col("n_b") * F.lit(threshold)))
            & (
                1
                + F.least(
                    F.col("n_a") - F.col("pos_a"),
                    F.col("n_b") - F.col("pos_b"),
                )
                >= alpha
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return verify_exact_jaccard(candidates, posting, threshold)


# dedup_minhash_lsh's banding, which the streaming near-dup ingest shares
# so that the pairs it emits equal the batch operator's: 64 MinHash
# permutations in 16 bands of 4 rows, verified at Jaccard >= 0.5.
LSH_NUM_PERM = 64
LSH_BANDS = 16
LSH_THRESHOLD = 0.5


def minhash_signatures(df: DataFrame, k: int, num_perm: int) -> DataFrame:
    """(id, sig: array<bigint>[num_perm]) MinHash signatures over k-char
    shingles. Permutation i is min over shingles of xxhash64(h, seed=i)
    where h is the shingle's base hash — num_perm grouped MIN aggregates
    over the exploded posting stream (whole-stage codegen), one shuffle
    keyed by doc id. Duplicate shingles don't affect MIN, so the stream
    skips the distinct pass."""
    posting = exploded_shingles(df, "text", "doc_id", k).select(
        "id", F.xxhash64("shingle").alias("h")
    )
    sigs = posting.groupBy("id").agg(
        *[F.min(F.xxhash64("h", F.lit(i))).alias(f"m{i}") for i in range(num_perm)]
    )
    return sigs.select(
        "id", F.array(*[F.col(f"m{i}") for i in range(num_perm)]).alias("sig")
    )


def _banded_keys(sigs: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(id, band, bkey) — one row per LSH band; bkey hashes the band's
    signature slice, so docs sharing any (band, bkey) are candidates."""
    return sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col("sig")[b * rows_per_band + r]
                                for r in range(rows_per_band)
                            ]
                        ).alias("bkey"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "bk.band", "bk.bkey")


def _lsh_candidates(
    banded_a: DataFrame,
    banded_b: DataFrame,
    sigs_a: DataFrame,
    sigs_b: DataFrame,
    num_perm: int,
    jaccard: float,
    *,
    ordered: bool,
) -> DataFrame:
    """(id_a, id_b) MinHash-LSH candidates: distinct pairs of an a-side
    and a b-side doc that share a (band, bkey) (_banded_keys), kept only
    when their signatures agree in at least jaccard - 4 sigma of the
    num_perm positions. `ordered` restricts a self-join (the same table
    on both sides) to id_a < id_b; without it every a x b match counts.
    The one candidate generator of the batch self-join, the
    decontamination cross join and the streaming ingest's within-batch
    and batch-vs-history probes.

    The agreement gate matters on high-df corpora with aggressive
    banding: at r=2/b=32 this corpus yields ~34k candidates for ~256 true
    pairs at sf0.1, and exact verification pays per candidate.
    Signature agreement is already computed data and discards ~97% of
    candidates first. The 4-sigma margin keeps the gate's per-true-pair
    miss probability (~3e-5 at the threshold boundary, n=64) below the
    banding miss floor, so overall recall is unchanged."""
    a = banded_a.select("band", "bkey", F.col("id").alias("id_a"))
    b = banded_b.select(
        F.col("band").alias("band_b"),
        F.col("bkey").alias("bkey_b"),
        F.col("id").alias("id_b"),
    )
    on = (a["band"] == b["band_b"]) & (a["bkey"] == b["bkey_b"])
    if ordered:
        on = on & (a["id_a"] < b["id_b"])
    candidates = a.join(b, on).select("id_a", "id_b").distinct()
    est_floor = max(
        0.0, jaccard - 4.0 * math.sqrt(jaccard * (1.0 - jaccard) / num_perm)
    )
    # agreement count as an explicit num_perm-term codegen sum (array
    # getItem + equality — NOT an array HOF, NOT a Python kernel: at 34k
    # candidate rows the Arrow round-trip costs more than it saves).
    # Plain equi-joins on id: AQE broadcasts the signature side when it
    # fits (it does locally); at corpus scale both sides shuffle on id,
    # which is the right co-location anyway (signatures are ~520 bytes
    # per doc — never driver-collected, never forced broadcast).
    agree = sum(
        F.when(F.col("sig_a")[i] == F.col("sig_b")[i], 1).otherwise(0)
        for i in range(num_perm)
    )
    ga = sigs_a.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    gb = sigs_b.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    return (
        candidates.join(ga, "id_a")
        .join(gb, "id_b")
        .filter(agree >= math.ceil(est_floor * num_perm))
        .select("id_a", "id_b")
    )


def cross_containment_pairs(
    sigs_l: DataFrame,
    sigs_r: DataFrame,
    posting_l: DataFrame,
    posting_r: DataFrame,
    threshold: float,
    num_perm: int,
    bands: int,
) -> DataFrame:
    """Directional near-copy pairs ACROSS two corpora: (id_l, id_r,
    containment) with containment = |shingles(L) ∩ shingles(R)| /
    |shingles(L)| >= threshold — the decontamination kernel (left = training
    corpus, right = benchmark set). Each side is given by its signature
    and posting tables (ensure_minhash_signatures / ensure_postings, or a
    slice of them).

    Candidate generation is banded MinHash LSH across the two sides (the
    band join only ever crosses sides), then candidates are exact-verified
    by hash-set intersection (_overlap_counts), so output precision is
    exact. The direct cross posting join costs sum_s df_left(s)*df_right(s)
    — quadratic in document frequency and ~43 M intermediate rows on this
    high-df corpus at sf0.1 — while the banded path is linear in corpus
    size plus candidate count. Recall: a containment-τ pair of
    similarly-sized documents has Jaccard ≳ τ/(2-τ) (≥ 1/3 at τ=0.5),
    missed by r=2/b=32 banding with p ≤ (1-j²)^32 (≤ 2.6% at the j=1/3
    boundary, ~1e-14 for the near-identical copies decontamination
    targets); equality with the exhaustive DuckDB oracle is re-checked by
    tools/full_oracle_check.py. The signature-agreement gate is floored at that
    same similar-size Jaccard bound, so it leaves recall at the banding
    floor.
    """
    rows_per_band = num_perm // bands
    candidates = _lsh_candidates(
        _banded_keys(sigs_l, bands, rows_per_band),
        _banded_keys(sigs_r, bands, rows_per_band),
        sigs_l,
        sigs_r,
        num_perm,
        threshold / (2.0 - threshold),
        ordered=False,
    )
    return (
        _overlap_counts(candidates, posting_l, posting_r)
        .withColumn("containment", F.col("n_common") / F.col("n_a"))
        .filter(F.col("containment") >= threshold)
        .select(
            F.col("id_a").alias("id_l"), F.col("id_b").alias("id_r"), "containment"
        )
    )


def ensure_minhash_signatures(
    spark, df: DataFrame, sf_dir: str, k: int, num_perm: int = 64
) -> DataFrame:
    """Persisted MinHash signature table (id, sig) for a corpus — built
    once per (corpus, k, num_perm), then a ~520 B/doc parquet read. Every
    LSH consumer (pair entries, clustering, the cleaning pipeline) shares
    it; per-query recomputation re-scanned and re-hashed the corpus 5x per
    bench suite. THE persisted layer of a production MinHash pipeline."""
    from .artifacts import ensure_table

    return ensure_table(
        spark,
        sf_dir,
        f"minhash_k{k}_p{num_perm}",
        lambda: minhash_signatures(df, k, num_perm),
    )


def ensure_postings(spark, df: DataFrame, sf_dir: str, k: int) -> DataFrame:
    """Persisted distinct shingle-hash postings (id, h) — the inverted
    index that exact Jaccard verification joins on. Build-once twin of
    ensure_minhash_signatures."""
    from .artifacts import ensure_table

    return ensure_table(
        spark, sf_dir, f"postings_k{k}", lambda: _hashed_postings(df, k)
    )


def ensure_neardup_pairs(
    spark,
    df: DataFrame,
    sf_dir: str,
    k: int,
    num_perm: int = 64,
    bands: int = 32,
    threshold: float = 0.5,
) -> DataFrame:
    """Persisted exact-verified near-dup pair table (id_a, id_b, jaccard).

    One tier above signatures/postings in the build hierarchy: banding +
    agreement prefilter + exact shingle verification run ONCE per
    (corpus, k, num_perm, bands, threshold), and every downstream curation
    consumer (clustering, keeper selection, per-source contamination rates)
    reads the ~|pairs|-row parquet instead of re-joining band keys and
    re-verifying candidates per query. At 100 TB the verified pair list IS
    a pipeline build output — it feeds dedup decisions for every training
    run cut from the corpus — so recomputing it per query is the same
    mistake per-query codebook training was for PQ."""
    from .artifacts import ensure_table

    return ensure_table(
        spark,
        sf_dir,
        f"neardup_pairs_k{k}_p{num_perm}_b{bands}_t{threshold}",
        lambda: minhash_lsh_pairs(
            ensure_minhash_signatures(spark, df, sf_dir, k, num_perm),
            ensure_postings(spark, df, sf_dir, k),
            num_perm,
            bands,
            threshold,
        ),
    )


def ensure_neardup_components(
    spark,
    df: DataFrame,
    sf_dir: str,
    k: int,
    num_perm: int = 64,
    bands: int = 32,
    threshold: float = 0.5,
) -> DataFrame:
    """Persisted connected-component assignment (id, comp) over the
    persisted near-dup pair table. The iterative min-label propagation runs
    once per corpus build; `dedup_clusters` and `dedup_keeper_selection`
    read it, so cluster rollups and keeper selection are a single join
    away instead of each paying for the fixpoint's jobs."""
    from .artifacts import ensure_table

    return ensure_table(
        spark,
        sf_dir,
        f"neardup_comp_k{k}_p{num_perm}_b{bands}_t{threshold}",
        lambda: connected_components(
            ensure_neardup_pairs(spark, df, sf_dir, k, num_perm, bands, threshold)
        ),
    )


def minhash_lsh_pairs(
    sigs: DataFrame,
    posting: DataFrame,
    num_perm: int,
    bands: int,
    threshold: float,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH, verified exactly.

    1. Explode the signatures into `bands` band-keys; docs sharing any
    band key become candidates (equi-join on the band key — its key space
    is uniform by construction). 2. Candidates whose estimated Jaccard
    (signature agreement fraction) clears threshold - 4 sigma
    (_lsh_candidates) are 3. verified with exact shingle-intersection
    Jaccard (verify_exact_jaccard), so the output has no false positives;
    LSH parameters control only recall/cost.

    `sigs` / `posting` are the PERSISTED artifact tables
    (ensure_minhash_signatures / ensure_postings), optionally pre-filtered
    to a subset of ids — signatures and postings are per-doc,
    content-determined values, so a subset slice of the corpus artifact
    equals recomputation on the subset.

    Returns (id_a, id_b, jaccard).
    """
    banded = _banded_keys(sigs, bands, num_perm // bands)
    candidates = _lsh_candidates(
        banded, banded, sigs, sigs, num_perm, threshold, ordered=True
    )
    # No .cache() on the posting stream: ReuseExchange shares the shuffle
    # across branches, and caching measured slower + leaked storage.
    return verify_exact_jaccard(candidates, posting, threshold)


def checkpoint_observed(
    df: DataFrame, **metrics: Column
) -> tuple[DataFrame, dict]:
    """Eagerly localCheckpoint `df` and return it with `metrics` (named
    aggregates over its rows, e.g. ``n=F.count(F.lit(1))``). The metrics
    ride the checkpoint's own job as an Observation, so a fixpoint loop
    reads its convergence test without a second job over the table."""
    obs = Observation()
    observed = df.observe(obs, *(m.alias(n) for n, m in metrics.items()))
    return observed.localCheckpoint(eager=True), obs.get


# superstep cap for connected_components; near-dup graphs converge in 2-3
_CC_MAX_SUPERSTEPS = 25


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Connected components over an undirected edge list by iterative
    min-label propagation: comp(v) <- min(comp(v), min over neighbors u of
    comp(u)) until fixpoint. Returns (id, comp) where comp is the minimum
    node id in v's component — the canonical cluster id for dedup (every
    member of a near-dup cluster maps to the same keeper).

    Scale shape: the first superstep starts from comp(v) = v, so it is one
    grouped aggregate over the symmetric edges, comp(v) = least(v, min
    over N(v)). Each later superstep is one shuffle join (edges x labels)
    + one grouped MIN + one outer merge — all relational, whole-stage
    codegen. Labels are eagerly localCheckpoint-ed every superstep so the
    plan/lineage stays O(1) deep instead of growing by three operators per
    iteration (without truncation the fixpoint loop re-executes every
    prior superstep and analysis cost grows quadratically). Convergence
    needs O(diameter) supersteps; near-dup graphs are overwhelmingly
    pairs/stars (diameter 1-2), so 2-3 supersteps in practice; the loop
    stops after _CC_MAX_SUPERSTEPS. Adversarial long chains would want an
    O(log n)-round alternating large-star/small-star contraction (Kiveris
    et al.), but a superstep (one shuffle join and one grouped MIN) is
    cheaper than a star round (two of each plus a distinct), which wins
    whenever the diameter is small — the near-dup regime. A node whose
    only edge is a self-loop keeps its own id as its label.

    This is deliberately an iterative driver-side loop — the one operator
    family (transitive closure) that a single declarative plan cannot
    express. Each superstep's count of changed labels is an Observation
    on its checkpoint, so convergence costs no job of its own.
    """
    # Materialize the edge list ONCE, before symmetrizing: every superstep
    # joins against it, and without truncation each iteration (and both
    # union branches) would re-execute the full upstream edge-producing
    # plan (e.g. the entire MinHash-LSH pipeline) from scratch.
    e = edges.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).localCheckpoint(eager=True)
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels, seen = checkpoint_observed(
        sym.groupBy("src")
        .agg(F.min("dst").alias("nbr_min"))
        .select(
            F.col("src").alias("id"),
            F.least(F.col("src"), F.col("nbr_min")).alias("comp"),
        ),
        changed=F.count(F.when(F.col("comp") < F.col("id"), 1)),
    )
    for _ in range(_CC_MAX_SUPERSTEPS - 1):
        if seen["changed"] == 0:
            break
        nbr_min = (
            sym.join(
                labels.select(
                    F.col("id").alias("dst"), F.col("comp").alias("c_dst")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("c_dst").alias("nbr_min"))
        )
        merged, seen = checkpoint_observed(
            labels.join(nbr_min, labels["id"] == nbr_min["src"], "left").select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce("nbr_min", F.col("comp"))
                ).alias("comp"),
                (F.col("nbr_min") < F.col("comp")).alias("_changed"),
            ),
            changed=F.count(F.when(F.col("_changed"), 1)),
        )
        labels = merged.select("id", "comp")
    return labels


def simhash64(
    df: DataFrame,
    k: int = 5,
) -> DataFrame:
    """64-bit SimHash per document: sign-sum of shingle hash bits.

    The 64 bit-votes are relational SUM aggregates over the exploded shingle
    stream; bit b of the result is 1 iff more than half the shingles have
    bit b set. Near-dup docs differ in few bits (compare with
    bit_count(a ^ b)).

    Term-frequency semantics (the classic Charikar/Manku weighting): votes
    run over the raw shingle stream, each shingle weighted by its
    occurrence count, so there is no distinct pass: partial aggregation
    collapses each document map-side (doc rows are generated contiguously
    by the explode), and the ONLY exchange carries ~65 longs per document
    regardless of document size. Shingles hash with md5_hash64, which
    DuckDB reproduces bit for bit, so the catalog entry is hash-checked.

    Returns (id, simhash)."""
    sh = exploded_shingles(df, "text", "doc_id", k)
    posting = sh.select("id", md5_hash64("shingle").alias("h"))
    # r12 (optimization): TWO bit-votes per SUM, packed in 32-bit lanes.
    # The 64 independent `sum((h >> b) & 1)` aggregates were the
    # measured cost of this operator (1.97 s of the 2.86 s query at
    # sf0.1 — per-row aggregation work, guide §1.2 step 2); masking with
    # 0x0000000100000001 extracts bit b into lane 0 and bit b+32 into
    # lane 1 of one long, so 32 sums accumulate all 64 counts. Lane
    # extraction is exact for b in 0..31 (the arithmetic-shift sign fill
    # only reaches original bit positions > 63), lanes cannot carry into
    # each other while each count < 2^32, and the packed SUM stays below
    # 2^63 while a document has < 2^31 shingles — far past any real
    # document, and ANSI mode (pinned session-wide) turns a violation
    # into a loud error, never a silent wrong vote. Unpacked votes are
    # bit-identical to the 64-sum form, so the oracle twin is untouched.
    _LANES = F.lit(0x0000000100000001)
    votes = posting.groupBy("id").agg(
        F.count("*").alias("n"),
        *[
            F.sum(F.shiftright("h", b).bitwiseAND(_LANES)).alias(f"p{b}")
            for b in range(32)
        ],
    )
    sim = None
    for b in range(64):
        v = (
            F.col(f"p{b}").bitwiseAND(F.lit(0xFFFFFFFF))
            if b < 32
            else F.shiftright(F.col(f"p{b - 32}"), 32)
        )
        bit = F.when(v * 2 > F.col("n"), F.lit(1)).otherwise(F.lit(0)).cast(
            "long"
        )
        term = F.shiftleft(bit, b)
        sim = term if sim is None else sim.bitwiseOR(term)
    return votes.select("id", sim.alias("simhash"))


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    planes: int | str = 8,
    bucketings: int = 1,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine >= threshold.

    Random-hyperplane LSH bucketing: each vector gets a `planes`-bit sign
    key from a fixed deterministic hyperplane matrix; exact cosine is
    computed only within buckets, so the pair join never goes all-pairs.
    A pair at angle theta collides with probability p = (1-theta/pi)^planes
    per bucketing (~0.9 at tau=0.95, planes=8).

    planes="auto" sizes 2^planes to the corpus (one count() job) via
    similarity.auto_planes, bounding the expected within-bucket population
    (and therefore the bucket-join quadratic) at any scale.

    bucketings=R unions candidates from R independent hyperplane draws
    before scoring: recall becomes 1-(1-p)^R at R× the candidate-join cost
    — the way to buy recall back after auto_planes raises the plane count
    (rather than coarsening buckets and re-exploding the quadratic).
    Candidate pairs are deduplicated across draws before the cosine kernel
    runs, so each surviving pair is scored exactly once.

    Vector math is Arrow-batched numpy (similarity.unit_vector /
    pair_dot): vectors are normalized ONCE before the join, so the
    within-bucket cosine is a bare dot product — no interpreted array HOFs
    (round-1 trap), no per-pair norm recomputation.
    Returns (id_a, id_b, cosine).
    """
    from .similarity import auto_planes, pair_dot, sign_bucket, unit_vector

    if planes == "auto":
        planes = auto_planes(df.count())
    if bucketings == 1:
        vecs = df.select(
            F.col("vec_id").alias("id"),
            unit_vector("embedding").alias("u"),
            sign_bucket("embedding", planes).alias("bucket"),
        )
        a = vecs.select("bucket", F.col("id").alias("id_a"), F.col("u").alias("u_a"))
        b_ = vecs.select(
            F.col("bucket").alias("bucket_b"),
            F.col("id").alias("id_b"),
            F.col("u").alias("u_b"),
        )
        return (
            a.join(b_, (a["bucket"] == b_["bucket_b"]) & (a["id_a"] < b_["id_b"]))
            .withColumn("cosine", pair_dot("u_a", "u_b"))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine")
        )
    # multi-draw: thin candidate pairs per draw, distinct across draws,
    # then one join-back for the unit vectors and one scoring pass
    ids = df.select(F.col("vec_id").alias("id"), F.col("embedding").alias("__v"))
    cand = None
    for r in range(bucketings):
        br = ids.select("id", sign_bucket("__v", planes, draw=r).alias("bk"))
        a = br.select("bk", F.col("id").alias("id_a"))
        b_ = br.select(F.col("bk").alias("bk_b"), F.col("id").alias("id_b"))
        pairs_r = a.join(
            b_, (a["bk"] == b_["bk_b"]) & (a["id_a"] < b_["id_b"])
        ).select("id_a", "id_b")
        cand = pairs_r if cand is None else cand.unionByName(pairs_r)
    cand = cand.distinct()
    units = df.select(F.col("vec_id").alias("id"), unit_vector("embedding").alias("u"))
    ua = units.select(F.col("id").alias("id_a"), F.col("u").alias("u_a"))
    ub = units.select(F.col("id").alias("id_b"), F.col("u").alias("u_b"))
    return (
        cand.join(ua, "id_a")
        .join(ub, "id_b")
        .withColumn("cosine", pair_dot("u_a", "u_b"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# Exact repeated-substring detection (suffix-array-style substring dedup,
# re-expressed relationally). Reference scope: the reference engine has no
# substring operator; this extends the dedup family for training-data
# pipelines (cf. "Deduplicating Training Data Makes Language Models Better",
# Lee et al. 2022 — their suffix-array ExactSubstr; here the same maximal
# shared spans are recovered with a positional-shingle equi-join + island
# merge, which distributes as two narrow shuffles instead of a monolithic
# suffix array).
# ---------------------------------------------------------------------------


def _positional_token_shingles(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(_id, pos, h): md5 of the k-token shingle starting at 1-based token
    position ``pos``. Tokenization is whitespace-normalized split, identical
    to the DuckDB oracle's string_split(trim(regexp_replace(...))).

    Built with lead() windows over posexplode'd tokens rather than array
    higher-order functions: one exchange (by doc), everything inside
    whole-stage codegen. Shuffles carry the 16-byte digest, never the
    shingle text."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.split(F.trim(F.regexp_replace(text_col, r"\s+", " ")), " ")
        ).alias("pos0", "tok"),
    )
    w = Window.partitionBy("_id").orderBy("pos0")
    parts = [F.col("tok").alias("t0")] + [
        F.lead("tok", i).over(w).alias(f"t{i}") for i in range(1, k)
    ]
    return (
        toks.select("_id", (F.col("pos0") + F.lit(1)).alias("pos"), *parts)
        .where(F.col(f"t{k - 1}").isNotNull())
        .select(
            "_id",
            "pos",
            F.md5(F.concat_ws(" ", *[f"t{i}" for i in range(k)])).alias("h"),
        )
    )


def ensure_positional_shingles(spark, df: DataFrame, sf_dir: str, k: int) -> DataFrame:
    """Persisted positional shingle table (_id, pos, h) — the substring-
    dedup twin of ensure_postings (which is position-less). All three
    span entries (spans / coverage / redact) consume it, so the corpus is
    tokenized + lead-windowed ONCE per (corpus, k) instead of once per
    plan reference (substring_spans alone references the shingle subtree
    twice — Catalyst cannot ReuseExchange across its differently-aliased
    self-join sides)."""
    from .artifacts import ensure_table

    return ensure_table(
        spark,
        sf_dir,
        f"posshingle_k{k}",
        lambda: _positional_token_shingles(df, "text", "doc_id", k),
    )


def substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Maximal token spans (length >= k) shared verbatim between document
    pairs: (doc_a, doc_b, a_start, a_end, b_start, b_end, span_tokens),
    positions 1-based inclusive, doc_a < doc_b.

    Plan: positional k-shingles -> self-equi-join on the shingle digest ->
    runs of consecutive matches at constant offset (pa - pb) collapse into
    maximal spans via the classic gaps-and-islands trick (pa minus its
    row_number within (pair, offset) is constant exactly on a run).
    Shuffle ledger: one exchange keyed by doc for the lead() windows, one
    self-join exchange on the digest (both sides share the subtree —
    ReuseExchange), one exchange on (doc_a, doc_b, offset) whose hash
    partitioning the final aggregate reuses (grouping keys are a superset).
    At 100 TB the digest join is the standard inverted-index plan: cost is
    sum of squares of digest bucket sizes, linear on de-duplicated corpora;
    truly pathological shingles (boilerplate) should be df-capped upstream
    by the caller before the join — exactness here is the contract, so no
    silent cap is applied.

    ``sh`` (optional): a precomputed (_id, pos, h) positional-shingle
    table (ensure_positional_shingles) — without it the shingle subtree
    is built inline and evaluated once per self-join side."""
    from pyspark.sql import Window

    if sh is None:
        sh = _positional_token_shingles(df, text_col, id_col, k)
    a = sh.select(F.col("_id").alias("doc_a"), F.col("pos").alias("pa"), "h")
    b = sh.select(
        F.col("_id").alias("doc_b"), F.col("pos").alias("pb"), F.col("h").alias("hb")
    )
    cand = a.join(b, (a["h"] == b["hb"]) & (a["doc_a"] < b["doc_b"])).select(
        "doc_a", "doc_b", "pa", "pb", (F.col("pa") - F.col("pb")).alias("off")
    )
    w2 = Window.partitionBy("doc_a", "doc_b", "off").orderBy("pa")
    isl = cand.withColumn("grp", F.col("pa") - F.row_number().over(w2))
    return (
        isl.groupBy("doc_a", "doc_b", "off", "grp")
        .agg(
            F.min("pa").alias("a_start"),
            (F.max("pa") + F.lit(k - 1)).alias("a_end"),
            F.min("pb").alias("b_start"),
            (F.max("pb") + F.lit(k - 1)).alias("b_end"),
            (F.max("pa") - F.min("pa") + F.lit(k)).alias("span_tokens"),
        )
        .select(
            "doc_a", "doc_b", "a_start", "a_end", "b_start", "b_end", "span_tokens"
        )
    )


def shared_shingle_coverage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Per-document duplicated-text exposure: of the doc's k-token shingles,
    how many also occur in at least one OTHER document. Returns
    (doc_id, n_shingles, n_shared, shared_ratio), ratio an exact single
    int/int division (cross-engine bit-stable; no float aggregation).

    This is the per-doc rollup of substring_spans — the number a filtering
    pipeline thresholds on ("drop docs >50% duplicated"). A shingle value
    is "shared" for doc d iff some other doc holds it; min/max of _id OVER
    a digest-partitioned window answers that per row with NO join at all
    (the first formulation joined the corpus-sized shingle stream against
    its own digest aggregate — a join Spark is then tempted to broadcast
    at estimate time, which dies at real scale). One digest-keyed exchange
    + one doc-keyed aggregate, both linear."""
    from pyspark.sql import Window

    if sh is None:
        sh = _positional_token_shingles(df, text_col, id_col, k)
    wd = Window.partitionBy("h")
    flagged = sh.select(
        "_id",
        (
            (F.min("_id").over(wd) != F.col("_id"))
            | (F.max("_id").over(wd) != F.col("_id"))
        ).cast("long").alias("is_shared"),
    )
    return (
        flagged.groupBy(F.col("_id").alias("doc_id"))
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum("is_shared").alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_shared",
            F.round(F.col("n_shared") / F.col("n_shingles"), 9).alias(
                "shared_ratio"
            ),
        )
    )


def redact_shared_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    sh: DataFrame | None = None,
) -> DataFrame:
    """The transform half of ExactSubstr dedup: rebuild each affected
    document with its duplicated spans REMOVED, keeping the first
    occurrence (the lower-id doc of every span keeps its text; the
    higher-id doc loses tokens b_start..b_end). Returns one row per
    affected doc: (doc_id, n_tokens_before, n_tokens_after,
    redacted_text) — redacted_text NULL when the doc was 100% duplicated.

    Removed positions are materialized as a DISTINCT (doc, pos) set via
    explode(sequence(b_start, b_end)) before flagging, so overlapping
    spans from different partner docs never double-count a token, and the
    flag join is a plain equi-join (no per-token EXISTS probe).
    Reassembly is listagg(...) WITHIN GROUP (ORDER BY pos) — order-pinned,
    engine-parity with DuckDB's string_agg(... ORDER BY pos); aggregate
    NULL-skipping drops the removed tokens from the rebuilt string."""
    spans = substring_spans(df, text_col, id_col, k, sh=sh)
    ranges = spans.select(
        F.col("doc_b").alias("_rid"), "b_start", "b_end"
    )
    removed = (
        ranges.select(
            "_rid",
            F.explode(F.sequence("b_start", "b_end")).alias("rpos"),
        )
        .distinct()
    )
    toks = (
        df.join(
            ranges.select(F.col("_rid").alias(id_col)).distinct(),
            id_col,
            "left_semi",
        )
        .select(
            F.col(id_col).alias("_id"),
            F.posexplode(
                F.split(F.trim(F.regexp_replace(text_col, r"\s+", " ")), " ")
            ).alias("pos0", "tok"),
        )
        .select("_id", (F.col("pos0") + F.lit(1)).alias("pos"), "tok")
    )
    flagged = toks.join(
        removed,
        (toks["_id"] == removed["_rid"]) & (toks["pos"] == removed["rpos"]),
        "left",
    ).select(
        "_id",
        "pos",
        "tok",
        F.col("rpos").isNotNull().cast("int").alias("is_removed"),
    )
    return (
        flagged.groupBy(F.col("_id").alias("doc_id"))
        .agg(
            F.count("*").alias("n_tokens_before"),
            F.sum(F.lit(1) - F.col("is_removed")).alias("n_tokens_after"),
            F.expr(
                "listagg(CASE WHEN is_removed = 0 THEN tok END, ' ') "
                "WITHIN GROUP (ORDER BY pos)"
            ).alias("redacted_text"),
        )
    )
