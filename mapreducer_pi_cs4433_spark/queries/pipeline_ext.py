"""Round-3 pipeline extensions: time-series repair, corpus curation, and
join-key diagnostics.

Beyond-reference operators (SURVEY.md §7 M6 charter) that a production
training-data pipeline needs and the earlier suites did not yet cover:

- ``events_gap_fill`` / ``events_new_users_daily`` — time-series repair and
  accretion reporting over the ``events`` stream table.
- ``text_chunk_windows`` — sliding-window RAG chunking, pure codegen.
- ``mixture_token_budget_fill`` — per-domain token-budget corpus sampling.
- ``text_ngram_novelty`` — per-document novelty vs the corpus (the inverse
  of boilerplate/near-dup coverage).
- ``diagnose_custkey_skew`` — heavy-key diagnostics for a join key
  (the pre-flight a skew-aware planner needs; operators/skew.py is the
  mitigation, this is the measurement).
- ``er_fuzzy_name_pairs`` / ``er_fuzzy_resolution`` — blocked fuzzy
  entity-matching on a distinct dimension (dedupe the dimension, never the
  fact table), contracted to canonical entities by connected components.
- ``text_bpe_merges`` — distributed BPE tokenizer training (merge table).
- ``embedding_dim_stats`` — exact per-dimension feature statistics.
- ``text_source_divergence`` — exact TVD drift per source vs the corpus.
- ``multimodal_frame_sample`` — binary frame-slice sampling, oracle-checked.
- ``dedup_chunk_exact`` — keeper-flagged chunk-level dedup over the chunker.
- ``split_leakage_safe`` — train/heldout carve keyed on near-dup CLUSTER ids.
- ``text_bpe_encode_stats`` — apply the learned merges; compression report.
- ``sample_quality_weighted`` — RNG-free weighted admission (int64 compare).
- ``events_funnel_windowed`` — stage-anchored 24h-window conversion funnel.
- ``events_decayed_type_scores`` — exact power-of-2 decay trending scores.
- ``orders_backlog_sweep`` — concurrent-intervals sweep line (+1/-1 deltas).

Every query follows the cross-engine determinism rules in catalog.py:
integer/string outputs only, identical aliases in both engines, total
deterministic order for any top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text
from .catalog import _fmt_doc, _t, query

# ---------------------------------------------------------------------------
# Time-series repair / reporting over `events`
# ---------------------------------------------------------------------------


@query(
    "events_gap_fill",
    oracle="""
    WITH c AS (
        SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
        FROM events GROUP BY 1, 2
    ), s AS (
        SELECT event_type, min(h) AS h0, max(h) AS h1 FROM c GROUP BY 1
    ), hrs AS (
        SELECT event_type,
               unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        FROM s
    )
    SELECT hrs.event_type,
           strftime(hrs.h, '%Y-%m-%d %H:%M:%S') AS hour_bucket,
           coalesce(c.n, 0)::BIGINT AS n_events,
           CAST(c.n IS NULL AS INT) AS is_gap
    FROM hrs LEFT JOIN c ON hrs.event_type = c.event_type AND hrs.h = c.h
    """,
)
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly series per event type: every hour in each type's
    [first, last] range appears, absent hours zero-filled and flagged.

    Scale shape: the raw scan aggregates down to (type, hour) grain FIRST;
    the generated hour spine and the left join both run on that aggregate
    (types x hours rows, never event rows), so the only full-data cost is
    the one groupBy shuffle. `sequence()` is per-type and bounded by the
    corpus time range — no driver-side calendar materialization.
    """
    events = _t(spark, sf_dir, "events")
    # The (type, hour) aggregate feeds BOTH the span min/max and the join
    # probe; the two consumers' subtrees differ enough that ReuseExchange
    # does NOT fire (verified on the executed plan), so without
    # materialization the raw events scan + shuffle runs twice. The
    # aggregate is types x hours rows — tiny at any corpus scale.
    counts = (
        events.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count("*").alias("n_events"))
        .localCheckpoint()
    )
    spans = counts.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    hours = spans.select(
        "event_type",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    return hours.join(counts, ["event_type", "h"], "left").select(
        "event_type",
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour_bucket"),
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        F.col("n_events").isNull().cast("int").alias("is_gap"),
    )


@query(
    "events_new_users_daily",
    oracle="""
    WITH f AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS d FROM events GROUP BY 1
    ), dly AS (
        SELECT d, count(*) AS new_users FROM f GROUP BY 1
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           new_users::BIGINT AS new_users,
           sum(new_users) OVER (
               ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           )::BIGINT AS cum_users
    FROM dly
    """,
)
def events_new_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-accretion curve: users counted on their first-seen day, plus the
    running total.

    Scale shape: first-seen is a grouped MIN over the raw scan (the only
    event-sized shuffle); the running-total window runs on the day-grain
    aggregate — a table bounded by the corpus's day count, so the
    single-partition ordered window is a few hundred rows at any data
    scale, never a scalability cliff.
    """
    events = _t(spark, sf_dir, "events")
    first = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    daily = first.groupBy("first_day").agg(F.count("*").alias("new_users"))
    w = (
        Window.orderBy("first_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        F.date_format("first_day", "yyyy-MM-dd").alias("day"),
        F.col("new_users").cast("long").alias("new_users"),
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    )


# ---------------------------------------------------------------------------
# RAG chunking + corpus curation over `documents`
# ---------------------------------------------------------------------------

_CHUNK_W = 16  # tokens per chunk
_CHUNK_S = 8  # stride (W - S = 8 tokens of overlap between chunks)


@query(
    "text_chunk_windows",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents
    ), c AS (
        SELECT doc_id, toks,
               unnest(generate_series(0,
                   CASE WHEN len(toks) <= {_CHUNK_W} THEN 0
                        ELSE (len(toks) - {_CHUNK_W} + {_CHUNK_S} - 1)
                             // {_CHUNK_S} END)) AS chunk_idx
        FROM t
    )
    SELECT doc_id,
           chunk_idx::BIGINT AS chunk_idx,
           (chunk_idx * {_CHUNK_S})::BIGINT AS start_tok,
           len(list_slice(toks, chunk_idx * {_CHUNK_S} + 1,
                          chunk_idx * {_CHUNK_S} + {_CHUNK_W}))::BIGINT
               AS n_tok,
           md5(array_to_string(
               list_slice(toks, chunk_idx * {_CHUNK_S} + 1,
                          chunk_idx * {_CHUNK_S} + {_CHUNK_W}), ' '))
               AS chunk_hash
    FROM c
    """,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window RAG chunking: W={W}-token chunks at stride {S}, each
    with its token offset and a content hash (the retrieval-index key).

    Scale shape: scan -> project -> generate -> project, zero shuffles and
    zero Python — tokenization is one `split`, windows come from
    `sequence`+`explode`, and chunk text is `slice`+`array_join` (all
    codegen expressions, no interpreted HOFs). The short-document edge
    (n <= W) emits exactly one chunk; the final window is allowed to run
    short rather than re-reading the tail twice.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = docs.select(
        "doc_id", toks.alias("toks"), F.size(toks).alias("n")
    )
    chunks = base.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(
                F.lit(0),
                F.when(F.col("n") <= _CHUNK_W, F.lit(0)).otherwise(
                    F.expr(
                        f"(n - {_CHUNK_W} + {_CHUNK_S} - 1) div {_CHUNK_S}"
                    )
                ),
            )
        ).alias("chunk_idx"),
    )
    sl = F.expr(
        f"slice(toks, chunk_idx * {_CHUNK_S} + 1, {_CHUNK_W})"
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        (F.col("chunk_idx") * _CHUNK_S).cast("long").alias("start_tok"),
        F.size(sl).cast("long").alias("n_tok"),
        F.md5(F.array_join(sl, " ")).alias("chunk_hash"),
    )


_fmt_doc(text_chunk_windows, W=_CHUNK_W, S=_CHUNK_S)


_MIXTURE_BUDGET = 100  # tokens admitted per source before the gate closes


@query(
    "mixture_token_budget_fill",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, source,
               len(list_filter(regexp_split_to_array(text, '\\s+'),
                               t -> t <> ''))::BIGINT AS n_tokens,
               md5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents
    ), c AS (
        SELECT doc_id, source, n_tokens,
               sum(n_tokens) OVER (
                   PARTITION BY source ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_tokens
        FROM d
    )
    SELECT source, doc_id, n_tokens, cum_tokens::BIGINT AS cum_tokens
    FROM c WHERE cum_tokens - n_tokens < {_MIXTURE_BUDGET}
    """,
)
def mixture_token_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain token-budget sampling: admit documents in deterministic
    hash order until each source has contributed ~{B} tokens (the document
    that crosses the budget line is kept — budgets fill past, never short).

    This is the "mix N tokens of web, M of code" primitive of pretraining
    corpus assembly, expressed without RNG: the admission order is
    md5(doc_id), so re-runs, retries, and different cluster sizes select
    the SAME documents. Scale shape: one shuffle (partitionBy source) and a
    per-source running sum; skew is bounded by documents-per-source, and
    the window carries only (id, source, count, hash) — never text.
    """
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        text.token_count("text").cast("long").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") - F.col("n_tokens") < _MIXTURE_BUDGET)
        .select(
            "source",
            "doc_id",
            "n_tokens",
            F.col("cum_tokens").cast("long").alias("cum_tokens"),
        )
    )


_fmt_doc(mixture_token_budget_fill, B=_MIXTURE_BUDGET)


@query(
    "text_ngram_novelty",
    oracle="""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents
    ), pos AS (
        SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - 2)) AS i
        FROM t WHERE len(toks) >= 3
    ), g AS (
        SELECT DISTINCT doc_id,
               md5(array_to_string(list_slice(toks, i, i + 2), ' ')) AS gram
        FROM pos
    ), dfc AS (
        SELECT gram, count(*) AS df FROM g GROUP BY 1
    )
    SELECT doc_id,
           count(*)::BIGINT AS n_grams,
           sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unique,
           (sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1000000
            // count(*))::BIGINT AS novelty_ppm
    FROM g JOIN dfc USING (gram)
    GROUP BY doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a document's distinct word
    3-grams that occur in NO other document (df == 1 across the corpus).
    High novelty = unique content; low novelty = boilerplate / near-dup
    material — the inverse signal of the dedup_span_coverage family.

    Scale shape: grams are md5-hashed BEFORE the distinct and the df
    shuffle (the round-2 posting-stream idiom — 16-byte keys on the wire,
    never gram text), df counting is a grouped count on distinct
    (doc, gram) pairs, and the novelty score is integer-exact
    (ppm by integer division — no float summation in the output).
    """
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = docs.select(
        "doc_id", toks.alias("toks"), F.size(toks).alias("n")
    ).filter(F.col("n") >= 3)
    # Explode amplification under-parallelizes small corpora (the
    # exploded_shingles lesson: one parquet split = one core); repartition
    # only when the scan yields fewer splits than cores — no-ops at real
    # corpus scale.
    target = spark.sparkContext.defaultParallelism
    if base.rdd.getNumPartitions() < target:
        base = base.repartition(target)
    grams = (
        base.select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(1), F.col("n") - 2)).alias("i"),
        )
        .select(
            "doc_id",
            F.md5(F.array_join(F.expr("slice(toks, i, 3)"), " ")).alias(
                "gram"
            ),
        )
        .distinct()
        # grams feeds BOTH the df count and the join probe side; the two
        # differently-consumed subtrees defeat ReuseExchange, so without
        # materialization the scan+explode+distinct runs twice (the
        # triangle-count lesson). At cluster scale this is the persisted
        # gram-posting table (functions/artifacts.py lifecycle).
        .localCheckpoint()
    )
    # r12 (optimization): the old tail joined the corpus-sized gram table
    # back onto its own df count (a gram-keyed shuffle of every (doc,
    # gram) row plus a doc-keyed re-aggregation of the join output —
    # the widest exchanges in the plan) only to count each doc's df==1
    # grams. But a df==1 gram has exactly ONE owner, so the gram-grain
    # aggregate can carry it: min(doc_id) identifies the owner precisely
    # when df==1, making n_unique a doc-keyed count over the (tiny)
    # unique-gram slice. The corpus-sized join never happens; the two
    # aggregates read the one checkpointed gram table, and the final
    # join is doc-grain vs doc-grain (AQE broadcasts the unique side).
    per_doc = grams.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_grams")
    )
    uniq = (
        grams.groupBy("gram")
        .agg(F.count("*").alias("df"), F.min("doc_id").alias("doc_id"))
        .filter(F.col("df") == 1)
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_unique"))
    )
    return (
        per_doc.join(uniq, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_unique"), F.lit(0))
            .cast("long")
            .alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_unique",
            F.expr("n_unique * 1000000 div n_grams")
            .cast("long")
            .alias("novelty_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Join-key skew diagnostics + fuzzy dimension matching
# ---------------------------------------------------------------------------


@query(
    "diagnose_custkey_skew",
    oracle="""
    WITH pk AS (
        SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY 1
    ), t AS (
        SELECT count(*) AS n_keys, sum(cnt) AS total_rows FROM pk
    )
    SELECT o_custkey,
           cnt::BIGINT AS cnt,
           (cnt * 1000000 // total_rows)::BIGINT AS share_ppm,
           (cnt * n_keys * 1000 // total_rows)::BIGINT AS vs_mean_x1000
    FROM pk, t
    ORDER BY cnt DESC, o_custkey
    LIMIT 10
    """,
)
def diagnose_custkey_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter profile of a join key (orders.o_custkey): the 10
    heaviest keys with their corpus share (ppm) and their multiple of the
    mean key load (x1000, integer-exact). This is the measurement side of
    skew mitigation — operators/skew.py's salting is what you reach for
    when vs_mean_x1000 says a key dominates its shuffle partition.

    Scale shape: grouped count (the only full-data shuffle) -> TakeOrdered
    top-10 (no global sort) -> crossJoin of the 1-row totals aggregate
    (broadcast, the SURVEY §2 C2 idiom). Ties break on the key, so the
    top-10 is total-order deterministic. The key-sized aggregate feeds
    BOTH the totals row and the top-10, so it is localCheckpoint-ed —
    without it each consumer re-runs the orders scan+shuffle (the
    events_funnel_windowed dual-consumer rule; ADVICE r4 flagged the
    double scan).
    """
    orders = _t(spark, sf_dir, "orders")
    per_key = (
        orders.groupBy("o_custkey")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint()
    )
    totals = per_key.agg(
        F.count("*").alias("n_keys"), F.sum("cnt").alias("total_rows")
    )
    top = per_key.orderBy(F.desc("cnt"), F.asc("o_custkey")).limit(10)
    return top.crossJoin(F.broadcast(totals)).select(
        "o_custkey",
        F.col("cnt").cast("long").alias("cnt"),
        F.expr("cnt * 1000000 div total_rows").cast("long").alias("share_ppm"),
        F.expr("cnt * n_keys * 1000 div total_rows")
        .cast("long")
        .alias("vs_mean_x1000"),
    )


_ER_MAX_EDIT = 4


@query(
    "er_fuzzy_name_pairs",
    oracle=f"""
    WITH n AS (
        SELECT p_name, count(*) AS n_listings FROM part GROUP BY 1
    ), k AS (
        SELECT p_name, n_listings,
               string_split(p_name, ' ')[-1] AS blk
        FROM n
    )
    SELECT a.p_name AS name_a,
           b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name)::INT AS edit_dist,
           (a.n_listings + b.n_listings)::BIGINT AS pair_listings
    FROM k a JOIN k b ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= {_ER_MAX_EDIT}
    """,
)
def er_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity matching on the part-name dimension: candidate
    name pairs within an edit distance of {M}, blocked on the head noun
    (the last name token) so no cartesian pairing ever forms.

    The entity-resolution shape that scales: DISTINCT the dimension first
    (64 names here vs 2k listings; at 100 TB, distinct dimension strings
    are orders of magnitude smaller than the fact table), then
    fuzzy-self-join ONLY the dimension inside equi-join blocks, then
    semi-join survivors back to facts if needed. Levenshtein runs
    (|a|x|b|) per candidate pair — affordable exactly because blocking
    keeps candidates per block tiny; the fact table never touches it.
    """
    part = _t(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(F.count("*").alias("n_listings"))
    keyed = names.select(
        "p_name",
        "n_listings",
        F.element_at(F.split("p_name", " "), -1).alias("blk"),
    )
    a = keyed.select(
        F.col("p_name").alias("name_a"),
        F.col("n_listings").alias("listings_a"),
        "blk",
    )
    b = keyed.select(
        F.col("p_name").alias("name_b"),
        F.col("n_listings").alias("listings_b"),
        "blk",
    )
    # r13 (optimization, guide §3 candidate pruning / §1.2 per-task
    # work): THRESHOLDED levenshtein. The 3-arg form runs the banded
    # O(threshold x n) DP with early exit (including the free
    # |len(a)-len(b)| > threshold rejection) instead of the full O(n^2)
    # matrix per candidate pair, and returns the EXACT distance whenever
    # it is <= threshold and -1 otherwise — so `0 <= dist` is the
    # membership filter (identical pair set: rejected pairs all exceed
    # _ER_MAX_EDIT by definition) and every surviving row's edit_dist is
    # identical to the unbounded form.
    dist = F.levenshtein("name_a", "name_b", _ER_MAX_EDIT)
    return (
        a.join(F.broadcast(b), "blk")
        .filter((F.col("name_a") < F.col("name_b")) & (dist >= 0))
        .select(
            "name_a",
            "name_b",
            dist.cast("int").alias("edit_dist"),
            (F.col("listings_a") + F.col("listings_b"))
            .cast("long")
            .alias("pair_listings"),
        )
    )


_fmt_doc(er_fuzzy_name_pairs, M=_ER_MAX_EDIT)


# ---------------------------------------------------------------------------
# Tokenizer training + embedding feature statistics
# ---------------------------------------------------------------------------

_BPE_STEPS = 3


def _bpe_iteration_sql(k: int) -> str:
    """One unrolled BPE round: adjacent-pair counts on corpus c{k-1}, the
    argmax pair t{k} (count desc, pair asc — total order), merged corpus
    c{k}. Matches the Spark loop body symbol-for-symbol."""
    p = k - 1
    return f"""
    y{p} AS (
        SELECT string_split(trim(sym), ' ') AS toks, freq FROM c{p}
    ), z{p} AS (
        SELECT toks, freq, unnest(generate_series(1, len(toks) - 1)) AS i
        FROM y{p} WHERE len(toks) >= 2
    ), p{k} AS (
        SELECT toks[i] || ' ' || toks[i+1] AS pair, sum(freq) AS cnt
        FROM z{p} GROUP BY 1
    ), t{k} AS (
        SELECT pair, cnt FROM p{k} ORDER BY cnt DESC, pair LIMIT 1
    ), c{k} AS (
        SELECT replace(sym, t{k}.pair || ' ',
                       replace(t{k}.pair, ' _', '') || ' ') AS sym, freq
        FROM c{p}, t{k}
    )"""


def _bpe_oracle() -> str:
    its = ",".join(_bpe_iteration_sql(k) for k in range(1, _BPE_STEPS + 1))
    outs = "\nUNION ALL\n".join(
        f"""SELECT {k} AS step,
               replace(string_split(pair, ' ')[1], '_', '') AS left_sym,
               replace(string_split(pair, ' ')[2], '_', '') AS right_sym,
               cnt::BIGINT AS pair_count
        FROM t{k}"""
        for k in range(1, _BPE_STEPS + 1)
    )
    return f"""
    WITH w AS (
        SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                  t -> t <> '')) AS word
        FROM documents
    ), wf AS (
        SELECT word, count(*) AS freq FROM w GROUP BY 1
    ), c0 AS (
        SELECT regexp_replace(word, '(.)', '_\\1 ', 'g') AS sym, freq FROM wf
    ), {its}
    {outs}
    """


def _bpe_train(spark: SparkSession, sf_dir: str):
    """Shared BPE training loop (see text_bpe_merges for the full design
    narrative): one corpus wordcount shuffle, then _BPE_STEPS rounds of
    pair-count -> argmax-broadcast -> string-replace rewrite on the
    vocabulary table. Returns (word-frequency table, final merged vocab,
    per-round merge frames).

    PRECONDITION (ADVICE r4): symbols are encoded as underscore-prefixed
    space-separated tokens ("_e _y"), so the merge rewrite (a plain
    string replace on the symbol string) is only well-defined when corpus
    words contain neither '_' nor ' ' — ' ' is guaranteed by the
    whitespace tokenizer above; '_' would let a literal word underscore
    collide with the symbol-boundary marker and corrupt pair counts. The
    driver corpus is ASCII-word text and satisfies this; a general-corpus
    caller must pre-escape '_' (e.g. map it to a private-use codepoint)
    before training. Pinned by tests/test_extensions.py::
    test_bpe_marker_replace_boundary_semantics."""
    docs = _t(spark, sf_dir, "documents").select("text")
    # Token-explode amplification on a one-split corpus runs on 1 of 32
    # cores (the exploded_shingles lesson) — repartition the slim text
    # projection only when the scan under-parallelizes; no-ops at real
    # corpus scale.
    target = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < target:
        docs = docs.repartition(target)
    words = (
        docs.select(
            F.explode(F.split(F.trim("text"), r"\s+")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        # feeds both the symbol table and (for encode stats) the
        # before-encoding aggregate
        .localCheckpoint()
    )
    cur = words.select(
        F.regexp_replace("word", "(.)", "_$1 ").alias("sym"), "freq"
    ).localCheckpoint()
    merges = []
    for step in range(1, _BPE_STEPS + 1):
        toks = F.split(F.trim(F.col("sym")), " ")
        base = cur.select(
            "freq", toks.alias("toks"), F.size(toks).alias("n")
        ).filter(F.col("n") >= 2)
        pairs = base.select(
            "freq",
            "toks",
            F.explode(F.sequence(F.lit(1), F.col("n") - 1)).alias("i"),
        ).select(
            F.concat_ws(
                " ",
                F.expr("element_at(toks, i)"),
                F.expr("element_at(toks, i + 1)"),
            ).alias("pair"),
            "freq",
        )
        # r13 NOTE (measured, kept as-is): folding this checkpoint away
        # ("one materialization per round" — VERDICT r12 #8) was tried
        # and REVERTED. Same-session A/B at sf0.1: job count does NOT
        # drop (17 either way — materializing the broadcast of an
        # un-checkpointed top is itself a job, and the final merge-table
        # action re-runs each round's argmax subtree), and wall is a
        # wash-to-slightly-worse (3.92/3.99 s checkpointed vs
        # 4.05/4.32 s folded). The 1-row checkpoint stays.
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .localCheckpoint()
        )
        merges.append(
            top.select(
                F.lit(step).alias("step"),
                F.replace(
                    F.element_at(F.split("pair", " "), 1),
                    F.lit("_"),
                    F.lit(""),
                ).alias("left_sym"),
                F.replace(
                    F.element_at(F.split("pair", " "), 2),
                    F.lit("_"),
                    F.lit(""),
                ).alias("right_sym"),
                F.col("cnt").cast("long").alias("pair_count"),
            )
        )
        cur = (
            cur.crossJoin(F.broadcast(top))
            .select(
                F.replace(
                    F.col("sym"),
                    F.concat(F.col("pair"), F.lit(" ")),
                    F.concat(
                        F.replace(F.col("pair"), F.lit(" _"), F.lit("")),
                        F.lit(" "),
                    ),
                ).alias("sym"),
                "freq",
            )
            .localCheckpoint()
        )
    return words, cur, merges


@query("text_bpe_merges", oracle=_bpe_oracle())
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training, first {N} merge rounds: learn the
    merge table (the artifact a tokenizer ships) from corpus word
    frequencies. Each round counts adjacent symbol pairs weighted by word
    frequency, picks the most frequent pair (total-order tiebreak on the
    pair string), and rewrites the vocabulary by merging that pair.

    Symbols are marker-prefixed ("_e _y ") so the merge rewrite is a plain
    string replace with exact symbol-boundary semantics — no regex, no
    Python, cross-engine identical (leftmost non-overlapping, so a run
    "aaa" merges to "aa"+"a" exactly as greedy BPE does). Scale shape: the
    corpus-sized work is ONE wordcount shuffle; every round then runs on
    the distinct-word table (vocabulary-sized, shrinking as merges land),
    with the argmax pair a 1-row broadcast onto it — the exact lifecycle
    of production BPE training, where the corpus is scanned once and
    rounds iterate on the in-memory vocab. Per-round results are
    localCheckpoint-ed: the vocab table feeds both the next round's pair
    counts and its own rewrite, and an unmaterialized lineage would
    re-execute exponentially.
    """
    _, _, merges = _bpe_train(spark, sf_dir)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionAll(m)
    return out


_fmt_doc(text_bpe_merges, N=_BPE_STEPS)


@query(
    "embedding_dim_stats",
    oracle="""
    WITH q AS (
        SELECT i AS dim,
               CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
                   AS qv
        FROM embeddings CROSS JOIN range(1, 65) t(i)
        WHERE embedding IS NOT NULL
    ), s AS (
        SELECT dim, count(*) AS n, min(qv) AS mn, max(qv) AS mx,
               CAST(sum(qv) AS BIGINT) AS sm
        FROM q GROUP BY 1
    )
    SELECT dim::INT AS dim, n::BIGINT AS n_vectors,
           mn::BIGINT AS min_micro, mx::BIGINT AS max_micro,
           sm AS sum_micro,
           (sm - ((sm % n) + n) % n) // n AS mean_micro
    FROM s
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus statistics over the embedding column — the
    feature-normalization pre-pass (min/max/mean per dimension is what a
    scaler, quantizer, or dead-dimension detector consumes before any
    vector workload).

    Exactness contract (the embedding_centroids idiom): components are
    floor-quantized to integer micro-units, so sums are reduction-order
    independent and the mean is an exact floor division (negative-safe via
    the ((s%n)+n)%n normalization — `div` truncates toward zero, floor
    must round toward -inf). Scale shape: posexplode to (dim, q) pairs and
    one partial-aggregated shuffle keyed by the 64 dims; no arrays cross
    the exchange, no Python anywhere.
    """
    emb = _t(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    comp = emb.select(F.posexplode("embedding").alias("pos", "v")).select(
        (F.col("pos") + 1).cast("int").alias("dim"),
        F.floor(F.col("v").cast("double") * 1_000_000)
        .cast("long")
        .alias("qv"),
    )
    return (
        comp.groupBy("dim")
        .agg(
            F.count("*").alias("n"),
            F.min("qv").alias("mn"),
            F.max("qv").alias("mx"),
            F.sum("qv").alias("sm"),
        )
        .select(
            "dim",
            F.col("n").cast("long").alias("n_vectors"),
            F.col("mn").cast("long").alias("min_micro"),
            F.col("mx").cast("long").alias("max_micro"),
            F.col("sm").cast("long").alias("sum_micro"),
            F.expr("(sm - (((sm % n) + n) % n)) div n")
            .cast("long")
            .alias("mean_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Distribution-drift monitoring across sources
# ---------------------------------------------------------------------------


@query(
    "text_source_divergence",
    oracle="""
    WITH w AS (
        SELECT source,
               unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                  t -> t <> '')) AS word
        FROM documents
    ), sw AS (
        SELECT source, word, count(*) AS c_sw FROM w GROUP BY 1, 2
    ), wtot AS (
        SELECT word, sum(c_sw) AS c_w FROM sw GROUP BY 1
    ), stot AS (
        SELECT source, sum(c_sw) AS n_s FROM sw GROUP BY 1
    ), tot AS (
        SELECT sum(c_sw) AS n FROM sw
    ), present AS (
        SELECT sw.source,
               sum(abs(sw.c_sw * tot.n - wtot.c_w * stot.n_s)) AS p,
               sum(wtot.c_w) AS c_present,
               count(*) AS distinct_words,
               max(stot.n_s) AS n_s, max(tot.n) AS n
        FROM sw
        JOIN wtot USING (word)
        JOIN stot ON sw.source = stot.source
        CROSS JOIN tot
        GROUP BY 1
    )
    SELECT source,
           n_s::BIGINT AS n_tokens,
           distinct_words::BIGINT AS distinct_words,
           ((p + (n - c_present) * n_s) * 1000000
            // (2 * n_s * n))::BIGINT AS tvd_ppm
    FROM present
    """,
)
def text_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift per source: exact total-variation distance (in
    ppm) between each source's token distribution and the whole-corpus
    distribution — the data-mixture QA monitor that flags a domain whose
    language shifted (crawl rot, encoding breakage, a new scraper).

    Exactness: TVD = 1/2 * sum_w |c_sw/N_s - c_w/N| is computed over the
    common denominator N_s*N entirely in integers; words ABSENT from a
    source contribute their whole corpus mass, folded in analytically as
    (N - sum_present c_w) * N_s — so the plan never builds a source x
    vocabulary grid (at 100 TB that grid is 1e9 rows; the present-pairs
    table is bounded by actual occurrences). Long arithmetic holds to
    ~sf1 corpus sizes (documented headroom: max |term| ~ N*N_s*1e6 <<
    2^63); beyond that the numerator column moves to decimal(38,0).

    Scale shape: one (source, word) grouped count over the token explode
    (materialized — it feeds the word marginal, the source marginal, and
    the join), then broadcast joins of the two marginals and the 1-row
    total onto it.
    """
    docs = _t(spark, sf_dir, "documents").select("source", "text")
    target = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < target:
        docs = docs.repartition(target)
    sw = (
        docs.select(
            "source",
            F.explode(F.split(F.trim("text"), r"\s+")).alias("word"),
        )
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count("*").alias("c_sw"))
        .localCheckpoint()
    )
    wtot = sw.groupBy("word").agg(F.sum("c_sw").alias("c_w"))
    stot = sw.groupBy("source").agg(F.sum("c_sw").alias("n_s"))
    tot = sw.agg(F.sum("c_sw").alias("n"))
    present = (
        sw.join(F.broadcast(wtot), "word")
        .join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.sum(F.abs(F.col("c_sw") * F.col("n") - F.col("c_w") * F.col("n_s"))).alias("p"),
            F.sum("c_w").alias("c_present"),
            F.count("*").alias("distinct_words"),
            F.max("n_s").alias("n_s"),
            F.max("n").alias("n"),
        )
    )
    return present.select(
        "source",
        F.col("n_s").cast("long").alias("n_tokens"),
        F.col("distinct_words").cast("long").alias("distinct_words"),
        F.expr("((p + (n - c_present) * n_s) * 1000000) div (2 * n_s * n)")
        .cast("long")
        .alias("tvd_ppm"),
    )


# ---------------------------------------------------------------------------
# Multimodal frame sampling (catalog surface for functions/multimodal.py)
# ---------------------------------------------------------------------------

_FRAME_BYTES = 64
_MAX_FRAMES = 8


@query(
    "multimodal_frame_sample",
    oracle=f"""
    WITH m AS (
        SELECT doc_id AS media_id, text FROM documents
    ), f AS (
        SELECT media_id, text,
               unnest(generate_series(0, {_MAX_FRAMES - 1})) AS frame_no
        FROM m
    )
    SELECT media_id,
           frame_no::BIGINT AS frame_no,
           length(substring(text, frame_no * {_FRAME_BYTES} + 1,
                            {_FRAME_BYTES}))::BIGINT AS n_frame_bytes,
           md5(substring(text, frame_no * {_FRAME_BYTES} + 1,
                         {_FRAME_BYTES})) AS frame_md5
    FROM f WHERE frame_no * {_FRAME_BYTES} < length(text)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-stride frame sampling over opaque binary payloads — the video
    keyframe-extraction plumbing (functions/multimodal.py sample_frames)
    promoted to an oracle-checked catalog entry: every frame slice runs on
    the BINARY column JVM-side (substr on bytes, bounded <= {MF}-frame
    fan-out per row), with the per-frame checksum the downstream decode
    stage would key on.

    Oracle trick (the multimodal_features precedent): payloads are UTF-8
    bytes of the ASCII corpus, so byte offsets == char offsets and DuckDB
    can mirror the slices on VARCHAR — the Spark side still exercises the
    real binary path end-to-end.
    """
    from ..functions import multimodal

    docs = _t(spark, sf_dir, "documents")
    media = multimodal.attach_payload(docs)
    frames = multimodal.sample_frames(
        media, every_n_bytes=_FRAME_BYTES, max_frames=_MAX_FRAMES
    )
    return frames.select(
        "media_id",
        F.col("frame_no").cast("long").alias("frame_no"),
        F.length("frame_bytes").cast("long").alias("n_frame_bytes"),
        F.md5("frame_bytes").alias("frame_md5"),
    )


_fmt_doc(multimodal_frame_sample, MF=_MAX_FRAMES)


@query(
    "er_fuzzy_resolution",
    oracle=f"""
    WITH RECURSIVE n AS (
        SELECT p_name, count(*) AS n_listings FROM part GROUP BY 1
    ), k AS (
        SELECT p_name, n_listings, string_split(p_name, ' ')[-1] AS blk
        FROM n
    ), prs AS (
        SELECT a.p_name AS name_a, b.p_name AS name_b
        FROM k a JOIN k b ON a.blk = b.blk AND a.p_name < b.p_name
        WHERE levenshtein(a.p_name, b.p_name) <= {_ER_MAX_EDIT}
    ), edges AS (
        SELECT name_a AS src, name_b AS dst FROM prs
        UNION ALL
        SELECT name_b, name_a FROM prs
    ), reach(id, r) AS (
        SELECT src, src FROM edges GROUP BY src
        UNION
        SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
    ), comp AS (
        SELECT id, min(r) AS canonical_name FROM reach GROUP BY id
    ), sizes AS (
        SELECT canonical_name, count(*) AS entity_size
        FROM comp GROUP BY 1
    )
    SELECT comp.id AS name,
           comp.canonical_name,
           n.n_listings::BIGINT AS n_listings,
           sizes.entity_size::BIGINT AS entity_size
    FROM comp
    JOIN n ON comp.id = n.p_name
    JOIN sizes USING (canonical_name)
    """,
)
def er_fuzzy_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end: the blocked fuzzy pairs contracted to
    entities by connected components (transitively linked names share one
    canonical id — A~B, B~C merge even when A~C exceeds the edit bound),
    with each member name mapped to its canonical (minimum) name, its
    listing count, and the entity's member count. Names with no fuzzy
    match are singletons and excluded (their resolution is the identity).

    Composition: er_fuzzy_name_pairs (dimension-blocked candidate
    generation) -> dedup.connected_components (min-label propagation on
    the name graph, string labels — the same iterative operator that
    builds the near-dup component artifact) -> broadcast joins of the
    listing and size marginals. Oracle: DuckDB recursive-CTE transitive closure over
    the identical pair set (the dedup_clusters precedent).
    """
    from ..functions import dedup

    pairs = er_fuzzy_name_pairs(spark, sf_dir).select("name_a", "name_b")
    comps = dedup.connected_components(pairs, "name_a", "name_b")
    part = _t(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(F.count("*").alias("n_listings"))
    sizes = comps.groupBy("comp").agg(F.count("*").alias("entity_size"))
    return (
        comps.join(F.broadcast(names), comps["id"] == names["p_name"])
        .join(F.broadcast(sizes), "comp")
        .select(
            F.col("id").alias("name"),
            F.col("comp").alias("canonical_name"),
            F.col("n_listings").cast("long").alias("n_listings"),
            F.col("entity_size").cast("long").alias("entity_size"),
        )
    )


@query(
    "dedup_chunk_exact",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents
    ), c AS (
        SELECT doc_id, toks,
               unnest(generate_series(0,
                   CASE WHEN len(toks) <= {_CHUNK_W} THEN 0
                        ELSE (len(toks) - {_CHUNK_W} + {_CHUNK_S} - 1)
                             // {_CHUNK_S} END)) AS chunk_idx
        FROM t
    ), h AS (
        SELECT doc_id, chunk_idx,
               md5(array_to_string(
                   list_slice(toks, chunk_idx * {_CHUNK_S} + 1,
                              chunk_idx * {_CHUNK_S} + {_CHUNK_W}), ' '))
                   AS chunk_hash
        FROM c
    ), dup AS (
        SELECT chunk_hash, count(*) AS n_copies,
               count(DISTINCT doc_id) AS n_docs,
               min(row(doc_id, chunk_idx)) AS keeper_key
        FROM h GROUP BY 1 HAVING count(*) > 1
    )
    SELECT h.chunk_hash,
           dup.n_copies::BIGINT AS n_copies,
           dup.n_docs::BIGINT AS n_docs,
           h.doc_id, h.chunk_idx::BIGINT AS chunk_idx,
           CAST(row(h.doc_id, h.chunk_idx) = dup.keeper_key AS INT) AS is_keeper
    FROM h JOIN dup USING (chunk_hash)
    """,
)
def dedup_chunk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup — the retrieval-index hygiene pass composed
    over text_chunk_windows: duplicated chunk contents (same hash in more
    than one place) listed with every occurrence and a deterministic
    keeper flag (minimum (doc_id, chunk_idx)), so an indexer embeds each
    duplicated span once and maps the other occurrences to it.

    Scale shape: the chunker's zero-shuffle stream, then ONE grouped count
    keyed by the 16-byte hash (never chunk text), then the occurrence list
    re-joined on the hash — the same shuffle-carries-hashes discipline as
    dedup_exact. The keeper argmin is MIN over a (doc_id, chunk_idx)
    struct — lexicographic, overflow-free at any chunk count (the r4
    int64-packing `doc_id*1e6+chunk_idx` silently corrupted at
    chunk_idx >= 1e6, i.e. 8M-token documents — real at 100 TB)."""
    chunks = text_chunk_windows(spark, sf_dir).select(
        "doc_id", "chunk_idx", "chunk_hash"
    )
    occ_key = F.struct(
        F.col("doc_id").alias("d"), F.col("chunk_idx").alias("c")
    )
    dup = (
        chunks.groupBy("chunk_hash")
        .agg(
            F.count("*").alias("n_copies"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min(occ_key).alias("keeper_key"),
        )
        .filter(F.col("n_copies") > 1)
    )
    return chunks.join(dup, "chunk_hash").select(
        "chunk_hash",
        F.col("n_copies").cast("long").alias("n_copies"),
        F.col("n_docs").cast("long").alias("n_docs"),
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        (occ_key == F.col("keeper_key")).cast("int").alias("is_keeper"),
    )


# ---------------------------------------------------------------------------
# Leakage-safe splitting, BPE application, weighted sampling
# ---------------------------------------------------------------------------


def _leakage_oracle() -> str:
    from .extensions import _NGRAM_JACCARD_ORACLE

    return f"""
    WITH RECURSIVE prs AS (
        {_NGRAM_JACCARD_ORACLE}
    ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM prs
        UNION ALL
        SELECT id_b, id_a FROM prs
    ), reach(id, r) AS (
        SELECT src, src FROM edges GROUP BY src
        UNION
        SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
    ), comp AS (
        SELECT id, min(r) AS cluster FROM reach GROUP BY id
    )
    SELECT d.doc_id,
           coalesce(comp.cluster, d.doc_id) AS cluster_id,
           CAST(comp.id IS NOT NULL AS INT) AS is_clustered,
           CASE WHEN substring(md5(CAST(coalesce(comp.cluster, d.doc_id)
                                        AS VARCHAR)), 1, 1) >= 'c'
                THEN 'heldout' ELSE 'train' END AS split
    FROM documents d LEFT JOIN comp ON d.doc_id = comp.id
    """


@query("split_leakage_safe", oracle=_leakage_oracle())
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/heldout split: the hash gate keys on the NEAR-DUP
    CLUSTER id, not the document id, so a document and its near-copies
    always land on the same side — the split every eval pipeline needs and
    naive per-doc hashing silently violates (a train doc's near-duplicate
    in the heldout set is contamination by construction).

    Composition: the persisted component artifact
    (dedup.ensure_neardup_components — exact-verified LSH pairs contracted
    by min-label propagation) left-joined onto the corpus; unclustered
    documents are their own singleton cluster. The gate is the repo's
    standard md5-hex >= 'c' 75/25 carve, applied to the cluster id. The
    oracle recomputes the full recursive-CTE clustering plus the identical
    gate, so cluster-coherence of the split is hash-checked end-to-end.
    """
    from .extensions import _JACCARD_T, _SHINGLE_K

    from ..functions import dedup

    docs = _t(spark, sf_dir, "documents")
    comp = dedup.ensure_neardup_components(
        spark, docs, sf_dir, k=_SHINGLE_K, num_perm=64, bands=32,
        threshold=_JACCARD_T,
    ).select(F.col("id").alias("cid"), F.col("comp").alias("cluster"))
    cluster_id = F.coalesce(F.col("cluster"), F.col("doc_id"))
    return (
        docs.select("doc_id")
        .join(F.broadcast(comp), F.col("doc_id") == F.col("cid"), "left")
        .select(
            "doc_id",
            cluster_id.alias("cluster_id"),
            F.col("cid").isNotNull().cast("int").alias("is_clustered"),
            F.when(
                F.substring(F.md5(cluster_id.cast("string")), 1, 1) >= "c",
                F.lit("heldout"),
            )
            .otherwise(F.lit("train"))
            .alias("split"),
        )
    )


def _bpe_encode_oracle() -> str:
    its = ",".join(_bpe_iteration_sql(k) for k in range(1, _BPE_STEPS + 1))
    return f"""
    WITH w AS (
        SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                  t -> t <> '')) AS word
        FROM documents
    ), wf AS (
        SELECT word, count(*) AS freq FROM w GROUP BY 1
    ), c0 AS (
        SELECT regexp_replace(word, '(.)', '_\\1 ', 'g') AS sym, freq FROM wf
    ), {its}, sb AS (
        SELECT count(*) AS n_distinct_words, sum(freq) AS words_total,
               sum(freq * length(word)) AS chars_total
        FROM wf
    ), sa AS (
        SELECT sum(freq * len(string_split(trim(sym), ' '))) AS tokens_total
        FROM c{_BPE_STEPS}
    )
    SELECT n_distinct_words::BIGINT AS n_distinct_words,
           words_total::BIGINT AS words_total,
           chars_total::BIGINT AS chars_total,
           tokens_total::BIGINT AS tokens_total,
           (tokens_total * 1000000 // chars_total)::BIGINT
               AS compression_ppm
    FROM sb, sa
    """


@query("text_bpe_encode_stats", oracle=_bpe_encode_oracle())
def text_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The apply side of BPE training: encode the corpus vocabulary with
    the learned merge table and report the compression it buys —
    tokens-after over chars-before (ppm), the number a tokenizer team
    actually tracks when sizing a vocab.

    Runs the same {N}-round training loop as text_bpe_merges (one corpus
    wordcount, vocabulary-sized rounds), then two 1-row aggregates over
    the before/after vocab tables joined by broadcast. Token counts are
    frequency-weighted, so the stat reflects corpus encoding cost, not
    vocabulary-entry cost.
    """
    words, cur, _ = _bpe_train(spark, sf_dir)
    before = words.agg(
        F.count("*").alias("n_distinct_words"),
        F.sum("freq").alias("words_total"),
        F.sum(F.col("freq") * F.length("word")).alias("chars_total"),
    )
    after = cur.select(
        F.size(F.split(F.trim(F.col("sym")), " ")).alias("nt"), "freq"
    ).agg(F.sum(F.col("freq") * F.col("nt")).alias("tokens_total"))
    return (
        before.crossJoin(F.broadcast(after))
        .select(
            F.col("n_distinct_words").cast("long").alias("n_distinct_words"),
            F.col("words_total").cast("long").alias("words_total"),
            F.col("chars_total").cast("long").alias("chars_total"),
            F.col("tokens_total").cast("long").alias("tokens_total"),
            F.expr("tokens_total * 1000000 div chars_total")
            .cast("long")
            .alias("compression_ppm"),
        )
    )


_fmt_doc(text_bpe_encode_stats, N=_BPE_STEPS)


_QW_SCALE = 3000  # p_ppm = min(1e6, n_chars * 3000): docs over ~333 chars
# are always kept, shorter docs kept with probability proportional to size


@query(
    "sample_quality_weighted",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, source,
               least(1000000, n_chars * {_QW_SCALE}) AS p_ppm,
               ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   AS u32
        FROM documents
    )
    SELECT doc_id, source, p_ppm::BIGINT AS p_ppm
    FROM d
    WHERE u32 * 1000000 < p_ppm * 4294967296
    """,
)
def sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted deterministic sampling: each document is admitted with
    probability proportional to a quality weight (here: length-derived,
    saturating at 1) — soft quality filtering without an RNG. The
    admission test compares a 32-bit md5-derived uniform against the
    weight entirely in int64 cross-multiplication (u32 * 1e6 < p_ppm *
    2^32), so every engine, retry, and cluster size admits the SAME
    documents; the u32 draw is independent of the >= 'c' first-hex-char
    gates used by the split family (different digest positions).

    Scale shape: scan -> project -> filter, zero shuffles; the weight uses
    the ingest-time n_chars metadata column, so payload text is never
    read (column pruning leaves a 3-column scan).
    """
    docs = _t(spark, sf_dir, "documents")
    p_ppm = F.least(F.lit(1_000_000), F.col("n_chars") * _QW_SCALE)
    u32 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    return (
        docs.select(
            "doc_id",
            "source",
            p_ppm.cast("long").alias("p_ppm"),
            u32.alias("u32"),
        )
        .filter(F.col("u32") * 1_000_000 < F.col("p_ppm") * F.lit(4294967296))
        .select("doc_id", "source", "p_ppm")
    )


# ---------------------------------------------------------------------------
# Constrained funnels + freshness-weighted popularity over `events`
# ---------------------------------------------------------------------------

_FUNNEL_W = 86400  # each stage must follow the previous within 24h


@query(
    "events_funnel_windowed",
    oracle=f"""
    WITH v AS (
        SELECT user_id, min(epoch(date_trunc('second', ts))) AS view_s
        FROM events WHERE event_type = 'view' GROUP BY 1
    ), c AS (
        SELECT e.user_id,
               min(epoch(date_trunc('second', e.ts))) AS click_s
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click'
          AND epoch(date_trunc('second', e.ts)) > v.view_s
          AND epoch(date_trunc('second', e.ts)) <= v.view_s + {_FUNNEL_W}
        GROUP BY 1
    ), p AS (
        SELECT e.user_id
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase'
          AND epoch(date_trunc('second', e.ts)) > c.click_s
          AND epoch(date_trunc('second', e.ts)) <= c.click_s + {_FUNNEL_W}
        GROUP BY 1
    )
    SELECT (SELECT count(*) FROM v)::BIGINT AS n_view,
           (SELECT count(*) FROM c)::BIGINT AS n_click_within,
           (SELECT count(*) FROM p)::BIGINT AS n_purchase_within,
           (CASE WHEN (SELECT count(*) FROM v) = 0 THEN NULL
                 ELSE (SELECT count(*) FROM p) * 1000000
                      // (SELECT count(*) FROM v) END)::BIGINT
               AS conversion_ppm
    """,
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained conversion funnel: first view -> first click within
    24h AFTER that view -> first purchase within 24h after THAT click.
    Unlike events_funnel (any-order-respecting firsts), each stage anchors
    on the previous stage's chosen event and must land inside the window —
    the attribution semantics product analytics actually uses.

    Scale shape: each stage is one grouped MIN; the stage-to-stage handoff
    joins raw stage events against the USER-SIZED previous-stage aggregate
    on user_id (co-partitioned with the groupBy that follows, so AQE
    reuses the exchange); the three stage counts are 1-row aggregates
    broadcast into a single summary row. Timestamps are second-truncated
    integers in both engines, strict inequality for tie-determinism.
    """
    events = _t(spark, sf_dir, "events")
    sec = F.col("ts").cast("long")
    # Each stage aggregate feeds BOTH the next stage's join and its own
    # count; unmaterialized, the lineage re-executes every upstream stage
    # per consumer (measured: 6 events scans instead of 3). The aggregates
    # are user-sized — at cluster scale these are the persisted funnel
    # checkpoint tables.
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(sec).alias("view_s"))
        .localCheckpoint()
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .select("user_id", sec.alias("c_s"))
        .join(v, "user_id")
        .filter(
            (F.col("c_s") > F.col("view_s"))
            & (F.col("c_s") <= F.col("view_s") + _FUNNEL_W)
        )
        .groupBy("user_id")
        .agg(F.min("c_s").alias("click_s"))
        .localCheckpoint()
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id", sec.alias("p_s"))
        .join(c, "user_id")
        .filter(
            (F.col("p_s") > F.col("click_s"))
            & (F.col("p_s") <= F.col("click_s") + _FUNNEL_W)
        )
        .groupBy("user_id")
        .agg(F.count("*").alias("_n"))
    )
    nv = v.agg(F.count("*").alias("n_view"))
    nc = c.agg(F.count("*").alias("n_click_within"))
    np_ = p.agg(F.count("*").alias("n_purchase_within"))
    return (
        nv.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(np_))
        .select(
            F.col("n_view").cast("long").alias("n_view"),
            F.col("n_click_within").cast("long").alias("n_click_within"),
            F.col("n_purchase_within")
            .cast("long")
            .alias("n_purchase_within"),
            F.expr(
                "CASE WHEN n_view = 0 THEN NULL "
                "ELSE n_purchase_within * 1000000 div n_view END"
            )
            .cast("long")
            .alias("conversion_ppm"),
        )
    )


_DECAY_HORIZON = 30  # days; weight halves per day of age, ages > horizon drop


@query(
    "events_decayed_type_scores",
    oracle=f"""
    WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        FROM events GROUP BY 1, 2
    ), mx AS (
        SELECT max(day) AS max_day FROM d
    ), w AS (
        SELECT event_type, n,
               date_diff('day', day, max_day) AS age_d
        FROM d CROSS JOIN mx
        WHERE date_diff('day', day, max_day) <= {_DECAY_HORIZON}
    )
    SELECT event_type,
           sum(n)::BIGINT AS n_events,
           sum(n * (1::BIGINT << ({_DECAY_HORIZON} - age_d)))::BIGINT
               AS decayed_score
    FROM w GROUP BY 1
    """,
)
def events_decayed_type_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness-weighted popularity per event type: exponential decay with
    a one-day half-life, computed EXACTLY — the day-age weight is a power
    of two applied as an int64 bit shift (n * 2^(horizon - age)), so the
    trending score is reduction-order independent and hash-matches across
    engines (a float pow() would be neither). Ages beyond the {H}-day
    horizon drop out, bounding the shift and the score magnitude
    (n * 2^{H} per day bucket).

    Scale shape: the raw scan collapses to (type, day) grain first; the
    global newest day is a 1-row broadcast (the C2 idiom); weighting and
    the final per-type SUM run on the day-grain aggregate.
    """
    events = _t(spark, sf_dir, "events")
    # (type, day) grain feeds both the global-max-day aggregate and the
    # weighting pass; ReuseExchange does not bridge the two consumers
    # (verified: 2 scans, 0 reuse) — materialize the tiny aggregate so the
    # events scan + shuffle runs once (the gap-fill lesson).
    d = (
        events.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n"))
        .localCheckpoint()
    )
    mx = d.agg(F.max("day").alias("max_day"))
    w = (
        d.crossJoin(F.broadcast(mx))
        .select(
            "event_type",
            "n",
            F.datediff("max_day", "day").alias("age_d"),
        )
        .filter(F.col("age_d") <= _DECAY_HORIZON)
    )
    return w.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n_events"),
        F.sum(
            F.col("n")
            * F.expr(
                f"shiftleft(1L, cast({_DECAY_HORIZON} - age_d AS int))"
            )
        )
        .cast("long")
        .alias("decayed_score"),
    )


_fmt_doc(events_decayed_type_scores, H=_DECAY_HORIZON)


@query(
    "orders_backlog_sweep",
    oracle="""
    WITH li AS (
        SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS last_ship
        FROM lineitem GROUP BY 1
    ), iv AS (
        SELECT CAST(o_orderdate AS DATE) AS start_d,
               greatest(li.last_ship, CAST(o_orderdate AS DATE)) AS close_d
        FROM orders JOIN li ON o_orderkey = l_orderkey
    ), ev AS (
        SELECT start_d AS day, 1 AS delta FROM iv
        UNION ALL
        SELECT close_d + 1, -1 FROM iv
    ), d AS (
        SELECT day, sum(delta) AS delta FROM ev GROUP BY 1
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           delta::BIGINT AS delta,
           sum(delta) OVER (
               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           )::BIGINT AS open_orders
    FROM d
    """,
)
def orders_backlog_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval aggregation by sweep line: how many orders are OPEN (placed
    but not yet fully shipped) on each change day — the classic
    concurrent-intervals problem (active sessions, open tickets, in-flight
    jobs) solved without ever joining rows to days.

    Each order interval [orderdate, last shipdate] emits a +1 at its start
    and a -1 the day after it closes — both deltas from ONE pass via
    explode(array(struct,struct)), so the interval table is never consumed
    twice. Daily deltas aggregate first (the only fact-sized shuffle is
    the per-order max-shipdate groupBy + the join), then the running sum
    over change days runs on a table bounded by the calendar — at 100 TB
    the window input is still a few thousand rows. Orders that somehow
    ship before they are placed clamp to zero-length (greatest guard).
    """
    li = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max(F.to_date("l_shipdate")).alias("last_ship"))
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("start_d")
    )
    iv = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).select(
        "start_d",
        F.greatest("last_ship", "start_d").alias("close_d"),
    )
    ev = iv.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("start_d").alias("day"), F.lit(1).alias("delta")
                ),
                F.struct(
                    F.date_add("close_d", 1).alias("day"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("e")
    ).select("e.day", "e.delta")
    d = ev.groupBy("day").agg(F.sum("delta").alias("delta"))
    w = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return d.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("delta").cast("long").alias("delta"),
        F.sum("delta").over(w).cast("long").alias("open_orders"),
    )


# ---------------------------------------------------------------------------
# Data-quality census operators
# ---------------------------------------------------------------------------


@query(
    "dq_referential_census",
    oracle="""
    WITH rel AS (
        SELECT 'lineitem->orders' AS relationship,
               (SELECT count(*) FROM lineitem) AS n_child,
               (SELECT count(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey))
                   AS n_orphans
        UNION ALL
        SELECT 'lineitem->part',
               (SELECT count(*) FROM lineitem),
               (SELECT count(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM part p
                                  WHERE p.p_partkey = l.l_partkey))
        UNION ALL
        SELECT 'lineitem->supplier',
               (SELECT count(*) FROM lineitem),
               (SELECT count(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                  WHERE s.s_suppkey = l.l_suppkey))
        UNION ALL
        SELECT 'orders->customer',
               (SELECT count(*) FROM orders),
               (SELECT count(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey))
    )
    SELECT relationship, n_child::BIGINT AS n_child,
           n_orphans::BIGINT AS n_orphans,
           (CASE WHEN n_child = 0 THEN NULL
                 ELSE n_orphans * 1000000 // n_child END)::BIGINT
               AS orphan_ppm
    FROM rel
    """,
)
def dq_referential_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity census: for every foreign-key relationship in
    the star schema, how many child rows point at a missing parent — the
    ingest-validation report that decides whether a join may silently drop
    rows (every inner join in this catalog assumes these are ~zero; this
    query is what checks that assumption on real data).

    Scale shape: each relationship is one left_anti join against the
    parent KEY projection (a one-column table — broadcastable for dims,
    shuffled for orders) aggregated to a count; the four 1-row results
    union into the report. No row data beyond the key column ever moves.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")

    def census(rel: str, child: DataFrame, ckey: str, parent: DataFrame,
               pkey: str) -> DataFrame:
        keys = child.select(ckey)
        orphans = keys.join(
            parent.select(pkey), keys[ckey] == F.col(pkey), "left_anti"
        ).agg(F.count("*").alias("n_orphans"))
        total = keys.agg(F.count("*").alias("n_child"))
        return (
            total.crossJoin(F.broadcast(orphans))
            .select(
                F.lit(rel).alias("relationship"),
                F.col("n_child").cast("long").alias("n_child"),
                F.col("n_orphans").cast("long").alias("n_orphans"),
                F.expr(
                    "CASE WHEN n_child = 0 THEN NULL "
                    "ELSE n_orphans * 1000000 div n_child END"
                )
                .cast("long")
                .alias("orphan_ppm"),
            )
        )

    parts = [
        census("lineitem->orders", li, "l_orderkey", orders, "o_orderkey"),
        census("lineitem->part", li, "l_partkey",
               _t(spark, sf_dir, "part"), "p_partkey"),
        census("lineitem->supplier", li, "l_suppkey",
               _t(spark, sf_dir, "supplier"), "s_suppkey"),
        census("orders->customer", orders, "o_custkey",
               _t(spark, sf_dir, "customer"), "c_custkey"),
    ]
    out = parts[0]
    for x in parts[1:]:
        out = out.unionAll(x)
    return out


@query(
    "embedding_norm_profile",
    oracle="""
    WITH q AS (
        SELECT vec_id,
               CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
                   AS qv
        FROM embeddings CROSS JOIN range(1, 65) t(i)
        WHERE embedding IS NOT NULL
    ), n AS (
        SELECT vec_id, sum(qv * qv) AS sq FROM q GROUP BY 1
    ), r AS (
        SELECT sq,
               row_number() OVER (ORDER BY sq) AS rk,
               COUNT(*) OVER () AS cnt
        FROM n
    ), s AS (
        -- explicit ceil(n*q)-rank order statistics (the percentile_disc
        -- contract) so DuckDB's quantile_disc policy is out of the loop
        SELECT MIN(CASE WHEN rk = (cnt + 1) // 2 THEN sq END) AS m,
               MIN(CASE WHEN rk = (cnt * 1 + 99) // 100 THEN sq END) AS p01,
               MIN(CASE WHEN rk = (cnt * 99 + 99) // 100 THEN sq END) AS p99
        FROM r
    )
    SELECT count(*)::BIGINT AS n_vectors,
           min(sq)::BIGINT AS min_norm2,
           max(p01)::BIGINT AS p01_norm2,
           max(m)::BIGINT AS med_norm2,
           max(p99)::BIGINT AS p99_norm2,
           max(sq)::BIGINT AS max_norm2,
           sum(CASE WHEN sq * 2 < m OR sq > m * 2 THEN 1 ELSE 0 END)::BIGINT
               AS n_outliers_2x
    FROM n CROSS JOIN s
    """,
)
def embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broken-embedding detector, reported as a corpus norm profile: exact
    order-statistic spread of per-vector squared norms plus the count of
    vectors more than 2x from the median in either direction — the
    hygiene report that catches zeroed, truncated, or double-scaled
    vectors before they poison similarity search. (On this corpus the
    embeddings are unit-normalized to within ppm, so the healthy answer
    is a tight band and n_outliers_2x = 0 — the REPORT is the product,
    which is why the output is the always-non-empty summary row rather
    than an outlier listing that would be empty at every scale factor.)

    Exactness: norms are integer micro-unit sums of squares (the
    embedding_centroids quantization contract); min/percentile/median/max
    are exact order statistics over those integers (percentile_disc cast
    back to BIGINT — the selected value is one of the inputs, < 2^53, so
    the double round-trip is lossless); the outlier test is pure int64.
    Scale shape: posexplode -> one grouped SUM per vector -> 1-row
    broadcast median -> one final 1-row aggregate.
    """
    emb = _t(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    n = (
        emb.select("vec_id", F.posexplode("embedding").alias("pos", "v"))
        .select(
            "vec_id",
            F.floor(F.col("v").cast("double") * 1_000_000)
            .cast("long")
            .alias("qv"),
        )
        .groupBy("vec_id")
        .agg(F.sum(F.col("qv") * F.col("qv")).alias("sq"))
        # feeds the median subquery AND the final profile aggregate; the
        # posexplode lineage must not run twice
        .localCheckpoint()
    )
    n.createOrReplaceTempView("_norm_sq")
    med = spark.sql(
        "SELECT CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY sq) "
        "AS BIGINT) AS m FROM _norm_sq"
    )
    return (
        n.crossJoin(F.broadcast(med))
        .agg(
            F.count("*").cast("long").alias("n_vectors"),
            F.min("sq").cast("long").alias("min_norm2"),
            F.expr(
                "CAST(percentile_disc(0.01) WITHIN GROUP (ORDER BY sq) "
                "AS BIGINT)"
            ).alias("p01_norm2"),
            F.max("m").cast("long").alias("med_norm2"),
            F.expr(
                "CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY sq) "
                "AS BIGINT)"
            ).alias("p99_norm2"),
            F.max("sq").cast("long").alias("max_norm2"),
            F.sum(
                F.when(
                    (F.col("sq") * 2 < F.col("m"))
                    | (F.col("sq") > F.col("m") * 2),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers_2x"),
        )
    )


# ---------------------------------------------------------------------------
# Temperature-based mixture reweighting (alpha-sampling)
# ---------------------------------------------------------------------------

_TEMP_ALPHA_NOTE = "alpha = 0.5 (square-root temperature flattening)"
_TEMP_BUDGET_DOCS = 400  # total documents the reweighted mixture may admit


@query(
    "mixture_temperature_quota",
    oracle=f"""
    WITH strata AS (
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                        t -> t <> ''))) AS BIGINT) AS tokens
        FROM documents GROUP BY lang
    ), scaled AS (
        SELECT lang, n_docs, tokens,
               CAST(floor(sqrt(tokens * 1000000.0)) AS BIGINT) AS s
        FROM strata
    ), tot AS (
        SELECT CAST(sum(s) AS BIGINT) AS sum_s,
               CAST(sum(tokens) AS BIGINT) AS sum_tokens
        FROM scaled
    )
    SELECT sc.lang, sc.n_docs, sc.tokens,
           (sc.tokens * 1000000) // t.sum_tokens AS flat_ppm,
           (sc.s * 1000000) // t.sum_s AS temp_ppm,
           ({_TEMP_BUDGET_DOCS} * sc.s) // t.sum_s AS quota_docs,
           least(({_TEMP_BUDGET_DOCS} * sc.s) // t.sum_s, sc.n_docs)
               AS admitted_docs
    FROM scaled sc CROSS JOIN tot t
    """,
)
def mixture_temperature_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-reweighted mixture quotas per language stratum,
    {ALPHA}: sampling weight proportional to tokens^alpha upweights
    low-resource strata relative to their raw share — the multilingual
    rebalancing rule of XLM-R / mBERT-style corpus assembly (and the
    domain-mixing rule in Gopher-style recipes). Emits raw share
    (flat_ppm), flattened share (temp_ppm), and the integer document
    quota out of a {B}-document budget per stratum.

    Exactness: tokens^0.5 is the ONE float step — computed as
    floor(sqrt(tokens * 1e6)) (an integer "micro-sqrt"). IEEE-754
    requires sqrt to be correctly rounded, and tokens*1e6 <= ~1e13 is
    exactly representable in a double, so both engines produce the
    identical integer; every share/quota after that is int64 multiply +
    floor-divide. Scale shape: one full-data aggregation down to stratum
    grain; the sums-over-strata ride a 1-row broadcast (cross join), so
    the "window over all strata" never materializes a single partition of
    row data. The per-document admission under these quotas is the
    sample_stratified_quota operator (extensions.py) with quota_docs as
    its per-stratum k.
    """
    strata = (
        _t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(text.token_count("text")).cast("long").alias("tokens"),
        )
    )
    scaled = strata.select(
        "lang",
        "n_docs",
        "tokens",
        F.floor(F.sqrt(F.col("tokens") * 1000000.0)).cast("long").alias("s"),
    )
    tot = scaled.agg(
        F.sum("s").cast("long").alias("sum_s"),
        F.sum("tokens").cast("long").alias("sum_tokens"),
    )
    # `div` is exact int64 division (matching DuckDB `//` on BIGINTs) —
    # float `/`-then-cast could round across the floor boundary.
    return scaled.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "tokens",
        F.expr("(tokens * 1000000) div sum_tokens").alias("flat_ppm"),
        F.expr("(s * 1000000) div sum_s").alias("temp_ppm"),
        F.expr(f"({_TEMP_BUDGET_DOCS} * s) div sum_s").alias("quota_docs"),
        F.least(
            F.expr(f"({_TEMP_BUDGET_DOCS} * s) div sum_s"),
            F.col("n_docs"),
        ).alias("admitted_docs"),
    )


_fmt_doc(mixture_temperature_quota,
    ALPHA=_TEMP_ALPHA_NOTE, B=_TEMP_BUDGET_DOCS
)


# ---------------------------------------------------------------------------
# Pairwise source-vocabulary overlap (corpus provenance diagnostics)
# ---------------------------------------------------------------------------


@query(
    "text_source_overlap",
    oracle="""
    WITH t AS (
        SELECT source, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents
    ), pos AS (
        SELECT source, toks,
               unnest(generate_series(1, len(toks) - 2)) AS i
        FROM t WHERE len(toks) >= 3
    ), g AS (
        SELECT DISTINCT source,
               md5(array_to_string(list_slice(toks, i, i + 2), ' ')) AS gram
        FROM pos
    ), sizes AS (
        SELECT source, count(*) AS n_grams FROM g GROUP BY 1
    ), pairs AS (
        SELECT a.source AS source_a, b.source AS source_b,
               count(*) AS shared_grams
        FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT p.source_a, p.source_b, p.shared_grams,
           sa.n_grams AS grams_a, sb.n_grams AS grams_b,
           (p.shared_grams * 1000000) // least(sa.n_grams, sb.n_grams)
               AS containment_ppm,
           (p.shared_grams * 1000000)
               // (sa.n_grams + sb.n_grams - p.shared_grams) AS jaccard_ppm
    FROM pairs p
    JOIN sizes sa ON p.source_a = sa.source
    JOIN sizes sb ON p.source_b = sb.source
    """,
)
def text_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary overlap census: for every unordered pair
    of sources, the shared distinct word-3-gram count plus containment
    (shared / smaller vocabulary) and Jaccard, in integer ppm — the
    provenance diagnostic that finds mirror sites, syndicated boilerplate,
    and near-duplicate crawls BEFORE document-level dedup spends effort on
    them (pairs with high containment get routed to the dedup band).

    Scale shape: grams are md5-hashed before the per-source distinct (the
    posting-stream idiom — 16-byte keys, never text) and the gram table is
    checkpointed once (three consumers). The self-join is on the gram hash
    and each gram contributes at most |sources|^2 pairs — bounded by the
    SOURCE count, not the corpus, so a stopword gram cannot explode the
    join the way a hot doc-level key would. Outputs are |sources|^2-sized;
    the size join rides a broadcast.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = docs.select(
        "source", toks.alias("toks"), F.size(toks).alias("n")
    ).filter(F.col("n") >= 3)
    target = spark.sparkContext.defaultParallelism
    if base.rdd.getNumPartitions() < target:
        base = base.repartition(target)
    # r12 (optimization): the old shape materialized the distinct
    # (source, gram) table and SELF-JOINED it on the gram hash — two
    # more corpus-sized gram-keyed exchanges plus a pair-keyed
    # re-aggregation of the join output. The join only ever compared
    # sources WITHIN one gram's bucket, so the same census falls out of
    # ONE gram-keyed aggregate: collect_set(source) per gram (the set
    # dedups, replacing the distinct pass), then every ordered source
    # pair of the sorted set is generated IN-ROW (posexplode anchor +
    # explode of the strictly-later slice, see `pairs` below —
    # |sources|^2-bounded per gram exactly like the join was) and
    # counted in a |sources|^2-sized aggregate. One data-sized exchange
    # instead of three, no join, same exact counts.
    per_gram = (
        base.select(
            "source",
            F.explode(F.sequence(F.lit(1), F.col("n") - 2)).alias("i"),
            "toks",
        )
        .select(
            "source",
            F.md5(F.array_join(F.expr("slice(toks, i, 3)"), " ")).alias(
                "gram"
            ),
        )
        .groupBy("gram")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .select("ss")
        .localCheckpoint()  # two consumers: sizes + the pair census
    )
    sizes = (
        per_gram.select(F.explode("ss").alias("source"))
        .groupBy("source")
        .agg(F.count("*").alias("n_grams"))
    )
    # ordered pairs by double generator (posexplode anchor + explode of
    # the strictly-later slice) — plain generators and slice(), no array
    # lambda, per the suite-wide interpreted-HOF ban
    pairs = (
        per_gram.select(F.posexplode("ss").alias("i", "source_a"), "ss")
        .select(
            "source_a",
            F.explode(F.expr("slice(ss, i + 2, size(ss))")).alias(
                "source_b"
            ),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("shared_grams"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("n_grams").alias("grams_a")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("n_grams").alias("grams_b")
    )
    return (
        pairs.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "shared_grams",
            "grams_a",
            "grams_b",
            F.expr(
                "(shared_grams * 1000000) div least(grams_a, grams_b)"
            ).alias("containment_ppm"),
            F.expr(
                "(shared_grams * 1000000)"
                " div (grams_a + grams_b - shared_grams)"
            ).alias("jaccard_ppm"),
        )
    )
