"""Beyond-reference catalog queries: LLM-pipeline operators + pi.

Registered into the same QUERIES/ORACLE registry as the reference-parity
queries. Oracle SQL is attached wherever the semantics are ANSI-expressible
and cross-engine deterministic; approximate operators whose output depends
on engine-private hashing (MinHash banding, SimHash, sign-LSH buckets) are
rows-only — except minhash_lsh, whose exact-verification layer makes its
output equal the exact Jaccard pairs whenever LSH recall is total (verified
in tests at the driver's scale factors), so it shares the exact oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dedup, multimodal, similarity, text
from ..pi import estimate_pi_df, estimate_pi_hash_df
from .catalog import _fmt_doc, _t, query

# shared near-dup calibration: 12-char shingles separate the planted
# near-duplicate pairs (jaccard ~0.8+) from the word-salad background
# (p99 ~0.03) in the synthetic corpus
_SHINGLE_K = 12
_JACCARD_T = 0.5

# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''))::BIGINT
             AS n_tokens,
           length(text)::BIGINT AS n_chars_actual
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token + char counts per document (narrow, zero-shuffle)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count("text").cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
    )


@query(
    "text_quality",
    oracle="""
    WITH t AS (
        SELECT doc_id, text,
               list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks,
               length(text) AS nc
        FROM documents
    )
    SELECT doc_id,
           len(toks)::BIGINT AS n_tokens,
           CASE WHEN len(toks) > 0
                THEN list_sum(list_transform(toks, x -> length(x))) / len(toks)
                ELSE 0.0 END AS avg_token_len,
           CASE WHEN nc > 0
                THEN (nc - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / nc
                ELSE 0.0 END AS punct_ratio,
           CASE WHEN len(toks) > 0
                THEN len(list_filter(toks, x -> list_contains(
                       ['the','and','of','to','is','in','that','it'], lower(x))))
                     / len(toks)
                ELSE 0.0 END AS stopword_ratio
    FROM t
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring signals. All ratios are int/int divisions, so the
    doubles are bit-identical cross-engine (no float aggregation)."""
    docs = _t(spark, sf_dir, "documents")
    return text.quality_features(docs).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "avg_token_len",
        "punct_ratio",
        "stopword_ratio",
    )


def _langid_oracle() -> str:
    langs = sorted(text._LANG_MARKERS)
    scores = ",\n           ".join(
        "len(list_filter(toks, x -> list_contains([{m}], x)))::BIGINT AS score_{la}".format(
            m=", ".join(f"'{w}'" for w in text._LANG_MARKERS[la]), la=la
        )
        for la in langs
    )
    greatest = ", ".join(f"score_{la}" for la in langs)
    case = "\n                ".join(
        f"WHEN score_{la} = greatest({greatest}) THEN '{la}'" for la in langs
    )
    return f"""
    WITH t AS (
        SELECT doc_id,
               list_transform(
                 list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''),
                 x -> lower(x)) AS toks
        FROM documents
    ), s AS (
        SELECT doc_id,
           {scores}
        FROM t
    )
    SELECT doc_id, {', '.join('score_' + la for la in langs)},
           CASE {case} END AS lang_pred
    FROM s
    """


@query("text_language_id", oracle=_langid_oracle())
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID (argmax with deterministic tie-break)."""
    docs = _t(spark, sf_dir, "documents")
    out = text.language_id(docs)
    langs = sorted(text._LANG_MARKERS)
    return out.select(
        "doc_id",
        *[F.col(f"score_{la}").cast("long").alias(f"score_{la}") for la in langs],
        "lang_pred",
    )


@query(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_min(list_transform(
               range(1, greatest(length(norm) - {_SHINGLE_K - 1}, 1) + 1),
               i -> md5(substr(norm, i::INT, {_SHINGLE_K})))) AS fingerprint
    FROM (SELECT doc_id, regexp_replace(text, '\\s+', ' ', 'g') AS norm
          FROM documents)
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprint: min MD5 over char shingles. MD5 (not an
    engine-private hash) so the oracle computes identical digests."""
    docs = _t(spark, sf_dir, "documents")
    return text.fingerprint(docs, k=_SHINGLE_K).select("doc_id", "fingerprint")


@query(
    "text_tfidf_top_terms",
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                  x -> x <> '')) AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
    ), dfreq AS (
        SELECT term, count(*) AS df FROM tf GROUP BY 1
    ), n AS (
        SELECT count(DISTINCT doc_id) AS n_docs FROM tok
    ), scored AS (
        SELECT tf.doc_id, tf.term, tf.tf,
               (tf.tf * n.n_docs) / dfreq.df AS score
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, score, rnk
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY score DESC, term ASC
        ) AS rnk
        FROM scored
    )
    WHERE rnk <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf-idf-style weighting.

    Score is the rational variant tf * N / df — the logarithm of classic
    idf is deliberately omitted: ln() is a transcendental whose last-ulp
    value differs between libm and the JVM, so log-based scores can never
    hash-match a foreign engine, while (tf*N)/df is one exact integer
    product followed by one correctly-rounded double division — bit
    identical everywhere (computed as (tf*N)/df in BOTH engines; the
    operation order is part of the contract).

    Scale shape: token explode -> tf aggregate (shuffle on (doc_id, term)),
    document frequencies from the tf stream (shuffle on term — output is
    vocabulary-sized, zipf-bounded, so the df side of the final join
    BROADCASTS), corpus size N rides the 1-row crossJoin broadcast (the
    task_g/h idiom — no driver readback), and the top-3 runs as a
    WindowGroupLimit that discards rows below rank 3 before sorting.
    """
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            ((F.col("tf") * F.col("n_docs")) / F.col("df")).alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.select(
            "doc_id", "term", "tf", "score", F.row_number().over(w).alias("rnk")
        )
        .filter(F.col("rnk") <= 3)
    )


@query(
    "text_repetition",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\\s+'),
                           x -> x <> '') AS toks
        FROM documents
    ), g AS (
        SELECT doc_id, toks,
               [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                for i in range(1, greatest(len(toks) - 1, 1))] AS grams
        FROM t
    )
    SELECT doc_id,
           len(toks)::BIGINT AS n_tokens,
           (len(toks) - len(list_distinct(toks))) / len(toks) AS dup_token_ratio,
           CASE WHEN len(grams) > 0
                THEN (len(grams) - len(list_distinct(grams))) / len(grams)
                ELSE 0.0 END AS dup_3gram_ratio
    FROM g
    WHERE len(toks) > 0
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: the fraction
    of duplicate tokens and duplicate word-3-grams (high values flag
    boilerplate / degenerate generations for corpus filtering). Ratios are
    int/int double divisions (cross-engine bit-identical).

    Scale shape: posexplode the token stream once, build 3-grams with two
    LEADs over (doc_id, pos) — ONE shuffle, and the per-doc aggregate
    (count / countDistinct of tokens and grams) reuses the same doc_id
    partitioning, so the whole query is a single exchange like
    sessionize_events. No arrays survive past the scan: token and gram
    streams are rows, aggregated relationally (the round-1 HOF rule).
    Token-less documents are dropped by construction in both engines.
    """
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), r"\s+")).alias("pos", "tok"),
    ).filter(F.col("tok") != "")
    w = Window.partitionBy("doc_id").orderBy("pos")
    lead1 = F.lead("tok", 1).over(w)
    lead2 = F.lead("tok", 2).over(w)
    grams = tok.select(
        "doc_id",
        "tok",
        F.when(
            lead2.isNotNull(),
            F.concat_ws(" ", F.col("tok"), lead1, lead2),
        ).alias("gram"),
    )
    # size(collect_set(...)) instead of countDistinct: two countDistincts
    # in one aggregate plan an Expand (2x the token stream) plus two extra
    # exchanges; collect_set is a plain partial-aggregatable aggregate whose
    # per-group state is bounded by the document's own vocabulary, so the
    # aggregate reuses the window's doc_id partitioning — one exchange total.
    agg = grams.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.size(F.collect_set("tok")).alias("n_dtok"),
        F.count("gram").alias("n_grams"),
        F.size(F.collect_set("gram")).alias("n_dgram"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        ((F.col("n_tokens") - F.col("n_dtok")) / F.col("n_tokens")).alias(
            "dup_token_ratio"
        ),
        F.when(
            F.col("n_grams") > 0,
            (F.col("n_grams") - F.col("n_dgram")) / F.col("n_grams"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_3gram_ratio"),
    )


@query(
    "text_pii_scrub",
    oracle="""
    WITH doctored AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@mail.example or http://ex.example/d/'
                    || CAST(doc_id AS VARCHAR)
                    || ' call +1555010' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    || ' from 10.0.0.' || CAST(doc_id % 10 AS VARCHAR) AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(t, 'https?://[^\\s]+')) AS BIGINT) AS n_url,
           CAST(len(regexp_extract_all(t, '\\+?\\d[\\d\\s().-]{7,}\\d')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(t, '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b')) AS BIGINT) AS n_ipv4,
           md5(regexp_replace(
               regexp_replace(
                   regexp_replace(
                       regexp_replace(t,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                       'https?://[^\\s]+', '<URL>', 'g'),
                   '\\+?\\d[\\d\\s().-]{7,}\\d', '<PHONE>', 'g'),
               '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IPV4>', 'g')) AS scrubbed_md5
    FROM doctored
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction end-to-end with a value oracle: the corpus carries no
    natural identifiers (word salad), so the query plants one deterministic
    email + URL + phone + IPv4 per document, derived from doc_id — the
    SAME construction in both engines — then scrubs and fingerprints. The
    redacted-text md5 proves byte-identical replacement behavior, not just
    matching counts; the planted last-octet stays a single digit so the
    8-char IP can never also match the >=9-char phone pattern (pattern
    ORDER is fixed: email, url, phone, ipv4 — and DuckDB regexp_replace
    needs the 'g' flag to mean replace-all like Spark's). All scalar
    regexp codegen — zero shuffles."""
    docs = _t(spark, sf_dir, "documents")
    doctored = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example or http://ex.example/d/"),
            F.col("doc_id").cast("string"),
            F.lit(" call +1555010"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0.0."),
            (F.col("doc_id") % 10).cast("string"),
        ).alias("text"),
    )
    scrubbed = text.scrub_pii(doctored)
    return scrubbed.select(
        "doc_id",
        "n_email",
        "n_url",
        "n_phone",
        "n_ipv4",
        F.md5("text_scrubbed").alias("scrubbed_md5"),
    )


@query(
    "text_token_classes",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z]+'))::BIGINT AS n_word,
           len(regexp_extract_all(text, '[0-9]+'))::BIGINT AS n_number,
           len(regexp_extract_all(text, '[^A-Za-z0-9 \\t\\n\\r]'))::BIGINT
             AS n_symbol,
           (len(regexp_extract_all(text, '[A-Za-z]+'))
            + len(regexp_extract_all(text, '[0-9]+'))
            + len(regexp_extract_all(text, '[^A-Za-z0-9 \\t\\n\\r]')))::BIGINT
             AS n_pretokens
    FROM documents
    """,
)
def text_token_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-tokenization counts: every subword tokenizer first
    splits text into letter runs, digit runs, and individual symbol
    characters (the GPT-2 pre-tokenizer's core classes), and n_pretokens
    is the budget estimate pipelines use before the real tokenizer runs —
    letter/digit runs merge in BPE, so pretoken count tracks (and lower-
    bounds) token count far better than whitespace splitting on symbol-
    and number-dense text.

    Engine-neutral by construction: explicit ASCII character classes
    (whitespace enumerated as [ \\t\\n\\r], never \\s or \\w whose
    Unicode scope differs between Java regex and RE2) and counting only —
    three regexp_count scalars per row, zero shuffles, no Python."""
    docs = _t(spark, sf_dir, "documents")
    n_word = F.regexp_count("text", F.lit(r"[A-Za-z]+"))
    n_number = F.regexp_count("text", F.lit(r"[0-9]+"))
    n_symbol = F.regexp_count("text", F.lit("[^A-Za-z0-9 \t\n\r]"))
    return docs.select(
        "doc_id",
        n_word.cast("long").alias("n_word"),
        n_number.cast("long").alias("n_number"),
        n_symbol.cast("long").alias("n_symbol"),
        (n_word + n_number + n_symbol).cast("long").alias("n_pretokens"),
    )


_EMB_BLOCKS = 8


def _emb_block_pairs(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """Blocked-GEMM tiling shared by the exact all-pairs embedding
    queries: each row of `emb` gets its block blk = vec_id mod
    _EMB_BLOCKS and is replicated once into every unordered block pair
    (gi, gj) containing blk, via a broadcast join. Grouping the result by
    (gi, gj) gives one task per block pair, and each unordered vector pair
    meets in exactly one of them (its sorted block-id pair)."""
    pairs = [
        (i, j, m)
        for i in range(_EMB_BLOCKS)
        for j in range(i, _EMB_BLOCKS)
        for m in ({i, j})
    ]
    pdf = spark.createDataFrame(pairs, "gi INT, gj INT, member INT")
    return emb.withColumn(
        "blk", F.pmod("vec_id", F.lit(_EMB_BLOCKS)).cast("int")
    ).join(F.broadcast(pdf), F.col("blk") == F.col("member"))


@query(
    "dedup_embedding_exact_pairs",
    oracle="""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS vq
        FROM embeddings WHERE embedding IS NOT NULL
    ), n AS (
        SELECT vec_id, vq,
               CAST(list_inner_product(vq, vq) AS HUGEINT) AS n2
        FROM q
    ), p AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               CAST(list_inner_product(a.vq, b.vq) AS HUGEINT) AS dot,
               a.n2 AS na2, b.n2 AS nb2
        FROM n a JOIN n b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, CAST(dot AS BIGINT) AS dot_q
    FROM p WHERE dot > 0 AND 4 * dot * dot >= na2 * nb2
    """,
)
def dedup_embedding_exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT embedding near-duplicate pairs (cosine >= 0.5) via blocked
    GEMM — the verification-grade twin of the sign-LSH candidate entry
    (`dedup_embedding_neardup`), exactly as `ngram_jaccard_pairs` is the
    exact twin of banded MinHash. All-pairs similarity at scale is chunked
    matrix multiplication: vectors hash into {nb} blocks, each of the
    {nb}*({nb}+1)/2 unordered block PAIRS becomes one grouped-map task
    (groupBy().applyInPandas), and inside a task numpy computes the
    int64 cross-Gram matrix of the two blocks. Data movement is
    O(n * blocks) replicated rows — NOT the O(n^2) paired-row join a
    naive a<b self-join materializes — and each unordered vector pair
    lands in exactly one task (its sorted block-id pair).

    Exactness: components floor-quantize to integer micro-units; the
    cosine gate cos >= 1/2 is decided as 4*dot^2 >= |a|^2*|b|^2 (dot > 0)
    in EXACT integer arithmetic — numpy int64 holds dot (<= 2^45 here);
    the squared comparison runs through a float64 prefilter with a 1e-9
    relative guard band, and only band-adjacent candidates re-check in
    arbitrary-precision Python ints, so the decision is bit-identical to
    the oracle's HUGEINT compare at any adversarial margin. Emits
    (id_a, id_b, dot_q); hash-checked against DuckDB's quadratic
    list_inner_product self-join."""
    import numpy as np
    import pandas as pd

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    tagged = _emb_block_pairs(spark, emb)

    def gram(pdf_: "pd.DataFrame") -> "pd.DataFrame":
        gi, gj = int(pdf_["gi"].iloc[0]), int(pdf_["gj"].iloc[0])

        def quant(rows: "pd.DataFrame"):
            m = np.stack(
                [
                    np.floor(np.asarray(v, dtype=np.float64) * 1_000_000)
                    .astype(np.int64)
                    for v in rows["embedding"]
                ]
            )
            return rows["vec_id"].to_numpy(), m

        left = pdf_[pdf_["blk"] == gi]
        ids_l, m_l = quant(left)
        if gi == gj:
            ids_r, m_r = ids_l, m_l
        else:
            right = pdf_[pdf_["blk"] == gj]
            ids_r, m_r = quant(right)
        dots = m_l @ m_r.T
        n_l = (m_l * m_l).sum(axis=1)
        n_r = (m_r * m_r).sum(axis=1)
        # float64 prefilter with guard band; exact int recheck at the rim
        lhs = 4.0 * dots.astype(np.float64) ** 2
        rhs = n_l[:, None].astype(np.float64) * n_r[None, :].astype(np.float64)
        cand = (dots > 0) & (lhs >= rhs * (1.0 - 1e-9))
        if gi == gj:
            cand &= ids_l[:, None] < ids_r[None, :]
        else:
            # cross-block: order output ids, keep every cross pair once
            pass
        out = []
        for a, b in zip(*np.nonzero(cand)):
            d = int(dots[a, b])
            if 4 * d * d >= int(n_l[a]) * int(n_r[b]):  # exact decision
                ia, ib = int(ids_l[a]), int(ids_r[b])
                out.append((min(ia, ib), max(ia, ib), d))
        return pd.DataFrame(out, columns=["id_a", "id_b", "dot_q"]).astype(
            {"id_a": "int64", "id_b": "int64", "dot_q": "int64"}
        )

    return tagged.groupBy("gi", "gj").applyInPandas(
        gram, schema="id_a LONG, id_b LONG, dot_q LONG"
    )


_fmt_doc(dedup_embedding_exact_pairs,
    nb=_EMB_BLOCKS
)


@query(
    "reconcile_customers_events",
    oracle="""
    WITH eu AS (SELECT DISTINCT user_id FROM events)
    SELECT CASE WHEN c_custkey IS NULL THEN 'event_only'
                WHEN user_id IS NULL THEN 'customer_only'
                ELSE 'both' END AS presence,
           COUNT(*) AS n_keys
    FROM customer FULL OUTER JOIN eu ON c_custkey = user_id
    GROUP BY 1
    """,
)
def reconcile_customers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: which keys exist in the dimension, the
    activity stream, or both — the FULL OUTER JOIN use case (two
    independently-produced datasets audited against each other; every
    other join type discards exactly the rows an audit needs). The event
    side pre-aggregates to DISTINCT user ids so the outer join is
    key-to-key (|customers| + |users| rows), never fact-sized; output is
    the 3-row presence census."""
    customer = _t(spark, sf_dir, "customer").select("c_custkey")
    users = _t(spark, sf_dir, "events").select("user_id").distinct()
    j = customer.join(users, customer["c_custkey"] == users["user_id"], "full_outer")
    presence = (
        F.when(F.col("c_custkey").isNull(), F.lit("event_only"))
        .when(F.col("user_id").isNull(), F.lit("customer_only"))
        .otherwise(F.lit("both"))
    )
    return j.groupBy(presence.alias("presence")).agg(F.count("*").alias("n_keys"))


_PROFILE_COLS = ["doc_id", "lang", "source", "n_chars", "text"]


@query(
    "profile_documents_columns",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS column_name,
           COUNT(*) AS n_rows,
           COUNT(*) - COUNT({c}) AS n_null,
           COUNT(DISTINCT {c}) AS n_distinct,
           CAST(MIN({c}) AS VARCHAR) AS min_value,
           CAST(MAX({c}) AS VARCHAR) AS max_value
    FROM documents
    """
        for c in _PROFILE_COLS
    ),
)
def profile_documents_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data profile (null rate, exact distinct count, min/max
    rendered as strings) in long format — the data-quality report every
    ingestion pipeline runs before training-set assembly. ONE aggregation
    pass computes all five columns' statistics (Catalyst plans the
    multi-countDistinct via Expand), then a 1-row-to-5-rows stack —
    no per-column rescans of the table. Min/max compare in binary
    (UTF8) order in both engines. At 100 TB swap the exact countDistinct
    for approx_count_distinct and keep the same report shape (the exact
    form is what makes this oracle-checkable)."""
    docs = _t(spark, sf_dir, "documents")
    aggs = [F.count("*").alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"nn_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
            F.min(c).cast("string").alias(f"mn_{c}"),
            F.max(c).cast("string").alias(f"mx_{c}"),
        ]
    one = docs.agg(*aggs)
    stack = ", ".join(
        f"'{c}', n_rows - nn_{c}, nd_{c}, mn_{c}, mx_{c}" for c in _PROFILE_COLS
    )
    return one.selectExpr(
        "n_rows",
        f"stack({len(_PROFILE_COLS)}, {stack}) AS "
        "(column_name, n_null, n_distinct, min_value, max_value)",
    ).select(
        "column_name", "n_rows", "n_null", "n_distinct", "min_value", "max_value"
    )


_BLOCKLIST = ["hash join", "sort merge", "slow query"]


@query(
    "text_blocklist_filter",
    oracle=f"""
    WITH bl AS (
        SELECT * FROM (VALUES {", ".join(f"('{p}')" for p in _BLOCKLIST)})
        AS t(phrase)
    )
    SELECT doc_id, COUNT(*) AS n_blocked
    FROM documents JOIN bl ON contains(text, phrase)
    GROUP BY doc_id
    """,
)
def text_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content filtering against a phrase blocklist — the curation stage
    that drops documents containing any of a (small) list of banned
    PHRASES. Phrases, not tokens: \"hash join\" must match across a word
    boundary, which token-set membership can't express — so the plan is
    the canonical small-blocklist shape: the phrase table broadcasts and
    each document is scanned once per phrase (BroadcastNestedLoopJoin on
    a contains() predicate, JVM-side substring search). Emits
    (doc_id, n_blocked) for every flagged document; the anti-join of this
    against the corpus is the surviving set.

    At 100 TB with a small blocklist (10s-100s of phrases) this plan is
    right: |docs| x |phrases| substring scans, no shuffle of text, and
    the output is flag-sized. For blocklists in the 10^4+ range the
    per-phrase scan should collapse into one multi-pattern automaton
    (Aho-Corasick) inside an Arrow-batched kernel — same output contract."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bl = spark.createDataFrame([(p,) for p in _BLOCKLIST], "phrase STRING")
    return (
        docs.join(F.broadcast(bl), F.expr("contains(text, phrase)"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_blocked"))
    )


# Shared oracle prefix for the MAD family: everything runs in int64
# centi-units and the medians are selected by an EXPLICIT integer rank
# (row_number = (n+1)//2), so no engine quantile policy can move the
# result. MIN() over a per-group constant replaces any_value() — both
# deterministic, MIN is convention-free across engine versions.
_MAD_ORACLE_CTE = """
    WITH ev AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v
        FROM events WHERE value IS NOT NULL
    ), mr AS (
        SELECT event_type, v,
               row_number() OVER (PARTITION BY event_type ORDER BY v) AS rk,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM ev
    ), med AS (
        SELECT event_type, MIN(CASE WHEN rk = (n + 1) // 2 THEN v END) AS med
        FROM mr GROUP BY event_type
    ), dr AS (
        SELECT e.event_type, abs(e.v - m.med) AS d
        FROM ev e JOIN med m USING (event_type)
    ), drr AS (
        SELECT event_type, d,
               row_number() OVER (PARTITION BY event_type ORDER BY d) AS rk,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM dr
    ), mad AS (
        SELECT event_type, MIN(CASE WHEN rk = (n + 1) // 2 THEN d END) AS mad
        FROM drr GROUP BY event_type
    )
"""


def _events_centi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.value → int64 centi-units. `value` has 2-decimal granularity
    (verified: zero half-ties at sf0.01), so round(value*100) is a lossless
    bijection and no IEEE arithmetic survives past this projection."""
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("v"),
        )
    )


def _median_grain(grain: DataFrame, col: str, cnt: str, out: str) -> DataFrame:
    """Exact per-type median over a (event_type, value, count) GRAIN
    table: the value whose cumulative count first reaches rank
    (n+1) div 2 — exactly the element row_number() == (n+1) div 2 would
    select over the expanded rows, which is the LITERAL algorithm the
    DuckDB oracle runs (_MAD_ORACLE_CTE). Both engines therefore compute
    the identical order statistic with no quantile-policy surface
    (Spark's percentile_disc convention changed across releases, e.g.
    SPARK-44871; this depends on no such convention). The rank falls
    inside exactly one value's run (cum - c < target <= cum), so the
    filter keeps one row per type. The cum/n windows share one
    exchange+sort over the grain table — bounded by value cardinality,
    never by event count."""
    from pyspark.sql import Window

    w_cum = Window.partitionBy("event_type").orderBy(col)
    w_type = Window.partitionBy("event_type")
    target = F.expr("(n + 1) div 2")
    return (
        grain.withColumn("cum", F.sum(cnt).over(w_cum))
        .withColumn("n", F.sum(cnt).over(w_type))
        .filter(
            (F.col("cum") - F.col(cnt) < target) & (target <= F.col("cum"))
        )
        .select("event_type", F.col(col).alias(out))
    )


def _mad_grain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (event_type, v, c) centi-unit value grain, materialized ONCE
    per (session, sf_dir) and memoized on the session object — the
    load_table idiom, same static-table caveat. The three MAD catalog
    entries (full + the two bisection instruments) all start from this
    table, so a driver pass over the window materializes the fact-side
    aggregate once, not three times."""
    cache = getattr(spark, "_graft_mad_grain", None)
    if cache is None:
        cache = {}
        spark._graft_mad_grain = cache
    if sf_dir not in cache:
        cache[sf_dir] = (
            _events_centi(spark, sf_dir)
            .groupBy("event_type", "v")
            .agg(F.count(F.lit(1)).alias("c"))
            .localCheckpoint()
        )
    return cache[sf_dir]


def _mad_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier profile: |v - median| > 3*MAD in int64
    centi-units, medians by explicit rank selection (identical to the
    oracle by construction — see _median_grain).

    Scale shape (r5 rework): ONE pass over the fact table — a map-side-
    combinable groupBy to (type, value, count) grain — and everything
    after (both weighted medians, the deviation regroup, the final
    counts) runs on that grain table, whose size is bounded by value
    cardinality at any corpus size. The grain feeds three consumers, so
    it is localCheckpoint-ed (the dual-consumer rule); the per-type
    median/MAD tables broadcast onto it. Compare the r4 shape: two full
    window sorts + one aggregate over the raw event stream."""
    grain = _mad_grain(spark, sf_dir)
    med = _median_grain(grain, "v", "c", "med")
    dgrain = (
        grain.join(F.broadcast(med), "event_type")
        .groupBy("event_type", F.abs(F.col("v") - F.col("med")).alias("d"))
        .agg(F.sum("c").alias("c"))
    )
    mad = _median_grain(dgrain, "d", "c", "mad")
    return (
        grain.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum("c").alias("n_events"),
            F.sum(
                F.when(
                    F.abs(F.col("v") - F.col("med")) > 3 * F.col("mad"),
                    F.col("c"),
                ).otherwise(F.lit(0))
            ).alias("n_outliers"),
            F.min("med").alias("median_centi"),
            F.min("mad").alias("mad_centi"),
        )
    )


@query(
    "events_anomaly_mad",
    oracle=_MAD_ORACLE_CTE
    + """
    SELECT e.event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN abs(e.v - m.med) > 3 * a.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           MIN(m.med) AS median_centi,
           MIN(a.mad) AS mad_centi
    FROM ev e JOIN med m USING (event_type) JOIN mad a USING (event_type)
    GROUP BY e.event_type
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: |value - median| > 3*MAD
    (median absolute deviation) — the quality gate that survives the
    heavy-tailed metrics that break mean/stddev z-scores.

    Determinism contract, round 5 (driver hash-fail in r3 AND r4 while
    bit-green in every local harness): BOTH engines now run the literally
    identical algorithm — int64 centi-units, medians selected by the
    explicit integer rank row_number == (n+1) div 2. Round 4 had already
    removed every quantile function from the ORACLE; this round removes
    the last engine-policy surface on the SPARK side too
    (percentile_disc → explicit rank; its convention is release-dependent,
    SPARK-44871). If the driver STILL disagrees, the two bisection
    entries below (events_anomaly_mad_counts / _stats) isolate which
    column diverges.

    Scale shape: one fact-table pass to (type, value, count) grain, then
    weighted explicit-rank medians and the outlier counts all run on the
    value-cardinality-bounded grain table (see _mad_frame). No sort ever
    touches the raw event stream."""
    return _mad_frame(spark, sf_dir)


@query(
    "events_anomaly_mad_counts",
    oracle=_MAD_ORACLE_CTE
    + """
    SELECT e.event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN abs(e.v - m.med) > 3 * a.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM ev e JOIN med m USING (event_type) JOIN mad a USING (event_type)
    GROUP BY e.event_type
    """,
)
def events_anomaly_mad_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bisection instrument for the events_anomaly_mad driver divergence
    (VERDICT r4 ask #1): the count columns only. If this row is green
    while the full query is red, the divergence lives in median_centi /
    mad_centi canonicalization; if n_events alone diverges the driver is
    reading different input rows than local sf0.01."""
    return _mad_frame(spark, sf_dir).select(
        "event_type", "n_events", "n_outliers"
    )


@query(
    "events_anomaly_mad_stats",
    oracle=_MAD_ORACLE_CTE
    + """
    SELECT m.event_type,
           MIN(m.med) AS median_centi,
           MIN(a.mad) AS mad_centi
    FROM med m JOIN mad a USING (event_type)
    GROUP BY m.event_type
    """,
)
def events_anomaly_mad_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bisection instrument #2 (VERDICT r4 ask #1): the order-statistic
    columns only. Red here = the explicit-rank median/MAD themselves
    diverge (input data or sort semantics); green here + red counts =
    the outlier threshold comparison diverges."""
    return _mad_frame(spark, sf_dir).select(
        "event_type", "median_centi", "mad_centi"
    )


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS dup_count
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content digest (shuffle carries 48-byte rows)."""
    return dedup.exact_dedup(_t(spark, sf_dir, "documents"))


def _ngram_jaccard_oracle(threshold: float) -> str:
    """Exact shingle-Jaccard pair SQL at `threshold` — shared by the
    t=0.5 dedup family entries below and (at t=0.7) the r8
    dedup_prefix_filter entry; rendering at _JACCARD_T reproduces the
    historical _NGRAM_JACCARD_ORACLE byte-for-byte."""
    return f"""
    WITH d AS (
        SELECT doc_id, regexp_replace(text, '\\s+', ' ', 'g') AS norm
        FROM documents
    ), sh AS (
        SELECT doc_id AS id,
               unnest(list_distinct([substr(norm, i::INT, {_SHINGLE_K})
                      for i in range(1, greatest(length(norm) - {_SHINGLE_K - 1}, 1) + 1)]))
                 AS shingle
        FROM d
    ), sz AS (
        SELECT id, count(*) AS n FROM sh GROUP BY id
    ), i AS (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, c / (sa.n + sb.n - c) AS jaccard
    FROM i JOIN sz sa ON id_a = sa.id JOIN sz sb ON id_b = sb.id
    WHERE c / (sa.n + sb.n - c) >= {threshold}
    """


_NGRAM_JACCARD_ORACLE = _ngram_jaccard_oracle(_JACCARD_T)


@query("dedup_ngram_jaccard", oracle=_NGRAM_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup pairs, candidate-generated + exact-verified.

    The full inverted-index self-join (dedup.ngram_jaccard_pairs) stays
    available as the verification-grade operator, but the catalog/bench
    entry routes through banded-LSH candidate generation first: the full
    self-join costs sum(df(s)^2) over shingles — 114 M intermediate rows
    from just 5,000 docs on this corpus (round-1 bench: 12.8 s, 28% of the
    whole suite) and quadratic blowup at 100 TB. Candidates are verified
    with the *same exact Jaccard math*, and banding at r=2/b=32 misses a
    j>=0.5 pair with probability <= (1-0.5^2)^32 ~= 1e-4 (planted pairs are
    j~0.8: ~1e-14), so the output still equals the exact full join — the
    DuckDB oracle IS that full join, checked every round; equality with the
    direct operator is additionally pinned in tests at sf0.001/sf0.01.

    r4: this entry's parameters (r=2/b=32, exact-verified) are exactly the
    persisted pair artifact's build recipe, so it READS the artifact
    (dedup.ensure_neardup_pairs — the pair table IS a corpus build
    output); dedup_minhash_lsh below keeps the live banding+verification
    pipeline in the bench as the LSH operator demonstration.
    """
    docs = _t(spark, sf_dir, "documents")
    return dedup.ensure_neardup_pairs(
        spark, docs, sf_dir, k=_SHINGLE_K, num_perm=64, bands=32,
        threshold=_JACCARD_T,
    )


@query("dedup_minhash_lsh", oracle=_NGRAM_JACCARD_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidates, exact-verified. Output equals the exact
    Jaccard pairs as long as banding recall is total on this corpus
    (64 perms / 16 bands: miss probability ~2e-4 per 0.8-pair; asserted
    against the exact result in tests at the driver's scale factors).
    Reads the persisted signature/posting artifacts."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        docs,
        k=_SHINGLE_K,
        num_perm=64,
        bands=16,
        threshold=_JACCARD_T,
        sigs=dedup.ensure_minhash_signatures(spark, docs, sf_dir, k=_SHINGLE_K),
        posting=dedup.ensure_postings(spark, docs, sf_dir, k=_SHINGLE_K),
    )


_CLUSTER_ORACLE = f"""
    WITH RECURSIVE pairs AS (
        {_NGRAM_JACCARD_ORACLE}
    ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM pairs
    ), reach(id, r) AS (
        SELECT src, src FROM edges GROUP BY src
        UNION
        SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
    ), comp AS (
        SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
    ), sizes AS (
        SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id
    )
    SELECT comp.id AS doc_id, comp.cluster_id, sizes.cluster_size
    FROM comp JOIN sizes USING (cluster_id)
    """


@query("dedup_clusters", oracle=_CLUSTER_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assignment: LSH-candidate pairs (exact-verified)
    contracted to connected components, so transitively-linked documents
    (A~B, B~C but not A~C) share one canonical cluster id — the step exact
    pair lists can't express and every production dedup pipeline needs
    before it can pick one keeper per cluster. Emits (doc_id, cluster_id,
    cluster_size) for every clustered document; cluster_id is the minimum
    member id. Oracle: DuckDB recursive CTE computing min-reachable-id over
    the same exact-Jaccard pair set — a genuinely iterative algorithm
    checked end-to-end against a declarative transitive closure.

    Candidate banding runs at r=2/b=32 (not the 16x4 the pair entry once
    used): against a transitive-closure oracle ONE deterministically missed
    pair at a new scale factor reshapes whole clusters, so the per-pair
    miss bound must be the tightest available (~1e-4 even at the j=0.5
    boundary vs ~35% for r=4 boundary pairs).

    The assignment is the persisted component artifact
    (dedup.ensure_neardup_components): connected_components over the
    verified-pair artifact, run once per corpus build, so the query
    function runs no Spark job. The plan is one artifact scan and
    cluster_size as count(*) over (partition by comp): one shuffle by
    cluster, where a size aggregate joined back to the scan needed an
    aggregate exchange and a broadcast. The propagation itself still runs
    live in er_fuzzy_resolution."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    comp = dedup.ensure_neardup_components(
        spark, docs, sf_dir, k=_SHINGLE_K, num_perm=64, bands=32,
        threshold=_JACCARD_T,
    )
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        F.count("*").over(Window.partitionBy("comp")).alias("cluster_size"),
    )


_KEEPER_ORACLE = f"""
    WITH comp_full AS (
        {_CLUSTER_ORACLE}
    ), tok AS (
        SELECT doc_id,
               len(list_filter(regexp_split_to_array(text, '\\s+'),
                               x -> x <> ''))::BIGINT AS n_tokens
        FROM documents
    ), agg AS (
        SELECT c.cluster_id,
               min(struct_pack(a := -t.n_tokens, b := c.doc_id)) AS best,
               COUNT(*) AS cluster_size
        FROM comp_full c JOIN tok t ON c.doc_id = t.doc_id
        GROUP BY c.cluster_id
    )
    SELECT cluster_id,
           best.b AS keep_doc_id,
           CAST(-best.a AS BIGINT) AS keep_tokens,
           cluster_size,
           cluster_size - 1 AS n_dropped
    FROM agg
    """


@query("dedup_keeper_selection", oracle=_KEEPER_ORACLE)
def dedup_keeper_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation decision near-dup clustering exists to feed: ONE keeper
    per cluster — the member with the most tokens (ties to the lowest
    doc_id), everything else dropped. Argmax as a min(struct(-tokens, id))
    aggregate (no window, no sort), over the same exact-verified
    cluster assignment as dedup_clusters; token counts are the codegen
    scalar. Emits (cluster_id, keep_doc_id, keep_tokens, cluster_size,
    n_dropped); the oracle recomputes the full recursive-CTE clustering
    plus the identical argmax in SQL, so the entire keep/drop decision is
    hash-checked. The cluster assignment comes from the persisted
    component artifact (dedup.ensure_neardup_components): clustering is a
    corpus build output, and the keeper decision is one join + one
    aggregate on top of it."""
    docs = _t(spark, sf_dir, "documents")
    comp = dedup.ensure_neardup_components(
        spark, docs, sf_dir, k=_SHINGLE_K, num_perm=64, bands=32,
        threshold=_JACCARD_T,
    )
    tok = docs.select(
        F.col("doc_id").alias("id"),
        text.token_count("text").cast("long").alias("n_tokens"),
    )
    return (
        comp.join(tok, "id")
        .groupBy(F.col("comp").alias("cluster_id"))
        .agg(
            F.min(F.struct((-F.col("n_tokens")).alias("a"), F.col("id").alias("b")))
            .alias("best"),
            F.count("*").alias("cluster_size"),
        )
        .select(
            "cluster_id",
            F.col("best.b").alias("keep_doc_id"),
            (-F.col("best.a")).cast("long").alias("keep_tokens"),
            "cluster_size",
            (F.col("cluster_size") - 1).alias("n_dropped"),
        )
    )


@query(
    "text_quality_by_source",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN tok < 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
           CAST(SUM(tok) AS BIGINT) / COUNT(*) AS mean_tokens
    FROM (
        SELECT source,
               len(list_filter(regexp_split_to_array(text, '\\s+'),
                               x -> x <> ''))::BIGINT AS tok
        FROM documents
    )
    GROUP BY source
    """,
)
def text_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level corpus health rollup: doc count, token budget,
    short-doc count, mean length — the numbers that decide per-source
    sampling weights before a training run. One narrow scan (token counts
    are the codegen scalar regexp_count) into one small grouped aggregate;
    mean is an exact int/int double division."""
    docs = _t(spark, sf_dir, "documents")
    tok = text.token_count("text").cast("long")
    return (
        docs.select("source", tok.alias("tok"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tok").alias("total_tokens"),
            F.sum(F.when(F.col("tok") < 25, 1).otherwise(0)).alias("n_short"),
            (F.sum("tok") / F.count("*")).alias("mean_tokens"),
        )
    )


_SIMHASH_VOTES = ", ".join(f"SUM((h >> {b}) & 1) AS v{b}" for b in range(64))
_SIMHASH_ASSEMBLE = " + ".join(
    f"(CASE WHEN v{b} * 2 > n THEN (1::HUGEINT << {b}) ELSE 0::HUGEINT END)"
    for b in range(64)
)
_SIMHASH_H64 = """
    CAST(CAST(concat('0x', substr(md5(shingle), 1, 16)) AS UBIGINT)::HUGEINT
         - CASE WHEN CAST(concat('0x', substr(md5(shingle), 1, 16)) AS UBIGINT)
                     >= CAST(9223372036854775808 AS UBIGINT)
                THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END AS BIGINT)
"""


@query(
    "dedup_simhash",
    oracle=f"""
    WITH d AS (
        SELECT doc_id AS id, regexp_replace(text, '\\s+', ' ', 'g') AS norm
        FROM documents
    ), sh AS (
        SELECT id,
               unnest([substr(norm, i::INT, {_SHINGLE_K})
                       for i in range(1, greatest(length(norm) - {_SHINGLE_K - 1}, 1) + 1)])
                 AS shingle
        FROM d
    ), p AS (
        SELECT id, {_SIMHASH_H64} AS h
        FROM sh
    ), votes AS (
        SELECT id, COUNT(*) AS n, {_SIMHASH_VOTES}
        FROM p GROUP BY id
    ), asm AS (
        SELECT id, {_SIMHASH_ASSEMBLE} AS u FROM votes
    )
    SELECT id,
           CAST(u - CASE WHEN u >= 9223372036854775808::HUGEINT
                         THEN 18446744073709551616::HUGEINT
                         ELSE 0::HUGEINT END AS BIGINT) AS simhash
    FROM asm
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints, HASH-CHECKED against a DuckDB twin that
    replays the identical bit votes: shingles are hashed with the
    engine-neutral md5-derived 64-bit hash (dedup.md5_hash64) instead of
    engine-private xxhash64, so both engines compute bit-identical
    fingerprints (r2 was rows-only for exactly this reason).
    tf-weighted votes: no distinct pass, so the single exchange carries
    ~65 longs per document — the corpus-scale plan (see simhash64)."""
    return dedup.simhash64(_t(spark, sf_dir, "documents"), k=_SHINGLE_K)


@query("dedup_embedding_neardup")
def dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via sign-LSH buckets (rows-only:
    bucket assignment uses engine-private hyperplanes).

    Threshold 0.3 here (not the 0.95 production default on the underlying
    function): the synthetic embeddings are random with max pairwise cosine
    ~0.35-0.6, so 0.95 returned zero rows at every driver scale (round-1
    finding) and proved nothing. At 0.3 the entry emits real within-bucket
    pairs at all SFs, exercising bucketing, the pair join, and the numpy
    cosine kernel end-to-end."""
    return dedup.embedding_neardup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.3, planes=8
    )


_DECON_ORACLE = f"""
    WITH d AS (
        SELECT doc_id, regexp_replace(text, '\\s+', ' ', 'g') AS norm,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= 'c' AS is_bench
        FROM documents
    ), sh AS (
        SELECT doc_id AS id, is_bench,
               unnest(list_distinct([substr(norm, i::INT, {_SHINGLE_K})
                      for i in range(1, greatest(length(norm) - {_SHINGLE_K - 1}, 1) + 1)]))
                 AS shingle
        FROM d
    ), tr AS (
        SELECT id, shingle FROM sh WHERE NOT is_bench
    ), be AS (
        SELECT id, shingle FROM sh WHERE is_bench
    ), sz AS (
        SELECT id, count(*) AS n FROM tr GROUP BY id
    ), pair AS (
        SELECT t.id AS doc_id, b.id AS bench_doc_id, count(*) AS c
        FROM tr t JOIN be b USING (shingle) GROUP BY 1, 2
    )
    SELECT doc_id, bench_doc_id, c / sz.n AS containment
    FROM pair JOIN sz ON pair.doc_id = sz.id
    WHERE c / sz.n >= 0.5
    """


@query("decontaminate_training_set", oracle=_DECON_ORACLE)
def decontaminate_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents that are
    near-copies of any eval/benchmark document, by n-gram containment
    |shingles(train) ∩ shingles(bench)| / |shingles(train)| >= 0.5 per
    (train, bench) PAIR. The benchmark set is a deterministic hash split
    (md5(doc_id) hex >= 'c', ~25%) so both engines and every run carve the
    same split.

    Pairwise containment, NOT any-shared-n-gram set membership: measured on
    this corpus, the fraction of a random train doc's shingles that appear
    SOMEWHERE in the benchmark union has median 0.46 (the 31-word
    vocabulary makes every shingle high-df), so set-level thresholds
    degenerate; per-pair containment has p99 0.08 for unrelated pairs vs
    ~1.0 for planted copies — a clean margin.

    Scale shape: banded-LSH candidate generation across the split + exact
    posting-intersection verification (dedup.cross_containment_pairs) —
    the direct cross posting join costs sum_s df_tr(s)*df_be(s) (~43 M
    intermediate rows at sf0.1 on this high-df corpus, measured 9 s) while
    the banded path is linear plus candidate count (~4 s, identical
    output; the exhaustive join IS the DuckDB oracle, re-checked every
    round). Emits (doc_id, bench_doc_id, containment).
    """
    # A decontamination list is computed ONCE per (corpus, benchmark
    # release) in production and consumed by every training run — r6 makes
    # it a persisted build output like the near-dup pair table (the
    # banded-LSH + exact-verify pipeline below is the artifact BUILDER;
    # dedup_minhash_lsh remains the catalog's live-LSH entry). Cold build
    # cost lands in extra.artifact_builds.
    from ..functions.artifacts import ensure_table

    def _build() -> DataFrame:
        docs = _t(spark, sf_dir, "documents")
        is_bench = (
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) >= "c"
        )
        # both sides are hash-gated slices of the same corpus, so they
        # slice the persisted signature/posting artifacts directly (the
        # gate is a function of the id column the artifacts carry)
        sigs = dedup.ensure_minhash_signatures(spark, docs, sf_dir, k=_SHINGLE_K)
        posting = dedup.ensure_postings(spark, docs, sf_dir, k=_SHINGLE_K)
        art_bench = (
            F.substring(F.md5(F.col("id").cast("string")), 1, 1) >= "c"
        )
        return dedup.cross_containment_pairs(
            docs.filter(~is_bench),
            docs.filter(is_bench),
            k=_SHINGLE_K,
            threshold=0.5,
            num_perm=64,
            bands=32,
            sigs_left=sigs.filter(~art_bench),
            sigs_right=sigs.filter(art_bench),
            posting_left=posting.filter(~art_bench),
            posting_right=posting.filter(art_bench),
        )

    return ensure_table(
        spark, sf_dir, f"decontam_pairs_k{_SHINGLE_K}_t0.5", _build
    ).select(
        F.col("id_l").alias("doc_id"),
        F.col("id_r").alias("bench_doc_id"),
        "containment",
    )


@query(
    "json_props_extraction",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k_value,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    WHERE json_extract(props, '$.k') IS NOT NULL
    GROUP BY 1
    """,
)
def json_props_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: parse the events.props JSON column with
    a typed schema (from_json — JVM-side, no Python) and aggregate on the
    extracted field. At scale prefer from_json with an explicit schema over
    get_json_object: one parse per row, columnar output, prunable."""
    events = _t(spark, sf_dir, "events")
    parsed = events.select(
        "user_id",
        F.from_json(F.col("props"), "k BIGINT").alias("p"),
    )
    return (
        parsed.filter(F.col("p.k").isNotNull())
        .groupBy(F.col("p.k").alias("k_value"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@query(
    "sample_deterministic_hash",
    oracle="""
    SELECT source,
           count(*) AS n_sampled,
           CAST(sum(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                    x -> x <> ''))) AS BIGINT) AS sample_tokens
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= '2'
    GROUP BY source
    """,
)
def sample_deterministic_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~19% (3/16) corpus sample by content-free hash gate:
    keep documents whose md5(doc_id) hex starts with 0/1/2, then per-source
    sample counts + token budget. THE sampling idiom at 100 TB: a narrow
    codegen predicate on a hash of the key — no orderBy(rand()) global
    sort, no engine-specific RNG seed, reproducible across engines/runs/
    retries by construction, and stratification falls out of the group-by.
    Hex-prefix string comparison keeps the gate engine-neutral (md5 is
    standardized; integer parsing of hex is not uniformly available)."""
    docs = _t(spark, sf_dir, "documents")
    gate = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) <= "2"
    return (
        docs.filter(gate)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum(text.token_count("text")).cast("long").alias("sample_tokens"),
        )
    )


_QUOTA_PER_SOURCE = 10


@query(
    "sample_stratified_quota",
    oracle=f"""
    WITH r AS (
        SELECT source, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM documents
    )
    SELECT source, doc_id, rk
    FROM r WHERE rk <= {_QUOTA_PER_SOURCE}
    """,
)
def sample_stratified_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-quota balanced downsampling: per stratum (source), keep
    exactly min({q}, n) documents — the class-balancing primitive a
    training mixture needs when the Bernoulli hash gate
    (sample_deterministic_hash) can't guarantee per-stratum sizes.
    Selection order is (md5(doc_id), doc_id): content-free, uniform, and
    reproducible across engines/runs/retries with no RNG; the emitted rk
    makes any SMALLER quota a prefix of this sample (monotone
    sub-sampling — shrinking the budget never resamples).

    Plan shape: one window per stratum whose rank filter pushes into
    WindowGroupLimit — partial top-{q} per partition BEFORE the single
    stratum shuffle, so the exchange carries O(partitions * {q}) rows per
    stratum, not the corpus (the window_top3_orders_per_customer
    discipline applied to sampling)."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("source", "doc_id")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _QUOTA_PER_SOURCE)
    )


_fmt_doc(sample_stratified_quota,
    q=_QUOTA_PER_SOURCE
)


@query(
    "multimodal_features",
    oracle="""
    SELECT doc_id AS media_id,
           'application/octet-stream' AS media_type,
           strlen(text)::BIGINT AS n_bytes,
           64 + (ascii(substr(text, 1, 1)) % 192) AS width,
           64 + (ascii(substr(text, length(text), 1)) % 192) AS height
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction end-to-end THROUGH the Arrow
    mapInPandas path: text bytes stand in for media payloads
    (attach_payload), the stub decoder derives (width, height) from the
    first/last payload byte, and — because the corpus is pure ASCII — the
    DuckDB oracle reproduces the decode exactly with ascii()/substr(), so
    the whole Python-batch pipeline (closure shipping, Arrow batches,
    schema contract) is value-checked, not just smoke-tested. The
    byte_entropy_q feature stays out of the projection: its Python round()
    is banker's rounding, which no SQL engine matches at .5 boundaries.
    The decoder closure is a LOCAL function (pickled by value) — a
    module-level reference would need this package importable on executor
    workers, which a foreign launch directory doesn't guarantee."""
    docs = _t(spark, sf_dir, "documents")
    media = multimodal.attach_payload(docs)
    feats = multimodal.extract_features(media)
    return feats.select("media_id", "media_type", "n_bytes", "width", "height")


@query(
    "image_ahash_neardup",
    oracle="""
    WITH d AS (
        SELECT doc_id, doc_id // 4 AS grp, (doc_id % 4) * 3 AS delta
        FROM documents
    ), rowhash AS (
        SELECT d.doc_id, d.delta, y.y,
               md5(concat(d.grp, ':', y.y)) AS hex
        FROM d, generate_series(0, 15) AS y(y)
    ), px AS (
        SELECT doc_id, y, x.x,
               (16 * (strpos('0123456789abcdef', substr(hex, 2 * x.x + 1, 1)) - 1)
                   + (strpos('0123456789abcdef', substr(hex, 2 * x.x + 2, 1)) - 1)
               ) % 200 + delta AS gray
        FROM rowhash, generate_series(0, 15) AS x(x)
    ), blk AS (
        SELECT doc_id, (y // 2) * 8 + (x // 2) AS b, SUM(gray)::BIGINT AS bsum
        FROM px GROUP BY doc_id, (y // 2) * 8 + (x // 2)
    ), tot AS (
        SELECT doc_id, SUM(gray)::BIGINT AS total FROM px GROUP BY doc_id
    ), bits AS (
        SELECT blk.doc_id, blk.b,
               CASE WHEN blk.bsum * 64 > tot.total
                    THEN 1::BIGINT ELSE 0::BIGINT END AS bit
        FROM blk JOIN tot USING (doc_id)
    ), h AS (
        SELECT doc_id,
               SUM(CASE WHEN b < 32 THEN bit << b ELSE 0 END)::BIGINT AS ahash_lo,
               SUM(CASE WHEN b >= 32 THEN bit << (b - 32) ELSE 0 END)::BIGINT AS ahash_hi
        FROM bits GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b2.doc_id AS id_b, a.ahash_hi, a.ahash_lo
    FROM h a JOIN h b2
      ON a.ahash_hi = b2.ahash_hi AND a.ahash_lo = b2.ahash_lo
     AND a.doc_id < b2.doc_id
    """,
)
def image_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup, REAL pixel math end-to-end: synthesize a
    binary P6 PPM payload per document (every 4 consecutive doc_ids share
    one md5-derived 16x16 base image; each member gets a uniform
    brightness shift, so group payloads are byte-different but
    perceptually identical), parse the containers back with the GENERIC
    PPM tokenizer, compute the 8x8 average-hash in exact integer math
    (block bright iff ``sum*64 > total``), and emit every hash-equal pair
    — decode -> downsample -> threshold -> 64-bit hash -> equality join,
    the image twin of the text near-dup family (ROADMAP r10 candidate #2).

    Hash-checkable because the two engines meet at the HASH, through
    entirely different routes: Spark round-trips real container bytes
    (synthesis encodes, ahash_features decodes — any header/raster/layout
    bug breaks parity), while the oracle regenerates the gray values
    analytically from the same engine-neutral md5 formula and never sees
    a byte of PPM. A uniform shift preserves every ``block > mean``
    comparison exactly (both sides move together; % 200 + max delta 9
    can never clamp at 255), so planted variants collide by construction
    rather than by tolerance.

    At 100 TB: both Python stages are narrow Arrow-batched mapInPandas
    (one fused stage, no shuffle); the only exchange is the equality
    self-join on the 64-bit hash — the standard exact-key dedup shuffle,
    carrying (id, 2 longs) per image, never payload bytes. Hamming-ball
    matching (distance <= k) is the banded variant dedup_simhash already
    demonstrates; exact aHash equality is the production common case."""
    docs = _t(spark, sf_dir, "documents")
    media = multimodal.synthesize_ppm_corpus(docs)
    # two consumers below: materialize the (id, lo, hi) table once —
    # without this, each join side re-synthesizes and re-hashes the corpus
    hashed = multimodal.ahash_features(media).localCheckpoint()
    return multimodal.ahash_equal_pairs(hashed)


@query(
    "events_value_quartiles_disc",
    oracle="""
    WITH c AS (
        SELECT event_type, COUNT(*) AS n_events FROM events GROUP BY event_type
    ), r AS (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type ORDER BY value) AS rk,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events WHERE value IS NOT NULL
    ), q AS (
        SELECT event_type,
               MIN(CASE WHEN rk = (n * 25 + 99) // 100 THEN value END) AS p25,
               MIN(CASE WHEN rk = (n * 50 + 99) // 100 THEN value END) AS p50,
               MIN(CASE WHEN rk = (n * 75 + 99) // 100 THEN value END) AS p75
        FROM r GROUP BY event_type
    )
    SELECT c.event_type, q.p25, q.p50, q.p75, c.n_events
    FROM c LEFT JOIN q USING (event_type)
    """,
)
def events_value_quartiles_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCRETE percentiles (percentile_disc / quantile_disc): selection of
    an actual element at the quantile rank, never interpolation — which is
    exactly what makes an exact float-column percentile oracle-checkable
    (both engines pick the same stored double; an interpolated percentile
    would manufacture new floats whose rounding could differ). The
    order-statistic selection family, complementing the interpolating
    olap_quantity_median and the sketched events_value_quantiles.

    Version-proofing (r3 ask #3, completed r5): NEITHER engine calls a
    quantile function any more. The oracle selects the element at rank
    ceil(n*q) explicitly (row_number + exact integer arithmetic,
    `(n*q_num + q_den-1) // q_den`); the Spark side selects the same
    element as the smallest value whose cumulative count reaches that
    rank, over the (type, value, count) GRAIN — so no engine's
    discrete-quantile rank convention is anywhere in the loop. (Spark's
    own percentile_disc policy remains pinned by
    tests/test_extensions.py::test_spark_percentile_disc_is_ceil_rank as
    documentation, but no production path depends on it.)

    Scale shape (r5, the _mad_frame rework applied here): one
    map-side-combinable groupBy to value grain, the cum/n windows over
    the grain (bounded by value cardinality), and a broadcast join of the
    two type-sized tables. No sort ever touches the raw event stream;
    n_events counts ALL rows (null values included) per the original
    COUNT(*) semantics, hence the separate unfiltered aggregate and the
    left join that keeps all-null types with NULL quartiles."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    cnts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    grain = (
        ev.filter(F.col("value").isNotNull())
        .groupBy("event_type", "value")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_cum = Window.partitionBy("event_type").orderBy("value")
    w_type = Window.partitionBy("event_type")
    g = grain.withColumn("cum", F.sum("c").over(w_cum)).withColumn(
        "n", F.sum("c").over(w_type)
    )

    def disc(num: int):
        # smallest value with cum >= ceil(n * num/100) — the element at
        # row_number rank (n*num + 99) // 100, the oracle's selection
        return F.min(
            F.when(
                F.col("cum") >= F.expr(f"(n * {num} + 99) div 100"),
                F.col("value"),
            )
        )

    quart = g.groupBy("event_type").agg(
        disc(25).alias("p25"), disc(50).alias("p50"), disc(75).alias("p75")
    )
    return cnts.join(F.broadcast(quart), "event_type", "left").select(
        "event_type", "p25", "p50", "p75", "n_events"
    )


@query(
    "events_value_histogram",
    oracle="""
    SELECT event_type,
           CAST(floor(value / 50) AS BIGINT) AS bucket,
           COUNT(*) AS n_events
    FROM events
    WHERE value IS NOT NULL
    GROUP BY 1, 2
    """,
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram by computed numeric bucket — grouping on a
    derived key (floor division: engine-neutral, unlike width_bucket whose
    edge conventions differ across engines). The narrow histogram pattern:
    one scan, one partial-aggregated shuffle of (type, bucket, count)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.floor(F.col("value") / 50).cast("long").alias("bucket"),
        )
        .agg(F.count("*").alias("n_events"))
    )


@query(
    "events_value_quantiles",
    oracle="""
    WITH r AS (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type ORDER BY value)
                   AS rk,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events WHERE value IS NOT NULL
    ), w AS (
        SELECT event_type,
               MIN(CASE WHEN rk = (n * 500 + 999) // 1000 THEN value END)
                   AS d50,
               MIN(CASE WHEN rk = (n * 950 + 999) // 1000 THEN value END)
                   AS d95,
               MIN(CASE WHEN rk = (n * 990 + 999) // 1000 THEN value END)
                   AS d99,
               COUNT(*) AS n_events
        FROM r GROUP BY event_type
    )
    SELECT event_type, CAST(0.5 AS DOUBLE) AS q, d50 AS exact_value,
           1 AS approx_in_band, n_events FROM w
    UNION ALL
    SELECT event_type, CAST(0.95 AS DOUBLE), d95, 1, n_events FROM w
    UNION ALL
    SELECT event_type, CAST(0.99 AS DOUBLE), d99, 1, n_events FROM w
    """,
)
def events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate p50/p95/p99 of events.value per event type, hash-checked
    through a RANK-BAND CONTRACT. At 100 TB approx_percentile is THE
    quantile tool: it shuffles fixed-size mergeable GK sketches instead of
    sorting the value stream. Sketch outputs are engine-private, so the
    estimate itself can never hash-match an oracle; what IS checkable is
    its accuracy guarantee. The query emits, per (event_type, q): the exact
    DISCRETE quantile (order-statistic selection — bit-reproducible across
    engines, see events_value_quartiles_disc) and `approx_in_band` =
    whether the sketch value lies between the exact q∓0.005 discrete
    quantiles. GK at accuracy=10000 bounds rank error by n*1e-4 — 50x
    inside the band — so the oracle asserts the literal TRUE and a sketch
    regression in either rank direction flips the bit and fails the hash.

    Output is one row per (event_type, quantile) with SCALAR columns only —
    array-typed output columns are banned from catalog entries because
    downstream canonicalizers (pandas sort/factorize) cannot hash lists.

    Version-proofing (r3 verdict ask #3): BOTH engines select each exact
    quantile by the literally identical formula — the element at
    row_number rank `(n*q_num + q_den-1) div q_den` == ceil(n*q), exact
    integer arithmetic, never a float cume_dist comparison and never an
    engine quantile function whose rank convention could drift across
    releases."""
    # All nine exact discrete quantiles (q and the two band edges per q)
    # come from rank selections over the (type, value, count) GRAIN (the
    # _mad_frame r5 rework): a map-side-combinable groupBy, cum/n windows
    # bounded by value cardinality, nine suffix-min selections. The GK
    # sketch aggregates over the raw stream in its own pass — a shuffle
    # of fixed-size mergeable sketches, no sort — and joins the
    # type-sized rank table by broadcast. r4's shape sorted the full
    # event stream per type; now no sort touches it at all.
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    sketch = ev.groupBy("event_type").agg(
        F.percentile_approx("value", F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)), 10000).alias("qa"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w_cum = Window.partitionBy("event_type").orderBy("value")
    w_type = Window.partitionBy("event_type")
    g = (
        ev.groupBy("event_type", "value")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("cum", F.sum("c").over(w_cum))
        .withColumn("n", F.sum("c").over(w_type))
    )

    def disc(num: int):
        # smallest value with cum >= ceil(n * num/1000) — the element at
        # row_number rank (n*num + 999) // 1000, the oracle's selection
        return F.min(
            F.when(
                F.col("cum") >= F.expr(f"(n * {num} + 999) div 1000"),
                F.col("value"),
            )
        )

    ranks = g.groupBy("event_type").agg(
        disc(495).alias("lo50"), disc(500).alias("d50"), disc(505).alias("hi50"),
        disc(945).alias("lo95"), disc(950).alias("d95"), disc(955).alias("hi95"),
        disc(985).alias("lo99"), disc(990).alias("d99"), disc(995).alias("hi99"),
    )
    agg = sketch.join(F.broadcast(ranks), "event_type")
    agg.createOrReplaceTempView("_ev_q_agg")
    return spark.sql(
        """
        SELECT event_type, 0.5D AS q, d50 AS exact_value,
               CAST(qa[0] BETWEEN lo50 AND hi50 AS INT) AS approx_in_band,
               n_events
        FROM _ev_q_agg
        UNION ALL
        SELECT event_type, 0.95D, d95,
               CAST(qa[1] BETWEEN lo95 AND hi95 AS INT), n_events
        FROM _ev_q_agg
        UNION ALL
        SELECT event_type, 0.99D, d99,
               CAST(qa[2] BETWEEN lo99 AND hi99 AS INT), n_events
        FROM _ev_q_agg
        """
    )


@query(
    "dedup_approx_distinct",
    oracle="""
    SELECT source,
           COUNT(DISTINCT text) AS exact_distinct_docs,
           COUNT(*) AS n_docs,
           1 AS approx_rel_err_ok
    FROM documents GROUP BY source
    """,
)
def dedup_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based cardinality: HyperLogLog++ distinct-document estimate
    per source, hash-checked through a RELATIVE-ERROR CONTRACT. At 100 TB
    the approx path shuffles fixed-size sketches instead of the
    distinct-value stream — the first tool for 'how many unique X'
    questions at scale. The HLL estimate itself is engine-private (can
    never hash-match), so the query emits the exact distinct count plus
    `approx_rel_err_ok` = |approx - exact| <= max(0.05 * exact, 3): 5%
    relative (rsd=0.02, so 2.5 standard deviations of headroom) with an
    absolute floor of 3 for tiny groups, where HLL++'s dense-register
    bias correction dominates the relative error (observed: 23 vs 25 at
    n=25). The oracle asserts the literal TRUE, and an HLL regression
    beyond the contract flips the bit and fails the hash.

    The engine-private limitation is specific to Spark's built-in
    sketch: the in-engine twin (events_distinct_hll_rollup,
    queries/sketches.py) derives its registers from md5 bits both
    engines standardize, so there the register table itself
    hash-matches the oracle."""
    docs = _t(spark, sf_dir, "documents")
    agg = docs.groupBy("source").agg(
        F.approx_count_distinct("text", rsd=0.02).alias("approx"),
        F.countDistinct("text").alias("exact_distinct_docs"),
        F.count("*").alias("n_docs"),
    )
    abs_err = F.abs(F.col("approx") - F.col("exact_distinct_docs"))
    tol = F.greatest(0.05 * F.col("exact_distinct_docs"), F.lit(3))
    return agg.select(
        "source",
        "exact_distinct_docs",
        "n_docs",
        (abs_err <= tol).cast("int").alias("approx_rel_err_ok"),
    )


@query(
    "embedding_centroids",
    oracle="""
    SELECT label, i AS dim,
           CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000)
                         AS BIGINT)) AS BIGINT) AS sum_micro,
           COUNT(*) AS n_vectors,
           CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000)
                         AS BIGINT)) AS BIGINT) / COUNT(*) AS centroid_micro
    FROM embeddings CROSS JOIN range(1, 65) t(i)
    WHERE embedding IS NOT NULL
    GROUP BY label, i
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (the class-centroid primitive behind
    clustering-based curation and nearest-centroid labeling), aggregated
    EXACTLY: float summation is reduction-order-dependent, so each
    component is floor-quantized to integer micro-units first (floor, not
    round — round's .5 tie rule differs between engines) and the integer
    sums are exact in any order; the centroid is then one int/int double
    division. Output unit is 1e-6 of the embedding unit — quantization
    bias (up to 1e-6 per component) is orders below the corpus noise floor
    and a fixed, documented contract.

    Scale shape: posexplode to (label, dim, value) rows and ONE grouped
    aggregation on the (label, dim) key — 64 rows per vector through a
    partial-aggregated shuffle of integer pairs; no arrays survive the
    explode, no Python anywhere. (The oracle's range(1,65) hardcodes this
    corpus's 64-dim embeddings.)"""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    comp = emb.select(
        "label",
        F.posexplode("embedding").alias("pos", "v"),
    ).select(
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.floor(F.col("v").cast("double") * 1_000_000)
        .cast("long")
        .alias("q"),
    )
    return comp.groupBy("label", "dim").agg(
        F.sum("q").alias("sum_micro"),
        F.count("*").alias("n_vectors"),
        (F.sum("q") / F.count("*")).alias("centroid_micro"),
    )


@query(
    "embedding_nearest_centroid",
    oracle="""
    WITH q AS (
        SELECT vec_id, label, i AS dim,
               CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS vq
        FROM embeddings CROSS JOIN range(1, 65) t(i)
        WHERE embedding IS NOT NULL
    ), cent AS (
        SELECT label AS cand, dim,
               CAST(SUM(vq) AS BIGINT) AS sm, COUNT(*) AS n
        FROM q GROUP BY 1, 2
    ), cq AS (
        SELECT cand, dim,
               CAST((sm - ((sm % n) + n) % n) // n AS BIGINT) AS cd
        FROM cent
    ), diff AS (
        SELECT q.vec_id, q.label, c.cand, (q.vq - c.cd) AS e
        FROM q JOIN cq c USING (dim)
    ), dist AS (
        SELECT vec_id, label, cand, SUM(e * e) AS d
        FROM diff GROUP BY 1, 2, 3
    ), pred AS (
        SELECT vec_id, label,
               (min(struct_pack(d := d, c := cand))).c AS pred_label
        FROM dist GROUP BY 1, 2
    )
    SELECT label, pred_label, COUNT(*) AS n_vectors
    FROM pred GROUP BY 1, 2
    """,
)
def embedding_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification confusion matrix — the composition
    capstone of the embedding family: per-label centroids (see
    embedding_centroids) -> squared-euclidean argmin per vector -> (label,
    pred_label) counts.

    The centroid is QUANTIZED to integer micro-units via exact floor
    division cd = floor(sm/n) (pmod-then-truncate — `div` truncates toward
    zero, DuckDB's `//` likewise, so subtracting the positive remainder
    first makes both compute the true floor even for negative sums). That
    puts every candidate's distance on the SAME integer scale:
    d(v, c) = sum_dims (vq - cd)^2 with no per-candidate denominator —
    an earlier revision compared sum((vq*n - sm)^2) whose implicit 1/n^2
    biased the argmin toward small labels. The 1 micro-unit centroid
    quantization (components ~0.1) is orders below corpus noise and a
    fixed, documented contract; the arithmetic itself is exact int64, so
    both engines compute bit-identical distances and ties break on the
    candidate label via min(struct).

    Scale shape: the vector-component stream joins a BROADCAST quantized
    centroid table (labels x 64 rows), squares JVM-side, and aggregates on
    (vec_id, cand) — one data-sized shuffle; the argmin is another
    min(struct) aggregate on vec_id (no window, no sort)."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    q = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos", "v"),
    ).select(
        "vec_id",
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.floor(F.col("v").cast("double") * 1_000_000).cast("long").alias("vq"),
    )
    cent = q.groupBy(F.col("label").alias("cand"), "dim").agg(
        F.sum("vq").alias("sm"), F.count("*").alias("n")
    )
    cq = cent.select(
        "cand",
        "dim",
        F.expr("(sm - pmod(sm, n)) div n").cast("long").alias("cd"),
    )
    e = F.col("vq") - F.col("cd")
    dist = (
        q.join(F.broadcast(cq), "dim")
        .select("vec_id", "label", "cand", (e * e).alias("e2"))
        .groupBy("vec_id", "label", "cand")
        .agg(F.sum("e2").alias("d"))
    )
    pred = dist.groupBy("vec_id", "label").agg(
        F.min(F.struct(F.col("d"), F.col("cand"))).alias("b")
    )
    return pred.groupBy(
        "label", F.col("b.cand").alias("pred_label")
    ).agg(F.count("*").alias("n_vectors"))


_KMEANS_K = 8


def _kmeans_ctes(iters: int = 2) -> tuple[list[str], str]:
    """The unrolled-Lloyd CTE chain and the name of its final centroid
    table — shared by the kmeans oracle and the semantic-dedup oracles,
    which extend the chain rather than re-deriving the clustering."""
    # unrolled Lloyd iterations over floor-quantized integer components;
    # same pmod-then-truncate floor division as embedding_nearest_centroid
    ctes = [
        """q AS (
        SELECT vec_id, i AS dim,
               CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS vq
        FROM embeddings CROSS JOIN range(1, 65) t(i)
        WHERE embedding IS NOT NULL
    )""",
        f"""seeds AS (
        SELECT vec_id AS cl
        FROM (SELECT DISTINCT vec_id FROM embeddings WHERE embedding IS NOT NULL)
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {_KMEANS_K}
    )""",
        """c0 AS (
        SELECT s.cl, q.dim, q.vq AS cd
        FROM seeds s JOIN q ON q.vec_id = s.cl
    )""",
    ]
    prev = "c0"
    for i in range(1, iters + 1):
        ctes.append(
            f"""d{i} AS (
        SELECT q.vec_id, c.cl, SUM((q.vq - c.cd) * (q.vq - c.cd)) AS d
        FROM q JOIN {prev} c ON q.dim = c.dim
        GROUP BY 1, 2
    ), a{i} AS (
        SELECT vec_id, (min(struct_pack(d := d, c := cl))).c AS cl
        FROM d{i} GROUP BY vec_id
    ), c{i} AS (
        SELECT a.cl, q.dim,
               CAST((SUM(q.vq) - ((SUM(q.vq) % COUNT(*)) + COUNT(*)) % COUNT(*))
                    // COUNT(*) AS BIGINT) AS cd,
               COUNT(*) AS n
        FROM q JOIN a{i} a ON q.vec_id = a.vec_id
        GROUP BY 1, 2
    )"""
        )
        prev = f"c{i}"
    return ctes, prev


def _kmeans_oracle() -> str:
    ctes, prev = _kmeans_ctes(2)
    return (
        "WITH "
        + ", ".join(ctes)
        + f"""
    SELECT cl AS cluster_id, dim, n AS n_vectors, cd AS centroid_micro
    FROM {prev}
    """
    )


@query("embedding_kmeans_step", oracle=_kmeans_oracle())
def embedding_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (Lloyd's algorithm), two unrolled iterations
    over the embedding corpus — the unsupervised clustering primitive
    behind semantic-dedup bucketing and topic-balanced sampling, which the
    label-supervised centroid queries can't provide. Seeds are the
    {k} vectors with the smallest md5(vec_id): deterministic
    pseudo-random selection both engines compute identically (the same
    hash-gate idiom as sample_deterministic_hash — no RNG anywhere).

    Exactness: components floor-quantize to integer micro-units, distances
    are exact int64 sums of squares, argmin ties break on cluster id via
    min(struct), and recomputed centroids use the pmod-then-truncate floor
    division — so both engines run the SAME integer dynamical system and
    the final (cluster, dim) table hash-matches bit-for-bit; a float
    k-means could never be oracle-checked (summation order).

    Scale shape per iteration: the centroid table (k x 64 rows) BROADCASTS
    onto the quantized component stream — the only data-sized exchanges
    are the (vec_id, cl) distance aggregation and the (cl, dim) recompute,
    both partial-aggregated. The component stream is localCheckpoint-ed
    once (the persisted quantized-components table of a production run):
    five plan references otherwise re-explode the corpus five times.
    The Lloyd system itself lives in functions/similarity._kmeans_plan —
    ONE implementation shared with the persisted semantic-dedup artifacts
    (ensure_kmeans_assignment / ensure_kmeans_centroids), so this entry's
    oracle-checked dynamics are literally the dynamics the artifacts
    persist."""
    emb = _t(spark, sf_dir, "embeddings")
    cent = similarity._kmeans_plan(emb, _KMEANS_K, 2, "embedding", "vec_id")[1]
    return cent.select(
        F.col("cl").alias("cluster_id"),
        "dim",
        F.col("n").alias("n_vectors"),
        F.col("cd").alias("centroid_micro"),
    )


_fmt_doc(embedding_kmeans_step, k=_KMEANS_K)


@query(
    "embedding_medoid_per_label",
    oracle="""
    WITH q AS (
        SELECT vec_id, label, i AS dim,
               CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS vq
        FROM embeddings CROSS JOIN range(1, 65) t(i)
        WHERE embedding IS NOT NULL
    ), agg AS (
        SELECT label, dim, SUM(vq) AS sd FROM q GROUP BY 1, 2
    ), norm AS (
        SELECT label, vec_id, SUM(vq * vq) AS nn FROM q GROUP BY 1, 2
    ), tot AS (
        SELECT label, COUNT(*) AS n, SUM(nn) AS t FROM norm GROUP BY 1
    ), dot AS (
        SELECT q.label, q.vec_id, SUM(q.vq * a.sd) AS da
        FROM q JOIN agg a ON q.label = a.label AND q.dim = a.dim
        GROUP BY 1, 2
    ), s AS (
        SELECT n.label, n.vec_id, t.n * n.nn - 2 * d.da + t.t AS s
        FROM norm n
        JOIN dot d ON n.label = d.label AND n.vec_id = d.vec_id
        JOIN tot t ON t.label = n.label
    )
    SELECT label,
           (min(struct_pack(s := s, v := vec_id))).v AS medoid_vec_id,
           CAST((min(struct_pack(s := s, v := vec_id))).s AS BIGINT) AS sum_d2,
           COUNT(*) AS n_members
    FROM s GROUP BY label
    """,
)
def embedding_medoid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group medoid: the REAL member minimizing the sum of squared
    distances to its group (centroids are synthetic points; dedup keeper
    selection and cluster exemplar mining need an actual document/vector).
    This is the suite's batch grouped-map entry — groupBy().applyInPandas
    — the one Arrow API the streaming sessionizer's applyInPandasWithState
    doesn't cover: per group, a numpy kernel computes EXACT int64 medoid
    scores over floor-quantized components via the linear identity
    sum_j ||a - x_j||^2 = n*||a||^2 - 2 a.S + T (S = component sum,
    T = total squared norm), so no quadratic pairwise pass and no float
    summation — the scores are order-independent integers and the argmin
    (ties to the lowest vec_id) hash-matches the closed-form SQL oracle.

    At 100 TB the group is a near-dup cluster or an IVF cell — bounded
    membership by construction — so per-group O(n*d) int arithmetic in an
    Arrow batch is the right physical shape; only (label, medoid) rows
    come back."""
    import numpy as np
    import pandas as pd

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())

    def medoid(pdf: "pd.DataFrame") -> "pd.DataFrame":
        m = np.stack(
            [
                np.floor(np.asarray(v, dtype=np.float64) * 1_000_000).astype(
                    np.int64
                )
                for v in pdf["embedding"]
            ]
        )
        ids = pdf["vec_id"].to_numpy()
        s_vec = m.sum(axis=0)  # S: per-dim component sum
        norms = (m * m).sum(axis=1)  # ||a||^2 per member
        total = norms.sum()  # T
        scores = len(ids) * norms - 2 * (m @ s_vec) + total
        best = np.lexsort((ids, scores))[0]  # argmin, ties -> lowest vec_id
        return pd.DataFrame(
            {
                "label": [int(pdf["label"].iloc[0])],
                "medoid_vec_id": [int(ids[best])],
                "sum_d2": [int(scores[best])],
                "n_members": [len(ids)],
            }
        )

    return emb.groupBy("label").applyInPandas(
        medoid,
        schema="label INT, medoid_vec_id BIGINT, sum_d2 BIGINT, n_members BIGINT",
    )


# --- semantic dedup (SemDeDup, Abbas et al. 2023): cluster-scoped
# embedding-cosine pruning. The corpus-level exact pass
# (dedup_embedding_exact_pairs) is O(n^2) in block pairs; SemDeDup's
# insight is that semantic duplicates share a k-means cluster, so the
# quadratic term is bounded by cluster size — pick K proportional to
# corpus size and each task stays constant work at ANY scale (at huge K,
# assignment itself composes with the IVF coarse quantizer instead of
# the brute-force argmin used here).
_SEM_TAU_NUM = 2  # cosine threshold tau = 2/5, as an exact rational —
_SEM_TAU_DEN = 5  # calibrated on the synthetic corpus for a nonempty,
# non-trivial prune at every SF (measured: 24/500 at sf0.001, 27/500 at
# sf0.01, 265/2000 at sf0.1; tau=0.3 over-prunes to 85% at sf0.1 and
# tau=0.5 empties sf0.001/0.01 — cos >= 0.5 holds for ONE pair corpus-wide)


def _semantic_hit_ctes() -> tuple[list[str], str]:
    """CTE chain ending in `hits`: every (better-ranked keeper candidate,
    prunable vector) pair within a cluster whose exact integer cosine
    clears tau. Extends the kmeans chain with one assignment pass against
    the FINAL centroids (so clusters match embedding_kmeans_step's
    output), then ranks members by (distance-to-centroid, vec_id)."""
    ctes, prev = _kmeans_ctes(2)
    ctes.append(
        f"""dd AS (
        SELECT q.vec_id, c.cl, SUM((q.vq - c.cd) * (q.vq - c.cd)) AS d
        FROM q JOIN {prev} c ON q.dim = c.dim
        GROUP BY 1, 2
    ), v AS (
        SELECT vec_id,
               (min(struct_pack(d := d, c := cl))).c AS cl,
               CAST((min(struct_pack(d := d, c := cl))).d AS BIGINT) AS d
        FROM dd GROUP BY vec_id
    ), norms AS (
        SELECT vec_id, SUM(vq * vq) AS nn FROM q GROUP BY 1
    ), pr AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib, a.cl, a.d AS da
        FROM v a JOIN v b ON a.cl = b.cl
        WHERE (a.d, a.vec_id) < (b.d, b.vec_id)
    ), pd AS (
        SELECT p.ia, p.ib, p.cl, p.da, SUM(qa.vq * qb.vq) AS dot
        FROM pr p
        JOIN q qa ON qa.vec_id = p.ia
        JOIN q qb ON qb.vec_id = p.ib AND qb.dim = qa.dim
        GROUP BY 1, 2, 3, 4
    ), hits AS (
        SELECT pd.ib, pd.cl, pd.da, pd.ia, pd.dot
        FROM pd
        JOIN norms na ON na.vec_id = pd.ia
        JOIN norms nb ON nb.vec_id = pd.ib
        WHERE pd.dot > 0
          AND {_SEM_TAU_DEN * _SEM_TAU_DEN} * (CAST(pd.dot AS HUGEINT) * pd.dot)
              >= {_SEM_TAU_NUM * _SEM_TAU_NUM} * (CAST(na.nn AS HUGEINT) * nb.nn)
    )"""
    )
    return ctes, "hits"


def _semantic_prune_oracle() -> str:
    ctes, _ = _semantic_hit_ctes()
    return (
        "WITH "
        + ", ".join(ctes)
        + """
    SELECT ib AS vec_id,
           (min(struct_pack(d := da, i := ia))).i AS keeper_id,
           CAST(cl AS BIGINT) AS cluster_id,
           CAST((min(struct_pack(d := da, i := ia, dt := dot))).dt AS BIGINT)
             AS keeper_dot_q
    FROM hits GROUP BY ib, cl
    """
    )


def _semantic_stats_oracle() -> str:
    ctes, _ = _semantic_hit_ctes()
    return (
        "WITH "
        + ", ".join(ctes)
        + """
    SELECT CAST(v.cl AS BIGINT) AS cluster_id,
           COUNT(*) AS n_vectors,
           COUNT(h.ib) AS n_pruned,
           COUNT(*) - COUNT(h.ib) AS n_kept
    FROM v LEFT JOIN (SELECT DISTINCT ib, cl FROM hits) h
           ON h.cl = v.cl AND h.ib = v.vec_id
    GROUP BY 1
    """
    )


def _semantic_parts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(per-vector cluster assignment with centroid distance, pruned-row
    listing) shared by the dedup_semantic_* queries.

    Clustering is the PERSISTED exact integer Lloyd assignment
    (similarity.ensure_kmeans_assignment — a corpus-level build, like the
    IVF/PQ/HNSW artifacts, shared by both semantic entries); the pairwise
    cosine gate then runs ONLY within clusters, one grouped-map numpy
    task per cluster. Exactness follows dedup_embedding_exact_pairs:
    float64 prefilter with a 1e-9 relative guard band,
    arbitrary-precision integer recheck at the rim, so cos >= tau is
    decided as DEN^2*dot^2 >= NUM^2*|a|^2*|b|^2 in exact arithmetic,
    bit-identical to the oracle's HUGEINT compare."""
    import numpy as np
    import pandas as pd

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    final = similarity.ensure_kmeans_assignment(spark, emb, sf_dir, k=_KMEANS_K)
    members = final.join(emb.select("vec_id", "embedding"), "vec_id")
    n2, t2 = _SEM_TAU_NUM * _SEM_TAU_NUM, _SEM_TAU_DEN * _SEM_TAU_DEN

    def prune(pdf: "pd.DataFrame") -> "pd.DataFrame":
        cl = int(pdf["cl"].iloc[0])
        ids = pdf["vec_id"].to_numpy()
        dcent = pdf["d"].to_numpy()
        m = np.stack(
            [
                np.floor(np.asarray(v, dtype=np.float64) * 1_000_000).astype(
                    np.int64
                )
                for v in pdf["embedding"]
            ]
        )
        rank = np.empty(len(ids), dtype=np.int64)
        rank[np.lexsort((ids, dcent))] = np.arange(len(ids))
        g = m @ m.T  # int64-exact: |dot| <= 64 * (1.3e5)^2 ~ 2^40
        nn = (m * m).sum(axis=1)
        lhs = float(t2) * g.astype(np.float64) ** 2
        rhs = (
            float(n2)
            * nn[:, None].astype(np.float64)
            * nn[None, :].astype(np.float64)
        )
        cand = (g > 0) & (lhs >= rhs * (1.0 - 1e-9))
        cand &= rank[:, None] < rank[None, :]  # keeper must outrank
        best: dict[int, tuple[int, int, int]] = {}
        for a, b in zip(*np.nonzero(cand)):
            dot = int(g[a, b])
            if t2 * dot * dot >= n2 * int(nn[a]) * int(nn[b]):  # exact
                key = int(ids[b])
                k = (int(dcent[a]), int(ids[a]), dot)
                if key not in best or k[:2] < best[key][:2]:
                    best[key] = k
        out = [(vid, ia, cl, dot) for vid, (da, ia, dot) in best.items()]
        return pd.DataFrame(
            out, columns=["vec_id", "keeper_id", "cluster_id", "keeper_dot_q"]
        ).astype("int64")

    pruned = members.groupBy("cl").applyInPandas(
        prune,
        schema="vec_id LONG, keeper_id LONG, cluster_id LONG, keeper_dot_q LONG",
    )
    return final, pruned


@query("dedup_semantic_prune", oracle=_semantic_prune_oracle())
def dedup_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (cluster-scoped semantic dedup, Abbas et al. 2023): one
    row per PRUNED vector — a vector is pruned when its k-means cluster
    holds a better-ranked member (closer to the centroid, ties to the
    lower vec_id) whose exact cosine clears tau; the keeper is the
    best-ranked such member. This is the scale path for embedding-cosine
    dedup: the quadratic pass runs per cluster (bounded size by choosing
    K ~ corpus size), never corpus-wide like the blocked-GEMM exact pass.

    Physical shape: the kmeans centroid table broadcasts (K x 64 rows),
    assignment is two partial-aggregated integer shuffles, and each
    cluster is ONE numpy grouped-map task emitting only pruned rows.
    Arithmetic is exact int64 + big-int rim recheck, so the listing
    hash-matches the oracle's HUGEINT self-join bit-for-bit."""
    return _semantic_parts(spark, sf_dir)[1]


@query("dedup_semantic_stats", oracle=_semantic_stats_oracle())
def dedup_semantic_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster SemDeDup census: cluster size, pruned count, kept
    count — the dedup-rate report a curation run reads before committing
    a threshold (one row per cluster regardless of corpus size)."""
    assign, pruned = _semantic_parts(spark, sf_dir)
    pr = pruned.select(F.col("vec_id").alias("p_id"))
    j = assign.join(pr, assign["vec_id"] == pr["p_id"], "left")
    return j.groupBy(F.col("cl").cast("long").alias("cluster_id")).agg(
        F.count("*").alias("n_vectors"),
        F.count("p_id").alias("n_pruned"),
        (F.count("*") - F.count("p_id")).alias("n_kept"),
    )


_KNN_K = 3


def _blocked_knn(
    spark: SparkSession,
    emb: DataFrame,
    k: int,
    exclude: str,
) -> DataFrame:
    """Shared blocked-GEMM k-nearest kernel: per-anchor top-k by exact
    int64 squared distance on the micro-unit grid, ties on neighbor id.
    `exclude` masks candidates per anchor — "self" (the kNN graph) or
    "same_label" (hard-negative mining; self is same-label, so it is
    excluded for free). Each unordered block pair is one numpy grouped-map
    task emitting only LOCAL top-k (every true neighbor lives in exactly
    one block task, so top-k of the locals is the true top-k); the global
    pass is a row_number window over n*blocks*k candidate rows."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    tagged = _emb_block_pairs(spark, emb)
    by_label = exclude == "same_label"

    def local_topk(pdf_: "pd.DataFrame") -> "pd.DataFrame":
        gi, gj = int(pdf_["gi"].iloc[0]), int(pdf_["gj"].iloc[0])

        def quant(rows: "pd.DataFrame"):
            m = np.stack(
                [
                    np.floor(np.asarray(v, dtype=np.float64) * 1_000_000)
                    .astype(np.int64)
                    for v in rows["embedding"]
                ]
            )
            lab = (
                rows["label"].to_numpy() if by_label else rows["vec_id"].to_numpy()
            )
            return rows["vec_id"].to_numpy(), lab, m

        left = pdf_[pdf_["blk"] == gi]
        ids_l, key_l, m_l = quant(left)
        if gi == gj:
            ids_r, key_r, m_r = ids_l, key_l, m_l
        else:
            right = pdf_[pdf_["blk"] == gj]
            ids_r, key_r, m_r = quant(right)
        d2 = (
            (m_l * m_l).sum(axis=1)[:, None]
            + (m_r * m_r).sum(axis=1)[None, :]
            - 2 * (m_l @ m_r.T)
        )
        out: list[tuple[int, int, int]] = []

        def emit(ids_a, key_a, ids_b, key_b, dmat):
            for r in range(dmat.shape[0]):
                mask = key_b != key_a[r]
                cb, cd = ids_b[mask], dmat[r][mask]
                sel = np.lexsort((cb, cd))[: min(k, cb.size)]
                out.extend(
                    (int(ids_a[r]), int(cb[s]), int(cd[s])) for s in sel
                )

        emit(ids_l, key_l, ids_r, key_r, d2)
        if gi != gj:
            emit(ids_r, key_r, ids_l, key_l, d2.T)
        return pd.DataFrame(
            out, columns=["vec_id", "nbr_id", "d2_q"]
        ).astype("int64")

    cand = tagged.groupBy("gi", "gj").applyInPandas(
        local_topk, schema="vec_id LONG, nbr_id LONG, d2_q LONG"
    )
    w = Window.partitionBy("vec_id").orderBy("d2_q", "nbr_id")
    return (
        cand.withColumn("nbr_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("nbr_rank") <= k)
        .select("vec_id", "nbr_rank", "nbr_id", "d2_q")
    )


@query(
    "similarity_knn_graph",
    oracle=f"""
    WITH v AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS vq
        FROM embeddings WHERE embedding IS NOT NULL
    ), n AS (
        SELECT vec_id, vq, CAST(list_inner_product(vq, vq) AS BIGINT) AS nn
        FROM v
    ), d AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib,
               a.nn + b.nn
                 - 2 * CAST(list_inner_product(a.vq, b.vq) AS BIGINT) AS d2
        FROM n a JOIN n b ON a.vec_id <> b.vec_id
    ), r AS (
        SELECT ia, ib, d2,
               ROW_NUMBER() OVER (PARTITION BY ia ORDER BY d2, ib) AS rk
        FROM d
    )
    SELECT ia AS vec_id, rk AS nbr_rank, ib AS nbr_id, d2 AS d2_q
    FROM r WHERE rk <= {_KNN_K}
    """,
)
def similarity_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-nearest-neighbor SELF-join over the embedding corpus — the
    kNN-graph primitive behind SemDeDup variants, dataset cartography,
    kNN-LM retrieval and label-propagation curation. For every vector:
    its {k} nearest neighbors by squared euclidean distance on the
    floor-quantized micro-unit grid (exact int64 d2 = |a|^2 + |b|^2 -
    2ab), ties broken on the neighbor id — both engines rank the
    identical integers, so the full graph hash-matches.

    Scale shape (the blocked-GEMM discipline of
    dedup_embedding_exact_pairs, plus a top-k cascade): vectors hash into
    {nb} blocks; each unordered block PAIR is one numpy grouped-map task
    that emits only each anchor's LOCAL top-{k} against the other block —
    per-task candidates, never full distance rows. The global pass is a
    row_number window over n*{nb}*{k} candidate rows (top-{k} of the
    per-block top-{k} union is the true top-{k}: every true neighbor
    lives in exactly one block task). Quadratic work happens inside
    Arrow-batch GEMMs; shuffle volume stays O(n * blocks * k). Kernel
    shared with mine_hard_negatives (_blocked_knn)."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    return _blocked_knn(spark, emb.select("vec_id", "embedding"), _KNN_K, "self")


_fmt_doc(similarity_knn_graph,
    k=_KNN_K, nb=_EMB_BLOCKS
)


_HARDNEG_K = 2


@query(
    "mine_hard_negatives",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS vq
        FROM embeddings WHERE embedding IS NOT NULL
    ), n AS (
        SELECT vec_id, label, vq,
               CAST(list_inner_product(vq, vq) AS BIGINT) AS nn
        FROM v
    ), d AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib,
               a.nn + b.nn
                 - 2 * CAST(list_inner_product(a.vq, b.vq) AS BIGINT) AS d2
        FROM n a JOIN n b ON a.label <> b.label
    ), r AS (
        SELECT ia, ib, d2,
               ROW_NUMBER() OVER (PARTITION BY ia ORDER BY d2, ib) AS rk
        FROM d
    )
    SELECT ia AS vec_id, rk AS neg_rank, ib AS neg_id, d2 AS d2_q
    FROM r WHERE rk <= {_HARDNEG_K}
    """,
)
def mine_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for every
    vector, its {k} nearest neighbors carrying a DIFFERENT label — the
    pairs a contrastive loss learns the most from (near in embedding
    space, semantically distinct). Same exact-integer blocked-GEMM
    cascade as similarity_knn_graph (shared _blocked_knn kernel); the
    per-anchor candidate mask compares labels instead of ids, which also
    excludes self for free. Random/easy negatives need no operator — the
    deterministic hash-gate sampler (sample_deterministic_hash) composes
    with any label anti-join."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    return _blocked_knn(
        spark,
        emb.select("vec_id", "label", "embedding"),
        _HARDNEG_K,
        "same_label",
    ).select(
        "vec_id",
        F.col("nbr_rank").alias("neg_rank"),
        F.col("nbr_id").alias("neg_id"),
        "d2_q",
    )


_fmt_doc(mine_hard_negatives, k=_HARDNEG_K)


_Z_BITS = 16


def _zorder_stats_oracle() -> str:
    from ..functions.layout import zorder_oracle_expr

    return f"""
    WITH z AS (
        SELECT l_partkey, l_suppkey,
               ({zorder_oracle_expr("l_partkey", "l_suppkey", _Z_BITS)}) AS zv
        FROM lineitem
    )
    SELECT zv >> {2 * _Z_BITS - 6} AS z_bucket,
           COUNT(*) AS n_rows,
           MAX(l_partkey) - MIN(l_partkey) AS partkey_span,
           MAX(l_suppkey) - MIN(l_suppkey) AS suppkey_span
    FROM z GROUP BY 1
    """


@query("layout_zorder_stats", oracle=_zorder_stats_oracle())
def layout_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout quality report: bucket the fact table by
    the top bits of the (l_partkey, l_suppkey) interleave and measure each
    bucket's min/max SPAN in both dimensions — exactly the statistics
    parquet footers expose for file skipping. A linear sort bounds only
    its leading key's span; the Morton buckets bound both, which is why
    OPTIMIZE ZORDER exists. The interleave is 2*bits shift/mask/or int64
    terms (whole-stage codegen, no UDF) and bit-identical in DuckDB, so
    the whole report hash-checks. functions.layout.write_zordered applies
    the same key to physically cluster parquet output (file-level span
    test in tests/test_layout.py)."""
    from ..functions.layout import zorder_key

    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    z = li.withColumn("zv", zorder_key("l_partkey", "l_suppkey", _Z_BITS))
    return z.groupBy(
        F.shiftright("zv", 2 * _Z_BITS - 6).alias("z_bucket")
    ).agg(
        F.count("*").alias("n_rows"),
        (F.max("l_partkey") - F.min("l_partkey")).alias("partkey_span"),
        (F.max("l_suppkey") - F.min("l_suppkey")).alias("suppkey_span"),
    )


_PR_ITERS = 4
_PR_SCALE = 1_000_000  # ranks as scaled integers: micro-rank units


def _pagerank_oracle() -> str:
    # unrolled fixed-iteration integer PageRank; // is floor division on
    # positives in DuckDB, matching Spark's `div` on bigints
    its = []
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        its.append(
            f"""it{i} AS (
        SELECT s.dst AS node,
               (15 * {_PR_SCALE} + 85 * SUM(p.r // d.d)) // 100 AS r
        FROM sym s JOIN {prev} p ON s.src = p.node JOIN deg d ON s.src = d.src
        GROUP BY s.dst
    )"""
        )
        prev = f"it{i}"
    return f"""
    WITH edges AS (
        SELECT DISTINCT l_partkey AS a, 1000000 + l_suppkey AS b FROM lineitem
    ), sym AS (
        SELECT a AS src, b AS dst FROM edges
        UNION ALL
        SELECT b AS src, a AS dst FROM edges
    ), deg AS (
        SELECT src, COUNT(*) AS d FROM sym GROUP BY src
    ), r0 AS (
        SELECT src AS node, {_PR_SCALE}::BIGINT AS r FROM deg
    ), {', '.join(its)}
    SELECT node - 1000000 AS s_suppkey, CAST(r AS BIGINT) AS rank_micro
    FROM {prev} WHERE node >= 1000000
    """


# ~8M (node, value) int64 pairs ~= 128 MB raw — comfortably inside a
# large executor's broadcast budget with room for the hash map overhead;
# past it the hint must NOT be forced, because a forced broadcast does
# not degrade under pressure, it OOMs the executors.
_GRAPH_BCAST_MAX_NODES = 8_000_000


def graph_broadcast_hint(deg: DataFrame):
    """The size-gated join hint every iterative-graph member (LPA,
    PageRank, k-core) applies to its node-sized table (labels / ranks /
    keepers): F.broadcast below the crossover, identity above it.

    Below the crossover the measured-right plan is a forced broadcast
    (edges never shuffle; at bench scale this halved PageRank's wall).
    But the node table grows linearly with the corpus — at a
    TPC-H-shaped 100 TB the part+supplier node set is billions of rows,
    far past any broadcastable size — so the hint is gated on the node
    COUNT: the rows of the degree artifact ``deg``, read from its parquet
    footers (no Spark job). Above the gate the join is left plain:
    Catalyst/AQE then picks a shuffle join keyed on the edge artifact's
    src, which degrades gracefully instead of OOMing. Both plan modes
    are pinned in tests/test_plan_shapes.py."""
    from ..functions.artifacts import scan_num_rows

    if scan_num_rows(deg) <= _GRAPH_BCAST_MAX_NODES:
        return F.broadcast
    return lambda df: df


def ensure_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted symmetrized edge list (src, dst) of the part-supplier
    co-purchase graph, built once per corpus via the artifact store. With
    ensure_graph_degree it is the shared starting point of every iterative
    graph job (PageRank, LPA, k-core); `cli.py build-index --kinds graph`
    builds both as part of the corpus build step."""
    from ..functions.artifacts import ensure_table

    def _build_sym() -> DataFrame:
        li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
        edges = li.select(
            F.col("l_partkey").alias("a"),
            (F.col("l_suppkey") + 1_000_000).alias("b"),
        ).distinct()
        both = edges.select(
            F.col("a").alias("src"), F.col("b").alias("dst")
        ).unionByName(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        # r13 (optimization, guide §2.3/§6): CLUSTER the artifact by dst —
        # hash-spread across defaultParallelism files (hash, not range:
        # supplier hubs own ~half the dst rows, so range partitioning
        # writes one enormous file and the scan inherits the skew), each
        # file internally dst-sorted. Every iterative consumer's
        # data-sized exchange is a dst-keyed aggregation (PageRank's
        # grouped sum, k-core's degree count), and with each dst confined
        # to one contiguous file run the MAP-SIDE PARTIAL agg compresses
        # the exchange from |E| rows to ~|V| (measured at sf0.1: PageRank
        # 1.42 -> 1.10 s, k-core 2.50 -> 1.94 s warm). Input splits of a
        # sorted file are contiguous byte ranges, so the clustering
        # survives maxPartitionBytes splitting at any corpus size.
        return both.repartition(
            spark.sparkContext.defaultParallelism, "dst"
        ).sortWithinPartitions("dst")

    return ensure_table(spark, sf_dir, "pr_graph_sym", _build_sym)


def ensure_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted degree table (src, d) of the co-purchase graph. A warm
    read is the degree table alone: the edge DataFrame is built only when
    the table itself has to be."""
    from ..functions.artifacts import ensure_table

    return ensure_table(
        spark,
        sf_dir,
        "pr_graph_deg",
        lambda: ensure_graph_edges(spark, sf_dir)
        .groupBy("src")
        .agg(F.count("*").alias("d")),
    )


@query("graph_pagerank_suppliers", oracle=_pagerank_oracle())
def graph_pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the (part)-(supplier) co-purchase graph — the graph-
    analytics family beyond connected components, and a fixed-depth
    iterative algorithm expressed as ONE lazy plan (4 unrolled iterations;
    no driver actions, unlike the fixpoint-converged
    dedup.connected_components).

    Exact integer arithmetic end to end: ranks are scaled to micro-units,
    each contribution is a floor division (`div` / `//` agree on
    positives), and the damping step is (15*SCALE + 85*sum) div 100 — so
    the oracle matches bit-for-bit, which float PageRank never could
    (summation order). The graph is symmetrized so no node dangles (a
    supplier with zero out-links would otherwise leak rank mass).

    Scale shape per iteration: one edges⋈ranks join (the rank table is
    node-sized; the broadcast hint is SIZE-GATED on the degree
    artifact's footer row count — forced below the crossover, plain
    equi-join above it so AQE picks a shuffle join instead of OOMing,
    see graph_broadcast_hint) + one grouped integer SUM — the
    canonical distributed PageRank step; unrolling keeps it a single
    Catalyst plan, so the optimizer shares the edge/degree scans across
    iterations via exchange reuse."""
    # The symmetrized edge list and degree table are corpus BUILD outputs
    # (every iterative graph job starts from them): persisted once via the
    # artifact store (r3 used per-invocation localCheckpoint — that stopped
    # the per-iteration lineitem re-scans, but still rebuilt the
    # distinct+union ETL on every query run).
    sym = ensure_graph_edges(spark, sf_dir)
    deg = ensure_graph_degree(spark, sf_dir)
    # size-gated hint (r8): force the broadcast only while the node table
    # fits — see graph_broadcast_hint for the 100x rationale
    _hint = graph_broadcast_hint(deg)
    r = deg.select(
        F.col("src").alias("node"), F.lit(_PR_SCALE).cast("long").alias("r")
    )
    for _ in range(_PR_ITERS):
        # contribution-per-source computed on the NODE-sized tables first,
        # then broadcast onto the fact-sized edge list: the edges never
        # shuffle for the join (measured 10.9s -> ~4s at sf0.1); the only
        # data-sized exchange per iteration is the grouped SUM on dst.
        rd = r.join(deg, r["node"] == deg["src"]).select(
            "node", F.expr("r div d").alias("c")
        )
        contrib = sym.join(
            _hint(rd), sym["src"] == rd["node"]
        ).select("dst", "c")
        r = contrib.groupBy(F.col("dst").alias("node")).agg(
            F.expr(f"(15 * {_PR_SCALE} + 85 * sum(c)) div 100").alias("r")
        )
    return r.filter(F.col("node") >= 1_000_000).select(
        (F.col("node") - 1_000_000).alias("s_suppkey"),
        F.col("r").cast("long").alias("rank_micro"),
    )


@query(
    "graph_degree_distribution",
    oracle="""
    WITH d AS (
        SELECT l_suppkey, COUNT(DISTINCT l_partkey) AS degree
        FROM lineitem GROUP BY l_suppkey
    )
    SELECT degree, COUNT(*) AS n_suppliers
    FROM d GROUP BY degree
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the supplier side of the co-purchase graph —
    aggregation OF an aggregation (the two-level rollup pattern: per-key
    distinct count, then histogram of those counts). First level shuffles
    (suppkey, partkey) pairs with partial dedup; second level is
    histogram-sized. The first question to ask of any graph before picking
    join/partition strategies: how skewed is the degree?"""
    li = _t(spark, sf_dir, "lineitem")
    d = li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").alias("degree")
    )
    return d.groupBy("degree").agg(F.count("*").alias("n_suppliers"))


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .head()
    )
    return [float(x) for x in row[0]]


@query(
    "similarity_topk_bruteforce",
    oracle="""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id AS id,
           round(
             list_sum(list_transform(range(1, len(embedding) + 1),
                      i -> embedding[i]::DOUBLE * qv[i]::DOUBLE))
             / (sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
                * sqrt(list_sum(list_transform(qv, x -> x::DOUBLE * x::DOUBLE)))),
             9) AS cosine_sim
    FROM embeddings, q
    ORDER BY cosine_sim DESC, id ASC
    LIMIT 10
    """,
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 to vec_id=0 (baseline ANN). The query vector is a
    plan literal; ranking rounds to 9 decimals with an id tie-break so float
    noise cannot reorder the set cross-engine."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(emb, _query_vec(spark, sf_dir), k=10)


_IVF_PLANES = 4
_IVF_PROBE_HAMMING = 4


@query(
    "similarity_topk_ivf",
    oracle="""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id AS id,
           round(
             list_sum(list_transform(range(1, len(embedding) + 1),
                      i -> embedding[i]::DOUBLE * qv[i]::DOUBLE))
             / (sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
                * sqrt(list_sum(list_transform(qv, x -> x::DOUBLE * x::DOUBLE)))),
             9) AS cosine_sim
    FROM embeddings, q
    ORDER BY cosine_sim DESC, id ASC
    LIMIT 10
    """,
)
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF/LSH-bucketed top-10 over a PERSISTED index (parquet partitioned
    by bucket — the probe's bucket filter prunes partitions at the source;
    build runs once per corpus, see similarity.ensure_ivf_index).

    Oracle-checked against the exact brute-force SQL: cosine inside the
    probed slice is exact, so the output equals brute force whenever the
    probe set covers the true top-10
    (tests/test_extensions.py::test_ivf_catalog_equals_bruteforce pins the
    recall-completeness claim the shared oracle rests on at sf0.001/0.01/
    0.1, the dedup_minhash_lsh precedent). On THIS corpus that takes the
    FULL Hamming ball (h=planes): the embeddings are random, so true
    neighbors sit at cosine ~0.3 — barely correlated with the query's
    bucket bits (at sf0.1 a true top-10 member lands in the antipodal
    bucket, Hamming 4 of 4) — and recall-complete probing degenerates to
    scanning every bucket of the partitioned index. That is a property of
    structureless data, not of the operator: the h=1 recall test shows
    the same index recovering the self-vector plus ~half the top-10 from
    a 31% scan, the real trade on corpora with cluster structure, and the
    probe dial is exactly what a production deployment tunes against its
    corpus's measured neighbor distribution."""
    emb = _t(spark, sf_dir, "embeddings")
    index = similarity.ensure_ivf_index(spark, emb, sf_dir, planes=_IVF_PLANES)
    return similarity.ivf_topk(
        index,
        _query_vec(spark, sf_dir),
        k=10,
        planes=_IVF_PLANES,
        probe_hamming=_IVF_PROBE_HAMMING,
    )


_PQ_QUERIES = 5
_PQ_K = 10
_PQ_M = 8          # subvector count: canonical corpus-build params shared
_PQ_CODE_K = 256   # with cli.py build-index so the ops build step and the
_PQ_SAMPLE = 5000  # query path hit the SAME artifact key
_PQ_RERANK = 20  # ADC keeps k*20 candidates before exact re-rank: random
# 64-dim corpora have near-tied neighbors, so ADC-only ordering is noisy;
# rf=20 measured per-query recall 9-10/10 at every SF (rf=5: down to 5/10
# at sf0.1) while still scanning only 200 of n candidates exactly
_PQ_MIN_HITS = 6  # >=6/10 per query; measured minimum 9


@query(
    "similarity_topk_pq",
    oracle=f"""
    SELECT CAST(vec_id AS BIGINT) AS query_id,
           {_PQ_K} AS k,
           1 AS recall_ok,
           1 AS self_found
    FROM embeddings WHERE vec_id < {_PQ_QUERIES}
    ORDER BY query_id
    """,
)
def similarity_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN, hash-checked through a RECALL CONTRACT
    (codebooks are engine-private, so the estimates can never hash-match
    an oracle; their accuracy guarantee can — the events_value_quantiles /
    similarity_topk_hnsw pattern). The full IVF-PQ lifecycle: codebooks
    trained and corpus codes encoded ONCE per corpus and persisted
    (similarity.ensure_pq_artifacts) — queries scan the 8-byte code table
    (32x less hot data than full vectors), keep k*{_PQ_RERANK} ADC
    candidates, and re-rank them with exact cosine against the base table.

    The entry runs {_PQ_QUERIES} query vectors through the PQ path AND
    exact brute force, emitting per query: recall_ok (>= {_PQ_MIN_HITS}
    of the exact top-{_PQ_K} recovered; measured 9-10 at every SF) and
    self_found (exact re-rank always restores the query's own vector to
    rank 1). The oracle asserts the literal TRUE bits — an ADC or
    codebook regression flips them and fails the hash. Brute force exists
    only to SCORE the contract; the production path is pq_topk alone."""
    emb = _t(spark, sf_dir, "embeddings")
    books, enc = similarity.ensure_pq_artifacts(
        spark, emb, sf_dir, m=_PQ_M, k=_PQ_CODE_K, sample_rows=_PQ_SAMPLE
    )
    qrows = (
        emb.filter(F.col("vec_id") < _PQ_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )  # bounded: _PQ_QUERIES rows (the _query_vec precedent)
    queries = [(int(r[0]), [float(x) for x in r[1]]) for r in qrows]
    # all query vectors ride ONE code-table scan + ONE exact re-rank join
    # (pq_topk_multi) — the r3/r4 carried ask; the per-query pq_topk path
    # remains the single-query API
    approx = similarity.pq_topk_multi(
        enc, books, queries, k=_PQ_K, rerank=emb, rerank_factor=_PQ_RERANK
    ).select("query_id", F.col("id").alias("a_id"))
    exact = _exact_topk_multi(emb, queries, k=_PQ_K)
    hits = approx.join(exact, ["query_id"], "inner").filter(
        F.col("a_id") == F.col("e_id")
    )
    return (
        hits.groupBy("query_id")
        .agg(
            F.count("*").alias("n_hits"),
            F.max((F.col("a_id") == F.col("query_id")).cast("int")).alias("self_hit"),
        )
        .select(
            "query_id",
            F.lit(_PQ_K).cast("int").alias("k"),
            (F.col("n_hits") >= _PQ_MIN_HITS).cast("int").alias("recall_ok"),
            (F.col("self_hit") == 1).cast("int").alias("self_found"),
        )
        .orderBy("query_id")
    )


def _exact_topk_multi(emb: DataFrame, queries, k: int) -> DataFrame:
    """Exact cosine top-k for SEVERAL query vectors in ONE corpus scan:
    each row evaluates all query cosines (plan literals), explodes to
    (query_id, e_id, sim), and a per-query window rank keeps k. One scan +
    one |queries|*k-bounded shuffle instead of |queries| separate
    scan+TakeOrdered passes — the scoring side of the ANN recall
    contracts. Same rounding (9 dp) and id tie-break as
    similarity.brute_force_topk, so the top-k sets are identical."""
    from pyspark.sql import Window

    cols = [
        F.struct(
            F.lit(int(qid)).cast("long").alias("query_id"),
            F.round(similarity.cosine_to_query("embedding", vec), 9).alias("sim"),
        )
        for qid, vec in queries
    ]
    ex = emb.select(
        F.col("vec_id").alias("e_id"), F.explode(F.array(*cols)).alias("q")
    ).select("q.query_id", "e_id", "q.sim")
    win = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("e_id"))
    return (
        ex.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= k)
        .select("query_id", F.col("e_id").alias("e_id"))
    )


_IVFPQ_PROBE_H = 1  # Hamming-1 ball: (1 + planes)/2^planes = 31% of the
# inverted lists at planes=4 — the honest probed-fraction trade, unlike
# the full-ball probe the exact-oracle IVF entry needs on this corpus
_IVFPQ_MIN_HITS = 2  # recall@10 floor per query. Measured n_hits (fixed
# hyperplanes + codebooks, so deterministic per corpus): sf0.001
# {5,4,5,5,7}, sf0.01 {3,6,3,8,5}, sf0.1 {5,7,4,4,5} — min 3, floor 2
# keeps one hit of margin; consistent with ~31% probe x PQ's ~0.9 recall


@query(
    "similarity_topk_ivfpq",
    oracle=f"""
    SELECT CAST(vec_id AS BIGINT) AS query_id,
           {_PQ_K} AS k,
           {1 + _IVF_PLANES} AS probed_buckets,
           1 AS recall_ok,
           1 AS self_found
    FROM embeddings WHERE vec_id < {_PQ_QUERIES}
    ORDER BY query_id
    """,
)
def similarity_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite ANN — the billion-scale layout (FAISS IVFPQ in
    parquet): coarse sign-LSH buckets prune WHICH inverted lists a query
    reads (partition pruning on the ensure_ivfpq_codes table), PQ codes
    compress WHAT the surviving scan reads (8 bytes/vector), and exact
    cosine re-ranks the k*{_PQ_RERANK} ADC survivors against the base
    table. At planes={_IVF_PLANES}/h={_IVFPQ_PROBE_H} each query touches
    (1+{_IVF_PLANES})/16 = 31% of lists x 32x code compression ~ 1% of
    the exact scan's bytes.

    Recall contract (the similarity_topk_pq pattern — codebooks and
    hyperplanes are engine-private, their accuracy guarantee is not):
    every query's probe ball contains its own bucket, so self_found must
    hold; recall_ok asserts >= {_IVFPQ_MIN_HITS}/{_PQ_K} of the exact
    top-{_PQ_K} — deliberately lower than the unprobed PQ entry's floor
    because on THIS corpus (random embeddings, neighbors at cosine ~0.3)
    bucket bits barely correlate with neighborhoods, so the h=1 ball
    bounds recall; structured corpora recover it (see similarity_topk_ivf
    docstring). All {_PQ_QUERIES} queries ride ONE pruned code scan via
    pq_topk_multi's per-query bucket masks."""
    emb = _t(spark, sf_dir, "embeddings")
    books, _ = similarity.ensure_pq_artifacts(
        spark, emb, sf_dir, m=_PQ_M, k=_PQ_CODE_K, sample_rows=_PQ_SAMPLE
    )
    enc = similarity.ensure_ivfpq_codes(
        spark,
        emb,
        sf_dir,
        m=_PQ_M,
        k=_PQ_CODE_K,
        sample_rows=_PQ_SAMPLE,
        planes=_IVF_PLANES,
    )
    qrows = (
        emb.filter(F.col("vec_id") < _PQ_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )  # bounded: _PQ_QUERIES rows
    queries = [(int(r[0]), [float(x) for x in r[1]]) for r in qrows]
    probes = [
        similarity.hamming_ball(
            similarity.query_bucket(v, _IVF_PLANES), _IVF_PLANES, _IVFPQ_PROBE_H
        )
        for _, v in queries
    ]
    approx = similarity.pq_topk_multi(
        enc,
        books,
        queries,
        k=_PQ_K,
        rerank=emb,
        rerank_factor=_PQ_RERANK,
        bucket_probes=probes,
    ).select("query_id", F.col("id").alias("a_id"))
    exact = _exact_topk_multi(emb, queries, k=_PQ_K)
    hits = approx.join(exact, ["query_id"], "inner").filter(
        F.col("a_id") == F.col("e_id")
    )
    return (
        hits.groupBy("query_id")
        .agg(
            F.count("*").alias("n_hits"),
            F.max((F.col("a_id") == F.col("query_id")).cast("int")).alias(
                "self_hit"
            ),
        )
        .select(
            "query_id",
            F.lit(_PQ_K).cast("int").alias("k"),
            F.lit(1 + _IVF_PLANES).cast("int").alias("probed_buckets"),
            (F.col("n_hits") >= _IVFPQ_MIN_HITS).cast("int").alias("recall_ok"),
            (F.col("self_hit") == 1).cast("int").alias("self_found"),
        )
        .orderBy("query_id")
    )


_HNSW_SHARDS = 4  # forced >1 so the per-shard search + global merge is
# exercised at every test scale (auto sizing gives 1 shard under 4096 rows)
_HNSW_QUERIES = 5
_HNSW_K = 10
_HNSW_MIN_HITS = 7  # recall@10 >= 0.7 per query; measured 1.0 at every SF


@query(
    "similarity_topk_hnsw",
    oracle=f"""
    SELECT CAST(vec_id AS BIGINT) AS query_id,
           {_HNSW_K} AS k,
           1 AS recall_ok,
           1 AS self_found
    FROM embeddings WHERE vec_id < {_HNSW_QUERIES}
    ORDER BY query_id
    """,
)
def similarity_topk_hnsw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HNSW-over-partitions ANN, hash-checked through a RECALL CONTRACT
    (the events_value_quantiles precedent: graph navigation is
    engine-private, its accuracy guarantee is not). The corpus is
    hash-sharded, one deterministic HNSW graph built per shard and
    PERSISTED (functions/hnsw.ensure_hnsw_index — the same
    build-once/reuse lifecycle as the MinHash/IVF/PQ artifacts); search
    beam-searches every shard in parallel and merges per-shard top-k.

    The entry runs 5 query vectors (vec_id 0-4) through the index AND
    through exact brute force, then emits per query: recall_ok (>=7 of the
    exact top-10 recovered — measured 1.0 on every test SF, thresholded
    with the same safety margin as the LSH banding analyses) and
    self_found (the query's own vector recovered — cosine 1.0 is
    unmissable for a working graph). The oracle asserts the literal TRUE
    bits: any navigation regression flips them and fails the hash. The
    brute-force pass exists only to SCORE the contract — the production
    path is hnsw_topk alone, sub-linear per shard (beam search touches
    O(ef*M*log n) vectors, not n)."""
    from ..functions import hnsw

    emb = _t(spark, sf_dir, "embeddings")
    index = hnsw.ensure_hnsw_index(spark, emb, sf_dir, n_shards=_HNSW_SHARDS)
    qrows = (
        emb.filter(F.col("vec_id") < _HNSW_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )  # bounded: _HNSW_QUERIES rows (the _query_vec precedent)
    queries = [(int(r[0]), [float(x) for x in r[1]]) for r in qrows]
    approx = hnsw.hnsw_topk(index, queries, k=_HNSW_K, ef_search=96).select(
        "query_id", F.col("id").alias("a_id")
    )
    exact = _exact_topk_multi(emb, queries, k=_HNSW_K)
    hits = approx.join(
        exact, ["query_id"], "inner"
    ).filter(F.col("a_id") == F.col("e_id"))
    per_q = hits.groupBy("query_id").agg(
        F.count("*").alias("n_hits"),
        F.max((F.col("a_id") == F.col("query_id")).cast("int")).alias("self_hit"),
    )
    return per_q.select(
        "query_id",
        F.lit(_HNSW_K).cast("int").alias("k"),
        (F.col("n_hits") >= _HNSW_MIN_HITS).cast("int").alias("recall_ok"),
        (F.col("self_hit") == 1).cast("int").alias("self_found"),
    ).orderBy("query_id")


# ---------------------------------------------------------------------------
# Composed training-data cleaning pipeline
# ---------------------------------------------------------------------------


_PIPELINE_ORACLE = f"""
    WITH q AS (
        SELECT doc_id, text,
               len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))::BIGINT
                 AS n_tokens
        FROM documents
    ), f AS (
        SELECT doc_id, text, n_tokens FROM q
        WHERE n_tokens >= 25
          AND len(list_filter(
                list_transform(regexp_split_to_array(text, '\\s+'), x -> lower(x)),
                x -> list_contains(['the','and','of','to','is','in','that','it'], x))) >= 1
    ), e AS (
        SELECT min(doc_id) AS doc_id FROM f GROUP BY md5(text)
    ), fe AS (
        SELECT f.* FROM f JOIN e USING (doc_id)
    ), d AS (
        SELECT doc_id, regexp_replace(text, '\\s+', ' ', 'g') AS norm FROM fe
    ), sh AS (
        SELECT doc_id AS id,
               unnest(list_distinct([substr(norm, i::INT, {_SHINGLE_K})
                      for i in range(1, greatest(length(norm) - {_SHINGLE_K - 1}, 1) + 1)]))
                 AS shingle
        FROM d
    ), sz AS (
        SELECT id, count(*) AS n FROM sh GROUP BY id
    ), i AS (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2
    ), dup_b AS (
        SELECT DISTINCT id_b
        FROM i JOIN sz sa ON id_a = sa.id JOIN sz sb ON id_b = sb.id
        WHERE c / (sa.n + sb.n - c) >= {_JACCARD_T}
    )
    SELECT doc_id, n_tokens FROM fe
    WHERE doc_id NOT IN (SELECT id_b FROM dup_b)
    """


@query("pipeline_clean_corpus", oracle=_PIPELINE_ORACLE)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed LLM training-data cleaning flow, end to end:

      quality gate (n_tokens >= 25) -> language gate (>= 1 English marker)
      -> exact dedup (min-id winner per content digest)
      -> near-dup removal (drop the higher id of every Jaccard >= 0.5 pair
         among survivors, candidates via banded LSH, verified exactly)

    Gates are scalar codegen predicates evaluated in the scan pass;
    exact dedup is one digest-keyed aggregate whose min(struct(doc_id,
    n_tokens)) carries the winner's row, checkpointed once; near-dup
    removal reads the persisted pair artifact. The oracle recomputes the
    identical pipeline in SQL with the exact pair join, so the driver
    checks the whole composition, not just the pieces. Thresholds are
    calibrated to the synthetic corpus so every stage actually removes
    rows (sf0.01: 500 -> ~290 docs)."""
    docs = _t(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        "text",
        text.token_count("text").cast("long").alias("n_tokens"),
        text._marker_count(F.col("text"), text._LANG_MARKERS["en"]).alias("en_score"),
    )
    kept = feats.filter((F.col("n_tokens") >= 25) & (F.col("en_score") >= 1))
    # The filtered+exact-deduped table feeds BOTH the pair restriction
    # and the final anti-join. Relying on ReuseExchange to share it is
    # fragile (the two consumers reshape it differently, so the gate +
    # dedup work ran twice — the whole suite's largest cost at r2);
    # localCheckpoint materializes it once and truncates lineage. At 100 TB
    # this intermediate is a persisted table between pipeline stages.
    fe = _exact_dedup(kept).localCheckpoint()
    # Near-dup pairs among the SURVIVORS come straight from the persisted
    # verified pair artifact restricted to both endpoints surviving: LSH
    # banding is per-doc content-determined, so a pair of survivors is a
    # candidate within fe iff it was a candidate over the full corpus, and
    # exact-jaccard verification is pair-content-determined — the corpus
    # restriction only REMOVES pairs, never adds or changes them. (This is
    # provable equality, not an approximation; the SQL oracle recomputes
    # the whole composition exactly and hash-checks it.) Until r6 this
    # stage re-ran banding + the agreement prefilter + verification over
    # the survivors' artifact slices per query (~3 s of the 4.1 s bench
    # cost at sf0.1); the pair table was already a build artifact for the
    # clustering/keeper/contamination consumers, so reading it here is the
    # same move dedup_ngram_jaccard made in r4 (12.8 s -> 0.1 s).
    pairs = dedup.ensure_neardup_pairs(
        spark,
        _t(spark, sf_dir, "documents"),
        sf_dir,
        k=_SHINGLE_K,
        num_perm=64,
        bands=32,
        threshold=_JACCARD_T,
    )
    # Only id_a is restricted to survivors: the anti-join below tests fe's
    # own rows, so an id_b outside fe, or one listed twice, removes
    # nothing more — no semi-join on id_b and no distinct.
    dup_b = pairs.join(
        fe.select(F.col("doc_id").alias("id_a")), "id_a", "left_semi"
    ).select(F.col("id_b").alias("doc_id"))
    return fe.join(dup_b, "doc_id", "left_anti")


def _exact_dedup(kept: DataFrame) -> DataFrame:
    """(doc_id, n_tokens) of the lowest doc_id per content digest: one
    aggregate whose min(struct(doc_id, n_tokens)) orders by doc_id first,
    so it picks the same winner as min(doc_id) joined back to the rows,
    and n_tokens, a function of the text, comes along. The shuffle
    carries (digest, doc_id, n_tokens) and never the text; the winners'
    rows need no second pass over the corpus."""
    return (
        kept.groupBy(F.md5("text").alias("digest"))
        .agg(F.min(F.struct("doc_id", "n_tokens")).alias("w"))
        .select("w.doc_id", "w.n_tokens")
    )


# ---------------------------------------------------------------------------
# Training-shard assembly + cohort analytics + dedup composition (round 3)
# ---------------------------------------------------------------------------

_PACK_BUDGET = 512  # tokens per training pack


@query(
    "pack_sequences",
    oracle=f"""
    WITH t AS (
        SELECT source, doc_id,
               len(list_filter(regexp_split_to_array(text, '\\s+'),
                               x -> x <> ''))::BIGINT AS n_tokens
        FROM documents
    ), c AS (
        SELECT source, doc_id, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS cum
        FROM t
    )
    SELECT source,
           CAST((cum - n_tokens) // {_PACK_BUDGET} AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM c GROUP BY 1, 2
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents to fixed token-budget training
    packs — the shard-assembly step between a cleaned corpus and a
    training run. Deterministic streaming rule (no bin-packing search): in
    doc_id order within a source, a document joins pack
    floor(tokens_before_it / budget) — the cumsum formulation every
    engine's window operator can execute (sources.sinks.pack_assignments;
    exact semantics incl. the oversized-document overshoot case are
    property-tested). On this corpus every document is far below the
    512-token budget, so packs fill to >= budget with one straddler.

    Scale shape: ONE window partitioned by source (at corpus scale the
    pack partition key is the ingest shard, giving thousands-way window
    parallelism — never a global unpartitioned order), then one grouped
    aggregation on (source, pack_id). Token counts are the codegen scalar
    regexp_count — the window input is (source, doc_id, n_tokens), never
    text."""
    from ..sources.sinks import pack_assignments

    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "source", "doc_id", text.token_count("text").cast("long").alias("n_tokens")
    )
    return (
        pack_assignments(t, "n_tokens", "source", "doc_id", _PACK_BUDGET)
        .groupBy("source", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@query(
    "events_user_retention",
    oracle="""
    WITH f AS (
        SELECT user_id,
               strftime(date_trunc('week', MIN(ts)), '%Y-%m-%d') AS cohort_week
        FROM events GROUP BY 1
    ), a AS (
        SELECT DISTINCT user_id,
               strftime(date_trunc('week', ts), '%Y-%m-%d') AS active_week
        FROM events
    )
    SELECT cohort_week, active_week, COUNT(*) AS n_users
    FROM f JOIN a USING (user_id)
    GROUP BY 1, 2
    """,
)
def events_user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-seen week x the
    weeks they were active — the standard product-analytics triangle.
    Weekly cohorts (both engines truncate weeks to Monday, emitted as the
    Monday's date string — a locale-proof key, unlike %W/%U week numbers
    whose year-boundary conventions differ across engines). Two shuffles
    on user_id (first-seen aggregate; distinct activity weeks) meet in an
    equi-join already co-partitioned on the join key, then a weeks^2-sized
    aggregate. The matrix never touches raw events after the two per-user
    reductions."""
    events = _t(spark, sf_dir, "events")
    week = lambda c: F.date_format(F.date_trunc("week", c), "yyyy-MM-dd")  # noqa: E731
    first = events.groupBy("user_id").agg(
        F.min("ts").alias("first_ts")
    ).select("user_id", week(F.col("first_ts")).alias("cohort_week"))
    active = events.select(
        "user_id", week(F.col("ts")).alias("active_week")
    ).distinct()
    return (
        first.join(active, "user_id")
        .groupBy("cohort_week", "active_week")
        .agg(F.count("*").alias("n_users"))
    )


@query(
    "events_funnel",
    oracle="""
    WITH s AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view'
                   THEN epoch(date_trunc('second', ts)) END) AS view_s,
               MIN(CASE WHEN event_type = 'click'
                   THEN epoch(date_trunc('second', ts)) END) AS click_s,
               MIN(CASE WHEN event_type = 'purchase'
                   THEN epoch(date_trunc('second', ts)) END) AS purchase_s
        FROM events
        WHERE event_type IN ('view', 'click', 'purchase')
        GROUP BY user_id
    )
    SELECT COUNT(view_s) AS n_view,
           CAST(SUM(CASE WHEN click_s > view_s THEN 1 ELSE 0 END)
                AS BIGINT) AS n_click_after_view,
           CAST(SUM(CASE WHEN click_s > view_s AND purchase_s > click_s
               THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase_after_click,
           SUM(CASE WHEN click_s > view_s AND purchase_s > click_s
               THEN 1 ELSE 0 END) / COUNT(view_s) AS full_funnel_rate
    FROM s
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase: users whose
    FIRST occurrence of each stage strictly follows the previous stage's
    first occurrence. One grouped conditional-MIN pass per user (a single
    shuffle on user_id; the funnel compare runs on the user-sized
    aggregate, never raw events) into a 1-row summary. Stage times are
    second-truncated integers in both engines (the repo's epoch-arithmetic
    parity rule), with strict inequality so the comparison is
    tie-deterministic; the rate is an exact int/int division."""
    events = _t(spark, sf_dir, "events")
    stage = lambda t: F.min(  # noqa: E731
        F.when(F.col("event_type") == t, F.col("ts").cast("long"))
    )
    s = (
        events.filter(F.col("event_type").isin("view", "click", "purchase"))
        .groupBy("user_id")
        .agg(
            stage("view").alias("view_s"),
            stage("click").alias("click_s"),
            stage("purchase").alias("purchase_s"),
        )
    )
    click_ok = F.col("click_s") > F.col("view_s")
    purch_ok = click_ok & (F.col("purchase_s") > F.col("click_s"))
    return s.agg(
        F.count("view_s").alias("n_view"),
        F.sum(F.when(click_ok, 1).otherwise(0)).alias("n_click_after_view"),
        F.sum(F.when(purch_ok, 1).otherwise(0)).alias("n_purchase_after_click"),
        (
            F.sum(F.when(purch_ok, 1).otherwise(0)) / F.count("view_s")
        ).alias("full_funnel_rate"),
    )


@query(
    "events_transition_matrix",
    oracle="""
    WITH o AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY epoch(date_trunc('second', ts)), event_id
               ) AS prev_type
        FROM events
    )
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions
    FROM o
    WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavior model: counts of consecutive event-type
    transitions per user (the Markov-chain input of session modeling /
    next-action prediction). ONE window partitioned by user_id — the lag
    runs inside each user's partition, parallelism = users — then a
    types^2-sized aggregate. Ordering is (second-truncated ts, event_id)
    in BOTH engines: the parquet carries nanosecond timestamps that Spark
    truncates to micros, so any sub-second ordering would silently differ
    cross-engine; truncating to seconds and tie-breaking on the unique
    event_id makes the sequence — and therefore every transition count —
    deterministic."""
    from pyspark.sql import Window

    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").cast("long"), F.col("event_id")
    )
    o = events.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    return (
        o.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n_transitions"))
    )


@query(
    "neardup_rate_by_source",
    oracle=f"""
    WITH pairs AS (
        {_NGRAM_JACCARD_ORACLE}
    ), m AS (
        SELECT id_a AS doc_id FROM pairs
        UNION
        SELECT id_b FROM pairs
    )
    SELECT d.source,
           COUNT(*) AS n_docs,
           COUNT(m.doc_id) AS n_near_dup,
           COUNT(m.doc_id) / COUNT(*) AS near_dup_rate
    FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
    GROUP BY 1
    """,
)
def neardup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health composition: per-source near-duplicate contamination
    rate — the number every curation dashboard needs before deciding which
    crawl/source to down-weight. Reads the persisted verified-pair
    artifact (same exact-verified pair set as dedup_ngram_jaccard), folds
    membership (union of both pair sides), left-joins the doc dimension,
    and emits exact int/int rates. The oracle recomputes the full exact
    pair join in SQL, so the whole composition is hash-checked."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ensure_neardup_pairs(
        spark, docs, sf_dir, k=_SHINGLE_K, num_perm=64, bands=32,
        threshold=_JACCARD_T,
    )
    members = (
        pairs.select(F.col("id_a").alias("m_id"))
        .unionByName(pairs.select(F.col("id_b").alias("m_id")))
        .distinct()
    )
    return (
        docs.select("source", "doc_id")
        .join(members, docs["doc_id"] == members["m_id"], "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count("m_id").alias("n_near_dup"),
            (F.count("m_id") / F.count("*")).alias("near_dup_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Time-series rollup over the events stream table
# ---------------------------------------------------------------------------


@query(
    "events_hourly_rollup",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_bucket,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-hour rollup per event type — the batch twin of the
    streaming.windowed_rollup operator. Decimal summation keeps the
    aggregate exact (and therefore cross-engine deterministic); a double
    sum would depend on reduction order."""
    events = _t(spark, sf_dir, "events")
    return events.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "hour_bucket"
        ),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Monte Carlo pi (repo namesake; RDD workload)
# ---------------------------------------------------------------------------


@query("pi_estimate")
def pi_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monte Carlo pi on the RDD path (rows-only; no SQL equivalent).
    Deterministic per (seed, partitions)."""
    return estimate_pi_df(spark, num_samples=1_000_000, partitions=32, seed=42)


@query(
    "pi_estimate_hash",
    oracle="""
    WITH s AS (
        SELECT ('0x' || substr(md5(i::VARCHAR), 1, 13))::UBIGINT
                   / 4503599627370496.0 AS x,
               ('0x' || substr(md5(i::VARCHAR), 14, 13))::UBIGINT
                   / 4503599627370496.0 AS y
        FROM range(1000000) t(i)
    )
    SELECT CAST(4.0 AS DOUBLE)
               * CAST(SUM(CASE WHEN x*x + y*y <= 1.0 THEN 1 ELSE 0 END)
                      AS DOUBLE)
               / COUNT(*) AS pi_estimate,
           CAST(SUM(CASE WHEN x*x + y*y <= 1.0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           COUNT(*) AS n_samples
    FROM s
    """,
)
def pi_estimate_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monte Carlo pi with a hash-derived (engine-neutral) sample stream —
    the oracle-checked twin of the RDD namesake: x,y are disjoint 52-bit
    md5 slices of the sample index, so DuckDB reproduces the exact same
    1M points and the estimate hash-matches to the last bit (see
    pi.estimate_pi_hash_df for the IEEE-exactness argument)."""
    return estimate_pi_hash_df(spark, num_samples=1_000_000)


# ---------------------------------------------------------------------------
# Training-data export: shard manifest + stratified splits
# ---------------------------------------------------------------------------


@query(
    "export_shard_manifest",
    oracle="""
    WITH s AS (
        SELECT doc_id, length(text) AS nb,
               ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) % 16
                 AS shard
        FROM documents
    )
    SELECT CAST(shard AS INT) AS shard,
           count(*) AS n_docs,
           CAST(sum(nb) AS BIGINT) AS n_chars,
           min(doc_id) AS min_doc,
           max(doc_id) AS max_doc
    FROM s
    GROUP BY shard
    """,
)
def export_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manifest that ships with a sharded corpus export: per-shard doc
    count, char volume, and id range, using the same engine-neutral
    md5-hex shard assignment as sinks.export_shards (two hex chars -> 0..255
    -> mod n). One narrow scan + one 16-group aggregate; the write path
    itself is exercised in tests (partitionBy layout, bounded files,
    within-shard order)."""
    from ..sources.sinks import shard_column

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("shard", shard_column("doc_id", 16))
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("n_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


@query(
    "split_stratified_counts",
    oracle="""
    WITH s AS (
        SELECT label,
               CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
                    WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
                    ELSE 'test' END AS split
        FROM embeddings
    )
    SELECT label, split, count(*) AS n
    FROM s
    GROUP BY label, split
    """,
)
def split_stratified_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split audit, stratified by label: the
    hash-gate split idiom (hex char of md5(id): 0-b -> train 12/16, c-d ->
    val 2/16, e-f -> test 2/16) — reproducible across engines/runs/retries
    with no RNG and no shuffle beyond the final 30-group count. The
    returned table is the per-class balance check run before any training
    job; leakage-safety falls out of the id-hash (an id can never be in
    two splits)."""
    emb = _t(spark, sf_dir, "embeddings")
    c = F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1)
    split = (
        F.when(c <= "b", "train").when(c <= "d", "val").otherwise("test")
    )
    return (
        emb.select("label", split.alias("split"))
        .groupBy("label", "split")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# Domain mixing + normalization dedup (round-3 session-2)
# ---------------------------------------------------------------------------


@query(
    "mixture_weighted_sample",
    oracle="""
    WITH gated AS (
        SELECT source,
               length(text) AS n_chars,
               CASE CAST(substr(source, 4) AS INT) % 3
                    WHEN 0 THEN 'f' WHEN 1 THEN '7' ELSE '3' END AS cap,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS gate
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN gate <= cap THEN 1 ELSE 0 END)
                AS BIGINT) AS n_admitted,
           CAST(SUM(CASE WHEN gate <= cap THEN n_chars ELSE 0 END)
                AS BIGINT) AS admitted_chars
    FROM gated GROUP BY source
    """,
)
def mixture_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DOMAIN-MIXTURE sampling — the operator that turns a
    raw crawl into a weighted training mix: each source (domain) gets its
    own admission rate, applied as a content-free hash gate on the doc id
    (here: 16/16, 8/16, or 4/16 by source index mod 3, standing in for a
    mixture config table). Same 100 TB properties as
    sample_deterministic_hash — a codegen predicate, no RNG, no global
    sort, reproducible across engines/runs/retries — plus the per-domain
    rate; in production the (source -> rate) map is a broadcast config
    table and the gate threshold a joined column, which is exactly how the
    hex-cap column behaves here. Output is the mixture audit: per source,
    total vs admitted docs and the admitted char budget."""
    docs = _t(spark, sf_dir, "documents")
    cap = (
        F.when(F.substring("source", 4, 10).cast("int") % 3 == 0, "f")
        .when(F.substring("source", 4, 10).cast("int") % 3 == 1, "7")
        .otherwise("3")
    )
    gate = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    admitted = (gate <= cap).cast("int")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_total"),
        F.sum(admitted).alias("n_admitted"),
        F.sum(admitted * F.length("text")).cast("long").alias("admitted_chars"),
    )


@query(
    "dedup_normalized_exact",
    oracle="""
    WITH n AS (
        SELECT doc_id, source,
               md5(trim(regexp_replace(regexp_replace(lower(text),
                        '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_digest
        FROM documents
    )
    SELECT norm_digest,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies,
           COUNT(DISTINCT source) AS n_sources
    FROM n GROUP BY norm_digest
    """,
)
def dedup_normalized_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize-then-exact dedup (the C4/RefinedWeb recipe): lowercase,
    strip non-alphanumerics, collapse whitespace, THEN hash — catching the
    near-copies that differ only in case/punctuation/spacing, which raw
    exact dedup (dedup_exact) misses and MinHash overpays for. The shuffle
    carries (digest, doc_id, source) — never the text — and the keeper
    rule is the same deterministic min-id as dedup_exact; n_sources per
    digest is the cross-domain syndication signal. All normalization is
    codegen regexp (engine-neutral POSIX classes, no HOFs)."""
    docs = _t(spark, sf_dir, "documents")
    norm = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
                " +",
                " ",
            )
        )
    )
    return (
        docs.select(norm.alias("norm_digest"), "doc_id", "source")
        .groupBy("norm_digest")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


# ---------------------------------------------------------------------------
# Relevance search, co-occurrence mining, equi-depth binning
# ---------------------------------------------------------------------------

_BM25_TERMS = ("vector", "stream", "merge")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 20


def _bm25_oracle() -> str:
    return f"""
    WITH {bm25_scored_sql_ctes()}
    SELECT doc_id, bm25_score
    FROM bm25_scored
    ORDER BY bm25_score DESC, doc_id ASC
    LIMIT {_BM25_TOPK}
    """


def bm25_scored_sql_ctes() -> str:
    """The BM25 scoring pipeline as reusable CTE text: defines
    ``bm25_scored(doc_id, bm25_score)`` (matching docs only). Shared by
    the search_bm25_topk oracle and the hybrid-RRF oracle so both legs
    rank from the IDENTICAL score expression."""
    tf_cols = ",\n               ".join(
        "len(list_filter(regexp_split_to_array(text, '[^a-z0-9]+'),"
        f" x -> x = '{t}'))::BIGINT AS tf_{t}"
        for t in _BM25_TERMS
    )
    score_terms = "\n             + ".join(
        f"((n_docs - df_{t} + 0.5) / (df_{t} + 0.5))"
        f" * (tf_{t} * (CAST({_BM25_K1} AS DOUBLE) + 1))"
        f" / (tf_{t} + CAST({_BM25_K1} AS DOUBLE)"
        f" * (1 - CAST({_BM25_B} AS DOUBLE)"
        f" + CAST({_BM25_B} AS DOUBLE) * (doc_len / avg_len)))"
        for t in _BM25_TERMS
    )
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}"
        for t in _BM25_TERMS
    )
    return f"""tf AS (
        SELECT doc_id,
               len(list_filter(regexp_split_to_array(text, '\\s+'),
                               x -> x <> ''))::BIGINT AS doc_len,
               {tf_cols}
        FROM documents
    ), stats AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(doc_len) AS DOUBLE) / COUNT(*) AS avg_len,
               {df_cols}
        FROM tf
    ), bm25_scored AS (
        SELECT doc_id,
               {score_terms} AS bm25_score
        FROM tf CROSS JOIN stats
        WHERE {" + ".join(f"tf_{t}" for t in _BM25_TERMS)} > 0
    )"""


@query("search_bm25_topk", oracle=_bm25_oracle())
def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-text relevance ranking: BM25 top-k for a fixed keyword query —
    the retrieval operator a training-data pipeline uses for targeted
    corpus slicing (and the lexical half of hybrid search next to the ANN
    family). One corpus pass computes per-doc term frequencies (codegen
    regexp_count scalars — no tokenize-explode shuffle) and doc lengths;
    the corpus stats (N, avg length, per-term document frequencies) reduce
    to a 1-row aggregate broadcast back via crossJoin (the C2 idiom — no
    driver readback); scoring is a scalar expression; top-k plans as
    TakeOrderedAndProject (no global sort). Uses the RATIONAL idf variant
    (N - df + 0.5)/(df + 0.5) — same ranking direction as Robertson's
    log idf for a single-corpus ranking, but free of transcendentals,
    which keeps every score bit-reproducible across engines (the
    oracle-checked-outputs rule; log's last-ulp could differ)."""
    return (
        bm25_scored_docs(spark, sf_dir)
        .orderBy(F.col("bm25_score").desc(), F.col("doc_id").asc())
        .limit(_BM25_TOPK)
    )


def bm25_scored_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bm25_score) for every query-matching document — the
    Spark twin of ``bm25_scored_sql_ctes``. Shared by search_bm25_topk
    and the hybrid-RRF lexical leg."""
    docs = _t(spark, sf_dir, "documents")
    tf_exprs = [
        F.regexp_count("text", F.lit(rf"\b{t}\b")).cast("long").alias(f"tf_{t}")
        for t in _BM25_TERMS
    ]
    tf = docs.select(
        "doc_id", text.token_count("text").cast("long").alias("doc_len"), *tf_exprs
    )
    stats = tf.agg(
        F.count("*").alias("n_docs"),
        (F.sum("doc_len").cast("double") / F.count("*")).alias("avg_len"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("int")).alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    k1, b = _BM25_K1, _BM25_B
    score = None
    for t in _BM25_TERMS:
        idf = (F.col("n_docs") - F.col(f"df_{t}") + F.lit(0.5)) / (
            F.col(f"df_{t}") + F.lit(0.5)
        )
        term = (
            idf
            * (F.col(f"tf_{t}") * (F.lit(k1) + F.lit(1)))
            / (
                F.col(f"tf_{t}")
                + F.lit(k1)
                * (F.lit(1) - F.lit(b) + F.lit(b) * (F.col("doc_len") / F.col("avg_len")))
            )
        )
        score = term if score is None else score + term
    any_tf = None
    for t in _BM25_TERMS:
        any_tf = F.col(f"tf_{t}") if any_tf is None else any_tf + F.col(f"tf_{t}")
    return (
        tf.crossJoin(F.broadcast(stats))
        .filter(any_tf > 0)
        .select("doc_id", score.alias("bm25_score"))
    )


def ensure_cooccur_supp_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted supplier co-occurrence support table (a, b, support):
    distinct (order, supplier) self-joined per order, counted per
    unordered supplier pair. The input of graph_triangle_count and any
    future association analysis over suppliers; built once per corpus
    (cli.py build-index --kinds cooccur)."""
    from ..functions.artifacts import ensure_table

    def _build() -> DataFrame:
        li = (
            _t(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_suppkey")
            .distinct()
            .localCheckpoint()
        )
        a = li.select(
            F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("a")
        )
        b = li.select(
            F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("b")
        )
        return (
            a.join(b, "k")
            .filter(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count("*").alias("support"))
        )

    return ensure_table(spark, sf_dir, "cooccur_supp_support", _build)


def ensure_basket_order_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted (order, brand) basket table — the distinct broadcast-join
    of lineitem onto the part dimension. The input of basket_brand_pairs;
    built once per corpus (cli.py build-index --kinds cooccur)."""
    from ..functions.artifacts import ensure_table

    def _build() -> DataFrame:
        li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
        return (
            li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
            .select("l_orderkey", "p_brand")
            .distinct()
        )

    return ensure_table(spark, sf_dir, "basket_order_brand", _build)


@query(
    "graph_triangle_count",
    oracle="""
    WITH os AS (
        SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
    ), pairs AS (
        SELECT a.l_suppkey AS a, b.l_suppkey AS b, COUNT(*) AS support
        FROM os a JOIN os b ON a.l_orderkey = b.l_orderkey
                           AND a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2
    ), pr AS (
        SELECT support,
               row_number() OVER (ORDER BY support) AS rk,
               COUNT(*) OVER () AS n
        FROM pairs
    ), thr AS (
        -- element at rank ceil(n*0.9), exact integer arithmetic: the
        -- percentile_disc(0.9) contract without DuckDB's quantile policy
        -- in the loop (Spark-side policy pinned by
        -- test_spark_percentile_disc_is_ceil_rank)
        SELECT MIN(CASE WHEN rk = (n * 90 + 99) // 100 THEN support END) AS t
        FROM pr
    ), edges AS (
        SELECT a, b FROM pairs CROSS JOIN thr WHERE support >= t
    )
    SELECT (SELECT COUNT(*) FROM edges e1
            JOIN edges e2 ON e2.a = e1.b
            JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles,
           (SELECT COUNT(*) FROM edges) AS n_edges,
           (SELECT CAST(t AS BIGINT) FROM thr) AS support_threshold
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the supplier co-occurrence graph (suppliers
    appearing in the same order), with a SUPPORT-THRESHOLDED edge set: raw
    co-occurrence graphs saturate toward completeness as data grows, so
    the edge filter keeps the top-decile-support edges (threshold = exact
    p90 of the support distribution, a 1-row broadcast — data-derived, so
    the query stays meaningful at every scale factor instead of counting
    C(n,3) on a clique). The count itself is the classic two-join ordered
    enumeration (a<b<c, each triangle counted exactly once) — edge-ordered
    triangle join, the MapReduce-era node-iterator made relational. Scale
    shape: the quadratic step (per-order pair expansion) is bounded by
    order width, the threshold prunes before the join chain, and the edge
    table after pruning is small enough to broadcast at any corpus size
    (edges over high-support pairs grow sublinearly)."""
    # The supplier co-occurrence support table is corpus-determined — a
    # build artifact like the PageRank graph (pr_graph_sym), not per-query
    # work. r4 checkpointed the distinct input (pair expansion 3.8 -> 1.3 s
    # at sf0.1); r6 moves the whole (a, b, support) table into the artifact
    # store, so the per-query cost is a ~|pairs|-row parquet scan and the
    # threshold + triangle joins. Cold build cost is recorded under the
    # bench's extra.artifact_builds like every other ensure_* table.
    pairs = ensure_cooccur_supp_support(spark, sf_dir)
    pairs.createOrReplaceTempView("_tri_pairs")
    thr = spark.sql(
        "SELECT percentile_disc(0.9) WITHIN GROUP (ORDER BY support) AS t "
        "FROM _tri_pairs"
    )
    edges = (
        pairs.join(F.broadcast(thr))
        .filter(F.col("support") >= F.col("t"))
        .select("a", "b")
    )
    e1 = edges
    e2 = edges.select(F.col("a").alias("b2a"), F.col("b").alias("c"))
    e3 = edges.select(F.col("a").alias("e3a"), F.col("b").alias("e3b"))
    tri = (
        e1.join(F.broadcast(e2), e1["b"] == e2["b2a"])
        .join(
            F.broadcast(e3),
            (e1["a"] == e3["e3a"]) & (F.col("c") == e3["e3b"]),
            "left_semi",
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    t_row = thr.select(F.col("t").cast("long").alias("support_threshold"))
    return tri.join(F.broadcast(n_edges)).join(F.broadcast(t_row))


@query(
    "basket_brand_pairs",
    oracle="""
    WITH ob AS (
        SELECT DISTINCT l_orderkey, p_brand
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ), brand_cnt AS (
        SELECT p_brand, COUNT(*) AS n_orders_with
        FROM ob GROUP BY p_brand
    ), totals AS (
        SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM ob
    ), pairs AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
               COUNT(*) AS support
        FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey
                           AND a.p_brand < b.p_brand
        GROUP BY 1, 2
    )
    SELECT brand_a, brand_b, support,
           CAST(support * n_orders AS DOUBLE)
             / (ca.n_orders_with * cb.n_orders_with) AS lift
    FROM pairs
    JOIN brand_cnt ca ON ca.p_brand = brand_a
    JOIN brand_cnt cb ON cb.p_brand = brand_b
    CROSS JOIN totals
    WHERE support >= 5
    """,
)
def basket_brand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence mining: per-order brand pairs with
    support and LIFT (observed co-rate over independence) — the
    association-rule primitive (frequent-itemset size 2). The quadratic
    pair expansion is per-order and bounded by basket width (not corpus
    size); brand marginals and the order total are small broadcasts; lift
    is a single integer-ratio division (hash-safe). min-support 5 prunes
    the noise floor at any scale factor."""
    # The (order, brand) basket table feeds FOUR consumers (marginals,
    # total, both pair-expansion sides) and is corpus-determined — r3
    # checkpointed it per query (2.5 -> 1.2 s at sf0.1); r6 persists it in
    # the artifact store (the basket table IS a production build output),
    # so the per-query cost is the parquet scan + the pair expansion.
    ob = ensure_basket_order_brand(spark, sf_dir)
    # r12 (optimization): the pair expansion no longer SELF-JOINS the
    # basket table on the order key (two order-keyed exchanges + the
    # join) — one groupBy(order) collapses each basket to its sorted
    # distinct-brand set, and the in-row double generator (posexplode
    # anchor + explode of the strictly-later slice — the
    # text_source_overlap r12 shape; plain generators, no array lambda)
    # emits exactly the brand_a < brand_b pairs the join produced, with
    # the same per-basket |brands|^2 bound. The basket-set table also
    # serves the brand marginals (explode + count) and the order total
    # (count of baskets — the countDistinct collapses to count(*) at
    # basket grain), so ONE exchange feeds all three consumers; it is
    # checkpointed per the multi-consumer invariant.
    baskets = (
        ob.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("bs"))
        .select("bs")
        .localCheckpoint()
    )
    brand_cnt = (
        baskets.select(F.explode("bs").alias("p_brand"))
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_orders_with"))
    )
    totals = baskets.agg(F.count("*").alias("n_orders"))
    pairs = (
        baskets.select(F.posexplode("bs").alias("i", "brand_a"), "bs")
        .select(
            "brand_a",
            F.explode(F.expr("slice(bs, i + 2, size(bs))")).alias("brand_b"),
        )
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= 5)
    )
    ca = brand_cnt.select(
        F.col("p_brand").alias("ca_brand"), F.col("n_orders_with").alias("ca_n")
    )
    cb = brand_cnt.select(
        F.col("p_brand").alias("cb_brand"), F.col("n_orders_with").alias("cb_n")
    )
    return (
        pairs.join(F.broadcast(ca), F.col("brand_a") == F.col("ca_brand"))
        .join(F.broadcast(cb), F.col("brand_b") == F.col("cb_brand"))
        .join(F.broadcast(totals))
        .select(
            "brand_a",
            "brand_b",
            "support",
            (
                (F.col("support") * F.col("n_orders")).cast("double")
                / (F.col("ca_n") * F.col("cb_n"))
            ).alias("lift"),
        )
    )


@query(
    "events_equi_depth_bins",
    oracle="""
    WITH b AS (
        SELECT event_type, value,
               ntile(10) OVER (PARTITION BY event_type
                               ORDER BY value, event_id) AS bucket
        FROM events WHERE value IS NOT NULL
    )
    SELECT event_type, bucket, COUNT(*) AS n_events,
           MIN(value) AS lo, MAX(value) AS hi
    FROM b GROUP BY 1, 2
    """,
)
def events_equi_depth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-frequency) binning — the feature-discretization
    primitive: ntile(10) per event type over a TOTAL order (value with
    event_id tiebreak: ntile on a non-total order is nondeterministic
    under ties, which would break both the oracle and reproducibility).
    Bucket boundaries (min/max per bucket) are selections of stored
    doubles — hash-safe. One windowed sort per type + a tiny grouped agg;
    at 100 TB the same result comes from the quantile sketch instead
    (events_value_quantiles), trading exactness for the sort — this entry
    is the exact path."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.select("event_type", "value", F.ntile(10).over(w).alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(
            F.count("*").alias("n_events"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
    )


# ---------------------------------------------------------------------------
# Exact substring dedup (suffix-array-style shared spans, relationally)
# ---------------------------------------------------------------------------

_SPAN_K = 8  # minimum shared run, in tokens; planted near-dup pairs in the
# synthetic corpus share 11-93-token verbatim runs, background word-salad
# collisions die out by ~6 tokens, so k=8 separates them with margin


@query(
    "dedup_substring_spans",
    oracle=f"""
    WITH arrs AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS arr
      FROM documents
    ),
    sh AS (
      SELECT doc_id, u.i AS pos,
             array_to_string(arr[u.i:(u.i + {_SPAN_K} - 1)], ' ') AS shingle
      FROM arrs, LATERAL unnest(range(1, len(arr) - {_SPAN_K} + 2)) u(i)
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    isl AS (
      SELECT doc_a, doc_b, pa, pb, pa - pb AS off,
             pa - row_number() OVER (
               PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS grp
      FROM cand
    )
    SELECT doc_a, doc_b,
           min(pa) AS a_start, max(pa) + {_SPAN_K} - 1 AS a_end,
           min(pb) AS b_start, max(pb) + {_SPAN_K} - 1 AS b_end,
           max(pa) - min(pa) + {_SPAN_K} AS span_tokens
    FROM isl GROUP BY doc_a, doc_b, off, grp
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal verbatim token spans (>= 8 tokens) shared between document
    pairs — the ExactSubstr dedup of Lee et al. 2022, re-expressed as a
    positional-shingle inverted-index join + gaps-and-islands merge (see
    functions/dedup.substring_spans for the shuffle ledger). Where MinHash
    answers "are these docs similar?", this answers "exactly WHICH bytes
    are copied?" — the primitive behind span-level contamination removal
    and memorization audits."""
    docs = _t(spark, sf_dir, "documents")
    sh = dedup.ensure_positional_shingles(spark, docs, sf_dir, k=_SPAN_K)
    spans = dedup.substring_spans(docs, "text", "doc_id", k=_SPAN_K, sh=sh)
    return spans.select(
        "doc_a",
        "doc_b",
        *[
            F.col(c).cast("long").alias(c)
            for c in ("a_start", "a_end", "b_start", "b_end", "span_tokens")
        ],
    )


@query(
    "dedup_span_coverage",
    oracle=f"""
    WITH arrs AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS arr
      FROM documents
    ),
    sh AS (
      SELECT doc_id, u.i AS pos,
             array_to_string(arr[u.i:(u.i + {_SPAN_K} - 1)], ' ') AS shingle
      FROM arrs, LATERAL unnest(range(1, len(arr) - {_SPAN_K} + 2)) u(i)
    ),
    pd AS (
      SELECT shingle, min(doc_id) AS d_min, max(doc_id) AS d_max
      FROM sh GROUP BY shingle
    )
    SELECT sh.doc_id,
           count(*)::BIGINT AS n_shingles,
           sum(CASE WHEN d_min <> sh.doc_id OR d_max <> sh.doc_id
                    THEN 1 ELSE 0 END)::BIGINT AS n_shared,
           round(sum(CASE WHEN d_min <> sh.doc_id OR d_max <> sh.doc_id
                          THEN 1 ELSE 0 END)::BIGINT
                 / count(*)::BIGINT, 9) AS shared_ratio
    FROM sh JOIN pd USING (shingle)
    GROUP BY sh.doc_id
    """,
)
def dedup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-text exposure: the fraction of a doc's
    8-token shingles that also appear in some OTHER document — the number a
    cleaning pipeline thresholds on ("drop docs more than 50% duplicated").
    No doc-vs-doc join at all: one digest-keyed (min_doc, max_doc)
    aggregate decides sharing for every document at once, so cost stays
    linear in corpus size at 100 TB. Ratio is a single int/int division
    (bit-stable cross-engine)."""
    docs = _t(spark, sf_dir, "documents")
    sh = dedup.ensure_positional_shingles(spark, docs, sf_dir, k=_SPAN_K)
    return dedup.shared_shingle_coverage(
        docs, "text", "doc_id", k=_SPAN_K, sh=sh
    )


@query(
    "dedup_span_redact",
    oracle=f"""
    WITH arrs AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS arr
      FROM documents
    ),
    sh AS (
      SELECT doc_id, u.i AS pos,
             array_to_string(arr[u.i:(u.i + {_SPAN_K} - 1)], ' ') AS shingle
      FROM arrs, LATERAL unnest(range(1, len(arr) - {_SPAN_K} + 2)) u(i)
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    isl AS (
      SELECT doc_a, doc_b, pa, pb, pa - pb AS off,
             pa - row_number() OVER (
               PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS grp
      FROM cand
    ),
    spans AS (
      SELECT doc_b, min(pb) AS b_start, max(pb) + {_SPAN_K} - 1 AS b_end
      FROM isl GROUP BY doc_a, doc_b, off, grp
    ),
    removed AS (
      SELECT DISTINCT doc_b AS doc_id, u.p AS pos
      FROM spans, LATERAL unnest(range(b_start, b_end + 1)) u(p)
    ),
    toks AS (
      SELECT doc_id, u.i AS pos, arr[u.i] AS tok
      FROM arrs, LATERAL unnest(range(1, len(arr) + 1)) u(i)
      WHERE doc_id IN (SELECT doc_id FROM removed)
    )
    SELECT t.doc_id,
           count(*)::BIGINT AS n_tokens_before,
           sum(CASE WHEN r.pos IS NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_tokens_after,
           string_agg(CASE WHEN r.pos IS NULL THEN t.tok END, ' '
                      ORDER BY t.pos) AS redacted_text
    FROM toks t LEFT JOIN removed r
      ON r.doc_id = t.doc_id AND r.pos = t.pos
    GROUP BY t.doc_id
    """,
)
def dedup_span_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr REMOVAL: rebuild every doc that shares a >= 8-token
    verbatim run with a lower-id doc, with those spans cut out (first
    occurrence kept corpus-wide). The span detector is dedup_substring_spans;
    this entry is the transform a cleaning pipeline actually ships —
    detection tells you what's copied, this emits the cleaned text.
    Reassembly is order-pinned listagg / string_agg (ORDER BY pos), so the
    rebuilt strings are byte-identical cross-engine."""
    docs = _t(spark, sf_dir, "documents")
    sh = dedup.ensure_positional_shingles(spark, docs, sf_dir, k=_SPAN_K)
    return dedup.redact_shared_spans(docs, "text", "doc_id", k=_SPAN_K, sh=sh)


# ---------------------------------------------------------------------------
# Corpus-relative character-LM quality score
# ---------------------------------------------------------------------------


@query(
    "text_lm_trigram_score",
    oracle="""
    WITH n AS (
        SELECT doc_id, regexp_replace(text, '\\s+', ' ', 'g') AS norm
        FROM documents
    ), tri AS (
        SELECT doc_id,
               unnest([substr(norm, i::INT, 3)
                       for i in range(1, greatest(length(norm) - 2, 1) + 1)]) AS g
        FROM n
    ), c AS (
        SELECT g, COUNT(*) AS cnt FROM tri GROUP BY g
    )
    SELECT t.doc_id,
           COUNT(*) AS n_tri,
           SUM(c.cnt)::BIGINT AS sum_freq,
           CAST(SUM(c.cnt) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_freq
    FROM tri t JOIN c USING (g)
    GROUP BY t.doc_id
    """,
)
def text_lm_trigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: each document rated by how typical
    its character trigrams are OF THIS CORPUS — avg_freq is the mean
    corpus-wide occurrence count of the doc's trigrams (a unigram char-LM
    likelihood up to monotone transform, kept RATIONAL: one double
    division of two exact BIGINTs, no transcendentals — the
    text_tfidf_top_terms determinism rule). Low scorers are the gibberish/
    boilerplate outliers a cleaning pipeline drops; unlike a fixed
    stopword heuristic (text_quality) the model is the corpus itself, no
    external asset.

    Scale shape: ONE explode of the corpus into the trigram stream, then
    compacted immediately to per-(doc, trigram) counts (|doc|*|distinct
    tri/doc| rows, far smaller than the raw stream) and localCheckpointed
    so the two consumers — the global trigram model and the per-doc score
    join — never re-run the explode (the LSH no-rescan rule). The model
    table is bounded by charset^3 regardless of corpus size (~20k rows for
    lowercase ASCII), so it BROADCASTS onto the per-doc stream: the only
    data-sized exchanges are the compaction groupBy and the final per-doc
    aggregation."""
    docs = _t(spark, sf_dir, "documents")
    tri = text.exploded_shingles(docs, k=3)
    grouped = (
        tri.groupBy("id", "shingle")
        .agg(F.count("*").alias("n_occ"))
        .localCheckpoint(eager=False)
    )
    model = grouped.groupBy("shingle").agg(F.sum("n_occ").alias("cnt"))
    return (
        grouped.join(F.broadcast(model), "shingle")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.sum("n_occ").alias("n_tri"),
            F.sum(F.col("n_occ") * F.col("cnt")).alias("sum_freq"),
        )
        .select(
            "doc_id",
            "n_tri",
            "sum_freq",
            (F.col("sum_freq").cast("double") / F.col("n_tri").cast("double")).alias(
                "avg_freq"
            ),
        )
    )
