"""Text-analysis operators for LLM training-data pipelines.

All hot-path logic is built-in Spark SQL expressions (JVM-side, codegen) —
no Python UDFs. Each operator is deterministic cross-engine so it can be
oracle-checked against DuckDB:

- tokenization: regex whitespace split (identical in Java regex and RE2)
- ratios: int/int double divisions (bit-identical IEEE754 in both engines)
- fingerprints: MD5 (identical standard everywhere)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny embedded stopword lists per language for the marker-count language-ID
# heuristic. Deliberately small and hardcoded: the point is the *operator
# shape* (per-token scoring + argmax over languages), which at 100 TB runs as
# a pure column expression with zero shuffles.
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr": ("le", "la", "les", "et", "est", "une", "que", "pas"),
    "es": ("el", "la", "los", "es", "una", "que", "de", "no"),
    "zh": ("de", "shi", "bu", "le", "wo", "ni", "ta", "men"),
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokens with empties removed (StringTokenizer semantics,
    generalizing the reference WordCount.java:24-28). Array form for
    explode paths; counting paths use token_count (scalar regex).
    Pure codegen: trimming first means split can never emit an empty
    token (Java split drops trailing empties; a leading empty needs a
    leading separator, which trim removed) — no interpreted F.filter HOF
    (this helper previously carried one, gated off hot paths; now there is
    nothing to gate)."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(col: Column | str) -> Column:
    """Number of whitespace tokens == number of maximal non-space runs.
    regexp_count is a plain codegen scalar — no array materialization, no
    interpreted HOF filter (round-1: HOFs cost ~14 µs/element)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(r"\S+"))


def bpe_ish_token_count(col: Column | str) -> Column:
    """Approximate subword count: split on whitespace AND on transitions
    between word characters and punctuation/digits (a cheap BPE-ish proxy
    for budget estimation). A piece is a maximal run of letters or a
    maximal run of non-letter-non-space characters — counted directly with
    one scalar regexp_count (codegen) instead of split+filter HOFs."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(r"[A-Za-z]+|[^A-Za-z\s]+"))


def _marker_count(col: Column, markers: tuple[str, ...]) -> Column:
    """Occurrences of whole whitespace-delimited marker tokens, as one
    scalar regexp_count over the space-padded lowercased text: each token
    is preceded by exactly one \\s in ' '||text||' ', and the zero-width
    lookahead keeps adjacent marker tokens countable (the delimiter between
    them is not consumed). Identical to filtering the token array for
    membership, without materializing arrays or interpreted HOFs."""
    padded = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    alt = "|".join(markers)
    return F.regexp_count(padded, F.lit(rf"\s({alt})(?=\s)"))


def quality_features(df: DataFrame) -> DataFrame:
    """Length / punctuation / stopword-ratio quality signals per document.

    Ratios are int/int divisions so the doubles are bit-identical across
    engines (no float aggregation). Columns:
      n_chars_actual, n_tokens, avg_token_len, punct_ratio, stopword_ratio

    Every signal is a scalar codegen expression (regexp_count /
    regexp_replace / length) — zero shuffles, zero array HOFs: token count
    is the count of non-space runs, total token chars is the non-whitespace
    character count, stopword hits are whole-token regex matches.
    """
    c = F.col("text")
    n_tokens = token_count(c)
    n_chars = F.length(c)
    n_token_chars = F.length(F.regexp_replace(c, r"\s", ""))
    n_punct = n_chars - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    n_stop = _marker_count(c, _LANG_MARKERS["en"])
    return df.withColumns(
        {
            "n_chars_actual": n_chars,
            "n_tokens": n_tokens,
            "avg_token_len": F.when(
                n_tokens > 0, n_token_chars / n_tokens
            ).otherwise(F.lit(0.0)),
            "punct_ratio": F.when(n_chars > 0, n_punct / n_chars).otherwise(
                F.lit(0.0)
            ),
            "stopword_ratio": F.when(n_tokens > 0, n_stop / n_tokens).otherwise(
                F.lit(0.0)
            ),
        }
    )


def language_id(df: DataFrame) -> DataFrame:
    """Marker-word language ID: count marker hits per language over the
    lowercased token array, argmax with deterministic tie-break on language
    code. Adds `lang_pred` + one `score_<lang>` per language.

    Narrow (per-row) plan: at 100 TB this is a single scan with zero
    shuffles; each language score is one scalar regexp_count whose marker
    alternation is baked into codegen — no token-array materialization, no
    interpreted HOF filters (round-1: those cost ~14 µs/token and made this
    the slowest text query at just 5,000 docs).
    """
    out = df
    for lang, markers in _LANG_MARKERS.items():
        out = out.withColumn(
            f"score_{lang}", _marker_count(F.col("text"), markers)
        )
    # argmax via greatest + chained when (deterministic tie-break: first in
    # sorted language order wins)
    langs = sorted(_LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{la}") for la in langs])
    pred = F.lit(None).cast("string")
    for la in reversed(langs):
        pred = F.when(F.col(f"score_{la}") == best, F.lit(la)).otherwise(pred)
    return out.withColumn("lang_pred", pred)


# Redaction patterns — deliberately conservative (precision over recall:
# a training corpus survives a missed phone number; it does not survive
# mass-redacting legitimate text). Each is a plain Java/RE2-compatible
# regex so the scrub stays inside whole-stage codegen.
_PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "phone": r"\+?\d[\d\s().-]{7,}\d",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
}


def scrub_pii(df: DataFrame) -> DataFrame:
    """Redact email / URL / phone / IPv4 patterns, replacing each match
    with a typed token (`<EMAIL>`, `<URL>`, ...), and count per-kind hits.

    Adds `text_scrubbed` plus one `n_<kind>` column per pattern.
    Pure scalar regexp_replace/regexp_count chain — zero shuffles, whole
    Spark-side codegen; order matters (emails before phones, so digits
    inside a redacted email aren't re-matched) and is fixed."""
    c = F.col("text")
    out_cols: dict[str, Column] = {}
    scrubbed = c
    for kind, pat in _PII_PATTERNS.items():
        out_cols[f"n_{kind}"] = F.regexp_count(c, F.lit(pat)).cast("long")
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{kind.upper()}>")
    return df.withColumns({"text_scrubbed": scrubbed, **out_cols})


def exploded_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Relational shingle stream: (id, shingle) — one row per k-char
    shingle position of the whitespace-normalized text (duplicates kept;
    consumers that need set semantics dedup after hashing).

    Array higher-order functions (a transform over a sequence of offsets)
    run as interpreted CodegenFallback expressions (~14us per element),
    so every shingle consumer (MinHash, SimHash, Jaccard, fingerprints)
    goes through this explode instead — generate + substring stay inside
    whole-stage codegen. Texts shorter than k yield the whole text.
    """
    norm = F.regexp_replace(F.col(text_col), r"\s+", " ")
    slim = df.select(F.col(id_col).alias("id"), norm.alias("_norm"))
    # Explode amplification is ~len(text) rows per input row, so input-split
    # sizing (128 MB default) under-parallelizes small corpora badly: at
    # sf0.1 the whole documents table is ONE split and the explode ran on 1
    # of 32 cores (3.5 s of the round-1 shingle-query cost). Repartition the
    # slim (id, norm) projection ONLY when the scan yields fewer splits than
    # cores — shuffling a handful of small partitions is ~free, and at real
    # corpus scale (thousands of splits) this no-ops, so the full text is
    # never shuffled on the 100 TB path.
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if slim.rdd.getNumPartitions() < target:
        slim = slim.repartition(target)
    return slim.select(
        "id",
        "_norm",
        F.explode(
            F.sequence(
                F.lit(1), F.greatest(F.length("_norm") - F.lit(k - 1), F.lit(1))
            )
        ).alias("_i"),
    ).select("id", F.col("_norm").substr(F.col("_i"), F.lit(k)).alias("shingle"))


def fingerprint(df: DataFrame, k: int = 8) -> DataFrame:
    """Winnowing-style document fingerprint: MD5 each k-char shingle, keep
    the minimum digest (a 1-permutation MinHash). MD5 is standardized, so
    DuckDB computes the identical fingerprint — unlike engine-private hash
    functions. Relational min-aggregate over the exploded shingle stream
    (codegen path). Returns (doc_id, fingerprint hex string)."""
    sh = exploded_shingles(df, "text", "doc_id", k)
    return sh.groupBy(F.col("id").alias("doc_id")).agg(
        F.min(F.md5("shingle")).alias("fingerprint")
    )
