"""Round-8 band: exactness & structure mining.

Three operators that each add a genuinely new SHAPE to an existing
family rather than another variation of a covered one:

- ``dedup_prefix_filter`` — PPJoin/AllPairs prefix filtering: the
  recall-LOSSLESS candidate generator for exact set-similarity joins.
  The dedup family so far trades recall for cost (MinHash banding,
  SimHash) or pays Σ df(s)^2 for exactness (inverted-index self-join);
  prefix filtering is exact AND pruned — the operator a
  contamination/compliance sweep needs when "we found every pair" must
  be provable.
- ``graph_kcore_census`` — k-core decomposition by capped peeling:
  the SUBGRAPH-refinement member of the iterative-graph family
  (PageRank = per-node weighted aggregate, LPA = per-node plurality,
  components = reachability; k-core iteratively deletes). Peeling is
  IDEMPOTENT at its fixpoint, so stopping there returns what the fixed
  program of the oracle returns — convergence at the test scale factors
  is asserted separately against a Python peel run to its fixpoint.
- ``text_collocation_pmi`` — top-K adjacent-token collocations ranked
  by PMI. PMI's log is monotone in the exact rational
  c_ab / (c_a * c_b), so the ranking runs on integer-scaled exact
  arithmetic (no transcendental crosses an engine boundary).

Cross-engine determinism per the catalog rules: integer counts, integer
fixed-point ratios (rearranged division keeps every intermediate under
2^63 — see the lift note), explicit total orders at every cut.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import dedup
from ..functions.artifacts import scan_min, scan_num_rows
from .catalog import _fmt_doc, _t, query
from .extensions import (
    _SHINGLE_K,
    _ngram_jaccard_oracle,
    ensure_graph_degree,
    ensure_graph_edges,
    graph_broadcast_hint,
)

# ---------------------------------------------------------------------------
# 1. Prefix-filter exact set-similarity join
# ---------------------------------------------------------------------------


_PF_THRESHOLD = 0.7


@query("dedup_prefix_filter", oracle=_ngram_jaccard_oracle(_PF_THRESHOLD))
def dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard near-dup pairs via AllPairs/PPJoin prefix filtering
    (functions.dedup.prefix_filter_jaccard_pairs): order each doc's
    distinct shingle hashes by global document frequency ascending, keep
    only the first n - ceil(t*n) + 1 (the prefix), and join prefixes on
    the token — provably zero recall loss (two sets with J >= t must
    share a prefix token under one consistent total order), unlike
    MinHash banding's probabilistic recall; PPJoin's length and
    positional filters prune matched rows, also losslessly. Candidates
    verify with the same exact posting-intersection Jaccard as the LSH
    path — the oracle is the exact full join at the same threshold, and
    prefix-filter == ngram_jaccard equality is property-tested on
    adversarial synthetic corpora plus the real corpus at t=0.5.

    Registered at t={t} — the "strong near-dup / compliance sweep"
    point: prefix cost scales with (1-t) (prefix length, candidate
    fan-out, and the positional floor alpha = t/(1+t)*(n_a+n_b) all
    tighten as t rises), and this corpus's synthetic vocabulary makes
    12-gram collisions pathologically common (df up to 58), so t=0.5
    prefix filtering generates 264k verified-candidate pairs for 256
    true pairs (measured; ~22s at sf0.1) where t={t} is bench-priced.
    The operator itself takes any t; at 100 TB pick t by the same
    measurement this entry documents.

    Scale shape: the rare-first prefix index is a persisted BUILD
    output (ensure_prefix_index: one token-keyed df count + one
    id-keyed window, amortized like signatures/postings); the live
    query is the prefix self-join — cost concentrated in the RAREST
    tokens' buckets, the AllPairs pruning — plus candidate-restricted
    verification against the postings artifact. No recall to account
    for."""
    docs = _t(spark, sf_dir, "documents")
    posting = dedup.ensure_postings(spark, docs, sf_dir, k=_SHINGLE_K)
    return dedup.prefix_filter_jaccard_pairs(
        docs,
        k=_SHINGLE_K,
        threshold=_PF_THRESHOLD,
        posting=posting,
        prefix=dedup.ensure_prefix_index(
            spark,
            docs,
            sf_dir,
            k=_SHINGLE_K,
            threshold=_PF_THRESHOLD,
            posting=posting,
        ),
    )


_fmt_doc(dedup_prefix_filter, t=_PF_THRESHOLD)


# ---------------------------------------------------------------------------
# 2. k-core census by fixed unrolled peeling
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_PEELS = 6


def _kcore_oracle(k: int, peels: int) -> str:
    # Every chained CTE is MATERIALIZED: each sym{i} is referenced by the
    # next round's aggregate AND two keeper joins, and DuckDB inlines
    # non-materialized CTEs per reference — the same 3^peels expression
    # explosion the Spark side hit (and fixed with node-sized
    # checkpoints); at sf0.1 the inlined form spilled DuckDB's temp
    # storage past the disk. Materialization makes the oracle the same
    # linear program as the engine.
    steps = []
    prev = "sym0"
    for i in range(1, peels + 1):
        steps.append(
            f"""d{i} AS MATERIALIZED (
        SELECT src, count(*) AS c FROM {prev} GROUP BY src
    ), k{i} AS MATERIALIZED (
        SELECT src AS node FROM d{i} WHERE c >= {k}
    ), sym{i} AS MATERIALIZED (
        SELECT s.src, s.dst FROM {prev} s
        JOIN k{i} x ON s.src = x.node
        JOIN k{i} y ON s.dst = y.node
    )"""
        )
        prev = f"sym{i}"
    return f"""
    WITH edges AS MATERIALIZED (
        SELECT DISTINCT l_partkey AS a, 1000000 + l_suppkey AS b FROM lineitem
    ), sym0 AS MATERIALIZED (
        SELECT a AS src, b AS dst FROM edges
        UNION ALL
        SELECT b AS src, a AS dst FROM edges
    ), {', '.join(steps)}, df AS (
        SELECT src, count(*) AS c FROM {prev} GROUP BY src
    )
    SELECT c AS core_degree,
           count(*) AS n_nodes,
           CAST(sum(CASE WHEN src >= 1000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_suppliers,
           min(src) AS min_node
    FROM df GROUP BY c
    """


def _restrict(sym: DataFrame, keep: DataFrame, _hint) -> DataFrame:
    e = sym.join(_hint(keep), sym["src"] == keep["node"], "left_semi")
    return e.join(_hint(keep), e["dst"] == keep["node"], "left_semi")


def _kcore_degree_table(
    spark: SparkSession, sf_dir: str, k: int, peels: int
) -> DataFrame:
    """Degree table (src, c) of the graph after at most `peels` rounds
    of k-peeling, stopping at the fixpoint — the shared kernel of the
    census query and the convergence test.

    A graph whose minimum degree is at least k is its own k-core: no
    round peels a node, so the answer is the degree artifact itself.
    That minimum is read from the min statistics in the `pr_graph_deg`
    parquet footers (``scan_min``: no Spark job, and no edge DataFrame
    is built). Without statistics, or below k, the graph is peeled.

    Keeper sets are NESTED (keep_i ⊆ keep_{i-1}: a peeled node has no
    rows in the next degree table), so round i restricts the BASE edge
    artifact by keep_i alone — sym|keep_i == (sym|keep_{i-1})|keep_i.
    Each round's keeper is a node-sized localCheckpoint (the repo's
    multi-consumer invariant: it feeds both semi-joins of the next
    round); the edge-sized stream is NEVER materialized and never feeds
    more than one lineage — the naive edges-carried-forward unroll
    tripled its fact-sized subtree per round (3^peels plan explosion:
    730 exchanges at 6 peels, caught by plan inspection r8).

    Nesting also makes the fixpoint test exact and free: equal keeper
    SIZE in two consecutive rounds means an equal keeper SET, after
    which every further round is a no-op. Each keeper's size is an
    Observation on its own checkpoint job, and round 1 compares against
    the node count of the degree artifact, read from its parquet footers
    (``scan_num_rows``: a ``count()`` when they can't be read). A keeper
    carries each node's degree c counted on sym|keep_{i-1}; at the
    fixpoint that graph IS sym|keep_i, so the last keeper is already the
    answer and is returned as is. Only when the cap binds is the base
    artifact restricted once more and its degrees counted. Either way
    the result is exactly what `peels` rounds would return."""
    deg = ensure_graph_degree(spark, sf_dir)
    low = scan_min(deg, "d")
    if low is not None and low >= k:
        return deg.select("src", F.col("d").alias("c"))
    sym = ensure_graph_edges(spark, sf_dir)
    _hint = graph_broadcast_hint(deg)
    # r13 (optimization): degrees aggregate on DST, not src. The edge
    # artifact is symmetric (every undirected edge appears in both
    # directions) and _restrict keeps an edge only when BOTH endpoints
    # survive, so the restricted graph stays symmetric and degree-by-dst
    # == degree-by-src as a (node, count) set. The artifact is CLUSTERED
    # by dst (ensure_graph_edges), so the dst-keyed partial agg
    # reduces each peel's exchange from |E| rows to ~|V| (guide §2.3;
    # measured 2.50 -> 1.94 s at sf0.1). Output keeps the src column
    # name — it is the node id either way.
    prev = scan_num_rows(deg)
    keep = None
    for _ in range(peels):
        edges = sym if keep is None else _restrict(sym, keep, _hint)
        keep, seen = dedup.checkpoint_observed(
            edges.groupBy(F.col("dst").alias("node"))
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") >= k),
            n=F.count(F.lit(1)),
        )
        if seen["n"] == prev:
            return keep.select(F.col("node").alias("src"), "c")
        prev = seen["n"]
    return _restrict(sym, keep, _hint).groupBy(
        F.col("dst").alias("src")
    ).agg(F.count("*").alias("c"))


@query("graph_kcore_census", oracle=_kcore_oracle(_KCORE_K, _KCORE_PEELS))
def graph_kcore_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{k}-core of the part-supplier co-purchase graph by at most {p}
    peeling rounds, stopping at the fixpoint: each round drops nodes with
    degree < {k} and restricts the edge list to survivors. Peeling is
    IDEMPOTENT once converged (a converged core loses nothing to another
    round), so the loop stops as soon as a round keeps every node of the
    round before it, and its result equals {p} fixed rounds — the program
    the oracle runs, so the hash check holds by construction even when {p}
    rounds do not reach the fixpoint. That they do at sf0.001 and sf0.01
    on every suite run, and at sf0.1 under the full gate, is asserted
    against an independent Python peel run to its fixpoint
    (tests/test_mining.py; measured convergence depth per SF recorded in
    CORRECTNESS_NOTES.md). Output: census of the surviving subgraph by
    within-core degree.

    Three plans, each the fewest jobs its input allows:
    - the graph is already a {k}-core (minimum degree >= {k}, read from
      the degree artifact's parquet footer statistics): the census is
      one grouped aggregate of the degree artifact — no checkpoint, no
      restrict, no edge scan;
    - the peel reaches its fixpoint: the census aggregates the last
      keeper checkpoint, which already carries every survivor's
      within-core degree;
    - the cap binds: the census restricts the base edges by the last
      keeper and counts degrees, as each round does.

    Scale shape per round — the fourth member of the iterative-graph
    family over the SAME persisted edge artifact: one pass over the
    BASE edges restricted by the latest keeper set (two semi-joins
    under the r8 SIZE GATE: graph_broadcast_hint — broadcast below
    the node-count crossover, shuffle join above it) and one dst-keyed
    degree aggregation (r13: dst, not src — the edge artifact is
    clustered by dst, so the map-side partial compresses each peel's
    exchange from |E| to ~|V| rows; degree-by-dst == degree-by-src on a
    symmetric restricted graph). The keeper (node, degree) is the ONLY
    state carried between rounds — node-sized, localCheckpointed (it
    feeds two joins); keeper nesting lets every round restrict the base
    artifact directly, so the edge-sized stream is never materialized
    and never fans out (the edges-carried-forward form tripled its
    fact-sized lineage per round — a 3^{p} plan explosion, caught and
    killed by plan inspection). Peeling only SHRINKS the keeper, so
    every later round is cheaper than its predecessor, and a round that
    shrinks nothing ends the loop: its size, observed on its checkpoint,
    equals the previous round's."""
    d = _kcore_degree_table(spark, sf_dir, _KCORE_K, _KCORE_PEELS)
    return d.groupBy(F.col("c").alias("core_degree")).agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.when(F.col("src") >= 1_000_000, 1).otherwise(0))
        .cast("long")
        .alias("n_suppliers"),
        F.min("src").alias("min_node"),
    )


_fmt_doc(graph_kcore_census, k=_KCORE_K, p=_KCORE_PEELS)


# ---------------------------------------------------------------------------
# 3. PMI collocations on exact integer arithmetic
# ---------------------------------------------------------------------------

_PMI_MIN_SUPPORT = 5
_PMI_TOP_K = 30


@query(
    "text_collocation_pmi",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, i AS pos, ws[i] AS w
        FROM (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\s+') AS ws
            FROM documents
        ), UNNEST(range(1, len(ws) + 1)) AS t(i)
        WHERE ws[i] <> ''
    ), big AS (
        SELECT w AS w1,
               lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM toks
    ), pair_counts AS (
        SELECT w1, w2, count(*) AS n_pair
        FROM big WHERE w2 IS NOT NULL
        GROUP BY w1, w2
        HAVING count(*) >= {_PMI_MIN_SUPPORT}
    ), uni AS (
        SELECT w, count(*) AS n_uni FROM toks GROUP BY w
    )
    SELECT w1, w2, n_pair,
           (n_pair * 1000000 // ua.n_uni * 1000) // ub.n_uni AS lift_e9
    FROM pair_counts
    JOIN uni ua ON ua.w = w1
    JOIN uni ub ON ub.w = w2
    ORDER BY lift_e9 DESC, n_pair DESC, w1 ASC, w2 ASC
    LIMIT {_PMI_TOP_K}
    """,
)
def text_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{K} adjacent-token collocations by PMI. PMI(a,b) =
    log(P(ab) / (P(a)P(b))) ranks identically to the exact rational
    c_ab / (c_a * c_b) (the corpus totals are constants and log is
    monotone), so the score never computes a transcendental: lift_e9 =
    ((c_ab * 10^6) div c_a * 10^3) div c_b — integer fixed-point at
    ~1e9 scale, REARRANGED so every intermediate stays below 2^63 even
    at 100 TB token counts (the naive c_ab*10^9 div (c_a*c_b) overflows
    the denominator first: two ~10^11 unigram counts multiply past
    2^63). Both engines run the identical truncating-division program
    (`div` / `//` agree on positives), so the doubles-free ranking and
    the final cut hash-match.

    Scale shape: tokenization is one projection; bigrams come from ONE
    lead() window over the (doc_id, pos) grain — one exchange, no
    self-join; pair and unigram counts are map-side-partial
    aggregations; the marginals attach by token equi-join (AQE
    broadcasts the K-bounded pair side after min-support {m}); the
    global top-{K} under a TOTAL order (lift, support, w1, w2) plans as
    TakeOrderedAndProject — per-partition top-K, never a global sort."""
    docs = _t(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.trim(F.col("text")), r"\s+")).alias(
                "pos", "w"
            ),
        )
        .filter(F.col("w") != "")
    )
    big = toks.select(
        F.col("w").alias("w1"),
        F.lead("w").over(
            Window.partitionBy("doc_id").orderBy("pos")
        ).alias("w2"),
    ).filter(F.col("w2").isNotNull())
    pair_counts = (
        big.groupBy("w1", "w2")
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= _PMI_MIN_SUPPORT)
    )
    # vocab-grain table consumed by BOTH marginal joins: materialize once
    # (the multi-consumer invariant) instead of re-tokenizing the corpus
    # per marginal
    uni = toks.groupBy("w").agg(F.count("*").alias("n_uni")).localCheckpoint()
    ua = uni.select(F.col("w").alias("w1"), F.col("n_uni").alias("c_a"))
    ub = uni.select(F.col("w").alias("w2"), F.col("n_uni").alias("c_b"))
    return (
        pair_counts.join(ua, "w1")
        .join(ub, "w2")
        .select(
            "w1",
            "w2",
            "n_pair",
            F.expr(
                "(n_pair * 1000000 div c_a * 1000) div c_b"
            ).alias("lift_e9"),
        )
        .orderBy(
            F.col("lift_e9").desc(),
            F.col("n_pair").desc(),
            F.col("w1").asc(),
            F.col("w2").asc(),
        )
        .limit(_PMI_TOP_K)
    )


_fmt_doc(text_collocation_pmi, K=_PMI_TOP_K, m=_PMI_MIN_SUPPORT)
