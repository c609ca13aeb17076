"""Physical-plan shape assertions: the scale contract.

Each reference hand-optimization (SURVEY.md §4 R1-R9) must be visible in
the Catalyst physical plan of the corresponding query — these tests pin
them so a refactor that silently loses a broadcast or a pushdown fails CI
rather than melting at 100 TB.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from mapreducer_pi_cs4433_spark.plans.inspect import (
    count_exchanges,
    formatted_plan,
    has_broadcast_join,
    pushed_filters,
    scan_read_schemas,
    whole_stage_codegen_ids,
)
from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES

from .conftest import SF_SMOKE


@pytest.fixture(scope="module", autouse=True)
def _spark(spark):
    return spark


def test_task_a_is_narrow_with_pushdown(spark):
    """Task A == map-only job (R3): filter+project must push to the scans
    and the plan must contain no shuffle exchange at all."""
    df = QUERIES["task_a_filter_project"](spark, SF_SMOKE)
    assert count_exchanges(df) == 0
    assert has_broadcast_join(df)  # nation dim rides a broadcast, not a shuffle
    assert any("n_name" in f for f in pushed_filters(df))
    # column pruning: customer scan must not read c_acctbal/c_custkey
    schemas = scan_read_schemas(df)
    assert any(
        "c_name" in s and "c_acctbal" not in s and "c_custkey" not in s
        for s in schemas
    )


def test_task_b_broadcast_join_and_single_shuffle(spark):
    """Task B (R4): the dimension is broadcast (the distributed-cache join),
    and the only shuffle is the pre-join aggregation of the fact side."""
    df = QUERIES["task_b_page_counts"](spark, SF_SMOKE)
    assert has_broadcast_join(df)
    assert count_exchanges(df) == 1
    # partial aggregation (the combiner, R5) present: 2 numbered nodes
    # (formatted plans print each node twice — tree + detail — so bare
    # substring counts are vacuous; count the numbered tree entries)
    assert len(
        re.findall(r"\(\d+\) HashAggregate", formatted_plan(df))
    ) >= 2


def test_task_g_no_driver_roundtrip(spark):
    """Task G: the global-max scalar must ride a broadcast join inside one
    plan (replacing the reference's two jobs + driver readback, C2)."""
    df = QUERIES["task_g_stale_users"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # two aggregations (per-user max + global max), each partial+final
    # = 4 numbered aggregate nodes, still a single submitted plan
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 4


def test_task_h_average_broadcast(spark):
    df = QUERIES["task_h_above_avg"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_wordcount_partial_aggregation(spark):
    """R5: the combiner. Partial + final HashAggregate around one exchange."""
    df = QUERIES["wordcount"](spark, SF_SMOKE)
    assert count_exchanges(df) == 1
    assert len(
        re.findall(r"\(\d+\) HashAggregate", formatted_plan(df))
    ) >= 2


def test_topk_never_global_sorts(spark):
    """The top-10 must plan as TakeOrderedAndProject (per-partition top-k +
    merge), not a global sort of all groups."""
    df = QUERIES["task_b_top10_pages"](spark, SF_SMOKE)
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_queries_stay_in_codegen(spark):
    """Reference-parity queries must keep at least one whole-stage codegen
    span and zero Python row UDFs (BatchEvalPython) in their plans.
    AQE is disabled for the check: under AQE the `*(n)` codegen markers
    only surface in the final (post-execution) plan."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in [
            "task_a_filter_project",
            "task_c_nationality_counts",
            "task_e_activity",
            "task_g_stale_users",
            "wordcount",
        ]:
            df = QUERIES[name](spark, SF_SMOKE)
            plan = formatted_plan(df)
            assert whole_stage_codegen_ids(df), name
            assert "BatchEvalPython" not in plan, name
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_events_scan_prunes_columns(spark):
    """The rollup over events must not read props/event_id from parquet."""
    df = QUERIES["events_hourly_rollup"](spark, SF_SMOKE)
    schemas = scan_read_schemas(df)
    assert schemas and all("props" not in s and "event_id" not in s for s in schemas)


def test_exact_dedup_single_shuffle(spark):
    df = QUERIES["dedup_exact"](spark, SF_SMOKE)
    assert count_exchanges(df) == 1


def test_sessionize_single_shuffle(spark):
    """Both window specs (LAG boundary-flag, running-sum numbering) and the
    final per-session groupBy must share ONE user_id exchange: the windows
    ride a single sort, and grouping on (user_id, session_idx) is satisfied
    by the existing user_id hash partitioning."""
    df = QUERIES["sessionize_events"](spark, SF_SMOKE)
    assert count_exchanges(df) == 1


def test_text_repetition_single_shuffle(spark):
    """Token posexplode -> LEAD 3-grams -> per-doc dedup ratios must stay
    on ONE doc_id exchange: collect_set (not countDistinct) keeps the
    aggregate Expand-free so it reuses the window's partitioning."""
    df = QUERIES["text_repetition"](spark, SF_SMOKE)
    assert count_exchanges(df) == 1


def test_join_strategy_hints_are_honored(spark):
    """The three join-strategy hints must each produce their physical join:
    broadcast -> BroadcastHashJoin, merge -> SortMergeJoin, shuffle_hash ->
    ShuffledHashJoin. At 100 TB these are the manual overrides when stats
    mislead the optimizer (a 'small' side that isn't, or a build side that
    fits memory when AQE's estimate says otherwise)."""
    from mapreducer_pi_cs4433_spark.plans.inspect import formatted_plan
    from mapreducer_pi_cs4433_spark.sources.loaders import load_table

    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey")
    orders = load_table(spark, SF_SMOKE, "orders").select("o_orderkey")
    cond = li["l_orderkey"] == orders["o_orderkey"]
    for hint, node in [
        ("broadcast", "BroadcastHashJoin"),
        ("merge", "SortMergeJoin"),
        ("shuffle_hash", "ShuffledHashJoin"),
    ]:
        plan = formatted_plan(li.join(orders.hint(hint), cond))
        assert node in plan, (hint, plan[:500])


def test_no_interpreted_hofs_or_row_udfs_anywhere(spark):
    """Suite-wide round-2 invariant: NO catalog query may contain an array
    higher-order function (visible as `lambdafunction` in the plan — they
    execute as interpreted CodegenFallback at ~14 µs/element) or a row-wise
    Python UDF (BatchEvalPython). Arrow-batched pandas UDFs
    (ArrowEvalPython) are the one sanctioned Python boundary."""
    for name, fn in sorted(QUERIES.items()):
        if name == "pi_estimate":
            continue  # RDD workload, no SQL plan to inspect
        plan = formatted_plan(fn(spark, SF_SMOKE))
        assert "lambdafunction" not in plan, f"{name}: interpreted HOF in plan"
        assert "BatchEvalPython" not in plan, f"{name}: row-wise Python UDF"


def test_vector_kernels_are_arrow_batched(spark):
    """The similarity/near-dup paths must run their vector math through
    ArrowEvalPython (pandas UDF batches), and brute-force top-k must still
    plan as TakeOrderedAndProject — no global sort, no shuffle of vectors."""
    bf = QUERIES["similarity_topk_bruteforce"](spark, SF_SMOKE)
    plan = formatted_plan(bf)
    assert "ArrowEvalPython" in plan
    assert "TakeOrderedAndProject" in plan
    nd = QUERIES["dedup_embedding_neardup"](spark, SF_SMOKE)
    assert "ArrowEvalPython" in formatted_plan(nd)


def test_text_queries_stay_narrow(spark):
    """Per-document text analyses are scalar-expression-only: zero shuffles
    (the plan is scan -> project), nothing but the parquet scan to pay for
    at 100 TB."""
    for name in ("text_token_stats", "text_quality", "text_language_id"):
        df = QUERIES[name](spark, SF_SMOKE)
        assert count_exchanges(df) == 0, name


def test_filter_pushdown_reaches_parquet(spark):
    """P1-style constant filters must appear in PushedFilters on the scan."""
    from mapreducer_pi_cs4433_spark.sources.loaders import load_table

    df = load_table(spark, SF_SMOKE, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_custkey")
    assert any("o_orderstatus" in f for f in pushed_filters(df))
    assert any(
        "o_custkey" in s and "o_totalprice" not in s for s in scan_read_schemas(df)
    )


def test_profit_query_broadcasts_dims_single_big_shuffle_join(spark):
    """Q9-shape: all three dimensions (part, supplier, nation) must ride
    broadcasts; the only shuffle-side join is lineitem-orders; the p_type
    filter must push into the part scan so lineitem shrinks ~6x before the
    big shuffle."""
    df = QUERIES["olap_profit_by_nation_year"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    # 3 explicit dim broadcasts (at smoke scale AQE may broadcast the
    # orders side of the big join too — that one is allowed either way)
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1
    assert any("p_type" in f for f in pushed_filters(df))
    # lineitem scan pruned to the 5 needed columns
    schemas = scan_read_schemas(df)
    assert any(
        "l_partkey" in s and "l_quantity" not in s and "l_tax" not in s
        for s in schemas
    )


def test_monthly_growth_window_runs_over_aggregated_rows(spark):
    """The LAG window must sit above the month aggregate (window input is
    |months| rows, not the fact table): plan order is scan -> partial agg ->
    exchange -> final agg -> window, with no window below the aggregate."""
    df = QUERIES["window_monthly_growth"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    # the tree section prints root-first: the Window node must sit ABOVE
    # the aggregate (earlier in the string), i.e. it consumes the
    # aggregated months, not the fact rows
    assert plan.index("Window") < plan.index("HashAggregate")
    assert plan.count("+- Window") == 1


def test_pack_sequences_window_is_partitioned(spark):
    """The packing window must partition by source — a global unpartitioned
    window forces every row through ONE partition, the classic scale
    killer. The plan must show the window exchange hash-partitioning on
    source, never a SinglePartition exchange, and the window input must be
    the slim (source, doc_id, n_tokens) projection, not text."""
    df = QUERIES["pack_sequences"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "Window" in plan
    assert "SinglePartition" not in plan
    assert "hashpartitioning(source" in plan
    # text never reaches the window: only the scan projects it
    schemas = scan_read_schemas(df)
    assert any("text" in s for s in schemas)  # token_count reads it at scan
    window_section = plan[plan.index("Window"):]
    assert "text#" not in window_section.split("Project")[0]


def test_retention_joins_after_per_user_reduction(spark):
    """The cohort join must run over per-user reductions (first-seen agg
    and distinct (user, week)) — never raw events on either side; both
    sides shuffle on user_id so the join itself adds no third exchange of
    event-sized data."""
    df = QUERIES["events_user_retention"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    # aggregation appears below the join on both inputs:
    # partial+final per side = 4 numbered nodes minimum (measured 6)
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 4


def test_lsh_entries_never_rescan_the_corpus(spark):
    """The artifact-backed LSH entries must serve shingle/signature work
    from the persisted index tables: their final plans contain ZERO scans
    of documents.parquet (pipeline_clean_corpus additionally materializes
    its gate+semi-join subtree, so even the gates don't re-scan), while
    dedup_keeper_selection reads the corpus exactly once (token counts).
    This pins both the r3 artifact lifecycle and the r2 subtree-reuse fix."""
    for name, n_docs_scans in (
        ("dedup_ngram_jaccard", 0),
        ("dedup_minhash_lsh", 0),
        ("pipeline_clean_corpus", 0),
        ("dedup_keeper_selection", 1),
        # verified-pair/component artifacts: clusters is one scan of
        # the component artifact, rate reads docs once (source dim)
        ("dedup_clusters", 0),
        ("neardup_rate_by_source", 1),
    ):
        plan = formatted_plan(QUERIES[name](spark, SF_SMOKE))
        assert plan.count("documents.parquet") == n_docs_scans, name


def test_ivf_probe_prunes_index_partitions(spark):
    """The persisted IVF index is partitioned by bucket, and a probe's
    bucket filter must reach the scan as PartitionFilters — the physical
    mechanism that makes a probe touch only its Hamming ball's fraction of
    a 100 TB index at the source. Asserted on an h=1 probe (5 of 16
    buckets), independent of the catalog entry's corpus-tuned probe
    width."""
    import re

    from mapreducer_pi_cs4433_spark.functions import similarity
    from mapreducer_pi_cs4433_spark.sources.loaders import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = similarity.ensure_ivf_index(spark, emb, SF_SMOKE, planes=4)
    qv = [float(x) for x in emb.filter("vec_id = 0").head().embedding]
    probe = similarity.ivf_topk(idx, qv, k=10, planes=4, probe_hamming=1)
    plan = formatted_plan(probe)
    m = re.search(r"PartitionFilters: \[([^\]]*)", plan)
    assert m and "bucket" in m.group(1), "bucket filter did not prune partitions"
    # h=1 ball of 4 planes = 5 buckets listed in the pruning predicate
    assert len(re.findall(r"\d+", m.group(1).split("IN")[-1])) == 5


def test_ivfpq_probe_prunes_code_partitions(spark):
    """The IVF-PQ inverted-list table (ensure_ivfpq_codes, partitioned by
    bucket) must serve a probed multi-query scan with the union-of-balls
    filter as PartitionFilters — the compound claim behind the composite
    entry: probed fraction at the source, 8-byte codes in the surviving
    scan."""
    import re

    from mapreducer_pi_cs4433_spark.functions import similarity
    from mapreducer_pi_cs4433_spark.sources.loaders import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    books, _ = similarity.ensure_pq_artifacts(
        spark, emb, SF_SMOKE, m=8, k=256, sample_rows=5000
    )
    enc = similarity.ensure_ivfpq_codes(
        spark, emb, SF_SMOKE, m=8, k=256, sample_rows=5000, planes=4
    )
    qv = [float(x) for x in emb.filter("vec_id = 0").head().embedding]
    probes = [
        similarity.hamming_ball(similarity.query_bucket(qv, 4), 4, 1)
    ]
    res = similarity.pq_topk_multi(
        enc, books, [(0, qv)], k=10, bucket_probes=probes
    )
    plan = formatted_plan(res)
    m = re.search(r"PartitionFilters: \[([^\]]*)", plan)
    assert m and "bucket" in m.group(1), "bucket filter did not prune partitions"
    assert len(re.findall(r"\d+", m.group(1).split("IN")[-1])) == 5


def test_kmeans_centroids_broadcast_not_shuffled(spark):
    """Every Lloyd iteration must join the k x 64 centroid table onto the
    component stream as a BROADCAST — a shuffled centroid join would move
    the data-sized side per iteration. Two iterations => at least 2
    broadcast exchanges of centroid aggregates; the data-sized exchanges
    are the distance/recompute partial aggregations only, and no
    interpreted Python appears anywhere."""
    df = QUERIES["embedding_kmeans_step"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert plan.count("BroadcastExchange") >= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sole_late_suppliers_reuses_copartitioned_exchange(spark):
    """Q21's decorrelation: per-(order,supplier) lateness and the
    per-order rollup group on the same leading key, and the join back is
    on that key — the pair-level exchange must be planned ONCE and reused
    (ReusedExchange), not recomputed for both consumers."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")  # static plan shows reuse
    try:
        df = QUERIES["olap_sole_late_suppliers"](spark, SF_SMOKE)
        plan = formatted_plan(df)
        assert "ReusedExchange" in plan
        assert has_broadcast_join(df)  # supplier dimension broadcasts
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_zorder_stats_single_exchange_pure_codegen(spark):
    """The Morton interleave is 2*bits int64 shift/mask/or terms: it must
    stay inside whole-stage codegen (no UDF, no expand), and the whole
    report is one partial-aggregated shuffle on the bucket key."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")  # codegen ids static
    try:
        df = QUERIES["layout_zorder_stats"](spark, SF_SMOKE)
        plan = formatted_plan(df)
        assert count_exchanges(df) == 1
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert len(whole_stage_codegen_ids(df)) >= 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_quantile_family_sorts_grain_not_facts(spark):
    """r5 grain discipline: the order-statistic family (MAD, discrete
    quartiles, the quantile rank-band contract) must never sort the raw
    event stream — ranks come from cumulative-count windows over the
    (type, value, count) aggregate, whose size is bounded by value
    cardinality at any corpus scale. A regression back to
    row_number-over-facts reintroduces a fact-sized per-type sort."""
    import re as _re

    for name in [
        "events_anomaly_mad",
        "events_value_quartiles_disc",
        "events_value_quantiles",
    ]:
        plan = formatted_plan(QUERIES[name](spark, SF_SMOKE))
        assert "row_number" not in plan, name
        # the cum/n windows aggregate the grain's count column
        assert _re.search(r"sum\(c#", plan), name


def test_anomaly_mad_broadcasts_tiny_stats(spark):
    """The per-type median/MAD tables are |event types| rows: both must
    ride broadcast joins back onto the event stream — shuffling the fact
    side three times would be the naive plan."""
    df = QUERIES["events_anomaly_mad"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert plan.count("BroadcastExchange") >= 2


def test_medoid_is_grouped_map_single_exchange(spark):
    """The medoid operator is the suite's batch grouped-map entry: one
    label-keyed exchange into FlatMapGroupsInPandas (Arrow batch per
    group), nothing else — per-group numpy is sanctioned here precisely
    because group size is bounded by construction."""
    df = QUERIES["embedding_medoid_per_label"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "FlatMapGroupsInPandas" in plan
    assert count_exchanges(df) == 1


def test_bm25_takeordered_single_corpus_pass(spark):
    """BM25 top-k: corpus stats ride a 1-row broadcast back onto the tf
    table (no driver readback), scoring is scalar codegen, and the top-k
    is TakeOrderedAndProject — never a global sort."""
    df = QUERIES["search_bm25_topk"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no global sort node
    assert "BatchEvalPython" not in plan and "lambdafunction" not in plan
    # the documents parquet is scanned at most twice (tf pass + stats
    # pass over the same subtree; each scan node prints twice in the
    # formatted plan: tree + detail) — never once per query term
    assert plan.count("Scan parquet") <= 4


def test_triangle_edges_broadcast_after_threshold(spark):
    """Triangle counting: after support thresholding the edge table is
    small — both closing joins must be broadcasts, no shuffled
    fact-to-fact join in the triangle enumeration."""
    df = QUERIES["graph_triangle_count"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_equi_depth_bins_single_sort(spark):
    """Equi-depth binning: exactly one windowed sort (per event_type) and
    the grouped rollup — no second sort, no global window."""
    df = QUERIES["events_equi_depth_bins"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert plan.count("+- Window") == 1  # one Window node in the tree
    assert plan.count("+- Sort") == 1  # its sort, and no other
    # the ntile window partitions by event_type — never a single global
    # partition (which would serialize the corpus through one task)
    assert "hashpartitioning(event_type" in plan
    assert "SinglePartition" not in plan


def test_span_family_reads_shingle_artifact(spark):
    """The substring-span entries serve shingle work from the persisted
    positional-shingle artifact: spans/coverage scan ZERO documents.parquet
    (both self-join sides and the sharing window read the artifact), redact
    reads the corpus exactly once (token re-assembly needs the text). No
    cartesian products anywhere in the family."""
    for name, n_docs_scans in (
        ("dedup_substring_spans", 0),
        ("dedup_span_coverage", 0),
        ("dedup_span_redact", 1),
    ):
        plan = formatted_plan(QUERIES[name](spark, SF_SMOKE))
        assert plan.count("documents.parquet") == n_docs_scans, name
        assert "CartesianProduct" not in plan, name


def test_span_coverage_is_join_free(spark):
    """shared_shingle_coverage must stay the window formulation: a join of
    the corpus-sized shingle stream against its own digest aggregate gets
    broadcast at estimate time and dies at real scale. Pin: no join
    operator at all, and exactly two exchanges (digest window + doc
    aggregate) downstream of the artifact scan."""
    df = QUERIES["dedup_span_coverage"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "Join" not in plan and "BroadcastExchange" not in plan
    assert count_exchanges(df) == 2


def test_q6_pure_pushdown_single_row_agg(spark):
    """Q6 shape: every predicate reaches the parquet scan as a pushed
    filter, no join, and the only exchange is the 1-row final aggregate —
    at 100 TB this query is decided entirely by footer pruning + codegen."""
    df = QUERIES["olap_revenue_forecast_delta"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "Join" not in plan
    assert count_exchanges(df) == 1  # partial agg -> single-partition final
    flat = " ".join(pushed_filters(df))
    assert "l_shipdate" in flat and "l_discount" in flat and "l_quantity" in flat


def test_q8_all_dims_broadcast_single_fact_shuffle(spark):
    """Q8 shape: 8-relation tree where part/supplier/region and both
    nation roles ride broadcasts; shuffles are only lineitem-orders plus
    the year groupBy."""
    df = QUERIES["olap_national_market_share"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 5
    assert count_exchanges(df) <= 3  # two join sides + final groupBy
    # the p_type filter pushes into the part scan, not post-join
    assert any("p_type" in f for f in pushed_filters(df))


def test_q10_topk_is_takeordered(spark):
    """Q10 shape: the LIMIT 20 compiles to TakeOrderedAndProject (never a
    global Sort), and both per-table filters push to their own scans."""
    df = QUERIES["olap_returned_item_customers"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    flat = " ".join(pushed_filters(df))
    assert "l_returnflag" in flat and "o_orderdate" in flat


def test_q2_decorrelated_min_broadcasts(spark):
    """Q2 shape: the per-part min re-attaches via broadcast joins (hand
    decorrelation), so the supply relation is aggregated exactly once per
    branch and never cross-joined; the p_size part filter pushes BELOW the
    supply aggregation as a broadcast LEFT SEMI (per-part MIN commutes
    with restricting the part set)."""
    df = QUERIES["olap_min_cost_supplier"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan


def test_q20_share_test_stays_integer_decimal(spark):
    """Q20 shape: the quantity-share comparison is decimal multiplication
    (no division anywhere in the plan), and the part-name prefix filter
    pushes down as a StringStartsWith."""
    df = QUERIES["olap_dominant_part_suppliers"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "divide" not in plan.lower()
    assert any("StringStartsWith" in f or "p_name" in f for f in pushed_filters(df))
    assert "LeftSemi" in plan  # 'red%' restriction lands BELOW both aggs


def test_chunk_windows_is_narrow(spark):
    """RAG chunking must stay scan -> project -> generate -> project: zero
    exchanges, zero Python — at 100 TB the chunker's cost is exactly one
    corpus read."""
    df = QUERIES["text_chunk_windows"](spark, SF_SMOKE)
    assert count_exchanges(df) == 0
    assert "BatchEvalPython" not in formatted_plan(df)


def test_gap_fill_scans_events_once(spark):
    """The hour spine and the left join must both derive from the
    MATERIALIZED (type, hour) aggregate (ReuseExchange verifiably does not
    fire across the two consumers) — zero parquet scans in the live plan,
    so the raw events shuffle runs exactly once."""
    df = QUERIES["events_gap_fill"](spark, SF_SMOKE)
    assert formatted_plan(df).count("Scan parquet") == 0


def test_new_users_scans_events_once(spark):
    # one physical scan; each scan node prints twice (tree + detail)
    df = QUERIES["events_new_users_daily"](spark, SF_SMOKE)
    assert formatted_plan(df).count("Scan parquet") == 2


def test_fuzzy_er_blocks_instead_of_cartesian(spark):
    """Blocked fuzzy matching must plan as an equi hash join on the block
    key; an unblocked fuzzy join would be a cartesian
    (BroadcastNestedLoopJoin) over the dimension."""
    plan = formatted_plan(QUERIES["er_fuzzy_name_pairs"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mixture_budget_single_exchange(spark):
    """Per-source budget fill is one shuffle (the partitionBy-source
    window); token counting and the hash key are narrow projections."""
    df = QUERIES["mixture_token_budget_fill"](spark, SF_SMOKE)
    assert count_exchanges(df) == 1


def test_ngram_novelty_materializes_grams_once(spark):
    """The distinct gram table feeds both the df count and the join probe;
    the localCheckpoint must collapse them onto ONE materialized subtree
    (zero parquet re-scans, one Generate at most in the live plan)."""
    plan = formatted_plan(QUERIES["text_ngram_novelty"](spark, SF_SMOKE))
    assert plan.count("Scan parquet") == 0  # grams checkpointed
    assert plan.count("Generate") == 0


def test_dim_stats_single_exchange(spark):
    """Per-dimension stats: posexplode then ONE partial-aggregated shuffle
    keyed by dim — arrays never cross the exchange."""
    df = QUERIES["embedding_dim_stats"](spark, SF_SMOKE)
    assert count_exchanges(df) == 1


def test_weighted_sample_prunes_payload(spark):
    """Weighted sampling must never read document text: the scan schema is
    exactly (doc_id, source, n_chars) and the plan is scan -> project ->
    filter with zero exchanges. Another test's .cache() of the documents
    table would swap the scan for an InMemoryRelation whose embedded plan
    reads every column — clear the cache so we assert the query's own
    pruning, not cross-test cache state."""
    spark.catalog.clearCache()
    df = QUERIES["sample_quality_weighted"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert count_exchanges(df) == 0
    assert "text" not in "".join(
        l for l in plan.splitlines() if "ReadSchema" in l
    )


def test_decayed_scores_scan_events_once(spark):
    """The (type, day) aggregate is materialized — zero parquet scans in
    the live plan, so the events scan + shuffle runs once."""
    df = QUERIES["events_decayed_type_scores"](spark, SF_SMOKE)
    assert formatted_plan(df).count("Scan parquet") == 0


def test_windowed_funnel_scans_each_stage_once(spark):
    """Stage aggregates are materialized: the live plan reads only the
    purchase-stage scan (1 physical scan; scan nodes print twice), not
    the re-executed view/click lineage."""
    df = QUERIES["events_funnel_windowed"](spark, SF_SMOKE)
    assert formatted_plan(df).count("Scan parquet") == 2


# ---------------------------------------------------------------------------
# r6 second wave: incremental/CDC band + sketches + temperature mixture
# ---------------------------------------------------------------------------


def test_cdc_latest_state_is_one_agg_no_sort(spark):
    """Log compaction must be the max(struct) aggregate form — ONE
    map-side-combined exchange and NO window/sort. A refactor back to
    row_number()=1 would globally sort the change log (the shape that
    melts on a 100 TB log)."""
    df = QUERIES["cdc_latest_state"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert count_exchanges(df) == 1
    assert "Window" not in plan
    # max(struct) is sort-based, not hash-based — but still partial+final
    # around the one exchange (the map-side combine the docstring claims)
    assert len(
        re.findall(r"\(\d+\) (?:Sort|Hash)Aggregate", plan)
    ) >= 2
    assert "partial_max" in plan


def test_scd2_single_entity_exchange(spark):
    """Gaps-and-islands: the lag/run-sum windows, the run collapse, and
    the lead() window are all keyed by (or prefixed by) user_id — the
    whole history must build in ONE exchange."""
    df = QUERIES["scd2_user_type_history"](spark, SF_SMOKE)
    assert count_exchanges(df) == 1


def test_merge_upsert_is_full_outer_smj(spark):
    """MERGE apply is ONE full-outer sort-merge join — never a union of
    three filtered joins (which would scan/shuffle each side thrice)."""
    plan = formatted_plan(QUERIES["merge_upsert_customer_balance"](spark, SF_SMOKE))
    assert "SortMergeJoin FullOuter" in plan
    assert plan.count("SortMergeJoin FullOuter") <= 2  # printed tree + detail
    assert "CartesianProduct" not in plan


def test_snapshot_diff_prunes_to_key_and_payload(spark):
    """The snapshot diff must read only (o_orderkey, o_totalprice) from
    each side — a diff that drags full rows through the full-outer join
    echoes the table instead of the delta."""
    df = QUERIES["snapshot_diff_orders"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "SortMergeJoin FullOuter" in plan
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "o_custkey" not in line and "o_comment" not in line


def test_cms_runs_on_key_grain_only(spark):
    """The CMS estimate plan must contain ZERO parquet scans: the single
    full-data pass happened at the keyed localCheckpoint; sketch build,
    estimate join, and truth join all run on key-cardinality data, with
    the d*w sketch table broadcast."""
    df = QUERIES["events_cms_heavy_hitters"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert plan.count("Scan parquet") == 0
    assert has_broadcast_join(df)


def test_bloom_prune_scans_fact_once(spark):
    """Bloom semi-join pruning: the fact table appears exactly once in the
    live plan (the probe stream); filter build and per-key verdicts ride
    the checkpointed key-grain table, and both enrichment joins broadcast."""
    df = QUERIES["join_bloom_prune_stats"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert plan.count("events.parquet") == 1
    assert has_broadcast_join(df)
    assert "SortMergeJoin" not in plan  # fact enrichment must not shuffle


def test_temperature_quota_rides_one_row_broadcast(spark):
    """The over-all-strata sums join back as a 1-row broadcast (cross
    join), never a single-partition window over stratum rows."""
    df = QUERIES["mixture_temperature_quota"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan


# ---------------------------------------------------------------------------
# r6 third wave: IVM state merges + the constraint census
# ---------------------------------------------------------------------------


def test_ivm_merge_adds_zero_shuffles(spark):
    """Both partial states hash-partition on exactly the merge keys, so
    the full-outer state join must reuse the aggregation exchanges: 2
    exchanges total (one per state), none for the join."""
    df = QUERIES["ivm_status_year_revenue_merge"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert count_exchanges(df) == 2
    assert "SortMergeJoin FullOuter" in plan


def test_ivm_retraction_is_pure_aggregation(spark):
    """Retraction apply is union + re-aggregate — no join anywhere, and
    the negated delta state rides the same partial-agg pattern."""
    df = QUERIES["ivm_retraction_merge"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "Join" not in plan
    assert count_exchanges(df) <= 3


def test_dq_census_pass_economy(spark):
    """Eight constraints, three passes: each table is scanned exactly
    twice (its own aggregate pass + the shared FK/temporal join pass) and
    the long-format pivot never re-consumes an aggregate subtree."""
    df = QUERIES["dq_constraint_census"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert plan.count("orders.parquet") == 2
    assert plan.count("lineitem.parquet") == 2


def test_scd2_point_in_time_is_joinless(spark):
    """The AS-OF lookup against the SCD2 history must plan as union +
    window, never an interval join: zero join nodes, two exchanges total
    (the history build, the as-of union), two scans (history + probes)."""
    df = QUERIES["scd2_point_in_time_state"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert count_exchanges(df) == 2
    for node in ("SortMergeJoin", "BroadcastHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in plan
    assert plan.count("events.parquet") == 2


def test_transition_matrix_single_fact_pass(spark):
    """The lag window is the one full-data pass; the checkpointed
    |types|^2 matrix feeds both the output and the 1-row total, so the
    live plan re-reads nothing."""
    df = QUERIES["events_type_transitions"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert plan.count(".parquet") == 0  # matrix checkpointed post-window
    assert "BroadcastNestedLoopJoin" in plan  # 1-row total broadcast


def test_kmv_sketch_builder_uses_takeordered(spark):
    """k-minimum-values must plan as TakeOrderedAndProject over the
    distinct-key table (per-partition top-k + merge), never a global
    sort. Asserted on the builder plan — the catalog entry checkpoints
    it, so its live plan is fully reduced."""
    from mapreducer_pi_cs4433_spark.sources.loaders import load_table

    orders = load_table(spark, SF_SMOKE, "orders")
    keys = (
        orders.filter(F.year("o_orderdate") == 1996)
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("kmv|"), F.col("k").cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    sk = keys.select(h.alias("h")).orderBy("h").limit(64)
    plan = formatted_plan(sk)
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0]


def test_cep_single_entity_exchange(spark):
    """The sequence build (ordered-frame collect_list), the per-user
    collapse, and the regex counts all ride ONE user_id exchange; the
    regex evaluation stays in whole-stage codegen (no Python boundary)."""
    df = QUERIES["events_pattern_cep"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert count_exchanges(df) == 1
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_pareto_frontier_grain_window_broadcast_back(spark):
    """The skyline must plan as: grain aggregation (one fact shuffle),
    the prefix-min window on the tiny single-partition grain table, and a
    BROADCAST back-join — never a quadratic NOT-EXISTS self-join (no
    nested-loop / cartesian nodes)."""
    df = QUERIES["orders_pareto_frontier"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert has_broadcast_join(df)
    assert count_exchanges(df) == 2  # grain agg + single-partition window
    for node in ("BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in plan


def test_compaction_plan_two_exchanges_one_scan(spark):
    """File inventory (one corpus shuffle), per-source planning window
    (one source shuffle); the final (source, bin) aggregate must REUSE
    the window's source partitioning — no third exchange, one scan."""
    df = QUERIES["shards_compaction_plan"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert count_exchanges(df) == 2
    assert plan.count("documents.parquet") == 1


def test_vocab_coverage_token_grain_checkpointed(spark):
    """The (source, token) grain feeds both the vocab ranking and the
    coverage join — it must be checkpointed (zero parquet scans in the
    live plan) and the K-row vocab must probe via broadcast."""
    df = QUERIES["text_vocab_coverage"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert plan.count(".parquet") == 0
    assert has_broadcast_join(df)
    # the global vocab rank must NOT materialize a full sort of the token
    # grain: Catalyst pushes the rank<=K filter into TakeOrderedAndProject
    # (per-partition top-K + merge of K), so the single-partition window
    # sees exactly K rows — the property that keeps a billion-token vocab
    # rank from becoming a one-machine sort at 100 TB
    assert "TakeOrderedAndProject" in plan


def test_scd2_asof_diff_single_run_build(spark):
    """Both probes consume the CHECKPOINTED run table and both broadcasts
    the CHECKPOINTED 1-row watermark — the live plan touches no parquet
    at all (each events pass ran exactly once at build) and contains no
    real cartesian."""
    df = QUERIES["scd2_asof_diff"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert plan.count(".parquet") == 0
    assert "CartesianProduct" not in plan


def test_late_arrival_census_one_entity_exchange(spark):
    """Running-max window on user_id + the |types x bands| census: two
    exchanges, one scan, all-codegen (no Python boundary)."""
    df = QUERIES["events_late_arrival_census"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert count_exchanges(df) == 2
    assert plan.count("events.parquet") == 1
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_pc1_power_iter_gram_checkpointed(spark):
    """The Gram table is the only corpus-sized artifact and feeds three
    consumers — the live plan must start from its checkpoint (zero
    parquet scans, zero Python nodes: the numpy GEMM ran at build) and
    the d-row vectors must join via broadcast."""
    df = QUERIES["embedding_pc1_power_iter"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert plan.count(".parquet") == 0
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert has_broadcast_join(df)


def test_grouping_sets_expand_before_shuffle(spark):
    """The asymmetric set list must plan as ONE Expand + ONE aggregation
    exchange (partial agg applies per set), with both dimensions riding
    broadcast joins."""
    df = QUERIES["olap_grouping_sets_margins"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "Expand" in plan
    assert count_exchanges(df) == 1
    assert has_broadcast_join(df)


def test_lpa_labels_broadcast_onto_edges(spark):
    """Each LPA iteration must broadcast the node-sized label table onto
    the edge artifact (edges never shuffle for the join) and run on ONE
    vnode-keyed exchange: the raw vote stream repartitions on vnode and
    hash(vnode) satisfies the clustering requirement of both the
    (vnode, label) count and the per-node max_by pick, so they share the
    stage (r13 — the r12 two-exchange shape shuffled the partial vote
    counts AND the pick candidates, ~2x the bytes in early iterations
    where labels are near-distinct per neighbor and partials compress
    nothing); no Window node, no cartesian/nested-loop; both unrolled
    iterations live in one plan (<= 4 exchanges: one per iteration +
    final census, vs 6 before)."""
    df = QUERIES["graph_label_propagation"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert has_broadcast_join(df)
    assert "max_by" in plan
    assert "WindowGroupLimit" not in plan and "Window (" not in plan
    assert count_exchanges(df) <= 4
    for node in ("BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in plan


def test_item_similarity_topk_wgl_and_broadcast_marginals(spark):
    """The per-item top-k must plan as WindowGroupLimit (partial top-k
    before the item shuffle, never a global sort) and both count
    marginals must ride broadcast; the basket table comes from the
    persisted artifact (no raw fact scans in the live plan)."""
    df = QUERIES["item_similarity_topk"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "WindowGroupLimit" in plan
    assert has_broadcast_join(df)
    assert plan.count("lineitem.parquet") == 0  # artifact, not raw facts


def test_hybrid_rrf_legs_are_takeordered_not_global_sorts(spark):
    """Each fusion leg must cut to its top-N via TakeOrderedAndProject
    (partial per-partition top-k) BEFORE any rank window touches it —
    never a corpus-wide Sort — and the final fused cut is a third
    TakeOrdered; the BM25 corpus stats ride the 1-row broadcast
    crossJoin idiom (the only nested-loop join allowed)."""
    df = QUERIES["search_hybrid_rrf"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert plan.count("TakeOrderedAndProject") >= 3
    assert "CartesianProduct" not in plan
    # the semantic scorer is ONE Python pass: a scalar struct UDF
    # referenced by both a Filter and a Project would double it
    # (formatted explain prints each node twice: tree + detail header)
    import re

    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1
    assert "ArrowEvalPython" not in plan


def test_mmr_is_one_corpus_pass_plus_constant_work(spark):
    """The MMR plan must scan the checkpointed candidate pool (one
    corpus-sized TakeOrdered happened at checkpoint time), never the raw
    embeddings parquet, and every selection step is constant-bounded:
    no SortMergeJoin anywhere (all joins are K-row broadcasts)."""
    df = QUERIES["search_mmr_rerank"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert plan.count("embeddings.parquet") == 0  # pool is checkpointed
    assert "SortMergeJoin" not in plan
    # r13: the pair-cosine stage is relational (posexplode + exact int64
    # sums) — the pandas-UDF form paid 8 Python-worker stages for <= 20
    # rows each; the live plan must stay Python-free
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_time_to_conversion_is_joinless_forward_asof(spark):
    """The forward as-of must be ONE user_id window over one exchange —
    zero join nodes of any kind, one events scan, census on top."""
    df = QUERIES["events_time_to_conversion"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    for node in ("SortMergeJoin", "BroadcastHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in plan
    assert plan.count("events.parquet") == 1
    assert count_exchanges(df) == 2  # user window + |types| census


def test_attribution_is_joinless_asof(spark):
    """Last-touch attribution must resolve through the as-of union +
    window kernel: ZERO join nodes of any kind, two event scans (touch
    and purchase branches), and the census on top."""
    df = QUERIES["events_attribution_last_touch"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    for node in ("SortMergeJoin", "BroadcastHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in plan
    assert plan.count("events.parquet") == 2


def test_graph_broadcast_gate_modes(spark, monkeypatch):
    """The iterative-graph family's per-iteration node-table join is
    SIZE-GATED (r8): below the cap the broadcast hint is FORCED — it
    must survive auto-broadcast being disabled (that is what a hint is
    for; at bench scale it is the measured-right plan: edges never
    shuffle). Above the cap (cap=0 here) the hint must be ABSENT and the
    join fall back to a shuffle join, because a forced broadcast of a
    corpus-linear node table does not degrade at 100x node counts — it
    OOMs. Both modes, all three family members."""
    from mapreducer_pi_cs4433_spark.queries import extensions

    cap = extensions._GRAPH_BCAST_MAX_NODES
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        # k-core joins in its live plan only when it ends on the cap
        _kcore_peeling(spark, monkeypatch, peels=1)
        for name in (
            "graph_label_propagation",
            "graph_pagerank_suppliers",
            "graph_kcore_census",
        ):
            monkeypatch.setattr(extensions, "_GRAPH_BCAST_MAX_NODES", cap)
            plan = formatted_plan(QUERIES[name](spark, SF_SMOKE))
            assert "BroadcastExchange" in plan, name  # forced below cap
            monkeypatch.setattr(extensions, "_GRAPH_BCAST_MAX_NODES", 0)
            plan = formatted_plan(QUERIES[name](spark, SF_SMOKE))
            assert "BroadcastExchange" not in plan, name  # gate released
            assert (
                "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            ), name  # graceful shuffle-join fallback, not a nested loop
            assert "BroadcastNestedLoopJoin" not in plan, name
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_prefix_filter_artifact_backed_no_cartesian(spark):
    """Prefix filtering's LIVE plan must read only the persisted
    artifacts (no raw documents scan, and no Window — the rare-first
    per-doc ranking ran once at prefix-index BUILD time) and never
    degrade to a cartesian/nested-loop pair join — the candidate join
    is an equi-join on the token."""
    df = QUERIES["dedup_prefix_filter"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert plan.count("documents.parquet") == 0  # artifacts only
    assert "Window (" not in plan  # ranking amortized into the artifact
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in plan
    assert count_exchanges(df) <= 10


def _kcore_peeling(spark, monkeypatch, peels):
    """Make graph_kcore_census peel the smoke graph, which is already a
    3-core: k one above its minimum degree, at most `peels` rounds. The
    smoke graph then loses nodes in round 1 and reaches its fixpoint in
    round 2, so one round ends on the cap and two end on the fixpoint."""
    from mapreducer_pi_cs4433_spark.functions.artifacts import scan_min
    from mapreducer_pi_cs4433_spark.queries import mining
    from mapreducer_pi_cs4433_spark.queries.extensions import ensure_graph_degree

    low = scan_min(ensure_graph_degree(spark, SF_SMOKE), "d")
    monkeypatch.setattr(mining, "_KCORE_K", low + 1)
    monkeypatch.setattr(mining, "_KCORE_PEELS", peels)


def test_kcore_linear_plan_and_checkpointed_keepers(spark, monkeypatch):
    """The k-core census's LIVE plan, in each of its three forms:
    - already a k-core (the smoke graph at k=3): one aggregate of the
      degree artifact, 1 exchange and no join;
    - peeled to the fixpoint: one aggregate of the last keeper, 1
      exchange and no join;
    - peeled until the cap binds: the final restrict+census only — the
      peeling rounds ran eagerly into node-sized checkpoints (keeper
      nesting restricts the BASE artifact each round). This pins the fix
      for the 3^peels lineage explosion the edges-carried-forward unroll
      produced (730 exchanges at 6 peels): 2 exchanges, 2 size-gated
      semi-joins, bounded node count."""
    df = QUERIES["graph_kcore_census"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert count_exchanges(df) == 1
    assert "Join" not in plan and "pr_graph_sym" not in plan

    _kcore_peeling(spark, monkeypatch, peels=2)
    df = QUERIES["graph_kcore_census"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert count_exchanges(df) == 1
    assert "Join" not in plan and "pr_graph_sym" not in plan

    _kcore_peeling(spark, monkeypatch, peels=1)
    df = QUERIES["graph_kcore_census"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert count_exchanges(df) == 2
    assert has_broadcast_join(df)  # default gate mode at smoke scale
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 2
    assert plan.count("LeftSemi") >= 2
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin", "Window ("):
        assert node not in plan
    # plan-size regression guard: the exploded form printed ~1500 nodes
    assert len(re.findall(r"\(\d+\) ", plan)) < 80


def test_pmi_one_scan_one_window_takeordered(spark):
    """PMI collocations: ONE documents scan (the vocab marginal table is
    checkpointed, not re-tokenized per join side), ONE lead() window on
    the (doc_id, pos) grain, and the global top-K cut planned as
    TakeOrderedAndProject — never a global sort."""
    df = QUERIES["text_collocation_pmi"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert plan.count("documents.parquet") == 1
    assert "TakeOrderedAndProject" in plan
    assert count_exchanges(df) == 2  # window grain + pair-count agg
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_skew_salted_join_and_two_phase_agg(spark):
    """skew_salted_segment_value pins BOTH explicit skew remedies under
    auto-broadcast disabled (the hint-free regime where salting is the
    only de-skew left): the fact-dim join must run on the SALTED
    composite key (a hot user spreads over salt_buckets partitions — so
    `_salt` appears in the join keys and the plan is a shuffle join, not
    a broadcast of the replicated dim), the dim side must carry the
    replicating explode (Generate), and the rollup must show the
    two-level partial-per-(segment,salt) -> final-per-segment
    HashAggregate chain."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["skew_salted_segment_value"](spark, SF_SMOKE)
        plan = formatted_plan(df)
        assert not has_broadcast_join(df)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "_salt" in plan  # the composite join key survived planning
        assert "Generate" in plan and "explode" in plan  # dim replication
        # two-phase aggregation: partial keyed by (segment, salt) then
        # final keyed by segment alone — both levels visible, each
        # partial+final = 4 numbered aggregate nodes
        assert "_gsalt" in plan
        assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 4
        for node in ("CartesianProduct", "BroadcastNestedLoopJoin"):
            assert node not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_dpp_fires_on_partitioned_rollup(spark):
    """layout_partition_pruned_rollup pins DYNAMIC partition pruning: the
    fact artifact is year-partitioned and the calendar-complete-years dim
    side carries a literal selective predicate, so Catalyst must insert a
    dynamicpruning subquery into the fact scan's PartitionFilters —
    incomplete years' directories are never opened. (An
    attribute-vs-attribute threshold does NOT qualify for DPP — measured;
    the query's docstring records it — so this test also guards against a
    refactor silently trading the literal predicate away.)"""
    df = QUERIES["layout_partition_pruned_rollup"](spark, SF_SMOKE)
    plan = formatted_plan(df)  # one rendering serves every assertion
    assert "dynamicpruningexpression" in plan  # in PartitionFilters
    assert "BroadcastHashJoin" in plan  # the year dim rides a broadcast
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in plan


def test_linear_attribution_equi_join_no_cartesian(spark):
    """events_attribution_linear materializes every (purchase, touch)
    pair in the lookback — the plan must do it as an EQUI-join on
    user_id with the time window as a post-join filter (never an
    interval nested-loop/cartesian), one count() window on the purchase
    id, and a partial-aggregated channel census."""
    import re

    df = QUERIES["events_attribution_linear"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )
    assert plan.count("Window") >= 1  # per-purchase touch count
    # partial + final census = >= 2 DISTINCT aggregate nodes; formatted
    # plans print each node twice (tree + detail), so count the numbered
    # tree entries, not the substring (a bare count >= 2 is vacuous)
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 2
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_image_ahash_hashes_once_joins_once(spark):
    """image_ahash_neardup: the synthesized-and-hashed (id, lo, hi) table
    is materialized ONCE (localCheckpoint) — both self-join sides must
    scan the SAME RDD, with no Python eval node left in the pair plan (a
    lost checkpoint would re-synthesize and re-hash the corpus per side)
    — and the only join is the hash-equality pair join (never an
    interval/cartesian shape)."""
    import re

    df = QUERIES["image_ahash_neardup"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert len(re.findall(r"\(\d+\) Scan ExistingRDD", plan)) == 2
    for node in (
        "MapInPandas",
        "ArrowEvalPython",
        "BatchEvalPython",
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
    ):
        assert node not in plan, node
    assert (
        len(
            re.findall(
                r"\(\d+\) (?:BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin)",
                plan,
            )
        )
        == 1
    )


def test_kll_two_phase_build_merge_no_fact_sort(spark):
    """events_quantile_sketch_kll is the structural mergeability demo:
    exactly ONE MapInPandas (per-partition compactor build) feeding
    exactly ONE FlatMapGroupsInPandas (per-type merge) — sketches
    shuffle, never raw values in sorted order — the type-sized rank
    table rides a broadcast join, and the exact quantiles come from the
    grain (no row_number over the fact stream, the quantile-family
    discipline)."""
    import re

    df = QUERIES["events_quantile_sketch_kll"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1
    assert len(re.findall(r"\(\d+\) FlatMapGroupsInPandas", plan)) == 1
    assert "BroadcastHashJoin" in plan
    assert "row_number" not in plan
    assert re.search(r"sum\(c#", plan)  # cum/n windows over the grain


def test_kll_rollup_merges_cells_never_rescans(spark):
    """events_quantile_rollup_kll pins the cube-cell hierarchy, which
    since r11 consumes the PERSISTED day-cell artifact (_kll_day_cells,
    the KLL mirror of the HLL family's r10 migration): the live plan
    carries ZERO MapInPandas (the partial build ran once, at artifact
    build time) and exactly ONE FlatMapGroupsInPandas — the per-type
    merge consuming CELL ITEMS read from parquet — so the coarser grain
    is answered without ANY pass over raw values on the sketch path;
    the only events.parquet scan left is the exact-rank truth pass the
    contract itself requires. Exact ranks still ride the grain: no
    row_number over facts, rank table broadcast."""
    import re

    df = QUERIES["events_quantile_rollup_kll"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 0
    assert len(re.findall(r"\(\d+\) FlatMapGroupsInPandas", plan)) == 1
    assert "kll_day_cells" in plan  # sketch path reads the artifact
    # exactly ONE scan node reads events.parquet (the rank truth pass)
    ev_scans = [
        b
        for b in plan.split("\n\n")
        if re.match(r"\(\d+\) Scan parquet", b) and "events.parquet" in b
    ]
    assert len(ev_scans) == 1, len(ev_scans)
    assert "BroadcastHashJoin" in plan
    assert "row_number" not in plan
    assert re.search(r"sum\(c#", plan)


def test_hll_rollup_pure_codegen_no_python(spark):
    """events_distinct_hll_rollup is the sketch family's all-JVM member:
    register math is md5/conv/bin column expressions, so the WHOLE plan
    must carry ZERO Python eval nodes (unlike the KLL pair, whose
    kernels are pandas by necessity). Since the r10 artifact migration
    the cell build is PERSISTED (_hll_day_cells, shared with the
    sliding entry): the live plan reads the register-sized cell table —
    never events.parquet (the exact-truth pass still runs eagerly into
    a localCheckpoint); the 256-slot spine is an explode of a literal
    sequence (no cartesian anywhere), and the per-type summary rides a
    broadcast join onto the register table."""
    df = QUERIES["events_distinct_hll_rollup"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    for node in (
        "MapInPandas",
        "FlatMapGroupsInPandas",
        "ArrowEvalPython",
        "BatchEvalPython",
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
    ):
        assert node not in plan, node
    assert "events.parquet" not in plan  # raw facts never rescanned live
    assert "hll_day_cells" in plan  # the persisted cell artifact
    assert "Generate" in plan  # the literal-sequence register spine
    assert "BroadcastHashJoin" in plan


def test_hll_sliding_reuses_cells_one_live_scan(spark):
    """events_distinct_hll_sliding must answer every overlapping window
    from the PERSISTED day cells (_hll_day_cells, r10 migration): the
    ONLY live scan of events.parquet is the exact-truth pass the
    contract demands (drop it and the sliding answer is register-sized
    end to end). The sketch path's window fan-out explodes the REGISTER
    table read from the artifact; the truth pass deduplicates to
    user-day grain before ITS explode (pinned below: the raw events
    scan feeds an aggregate before any Generate above it — raw event
    rows are never multiplied 7x). Anchors ride broadcast semi-joins,
    zero Python nodes, no cartesian."""
    df = QUERIES["events_distinct_hll_sliding"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    for node in (
        "MapInPandas",
        "FlatMapGroupsInPandas",
        "ArrowEvalPython",
        "BatchEvalPython",
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
        "SortMergeJoin",
    ):
        assert node not in plan, node
    assert "hll_day_cells" in plan  # sketch path reads the artifact
    assert "BroadcastHashJoin" in plan
    assert "Generate" in plan  # the window fan-out explode
    # exactly ONE scan node reads events.parquet (the truth pass): map
    # detail-section node ids whose OWN block's Location is
    # events.parquet (blocks are blank-line delimited — a spanning
    # regex would attribute a later block's Location to an earlier
    # artifact scan)
    import re

    detail_ids = set()
    for block in plan.split("\n\n"):
        m = re.match(r"\((\d+)\) Scan parquet", block)
        if m and "events.parquet" in block:
            detail_ids.add(m.group(1))
    assert len(detail_ids) == 1, detail_ids
    # the truth pass dedups BEFORE its explode: walking up the tree from
    # the events scan, a HashAggregate (the distinct) must appear
    # between it and the Generate above it
    tree = plan.split("\n\n")[0].splitlines()
    (ev_id,) = detail_ids
    scan_i = next(i for i, l in enumerate(tree) if f"({ev_id})" in l)
    gen_i = max(i for i, l in enumerate(tree[:scan_i]) if "Generate" in l)
    assert any(
        "HashAggregate" in l for l in tree[gen_i:scan_i]
    ), "truth pass explodes raw rows (no distinct between scan and Generate)"


def test_ivm_hll_merge_register_sized_and_nonvacuous(spark):
    """ivm_hll_register_merge's live plan runs entirely on checkpointed
    register-sized state (zero parquet scans, zero Python, broadcast
    counter joins only) — and the demo must stay SHARP: n_changed > 0
    at every SF (the cohort split guarantees novel users; a temporal
    split had zero novelty on this corpus and made the merge
    indistinguishable from dropping the delta — the all-zero column
    that caught it is now a pinned guard, the _MUST_EMIT_ROWS
    discipline applied to a contract column)."""
    df = QUERIES["ivm_hll_register_merge"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    for node in (
        "MapInPandas",
        "FlatMapGroupsInPandas",
        "ArrowEvalPython",
        "BatchEvalPython",
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
        "SortMergeJoin",
    ):
        assert node not in plan, node
    assert plan.count("Scan parquet") == 0
    assert "BroadcastHashJoin" in plan
    rows = df.collect()
    assert rows and all(r.n_changed > 0 for r in rows)
    assert all(r.delta_users > 0 for r in rows)
    # changed flags must sum to the per-type counter (internal coherence)
    from collections import Counter

    by_type = Counter()
    for r in rows:
        by_type[r.event_type] += r.changed
    assert all(by_type[r.event_type] == r.n_changed for r in rows)


def test_hll_set_algebra_codegen_merge_no_rescan(spark):
    """orders_hll_set_algebra: the sketch path is all-JVM (md5/conv/bin
    column math — zero Python nodes), both passes (register build,
    exact-truth distinct) land eagerly in localCheckpoints so the LIVE
    plan carries zero parquet scans, the union is computed by merging
    the per-side register tables (a HashAggregate over the checkpointed
    registers — the raw key union is never formed on the sketch path),
    the 256-slot spine is a literal-sequence explode (no cartesian on
    the data path), and the single-row summary reaches the register
    grid via broadcast."""
    df = QUERIES["orders_hll_set_algebra"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    for node in (
        "MapInPandas",
        "FlatMapGroupsInPandas",
        "ArrowEvalPython",
        "BatchEvalPython",
        "CartesianProduct",
        "SortMergeJoin",
    ):
        assert node not in plan, node
    assert plan.count("Scan parquet") == 0
    assert "Generate" in plan  # the literal-sequence register spine
    # the 1-row summary crossJoin plans as a broadcast nested-loop over
    # ONE row (the task_g/h scalar-broadcast pattern) — allowed; what is
    # banned is any such join on the register/data path, which the
    # zero-scan + single-Generate shape above already excludes
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_schema_evolution_reads_artifact_only(spark):
    """source_schema_evolution's LIVE plan reads ONLY the merged
    artifact generations: zero scans of documents.parquet (the builds
    ran eagerly inside ensure_table), one mergeSchema scan whose
    ReadSchema carries the EVOLVED column (quality_score, absent from
    gen 1's files), `gen` as a partition column (directory-derived, so
    partition pruning would apply to a gen predicate), and no
    Python/cartesian anywhere."""
    df = QUERIES["source_schema_evolution"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    for node in (
        "MapInPandas",
        "FlatMapGroupsInPandas",
        "ArrowEvalPython",
        "BatchEvalPython",
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
    ):
        assert node not in plan, node
    assert "documents.parquet" not in plan
    # one scan NODE in the plan tree (the formatted details section
    # repeats the node header, so count the tree segment only)
    assert plan.split("\n\n")[0].count("Scan parquet") == 1
    assert "schema_evo" in plan
    assert "quality_score" in plan  # the evolved column reached the scan
    # gen rides partition metadata, not file bytes
    assert "PartitionFilters" in plan or "gen#" in plan


def test_kmv_set_difference_sample_sized_live_plan(spark):
    """orders_kmv_set_difference: every stage from the distinct key
    tables through the 1-row estimate assembly ran eagerly into
    localCheckpoints (the anti-joins over <= k sample rows execute
    there, all broadcast — asserted on the pre-checkpoint estimate
    subtree), so the LIVE plan is two 1-row projections unioned — zero
    parquet scans, zero Python nodes, nothing data-sized left."""
    df = QUERIES["orders_kmv_set_difference"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    for node in (
        "MapInPandas",
        "FlatMapGroupsInPandas",
        "ArrowEvalPython",
        "BatchEvalPython",
        "CartesianProduct",
        "SortMergeJoin",
        "Scan parquet",
        "Exchange",  # not even a shuffle survives to the live plan
    ):
        assert node not in plan, node


def test_kmv_snapshots_zero_fact_scan(spark):
    """orders_kmv_diff_from_snapshots is the 100 TB consumption claim
    as a plan fact: the LIVE plan (no checkpoints anywhere in this
    entry) reads ONLY the persisted per-year kmv_year_samples artifact
    — orders.parquet appears nowhere — with zero Python nodes and no
    cartesian on any data-sized path (the 1-row theta/estimate
    assemblies ride broadcasts of single-row aggregates, the task_g/h
    scalar pattern)."""
    df = QUERIES["orders_kmv_diff_from_snapshots"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    for node in (
        "MapInPandas",
        "FlatMapGroupsInPandas",
        "ArrowEvalPython",
        "BatchEvalPython",
        "CartesianProduct",
        "SortMergeJoin",
    ):
        assert node not in plan, node
    assert "orders.parquet" not in plan  # the fact table is never read
    assert "kmv_year_samples" in plan  # every scan is the snapshot table
    # every parquet scan node in the tree reads the artifact
    import re

    for block in plan.split("\n\n"):
        if re.match(r"\(\d+\) Scan parquet", block):
            assert "kmv_year_samples" in block, block.splitlines()[0]


def test_hll_snapshots_zero_fact_scan(spark):
    """orders_hll_union_from_snapshots: registers in, registers out —
    the LIVE plan reads ONLY the persisted hll_year_regs artifact
    (orders.parquet appears nowhere), the union is a HashAggregate
    (register-wise max) over the snapshot slices, the 256-slot spine is
    a literal-sequence explode, and the single-row summary reaches the
    grid via broadcast. Zero Python, no cartesian on the data path."""
    df = QUERIES["orders_hll_union_from_snapshots"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    for node in (
        "MapInPandas",
        "FlatMapGroupsInPandas",
        "ArrowEvalPython",
        "BatchEvalPython",
        "CartesianProduct",
        "SortMergeJoin",
    ):
        assert node not in plan, node
    assert "orders.parquet" not in plan
    assert "hll_year_regs" in plan
    assert "Generate" in plan  # the literal-sequence register spine
    assert "HashAggregate" in plan  # the register-wise max merge
    assert "BroadcastHashJoin" in plan
    import re

    for block in plan.split("\n\n"):
        if re.match(r"\(\d+\) Scan parquet", block):
            assert "hll_year_regs" in block, block.splitlines()[0]


def test_kmv_cumulative_snapshots_zero_fact_scan(spark):
    """orders_kmv_cumulative_from_snapshots: the sample-algebra RANGE
    consumer — the LIVE plan reads ONLY the kmv_year_samples artifact
    (orders.parquet nowhere), the prefix expansion is a literal-
    sequence Generate from each hash's first year plus a broadcast
    EQUI-join with the real year set (no non-equi join — the oracle
    pays the triangle, Spark must not), the per-year k-min cut is a
    Window row_number, and the summary rides a broadcast. Zero Python,
    no cartesian, no sort-merge join. (The one BroadcastNestedLoopJoin
    is the 1-ROW max-year aggregate crossing onto the hash table — the
    task_g/h scalar-broadcast pattern, same as the diff entry.)"""
    df = QUERIES["orders_kmv_cumulative_from_snapshots"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    for node in (
        "MapInPandas",
        "FlatMapGroupsInPandas",
        "ArrowEvalPython",
        "BatchEvalPython",
        "CartesianProduct",
        "SortMergeJoin",
    ):
        assert node not in plan, node
    assert "orders.parquet" not in plan
    assert "kmv_year_samples" in plan
    assert "Generate" in plan  # the fy..maxy literal-sequence explode
    assert "Window" in plan  # the per-year k-min cut
    assert "BroadcastHashJoin" in plan
    import re

    for block in plan.split("\n\n"):
        if re.match(r"\(\d+\) Scan parquet", block):
            assert "kmv_year_samples" in block, block.splitlines()[0]


def test_hll_compaction_plan_zero_fact_scan(spark):
    """hll_cells_compaction_plan: the maintenance planner reads ONLY
    the persisted hll_day_cells artifact — raw events.parquet appears
    nowhere, the census is one JVM hash-aggregate pass over cell-sized
    parquet, zero Python nodes, no joins at all."""
    df = QUERIES["hll_cells_compaction_plan"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    for node in (
        "MapInPandas",
        "FlatMapGroupsInPandas",
        "ArrowEvalPython",
        "BatchEvalPython",
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
        "SortMergeJoin",
        "BroadcastHashJoin",
    ):
        assert node not in plan, node
    assert "events.parquet" not in plan
    assert "hll_day_cells" in plan
    assert "HashAggregate" in plan
    import re

    for block in plan.split("\n\n"):
        if re.match(r"\(\d+\) Scan parquet", block):
            assert "hll_day_cells" in block, block.splitlines()[0]


def test_hll_cumulative_snapshots_zero_fact_scan_window_merge(spark):
    """orders_hll_cumulative_from_snapshots: the RANGE consumption of
    the per-year register snapshots — the LIVE plan reads ONLY
    hll_year_regs (orders.parquet nowhere), the running union is a
    window max partitioned by register lane (a Window node, no
    self-join triangle — the oracle pays that; Spark must not), the
    (year x 256) spine is a literal-sequence explode, and the per-year
    summary rides a broadcast join. Zero Python, no cartesian."""
    df = QUERIES["orders_hll_cumulative_from_snapshots"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    for node in (
        "MapInPandas",
        "FlatMapGroupsInPandas",
        "ArrowEvalPython",
        "BatchEvalPython",
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
    ):
        assert node not in plan, node
    assert "orders.parquet" not in plan
    assert "hll_year_regs" in plan
    assert "Window" in plan  # the running register max
    assert "Generate" in plan  # the literal-sequence spine
    assert "BroadcastHashJoin" in plan
    import re

    for block in plan.split("\n\n"):
        if re.match(r"\(\d+\) Scan parquet", block):
            assert "hll_year_regs" in block, block.splitlines()[0]


def test_promo_share_groups_on_truncated_month_single_multiply(spark):
    """r13 pin for olap_promo_revenue_share's per-task-work fix: the
    grouping key must be the month-TRUNCATED timestamp (integer micros
    arithmetic; the per-row 'yyyy-MM' formatter runs only on the
    |months|-sized aggregate output), and the decimal revenue multiply
    must be PROJECTED once per row — the inlined form evaluated the
    beyond-compact-long BigDecimal product twice per row, once inside
    each conditional sum."""
    df = QUERIES["olap_promo_revenue_share"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "date_trunc(month" in plan
    assert count_exchanges(df) == 1
    assert has_broadcast_join(df)
    # the multiply appears in ONE partial-agg block and references the
    # projected attribute, not a re-derived expression per sum: the
    # decimal product pattern must occur exactly once in the partial
    # HashAggregate's detail block
    partials = [b for b in plan.split("\n\n") if "partial_sum" in b]
    assert len(partials) == 1
    assert partials[0].count("* (1") <= 1


def test_kcore_degree_by_dst_equals_degree_by_src(spark):
    """r13 invariant behind the k-core dst-keyed aggregation: the
    symmetrized edge artifact (and any both-endpoint restriction of it)
    yields identical (node, degree) sets grouped by either endpoint —
    the property that made the clustered-layout switch value-safe."""
    from mapreducer_pi_cs4433_spark.queries.extensions import ensure_graph_edges

    sym = ensure_graph_edges(spark, SF_SMOKE)
    by_src = {
        (r[0], r[1])
        for r in sym.groupBy(F.col("src").alias("n"))
        .agg(F.count("*").alias("d"))
        .collect()
    }
    by_dst = {
        (r[0], r[1])
        for r in sym.groupBy(F.col("dst").alias("n"))
        .agg(F.count("*").alias("d"))
        .collect()
    }
    assert by_src == by_dst and by_src


def test_er_fuzzy_thresholded_levenshtein_equals_unbounded(spark):
    """r13 pin for the banded-levenshtein switch: the 3-arg thresholded
    form (dist >= 0 filter; -1 encodes 'past the band') must produce
    the IDENTICAL pair set and edit distances as the unbounded form's
    dist <= max filter, on the real blocked candidate stream."""
    from mapreducer_pi_cs4433_spark.queries.pipeline_ext import _ER_MAX_EDIT

    got = {
        tuple(r)
        for r in QUERIES["er_fuzzy_name_pairs"](spark, SF_SMOKE).collect()
    }
    from mapreducer_pi_cs4433_spark.queries.catalog import _t

    names = (
        _t(spark, SF_SMOKE, "part")
        .groupBy("p_name")
        .agg(F.count("*").alias("n_listings"))
    )
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
    dist = F.levenshtein("name_a", "name_b")  # unbounded reference
    want = {
        tuple(r)
        for r in a.join(F.broadcast(b), "blk")
        .filter((F.col("name_a") < F.col("name_b")) & (dist <= _ER_MAX_EDIT))
        .select(
            "name_a",
            "name_b",
            dist.cast("int").alias("edit_dist"),
            (F.col("listings_a") + F.col("listings_b"))
            .cast("long")
            .alias("pair_listings"),
        )
        .collect()
    }
    assert got == want and got
