"""Round-7 second band: behavioral & graph insight operators.

Four operators that round out the analytics families the engine ships:

- ``graph_label_propagation`` — synchronous label-propagation community
  detection (fixed unrolled iterations, deterministic frequency/min-label
  tie-break) on the persisted co-purchase graph: the THIRD member of the
  iterative-graph family (PageRank = weighted rank, components =
  reachability, LPA = plurality clustering — each a different per-node
  aggregate over the same edge artifact).
- ``item_similarity_topk`` — item-item cosine similarity from basket
  co-occurrence with per-item top-k: the collaborative-filtering batch
  job ("customers who bought X also bought").
- ``events_attribution_last_touch`` — marketing attribution: each
  purchase credits the user's most recent non-purchase touch within the
  lookback window, via the repo's as-of machinery; census per channel.
- ``events_time_to_conversion`` — the FORWARD as-of complement: per
  touch, the time to the user's next purchase; conversion-lag census
  per event type via one descending-ordered window, no join.

Cross-engine determinism per the catalog rules; where doubles appear
(cosine, lift-style ratios) they are SINGLE IEEE operations on exact
integers — bit-identical in both engines — never multi-row float
aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import _fmt_doc, _t, query
from .extensions import (
    ensure_basket_order_brand,
    ensure_graph_degree,
    ensure_graph_edges,
    graph_broadcast_hint,
)

# ---------------------------------------------------------------------------
# 1. Label propagation (community detection)
# ---------------------------------------------------------------------------

_LPA_ITERS = 2


def _lpa_oracle() -> str:
    its = []
    prev = "l0"
    for i in range(1, _LPA_ITERS + 1):
        its.append(
            f"""c{i} AS (
        SELECT s.dst AS node, p.label, count(*) AS n
        FROM sym s JOIN {prev} p ON s.src = p.node
        GROUP BY s.dst, p.label
    ), l{i} AS (
        SELECT node, label FROM (
            SELECT node, label,
                   row_number() OVER (
                       PARTITION BY node ORDER BY n DESC, label ASC
                   ) AS rk
            FROM c{i}
        ) WHERE rk = 1
    )"""
        )
        prev = f"l{i}"
    return f"""
    WITH edges AS (
        SELECT DISTINCT l_partkey AS a, 1000000 + l_suppkey AS b FROM lineitem
    ), sym AS (
        SELECT a AS src, b AS dst FROM edges
        UNION ALL
        SELECT b AS src, a AS dst FROM edges
    ), l0 AS (
        SELECT DISTINCT src AS node, src AS label FROM sym
    ), {', '.join(its)}
    SELECT label AS community,
           count(*) AS n_members,
           CAST(sum(CASE WHEN node >= 1000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_suppliers,
           min(node) AS min_node
    FROM {prev} GROUP BY label
    """


@query("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation over the part-supplier co-purchase
    graph, {I} unrolled iterations: every node starts as its own label
    and each step adopts the PLURALITY label among its neighbors, ties
    broken by the smaller label — the deterministic form of LPA (plain
    LPA breaks ties randomly, which can never hash-match an oracle).
    Output is the community census (size, supplier share, representative
    node id).

    Scale shape per iteration — identical cost profile to the PageRank
    sibling over the SAME persisted edge artifact: the node-sized label
    table broadcasts onto the edge list (edges never shuffle) under the
    SIZE GATE (graph_broadcast_hint: footer-counted node rows vs a
    fixed cap — above it the join stays plain and AQE picks a
    shuffle join, because a forced broadcast of a corpus-linear node
    table does not degrade at 100x, it OOMs), then ONE vnode-keyed
    exchange per iteration feeds BOTH the (vnode, label) vote count and
    the per-node max_by pick — hash(vnode) satisfies both aggregations'
    clustering requirements, so they share the stage (r13; the r12 shape
    exchanged the partial vote counts AND the pick candidates — ~2x the
    bytes in early iterations, where labels are near-distinct per
    neighbor and map-side partials compress nothing).
    max_by(label, struct(n, -label)) selects (count DESC, label ASC) —
    measured faster than the row_number window it replaced. (A
    bit-packed n*K-label plain MAX was timed too — parity with max_by,
    but its K bound breaks for node ids >= 2^24, a real hazard at
    100 TB, so the unbounded struct form ships.)
    Unrolling keeps all {I} iterations in ONE Catalyst plan.
    Labels/nodes are int64; the oracle's row_number SQL selects the
    identical plurality winner — no ordering ambiguity anywhere."""
    sym = ensure_graph_edges(spark, sf_dir)
    deg = ensure_graph_degree(spark, sf_dir)
    # size-gated hint (r8), shared with the PageRank sibling: force the
    # label-table broadcast only while the node count (free from the
    # degree artifact's parquet footers) fits; above the crossover the
    # join is left plain so AQE picks a shuffle join instead of OOMing
    _hint = graph_broadcast_hint(deg)
    # seed from the DEGREE artifact (one row per node, node-sized parquet
    # read) rather than distinct() over the edge list — drops an
    # edge-sized exchange from the plan
    labels = deg.select(F.col("src").alias("node"), F.col("src").alias("label"))
    for _ in range(_LPA_ITERS):
        # r13 (optimization, guide §2.4): ONE exchange per iteration
        # instead of two. The raw vote stream repartitions on vnode
        # alone; hash(vnode) satisfies the clustering requirement of
        # BOTH downstream aggregations (vote count on (vnode, label) —
        # partitioning exprs are a subset of the grouping keys — and the
        # per-node max_by pick), so the count and the pick run in the
        # same stage with no further shuffle. The old shape exchanged
        # the (vnode, label) partial counts AND the per-node pick
        # candidates — ~2x the bytes in early iterations, where labels
        # are near-distinct per neighbor and the map-side partial cannot
        # compress anything. repartition(col) with no explicit count
        # stays AQE-coalescible (scale-adaptive, guide §2). Measured at
        # sf0.1: 1.49 -> 1.27 s warm, 5 -> 3 exchanges, values identical.
        votes = (
            sym.join(_hint(labels), sym["src"] == labels["node"])
            .select(F.col("dst").alias("vnode"), "label")
            .repartition(F.col("vnode"))
            .groupBy("vnode", "label")
            .agg(F.count("*").alias("n"))
        )
        labels = votes.groupBy(F.col("vnode").alias("node")).agg(
            F.max_by(
                "label", F.struct(F.col("n"), (-F.col("label")))
            ).alias("label")
        )
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count("*").alias("n_members"),
        F.sum(F.when(F.col("node") >= 1_000_000, 1).otherwise(0))
        .cast("long")
        .alias("n_suppliers"),
        F.min("node").alias("min_node"),
    )


_fmt_doc(graph_label_propagation, I=_LPA_ITERS)


# ---------------------------------------------------------------------------
# 2. Item-item similarity top-k (collaborative filtering)
# ---------------------------------------------------------------------------

_SIM_K = 3
_SIM_MIN_SUPPORT = 3


@query(
    "item_similarity_topk",
    oracle=f"""
    WITH ob AS (
        SELECT DISTINCT l_orderkey, p_brand
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ), cnt AS (
        SELECT p_brand, count(*) AS n FROM ob GROUP BY p_brand
    ), pairs AS (
        SELECT a.p_brand AS brand, b.p_brand AS other, count(*) AS support
        FROM ob a JOIN ob b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand <> b.p_brand
        GROUP BY 1, 2
    ), scored AS (
        SELECT p.brand, p.other, p.support,
               CAST(p.support AS DOUBLE) / sqrt(CAST(ca.n * cb.n AS DOUBLE))
                   AS cosine
        FROM pairs p
        JOIN cnt ca ON ca.p_brand = p.brand
        JOIN cnt cb ON cb.p_brand = p.other
        WHERE p.support >= {_SIM_MIN_SUPPORT}
    )
    SELECT brand, other, support, cosine, CAST(rk AS BIGINT) AS rank
    FROM (
        SELECT brand, other, support, cosine,
               row_number() OVER (
                   PARTITION BY brand
                   ORDER BY cosine DESC, support DESC, other ASC
               ) AS rk
        FROM scored
    ) WHERE rk <= {_SIM_K}
    """,
)
def item_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: per brand, the top-{k} most
    similar brands by co-occurrence COSINE (support / sqrt(na*nb)) over
    order baskets — the batch job behind every "customers who bought X
    also bought" surface, and the set-similarity complement of
    basket_brand_pairs' lift view.

    The cosine is a SINGLE IEEE double division of exact integers
    (correctly-rounded sqrt and divide on values < 2^53), so both
    engines produce bit-identical doubles and the (cosine DESC, support
    DESC, other ASC) rank can never diverge cross-engine. Scale shape:
    the basket table is the persisted artifact (built once per corpus);
    the pair expansion is per-order and bounded by basket width; the
    marginals broadcast; the per-item top-k is a WindowGroupLimit
    (partial per-partition top-k before the item shuffle), never a
    global sort. min-support {m} prunes the noise floor before ranking."""
    ob = ensure_basket_order_brand(spark, sf_dir)
    # r12 (optimization): the co-occurrence expansion no longer
    # SELF-JOINS the basket table on the order key — one groupBy(order)
    # collapses each basket to its distinct-brand set and the in-row
    # double generator (the basket_brand_pairs r12 shape: posexplode
    # anchor + full explode, self matches filtered — the set is
    # duplicate-free, so `other != brand` drops exactly the diagonal)
    # emits the same directed pairs with the same per-basket |brands|^2
    # bound. The set table also serves the brand marginals, so ONE
    # order-keyed exchange feeds both consumers (checkpointed).
    baskets = (
        ob.groupBy("l_orderkey")
        .agg(F.collect_set("p_brand").alias("bs"))
        .select("bs")
        .localCheckpoint()
    )
    cnt = (
        baskets.select(F.explode("bs").alias("p_brand"))
        .groupBy("p_brand")
        .agg(F.count("*").alias("n"))
    )
    pairs = (
        baskets.select(F.explode("bs").alias("brand"), "bs")
        .select("brand", F.explode("bs").alias("other"))
        .filter(F.col("brand") != F.col("other"))
        .groupBy("brand", "other")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= _SIM_MIN_SUPPORT)
    )
    ca = cnt.select(F.col("p_brand").alias("ca_b"), F.col("n").alias("ca_n"))
    cb = cnt.select(F.col("p_brand").alias("cb_b"), F.col("n").alias("cb_n"))
    scored = (
        pairs.join(F.broadcast(ca), F.col("brand") == F.col("ca_b"))
        .join(F.broadcast(cb), F.col("other") == F.col("cb_b"))
        .select(
            "brand",
            "other",
            "support",
            (
                F.col("support").cast("double")
                / F.sqrt((F.col("ca_n") * F.col("cb_n")).cast("double"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("brand").orderBy(
        F.desc("cosine"), F.desc("support"), F.asc("other")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _SIM_K)
        .select("brand", "other", "support", "cosine",
                F.col("rank").cast("long").alias("rank"))
    )


_fmt_doc(item_similarity_topk, k=_SIM_K, m=_SIM_MIN_SUPPORT)


# ---------------------------------------------------------------------------
# 3. Last-touch attribution
# ---------------------------------------------------------------------------

_ATTR_WINDOW_S = 7 * 86400  # lookback


@query(
    "events_attribution_last_touch",
    oracle=f"""
    WITH touches AS (
        SELECT user_id, date_trunc('second', ts) AS ts,
               max(strftime(date_trunc('second', ts),
                            '%Y-%m-%d %H:%M:%S') || '|' || event_type)
                   AS packed
        FROM events WHERE event_type <> 'purchase'
        GROUP BY user_id, date_trunc('second', ts)
    ), purchases AS (
        SELECT event_id, user_id, date_trunc('second', ts) AS pts
        FROM events WHERE event_type = 'purchase'
    ), matched AS (
        SELECT p.event_id, p.user_id, p.pts, t.packed, t.ts AS touch_ts
        FROM purchases p ASOF LEFT JOIN touches t
          ON p.user_id = t.user_id AND epoch_us(p.pts) >= epoch_us(t.ts)
    )
    SELECT coalesce(CASE WHEN epoch(pts) - epoch(touch_ts)
                              <= {_ATTR_WINDOW_S}
                         THEN split_part(packed, '|', 2) END,
                    'none') AS channel,
           count(*) AS n_purchases,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM matched GROUP BY 1
    """,
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase credits the
    user's most recent NON-purchase event (the touch channel) at-or-
    before the purchase and within a {D}-day lookback; purchases with no
    qualifying touch land in the 'none' bucket. Output is the per-channel
    attribution census (purchases credited, distinct users) — the report
    that decides channel spend.

    Scale shape: the as-of machinery of operators/temporal.py — touches
    collapse to one row per (user, second) with a deterministic packed
    "ts|type" max (identical collapse in the oracle), then the union +
    ONE user_id exchange + last(ignorenulls) window resolves every
    purchase's latest touch with no interval join and no per-row probing;
    DuckDB's native ASOF JOIN is the oracle twin (the
    scd2_point_in_time_state precedent). The lookback bound is a
    post-join second-arithmetic filter, and the final census is
    |channels|-sized. Second-truncated timestamps keep the packed string
    and the epoch comparisons engine-exact."""
    from ..operators.temporal import asof_join

    events = _t(spark, sf_dir, "events")
    sec = F.date_trunc("second", F.col("ts"))
    touches = (
        events.filter(F.col("event_type") != "purchase")
        .select(
            "user_id",
            sec.alias("tts"),
            F.concat(
                F.date_format(sec, "yyyy-MM-dd HH:mm:ss"),
                F.lit("|"),
                F.col("event_type"),
            ).alias("packed"),
        )
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", sec.alias("pts")
    )
    matched = asof_join(
        purchases,
        touches.select("user_id", F.col("tts").alias("ts"), "packed"),
        key="user_id",
        left_ts="pts",
        right_ts="ts",
        right_value="packed",
    )
    touch_ts = F.to_timestamp(F.split("packed", r"\|").getItem(0))
    in_window = (
        F.col("pts").cast("long") - touch_ts.cast("long")
    ) <= _ATTR_WINDOW_S
    channel = F.coalesce(
        F.when(in_window, F.split("packed", r"\|").getItem(1)),
        F.lit("none"),
    )
    return (
        matched.select("event_id", "user_id", channel.alias("channel"))
        .groupBy("channel")
        .agg(
            F.count("*").alias("n_purchases"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )


_fmt_doc(events_attribution_last_touch, D=_ATTR_WINDOW_S // 86400)


# ---------------------------------------------------------------------------
# 4. Time-to-conversion (forward as-of)
# ---------------------------------------------------------------------------

_CONV_WINDOW_S = 7 * 86400


@query(
    "events_time_to_conversion",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_type,
               epoch(date_trunc('second', ts)) AS s,
               CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS side,
               CASE WHEN event_type = 'purchase'
                    THEN epoch(date_trunc('second', ts)) END AS ps
        FROM events
    ), nxt AS (
        SELECT event_type, s,
               min(ps) OVER (
                   PARTITION BY user_id ORDER BY s DESC, side ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS next_ps
        FROM e
    ), lag AS (
        SELECT event_type, next_ps - s AS lag_s,
               CASE WHEN next_ps IS NOT NULL
                         AND next_ps - s <= {_CONV_WINDOW_S}
                    THEN 1 ELSE 0 END AS conv
        FROM nxt WHERE event_type <> 'purchase'
    ), g AS (
        SELECT event_type,
               count(*) AS n_touches,
               CAST(sum(conv) AS BIGINT) AS n_converted,
               CAST(sum(CASE WHEN conv = 1 AND lag_s < 60
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_within_1m,
               CAST(sum(CASE WHEN conv = 1 AND lag_s < 3600
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_within_1h,
               CAST(sum(CASE WHEN conv = 1 AND lag_s < 86400
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_within_1d,
               CAST(sum(CASE WHEN conv = 1 THEN lag_s ELSE 0 END)
                    AS BIGINT) AS sum_lag_s
        FROM lag GROUP BY event_type
    )
    SELECT event_type, n_touches, n_converted, n_within_1m, n_within_1h,
           n_within_1d, sum_lag_s,
           CASE WHEN n_converted = 0 THEN NULL
                ELSE sum_lag_s // n_converted END AS avg_lag_s
    FROM g
    """,
)
def events_time_to_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-conversion census — the FORWARD as-of member of the
    temporal family (attribution looks backward from a purchase;
    this looks forward from every non-purchase touch to the user's NEXT
    purchase at-or-after it): per event type, how many touches convert
    within the {D}-day window and how fast (cumulative under-1m/1h/1d
    bands, exact int64 lag sum, truncating-div mean).

    Scale shape: a forward as-of needs no join at all — one pass tags
    purchases with their own second, and ONE user_id window ordered by
    (second DESC, purchase-first) takes the running min of purchase
    seconds, which at each touch IS the nearest at-or-after purchase
    (null-skipping min, same semantics both engines); purchases sort
    before touches at equal seconds so a same-second conversion counts
    with lag 0, mirroring the attribution kernel's inclusive tie. The
    census is |types|-sized. All arithmetic is second-truncated int64;
    the mean is a guarded truncating div (NULL when nothing converts),
    and every conditional sum is BIGINT-cast on both sides per the
    oracle-type guard."""
    events = _t(spark, sf_dir, "events")
    s = F.col("ts").cast("long")
    side = F.when(F.col("event_type") == "purchase", 0).otherwise(1)
    ps = F.when(F.col("event_type") == "purchase", s)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("s"), F.asc("side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = events.select(
        "user_id", "event_type", s.alias("s"), side.alias("side"),
        ps.alias("ps"),
    ).withColumn("next_ps", F.min("ps").over(w))
    lag = F.col("next_ps") - F.col("s")
    conv = (F.col("next_ps").isNotNull() & (lag <= _CONV_WINDOW_S)).cast("int")
    touches = tagged.filter(F.col("event_type") != "purchase").select(
        "event_type", lag.alias("lag_s"), conv.alias("conv")
    )
    g = touches.groupBy("event_type").agg(
        F.count("*").alias("n_touches"),
        F.sum("conv").cast("long").alias("n_converted"),
        F.sum(
            F.when((F.col("conv") == 1) & (F.col("lag_s") < 60), 1).otherwise(0)
        ).cast("long").alias("n_within_1m"),
        F.sum(
            F.when((F.col("conv") == 1) & (F.col("lag_s") < 3600), 1)
            .otherwise(0)
        ).cast("long").alias("n_within_1h"),
        F.sum(
            F.when((F.col("conv") == 1) & (F.col("lag_s") < 86400), 1)
            .otherwise(0)
        ).cast("long").alias("n_within_1d"),
        F.sum(F.when(F.col("conv") == 1, F.col("lag_s")).otherwise(0))
        .cast("long")
        .alias("sum_lag_s"),
    )
    return g.select(
        "event_type", "n_touches", "n_converted", "n_within_1m",
        "n_within_1h", "n_within_1d", "sum_lag_s",
        F.when(
            F.col("n_converted") == 0, F.lit(None).cast("long")
        ).otherwise(F.expr("sum_lag_s div n_converted")).alias("avg_lag_s"),
    )


_fmt_doc(events_time_to_conversion, D=_CONV_WINDOW_S // 86400)


# ---------------------------------------------------------------------------
# 5. Linear (equal-split) multi-touch attribution
# ---------------------------------------------------------------------------


@query(
    "events_attribution_linear",
    oracle=f"""
    WITH purchases AS (
        SELECT event_id, user_id, epoch(date_trunc('second', ts)) AS pts
        FROM events WHERE event_type = 'purchase'
    ), touches AS (
        SELECT user_id, event_type, epoch(date_trunc('second', ts)) AS tts
        FROM events WHERE event_type <> 'purchase'
    ), matched AS (
        SELECT p.event_id, t.event_type,
               count(*) OVER (PARTITION BY p.event_id) AS n_t
        FROM purchases p JOIN touches t
          ON p.user_id = t.user_id
         AND t.tts <= p.pts AND p.pts - t.tts <= {_ATTR_WINDOW_S}
    )
    SELECT event_type AS channel,
           CAST(sum(1000 // n_t) AS BIGINT) AS credit_milli,
           count(*) AS n_credited_touches,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_purchases
    FROM matched GROUP BY event_type
    """,
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (equal-split) multi-touch attribution — the complement of
    ``events_attribution_last_touch``: every purchase splits 1000 credit
    milli-units EQUALLY across ALL the user's non-purchase touches inside
    the {D}-day lookback (floor division: each of n touches gets
    1000 div n; the sub-milli remainder is deliberately dropped, same
    truncation both engines). Output is the per-channel credit census —
    last-touch says which channel CLOSES, linear says which channels
    PARTICIPATE.

    Scale shape: unlike last-touch (an as-of join — ONE winning touch
    per purchase), linear attribution inherently materializes every
    (purchase, touch) pair in the window, so the operator is an equi-join
    on user_id with a time-window predicate: pair volume is bounded by
    per-user activity x the lookback, the partition-safe bound every
    attribution system lives with (a pathological single user is a hot
    key — AQE skew-join splits it; the join carries only 3 narrow
    columns). The per-purchase touch count is one count() window on the
    purchase id (grain = matched pairs), then the census aggregation is
    |channels|-sized with map-side partials. Integer credit units keep
    the split exact cross-engine (1000 div n == DuckDB 1000 // n on
    positives); purchases with zero in-window touches earn no credit row
    by definition (last-touch's 'none' bucket covers that census).
    """
    events = _t(spark, sf_dir, "events")
    sec_long = F.date_trunc("second", F.col("ts")).cast("long")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", sec_long.alias("pts")
    )
    touches = events.filter(F.col("event_type") != "purchase").select(
        "user_id", "event_type", sec_long.alias("tts")
    )
    matched = (
        purchases.join(touches, "user_id")
        .filter(
            (F.col("tts") <= F.col("pts"))
            & (F.col("pts") - F.col("tts") <= _ATTR_WINDOW_S)
        )
        .select("event_id", "event_type")
        .withColumn(
            "n_t", F.count("*").over(Window.partitionBy("event_id"))
        )
    )
    return matched.groupBy(F.col("event_type").alias("channel")).agg(
        F.sum(F.expr("1000 div n_t")).cast("long").alias("credit_milli"),
        F.count("*").alias("n_credited_touches"),
        F.countDistinct("event_id").alias("n_purchases"),
    )


_fmt_doc(events_attribution_linear, D=_ATTR_WINDOW_S // 86400)
