"""Property-based equivalence: Spark operators vs DuckDB twins on random
social graphs (SURVEY.md §5 strategy 3, generalized).

Hypothesis generates adversarial little datasets — duplicate edges, orphan
ids, zero-degree people, empty tables — and every social operator must
match its SQL twin on all of them, not just the reference fixture. One
Spark session per test run; examples kept small so the suite stays fast.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mapreducer_pi_cs4433_spark.operators import social

from .oracle import _canon

pytestmark = pytest.mark.usefixtures("spark")

_ids = st.integers(min_value=0, max_value=12)

# people: (PersonID unique, Name, Nationality)
_people = st.lists(
    st.tuples(_ids, st.sampled_from(["A", "B", "C"])),
    max_size=12,
    unique_by=lambda t: t[0],
)
# edges: (PersonID, MyFriend) — duplicates ALLOWED (trap #5)
_edges = st.lists(st.tuples(_ids, _ids), max_size=25)
# accesses: (ByWho, WhatPage) — duplicates allowed
_accesses = st.lists(st.tuples(_ids, _ids), max_size=25)


def _mk(spark, con, people, edges, accesses):
    pages = spark.createDataFrame(
        [(pid, f"p{pid}", nat) for pid, nat in people],
        "PersonID int, Name string, Nationality string",
    )
    friends = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(edges)],
        "FriendRel int, PersonID int, MyFriend int",
    )
    access = spark.createDataFrame(
        [(i, w, p) for i, (w, p) in enumerate(accesses)],
        "AccessID int, ByWho int, WhatPage int",
    )
    con.execute(
        "DROP TABLE IF EXISTS pages; DROP TABLE IF EXISTS friends; "
        "DROP TABLE IF EXISTS access_logs"
    )
    con.execute("CREATE TABLE pages(PersonID INT, Name VARCHAR, Nationality VARCHAR)")
    if people:
        con.executemany(
            "INSERT INTO pages VALUES (?,?,?)", [(p, f"p{p}", n) for p, n in people]
        )
    con.execute("CREATE TABLE friends(FriendRel INT, PersonID INT, MyFriend INT)")
    if edges:
        con.executemany(
            "INSERT INTO friends VALUES (?,?,?)",
            [(i, a, b) for i, (a, b) in enumerate(edges)],
        )
    con.execute("CREATE TABLE access_logs(AccessID INT, ByWho INT, WhatPage INT)")
    if accesses:
        con.executemany(
            "INSERT INTO access_logs VALUES (?,?,?)",
            [(i, w, p) for i, (w, p) in enumerate(accesses)],
        )
    return pages, friends, access


def _eq(spark_df, con, sql):
    s_rows = [tuple(r) for r in spark_df.collect()]
    rel = con.sql(sql)
    d_rows = rel.fetchall()
    assert _canon(s_rows, spark_df.columns) == _canon(d_rows, list(rel.columns)), (
        f"spark={sorted(s_rows)} duck={sorted(d_rows)}"
    )


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    yield con
    con.close()


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(people=_people, edges=_edges)
def test_prop_indegree_and_above_avg(spark, duck, people, edges):
    pages, friends, _ = _mk(spark, duck, people, edges, [])
    _eq(
        social.friend_in_degree(pages, friends),
        duck,
        """SELECT p.PersonID, p.Name, COALESCE(d.c, 0) AS FriendCount
           FROM pages p LEFT JOIN
             (SELECT MyFriend, COUNT(*) c FROM friends GROUP BY 1) d
           ON p.PersonID = d.MyFriend""",
    )
    _eq(
        social.above_average_connectors(pages, friends),
        duck,
        """WITH deg AS (SELECT PersonID, COUNT(*) c FROM friends GROUP BY 1),
                a AS (SELECT AVG(c) a FROM deg)
           SELECT p.PersonID, p.Name, deg.c AS FriendCount
           FROM deg JOIN pages p USING (PersonID) CROSS JOIN a
           WHERE deg.c > a.a""",
    )


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(people=_people, edges=_edges, accesses=_accesses)
def test_prop_activity_and_unvisited(spark, duck, people, edges, accesses):
    pages, friends, access = _mk(spark, duck, people, edges, accesses)
    _eq(
        social.activity_summary(pages, access),
        duck,
        """SELECT p.PersonID, p.Name,
                  COALESCE(a.t, 0) AS TotalAccesses,
                  COALESCE(a.d, 0) AS DistinctPages
           FROM pages p LEFT JOIN
             (SELECT ByWho, COUNT(*) t, COUNT(DISTINCT WhatPage) d
              FROM access_logs GROUP BY 1) a
           ON p.PersonID = a.ByWho""",
    )
    _eq(
        social.unvisited_friend_owners(pages, friends, access),
        duck,
        """SELECT f.PersonID, p.Name
           FROM (SELECT DISTINCT fr.PersonID FROM friends fr
                 WHERE NOT EXISTS (
                   SELECT 1 FROM access_logs a
                   WHERE a.ByWho = fr.PersonID AND a.WhatPage = fr.MyFriend)) f
           LEFT JOIN pages p ON f.PersonID = p.PersonID""",
    )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(people=_people)
def test_prop_nationality_counts(spark, duck, people):
    pages, _, _ = _mk(spark, duck, people, [], [])
    _eq(
        social.nationality_counts(pages),
        duck,
        "SELECT Nationality, COUNT(*) AS Citizens FROM pages GROUP BY 1",
    )


# --- connected components vs a driver-side union-find reference -------------

_cc_edges = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=20),
        st.integers(min_value=0, max_value=20),
    ),
    min_size=1,
    max_size=30,
)


def _union_find_components(edges):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node id of the component
    comp: dict[int, int] = {}
    for n in parent:
        root = find(n)
        comp.setdefault(root, root)
    return {n: min(m for m in parent if find(m) == find(n)) for n in parent}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(edges=_cc_edges)
def test_prop_connected_components_match_union_find(spark, edges):
    """Min-label propagation must agree with a classical union-find on
    arbitrary graphs: self-loops, duplicate edges, long chains, forests."""
    from mapreducer_pi_cs4433_spark.functions.dedup import connected_components

    df = spark.createDataFrame(edges, "id_a int, id_b int")
    got = {(r.id, r.comp) for r in connected_components(df).collect()}
    want = set(_union_find_components(edges).items())
    assert got == want


# --- sequence packing invariants over random corpora -------------------------
_pack_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=50),        # doc_id (unique)
        st.sampled_from(["s0", "s1", "s2"]),           # source
        st.integers(min_value=0, max_value=40),        # n_tokens
    ),
    max_size=30,
    unique_by=lambda t: t[0],
)


@settings(deadline=None, max_examples=25, suppress_health_check=list(HealthCheck))
@given(rows=_pack_rows, budget=st.integers(min_value=1, max_value=64))
def test_pack_assignments_invariants(spark, rows, budget):
    """For ANY corpus and budget the distributed window formulation must
    equal the sequential replay pack_id = tokens_before // budget exactly
    (ids start at 0 and never decrease; totals conserved). Deliberately
    NOT asserted: pack-id density or closed-packs>=budget — a document
    larger than the budget overshoots boundaries, legally skipping pack
    ids and closing the next pack early (hypothesis found both)."""
    from mapreducer_pi_cs4433_spark.sources.sinks import pack_assignments

    if not rows:
        return
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    out = pack_assignments(df, "n_tokens", "source", "doc_id", budget).collect()
    by_src: dict[str, list] = {}
    for r in sorted(out, key=lambda r: (r.source, r.doc_id)):
        by_src.setdefault(r.source, []).append(r)
    assert sum(r.n_tokens for r in out) == sum(t[2] for t in rows)
    for src, rs in by_src.items():
        assert rs[0].pack_id == 0
        ids = [r.pack_id for r in rs]
        assert all(b >= a for a, b in zip(ids, ids[1:]))
        before = 0
        for r in rs:
            assert r.pack_id == before // budget, (src, r, before)
            before += r.n_tokens


@settings(deadline=None, max_examples=20, suppress_health_check=list(HealthCheck))
@given(texts=st.lists(st.text(max_size=24), min_size=1, max_size=12, unique=True))
def test_md5_hash64_matches_hashlib(spark, texts):
    """The engine-neutral 64-bit hash must equal the reference computation
    (first 16 md5 hex chars as a signed big-endian int64) for arbitrary
    unicode strings — the contract the DuckDB SimHash oracle rests on."""
    import hashlib

    from pyspark.sql import functions as F

    from mapreducer_pi_cs4433_spark.functions.dedup import md5_hash64

    df = spark.createDataFrame([(t,) for t in texts], "s string")
    got = {r.s: r.h for r in df.select("s", md5_hash64("s").alias("h")).collect()}
    for t in texts:
        u = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:16], 16)
        want = u - (1 << 64) if u >= 1 << 63 else u
        assert got[t] == want, t


@settings(deadline=None, max_examples=20, suppress_health_check=list(HealthCheck))
@given(
    groups=st.dictionaries(
        st.sampled_from(["a", "b", "c"]),
        st.lists(st.integers(min_value=-50, max_value=50), min_size=1, max_size=30),
        min_size=1,
        max_size=3,
    )
)
def test_median_grain_equals_sorted_rank_selection(spark, groups):
    """_median_grain (the r5 grain-based explicit-rank median powering the
    events_anomaly_mad family) must equal the naive definition — the
    element at 1-based rank (n+1)//2 of the sorted multiset — for
    arbitrary multisets: duplicates, negatives, ties at the rank
    boundary, single-element and all-equal groups."""
    from pyspark.sql import functions as F

    from mapreducer_pi_cs4433_spark.queries.extensions import _median_grain

    rows = [(g, v) for g, vals in groups.items() for v in vals]
    df = spark.createDataFrame(rows, "event_type string, v long")
    grain = df.groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("c"))
    got = {
        r.event_type: r.med
        for r in _median_grain(grain, "v", "c", "med").collect()
    }
    for g, vals in groups.items():
        want = sorted(vals)[(len(vals) + 1) // 2 - 1]
        assert got[g] == want, (g, sorted(vals))


# ---------------------------------------------------------------------------
# r6 incremental band: the catalog queries themselves on adversarial corpora
# (random parquet written to a throwaway sf_dir, so the REAL query code —
# loaders, casts, carves — is what runs, not a re-expression in the test)
# ---------------------------------------------------------------------------


def _tmp_sf_dir(spark, **tables):
    import tempfile

    d = tempfile.mkdtemp(prefix="prop_sf_")
    for name, (rows, schema) in tables.items():
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{d}/{name}.parquet")
    return d


_order_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=400),           # o_orderkey (dups allowed upstream; unique_by below)
        st.sampled_from(["F", "O", "P"]),                  # o_orderstatus
        st.integers(min_value=0, max_value=3),             # year offset
        st.integers(min_value=-10_000_00, max_value=10_000_00),  # price centi
        st.sampled_from(["1-URGENT", "3-MEDIUM"]),         # o_orderpriority
    ),
    min_size=1,
    max_size=60,
    unique_by=lambda t: t[0],
)


@settings(deadline=None, max_examples=10, suppress_health_check=list(HealthCheck))
@given(rows=_order_rows)
def test_prop_ivm_merge_equals_recompute(spark, rows):
    """The IVM correctness theorem on arbitrary corpora: merging the
    history-carve state with the delta-carve state must equal a full
    recompute for every group — including groups present in only one
    carve, negative prices, and single-row groups."""
    import datetime
    import shutil

    from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES

    data = [
        (k, status, datetime.datetime(1996 + y, 3, 1), centi / 100.0, prio)
        for k, status, y, centi, prio in rows
    ]
    d = _tmp_sf_dir(
        spark,
        orders=(
            data,
            "o_orderkey long, o_orderstatus string, o_orderdate timestamp,"
            " o_totalprice double, o_orderpriority string",
        ),
    )
    try:
        got = {
            (r.o_orderstatus, r.order_year): (
                r.n_orders, r.revenue_centi, r.min_price_centi,
                r.max_price_centi, r.avg_price_centi,
            )
            for r in QUERIES["ivm_status_year_revenue_merge"](spark, d).collect()
        }
        agg: dict = {}
        for k, status, y, centi, _ in rows:
            g = agg.setdefault((status, 1996 + y), [0, 0, None, None])
            g[0] += 1
            g[1] += centi
            g[2] = centi if g[2] is None else min(g[2], centi)
            g[3] = centi if g[3] is None else max(g[3], centi)
        # Spark `div` and DuckDB integer `//` BOTH truncate toward zero
        # (verified: -1 div 2 == 0 in both); Python's // floors, so the
        # reference must truncate explicitly — hypothesis caught the
        # difference on a negative-sum group.
        trunc = lambda s, n: s // n if s >= 0 else -((-s) // n)  # noqa: E731
        want = {
            k: (n, s, mn, mx, trunc(s, n)) for k, (n, s, mn, mx) in agg.items()
        }
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


@settings(deadline=None, max_examples=10, suppress_health_check=list(HealthCheck))
@given(rows=_order_rows)
def test_prop_ivm_retraction_equals_filtered_recompute(spark, rows):
    """Retraction algebra on arbitrary corpora: standing state + negated
    delete-state must equal recomputing over the surviving rows, and
    groups retracting to zero must vanish."""
    import datetime
    import shutil

    from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES
    from mapreducer_pi_cs4433_spark.queries.incremental import _IVM_RETRACT_MOD

    data = [
        (k, status, datetime.datetime(1996 + y, 3, 1), centi / 100.0, prio)
        for k, status, y, centi, prio in rows
    ]
    d = _tmp_sf_dir(
        spark,
        orders=(
            data,
            "o_orderkey long, o_orderstatus string, o_orderdate timestamp,"
            " o_totalprice double, o_orderpriority string",
        ),
    )
    try:
        got = {
            r.o_orderpriority: (r.n_orders, r.revenue_centi)
            for r in QUERIES["ivm_retraction_merge"](spark, d).collect()
        }
        agg: dict = {}
        for k, _, _, centi, prio in rows:
            if k % _IVM_RETRACT_MOD == 0:
                continue
            g = agg.setdefault(prio, [0, 0])
            g[0] += 1
            g[1] += centi
        want = {p: (n, s) for p, (n, s) in agg.items()}
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


_change_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),    # user_id
        st.integers(min_value=0, max_value=200),  # ts offset seconds (TIES allowed)
        st.sampled_from(["a", "b", "c"]),         # event_type
        st.integers(min_value=-5_000, max_value=5_000),  # value centi
    ),
    min_size=1,
    max_size=60,
)


@settings(deadline=None, max_examples=10, suppress_health_check=list(HealthCheck))
@given(rows=_change_rows)
def test_prop_cdc_latest_equals_sorted_fold(spark, rows):
    """The max(struct) compaction must equal a per-key fold over the
    sorted (ts, event_id) order for arbitrary change logs — including
    timestamp TIES broken only by event_id, single-change keys, and
    negative payloads."""
    import datetime
    import shutil

    from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES

    base = datetime.datetime(2024, 1, 1)
    data = [
        (eid, base + datetime.timedelta(seconds=off), uid, et, centi / 100.0)
        for eid, (uid, off, et, centi) in enumerate(rows)
    ]
    d = _tmp_sf_dir(
        spark,
        events=(
            data,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double",
        ),
    )
    try:
        got = {
            r.user_id: (r.last_ts, r.last_type, r.last_value_centi,
                        r.n_changes, r.first_ts)
            for r in QUERIES["cdc_latest_state"](spark, d).collect()
        }
        per_key: dict = {}
        for eid, ts, uid, et, _ in data:
            per_key.setdefault(uid, []).append((ts, eid, et))
        want = {}
        for uid, evs in per_key.items():
            evs.sort()
            last = evs[-1]
            centi = rows[last[1]][3]
            want[uid] = (
                last[0].strftime("%Y-%m-%d %H:%M:%S"),
                last[2],
                centi,
                len(evs),
                min(e[0] for e in evs).strftime("%Y-%m-%d %H:%M:%S"),
            )
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


@settings(deadline=None, max_examples=8, suppress_health_check=list(HealthCheck))
@given(rows=_change_rows)
def test_prop_scd2_runs_equal_python_fold(spark, rows):
    """The gaps-and-islands history must equal a pure fold over the
    (ts, event_id) order for arbitrary logs — equal-timestamp flips,
    single-event runs, keys with one state forever."""
    import datetime
    import shutil

    from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES

    base = datetime.datetime(2024, 1, 1)
    data = [
        (eid, base + datetime.timedelta(seconds=off), uid, et, centi / 100.0)
        for eid, (uid, off, et, centi) in enumerate(rows)
    ]
    d = _tmp_sf_dir(
        spark,
        events=(
            data,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double",
        ),
    )
    try:
        got = {
            (r.user_id, r.version): (r.state, r.valid_from, r.n_events,
                                     r.is_current)
            for r in QUERIES["scd2_user_type_history"](spark, d).collect()
        }
        per_key: dict = {}
        for eid, ts, uid, et, _ in data:
            per_key.setdefault(uid, []).append((ts, eid, et))
        want = {}
        for uid, evs in per_key.items():
            evs.sort()
            runs = []
            for ts, _eid, et in evs:
                if not runs or runs[-1][0] != et:
                    runs.append([et, ts, 1])
                else:
                    runs[-1][2] += 1
            for i, (st_, vf, n) in enumerate(runs):
                want[(uid, i + 1)] = (
                    st_,
                    vf.strftime("%Y-%m-%d %H:%M:%S"),
                    n,
                    i == len(runs) - 1,
                )
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


_li_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),   # l_orderkey (may orphan)
        st.integers(min_value=1, max_value=4),    # l_linenumber
        st.integers(min_value=-5, max_value=60),  # l_quantity (may violate)
        st.integers(min_value=-5, max_value=15),  # discount in % (may violate)
        st.integers(min_value=-3, max_value=3),   # shipdate offset days vs order
    ),
    min_size=1,
    max_size=40,
)
_ord_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=20),        # o_orderkey
        st.sampled_from(["F", "O", "P", "X"]),         # X = enum violation
        st.integers(min_value=-100_00, max_value=100_00),  # price centi (may be <= 0)
    ),
    min_size=1,
    max_size=25,
)


@settings(deadline=None, max_examples=8, suppress_health_check=list(HealthCheck))
@given(orders=_ord_rows, lineitem=_li_rows)
def test_prop_dq_census_detects_planted_violations(spark, orders, lineitem):
    """The constraint census must COUNT violations exactly on corpora that
    actually contain them — duplicate PKs (generated orders may repeat a
    key), bad enums, non-positive prices, out-of-range quantities and
    discounts, FK orphans, and line items shipped before their order. The
    clean-corpus runs only prove the zero case; this pins the detect
    direction."""
    import datetime
    import shutil

    from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES

    base = datetime.datetime(2020, 6, 15)
    odata = [
        (k, s, base, centi / 100.0, "3-MEDIUM")
        for k, s, centi in orders
    ]
    first_date = {}
    for k, *_ in orders:
        first_date.setdefault(k, base)
    ldata = [
        (k, ln, float(q), d / 100.0, base + datetime.timedelta(days=off))
        for k, ln, q, d, off in lineitem
    ]
    d = _tmp_sf_dir(
        spark,
        orders=(
            odata,
            "o_orderkey long, o_orderstatus string, o_orderdate timestamp,"
            " o_totalprice double, o_orderpriority string",
        ),
        lineitem=(
            ldata,
            "l_orderkey long, l_linenumber int, l_quantity double,"
            " l_discount double, l_shipdate timestamp",
        ),
    )
    try:
        got = {
            r.constraint_name: (r.n_checked, r.n_violations)
            for r in QUERIES["dq_constraint_census"](spark, d).collect()
        }
        okeys = [k for k, *_ in orders]
        okey_set = set(okeys)
        lpairs = [(k, ln) for k, ln, *_ in lineitem]
        # join pass: every line item matched to EVERY order row with its key
        n_joined = sum(max(1, okeys.count(k)) for k, *_ in lineitem)
        want = {
            "orders_pk_unique": (len(orders), len(okeys) - len(okey_set)),
            "orders_price_positive": (
                len(orders),
                sum(1 for _, _, c in orders if c <= 0),
            ),
            "orders_status_enum": (
                len(orders),
                sum(1 for _, s, _ in orders if s == "X"),
            ),
            "lineitem_pk_unique": (
                len(lineitem),
                len(lpairs) - len(set(lpairs)),
            ),
            "lineitem_quantity_range": (
                len(lineitem),
                sum(1 for _, _, q, _, _ in lineitem if q < 1 or q > 50),
            ),
            "lineitem_discount_range": (
                len(lineitem),
                sum(1 for _, _, _, dd, _ in lineitem if dd < 0 or dd > 10),
            ),
            "lineitem_fk_orders": (
                n_joined,
                sum(1 for k, *_ in lineitem if k not in okey_set),
            ),
            "lineitem_ship_after_order": (
                n_joined,
                sum(
                    okeys.count(k)
                    for k, _, _, _, off in lineitem
                    if k in okey_set and off < 0
                ),
            ),
        }
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


_kmv_orders = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5000),  # o_orderkey unique
        st.integers(min_value=0, max_value=2),     # year offset (1996+y)
        st.integers(min_value=1, max_value=40),    # o_custkey: small domain
    ),
    min_size=1,
    max_size=80,
    unique_by=lambda t: t[0],
)


@settings(deadline=None, max_examples=8, suppress_health_check=list(HealthCheck))
@given(rows=_kmv_orders)
def test_prop_kmv_small_sets_take_exact_branch(spark, rows):
    """A KMV sketch holding fewer than k samples IS its set: whenever a
    year's distinct-custkey count is below k=64 (guaranteed by the 40-key
    domain here), the per-set estimate must EQUAL the exact count — on
    arbitrary corpora including empty years and single-key years. The
    intersection estimate must stay within the sketch guarantee shape
    (0 <= est, and exact == 0 implies est == 0 since shared samples of
    complete sketches are exactly the shared keys)."""
    import datetime
    import shutil

    from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES

    data = [
        (k, "F", datetime.datetime(1996 + y, 2, 1), 1.0, "3-MEDIUM", c)
        for k, y, c in rows
    ]
    d = _tmp_sf_dir(
        spark,
        orders=(
            data,
            "o_orderkey long, o_orderstatus string, o_orderdate timestamp,"
            " o_totalprice double, o_orderpriority string, o_custkey long",
        ),
    )
    try:
        got = {
            r.measure: (r.exact_count, r.kmv_estimate)
            for r in QUERIES["join_cardinality_kmv"](spark, d).collect()
        }
        a = {c for k, y, c in rows if y == 0}
        b = {c for k, y, c in rows if y == 1}
        assert got["distinct_a"] == (len(a), len(a))
        assert got["distinct_b"] == (len(b), len(b))
        exact_i, est_i = got["intersection"]
        assert exact_i == len(a & b)
        assert est_i >= 0
        if exact_i == 0:
            assert est_i == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


@settings(deadline=None, max_examples=15, suppress_health_check=list(HealthCheck))
@given(
    xs=st.lists(
        st.integers(min_value=0, max_value=9_000_000_000),
        min_size=1,
        max_size=50,
        unique=True,
    )
)
def test_prop_micro_sqrt_is_cross_engine_exact(spark, duck, xs):
    """mixture_temperature_quota's load-bearing claim: floor(sqrt(x*1e6))
    is bit-identical in Spark and DuckDB for any token count x whose
    x*1e6 is exactly double-representable (x <= ~9e9 => x*1e6 <= 9e15 <
    2^53). IEEE-754 requires sqrt to be correctly rounded, so both
    engines compute the SAME double and the same floor — the one float
    step in the query can never hash-diverge."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(x,) for x in xs], "x long")
    got = {
        r.x: r.s
        for r in df.select(
            "x", F.floor(F.sqrt(F.col("x") * 1000000.0)).cast("long").alias("s")
        ).collect()
    }
    for x in xs:
        (want,) = duck.sql(
            f"SELECT CAST(floor(sqrt({x} * 1000000.0)) AS BIGINT)"
        ).fetchone()
        assert got[x] == want, x


_merge_customers = st.lists(
    st.tuples(
        st.integers(min_value=1400, max_value=1620),  # straddles the shift
        st.integers(min_value=-50_000, max_value=50_000),  # acctbal centi
    ),
    min_size=1,
    max_size=30,
    unique_by=lambda t: t[0],
)
_merge_changes = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=120),          # user_id
        st.integers(min_value=-5_000, max_value=5_000),   # value centi
    ),
    min_size=1,
    max_size=40,
)


@settings(deadline=None, max_examples=8, suppress_health_check=list(HealthCheck))
@given(customers=_merge_customers, changes=_merge_changes)
def test_prop_merge_upsert_three_branches(spark, customers, changes):
    """MERGE semantics on arbitrary tables: every output row carries the
    correct action (update iff the key exists on both sides, insert iff
    delta-only, keep iff base-only) and new_balance == coalesced old +
    coalesced delta — including negative balances, keys on exactly one
    side, and multi-change keys."""
    import datetime
    import shutil

    from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES
    from mapreducer_pi_cs4433_spark.queries.incremental import _MERGE_KEY_SHIFT

    base = datetime.datetime(2024, 1, 1)
    events = [
        (eid, base, uid, "view", centi / 100.0)
        for eid, (uid, centi) in enumerate(changes)
    ]
    cust = [(k, centi / 100.0) for k, centi in customers]
    d = _tmp_sf_dir(
        spark,
        events=(
            events,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double",
        ),
        customer=(cust, "c_custkey long, c_acctbal double"),
    )
    try:
        got = {
            r.entity_key: (r.action, r.old_balance_centi, r.delta_centi,
                           r.new_balance_centi)
            for r in QUERIES["merge_upsert_customer_balance"](spark, d).collect()
        }
        delta: dict = {}
        for uid, centi in changes:
            delta[uid + _MERGE_KEY_SHIFT] = delta.get(uid + _MERGE_KEY_SHIFT, 0) + centi
        basebal = {k: centi for k, centi in customers}
        keys = set(delta) | set(basebal)
        assert set(got) == keys
        for k in keys:
            action = ("update" if k in basebal and k in delta
                      else "insert" if k in delta else "keep")
            old = basebal.get(k)
            dl = delta.get(k)
            assert got[k] == (action, old, dl, (old or 0) + (dl or 0)), k
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# Round 7: curation band vs independent Python references
# ---------------------------------------------------------------------------

_pareto_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=200),      # o_orderkey
        st.integers(min_value=0, max_value=40),       # price centi (small: force ties)
        st.integers(min_value=0, max_value=5),        # date offset days (ties too)
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda t: t[0],
)


@settings(deadline=None, max_examples=10, suppress_health_check=list(HealthCheck))
@given(rows=_pareto_rows)
def test_prop_pareto_frontier_equals_brute_force(spark, rows):
    """The grain-window skyline must equal the O(n^2) dominance definition
    on arbitrary corpora — price ties, date ties, full (price, date)
    duplicates (which never dominate each other and must ALL survive)."""
    import datetime
    import shutil

    from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES

    base = datetime.datetime(2024, 1, 1)
    data = [
        (k, k % 7, "O", centi / 100.0, base + datetime.timedelta(days=doff),
         "1-URGENT")
        for k, centi, doff in rows
    ]
    d = _tmp_sf_dir(
        spark,
        orders=(
            data,
            "o_orderkey long, o_custkey long, o_orderstatus string,"
            " o_totalprice double, o_orderdate timestamp,"
            " o_orderpriority string",
        ),
    )
    try:
        got = {
            r.o_orderkey
            for r in QUERIES["orders_pareto_frontier"](spark, d).collect()
        }
        pts = {k: (centi, doff) for k, centi, doff in rows}
        want = {
            k
            for k, (p, t) in pts.items()
            if not any(
                (p2 >= p and t2 <= t and (p2 > p or t2 < t))
                for k2, (p2, t2) in pts.items()
                if k2 != k
            )
        }
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


_file_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=500),   # doc_id
        st.sampled_from(["src0", "src1"]),         # source
        st.integers(min_value=1, max_value=80_000),  # n_chars
    ),
    min_size=1,
    max_size=50,
    unique_by=lambda t: t[0],
)


@settings(deadline=None, max_examples=10, suppress_health_check=list(HealthCheck))
@given(rows=_file_rows)
def test_prop_compaction_plan_equals_python_fold(spark, rows):
    """The bin-packing planner must equal the sequential greedy fold:
    files sorted (size desc, id asc) per source, bin = exclusive running
    size div target — including single-file sources and files larger than
    the target (their own prefix decides, so an oversized file never
    drags followers into its bin arithmetic wrongly)."""
    import hashlib
    import shutil

    from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES
    from mapreducer_pi_cs4433_spark.queries.curation import (
        _COMPACT_TARGET,
        _FILE_BUCKETS,
    )

    data = [(doc, "x" * 3, "en", src, nb) for doc, src, nb in rows]
    d = _tmp_sf_dir(
        spark,
        documents=(
            data,
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ),
    )
    try:
        got = {
            (r.source, r.bin): (r.n_files, r.bin_chars, r.bin_docs,
                                r.largest_file_chars)
            for r in QUERIES["shards_compaction_plan"](spark, d).collect()
        }
        # python reference: same md5 two-hex-char file assignment
        files: dict = {}
        for doc, src, nb in rows:
            h = hashlib.md5(str(doc).encode()).hexdigest()
            fid = (int(h[0], 16) * 16 + int(h[1], 16)) % _FILE_BUCKETS
            key = (src, fid)
            n, c = files.get(key, (0, 0))
            files[key] = (n + 1, c + nb)
        want: dict = {}
        for src in {s for s, _ in files}:
            inv = sorted(
                ((c, fid, n) for (s, fid), (n, c) in files.items() if s == src),
                key=lambda t: (-t[0], t[1]),
            )
            cum = 0
            for c, fid, n in inv:
                b = cum // _COMPACT_TARGET  # cum >= 0: floor == truncate
                k = (src, b)
                nf, bc, bd, mx = want.get(k, (0, 0, 0, 0))
                want[k] = (nf + 1, bc + c, bd + n, max(mx, c))
                cum += c
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


_late_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),              # user_id
        st.integers(min_value=0, max_value=200_000),        # ts offset sec
        st.sampled_from(["view", "click"]),                 # event_type
    ),
    min_size=1,
    max_size=40,
)


@settings(deadline=None, max_examples=10, suppress_health_check=list(HealthCheck))
@given(rows=_late_rows)
def test_prop_late_arrival_census_equals_python_fold(spark, rows):
    """The lateness census must equal the per-user sequential fold over
    arrival (event_id) order — in-order streams (all zero lateness),
    fully-reversed streams, and band-edge values (59/60/3599/3600s)."""
    import datetime
    import shutil

    from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES

    base = datetime.datetime(2024, 1, 1)
    data = [
        (eid, base + datetime.timedelta(seconds=off), uid, et, 1.0)
        for eid, (uid, off, et) in enumerate(rows)
    ]
    d = _tmp_sf_dir(
        spark,
        events=(
            data,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double",
        ),
    )
    try:
        got = {
            (r.event_type, r.lateness): (r.n_events, r.max_late_s)
            for r in QUERIES["events_late_arrival_census"](spark, d).collect()
        }
        runmax: dict = {}
        want: dict = {}
        for eid, (uid, off, et) in enumerate(rows):
            runmax[uid] = max(runmax.get(uid, off), off)
            late = runmax[uid] - off
            b = ("a_in_order" if late == 0 else
                 "b_under_1m" if late < 60 else
                 "c_under_1h" if late < 3600 else
                 "d_under_1d" if late < 86400 else "e_over_1d")
            n, mx = want.get((et, b), (0, 0))
            want[(et, b)] = (n + 1, max(mx, late))
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


_diff_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),               # user_id
        st.integers(min_value=0, max_value=14 * 86400),      # ts offset (spans T1)
        st.sampled_from(["view", "click", "error"]),         # event_type
    ),
    min_size=1,
    max_size=30,
)


@settings(deadline=None, max_examples=10, suppress_health_check=list(HealthCheck))
@given(rows=_diff_rows)
def test_prop_scd2_asof_diff_equals_python_fold(spark, rows):
    """The two-probe drift report must equal the Python run fold with the
    VERSION tie-break: when several runs start at the same second
    (equal-ts alternating types, ordered only by event_id), 'state as of'
    is the highest-version run — the r6-advice ambiguity, here pinned."""
    import datetime
    import shutil

    from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES

    base = datetime.datetime(2024, 1, 1)
    data = [
        (eid, base + datetime.timedelta(seconds=off), uid, et, 1.0)
        for eid, (uid, off, et) in enumerate(rows)
    ]
    d = _tmp_sf_dir(
        spark,
        events=(
            data,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double",
        ),
    )
    try:
        got = {
            r.user_id: (r.state_t1, r.state_t2, r.changed)
            for r in QUERIES["scd2_asof_diff"](spark, d).collect()
        }
        t2 = max(off for _, off, _ in rows)
        t1 = t2 - 7 * 86400
        per_key: dict = {}
        for eid, (uid, off, et) in enumerate(rows):
            per_key.setdefault(uid, []).append((off, eid, et))
        want = {}
        for uid, evs in per_key.items():
            evs.sort()
            runs = []  # (vf, state) in version order
            for off, _eid, et in evs:
                if not runs or runs[-1][1] != et:
                    runs.append((off, et))

            def state_at(cut):
                cand = [s for vf, s in runs if vf <= cut]
                return cand[-1] if cand else None  # max version wins

            s1, s2 = state_at(t1), state_at(t2)
            want[uid] = (s1, s2, int(s1 != s2))
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


_emb_rows = st.lists(
    st.lists(
        st.floats(min_value=-2.0, max_value=2.0, allow_nan=False,
                  allow_infinity=False, width=32),
        min_size=64,
        max_size=64,
    ),
    min_size=1,
    max_size=12,
)


@settings(deadline=None, max_examples=6, suppress_health_check=list(HealthCheck))
@given(vecs=_emb_rows)
def test_prop_pc1_power_iter_equals_numpy_reference(spark, vecs):
    """The exact-integer PCA direction must equal an independent numpy
    int64 reference (Gram + two truncating-division power steps) on
    arbitrary float32 inputs — including all-zero vectors (maxabs guard)
    and sign-mixed loadings (div truncates toward zero; Python //
    floors, so the reference truncates explicitly)."""
    import shutil

    import numpy as np

    from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES
    from mapreducer_pi_cs4433_spark.queries.curation import _GRAM_SCALE

    data = [(i, [float(np.float32(x)) for x in v], i % 3)
            for i, v in enumerate(vecs)]
    d = _tmp_sf_dir(
        spark,
        embeddings=(
            data,
            "vec_id long, embedding array<float>, label int",
        ),
    )
    try:
        got = {
            r.dim: (r.g_diag, r.loading_milli)
            for r in QUERIES["embedding_pc1_power_iter"](spark, d).collect()
        }
        m = np.array([v for _, v, _ in data], dtype=np.float32).astype(np.float64)
        q = np.floor(m * _GRAM_SCALE).astype(np.int64)
        g = q.T @ q

        def tdiv(a, b):  # truncate toward zero, like Spark div / DuckDB //
            return np.sign(a) * (np.abs(a) // b)

        v1 = g.sum(axis=1)
        v1s = tdiv(v1 * _GRAM_SCALE, max(int(np.abs(v1).max()), 1))
        v2 = g @ v1s
        v2s = tdiv(v2 * _GRAM_SCALE, max(int(np.abs(v2).max()), 1))
        want = {i + 1: (int(g[i, i]), int(v2s[i])) for i in range(64)}
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# Round 7 second band: insights operators vs Python references
# ---------------------------------------------------------------------------

_attr_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),             # user_id
        st.integers(min_value=0, max_value=10 * 86400),    # ts offset sec
        st.sampled_from(["view", "click", "purchase"]),    # event_type
    ),
    min_size=1,
    max_size=30,
)


@settings(deadline=None, max_examples=10, suppress_health_check=list(HealthCheck))
@given(rows=_attr_rows)
def test_prop_last_touch_attribution_equals_python_fold(spark, rows):
    """The attribution census must equal the per-purchase Python scan:
    latest non-purchase touch at-or-before the purchase second and inside
    the lookback, equal-second touches collapsing to the lexicographic
    max channel (the kernel's deterministic tie), else 'none'."""
    import datetime
    import shutil

    from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES
    from mapreducer_pi_cs4433_spark.queries.insights import _ATTR_WINDOW_S

    base = datetime.datetime(2024, 1, 1)
    data = [
        (eid, base + datetime.timedelta(seconds=off), uid, et, 1.0)
        for eid, (uid, off, et) in enumerate(rows)
    ]
    d = _tmp_sf_dir(
        spark,
        events=(
            data,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double",
        ),
    )
    try:
        got = {
            r.channel: (r.n_purchases, r.n_users)
            for r in QUERIES["events_attribution_last_touch"](
                spark, d
            ).collect()
        }
        # collapse touches to (user, sec) -> max channel
        touches: dict = {}
        for _eid, (uid, off, et) in enumerate(rows):
            if et != "purchase":
                k = (uid, off)
                touches[k] = max(touches.get(k, et), et)
        per_channel: dict = {}
        for _eid, (uid, off, et) in enumerate(rows):
            if et != "purchase":
                continue
            cand = [
                (toff, ch)
                for (tuid, toff), ch in touches.items()
                if tuid == uid and toff <= off
            ]
            ch = "none"
            if cand:
                toff, c = max(cand)
                if off - toff <= _ATTR_WINDOW_S:
                    ch = c
            n, users = per_channel.get(ch, (0, set()))
            users = users | {uid}
            per_channel[ch] = (n + 1, users)
        want = {ch: (n, len(u)) for ch, (n, u) in per_channel.items()}
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


_lpa_edges = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=8),   # part id
        st.integers(min_value=0, max_value=5),   # supplier id
    ),
    min_size=1,
    max_size=25,
)


@settings(deadline=None, max_examples=8, suppress_health_check=list(HealthCheck))
@given(edges=_lpa_edges)
def test_prop_label_propagation_equals_python_fold(spark, edges):
    """Two synchronous LPA iterations on arbitrary bipartite edge lists
    must equal the Python plurality fold (count desc, label asc tie) —
    duplicate edges collapse (the artifact is DISTINCT pairs), isolated
    stars keep their hub label, larger plates absorb smaller ones."""
    import shutil
    import tempfile

    from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES

    d = tempfile.mkdtemp(prefix="prop_sf_")
    try:
        spark.createDataFrame(
            [(p, s, 1.0) for p, s in edges],
            "l_partkey long, l_suppkey long, l_quantity double",
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
        got = {
            r.community: (r.n_members, r.n_suppliers, r.min_node)
            for r in QUERIES["graph_label_propagation"](spark, d).collect()
        }
        # python reference: symmetrized distinct bipartite edges
        E = {(p, 1_000_000 + s) for p, s in edges}
        sym: dict = {}
        for a, b in E:
            sym.setdefault(a, []).append(b)
            sym.setdefault(b, []).append(a)
        labels = {n: n for n in sym}
        for _ in range(2):
            nxt = {}
            for node, nbrs in sym.items():
                votes: dict = {}
                for nb in nbrs:
                    votes[labels[nb]] = votes.get(labels[nb], 0) + 1
                nxt[node] = min(
                    votes, key=lambda lb: (-votes[lb], lb)
                )
            labels = nxt
        comm: dict = {}
        for node, lb in labels.items():
            n, s, mn = comm.get(lb, (0, 0, None))
            comm[lb] = (
                n + 1,
                s + (1 if node >= 1_000_000 else 0),
                node if mn is None else min(mn, node),
            )
        assert got == comm
    finally:
        shutil.rmtree(d, ignore_errors=True)


@settings(deadline=None, max_examples=10, suppress_health_check=list(HealthCheck))
@given(rows=_attr_rows)
def test_prop_time_to_conversion_equals_python_fold(spark, rows):
    """The conversion census must equal the per-touch Python scan: the
    NEAREST purchase at-or-after each touch (inclusive same-second, lag
    0), the 7d conversion window, cumulative speed bands, exact lag sum
    and truncating mean — including users with no purchases (censored)
    and purchase-only corpora (empty census)."""
    import datetime
    import shutil

    from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES
    from mapreducer_pi_cs4433_spark.queries.insights import _CONV_WINDOW_S

    base = datetime.datetime(2024, 1, 1)
    data = [
        (eid, base + datetime.timedelta(seconds=off), uid, et, 1.0)
        for eid, (uid, off, et) in enumerate(rows)
    ]
    d = _tmp_sf_dir(
        spark,
        events=(
            data,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double",
        ),
    )
    try:
        got = {
            r.event_type: (
                r.n_touches, r.n_converted, r.n_within_1m, r.n_within_1h,
                r.n_within_1d, r.sum_lag_s, r.avg_lag_s,
            )
            for r in QUERIES["events_time_to_conversion"](
                spark, d
            ).collect()
        }
        purch: dict = {}
        for uid, off, et in rows:
            if et == "purchase":
                purch.setdefault(uid, []).append(off)
        agg: dict = {}
        for uid, off, et in rows:
            if et == "purchase":
                continue
            nxt = min((p for p in purch.get(uid, []) if p >= off),
                      default=None)
            g = agg.setdefault(et, [0, 0, 0, 0, 0, 0])
            g[0] += 1
            if nxt is not None and nxt - off <= _CONV_WINDOW_S:
                lag = nxt - off
                g[1] += 1
                g[2] += 1 if lag < 60 else 0
                g[3] += 1 if lag < 3600 else 0
                g[4] += 1 if lag < 86400 else 0
                g[5] += lag
        want = {
            et: (n, c, m1, h1, d1, s, (s // c if c else None))
            for et, (n, c, m1, h1, d1, s) in agg.items()
        }
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


_vec_component = st.integers(min_value=-4, max_value=4)
_vecs3 = st.lists(
    st.tuples(_vec_component, _vec_component, _vec_component),
    min_size=1,
    max_size=12,
)


def _retr_round9(x: float) -> float:
    """Engine-faithful round-to-9: HALF_UP on the shortest decimal
    representation (what Spark's BigDecimal.valueOf path and DuckDB's
    round produce on the oracle-checked corpora)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("1E-9"), ROUND_HALF_UP))


def _retr_corpus(spark, vecs):
    """Write a tiny embeddings corpus: vec 0 is a fixed nonzero query
    vector; generated rows follow (quarter-unit components so the
    micro-quantization is exact)."""
    import tempfile

    d = tempfile.mkdtemp(prefix="prop_sf_")
    rows = [(0, [1.0, 0.25, -0.5], 0)] + [
        (i + 1, [a / 4.0, b / 4.0, c / 4.0], 0)
        for i, (a, b, c) in enumerate(vecs)
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    return d, rows


def _retr_scored(rows):
    """Python twin of _sem_scored: micro-quantize, exact int dots,
    round9 cosine to the vec-0 query."""
    import math

    qq = [math.floor(x * 1_000_000) for x in rows[0][1]]
    qn2 = sum(v * v for v in qq)
    out = []
    for vid, emb, _ in rows:
        vq = [math.floor(x * 1_000_000) for x in emb]
        n2 = sum(v * v for v in vq)
        if n2 <= 0:
            continue
        dot = sum(a * b for a, b in zip(vq, qq))
        rel = _retr_round9(dot / (math.sqrt(float(n2)) * math.sqrt(float(qn2))))
        out.append((vid, vq, n2, rel))
    return out


@settings(deadline=None, max_examples=8, suppress_health_check=list(HealthCheck))
@given(vecs=_vecs3)
def test_prop_mmr_rerank_equals_python_fold(spark, vecs):
    """The unrolled MMR selection must equal the sequential Python MMR:
    top-10 relevance pool, then greedy (rel - max_sim_to_picked) picks
    with id tie-breaks — including corpora smaller than the pool or the
    pick count, and zero vectors dropped before pooling."""
    import math
    import shutil

    from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES

    d, rows = _retr_corpus(spark, vecs)
    try:
        got = [
            (r.rank, r.id, r.relevance, r.max_sim)
            for r in QUERIES["search_mmr_rerank"](spark, d)
            .orderBy("rank")
            .collect()
        ]
        scored = _retr_scored(rows)
        cand = sorted(scored, key=lambda t: (-t[3], t[0]))[:10]
        want = []
        sel = []
        for rank in range(1, 4):
            if not cand:
                break
            if not sel:
                pick, ms = cand[0], 0.0
            else:
                best = None
                for c in cand:
                    m = max(
                        _retr_round9(
                            sum(a * b for a, b in zip(c[1], s[1]))
                            / (math.sqrt(float(c[2])) * math.sqrt(float(s[2])))
                        )
                        for s in sel
                    )
                    key = (-(c[3] - m), c[0])
                    if best is None or key < best[0]:
                        best = (key, c, m)
                pick, ms = best[1], best[2]
            want.append((rank, pick[0], pick[3], ms))
            sel.append(pick)
            cand = [c for c in cand if c[0] != pick[0]]
        assert [(g[0], g[1]) for g in got] == [(w[0], w[1]) for w in want]
        for g, w in zip(got, want):
            assert g[2] == pytest.approx(w[2], abs=2e-9)
            assert g[3] == pytest.approx(w[3], abs=2e-9)
    finally:
        shutil.rmtree(d, ignore_errors=True)


_doc_words = st.lists(
    st.lists(
        st.sampled_from(
            ["vector", "stream", "merge", "table", "row", "scan", "the"]
        ),
        min_size=1,
        max_size=12,
    ),
    min_size=1,
    max_size=12,
)


@settings(deadline=None, max_examples=8, suppress_health_check=list(HealthCheck))
@given(docs=_doc_words, vecs=_vecs3)
def test_prop_hybrid_rrf_equals_python_fold(spark, docs, vecs):
    """The fused output (all-integer: ids + per-leg ranks + pico-RRF)
    must equal the Python two-leg fold: BM25 ranks with the exact score
    formula in the same op order, cosine ranks from the quantized-int
    recipe, RRF = SCALE // (60 + rank) summed — including docs in only
    one leg (NULL rank contributes zero) and corpora smaller than the
    per-leg N."""
    import math
    import shutil

    from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES

    d, rows = _retr_corpus(spark, vecs)
    try:
        spark.createDataFrame(
            [
                (i, " ".join(ws), "en", "src0", len(" ".join(ws)))
                for i, ws in enumerate(docs)
            ],
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        got = {
            r.doc_id: (r.lex_rank, r.sem_rank, r.rrf_pico)
            for r in QUERIES["search_hybrid_rrf"](spark, d).collect()
        }
        # lexical leg: BM25, same op order as the engines
        k1, b = 1.2, 0.75
        terms = ("vector", "stream", "merge")
        n = len(docs)
        lens = [len(ws) for ws in docs]
        avg = float(sum(lens)) / n
        tf = [{t: ws.count(t) for t in terms} for ws in docs]
        df = {t: sum(1 for x in tf if x[t] > 0) for t in terms}
        scored = []
        for i, ws in enumerate(docs):
            if sum(tf[i][t] for t in terms) == 0:
                continue
            s = 0.0
            for t in terms:
                idf = (n - df[t] + 0.5) / (df[t] + 0.5)
                s = s + idf * (tf[i][t] * (k1 + 1)) / (
                    tf[i][t] + k1 * (1 - b + b * (lens[i] / avg))
                )
            scored.append((i, s))
        lex = {
            did: rk + 1
            for rk, (did, _) in enumerate(
                sorted(scored, key=lambda t: (-t[1], t[0]))[:20]
            )
        }
        sem = {
            did: rk + 1
            for rk, (did, _, _, _) in enumerate(
                sorted(_retr_scored(rows), key=lambda t: (-t[3], t[0]))[:20]
            )
        }
        fused = []
        for did in set(lex) | set(sem):
            rrf = (10**12 // (60 + lex[did]) if did in lex else 0) + (
                10**12 // (60 + sem[did]) if did in sem else 0
            )
            fused.append((did, lex.get(did), sem.get(did), rrf))
        want = {
            did: (lr, sr, rrf)
            for did, lr, sr, rrf in sorted(
                fused, key=lambda t: (-t[3], t[0])
            )[:10]
        }
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


_basket_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=8),   # order id
        st.integers(min_value=0, max_value=5),   # part id
    ),
    min_size=1,
    max_size=30,
)


@settings(deadline=None, max_examples=8, suppress_health_check=list(HealthCheck))
@given(rows=_basket_rows)
def test_prop_item_similarity_equals_python_fold(spark, rows):
    """The CF top-k must equal the Python basket fold: distinct
    (order, brand) baskets, pair supports, min-support prune, cosine as
    one IEEE division of exact ints (so Python's float == Spark's
    double == DuckDB's), rank by (cosine desc, support desc, other asc),
    keep top-k. Duplicate lineitem rows collapse in the basket."""
    import shutil
    import tempfile
    from math import sqrt

    from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES
    from mapreducer_pi_cs4433_spark.queries.insights import (
        _SIM_K,
        _SIM_MIN_SUPPORT,
    )

    d = tempfile.mkdtemp(prefix="prop_sf_")
    try:
        spark.createDataFrame(
            [(o, p, 1.0) for o, p in rows],
            "l_orderkey long, l_partkey long, l_quantity double",
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
        spark.createDataFrame(
            [(p, f"B{p % 3}") for p in range(6)],
            "p_partkey long, p_brand string",
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/part.parquet")
        got = {
            (r.brand, r.rank): (r.other, r.support, r.cosine)
            for r in QUERIES["item_similarity_topk"](spark, d).collect()
        }
        baskets: dict = {}
        for o, p in rows:
            baskets.setdefault(o, set()).add(f"B{p % 3}")
        cnt: dict = {}
        for bs in baskets.values():
            for b in bs:
                cnt[b] = cnt.get(b, 0) + 1
        support: dict = {}
        for bs in baskets.values():
            for b1 in bs:
                for b2 in bs:
                    if b1 != b2:
                        support[(b1, b2)] = support.get((b1, b2), 0) + 1
        scored: dict = {}
        for (b1, b2), s in support.items():
            if s >= _SIM_MIN_SUPPORT:
                scored.setdefault(b1, []).append(
                    (s / sqrt(cnt[b1] * cnt[b2]), s, b2)
                )
        want: dict = {}
        for b1, cands in scored.items():
            cands.sort(key=lambda t: (-t[0], -t[1], t[2]))
            for rk, (cos, s, b2) in enumerate(cands[:_SIM_K], start=1):
                want[(b1, rk)] = (b2, s, cos)
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# r8 band: prefix-filter join / k-core peel / PMI collocations
# ---------------------------------------------------------------------------

_pf_docs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=60),          # doc_id
        st.text(alphabet="ab", min_size=1, max_size=24),  # tiny alphabet:
    ),                                                    # force collisions
    min_size=1,
    max_size=22,
    unique_by=lambda t: t[0],
)


@settings(deadline=None, max_examples=8, suppress_health_check=list(HealthCheck))
@given(rows=_pf_docs)
def test_prop_prefix_filter_equals_exact_join(spark, rows):
    """The prefix-filter theorem, empirically: on arbitrary corpora
    (identical docs, subset docs, docs shorter than the shingle width,
    heavy shingle collisions from a 2-letter alphabet) the pruned join
    must emit EXACTLY the inverted-index full join's pairs — zero
    recall loss, zero extra pairs."""
    from mapreducer_pi_cs4433_spark.functions import dedup

    df = spark.createDataFrame(list(rows), "doc_id long, text string")
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.prefix_filter_jaccard_pairs(
            df, k=3, threshold=0.5
        ).collect()
    }
    want = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(df, k=3, threshold=0.5).collect()
    }
    assert got == want


_kcore_edges = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=12),  # l_partkey
        st.integers(min_value=1, max_value=6),   # l_suppkey
    ),
    min_size=1,
    max_size=40,  # duplicates allowed: the edge build dedups
)


def _kcore_census_ref(rows, peels):
    """Sequential Python peel of the co-purchase graph of `rows`, exactly
    `peels` rounds (the fixed program the oracle runs), as census rows
    (core_degree, n_nodes, n_suppliers, min_node)."""
    from collections import defaultdict

    from mapreducer_pi_cs4433_spark.queries.mining import _KCORE_K

    adj = defaultdict(set)
    for a, b in {(a, 1_000_000 + b) for a, b in rows}:
        adj[a].add(b)
        adj[b].add(a)
    nodes = set(adj)
    for _ in range(peels):
        nodes = {n for n in nodes if len(adj[n] & nodes) >= _KCORE_K}
    by_deg = defaultdict(list)
    for n in nodes:
        c = len(adj[n] & nodes)
        if c > 0:
            by_deg[c].append(n)
    return {
        (c, len(ns), sum(1 for n in ns if n >= 1_000_000), min(ns))
        for c, ns in by_deg.items()
    }


def _kcore_census(spark, rows):
    import shutil

    from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES

    d = _tmp_sf_dir(
        spark, lineitem=(list(rows), "l_partkey long, l_suppkey long")
    )
    try:
        return {
            (r.core_degree, r.n_nodes, r.n_suppliers, r.min_node)
            for r in QUERIES["graph_kcore_census"](spark, d).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)


@settings(deadline=None, max_examples=8, suppress_health_check=list(HealthCheck))
@given(rows=_kcore_edges)
def test_prop_kcore_equals_python_peel(spark, rows):
    """The k-core census must equal the sequential Python peel on
    arbitrary little graphs — duplicate lineitem rows (edge dedup), stars
    that dissolve entirely (empty census), nodes whose neighbors are
    peeled under them mid-round."""
    from mapreducer_pi_cs4433_spark.queries.mining import _KCORE_PEELS

    assert _kcore_census(spark, rows) == _kcore_census_ref(rows, _KCORE_PEELS)


def _kcore_chain(n):
    """A K(4,4) core (parts 1-4, suppliers 1-4) plus a path of n nodes
    alternating part / supplier, 10, 10, 11, 11, ... Path node i has one
    core neighbor (the last node two) besides its path neighbors, so its
    degree is 3 until node i-1 is peeled: the 3-peel removes node i in
    round i+1, one node per round, and the core stays."""
    rows = [(p, q) for p in range(1, 5) for q in range(1, 5)]
    for i in range(n):
        j = 10 + i // 2
        if i % 2 == 0:  # part j
            rows += [(j, 1)] + ([(j, 2)] if i == n - 1 else [])
            if i + 1 < n:
                rows.append((j, j))
        else:  # supplier j
            rows += [(1, j)] + ([(2, j)] if i == n - 1 else [])
            if i + 1 < n:
                rows.append((j + 1, j))
    return rows


@pytest.mark.parametrize(
    "rows, sizes",
    [
        # cascade: 11 nodes, one peeled per round, fixpoint seen in round 4
        (_kcore_chain(3), [10, 9, 8, 8]),
        # 8 rounds needed: the cap binds and no round may stop early
        (_kcore_chain(8), [15, 14, 13, 12, 11, 10]),
        # a star dissolves: the last two keepers are empty checkpoints
        ([(1, 1), (1, 2), (1, 3)], [1, 0, 0]),
        # K(4,4) is its own 3-core: the footer minimum degree (4) says
        # so, and no keeper is checkpointed
        ([(p, q) for p in range(1, 5) for q in range(1, 5)], []),
    ],
    ids=["cascade", "cap_binds", "dissolves", "already_core"],
)
def test_kcore_stops_at_fixpoint(spark, monkeypatch, rows, sizes):
    """The peel loop stops when a keeper is as large as the one before
    it (round 1 against the footer node count) and never before, and
    does not start on a graph whose minimum degree is already k: each
    round's keeper size, read from the Observation on its checkpoint, is
    recorded, and the census still equals the fixed-round Python peel."""
    from mapreducer_pi_cs4433_spark.functions import dedup
    from mapreducer_pi_cs4433_spark.queries.mining import _KCORE_PEELS

    assert _KCORE_PEELS == 6  # the expected round sizes assume it
    seen_sizes = []
    checkpoint_observed = dedup.checkpoint_observed

    def recording(df, **metrics):
        out, seen = checkpoint_observed(df, **metrics)
        seen_sizes.append(seen["n"])
        return out, seen

    monkeypatch.setattr(dedup, "checkpoint_observed", recording)
    assert _kcore_census(spark, rows) == _kcore_census_ref(rows, _KCORE_PEELS)
    assert seen_sizes == sizes


# doc_id -> text: unique ids, texts drawn from a small pool so the same
# text recurs under different ids (token counts differ between texts)
_dedup_docs = st.dictionaries(
    st.integers(min_value=0, max_value=300),
    st.sampled_from(["a b", "a  b", "b a", "c", "the cat sat", ""]),
    min_size=1,
    max_size=30,
)


@settings(deadline=None, max_examples=10, suppress_health_check=list(HealthCheck))
@given(docs=_dedup_docs)
def test_prop_exact_dedup_aggregate_equals_semi_join(spark, docs):
    """pipeline_clean_corpus's exact dedup, one min(struct(doc_id,
    n_tokens)) aggregate per md5(text), keeps the same (doc_id, n_tokens)
    rows as the min(doc_id) winners joined back by a left-semi join, and
    as a Python first-id-per-text reference."""
    from pyspark.sql import functions as F

    from mapreducer_pi_cs4433_spark.queries.extensions import _exact_dedup

    kept = spark.createDataFrame(
        [(i, t, len(t.split())) for i, t in docs.items()],
        "doc_id long, text string, n_tokens long",
    )
    winners = kept.groupBy(F.md5("text").alias("digest")).agg(
        F.min("doc_id").alias("doc_id")
    )
    semi = kept.join(winners.select("doc_id"), "doc_id", "left_semi")
    got = sorted(tuple(r) for r in _exact_dedup(kept).collect())
    assert got == sorted(tuple(r) for r in semi.select("doc_id", "n_tokens").collect())
    first = {}
    for i, t in sorted(docs.items()):
        first.setdefault(t, (i, len(t.split())))
    assert got == sorted(first.values())


_pmi_docs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=40),  # doc_id
        st.lists(
            st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=12
        ),
    ),
    min_size=1,
    max_size=20,
    unique_by=lambda t: t[0],
)


@settings(deadline=None, max_examples=8, suppress_health_check=list(HealthCheck))
@given(rows=_pmi_docs)
def test_prop_pmi_equals_python_counts(spark, rows):
    """The integer-lift collocation ranking must equal the pure-Python
    count fold — same truncating-division order, same min-support cut,
    same (lift, support, w1, w2) total order at the top-K boundary —
    on corpora with empty docs, one-token docs, and saturated 4-token
    vocabularies where every bigram clears min-support."""
    import shutil
    from collections import Counter

    from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES
    from mapreducer_pi_cs4433_spark.queries.mining import (
        _PMI_MIN_SUPPORT,
        _PMI_TOP_K,
    )

    docs = [(i, " ".join(ws)) for i, ws in rows]
    d = _tmp_sf_dir(spark, documents=(docs, "doc_id long, text string"))
    try:
        got = [
            (r.w1, r.w2, r.n_pair, r.lift_e9)
            for r in QUERIES["text_collocation_pmi"](spark, d).collect()
        ]
        uni: Counter = Counter()
        pair: Counter = Counter()
        for _i, ws in rows:
            uni.update(ws)
            pair.update(zip(ws, ws[1:]))
        scored = [
            (w1, w2, c, (c * 1_000_000 // uni[w1] * 1_000) // uni[w2])
            for (w1, w2), c in pair.items()
            if c >= _PMI_MIN_SUPPORT
        ]
        scored.sort(key=lambda t: (-t[3], -t[2], t[0], t[1]))
        assert got == scored[:_PMI_TOP_K]
    finally:
        shutil.rmtree(d, ignore_errors=True)


@settings(deadline=None, max_examples=10, suppress_health_check=list(HealthCheck))
@given(rows=_attr_rows)
def test_prop_linear_attribution_equals_python_fold(spark, rows):
    """The linear-attribution census must equal the per-purchase Python
    scan: every non-purchase touch row at-or-before the purchase second
    and inside the lookback earns 1000 div n milli-credits (floor split
    across the purchase's n in-window touches); purchases with no touch
    earn nothing. Unlike last-touch there is NO equal-second collapse —
    every touch row participates."""
    import datetime
    import shutil

    from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES
    from mapreducer_pi_cs4433_spark.queries.insights import _ATTR_WINDOW_S

    base = datetime.datetime(2024, 1, 1)
    data = [
        (eid, base + datetime.timedelta(seconds=off), uid, et, 1.0)
        for eid, (uid, off, et) in enumerate(rows)
    ]
    d = _tmp_sf_dir(
        spark,
        events=(
            data,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double",
        ),
    )
    try:
        got = {
            r.channel: (r.credit_milli, r.n_credited_touches, r.n_purchases)
            for r in QUERIES["events_attribution_linear"](spark, d).collect()
        }
        per: dict = {}
        for peid, (uid, off, et) in enumerate(rows):
            if et != "purchase":
                continue
            touched = [
                tet
                for _tid, (tuid, toff, tet) in enumerate(rows)
                if tet != "purchase"
                and tuid == uid
                and toff <= off
                and off - toff <= _ATTR_WINDOW_S
            ]
            n = len(touched)
            for tet in touched:
                cm, nt, pids = per.get(tet, (0, 0, set()))
                per[tet] = (cm + 1000 // n, nt + 1, pids | {peid})
        want = {ch: (cm, nt, len(p)) for ch, (cm, nt, p) in per.items()}
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# KLL mergeable quantile sketch — pure-core properties (no Spark needed)
# ---------------------------------------------------------------------------

_kll_values = st.lists(
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    min_size=1,
    max_size=2000,
)


def _kll_rank_band_ok(values, sk, kll, cap):
    """est's exact-rank interval must overlap the target rank +/- the
    deterministic bound n*(H+2)/cap (+2 levels of slack over the
    textbook H = log2(n/cap): the leftover rule re-queues one item per
    compaction)."""
    import bisect
    import math

    n = len(values)
    srt = sorted(values)
    h = max(1, math.ceil(math.log2(max(n / cap, 2))))
    bound = n * (h + 2) // cap + 1
    for q in (250, 500, 950, 990):
        est = kll.quantile(sk, q)
        target = -(-q * n // 1000)
        lo_rank = bisect.bisect_left(srt, est) + 1
        hi_rank = bisect.bisect_right(srt, est)
        assert lo_rank - bound <= target <= hi_rank + bound, (q, n, cap)
        if len(sk["levels"]) == 1:
            # no compaction ever happened: the sketch IS the multiset and
            # the estimate must be the exact discrete quantile
            assert est == srt[target - 1], q


@settings(deadline=None, max_examples=25, suppress_health_check=list(HealthCheck))
@given(values=_kll_values, cap=st.sampled_from([8, 32, 512]))
def test_prop_kll_weight_exact_and_rank_band(values, cap):
    """Two invariants of the in-engine KLL sketch on arbitrary inputs:
    total weight is EXACTLY n (compaction halves items while doubling
    weight; the odd-length leftover rule keeps it exact — the invariant
    that caught the first draft's +2/+3 drift), and every quantile
    estimate sits within the deterministic rank-error bound. Small caps
    force deep compaction stacks the catalog entry never reaches."""
    from mapreducer_pi_cs4433_spark.functions import kll

    sk = kll.new_sketch()
    kll.add_many(sk, values, cap=cap)
    assert kll.total_weight(sk) == len(values)
    _kll_rank_band_ok(values, sk, kll, cap)
    # determinism: the same input rebuilds the identical structure
    sk2 = kll.new_sketch()
    kll.add_many(sk2, values, cap=cap)
    assert sk2 == sk


@settings(deadline=None, max_examples=25, suppress_health_check=list(HealthCheck))
@given(
    values=_kll_values,
    cut=st.integers(min_value=0, max_value=2000),
    cap=st.sampled_from([8, 32]),
)
def test_prop_kll_merge_is_split_safe(values, cut, cap):
    """Mergeability: build two partial sketches on an arbitrary split,
    fold their serialized (level, value) items into a fresh sketch the
    way the applyInPandas reduce does (rows sorted first, so executor
    arrival order can't matter) — weight stays exactly n and the merged
    estimates still satisfy the rank band."""
    from mapreducer_pi_cs4433_spark.functions import kll

    cut = min(cut, len(values))
    a, b = kll.new_sketch(), kll.new_sketch()
    if values[:cut]:
        kll.add_many(a, values[:cut], cap=cap)
    if values[cut:]:
        kll.add_many(b, values[cut:], cap=cap)
    merged = kll.new_sketch()
    kll.merge_items(
        merged, sorted(kll.to_items(a) + kll.to_items(b)), cap=cap
    )
    assert kll.total_weight(merged) == len(values)
    _kll_rank_band_ok(values, merged, kll, cap)


_hll_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5000),  # user_id
        st.sampled_from(["a", "b"]),               # event_type
        # day offset; None = NULL ts (contributes registers, is no cell)
        st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
    ),
    min_size=1,
    max_size=120,
)


@settings(deadline=None, max_examples=6, suppress_health_check=list(HealthCheck))
@given(rows=_hll_events)
def test_prop_hll_registers_match_pure_python(spark, rows):
    """The HLL register table must equal an INDEPENDENT pure-Python
    hashlib build on arbitrary corpora. The oracle runs the same md5
    formula in SQL, so gate equality alone can't catch 'both engines
    wrong the same way'; this reference derives idx/rho from the raw
    digest bytes with int.from_bytes + bit_length — a third
    implementation sharing nothing with the conv/substr/bin column
    chain. The reference builds FLAT (no day cells), so equality also
    re-proves the cell max-merge == flat build identity on every
    generated split of users across days; v_zero, sum_inv_scaled and
    exact_distinct are recomputed from the reference registers. The
    in-band bit is checked AGAINST the reference's own band verdict —
    never asserted true on a hypothesis-drawn corpus, which would be a
    once-in-1e4 nondeterministic flake (self-review); the deterministic
    corpora (the 3 SF gates, the raw-branch pin below) own the 'always
    in band there' claim."""
    import datetime
    import shutil

    from mapreducer_pi_cs4433_spark.functions import hll
    from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES
    from mapreducer_pi_cs4433_spark.queries.sketches import (
        _HLL_ABS,
        _HLL_M,
        _HLL_REL,
        _HLL_RHO_MAX,
    )

    from .test_streaming_distinct import _reference_registers

    data = [
        (
            i,
            None if d is None else datetime.datetime(2024, 1, 1 + d, 12, 0),
            u,
            t,
            1.0,
            "{}",
        )
        for i, (u, t, d) in enumerate(rows)
    ]
    d = _tmp_sf_dir(
        spark,
        events=(
            data,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        ),
    )
    try:
        got = {
            (r.event_type, r.reg_idx): (
                r.reg_val,
                r.v_zero,
                r.sum_inv_scaled,
                r.n_cells,
                r.exact_distinct,
                r.hll_in_band,
            )
            for r in QUERIES["events_distinct_hll_rollup"](spark, d).collect()
        }
        for t in {t for _, t, _ in rows}:
            users = {u for u, tt, _ in rows if tt == t}
            regs = _reference_registers(users)
            v_zero = sum(1 for r in regs if r == 0)
            sis = sum(2 ** (_HLL_RHO_MAX - r) for r in regs)
            n_cells = len(
                {dd for u, tt, dd in rows if tt == t and dd is not None}
            )
            est = hll.estimate(sis, v_zero)
            want_bit = int(
                abs(est - len(users)) <= max(_HLL_REL * len(users), _HLL_ABS)
            )
            for i in range(_HLL_M):
                assert got[(t, i)] == (
                    regs[i],
                    v_zero,
                    sis,
                    n_cells,
                    len(users),
                    want_bit,
                ), (t, i)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_hll_raw_branch_in_band_above_linear_range(spark):
    """The corpus SFs exercise the linear-counting branch at sf0.001/0.01
    and the raw-HLL branch at sf0.1; the suite runs at SF_SMOKE only, so
    this pins the RAW branch locally: 2000 distinct users (>> 2.5m = 640)
    must come back in-band with (by the prototype's measured V) zero or
    near-zero empty registers — the branch linear counting cannot serve."""
    import datetime
    import shutil

    from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES

    data = [
        (u, datetime.datetime(2024, 1, 1 + (u % 3), 6, 0), u, "a", 1.0, "{}")
        for u in range(2000)
    ]
    d = _tmp_sf_dir(
        spark,
        events=(
            data,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        ),
    )
    try:
        rows = QUERIES["events_distinct_hll_rollup"](spark, d).collect()
        assert len(rows) == 256
        r0 = rows[0]
        assert r0.exact_distinct == 2000
        assert r0.n_cells == 3
        assert r0.hll_in_band == 1
        # raw branch really is the live one: too few zero registers for
        # linear counting to even be defined as the estimator here
        assert r0.v_zero < 64
    finally:
        shutil.rmtree(d, ignore_errors=True)


_kmv_diff_orders = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5000),  # o_orderkey unique
        st.integers(min_value=0, max_value=1),     # 0 -> 1995, 1 -> 1996
        st.integers(min_value=1, max_value=40),    # o_custkey: small domain
    ),
    min_size=1,
    max_size=80,
    unique_by=lambda t: t[0],
)


@settings(deadline=None, max_examples=8, suppress_health_check=list(HealthCheck))
@given(rows=_kmv_diff_orders)
def test_prop_kmv_difference_exact_for_subk_sets(spark, rows):
    """Exact-mode theta's load-bearing property: when BOTH yearly sets
    hold fewer than k=64 keys (guaranteed by the 40-key domain), each
    sketch is a COMPLETE sketch of its set, theta is the whole hash
    space, and the difference estimates must EQUAL the exact set
    differences — on arbitrary corpora including empty years, identical
    years, and disjoint years. (Under the sibling's sample-max theta a
    degenerate side would shrink the other side's sampling region and
    break this — the reason the difference entry derives theta
    differently, documented in its docstring.)"""
    import datetime
    import shutil

    from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES

    data = [
        (k, "F", datetime.datetime(1995 + y, 2, 1), 1.0, "3-MEDIUM", c)
        for k, y, c in rows
    ]
    d = _tmp_sf_dir(
        spark,
        orders=(
            data,
            "o_orderkey long, o_orderstatus string, o_orderdate timestamp,"
            " o_totalprice double, o_orderpriority string, o_custkey long",
        ),
    )
    try:
        got = {
            r.measure: (r.exact_count, r.kmv_estimate)
            for r in QUERIES["orders_kmv_set_difference"](spark, d).collect()
        }
        a = {c for k, y, c in rows if y == 0}
        b = {c for k, y, c in rows if y == 1}
        assert got["churned"] == (len(a - b), len(a - b))
        assert got["new"] == (len(b - a), len(b - a))
    finally:
        shutil.rmtree(d, ignore_errors=True)
