"""Tasks A-H + WordCount as pure DataFrame -> DataFrame functions.

Each function re-expresses one reference MapReduce job (SURVEY.md §2) as a
declarative Spark plan. The reference's hand-built physical tricks — map-side
projection/filtering, distributed-cache broadcast joins, combiners, sentinel
keys, driver-side scalar readback — are all supplied by Catalyst/AQE from
these logical plans (SURVEY.md §4 R1-R9), so the functions only encode
*semantics*, including the nine behavioral traps (SURVEY.md §4) where the
reference differs from the "obvious" SQL.

All functions take already-loaded DataFrames (see sources.loaders) so they
compose into larger lazy plans and can be tested on literal fixtures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Task A — filter + project (reference TaskA.java:21-45; map-only job)
# ---------------------------------------------------------------------------
def filter_by_nationality(pages: DataFrame, nationality: str = "Russia") -> DataFrame:
    """People of one nationality -> (Name, Hobby).

    The reference hardcodes 'Russia' (TaskA.java:17); parameterized here with
    the same default. Filter + project both push into the scan (map-only job
    == narrow, shuffle-free Spark stage).
    """
    return (
        pages.filter(F.col("Nationality") == nationality)
        .select("Name", "Hobby")
    )


# ---------------------------------------------------------------------------
# Task B — per-page access counts + broadcast join (TaskB.java:20-68)
# ---------------------------------------------------------------------------
def page_access_counts(access_logs: DataFrame, pages: DataFrame) -> DataFrame:
    """(PageID, PageName, AccessCount) for every accessed page.

    Inner join: access rows whose page id is missing from pages are dropped,
    exactly as the reference's in-memory HashMap lookup drops them
    (TaskB.java:63-67; SURVEY trap #8). pages is the small build side — the
    reference ships it via distributed cache (TaskB.java:90); here an explicit
    broadcast hint yields the same replicated hash join at any scale of the
    probe side.
    """
    counts = access_logs.groupBy("WhatPage").agg(F.count("*").alias("AccessCount"))
    return (
        counts.join(
            F.broadcast(pages.select("PersonID", "Name")),
            counts["WhatPage"] == F.col("PersonID"),
            "inner",
        )
        .select(
            F.col("PersonID").alias("PageID"),
            F.col("Name").alias("PageName"),
            "AccessCount",
        )
    )


def top_k_pages(access_logs: DataFrame, pages: DataFrame, k: int = 10) -> DataFrame:
    """Spec-faithful Task B variant: README promises "Top 10 popular pages"
    (reference README.md:134) but TaskB.java never limits (SURVEY §2.5 O2) —
    both variants ship. Deterministic tie-break on PageID so results are
    stable across engines and partitionings.
    """
    return page_access_counts(access_logs, pages).orderBy(
        F.desc("AccessCount"), F.asc("PageID")
    ).limit(k)


# ---------------------------------------------------------------------------
# Task C — citizens per country (TaskC.java:21-65)
# ---------------------------------------------------------------------------
def nationality_counts(pages: DataFrame) -> DataFrame:
    """count(*) per Nationality. Partial aggregation (the combiner the
    reference omitted — README.md:175) is automatic in HashAggregate."""
    return pages.groupBy("Nationality").agg(F.count("*").alias("Citizens"))


# ---------------------------------------------------------------------------
# Task D — friend in-degree with names, zero-filled (TaskD.java:25-106)
# ---------------------------------------------------------------------------
def friend_in_degree(pages: DataFrame, friends: DataFrame) -> DataFrame:
    """(PersonID, Name, FriendCount) for every person in pages.

    Left join keeps zero-in-degree people with count 0 (TaskD.java:101-104);
    duplicate edges deliberately count twice (SURVEY trap #5 — the reference
    counts raw rows, no dedup). The in-degree aggregate shrinks the friends
    side to |people| rows before the join, so the join side that scales with
    data volume is pre-aggregated — at 100 TB the shuffle moves counts, not
    edges.
    """
    indeg = friends.groupBy("MyFriend").agg(F.count("*").alias("cnt"))
    return (
        pages.select("PersonID", "Name")
        .join(indeg, pages["PersonID"] == indeg["MyFriend"], "left")
        .select(
            "PersonID",
            "Name",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("FriendCount"),
        )
    )


# ---------------------------------------------------------------------------
# Task E — per-person total + distinct accesses, zero-filled (TaskE.java:21-88)
# ---------------------------------------------------------------------------
def activity_summary(pages: DataFrame, access_logs: DataFrame) -> DataFrame:
    """(PersonID, Name, TotalAccesses, DistinctPages).

    Left join from pages: zero-activity people appear as 0/0
    (TaskE.java:69-86; SURVEY trap #6); access rows with ByWho ids absent
    from pages are dropped (the reference's name.isEmpty() guard,
    TaskE.java:83). count + countDistinct computed in one aggregation pass
    (the reference fuses them in one reducer, TaskE.java:73-81).
    """
    acc = access_logs.groupBy("ByWho").agg(
        F.count("*").alias("total"),
        F.countDistinct("WhatPage").alias("distinct_pages"),
    )
    return (
        pages.select("PersonID", "Name")
        .join(acc, pages["PersonID"] == acc["ByWho"], "left")
        .select(
            "PersonID",
            "Name",
            F.coalesce(F.col("total"), F.lit(0)).alias("TotalAccesses"),
            F.coalesce(F.col("distinct_pages"), F.lit(0)).alias("DistinctPages"),
        )
    )


# ---------------------------------------------------------------------------
# Task F — people with a friend whose page they never accessed
# (TaskF.java:95-132: per-key co-group into two HashSets + exists scan)
# ---------------------------------------------------------------------------
def unvisited_friend_owners(
    pages: DataFrame, friends: DataFrame, access_logs: DataFrame
) -> DataFrame:
    """(PersonID, Name) of everyone with >=1 declared friend whose page they
    never accessed.

    The reference's per-key set-difference test is an anti-join:
    friends(p) \\ accessed(p) != empty-set. left_anti on the composite key
    (PersonID, MyFriend)=(ByWho, WhatPage) distributes it — no per-key
    in-memory HashSets, no single reducer (the reference forces 1 reducer,
    TaskF.java:166). Join from ids LEFT to pages: ids missing from pages
    still emit, with null Name (TaskF.java:126-129 outputs blank names;
    SURVEY trap #7).
    """
    accessed = access_logs.select("ByWho", "WhatPage").distinct()
    unvisited = friends.select("PersonID", "MyFriend").join(
        accessed,
        (friends["PersonID"] == accessed["ByWho"])
        & (friends["MyFriend"] == accessed["WhatPage"]),
        "left_anti",
    )
    ids = unvisited.select("PersonID").distinct()
    return ids.join(pages.select("PersonID", "Name"), "PersonID", "left").select(
        "PersonID", "Name"
    )


# ---------------------------------------------------------------------------
# Task G — stale-or-never-accessed people (TaskG.java, 2-job chain)
# ---------------------------------------------------------------------------
def stale_or_disconnected(pages: DataFrame, access_logs: DataFrame) -> DataFrame:
    """(PersonID, Name, LastAccess) for people never accessing, or whose last
    access is >= 14 full 24h periods before the dataset's max timestamp.

    The reference runs two jobs plus a driver-side scalar readback
    (TaskG.java:162-186, SURVEY §2.9 C2); here the global max is a 1-row
    aggregate crossJoined in (planned as a broadcast — stays distributed).
    Trap #3: Duration.toDays() truncates full 24h periods, so the predicate
    uses second-difference floor division, not calendar datediff.
    Trap #4: null last-access (never accessed) passes the filter.
    """
    last = access_logs.groupBy("ByWho").agg(F.max("AccessTime").alias("LastAccess"))
    ref = access_logs.agg(F.max("AccessTime").alias("_ref"))
    age_days = F.floor(
        (F.col("_ref").cast("long") - F.col("LastAccess").cast("long")) / 86400
    )
    return (
        pages.select("PersonID", "Name")
        .join(last, pages["PersonID"] == last["ByWho"], "left")
        .crossJoin(F.broadcast(ref))
        .filter(F.col("LastAccess").isNull() | (age_days >= 14))
        .select("PersonID", "Name", "LastAccess")
    )


# ---------------------------------------------------------------------------
# Task H — people with above-average out-degree (TaskH.java, 2-job chain)
# ---------------------------------------------------------------------------
def above_average_connectors(pages: DataFrame, friends: DataFrame) -> DataFrame:
    """(PersonID, Name, FriendCount) where FriendCount > average.

    Trap #1: the average's denominator is people *with >=1 declared friend*
    (TaskH.java:121-133 counts output lines of job 1), i.e. avg over the
    grouped counts — NOT total_edges / |pages|.
    Trap #2: strictly greater (TaskH.java:105).
    The average is a 1-row aggregate crossJoined in (broadcast), replacing
    the reference's driver readback + Configuration smuggling
    (TaskH.java:114-134,171).
    """
    outdeg = friends.groupBy("PersonID").agg(F.count("*").alias("FriendCount"))
    avg_df = outdeg.agg(F.avg("FriendCount").alias("_avg"))
    return (
        outdeg.join(pages.select("PersonID", "Name"), "PersonID", "inner")
        .crossJoin(F.broadcast(avg_df))
        .filter(F.col("FriendCount") > F.col("_avg"))
        .select("PersonID", "Name", "FriendCount")
    )


# ---------------------------------------------------------------------------
# WordCount (WordCount.java:16-46)
# ---------------------------------------------------------------------------
def word_count(lines: DataFrame, column: str = "value") -> DataFrame:
    """Whitespace tokenization + grouped count.

    StringTokenizer semantics (WordCount.java:24-28): split on runs of
    whitespace, punctuation stays attached ("WPI" != "WPI,"), empty tokens
    dropped (leading-whitespace lines and blank lines yield none). The
    combiner the reference registers (WordCount.java:53) is Spark's automatic
    partial aggregation.
    """
    return (
        lines.select(
            F.explode(F.split(F.col(column), r"\s+")).alias("Word")
        )
        .filter(F.col("Word") != "")
        .groupBy("Word")
        .agg(F.count("*").alias("Count"))
    )
