"""Physical-plan inspection helpers.

The reference hand-codes its physical strategies (distributed-cache joins,
map-only jobs, combiners — SURVEY.md §4); here Catalyst chooses them, and
these helpers make the choices *assertable* so regressions in plan shape
(a lost broadcast, a filter that stopped pushing down, a surprise extra
exchange) fail tests instead of surfacing as 100x slowdowns at scale.
"""

from __future__ import annotations

import contextlib
import io
import re
import uuid
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def count_exchanges(df: DataFrame) -> int:
    """Shuffle exchanges in the plan (excluding broadcast exchanges). Each
    one is a full network redistribution of its input — the unit of cost
    that dominates at 100 TB."""
    plan = formatted_plan(df)
    # formatted mode prints one "(N) Exchange" header per node; broadcast
    # exchanges print as "(N) BroadcastExchange" and are excluded
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


def run_counting_jobs(spark: SparkSession, fn: Callable[[], T]) -> tuple[T, int]:
    """Call `fn` under a fresh Spark job group and return its result with
    the number of Spark jobs it ran (statusTracker). For a query function
    this is its eager driver work — checkpoints, counts, collects, schema
    inference — the per-query job budget that tests pin."""
    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store is fed by the listener bus: drain it, so the jobs
    # of the call that just returned are all recorded
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters pushed into the data source scan (PushedFilters: [...])."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def scan_read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of each file scan — verifies column pruning reached the
    source (a scan reading all columns for a 2-column projection is a plan
    bug at scale)."""
    plan = formatted_plan(df)
    return [m.group(1) for m in re.finditer(r"ReadSchema: (struct<[^\n]*>)", plan)]


def whole_stage_codegen_ids(df: DataFrame) -> list[int]:
    """Codegen span ids — simple-mode explain marks fused operators with
    `*(n)` prefixes (formatted mode omits them)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return sorted({int(m) for m in re.findall(r"\*\((\d+)\)", buf.getvalue())})
