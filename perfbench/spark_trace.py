"""Spans and Spark status-store reads for the traced run.

Every span is kept in memory (name, start, end, parent, attributes) and
written out once at the end of the run. A span that wraps a call into
the package carries its own Spark job group, so the jobs that call
started are found afterwards through the status store: per job its
submission and completion time and stage ids, per stage its task
metrics. A layer's self time is its wall minus the part of that
interval its children (Spark jobs, or nested spans) cover, which for a
query function or a plan execution is the time the driver worked with
no Spark job running.
"""

from __future__ import annotations

import itertools
import json
import time
from collections.abc import Iterator
from contextlib import contextmanager

_MB = 1024 * 1024

# per-stage task metrics summed into the spark.* layer
STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "jvm_gc_s": ("jvmGcTime", 1e-3),
    "input_mb": ("inputBytes", 1 / _MB),
    "shuffle_read_mb": ("shuffleReadBytes", 1 / _MB),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / _MB),
    "spill_mb": ("diskBytesSpilled", 1 / _MB),
    "failed_tasks": ("numFailedTasks", 1),
}


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SparkStatus:
    """Reads jobs, stages and task metrics from the session's status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._core = self._sc._jsc.sc()
        self._store = self._core.statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has applied every event, so the
        store holds the jobs of calls that already returned."""
        self._core.listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> list[dict]:
        out = []
        for jid in sorted(self._sc.statusTracker().getJobIdsForGroup(group)):
            jd = self._store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            job = {
                "job_id": jid,
                "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                "end": done.get().getTime() / 1e3 if done.isDefined() else None,
                "stages": jd.numCompletedStages(),
                "tasks": jd.numCompletedTasks(),
            }
            job.update(self._stage_totals(self._sc.statusTracker().getJobInfo(jid)))
            out.append(job)
        return out

    def _stage_totals(self, info) -> dict[str, float]:
        totals = dict.fromkeys(STAGE_FIELDS, 0.0)
        for sid in info.stageIds if info is not None else []:
            try:
                sd = self._store.lastStageAttempt(sid)
            except Exception:  # stage already evicted from the store
                continue
            for key, (getter, scale) in STAGE_FIELDS.items():
                totals[key] += getattr(sd, getter)() * scale
        return totals


class Tracer:
    """In-memory span recorder; ``enabled=False`` makes every span a no-op
    timer so the untraced run pays for nothing but ``perf_counter``."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self._spark = spark
        self._status = SparkStatus(spark) if enabled and spark is not None else None

    @contextmanager
    def span(self, name: str, spark_group: bool = False, **attrs) -> Iterator[dict]:
        """Time a block. With ``spark_group`` the block runs under its own
        Spark job group and the span records the jobs it started."""
        rec = {"name": name, "attrs": attrs}
        if not self.enabled:
            t0 = time.perf_counter()
            try:
                yield rec
            finally:
                rec["wall"] = time.perf_counter() - t0
            return
        sid = next(self._ids)
        rec.update(id=sid, parent=self._stack[-1] if self._stack else None)
        group = f"perfbench-{sid}"
        sc = self._spark.sparkContext
        if spark_group:
            sc.setJobGroup(group, name)
        self._stack.append(sid)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["wall"]
            self._stack.pop()
            if spark_group:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                rec["group"] = group
            self.spans.append(rec)

    def resolve(self) -> None:
        """Attach to every span with a job group its Spark jobs and self
        time. Runs once after the traced pass, outside its wall; the
        status store keeps the newest 1000 jobs, far more than a pass."""
        self._status.drain()
        for rec in self.spans:
            if "group" in rec and "jobs" not in rec:
                jobs = self._status.jobs(rec["group"])
                rec["jobs"] = jobs
                covered = union_length(
                    [(j["start"], j["end"]) for j in jobs if j["start"] and j["end"]],
                    rec["start"],
                    rec["end"],
                )
                rec["self"] = max(rec["wall"] - covered, 0.0)

    def add_span(self, name: str, parent: dict, start: float, wall: float, **attrs) -> None:
        """Record a span measured elsewhere (a stream batch's progress)
        under the span ``parent``."""
        if self.enabled:
            self.spans.append({"name": name, "attrs": attrs, "start": start, "wall": wall,
                               "end": start + wall, "self": wall, "id": next(self._ids),
                               "parent": parent["id"]})

    def self_times(self) -> None:
        """Fill ``self`` for spans without Spark jobs: wall minus the union
        of their child spans."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s.get("parent") is not None:
                kids.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            if "self" not in s:
                covered = union_length(
                    [(k["start"], k["end"]) for k in kids.get(s["id"], [])],
                    s["start"], s["end"],
                )
                s["self"] = max(s["wall"] - covered, 0.0)

    def write(self, path: str, run: dict) -> None:
        """Write the run record (the root of the tree) and every span."""
        self.self_times()
        with open(path, "w") as fh:
            json.dump({"run": run, "spans": self.spans}, fh)
