"""Benchmark harness: run every catalog query at $SPARK_GRAFT_SF_DIR.

Prints exactly ONE JSON line:
    {"queries": {name: sec}, "extra": {...}, "metric":
     "headline_queries_total_wall", "unit": "sec", "sf": N, "value": N}

- ``queries``: per query, the lower wall time of two passes;
- ``value``: the sum of ``queries`` (the warm headline);
- ``extra.pass1_total_sec`` / ``extra.pass2_total_sec``: each pass's total;
- ``extra.artifact_builds`` / ``extra.artifact_builds_total_sec``: seconds
  per artifact built in the untimed build phase, and their sum.

Each query is forced with a noop-format write so the full distributed plan
executes without driver-side collect overhead dominating the measurement.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES  # noqa: E402
from mapreducer_pi_cs4433_spark.session import get_spark  # noqa: E402


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Unless the caller pinned an index dir, every run builds its artifacts
    # into a fresh scratch root, so the build phase pays (and
    # functions/artifacts.py's BUILD_TIMES ledger records) each cold
    # ensure_* materialization instead of reusing whatever an earlier run
    # left behind.
    index_tmp = None
    if "SPARK_GRAFT_INDEX_DIR" not in os.environ:
        import tempfile

        index_tmp = tempfile.mkdtemp(prefix="bench_idx_")
        os.environ["SPARK_GRAFT_INDEX_DIR"] = index_tmp
    try:
        _run(sf_dir)
    finally:
        # The scratch root and the env mutation must not outlive the run
        # even when a build or timed pass raises: the env key is
        # process-global state and the scratch root is multi-GB at bench
        # SFs.
        if index_tmp is not None:
            import shutil

            shutil.rmtree(index_tmp, ignore_errors=True)
            os.environ.pop("SPARK_GRAFT_INDEX_DIR", None)


def _run(sf_dir: str) -> None:
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Untimed build phase (the `cli.py build-index` step, which shares the
    # catalog's canonical params): artifacts materialize before the timed
    # passes, so both passes measure warm artifact reads, as production
    # queries against a built corpus do. Its progress lines go to stderr:
    # stdout stays one JSON line.
    import contextlib

    from mapreducer_pi_cs4433_spark.cli import _build_index
    from mapreducer_pi_cs4433_spark.functions.artifacts import BUILD_TIMES

    with contextlib.redirect_stdout(sys.stderr):
        _build_index(spark, sf_dir, "all")

    # Two passes per query, report the min (steady state). First-invocation
    # cost in this JVM is dominated by Janino compile + JIT warm-up of each
    # query's generated code — real, but a fixed per-plan-shape constant
    # that vanishes against any long-running job. Cold totals stay visible
    # under extra.pass1_total_sec.
    pass_totals: list[float] = []
    timings: dict[str, float] = {}
    for _ in range(2):
        ptotal = 0.0
        for name, fn in sorted(QUERIES.items()):
            # fn() is INSIDE the timed region: iterative operators (e.g.
            # er_fuzzy_resolution's connected-components fixpoint) execute
            # eagerly while building their result; for declarative queries
            # plan construction adds only ~ms.
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = round(time.perf_counter() - t0, 2)
            ptotal += dt
            if name not in timings or dt < timings[name]:
                timings[name] = dt
        pass_totals.append(round(ptotal, 2))

    extra = {
        "pass1_total_sec": pass_totals[0],
        "pass2_total_sec": pass_totals[1],
        "artifact_builds": dict(sorted(BUILD_TIMES.items())),
        "artifact_builds_total_sec": round(sum(BUILD_TIMES.values()), 2),
    }
    # One compact line; per-query timings first and summary keys last, so
    # a reader that keeps only the tail of a clipped stdout capture still
    # sees the totals.
    print(
        json.dumps(
            {
                "queries": timings,
                "extra": extra,
                "metric": "headline_queries_total_wall",
                "unit": "sec",
                "sf": _sf_from_dir(sf_dir),
                "value": round(sum(timings.values()), 2),
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
