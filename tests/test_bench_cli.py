"""bench.py output contract (subprocess — the bench CLI is a real entry point).

The artifact build phase is stubbed out and QUERIES narrowed to two cheap
catalog queries, so the run takes seconds; what is pinned is the shape of
the one JSON line, not any timing.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from .conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PRELUDE = """
import bench
import mapreducer_pi_cs4433_spark.cli as cli

cli._build_index = lambda *a: 0
keep = ("task_b_page_counts", "task_c_nationality_counts")
bench.QUERIES = {n: bench.QUERIES[n] for n in keep}
bench.main()
"""


def test_bench_prints_one_json_line_with_the_kept_keys():
    env = {
        k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_INDEX_DIR"
    }
    env.update(
        SPARK_GRAFT_SF_DIR=SF_SMOKE, SPARK_GRAFT_CPUS="2", PYTHONPATH=REPO
    )
    r = subprocess.run(
        [sys.executable, "-c", _PRELUDE],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    lines = r.stdout.splitlines()
    assert len(lines) == 1, r.stdout[-2000:]
    out = json.loads(lines[0])
    assert set(out) == {"queries", "extra", "metric", "unit", "sf", "value"}
    assert out["metric"] == "headline_queries_total_wall"
    assert out["unit"] == "sec"
    assert out["sf"] == 0.001
    assert set(out["queries"]) == {
        "task_b_page_counts",
        "task_c_nationality_counts",
    }
    assert out["value"] == round(sum(out["queries"].values()), 2)
    assert set(out["extra"]) == {
        "pass1_total_sec",
        "pass2_total_sec",
        "artifact_builds",
        "artifact_builds_total_sec",
    }
