"""CLI surface tests (subprocess — the real user entry point)."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile

import pytest

from .conftest import REFERENCE_DATA, SF_SMOKE

needs_reference_data = pytest.mark.skipif(
    not os.path.isdir(REFERENCE_DATA), reason="reference data not mounted"
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(*args: str) -> subprocess.CompletedProcess:
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2", "PYTHONPATH": REPO}
    return subprocess.run(
        [sys.executable, "-m", "mapreducer_pi_cs4433_spark.cli", *args],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=REPO,
    )


@needs_reference_data
def test_cli_task_c(tmp_path):
    out = tmp_path / "c"
    r = _run("--single-file", "taskC", f"{REFERENCE_DATA}/pages.csv", str(out))
    assert r.returncode == 0, r.stderr[-2000:]
    rows = {}
    for f in out.glob("part-*.csv"):
        for line in f.read_text().splitlines():
            nat, cnt = line.split("\t")
            rows[nat] = int(cnt)
    assert rows["Netherlands"] == 2 and rows["Russia"] == 1
    assert sum(rows.values()) == 20


def test_cli_unknown_task_fails_cleanly():
    r = _run("taskZ", "x", "y")
    assert r.returncode == 2
    assert "invalid choice" in r.stderr


def test_cli_missing_input_exits_2_without_traceback():
    r = _run("taskC", "/no/such/pages.csv", "/tmp/never_written")
    assert r.returncode == 2
    assert "input not found" in r.stderr
    assert "Traceback" not in r.stderr


@needs_reference_data
def test_cli_parquet_output(tmp_path):
    out = tmp_path / "c_parquet"
    r = _run(
        "--output-format",
        "parquet",
        "taskC",
        f"{REFERENCE_DATA}/pages.csv",
        str(out),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    import pandas as pd

    rows = pd.read_parquet(out)
    got = dict(zip(rows.iloc[:, 0], rows.iloc[:, 1]))
    assert got["Netherlands"] == 2 and got["Russia"] == 1
    assert sum(got.values()) == 20  # every sample row counted exactly once


def test_cli_pi():
    r = _run("pi", "--samples", "100000", "--partitions", "4")
    assert r.returncode == 0
    assert "pi is roughly 3.1" in r.stdout


@needs_reference_data
def test_cli_jsonl_output(tmp_path):
    out = tmp_path / "c_jsonl"
    r = _run(
        "--output-format",
        "jsonl",
        "taskC",
        f"{REFERENCE_DATA}/pages.csv",
        str(out),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    import json

    rows = {}
    for f in out.glob("part-*.json"):
        for line in f.read_text().splitlines():
            o = json.loads(line)
            rows[o["Nationality"]] = o["Citizens"]
    assert rows["Netherlands"] == 2 and rows["Russia"] == 1
    assert sum(rows.values()) == 20


def test_cli_build_index(tmp_path):
    """The corpus build step materializes the shared artifact tables and
    is idempotent (second run reuses, emitting the same report)."""
    env = {
        **os.environ,
        "SPARK_GRAFT_CPUS": "2",
        "PYTHONPATH": REPO,
        "SPARK_GRAFT_INDEX_DIR": str(tmp_path / "idx"),
    }

    def run():
        return subprocess.run(
            [sys.executable, "-m", "mapreducer_pi_cs4433_spark.cli",
             "build-index", "/root/testdata/sf0.001",
             "--kinds", "minhash,graph,hnsw"],
            capture_output=True, text=True, timeout=300, env=env, cwd=REPO,
        )

    r = run()
    assert r.returncode == 0, r.stderr[-2000:]
    assert "minhash ready (500 rows)" in r.stdout
    assert "graph ready" in r.stdout
    assert "hnsw ready (500 rows)" in r.stdout
    r2 = run()  # idempotent reuse: same report, no rebuild error
    assert r2.returncode == 0 and "minhash ready (500 rows)" in r2.stdout


def test_cli_build_index_rejects_unknown_kind(tmp_path):
    """A misspelled kind exits 2 naming the valid kinds, and builds
    nothing — not even the valid kinds listed beside it."""
    idx = tmp_path / "idx"
    r = subprocess.run(
        [sys.executable, "-m", "mapreducer_pi_cs4433_spark.cli",
         "build-index", SF_SMOKE, "--kinds", "minhash,grpah"],
        capture_output=True, text=True, timeout=300, cwd=REPO,
        env={**os.environ, "SPARK_GRAFT_CPUS": "2", "PYTHONPATH": REPO,
             "SPARK_GRAFT_INDEX_DIR": str(idx)},
    )
    assert r.returncode == 2, r.stderr[-2000:]
    assert "unknown kind(s) grpah" in r.stderr
    assert "minhash" in r.stderr and "layout" in r.stderr
    assert "ready" not in r.stdout
    assert not idx.exists() or not any(idx.iterdir())


def test_cli_build_index_missing_dir():
    r = _run("build-index", "/no/such/corpus")
    assert r.returncode == 2
    assert "corpus dir not found" in r.stderr


def test_cli_sql_prints_rows():
    r = _run(
        "sql",
        "/root/testdata/sf0.001",
        "SELECT n_name, count(*) AS n FROM nation JOIN customer "
        "ON n_nationkey = c_nationkey GROUP BY n_name ORDER BY n DESC, n_name "
        "LIMIT 3",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    lines = [ln for ln in r.stdout.splitlines() if "\t" in ln]
    assert lines[0] == "n_name\tn"
    assert len(lines) == 4  # header + 3 rows


def test_cli_query_list_and_run(tmp_path):
    r = _run("query", "list")
    assert r.returncode == 0 and "task_a_filter_project" in r.stdout.split()
    out = tmp_path / "q"
    r = _run("query", "task_c_nationality_counts", "/root/testdata/sf0.001", str(out))
    assert r.returncode == 0, r.stderr[-2000:]
    assert any(out.glob("part-*"))


def test_cli_query_unknown_name():
    r = _run("query", "nope_not_a_query", "/root/testdata/sf0.001")
    assert r.returncode == 2 and "unknown name" in r.stderr


def test_cli_sql_missing_dir():
    r = _run("sql", "/no/such/dir", "SELECT 1")
    assert r.returncode == 2 and "not found" in r.stderr
