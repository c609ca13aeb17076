"""Self-test of the benchmark: every workload, untraced and traced, must
exit 0, pass its output checks and report every metric ``BENCHMARK.json``
names for that mode, with its unit, plus a ``metric <name> =`` line for
each workload-level metric. Runs one pass per mode (``--seconds 0``).

    python3 perfbench/smoke.py [--workloads relational,llm_pipeline,ingest]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.run import END_TO_END, WORKLOAD_LEVEL, WORKLOADS  # noqa: E402


def check_run(workload: str, trace: int, spec: dict) -> list[str]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "0", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        return [f"exit {proc.returncode}: {proc.stderr.strip().splitlines()[-1:]}"]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    if not result["correct"] or result["failed"]:
        problems.append(f"checks failed: {result['failed']} of {result['attempted']}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        problems.append(f"metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(want))} "
                        f"units {[(k, got[k], want[k]) for k in got.keys() & want.keys() if got[k] != want[k]]}")
    for name in [*END_TO_END, *WORKLOAD_LEVEL]:
        if not any(line.startswith(f"metric {name} = ") for line in lines):
            problems.append(f"no metric line for {name}")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failed = 0
    for workload in args.workloads.split(","):
        for trace in (0, 1):
            problems = check_run(workload, trace, spec)
            failed += bool(problems)
            print(f"{workload} trace={trace}: {'ok' if not problems else '; '.join(problems)}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
