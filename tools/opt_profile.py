"""Isolated per-query profiler for the optimization rounds.

Times one or more catalog queries with the noop sink (guide §1.4), N
repeats each (min = least-contended sample on a shared host), prints the
Spark jobs of each repeat's query-function call (`fn_jobs`: the eager
driver work the per-query job budgets in tests/test_job_budgets.py pin)
and of its plan execution (`exec_jobs`), and optionally dumps the
formatted physical plan to a file — the before/after evidence the
optimization rounds commit under plans/r{N}/.

    python tools/opt_profile.py QUERY [QUERY...] [--repeats 3] \
        [--sf-dir /root/testdata/sf0.1] [--plan-dir plans/r12] \
        [--plan-suffix before]

Artifacts build on first use under $SPARK_GRAFT_INDEX_DIR (warm reads
thereafter — the same steady state the bench headline times).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreducer_pi_cs4433_spark.plans.inspect import (  # noqa: E402
    formatted_plan,
    run_counting_jobs,
)
from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES  # noqa: E402
from mapreducer_pi_cs4433_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--plan-dir", default=None)
    ap.add_argument("--plan-suffix", default="before")
    args = ap.parse_args()

    spark = get_spark("opt-profile")
    spark.sparkContext.setLogLevel("ERROR")
    for name in args.names:
        fn = QUERIES[name]
        samples, jobs = [], []
        for i in range(args.repeats):
            t0 = time.perf_counter()
            df, fn_jobs = run_counting_jobs(
                spark, lambda: fn(spark, args.sf_dir)
            )
            _, exec_jobs = run_counting_jobs(
                spark, lambda: df.write.format("noop").mode("overwrite").save()
            )
            samples.append(round(time.perf_counter() - t0, 3))
            jobs.append(f"{fn_jobs}+{exec_jobs}")
        print(
            f"{name}: min={min(samples)} med={sorted(samples)[len(samples)//2]}"
            f" samples={samples} fn_jobs+exec_jobs={jobs}",
            flush=True,
        )
        if args.plan_dir:
            os.makedirs(args.plan_dir, exist_ok=True)
            out = os.path.join(
                args.plan_dir, f"{name}_{args.plan_suffix}.txt"
            )
            with open(out, "w") as fh:
                fh.write(formatted_plan(fn(spark, args.sf_dir)))
            print(f"  plan -> {out}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
