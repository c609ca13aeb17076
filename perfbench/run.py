"""spark-graft benchmark: one workload per process, from the checkout root.

    python3 perfbench/run.py --workload llm_pipeline --seed 1 --seconds 10 --trace 0

The run generates its tables (``datagen``; the same tables every run, the
seed sets the query order of each pass and the ingest chunk cuts), starts
the session through ``session.get_spark`` with ``SPARK_GRAFT_CPUS`` and
``SPARK_GRAFT_SHUFFLE_PARTITIONS`` set to the cores this process may use
and every other session setting at the package default, sets the workload
up, makes one cold pass, checks every output, and then measures whole
warm passes until ``--seconds`` have gone by, and at least two;
``ingest``, whose passes each land one chunk, makes at most three. Every
file it writes lives in a per-run directory under ``.perfbench/`` that is
removed on exit; a traced run also leaves its spans in
``.perfbench/traces/``.

Standard output: a host line, one line per end-to-end metric, and as the
last line one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
runs one traced pass between two untraced ones after the cold pass and
reports the per-layer metrics, including the tracing overhead (traced pass
wall minus the mean untraced pass wall).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "mapreducer_pi_cs4433_spark"
WORKLOADS = ("relational", "llm_pipeline", "ingest")
SF = 0.001
DATA_SEED = 42
_MB = 2**20

END_TO_END = {
    "setup_s": "s",
    "query_p50_s": "s",
    "queries_per_s": "1/s",
    "batch_p50_s": "s",
}
# Printed beside the end-to-end metrics where the workload has them and
# reported among the per-layer metrics. query_p90_s is here because a run
# holds 22 to 45 query ops, so only two to five lie beyond it.
WORKLOAD_LEVEL = {
    "query_p90_s": "s",
    "ingest_rows_per_s": "rows/s",
    "error_rate": "ratio",
    "artifact_mb": "MB",
    "write_amp": "ratio",
}


def log(*parts) -> None:
    print("perfbench:", *parts, file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_record(seed: int) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "seed": seed,
        "load1_start": os.getloadavg()[0],
        "cpu_start": cpu_times(),
    }


def cpu_times() -> list[int]:
    """The host's aggregate CPU counters (user ... steal), in ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def end_host_record(host: dict) -> None:
    """Add the end-of-run load and the share of CPU time the hypervisor
    gave to other guests (steal) while the run went on."""
    host["load1_end"] = os.getloadavg()[0]
    delta = [b - a for a, b in zip(host.pop("cpu_start"), cpu_times())]
    host["steal_pct"] = 100 * delta[7] / max(sum(delta), 1)


def set_env(run_dir: str) -> None:
    """Point every writer of the session into ``run_dir``, make the
    package importable by Python workers and set the session's cores and
    shuffle partitions."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc()),
        # At the package's 32 shuffle partitions every stateful-stream
        # trigger runs 32 Python state tasks per micro-batch: an ingest
        # chunk takes about 16 s on 4 cores against about 4 s at one
        # partition per core, and the runs of both workloads would not fit
        # the benchmark's time budget. Every workload gets the same value.
        SPARK_GRAFT_SHUFFLE_PARTITIONS=str(nproc()),
        SPARK_GRAFT_INDEX_DIR=os.path.join(run_dir, "indexes"),
        # no hsperfdata file under the system /tmp
        SPARK_GRAFT_DRIVER_JAVA_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    # spark-warehouse, metastore_db and derby.log land in the cwd
    os.chdir(run_dir)


def quantile(values: list[float], q: float) -> float:
    s = sorted(values)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Context:
    def __init__(self, run_dir: str, seed: int):
        self.run_dir = run_dir
        self.seed = seed
        self.data_dir = os.path.join(run_dir, "data")
        self.index_dir = os.environ["SPARK_GRAFT_INDEX_DIR"]


def layer_metrics(spans: list[dict]) -> dict[str, float]:
    """queries.*, exec.* and spark.* summed over the traced pass."""
    from perfbench.spark_trace import STAGE_FIELDS

    out: dict[str, float] = {}
    for layer, key in (("queries.fn", "queries.fn_"), ("exec", "exec.")):
        sp = [s for s in spans if s["name"] == layer]
        jobs = [j for s in sp for j in s.get("jobs", [])]
        out[key + "s"] = sum(s["wall"] for s in sp)
        out[key + "jobs"] = len(jobs)
        out[key + "stages"] = sum(j["stages"] for j in jobs)
        out[key + "driver_gap_s"] = sum(s["self"] for s in sp)
        if layer == "exec":
            out["exec.tasks"] = sum(j["tasks"] for j in jobs)
    all_jobs = [j for s in spans for j in s.get("jobs", [])]
    for key in STAGE_FIELDS:
        out[f"spark.{key}"] = sum(j[key] for j in all_jobs)
    return out


def per_layer(wl, traced: dict, untraced: list[dict], spans: list[dict], common: dict) -> dict:
    from perfbench.workloads import ARTIFACT_KINDS, STREAM_KEYS, STREAM_MODULES

    m = dict(common)
    m.update(layer_metrics(spans))
    m["artifacts.build_s"] = sum(wl.build_s.values())
    for kind in ARTIFACT_KINDS:
        m[f"artifacts.build_s.{kind}"] = wl.build_s.get(kind, 0.0)
    for mod in STREAM_MODULES:
        stream = traced.get("streams", {}).get(mod, {})
        for key in STREAM_KEYS:
            m[f"streaming.{mod}.{key}"] = stream.get(key, 0)
    m["sinks.mb_written"] = traced.get("sink_bytes", 0) / _MB
    m["sinks.files_written"] = traced.get("sink_files", 0)
    untraced_s = statistics.mean(p["wall"] for p in untraced)
    m["trace.overhead_s"] = traced["wall"] - untraced_s
    m["trace.overhead_pct"] = 100 * m["trace.overhead_s"] / untraced_s
    return m


def execute(args, run_dir: str) -> tuple[dict, dict]:
    """Run one workload; returns (result line, host record)."""
    from pyspark.sql import SparkSession  # noqa: F401  (fail early without pyspark)

    from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES
    from mapreducer_pi_cs4433_spark.schemas import DRIVER_TABLES
    from mapreducer_pi_cs4433_spark.session import get_spark
    from perfbench import checks, datagen, workloads
    from perfbench.spark_trace import Tracer

    host = host_record(args.seed)
    ctx = Context(run_dir, args.seed)
    datagen.write_tables(ctx.data_dir, SF, DATA_SEED)

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.workload == "ingest":
            wl = workloads.IngestWorkload(ctx)
        elif args.workload == "llm_pipeline":
            wl = workloads.QueryWorkload(ctx, workloads.LLM_QUERIES, workloads.ARTIFACT_KINDS)
        else:
            names = [n for n in QUERIES if n.startswith(workloads.RELATIONAL_PREFIXES)]
            wl = workloads.QueryWorkload(ctx, names, [])
        t0 = time.perf_counter()
        wl.setup(spark)
        setup_s = session_s + time.perf_counter() - t0
        log(f"setup {setup_s:.2f} s (session {session_s:.2f} s)",
            {k: round(v, 2) for k, v in wl.build_s.items()})

        rng = random.Random(args.seed)
        untraced = Tracer(spark, enabled=False)
        if args.workload == "ingest":
            chunks = iter(range(workloads.INGEST_CHUNKS))
            run_pass = lambda tracer: wl.run_pass(spark, tracer, next(chunks))  # noqa: E731
            cold = run_pass(untraced)
            warm_s, failures = cold["wall"], []
            # the cold pass's ops; the store checks follow the warm passes
            n_checks, cold_failed = cold["attempted"], cold["failed"]
            max_passes = workloads.INGEST_CHUNKS - 1
        else:
            run_pass = lambda tracer: wl.run_pass(  # noqa: E731
                spark, tracer, rng.sample(wl.names, len(wl.names)))
            t0 = time.perf_counter()
            checker = checks.OracleChecker(ROOT, ctx.data_dir, list(DRIVER_TABLES))
            try:
                warm_s, failures = wl.check_pass(
                    spark, rng.sample(wl.names, len(wl.names)), checker)
            finally:
                checker.close()
            n_checks, cold_failed = len(wl.names), 0
            max_passes = None
            log(f"checks {time.perf_counter() - t0:.2f} s")
        log(f"cold pass {warm_s:.2f} s")

        traced_tracer = None
        if args.trace:
            # the traced pass runs between two untraced ones (in the same
            # order for the query workloads), so that its overhead leaves
            # out the warm-up that goes on from one pass to the next
            traced_tracer = Tracer(spark, enabled=True)
            state = rng.getstate()
            before = run_pass(untraced)
            rng.setstate(state)
            traced = run_pass(traced_tracer)
            traced_tracer.resolve()
            rng.setstate(state)
            passes = [traced, before, run_pass(untraced)]
        else:
            # whole passes until --seconds have gone by, and at least two,
            # so that a run's median batch rests on more than one
            passes = []
            while len(passes) != max_passes and (
                    len(passes) < 2 or sum(p["wall"] for p in passes) < args.seconds):
                passes.append(run_pass(untraced))
        log("passes", [round(p["wall"], 2) for p in passes])
        for p in passes:
            if "order" in p:
                log("ops", [(n, round(q, 3)) for n, q in zip(p["order"], p["queries"])])
        if args.workload == "ingest":
            failures += wl.check_stores(spark)
            n_checks += 2

        attempted = n_checks + sum(p["attempted"] for p in passes)
        failed = len(failures) + cold_failed + sum(p["failed"] for p in passes)
        for line in failures:
            print(f"check failed: {line}", file=sys.stderr)
        measured = passes[:1] if args.trace else passes
        qs = [q for p in measured for q in p["queries"]]
        walls = sum(p["wall"] for p in measured)
        e2e = {
            "setup_s": setup_s,
            "query_p50_s": statistics.median(qs),
            "queries_per_s": len(qs) / walls,
            "batch_p50_s": statistics.median(b for p in measured for b in p["batches"]),
        }
        ingest = args.workload == "ingest"
        batch_walls = sum(b for p in measured for b in p["batches"])
        # None where the workload has no such thing; per-layer reports 0
        level = {
            "query_p90_s": quantile(qs, 0.9),
            # rows over the time the chunks' triggers took, read-backs aside
            "ingest_rows_per_s": sum(p["rows"] for p in measured) / batch_walls if ingest else None,
            "error_rate": failed / attempted,
            "artifact_mb": wl.artifact_bytes / _MB if wl.build_s else None,
            "write_amp": wl.write_amp() if ingest else None,
        }
        counts = {"query_p50_s": f"{len(qs)} queries", "query_p90_s": f"{len(qs)} queries",
                  "batch_p50_s": f"{sum(len(p['batches']) for p in measured)} batches"}
        for name, unit in [*END_TO_END.items(), *WORKLOAD_LEVEL.items()]:
            value = e2e.get(name, level.get(name))
            over = f" over {counts[name]}" if name in counts else ""
            shown = "n/a" if value is None else f"{value:.6g} {unit}{over}"
            print(f"metric {name} = {shown}")

        if args.trace:
            common = {
                "session.get_spark_s": session_s,
                "session.jvm_peak_rss_mb": jvm_peak_rss_mb(spark),
                "warmup.pass_s": warm_s,
                **{k: v or 0.0 for k, v in level.items()},
            }
            metrics = per_layer(wl, passes[0], passes[1:], traced_tracer.spans, common)
            units = {k: layer_unit(k) for k in metrics}
        else:
            metrics, units = e2e, END_TO_END
        end_host_record(host)
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        if traced_tracer is not None:
            out = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(out, exist_ok=True)
            traced_tracer.write(
                os.path.join(out, f"{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "host": host, "setup_s": setup_s,
                 "session_s": session_s, "build_s": wl.build_s, "warmup_s": warm_s,
                 "untraced_pass_s": [p["wall"] for p in passes[1:]]},
            )
        return result, host
    finally:
        stop_session(spark)


def stop_session(spark) -> None:
    """Stop the session, close the Py4J gateway and wait until its JVM has
    exited: the JVM quits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)


def layer_unit(name: str) -> str:
    if name in WORKLOAD_LEVEL:
        return WORKLOAD_LEVEL[name]
    if name.endswith("_pct"):
        return "%"
    if name.endswith("_mb") or name == "sinks.mb_written":
        return "MB"
    if name.endswith("_s") or ".build_s" in name or name == "exec.s":
        return "s"
    if name.endswith("_rows"):
        return "rows"
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in (PACKAGE, "tools/full_oracle_check.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {', '.join(missing)} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(run_dir)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        set_env(run_dir)
        result, host = execute(args, run_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    print("host " + json.dumps(host))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
