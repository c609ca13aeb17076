"""The benchmark's workloads.

Each workload is a closed loop with one client: the next call into the
package starts only after the previous one returned. A run sets the
workload up, makes one cold pass that also checks every output, then
times warm passes. A pass is a fixed unit of work whose order the seed
sets, so every run measures the same work:

- query workloads (``relational``, ``llm_pipeline``): every query once,
  each one an op of two calls, the query function (``queries.fn``:
  building the plan plus its eager driver actions) and the forced
  ``noop`` write of the returned plan (``exec``);
- ``ingest``: one event stream per run. The events, cut by the seed into
  time-ordered chunks, land one chunk per pass in a parquet source; one
  ``availableNow`` trigger of ``streaming.hll_cells`` and one of
  ``streaming.merge_sink`` over it form the pass's batch op; then the
  client reads both stores back ``INGEST_READS`` times, and these
  read-backs are the query ops. The cold pass is the first such pass.
"""

from __future__ import annotations

import contextlib
import datetime
import os
import random
import shutil
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from perfbench.spark_trace import Tracer

RELATIONAL_PREFIXES = ("task_", "wordcount", "pi_", "olap_", "window_")

# 11 LLM-pipeline queries from eight of the eleven families (no image_*,
# item_* or mine_*): every artifact kind built in set-up is read by at
# least one (pairs: dedup_ngram_jaccard, pipeline_clean_corpus,
# dedup_clusters; components: dedup_keeper_selection; postings:
# dedup_prefix_filter; graph: graph_kcore_census; minhash underlies pairs),
# and two fixpoints run many eager jobs (dedup_clusters,
# graph_kcore_census). A warm pass is about 5 s on 4 cores. With 11
# queries of well-spread latencies, a run's median op and its 90th
# percentile fall inside the repeats of one query (the 6th and the 10th
# fastest) for two to five passes.
LLM_QUERIES = [
    "text_quality",
    "dedup_ngram_jaccard",
    "embedding_centroids",
    "er_fuzzy_name_pairs",
    "dedup_keeper_selection",
    "similarity_topk_bruteforce",
    "search_bm25_topk",
    "pipeline_clean_corpus",
    "dedup_prefix_filter",
    "dedup_clusters",
    "graph_kcore_census",
]
# cli._build_index kinds the LLM queries read, in build order
ARTIFACT_KINDS = ["minhash", "postings", "pairs", "components", "graph"]

# the cold pass's chunk and one chunk for each of at most three warm passes
INGEST_CHUNKS = 4
# read-backs after each chunk, each one op reading both stores
INGEST_READS = 15
STREAM_MODULES = ("hll_cells", "merge_sink")
# per-stream totals read from StreamingQuery.recentProgress
STREAM_KEYS = ("trigger_s", "add_batch_s", "input_rows", "state_rows", "state_mb",
               "rows_dropped_by_watermark")


def failure_line() -> str:
    """Print the exception being handled, with its traceback, to stderr and
    return its first line."""
    traceback.print_exc(file=sys.stderr)
    ex = sys.exc_info()[1]
    return f"{type(ex).__name__}: {ex}".splitlines()[0][:300]


def dir_bytes_files(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    total = files = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(base, n))
            files += n.endswith(".parquet")
    return total, files


class QueryWorkload:
    """A fixed set of catalog queries over the generated tables."""

    def __init__(self, ctx, names: list[str], kinds: list[str]):
        self.ctx = ctx
        self.names = names
        self.kinds = kinds
        self.build_s: dict[str, float] = {}
        self.artifact_bytes = 0

    def setup(self, spark) -> None:
        """Build the artifact tables the queries read (llm_pipeline)."""
        from mapreducer_pi_cs4433_spark.cli import _build_index

        for kind in self.kinds:
            t0 = time.perf_counter()
            with contextlib.redirect_stdout(sys.stderr):
                _build_index(spark, self.ctx.data_dir, kind)
            self.build_s[kind] = time.perf_counter() - t0
        if self.kinds:
            self.artifact_bytes = dir_bytes_files(self.ctx.index_dir)[0]

    def check_pass(self, spark, order: list[str], checker) -> tuple[float, list[str]]:
        """Cold pass: run and collect every query, compare with its twin.
        The comparisons run on one worker thread, overlapped with the next
        query's Spark work, which keeps the run inside its time budget.
        Returns (Spark seconds, failure lines)."""
        from mapreducer_pi_cs4433_spark.queries.catalog import ORACLE, QUERIES

        spark_s, failures, pending = 0.0, [], []
        with ThreadPoolExecutor(max_workers=1) as pool:
            for name in order:
                t0 = time.perf_counter()
                try:
                    df = QUERIES[name](spark, self.ctx.data_dir)
                    rows = [tuple(r) for r in df.collect()]
                    pending.append((name, pool.submit(checker.check, name, df.columns, rows, ORACLE)))
                except Exception:  # a failing query is a result, not a crash
                    failures.append(f"{name}: {failure_line()}")
                spark_s += time.perf_counter() - t0
        for name, fut in pending:
            try:
                why = fut.result()
            except Exception:
                why = failure_line()
            if why:
                failures.append(f"{name}: {why}")
        return spark_s, failures

    def run_pass(self, spark, tracer: Tracer, order: list[str]) -> dict:
        from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES

        queries, failed = [], 0
        with tracer.span("pass") as p:
            for name in order:
                with tracer.span("op", query=name) as op:
                    try:
                        with tracer.span("queries.fn", spark_group=True, query=name):
                            df = QUERIES[name](spark, self.ctx.data_dir)
                        with tracer.span("exec", spark_group=True, query=name):
                            df.write.format("noop").mode("overwrite").save()
                    except Exception:
                        failed += 1
                        print(f"op {name} failed: {failure_line()}", file=sys.stderr)
                queries.append(op["wall"])
        # a query client's batch is one pass over every query
        return {"wall": p["wall"], "queries": queries, "batches": [p["wall"]],
                "failed": failed, "attempted": len(order), "order": order}


class IngestWorkload:
    """One event stream per run, fed chunk by chunk through two streams,
    with store read-backs after every chunk."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.chunks: list[str] = []
        self.chunk_rows: list[int] = []
        self.schema = None
        self.build_s: dict[str, float] = {}
        self.artifact_bytes = 0
        base = os.path.join(ctx.run_dir, "ingest")
        self.dirs = {k: os.path.join(base, k) for k in ("ck_hll", "ck_cdc", "cells", "state")}
        self.dirs["src"] = os.path.join(base, "src", "events.parquet")
        self.in_bytes = 0

    def setup(self, spark) -> None:
        """Stage the chunk files: the events, in time order, cut at
        seed-chosen boundaries (each chunk 0.95-1.05x the mean size)."""
        import pyarrow.parquet as pq

        events = pq.read_table(os.path.join(self.ctx.data_dir, "events.parquet"))
        rng = random.Random(self.ctx.seed)
        sizes = [rng.uniform(0.95, 1.05) for _ in range(INGEST_CHUNKS)]
        cuts = [0]
        for s in sizes:
            cuts.append(cuts[-1] + s)
        cuts = [round(c / cuts[-1] * events.num_rows) for c in cuts]
        stage = os.path.join(self.ctx.run_dir, "stage")
        os.makedirs(stage)
        for i in range(INGEST_CHUNKS):
            path = os.path.join(stage, f"chunk-{i:03d}.parquet")
            pq.write_table(events.slice(cuts[i], cuts[i + 1] - cuts[i]), path)
            self.chunks.append(path)
            self.chunk_rows.append(cuts[i + 1] - cuts[i])
        os.makedirs(self.dirs["src"])
        self.schema = spark.read.parquet(self.chunks[0]).schema

    def _stream(self, spark):
        # the loader's rule for naive event timestamps (session is UTC)
        return (
            spark.readStream.schema(self.schema).parquet(self.dirs["src"])
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )

    def _trigger(self, tracer: Tracer, module: str, start, metrics: dict) -> None:
        """Start a stream, wait for its one availableNow trigger and fold
        its progress in."""
        with tracer.span(f"streaming.{module}.trigger") as rec:
            query = start()
            query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        # a stream runs its jobs under its run id as the job group
        rec["group"] = str(query.runId)
        m = metrics[module]
        for prog in query.recentProgress:
            dur = prog["durationMs"]
            m["trigger_s"] += dur.get("triggerExecution", 0) / 1e3
            m["add_batch_s"] += dur.get("addBatch", 0) / 1e3
            m["input_rows"] += prog["numInputRows"]
            ops = prog.get("stateOperators") or []
            m["rows_dropped_by_watermark"] += sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)
            m["state_rows"] = sum(o.get("numRowsTotal", 0) for o in ops)
            m["state_mb"] = sum(o.get("memoryUsedBytes", 0) for o in ops) / 2**20
            # the batch's foreachBatch write, placed at the batch start
            start = datetime.datetime.fromisoformat(prog["timestamp"].replace("Z", "+00:00"))
            tracer.add_span(f"sinks.{module}.write", rec, start.timestamp(),
                            dur.get("addBatch", 0) / 1e3, batch=prog["batchId"])

    def store_bytes_files(self) -> tuple[int, int]:
        """(bytes, parquet files) of the two sinks' stores."""
        (b1, f1), (b2, f2) = dir_bytes_files(self.dirs["cells"]), dir_bytes_files(self.dirs["state"])
        return b1 + b2, f1 + f2

    def write_amp(self) -> float:
        """Bytes on disk under the stores and the stream checkpoints per
        input byte landed so far."""
        written = self.store_bytes_files()[0] + sum(
            dir_bytes_files(self.dirs[k])[0] for k in ("ck_hll", "ck_cdc"))
        return written / self.in_bytes

    def run_pass(self, spark, tracer: Tracer, chunk: int) -> dict:
        """Land one chunk, run one trigger of each stream over it (the
        batch op), then read both stores back ``INGEST_READS`` times (the
        query ops)."""
        from mapreducer_pi_cs4433_spark.streaming.hll_cells import (
            hll_day_cell_stream,
            read_hll_day_cells,
            write_hll_day_cells,
        )
        from mapreducer_pi_cs4433_spark.streaming.merge_sink import (
            apply_cdc_stream,
            read_state,
        )

        d = self.dirs
        metrics = {m: dict.fromkeys(STREAM_KEYS, 0) for m in STREAM_MODULES}
        sink_before = self.store_bytes_files()
        queries, failed = [], 0
        with tracer.span("pass") as p:
            shutil.copy(self.chunks[chunk], d["src"])
            self.in_bytes += os.path.getsize(self.chunks[chunk])
            with tracer.span("batch", chunk=chunk) as b:
                try:
                    self._trigger(tracer, "hll_cells", lambda: (
                        hll_day_cell_stream(self._stream(spark))
                        .writeStream.foreachBatch(lambda df, _bid: write_hll_day_cells(df, d["cells"]))
                        .outputMode("append")
                        .option("checkpointLocation", d["ck_hll"])
                        .trigger(availableNow=True)
                        .start()
                    ), metrics)
                    self._trigger(tracer, "merge_sink", lambda: apply_cdc_stream(
                        self._stream(spark), d["state"], d["ck_cdc"]
                    ), metrics)
                except Exception:
                    failed += 1
                    print(f"chunk {chunk} failed: {failure_line()}", file=sys.stderr)
            for _ in range(INGEST_READS):
                with tracer.span("op", query="read_back") as op:
                    try:
                        with tracer.span("queries.fn", spark_group=True, query="read_back"):
                            dfs = [read_hll_day_cells(spark, d["cells"]), read_state(spark, d["state"])]
                        with tracer.span("exec", spark_group=True, query="read_back"):
                            for df in dfs:
                                df.write.format("noop").mode("overwrite").save()
                    except Exception:
                        failed += 1
                        print(f"read_back failed: {failure_line()}", file=sys.stderr)
                queries.append(op["wall"])
        sink_after = self.store_bytes_files()
        return {"wall": p["wall"], "queries": queries, "batches": [b["wall"]],
                "failed": failed, "attempted": 1 + INGEST_READS, "rows": self.chunk_rows[chunk],
                "streams": metrics, "sink_bytes": sink_after[0] - sink_before[0],
                "sink_files": sink_after[1] - sink_before[1]}

    def check_stores(self, spark) -> list[str]:
        """The streamed stores against their batch twins over the events
        landed so far: closed HLL day cells against ``_hll_day_cells``,
        the CDC state against the latest version and change count per
        user."""
        from mapreducer_pi_cs4433_spark.queries.sketches import _hll_day_cells
        from mapreducer_pi_cs4433_spark.sources.loaders import invalidate_table_cache, load_table
        from mapreducer_pi_cs4433_spark.streaming.hll_cells import read_hll_day_cells
        from mapreducer_pi_cs4433_spark.streaming.merge_sink import read_state

        d = self.dirs
        failures = []
        src_dir = os.path.dirname(d["src"])
        # the source gained a chunk since the last check
        invalidate_table_cache(spark, src_dir, "events")
        events = load_table(spark, src_dir, "events")
        max_ts = events.agg(F.max("ts")).first()[0]
        # a (type, day) cell closes once the watermark (max ts - 2 days)
        # passes the end of its day
        closed_before = (max_ts - datetime.timedelta(days=2)).date()
        want = {
            (r.event_type, r.day, r.idx, r.reg_val)
            for r in _hll_day_cells(spark, src_dir).collect()
            if r.day is not None and r.day < closed_before
        }
        got = {
            (r.event_type, r.day, r.idx, r.reg_val)
            for r in read_hll_day_cells(spark, d["cells"]).collect()
        }
        if got != want:
            failures.append(f"hll day cells: {len(got ^ want)} rows differ from the batch twin")
        latest = events.groupBy(F.col("user_id").alias("k")).agg(
            F.max(F.struct(
                F.col("ts").alias("ts"), F.col("event_id").alias("vid"), F.col("event_type"),
                F.round(F.col("value") * 100).cast("long").alias("v_centi"),
            )).alias("cur"),
            F.count(F.lit(1)).alias("n_changes"),
        )
        want_state = {tuple(r) for r in latest.collect()}
        got_state = {tuple(r) for r in read_state(spark, d["state"]).select("k", "cur", "n_changes").collect()}
        if got_state != want_state:
            failures.append(f"cdc state: {len(got_state ^ want_state)} rows differ from the batch twin")
        return failures
