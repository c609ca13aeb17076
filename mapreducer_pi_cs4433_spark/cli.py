"""Command-line surface mirroring the reference's job launcher.

Reference usage (README.md:96):
    hadoop jar CS4433_Project1.jar <TaskClass> <inputs...> <output>

Here:
    python -m mapreducer_pi_cs4433_spark.cli taskA <pages.csv> <out_dir>
    python -m mapreducer_pi_cs4433_spark.cli taskB <access.csv> <pages.csv> <out_dir>
    ... (taskA..taskH, wordcount, pi)

Output is written as tab-separated text like the reference's part-r-* files,
but partitioned (no forced single reducer — SURVEY.md §4 R8 is an
anti-scale pattern; pass --single-file to coalesce when a small result
wants one file). Task A's off-by-one argument quirk (TaskA.java:51,67) is
deliberately NOT replicated.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import DataFrame

from .functions import dedup as fdedup
from .functions import hnsw as fhnsw
from .functions import similarity as fsim
from .functions.artifacts import scan_num_rows
from .operators import social
from .queries import extensions as qext
from .queries import sketches as qsk
from .queries.catalog import QUERIES
from .session import get_spark
from .sources import loaders


def _write(df: DataFrame, out: str, single_file: bool, output_format: str) -> None:
    from .sources import sinks

    if single_file:
        df = df.coalesce(1)
    if output_format == "parquet":
        df.write.mode("overwrite").parquet(out)
    elif output_format == "orc":
        sinks.write_orc(df, out)
    elif output_format == "jsonl":
        sinks.write_jsonl(df, out)
    else:
        sinks.write_tsv(df, out)


def _docs(spark, sf_dir: str) -> DataFrame:
    return loaders.load_table(spark, sf_dir, "documents")


def _emb(spark, sf_dir: str) -> DataFrame:
    return loaders.load_table(spark, sf_dir, "embeddings")


# The corpus BUILD step, one entry per --kinds name, in build order ("all"
# runs every entry). Each step returns the (label, table) pairs it built.
# Canonical build params come FROM the catalog queries (the artifact
# consumers), so the ops build step and the query path always resolve to
# the same artifact keys; pinned by tests/test_extensions.py::
# test_build_index_prebuilds_exactly_what_queries_consume.
_INDEX_STEPS = {
    "minhash": lambda s, d: [
        ("minhash", fdedup.ensure_minhash_signatures(s, _docs(s, d), d, k=qext._SHINGLE_K))
    ],
    "postings": lambda s, d: [
        ("postings", fdedup.ensure_postings(s, _docs(s, d), d, k=qext._SHINGLE_K))
    ],
    "posshingle": lambda s, d: [
        ("posshingle", fdedup.ensure_positional_shingles(s, _docs(s, d), d, k=qext._SPAN_K))
    ],
    "pairs": lambda s, d: [
        ("pairs", fdedup.ensure_neardup_pairs(s, _docs(s, d), d, k=qext._SHINGLE_K))
    ],
    "components": lambda s, d: [
        ("components", fdedup.ensure_neardup_components(s, _docs(s, d), d, k=qext._SHINGLE_K))
    ],
    "ivf": lambda s, d: [
        ("ivf", fsim.ensure_ivf_index(s, _emb(s, d), d, planes=qext._IVF_PLANES))
    ],
    "pq": lambda s, d: [
        (
            "pq",
            fsim.ensure_pq_artifacts(
                s, _emb(s, d), d, m=qext._PQ_M, k=qext._PQ_CODE_K, sample_rows=qext._PQ_SAMPLE
            )[1],
        )
    ],
    "ivfpq": lambda s, d: [
        (
            "ivfpq",
            fsim.ensure_ivfpq_codes(
                s, _emb(s, d), d,
                m=qext._PQ_M, k=qext._PQ_CODE_K, sample_rows=qext._PQ_SAMPLE,
                planes=qext._IVF_PLANES,
            ),
        )
    ],
    # the assignment, and the k*d centroid 'model' the streaming assigner
    # broadcasts (streaming/enrich.py)
    "semantic": lambda s, d: [
        ("semantic", fsim.ensure_kmeans_assignment(s, _emb(s, d), d, k=qext._KMEANS_K)),
        ("semantic_cent", fsim.ensure_kmeans_centroids(s, _emb(s, d), d, k=qext._KMEANS_K)),
    ],
    "hnsw": lambda s, d: [("hnsw", fhnsw.ensure_hnsw_index(s, _emb(s, d), d, n_shards=4))],
    # the edge list and degree table every iterative graph query reads
    "graph": lambda s, d: [
        ("graph", qext.ensure_graph_edges(s, d)),
        ("graph_deg", qext.ensure_graph_degree(s, d)),
    ],
    # the supplier support-pair table (graph_triangle_count) and the
    # (order, brand) basket table (basket_brand_pairs)
    "cooccur": lambda s, d: [
        ("cooccur_supp", qext.ensure_cooccur_supp_support(s, d)),
        ("basket_ob", qext.ensure_basket_order_brand(s, d)),
    ],
    # the decontamination pair list; the query entry reads this table
    "decontam": lambda s, d: [("decontam", qext.decontaminate_training_set(s, d))],
    # the sketch cell and snapshot tables the sketch queries read
    "hll_cells": lambda s, d: [("hll_cells", qsk._hll_day_cells(s, d))],
    "kll_cells": lambda s, d: [("kll_cells", qsk._kll_day_cells(s, d))],
    "kmv_years": lambda s, d: [("kmv_years", qsk._kmv_year_samples(s, d))],
    "hll_years": lambda s, d: [("hll_years", qsk._hll_year_regs(s, d))],
    # running these query functions builds their layout artifacts (the
    # DPP year-partitioned fact and the two schema_evo generations)
    "layout": lambda s, d: [
        ("layout_dpp", QUERIES["layout_partition_pruned_rollup"](s, d)),
        ("schema_evo", QUERIES["source_schema_evolution"](s, d)),
    ],
}


def _build_index(spark, sf_dir: str, kinds_csv: str) -> int:
    """Run the corpus BUILD step: materialize every shared artifact table
    of the named kinds (comma list, or "all") once so interactive/query
    runs are pure readers. This is the ops surface of the build-once/reuse
    lifecycle in functions/artifacts.py — at 100 TB these builds are
    scheduled jobs that run on corpus ingest, not work any query should
    repeat. An unknown kind builds nothing and returns 2."""
    if kinds_csv == "all":
        kinds = set(_INDEX_STEPS)
    else:
        kinds = {k.strip() for k in kinds_csv.split(",") if k.strip()}
    unknown = sorted(kinds - _INDEX_STEPS.keys())
    if unknown:
        print(
            f"build-index: unknown kind(s) {', '.join(unknown)}; valid kinds: "
            f"all, {', '.join(_INDEX_STEPS)}",
            file=sys.stderr,
        )
        return 2
    built = [
        pair
        for kind, step in _INDEX_STEPS.items()
        if kind in kinds
        for pair in step(spark, sf_dir)
    ]
    for kind, df in built:
        print(f"build-index: {kind} ready ({scan_num_rows(df)} rows)")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="mapreducer_pi_cs4433_spark",
        description="PySpark re-implementation of the reference's analytics tasks",
    )
    p.add_argument("--single-file", action="store_true", help="coalesce output to one file")
    p.add_argument(
        "--output-format",
        choices=["tsv", "parquet", "orc", "jsonl"],
        default="tsv",
        help="tsv mirrors the reference's part-r-* text files; parquet/orc "
        "are the columnar forms downstream Spark jobs should prefer; jsonl "
        "is the corpus-interchange line format",
    )
    sub = p.add_subparsers(dest="task", required=True)

    sp = sub.add_parser("taskA", help="filter by nationality -> (Name, Hobby)")
    sp.add_argument("pages")
    sp.add_argument("out")
    sp.add_argument("--nationality", default="Russia")

    for name, inputs in [
        ("taskB", ["access_logs", "pages"]),
        ("taskC", ["pages"]),
        ("taskD", ["pages", "friends"]),
        ("taskE", ["pages", "access_logs"]),
        ("taskF", ["pages", "friends", "access_logs"]),
        ("taskG", ["pages", "access_logs"]),
        ("taskH", ["pages", "friends"]),
    ]:
        sp = sub.add_parser(name)
        for i in inputs:
            sp.add_argument(i)
        sp.add_argument("out")

    sp = sub.add_parser("wordcount")
    sp.add_argument("corpus")
    sp.add_argument("out")

    sp = sub.add_parser("pi")
    sp.add_argument("--samples", type=int, default=1_000_000)
    sp.add_argument("--partitions", type=int, default=32)
    sp.add_argument("--seed", type=int, default=42)

    sp = sub.add_parser(
        "build-index",
        help="prebuild the shared corpus artifacts (MinHash signatures, "
        "shingle postings, verified near-dup pairs, components, IVF/PQ "
        "vector indexes, graph tables) so query runs only read them",
    )
    sp.add_argument("sf_dir", help="corpus dir holding the parquet tables")
    sp.add_argument(
        "--kinds",
        default="all",
        help=f"comma list from: {', '.join(_INDEX_STEPS)} (default: all)",
    )

    sp = sub.add_parser(
        "sql",
        help="run an ANSI SQL statement over the star-schema tables "
        "(region nation customer supplier part orders lineitem events "
        "documents embeddings registered as views)",
    )
    sp.add_argument("sf_dir", help="corpus dir holding the parquet tables")
    sp.add_argument("statement", help="SQL text, e.g. 'SELECT count(*) FROM orders'")
    sp.add_argument("out", nargs="?", help="output dir (omit to print)")
    sp.add_argument(
        "--show", type=int, default=20, help="max rows to print when no out dir"
    )

    sp = sub.add_parser(
        "query",
        help="run a named catalog query (use 'list' to enumerate names)",
    )
    sp.add_argument("name", help="catalog query name, or 'list'")
    sp.add_argument("sf_dir", nargs="?", help="corpus dir (required unless 'list')")
    sp.add_argument("out", nargs="?", help="output dir (omit to print)")
    sp.add_argument(
        "--show", type=int, default=20, help="max rows to print when no out dir"
    )

    args = p.parse_args(argv)

    # exit-code fidelity: a missing input path is exit 2 with a one-line
    # message (the reference's hadoop job dies with a stack trace; a CLI
    # should say which path is wrong). Scheme-less LOCAL paths only: any
    # URI (hdfs://, s3a://, file:...) is for Spark's Hadoop FileSystem to
    # resolve — os.path.exists would wrongly reject every valid remote path.
    import os

    for name in ("pages", "friends", "access_logs", "corpus"):
        path = getattr(args, name, None)
        if path is not None and "://" not in path and not os.path.exists(path):
            print(f"{args.task}: input not found: {path}", file=sys.stderr)
            return 2

    if args.task == "build-index" and not os.path.isdir(args.sf_dir):
        print(f"build-index: corpus dir not found: {args.sf_dir}", file=sys.stderr)
        return 2

    if args.task == "query" and args.name == "list":
        # no session needed to enumerate — keep `query list` instant
        for name in QUERIES:
            print(name)
        return 0

    if args.task in ("sql", "query"):
        sf_dir = args.sf_dir
        if sf_dir is None:
            print(f"{args.task}: sf_dir is required", file=sys.stderr)
            return 2
        if "://" not in sf_dir and not os.path.isdir(sf_dir):
            print(f"{args.task}: corpus dir not found: {sf_dir}", file=sys.stderr)
            return 2

    spark = get_spark(f"cli-{args.task}")

    if args.task in ("sql", "query"):
        if args.task == "sql":
            loaders.register_views(spark, args.sf_dir)
            df = spark.sql(args.statement)
        elif args.name not in QUERIES:
            print(
                f"query: unknown name {args.name!r} (try 'query list')",
                file=sys.stderr,
            )
            return 2
        else:
            df = QUERIES[args.name](spark, args.sf_dir)
        if args.out:
            _write(df, args.out, args.single_file, args.output_format)
            print(f"{args.task}: wrote {df.columns} to {args.out}")
        else:
            print("\t".join(df.columns))
            for row in df.limit(args.show).collect():
                print("\t".join("" if v is None else str(v) for v in row))
        return 0

    if args.task == "build-index":
        return _build_index(spark, args.sf_dir, args.kinds)

    if args.task == "pi":
        from .pi import estimate_pi

        est = estimate_pi(spark, args.samples, args.partitions, args.seed)
        print(f"pi is roughly {est}")
        return 0

    load = {
        "pages": loaders.load_pages,
        "friends": loaders.load_friends,
        "access_logs": loaders.load_access_logs,
    }

    if args.task == "taskA":
        df = social.filter_by_nationality(
            load["pages"](spark, args.pages), args.nationality
        )
    elif args.task == "taskB":
        df = social.page_access_counts(
            load["access_logs"](spark, args.access_logs),
            load["pages"](spark, args.pages),
        )
    elif args.task == "taskC":
        df = social.nationality_counts(load["pages"](spark, args.pages))
    elif args.task == "taskD":
        df = social.friend_in_degree(
            load["pages"](spark, args.pages), load["friends"](spark, args.friends)
        )
    elif args.task == "taskE":
        df = social.activity_summary(
            load["pages"](spark, args.pages),
            load["access_logs"](spark, args.access_logs),
        )
    elif args.task == "taskF":
        df = social.unvisited_friend_owners(
            load["pages"](spark, args.pages),
            load["friends"](spark, args.friends),
            load["access_logs"](spark, args.access_logs),
        )
    elif args.task == "taskG":
        df = social.stale_or_disconnected(
            load["pages"](spark, args.pages),
            load["access_logs"](spark, args.access_logs),
        )
    elif args.task == "taskH":
        df = social.above_average_connectors(
            load["pages"](spark, args.pages), load["friends"](spark, args.friends)
        )
    elif args.task == "wordcount":
        df = social.word_count(loaders.load_corpus(spark, args.corpus))
    else:  # pragma: no cover
        p.error(f"unknown task {args.task}")
        return 2

    _write(df, args.out, args.single_file, args.output_format)
    # empty results are FLAGGED on stderr but still exit 0 — the reference
    # silently writes empty part files, and a non-zero code would break
    # pipelines that legitimately expect empty (e.g. Task F on a
    # fully-visited graph). isEmpty() probes the first partition only —
    # no full recount of a large output.
    if df.isEmpty():
        print(f"{args.task}: result is EMPTY ({args.out})", file=sys.stderr)
    print(f"{args.task}: wrote {df.columns} to {args.out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
