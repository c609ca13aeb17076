"""HNSW-over-partitions: graph-based ANN as a build-once/reuse artifact.

The scale pattern (the one Lucene/segment-HNSW deployments use): hash-shard
the corpus into memory-sized partitions, build an INDEPENDENT hierarchical
navigable-small-world graph per shard with an Arrow-batched grouped-map
(`applyInPandas`), persist `(shard, id, vec, levels, neighbors)` as parquet
partitioned by shard, and answer queries by beam-searching every shard in
parallel and merging per-shard top-k with a driver-side TakeOrdered. A
vector lives in exactly ONE shard, so sharding itself loses no candidates —
total recall is the per-shard graph search recall, and per-shard work is
sub-linear (beam search touches O(ef·M·log n) vectors, not n).

Scale notes:
- Shard size is the memory contract: `target_shard_rows` bounds the
  adjacency + vector block a single Python worker materializes. At 100 TB
  the build is a scheduled ingest job (like the MinHash/IVF/PQ artifacts in
  this package); queries are pure readers.
- The graph build is deterministic: node levels derive from md5(id) (no
  RNG), insertion order is ascending id, and every candidate ordering
  tie-breaks on id — the same corpus always builds byte-identical
  adjacency, so the artifact is reproducible and cache-safe.
- Search is exact *within* the candidate set (true cosine re-rank), so the
  only approximation is graph navigation recall — the dial is `ef_search`.

Why a graph index at all, next to IVF and PQ (`functions/similarity.py`):
bucketed LSH probes trade recall for scan fraction linearly; HNSW's beam
search concentrates work near the query and degrades gracefully on corpora
whose neighbors are far (random embeddings) by raising ef, without
re-partitioning or re-encoding anything.
"""

from __future__ import annotations

import hashlib
import heapq
import math
import sys

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from .artifacts import ensure_table

# The grouped-map closures below call this module's graph kernels
# (_build_shard_graph / _search_layer). By default cloudpickle ships
# module-level functions BY REFERENCE, so an executor Python worker whose
# import path lacks this package (the launching environment doesn't
# guarantee it — see multimodal.extract_features) would fail to unpickle.
# Registering the module for by-value pickling makes every shipped closure
# self-contained.
from pyspark import cloudpickle as _cloudpickle

_cloudpickle.register_pickle_by_value(sys.modules[__name__])

# Graph defaults: M=16 neighbors per node per level (2M at level 0) is the
# standard HNSW operating point; efConstruction=64 keeps the build cheap
# while the 64-dim test corpora stay >=0.9 recall at ef_search=96.
_M = 16
_EF_CONSTRUCTION = 64
# shard size when neither n_shards nor a caller's target sets it
_TARGET_SHARD_ROWS = 4096

INDEX_SCHEMA = StructType(
    [
        StructField("shard", IntegerType(), False),
        StructField("id", LongType(), False),
        StructField("vec", ArrayType(DoubleType()), False),
        StructField("level", IntegerType(), False),
        # neighbors[l] holds the level-l adjacency, flattened as
        # level-major offsets: packed as one list with level fan-out
        # recorded in `offsets` (parquet has no ragged 2-d arrays).
        StructField("neighbors", ArrayType(LongType()), False),
        StructField("offsets", ArrayType(IntegerType()), False),
    ]
)

SEARCH_SCHEMA = StructType(
    [
        StructField("query_id", LongType(), False),
        StructField("id", LongType(), False),
        StructField("cosine_sim", DoubleType(), False),
    ]
)


def _node_level(node_id: int) -> int:
    """Deterministic HNSW level: the standard floor(-ln(u)/ln(M)) draw with
    u derived from md5(id) — no RNG, so rebuilds are byte-identical."""
    h = hashlib.md5(str(int(node_id)).encode()).digest()
    u = (int.from_bytes(h[:8], "big") + 1) / float(1 << 64)  # u in (0, 1]
    return int(-math.log(u) / math.log(_M))


def _normalize(x: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return x / norms


def _search_layer(
    x: np.ndarray,
    adj: list[list[int]],
    q: np.ndarray,
    entries: list[int],
    ef: int,
    stats: dict | None = None,
) -> list[tuple[float, int]]:
    """Beam search one layer: returns up to ef (dist, node) pairs ascending
    by (dist, node). dist = -cosine on the normalized block; neighbor
    distance evals are one vectorized matvec per expansion. `stats`
    (driver-side tests only) accumulates the distance-eval count — the
    sub-linearity evidence."""
    dists = {e: float(-(x[e] @ q)) for e in entries}
    visited = set(entries)
    cand = [(d, e) for e, d in dists.items()]
    heapq.heapify(cand)
    best = [(-d, e) for e, d in dists.items()]  # max-heap of the beam
    heapq.heapify(best)
    while len(best) > ef:
        heapq.heappop(best)
    while cand:
        d_c, c = heapq.heappop(cand)
        if len(best) >= ef and d_c > -best[0][0]:
            break
        fresh = [n for n in adj[c] if n not in visited]
        if not fresh:
            continue
        visited.update(fresh)
        if stats is not None:
            stats["evals"] = stats.get("evals", 0) + len(fresh)
        d_f = -(x[np.asarray(fresh)] @ q)
        for n, d_n in zip(fresh, d_f.tolist()):
            if len(best) < ef or d_n < -best[0][0]:
                heapq.heappush(cand, (d_n, n))
                heapq.heappush(best, (-d_n, n))
                if len(best) > ef:
                    heapq.heappop(best)
    return sorted((-nd, n) for nd, n in best)


def _build_shard_graph(ids: np.ndarray, x: np.ndarray) -> tuple[list[int], list[list[list[int]]]]:
    """Build one shard's HNSW graph. Returns (levels, adjacency) where
    adjacency[i][l] lists the level-l neighbor POSITIONS of node i.
    Deterministic: ascending-id insertion, md5-derived levels, id
    tie-breaks in every ordering."""
    n = len(ids)
    levels = [_node_level(int(i)) for i in ids]
    adj: list[list[list[int]]] = [[[] for _ in range(levels[i] + 1)] for i in range(n)]
    if n == 0:
        return levels, adj
    entry, max_level = 0, levels[0]

    def connect(i: int, j: int, lv: int, cap: int) -> None:
        lst = adj[j][lv]
        lst.append(i)
        if len(lst) > cap:
            # prune to the cap closest (id tie-break) — the standard Mmax
            d = -(x[np.asarray(lst)] @ x[j])
            keep = sorted(zip(d.tolist(), lst))[:cap]
            adj[j][lv] = [p for _, p in keep]

    for i in range(1, n):
        lv = levels[i]
        q = x[i]
        eps = [entry]
        for layer in range(max_level, lv, -1):
            eps = [_search_layer(x, [a[layer] if layer < len(a) else [] for a in adj], q, eps, 1)[0][1]]
        for layer in range(min(lv, max_level), -1, -1):
            layer_adj = [a[layer] if layer < len(a) else [] for a in adj]
            w = _search_layer(x, layer_adj, q, eps, _EF_CONSTRUCTION)
            cap = 2 * _M if layer == 0 else _M
            nbrs = [node for _, node in w[:_M]]
            adj[i][layer] = list(nbrs)
            for j in nbrs:
                connect(i, j, layer, cap)
            eps = [node for _, node in w]
        if lv > max_level:
            entry, max_level = i, lv
    return levels, adj


def _flatten(adj_i: list[list[int]], ids: np.ndarray) -> tuple[list[int], list[int]]:
    """Pack one node's per-level adjacency into (flat neighbor ids,
    per-level offsets) — offsets[l] is the END of level l's slice."""
    flat: list[int] = []
    offsets: list[int] = []
    for lv_list in adj_i:
        flat.extend(int(ids[p]) for p in lv_list)
        offsets.append(len(flat))
    return flat, offsets


def build_hnsw_index(
    df: DataFrame,
    n_shards: int | None = None,
    target_shard_rows: int = _TARGET_SHARD_ROWS,
) -> DataFrame:
    """Shard the corpus and build one HNSW graph per shard via a grouped
    map. ONE shuffle (the shard groupBy); each Python worker sees exactly
    one whole shard as an Arrow batch and never more than
    ~target_shard_rows vectors."""
    import pandas as pd

    if n_shards is None:
        n_shards = max(1, math.ceil(df.count() / target_shard_rows))

    def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
        order = np.argsort(pdf["id"].to_numpy())
        ids = pdf["id"].to_numpy()[order]
        x = _normalize(np.stack(pdf["vec"].to_numpy()[order]).astype(np.float64))
        levels, adj = _build_shard_graph(ids, x)
        flat_nbrs, flat_offs = zip(*(_flatten(adj[i], ids) for i in range(len(ids))))
        return pd.DataFrame(
            {
                "shard": pdf["shard"].iloc[0],
                "id": ids,
                "vec": [list(map(float, v)) for v in x],
                "level": levels,
                "neighbors": list(flat_nbrs),
                "offsets": list(flat_offs),
            }
        )

    shards = df.select(
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_shards)).cast("int").alias("shard"),
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("vec"),
    )
    return shards.groupBy("shard").applyInPandas(build, schema=INDEX_SCHEMA)


def ensure_hnsw_index(
    spark: SparkSession,
    df: DataFrame,
    sf_dir: str,
    n_shards: int | None = None,
) -> DataFrame:
    """Build-once/reuse HNSW artifact, persisted as parquet partitioned by
    shard (the same lifecycle as the MinHash/IVF/PQ artifacts — see
    functions/artifacts.py). On a cluster the table would additionally be
    BUCKETED by shard so the search-time groupBy is exchange-free."""
    kind = f"hnsw_m{_M}_efc{_EF_CONSTRUCTION}_s{n_shards or 'auto'}_t{_TARGET_SHARD_ROWS}"
    return ensure_table(
        spark,
        sf_dir,
        kind,
        lambda: build_hnsw_index(df, n_shards),
        partition_by="shard",
    )


def hnsw_topk(
    index: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    ef_search: int = 96,
) -> DataFrame:
    """Search every shard's graph for every query and merge: per (shard,
    query) the grouped map emits its local top-k, and TakeOrdered keeps the
    global k per query — only n_shards*k*|queries| candidate rows ever
    leave the workers. Queries travel as plan literals inside the closure
    (a handful of 64-dim vectors), the broadcast-side pattern.

    Returns (query_id, id, cosine_sim) rounded to 9 decimals with an id
    tie-break, deterministic given the (deterministic) index."""
    import pandas as pd

    qids = [int(q) for q, _ in queries]
    qmat = _normalize(np.array([v for _, v in queries], dtype=np.float64))

    def search(pdf: "pd.DataFrame") -> "pd.DataFrame":
        order = np.argsort(pdf["id"].to_numpy())
        ids = pdf["id"].to_numpy()[order]
        x = np.stack(pdf["vec"].to_numpy()[order]).astype(np.float64)
        pos = {int(v): i for i, v in enumerate(ids)}
        levels = pdf["level"].to_numpy()[order]
        flat = pdf["neighbors"].to_numpy()[order]
        offs = pdf["offsets"].to_numpy()[order]
        max_level = int(levels.max())
        # entry = max-level node, min id tie-break (same rule as the build)
        entry = int(np.flatnonzero(levels == max_level)[0])
        # unpack per-level adjacency as position lists
        adj_by_level: list[list[list[int]]] = []
        for layer in range(max_level + 1):
            layer_adj: list[list[int]] = []
            for i in range(len(ids)):
                if layer > levels[i]:
                    layer_adj.append([])
                    continue
                lo = 0 if layer == 0 else int(offs[i][layer - 1])
                hi = int(offs[i][layer])
                layer_adj.append([pos[int(nb)] for nb in flat[i][lo:hi]])
            adj_by_level.append(layer_adj)
        out_q, out_id, out_sim = [], [], []
        for qi, q in zip(qids, qmat):
            eps = [entry]
            for layer in range(max_level, 0, -1):
                eps = [_search_layer(x, adj_by_level[layer], q, eps, 1)[0][1]]
            w = _search_layer(x, adj_by_level[0], q, eps, ef_search)
            for d, node in w[:k]:
                out_q.append(qi)
                out_id.append(int(ids[node]))
                out_sim.append(round(-d, 9))
        return pd.DataFrame({"query_id": out_q, "id": out_id, "cosine_sim": out_sim})

    per_shard = index.groupBy("shard").applyInPandas(search, schema=SEARCH_SCHEMA)
    # global merge: rank per query, keep k — candidate set is tiny
    # (n_shards * k per query), so this is a near-no-op exchange
    from pyspark.sql import Window

    win = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("id")
    )
    return (
        per_shard.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# Incremental index lifecycle (segment model)
# ---------------------------------------------------------------------------
#
# Because search is a union over independent shards, the index grows the way
# Lucene segments do: an admission batch becomes NEW segment(s) — the base
# shards are never rewritten — and a periodic compaction re-shards the whole
# corpus back to target-sized segments. Between compactions the only cost of
# accumulation is more (smaller) graphs to probe per query, which is the
# same trade Lucene makes; correctness is unaffected since every vector
# still lives in exactly one segment. This mirrors the incremental
# corpus-admission pipeline in streaming/dedup.py: the caller owns an
# explicit index directory with an explicit lifecycle, distinct from the
# content-keyed read-only artifacts of ensure_hnsw_index.


def init_hnsw_index(
    df: DataFrame,
    path: str,
    target_shard_rows: int = _TARGET_SHARD_ROWS,
) -> None:
    """Create the index directory from the initial corpus (overwrites)."""
    build_hnsw_index(
        df, target_shard_rows=target_shard_rows
    ).write.mode("overwrite").partitionBy("shard").parquet(path)


def append_hnsw_delta(
    spark: SparkSession,
    new_df: DataFrame,
    path: str,
    target_shard_rows: int = _TARGET_SHARD_ROWS,
) -> int:
    """Admit a batch of NEW vectors as fresh segment(s); returns the first
    new segment id. Base segments are untouched — the admission cost is
    graph construction over the batch alone. A crashed append leaves
    partial segment files; compact_hnsw_index is the repair (it rewrites
    the directory from the surviving rows atomically)."""
    existing = spark.read.parquet(path)
    base = existing.agg(F.max("shard")).head()[0] + 1
    delta = build_hnsw_index(
        new_df, target_shard_rows=target_shard_rows
    ).withColumn("shard", (F.col("shard") + F.lit(base)).cast("int"))
    delta.write.mode("append").partitionBy("shard").parquet(path)
    return int(base)


def compact_hnsw_index(
    spark: SparkSession,
    path: str,
    target_shard_rows: int = _TARGET_SHARD_ROWS,
) -> int:
    """Re-shard the whole index back to target-sized segments (the Lucene
    merge): read every segment's vectors, rebuild hash-sharded graphs, and
    swap the directory atomically (write beside, os.replace). Returns the
    post-compaction segment count."""
    import os
    import shutil

    live = spark.read.parquet(path).select(
        F.col("id").alias("vec_id"), F.col("vec").alias("embedding")
    )
    tmp = path.rstrip("/") + ".compact.tmp"
    build_hnsw_index(
        live, target_shard_rows=target_shard_rows
    ).write.mode("overwrite").partitionBy("shard").parquet(tmp)
    old = path.rstrip("/") + ".compact.old"
    shutil.rmtree(old, ignore_errors=True)
    os.replace(path, old)
    os.replace(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    out = spark.read.parquet(path)
    return out.select("shard").distinct().count()
