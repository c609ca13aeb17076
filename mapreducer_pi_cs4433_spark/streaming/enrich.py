"""Stream-static enrichment: score a live embedding stream against a
PERSISTED build artifact — the missing streaming shape next to the
stream-stream joins and stateful twins. The concrete operator is
nearest-centroid cluster assignment: new vectors land on the SAME
clusters the batch SemDeDup assignment uses (dedup_semantic_*), so an
ingestion pipeline can route, down-sample, or near-dup-gate documents
online against the offline clustering.

Why stateless mapInPandas and not a stream-static join + aggregation:
the argmin over k centroids is a per-ROW reduction, not a per-key one —
expressing it as (stream x centroids) join + groupBy(vec_id) min would
put a stateful shuffle in the hot path for something each Arrow batch
can decide locally with one integer GEMM against a k*d closure table
(k*64 int64s — kilobytes; the classic broadcast-model-scoring shape).
Exactness: the SAME floor-quantized micro-unit components and int64
distance algebra as functions/similarity.kmeans_assignment, scored
against the artifact's FINAL centroid table — so a streamed row's
(cl, d) equals the persisted batch assignment bit-for-bit (pinned by
tests/test_streaming_enrich.py), deterministic across batch boundaries
and partitionings by construction (no state, no watermark, no order
dependence).

Serialization: the batch function is a local closure (module-level
functions ship by cloudpickle reference and break when executors can't
import this package — see functions/multimodal.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def cluster_assign_stream(
    stream: DataFrame,
    centroids: list[tuple[int, list[int]]],
) -> DataFrame:
    """Assign each streamed vector to its nearest centroid (exact int64
    squared distance on the micro-unit grid, ties to the lower cluster
    id) — emits (vec_id, cl, d) per input row, append-mode, stateless.

    `centroids` is the collected FINAL centroid table as
    [(cl, [cd per dim])] — see `centroids_for_stream` for the one-line
    artifact read that produces it. Rows with a NULL vector are dropped
    (they carry no assignable signal; the batch artifact skips them
    identically).
    """
    cent_rows = sorted(
        (int(c), [int(x) for x in v]) for c, v in centroids
    )  # ascending cl: np.argmin's first-hit rule then breaks ties low

    def assign(batches):
        import numpy as np
        import pandas as pd

        cls = np.array([c for c, _ in cent_rows], dtype=np.int64)
        cmat = np.stack(
            [np.asarray(v, dtype=np.int64) for _, v in cent_rows]
        )
        cn = (cmat * cmat).sum(axis=1)
        for pdf in batches:
            pdf = pdf[pdf["embedding"].notna()]
            if not len(pdf):
                continue
            m = np.stack(
                [
                    np.floor(np.asarray(v, dtype=np.float64) * 1_000_000)
                    .astype(np.int64)
                    for v in pdf["embedding"]
                ]
            )
            d2 = (
                (m * m).sum(axis=1)[:, None]
                + cn[None, :]
                - 2 * (m @ cmat.T)
            )
            idx = d2.argmin(axis=1)  # first minimum = lowest cl on ties
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cl": cls[idx],
                    "d": d2[np.arange(len(idx)), idx],
                }
            )

    return stream.mapInPandas(assign, "vec_id long, cl long, d long")


def centroids_for_stream(
    spark, df: DataFrame, sf_dir: str, k: int
) -> list[tuple[int, list[int]]]:
    """Collect the persisted FINAL centroid table into the closure shape
    cluster_assign_stream wants — k*d integers, read once at query
    start (the artifact is the 'model'; the stream never recomputes it)."""
    from ..functions.similarity import ensure_kmeans_centroids

    cent = ensure_kmeans_centroids(spark, df, sf_dir, k)
    rows = cent.collect()  # k*64 rows — bounded by construction
    by_cl: dict[int, dict[int, int]] = {}
    for r in rows:
        by_cl.setdefault(int(r.cl), {})[int(r.dim)] = int(r.cd)
    return [
        (cl, [dims[d] for d in sorted(dims)]) for cl, dims in by_cl.items()
    ]
