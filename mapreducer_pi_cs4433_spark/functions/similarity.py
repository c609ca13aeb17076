"""Approximate-nearest-neighbor similarity search over embedding columns.

Two paths:
- brute_force_topk: exact cosine top-k — the baseline. One narrow pass over
  the corpus per query + TakeOrdered; O(N·d) with no shuffle of the vectors.
- ivf_topk: IVF-style scale path — vectors are pre-assigned to coarse
  buckets by sign-LSH (same deterministic hyperplanes as
  dedup.embedding_neardup_pairs); queries probe only the nearest buckets.
  At 100 TB the bucket column becomes a partition key so a probe touches
  only its probed fraction of the data at the source.

Vector kernels (dot products, norms, sign projections) run as Arrow-batched
pandas UDFs over numpy. Array higher-order functions (F.aggregate /
F.zip_with / F.transform) execute as interpreted CodegenFallback
expressions at ~14 µs/element — the round-1 trap documented in
functions/dedup.py — while a numpy matvec over a whole Arrow batch
amortizes to ~ns/element. The UDFs receive thousands of vectors per batch,
so per-invocation Python overhead is negligible.

Determinism:
- brute-force/IVF ranking rounds cosine to 9 decimals before ordering with
  an id tie-break, so summation-order float noise (numpy pairwise summation
  vs an engine's sequential fold) cannot reorder the top-k set.
- sign-LSH hyperplanes are a ±1 matrix drawn from a fixed-seed PCG64
  generator — deterministic run-to-run and prefix-stable in `planes` (the
  matrix for p planes is the first p rows of the matrix for p+1).

cloudpickle note (round-1 lesson): shipped UDF bodies are *local* closures
referencing only numpy/pandas — a module-level helper would pickle by
reference to this package, which executors launched from a foreign cwd
cannot import.
"""

from __future__ import annotations

import itertools
import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .artifacts import artifact_dir, ensure_table

_HYPERPLANE_SEED = 0x51AB5  # fixed: buckets must be stable across jobs/runs
# auto_planes sizes buckets to hold about this many rows each
_TARGET_BUCKET_ROWS = 4096
# Lloyd iterations of the exact integer k-means (part of the artifact keys)
_KMEANS_ITERS = 2


def _sign_matrix(planes: int, dim: int) -> np.ndarray:
    """Deterministic (planes, dim) ±1 hyperplane matrix. Row-major draw from
    a fixed seed, so smaller `planes` is a prefix of larger — re-indexing
    with more planes refines buckets without reshuffling their prefix."""
    rng = np.random.default_rng(_HYPERPLANE_SEED)
    return (rng.integers(0, 2, size=(planes, dim)) * 2 - 1).astype(np.float64)


def _np_buckets(mat: np.ndarray, planes: int) -> np.ndarray:
    """Bucket ids (int64) for a (n, dim) batch: bit p = sign of the
    projection onto hyperplane p."""
    proj = mat @ _sign_matrix(planes, mat.shape[1]).T  # (n, planes)
    bits = (proj >= 0).astype(np.int64)
    return bits @ (1 << np.arange(planes, dtype=np.int64))


def query_bucket(query_vec: list[float], planes: int) -> int:
    """Driver-side bucket of a query vector — same hyperplanes as the UDF."""
    q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    return int(_np_buckets(q[None, :], planes)[0])


def cosine_to_query(vec_col: str | Column, query_vec: list[float]) -> Column:
    """cosine(vec, query) as an Arrow-batched numpy kernel (double)."""
    q = [float(x) for x in query_vec]

    @F.pandas_udf("double")
    def _cos(v: pd.Series) -> pd.Series:
        import numpy as np
        import pandas as pd

        if len(v) == 0:
            return pd.Series(np.empty(0, dtype=np.float64))
        mat = np.vstack(v.to_numpy()).astype(np.float64)
        qa = np.asarray(q, dtype=np.float64)
        num = mat @ qa
        den = np.sqrt((mat * mat).sum(axis=1)) * math.sqrt(sum(x * x for x in q))
        return pd.Series(num / den)

    return _cos(vec_col if isinstance(vec_col, Column) else F.col(vec_col))


def unit_vector(vec_col: str | Column) -> Column:
    """vec / ||vec|| as array<double> (numpy batch kernel). Normalizing once
    per vector lets pair joins compute cosine as a bare dot product."""

    @F.pandas_udf("array<double>")
    def _unit(v: pd.Series) -> pd.Series:
        import numpy as np
        import pandas as pd

        if len(v) == 0:
            return pd.Series(np.empty(0, dtype=object))
        mat = np.vstack(v.to_numpy()).astype(np.float64)
        nrm = np.sqrt((mat * mat).sum(axis=1, keepdims=True))
        np.divide(mat, nrm, out=mat, where=nrm > 0)
        return pd.Series(list(mat))

    return _unit(vec_col if isinstance(vec_col, Column) else F.col(vec_col))


def pair_dot(a_col: str | Column, b_col: str | Column) -> Column:
    """Row-wise dot product of two array columns (numpy batch kernel).
    Over unit vectors this IS the cosine."""

    @F.pandas_udf("double")
    def _dotp(a: pd.Series, b: pd.Series) -> pd.Series:
        import numpy as np
        import pandas as pd

        if len(a) == 0:
            return pd.Series(np.empty(0, dtype=np.float64))
        am = np.vstack(a.to_numpy()).astype(np.float64)
        bm = np.vstack(b.to_numpy()).astype(np.float64)
        return pd.Series((am * bm).sum(axis=1))

    return _dotp(
        a_col if isinstance(a_col, Column) else F.col(a_col),
        b_col if isinstance(b_col, Column) else F.col(b_col),
    )


def sign_bucket(vec_col: str | Column, planes: int = 8, draw: int = 0) -> Column:
    """Deterministic random-hyperplane sign bucket (shared with dedup).
    `draw` selects an independent hyperplane family — unioning candidate
    pairs over several draws trades one extra narrow pass for recall
    1-(1-p)^draws instead of p."""

    @F.pandas_udf("long")
    def _bucket(v: pd.Series) -> pd.Series:
        import numpy as np
        import pandas as pd

        if len(v) == 0:
            return pd.Series(np.empty(0, dtype=np.int64))
        mat = np.vstack(v.to_numpy()).astype(np.float64)
        # inline twin of _sign_matrix (same seed/draw): the closure must be
        # self-contained — referencing the module helper would pickle it by
        # reference to a package the executor can't import
        rng = np.random.default_rng(0x51AB5 + draw)
        signs = (rng.integers(0, 2, size=(planes, mat.shape[1])) * 2 - 1).astype(
            np.float64
        )
        bits = (mat @ signs.T >= 0).astype(np.int64)
        return pd.Series(bits @ (1 << np.arange(planes, dtype=np.int64)))

    return _bucket(vec_col if isinstance(vec_col, Column) else F.col(vec_col))


def auto_planes(n_rows: int) -> int:
    """Scale-adaptive plane count in [4, 24]: enough hyperplanes that the
    *expected* bucket population stays near _TARGET_BUCKET_ROWS, bounding
    the within-bucket quadratic of near-dup joins as the corpus grows
    (2^planes buckets ~ n / target). Fixed planes (round 1) let
    within-bucket pair counts re-explode at 100 TB; planes = log2(n /
    target) keeps per-bucket work flat while recall is re-bought with
    multi-probe (ivf_topk probe_hamming) or multiple bucketings."""
    if n_rows <= 0:
        return 4
    return max(4, min(24, math.ceil(math.log2(max(n_rows / _TARGET_BUCKET_ROWS, 1.0)))))


def cosine(a: Column, b: Column) -> Column:
    """Expression-form cosine for one-off literals. NOT the hot path —
    array HOFs are interpreted; batch work must use the pandas kernels."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, x: s + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda s, x: s + x * x))
    return dot / (na * nb)


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine to a query vector.

    One narrow scan: the Arrow batch kernel computes all cosines for a
    partition in a few matvecs, then TakeOrdered keeps k per partition and
    merges on the driver — no shuffle of vectors. Ranking rounds to 9
    decimals with an id tie-break so float noise cannot reorder the set
    between runs or engines. Returns (id, cosine_sim).
    """
    return (
        df.select(
            F.col("vec_id").alias("id"),
            F.round(cosine_to_query("embedding", query_vec), 9).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("id"))
        .limit(k)
    )


def build_ivf_index(
    df: DataFrame,
    planes: int | str = 8,
) -> DataFrame:
    """Materializable index: (id, vec, bucket). Write partitioned/bucketed
    by `bucket` so probes prune partitions at the source.

    planes="auto" sizes the bucket count to the corpus (one count() job)
    via auto_planes(), keeping expected bucket population ~_TARGET_BUCKET_ROWS
    at any scale."""
    if planes == "auto":
        planes = auto_planes(df.count())
    return df.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("vec"),
        sign_bucket("embedding", planes).alias("bucket"),
    )


def ensure_ivf_index(
    spark: SparkSession,
    df: DataFrame,
    sf_dir: str,
    planes: int = 8,
) -> DataFrame:
    """Build-once/reuse IVF index: the (id, vec, bucket) table PERSISTED as
    parquet partitioned by bucket, so a probe's `bucket IN (...)` filter
    becomes partition PRUNING at the source — the scan physically touches
    only the probed fraction. r2 recomputed bucket assignments per query
    (a full corpus pass each invocation); an index is a build artifact with
    a lifecycle, not per-query work. First call per (sf_dir, planes) pays
    one build job; every later call is a pruned parquet read."""
    return ensure_table(
        spark,
        sf_dir,
        f"ivf_p{planes}",
        lambda: build_ivf_index(df, planes=planes),
        partition_by="bucket",
    )


def ensure_pq_artifacts(
    spark: SparkSession,
    df: DataFrame,
    sf_dir: str,
    m: int = 8,
    k: int = 256,
    sample_rows: int = 10_000,
) -> tuple[np.ndarray, DataFrame]:
    """Build-once/reuse PQ artifacts: (codebooks ndarray, codes DataFrame).

    Training (bounded driver sample + Lloyd iterations) and corpus encoding
    run ONCE per (sf_dir, m, k) and persist — codes as parquet (the 8-byte
    hot scan table), codebooks as an .npy sidecar (~m*k*dsub doubles; on a
    cluster this would be a tiny parquet/object-store artifact). r2
    retrained codebooks and re-encoded the corpus inside every query
    invocation, including a driver-side collect of the training sample —
    the wrong lifecycle at any scale beyond a demo.

    The codes table is the committed artifact; its build saves the
    codebooks beside it before the codes are written, so committed codes
    mean the sidecar exists too (see artifacts.ensure_table)."""
    # sample_rows is IN the key: it changes the trained codebooks, so two
    # callers differing only in sample size must not share an artifact
    # (pre-r5 the cli build step and the catalog query collided here)
    kind = f"pq_m{m}_k{k}_s{sample_rows}"
    books_file = os.path.join(artifact_dir(sf_dir, kind), "codebooks.npy")

    def build() -> DataFrame:
        books = train_pq_codebooks(df, m=m, k=k, sample_rows=sample_rows)
        os.makedirs(os.path.dirname(books_file), exist_ok=True)
        tmp = books_file + ".tmp.npy"
        np.save(tmp, books)
        os.replace(tmp, books_file)
        return encode_pq(df, books)

    codes = ensure_table(spark, sf_dir, f"{kind}/codes", build)
    return np.load(books_file), codes


def ensure_ivfpq_codes(
    spark: SparkSession,
    df: DataFrame,
    sf_dir: str,
    m: int = 8,
    k: int = 256,
    sample_rows: int = 10_000,
    planes: int = 8,
) -> DataFrame:
    """Build-once/reuse IVF-PQ inverted lists: the PQ code table keyed and
    PARTITIONED by the coarse sign-LSH bucket — the FAISS IVFPQ layout in
    parquet. A probe's `bucket IN (ball)` filter prunes partitions at the
    source AND the surviving scan reads 8-byte codes instead of full
    vectors, so probed-fraction × 32x-compression compound: an h=1 probe
    over p planes reads (1+p)/2^p of the corpus, in codes.
    Composes the two existing artifacts (ensure_ivf_index bucket
    assignment, ensure_pq_artifacts codes) with one build-time join; both
    parents persist independently, so rebuilding one layout never
    retrains the other."""

    def build() -> DataFrame:
        _, codes = ensure_pq_artifacts(
            spark, df, sf_dir, m=m, k=k, sample_rows=sample_rows
        )
        index = ensure_ivf_index(spark, df, sf_dir, planes=planes)
        return codes.join(index.select("id", "bucket"), "id")

    return ensure_table(
        spark,
        sf_dir,
        f"ivfpq_p{planes}_m{m}_k{k}_s{sample_rows}",
        build,
        partition_by="bucket",
    )


def _assign_against(q: DataFrame, cent: DataFrame, id_col: str) -> DataFrame:
    """One assignment pass: (vid, dim, vq) components scored against a
    broadcast (cl, dim, cd) centroid table — exact int64 squared
    distances, argmin ties to the lower cluster id."""
    e = F.col("vq") - F.col("cd")
    return (
        q.join(F.broadcast(cent.select("cl", "dim", "cd")), "dim")
        .select("vid", "cl", (e * e).alias("e2"))
        .groupBy("vid", "cl")
        .agg(F.sum("e2").alias("d"))
        .groupBy("vid")
        .agg(F.min(F.struct("d", "cl")).alias("b"))
        .select(
            F.col("vid").alias(id_col),
            F.col("b.cl").alias("cl"),
            F.col("b.d").cast("long").alias("d"),
        )
    )


def _kmeans_plan(
    df: DataFrame,
    k: int,
    iters: int,
    vec_col: str,
    id_col: str,
) -> tuple[DataFrame, DataFrame]:
    """(quantized component stream, FINAL centroid table (cl, dim, cd))
    after `iters` Lloyd iterations of the exact integer Lloyd system
    (md5-seeded starts, floor-quantized micro-unit components,
    pmod-then-truncate centroid floor division, argmin ties to the lower
    cluster id). The centroid table is what a query-time or
    stream-time assigner must score against to reproduce the persisted
    assignment bit-for-bit (recomputing means from the final assignment
    would yield the NEXT iteration's centroids and a different argmin)."""
    emb = df.filter(F.col(vec_col).isNotNull())
    q = (
        emb.select(id_col, F.posexplode(vec_col).alias("pos", "v"))
        .select(
            F.col(id_col).alias("vid"),
            (F.col("pos") + 1).alias("dim"),
            F.floor(F.col("v").cast("double") * 1_000_000)
            .cast("long")
            .alias("vq"),
        )
        .localCheckpoint()
    )
    seeds = (
        emb.select(id_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), id_col)
        .limit(k)
        .select(F.col(id_col).alias("cl"))
    )
    cent = q.join(F.broadcast(seeds), q["vid"] == seeds["cl"]).select(
        "cl", "dim", F.col("vq").alias("cd")
    )
    for _ in range(iters):
        e = F.col("vq") - F.col("cd")
        dist = (
            q.join(F.broadcast(cent.select("cl", "dim", "cd")), "dim")
            .select("vid", "cl", (e * e).alias("e2"))
            .groupBy("vid", "cl")
            .agg(F.sum("e2").alias("d"))
        )
        assign = (
            dist.groupBy("vid")
            .agg(F.min(F.struct("d", "cl")).alias("b"))
            .select("vid", F.col("b.cl").alias("cl"))
        )
        cent = (
            q.join(assign, "vid")
            .groupBy("cl", "dim")
            .agg(F.sum("vq").alias("s"), F.count("*").alias("n"))
            .select(
                "cl",
                "dim",
                F.expr("(s - pmod(s, n)) div n").cast("long").alias("cd"),
                "n",
            )
        )
    return q, cent


def kmeans_centroids(
    df: DataFrame,
    k: int,
) -> DataFrame:
    """The FINAL centroid table (cl, dim, cd) of the exact integer Lloyd
    system — the 'model' a stream-time assigner broadcasts to score new
    vectors onto the same clusters the persisted assignment uses."""
    return _kmeans_plan(df, k, _KMEANS_ITERS, "embedding", "vec_id")[1].select(
        "cl", "dim", "cd"
    )


def ensure_kmeans_assignment(
    spark: SparkSession,
    df: DataFrame,
    sf_dir: str,
    k: int,
) -> DataFrame:
    """Build-once/reuse semantic-cluster assignment: the (vec_id, cl, d)
    table persisted per (corpus, k, iters). Clustering is a corpus-level
    BUILD in SemDeDup — every consumer (prune listing, census, future
    incremental passes) reads the same assignment instead of re-running
    Lloyd per query, exactly like the IVF/PQ/HNSW artifacts.

    The build derives the assignment FROM the persisted centroid
    artifact (one scoring pass), so the two artifacts are mutually
    consistent by construction — and a cold build of both costs one
    Lloyd chain, not two."""

    def build() -> DataFrame:
        cent = ensure_kmeans_centroids(spark, df, sf_dir, k)
        emb = df.filter(F.col("embedding").isNotNull())
        q = emb.select("vec_id", F.posexplode("embedding").alias("pos", "v")).select(
            F.col("vec_id").alias("vid"),
            (F.col("pos") + 1).alias("dim"),
            F.floor(F.col("v").cast("double") * 1_000_000)
            .cast("long")
            .alias("vq"),
        )
        return _assign_against(q, cent, "vec_id")

    return ensure_table(spark, sf_dir, f"kmeans_k{k}_i{_KMEANS_ITERS}", build)


def ensure_kmeans_centroids(
    spark: SparkSession,
    df: DataFrame,
    sf_dir: str,
    k: int,
) -> DataFrame:
    """Build-once/reuse FINAL centroid table (cl, dim, cd) — k x d rows,
    the scoring 'model' for stream-time cluster assignment
    (streaming/enrich.py). Persisted separately from the assignment so a
    stream consumer ships only k*d integers, never the corpus-sized
    assignment."""
    return ensure_table(
        spark,
        sf_dir,
        f"kmeans_cent_k{k}_i{_KMEANS_ITERS}",
        lambda: kmeans_centroids(df, k),
    )


def hamming_ball(bucket: int, planes: int, radius: int) -> list[int]:
    """All buckets within `radius` sign-bit flips of `bucket` — the IVF
    probe set, enumerated directly (sum of C(planes, i) values) instead of
    filtering 2^planes candidates."""
    return sorted(
        bucket ^ sum(1 << b for b in bits)
        for h in range(radius + 1)
        for bits in itertools.combinations(range(planes), h)
    )


def train_pq_codebooks(
    df: DataFrame,
    m: int = 8,
    k: int = 256,
    sample_rows: int = 10_000,
) -> "np.ndarray":
    """Train product-quantization codebooks: (m, k, d/m) centroids.

    The vector's d dimensions split into m contiguous subspaces; each gets
    a k-centroid codebook from deterministic Lloyd iterations (fixed
    sample, evenly-spaced init, fixed iteration count — same data in, same
    codebooks out, no RNG). Training pulls a bounded driver-side sample
    (`limit(sample_rows)` — the one sanctioned collect in this module,
    ~10k × d doubles); at 100 TB train once on a sample job, persist the
    codebook array, and reuse it for every encode/query.

    Vectors are L2-normalized before training so PQ inner products
    approximate cosine.
    """
    rows = df.select("embedding").limit(sample_rows).collect()
    mat = np.vstack([np.asarray(r[0], dtype=np.float64) for r in rows])
    nrm = np.sqrt((mat * mat).sum(axis=1, keepdims=True))
    np.divide(mat, nrm, out=mat, where=nrm > 0)
    n, d = mat.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    dsub = d // m
    k_eff = min(k, n)
    books = np.empty((m, k_eff, dsub), dtype=np.float64)
    for mi in range(m):
        sub = mat[:, mi * dsub : (mi + 1) * dsub]
        # deterministic init: evenly spaced points of the (stable) sample
        cent = sub[np.linspace(0, n - 1, k_eff).astype(np.int64)].copy()
        for _ in range(10):
            # assign to nearest centroid by squared L2
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k_eff):
                mask = assign == c
                if mask.any():
                    cent[c] = sub[mask].mean(axis=0)
        books[mi] = cent
    return books


def encode_pq(
    index_df: DataFrame,
    codebooks: "np.ndarray",
) -> DataFrame:
    """(id, codes array<int>[m]) — each vector L2-normalized and quantized
    to its nearest centroid per subspace. At d=64/m=8 this is a 32×
    compression of the scan payload (8 small ints vs 64 floats): the
    row-store you actually keep hot for ANN at 100 TB, with the full
    vectors cold in the base table for re-ranking."""
    books = [b.tolist() for b in codebooks]  # ship plain lists, not ndarray

    @F.pandas_udf("array<int>")
    def _encode(v: pd.Series) -> pd.Series:
        import numpy as np
        import pandas as pd

        if len(v) == 0:
            return pd.Series(np.empty(0, dtype=object))
        cb = np.asarray(books, dtype=np.float64)  # (m, k, dsub)
        m_, _, dsub = cb.shape
        mat = np.vstack(v.to_numpy()).astype(np.float64)
        nrm = np.sqrt((mat * mat).sum(axis=1, keepdims=True))
        np.divide(mat, nrm, out=mat, where=nrm > 0)
        codes = np.empty((mat.shape[0], m_), dtype=np.int64)
        for mi in range(m_):
            sub = mat[:, mi * dsub : (mi + 1) * dsub]
            # ||x - c||^2 = ||x||^2 - 2 x.c + ||c||^2; argmin over c
            d2 = (sub * sub).sum(1)[:, None] - 2 * sub @ cb[mi].T + (
                cb[mi] * cb[mi]
            ).sum(1)[None, :]
            codes[:, mi] = d2.argmin(axis=1)
        return pd.Series([row.astype("int32") for row in codes])

    return index_df.select(
        F.col("vec_id").alias("id"), _encode("embedding").alias("codes")
    )


def pq_topk(
    encoded: DataFrame,
    codebooks: "np.ndarray",
    query_vec: list[float],
    k: int = 10,
    rerank: DataFrame | None = None,
    rerank_factor: int = 5,
) -> DataFrame:
    """Approximate top-k by PQ asymmetric distance, optionally re-ranked.

    The query is NOT quantized: a (m, k) lookup table of query-subvector ·
    centroid dot products is computed driver-side and shipped in the UDF
    closure (~2k doubles); each row's approximate cosine is m table
    lookups — numpy fancy-indexing over the whole Arrow batch, no
    per-element Python. TakeOrdered keeps k·rerank_factor candidates.

    With `rerank` (the base table holding full vectors), candidates
    broadcast-semi-join back and exact cosine re-orders them — the
    standard IVF-PQ shape: compressed scan for candidates, exact math on
    k·factor rows only. Returns (id, cosine_sim): approximate scores
    without rerank, exact with.
    """
    q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    qn = np.sqrt((q * q).sum())
    if qn > 0:
        q = q / qn
    m_, _, dsub = codebooks.shape
    lut = np.stack(
        [codebooks[mi] @ q[mi * dsub : (mi + 1) * dsub] for mi in range(m_)]
    )  # (m, k) partial dots
    lut_list = lut.tolist()
    n_cand = k * rerank_factor if rerank is not None else k

    @F.pandas_udf("double")
    def _adc(codes: pd.Series) -> pd.Series:
        import numpy as np
        import pandas as pd

        if len(codes) == 0:
            return pd.Series(np.empty(0, dtype=np.float64))
        lt = np.asarray(lut_list, dtype=np.float64)
        cm = np.vstack(codes.to_numpy()).astype(np.int64)  # (n, m)
        sims = lt[np.arange(lt.shape[0])[None, :], cm].sum(axis=1)
        return pd.Series(sims)

    cands = (
        encoded.select("id", F.round(_adc("codes"), 9).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc("id"))
        .limit(n_cand)
    )
    if rerank is None:
        return cands
    qlist = [float(x) for x in q]
    return (
        rerank.join(
            F.broadcast(cands.select("id")),
            rerank["vec_id"] == F.col("id"),
            "inner",
        )
        .select(
            F.col("id"),
            F.round(cosine_to_query("embedding", qlist), 9).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("id"))
        .limit(k)
    )


def pq_topk_multi(
    encoded: DataFrame,
    codebooks: "np.ndarray",
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    rerank: DataFrame | None = None,
    rerank_factor: int = 5,
    bucket_probes: list[list[int]] | None = None,
) -> DataFrame:
    """PQ asymmetric-distance top-k for SEVERAL queries in ONE pass over
    the code table (r3/r4 carried ask: kills similarity_topk_pq's
    per-query Python loop of unioned DataFrames).

    All Q (m, k) LUTs ship together in one mapInPandas closure; each Arrow
    batch scores every query by numpy fancy-indexing and emits only its
    LOCAL top k·rerank_factor per query — so the one shuffle that follows
    carries Q · partitions · n_cand rows, not Q · N. (Pre-truncating under
    the global total order (sim desc, id asc) preserves the global top-k —
    the TakeOrdered monoid.) A per-query row_number window merges locals,
    then ONE broadcast join against the base table re-ranks all queries'
    candidates with exact cosine. Per-query sims use the same 9-dp
    rounding + id tie-break as pq_topk/brute_force_topk, so the returned
    sets match the per-query path row-for-row.

    Scale: the final window shuffles to Q partitions, but its input is
    already bounded (candidates only), so no skew risk; the scan side
    stays one pass over 8-byte codes regardless of Q.

    `bucket_probes` (one bucket list per query, aligned with `queries`)
    turns this into the IVF-PQ probe: the scan filters to the UNION of
    probe sets (partition pruning against an ensure_ivfpq_codes layout),
    and inside the kernel each query scores only rows of ITS OWN probe
    buckets — a candidate outside a query's Hamming ball never enters
    that query's ranking, exactly like per-query inverted-list access."""
    from pyspark.sql import Window

    qids = [int(q) for q, _ in queries]
    qmat = np.asarray(
        [[float(x) for x in v] for _, v in queries], dtype=np.float64
    )
    norms = np.sqrt((qmat * qmat).sum(axis=1))
    qmat = qmat / np.where(norms > 0, norms, 1.0)[:, None]
    m_, _, dsub = codebooks.shape
    luts = np.stack(
        [
            np.stack(
                [
                    codebooks[mi] @ q[mi * dsub : (mi + 1) * dsub]
                    for mi in range(m_)
                ]
            )
            for q in qmat
        ]
    )  # (Q, m, k) partial dots
    lut_list = luts.tolist()
    n_cand = k * rerank_factor if rerank is not None else k
    probe_list = (
        [sorted(int(b) for b in bs) for bs in bucket_probes]
        if bucket_probes is not None
        else None
    )
    if probe_list is not None:
        union = sorted({b for bs in probe_list for b in bs})
        encoded = encoded.filter(F.col("bucket").isin(union))

    def _local_topk(batches):
        import numpy as np
        import pandas as pd

        lt = np.asarray(lut_list, dtype=np.float64)  # (Q, m, k)
        nq = lt.shape[0]
        midx = np.arange(lt.shape[1])[None, :]
        for pdf in batches:
            if not len(pdf):
                continue
            cm = np.vstack(pdf["codes"].to_numpy()).astype(np.int64)
            ids = pdf["id"].to_numpy()
            bks = (
                pdf["bucket"].to_numpy() if probe_list is not None else None
            )
            frames = []
            for qi in range(nq):
                if probe_list is not None:
                    msk = np.isin(bks, probe_list[qi])
                    if not msk.any():
                        continue
                    cids, ccodes = ids[msk], cm[msk]
                else:
                    cids, ccodes = ids, cm
                sims = np.round(lt[qi][midx, ccodes].sum(axis=1), 9)
                keep = np.lexsort((cids, -sims))[:n_cand]
                frames.append(
                    pd.DataFrame(
                        {
                            "qi": np.full(len(keep), qi, dtype=np.int32),
                            "id": cids[keep],
                            "cosine_sim": sims[keep],
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    local = encoded.mapInPandas(
        _local_topk, "qi INT, id LONG, cosine_sim DOUBLE"
    )
    w = Window.partitionBy("qi").orderBy(F.desc("cosine_sim"), F.asc("id"))
    cands = (
        local.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_cand)
        .select("qi", "id", "cosine_sim")
    )
    qid_arr = F.array(*[F.lit(q).cast("long") for q in qids])
    if rerank is None:
        return cands.select(
            F.element_at(qid_arr, F.col("qi") + 1).alias("query_id"),
            "id",
            "cosine_sim",
        )
    sims_all = F.array(
        *[
            F.round(cosine_to_query("__v", [float(x) for x in qmat[qi]]), 9)
            for qi in range(len(qids))
        ]
    )
    rer = (
        rerank.select(F.col("vec_id").alias("id"), F.col("embedding").alias("__v"))
        .join(F.broadcast(cands.select("qi", "id")), "id")
        .select(
            "qi",
            "id",
            F.element_at(sims_all, F.col("qi") + 1).alias("cosine_sim"),
        )
    )
    w2 = Window.partitionBy("qi").orderBy(F.desc("cosine_sim"), F.asc("id"))
    return (
        rer.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k)
        .select(
            F.element_at(qid_arr, F.col("qi") + 1).alias("query_id"),
            "id",
            "cosine_sim",
        )
    )


def ivf_topk(
    index: DataFrame,
    query_vec: list[float],
    k: int = 10,
    planes: int = 4,
    probe_hamming: int = 1,
) -> DataFrame:
    """Probe the IVF index: scan only buckets within `probe_hamming` bits of
    the query's bucket, then exact cosine + top-k inside the probed slice.

    probe_hamming is the recall/cost dial: h=1 scans (1 + planes)/2^planes
    of the corpus. Sign-LSH recall depends on how *near* true neighbors
    are: at cosine ~0.95 a planes=8/hamming=1 probe keeps ~90% recall at a
    ~3.5% scan; on corpora whose top-k neighbors are only ~0.3 (random
    embeddings) use fewer planes / wider probes. When the index was built
    with planes="auto", pass the same effective plane count (index stores
    it implicitly in its bucket range). Returns (id, cosine_sim).

    The query's bucket is computed driver-side in numpy with the identical
    hyperplane matrix — no extra Spark job.
    """
    q = [float(x) for x in query_vec]
    qb = query_bucket(q, planes)
    # Enumerate the Hamming ball directly (sum of C(planes, i) buckets for
    # i <= probe_hamming) instead of scanning all 2^planes candidates: with
    # auto_planes indexes up to 24 planes, the full scan is a 16M-iteration
    # driver loop and a multi-million-element isin list; the ball at h=1 is
    # just 25 values.
    near = [
        qb ^ sum(1 << b for b in bits)
        for h in range(probe_hamming + 1)
        for bits in itertools.combinations(range(planes), h)
    ]
    return (
        index.filter(F.col("bucket").isin(near))
        .select(
            F.col("id"),
            F.round(cosine_to_query("vec", q), 9).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("id"))
        .limit(k)
    )
