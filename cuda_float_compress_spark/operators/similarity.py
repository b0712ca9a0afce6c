"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline (all JVM built-ins:
zip_with + aggregate — no Python in the scan). The scale path is
LSH-bucketing by random-hyperplane sign bits: at 100 TB the bucket key
prunes the candidate set by ~2^n_planes before any arithmetic, and the
query-side probe touches one bucket (plus optional multiprobe neighbors).
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x)
    )


def cosine_sim_cols(a: Column, b: Column) -> Column:
    return dot_col(a, b) / F.greatest(norm_col(a) * norm_col(b), F.lit(1e-12))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force top-k by cosine similarity to a literal query vector.
    One scan, one partial top-k per partition, k rows to the driver (Spark's
    TakeOrdered does the per-partition pruning)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine_sim_cols(F.col(vec_col).cast("array<double>"), q)
    return (
        df.select(F.col(id_col), F.round(sim, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


# Upper bound on embedding dimensionality: real text embeddings top out
# around 4096; anything past this is a malformed row, and an unbounded dim
# would size the sign matrix and the batch zero-pad allocation (OOM risk).
MAX_SUPPORTED_DIM = 8192


def plane_sign(i: int, p: int) -> int:
    """Deterministic ±1 for (dimension i, plane p): +1 iff the first hex char
    of md5(f"{i}_{p}") is < '8'. Portable: a SQL oracle recomputes it with its
    own md5 (DuckDB: substr(md5(i::VARCHAR||'_'||p::VARCHAR),1,1) < '8')."""
    import hashlib

    return 1 if hashlib.md5(f"{i}_{p}".encode()).hexdigest()[0] < "8" else -1


@lru_cache(maxsize=32)
def _sign_matrix(n_planes: int, dim: int):
    """(dim, n_planes) ±1 matrix, derived per-entry from md5 so it extends to
    ANY embedding dimension on demand (768/1024/4096-dim text embeddings all
    work — no fixed extent). Cached per (n_planes, dim): built once per
    executor process, ~1e5 md5 calls at dim 4096."""
    return np.array(
        [[plane_sign(i, p) for p in range(n_planes)] for i in range(dim)],
        dtype=np.int64,
    )


def _round_half_away(x):
    """HALF_UP (away from zero) — matches Spark F.round and SQL round();
    numpy's np.round is half-EVEN and would disagree on exact .5 ties."""
    return np.sign(x) * np.floor(np.abs(x) + 0.5)


def bucket_py(vec, n_planes: int) -> int:
    """Driver-side twin of hyperplane_bucket_col (same integers)."""
    v = np.asarray(vec, dtype=np.float64)
    q = _round_half_away(v * 1e6).astype(np.int64)
    proj = q @ _sign_matrix(n_planes, len(v))
    return int(((proj >= 0).astype(np.int64) << np.arange(n_planes)).sum())


def hyperplane_bucket_col(vec: Column, n_planes: int = 8) -> Column:
    """LSH bucket id from random-hyperplane sign bits.

    The projection is INTEGER arithmetic — sum_i round(v_i * 1e6) * sign(i,p)
    — order-independent and bit-identical across engines (float summation
    order would flip signs near zero between Spark and a SQL oracle), so a
    SQL oracle recomputes identical buckets. Executed as one Arrow-batched
    int64 matmul per batch (a literal-array SQL expression of this size falls
    out of whole-stage codegen and runs ~10x slower interpreted)."""

    @F.pandas_udf(T.IntegerType())
    def bucket(vecs: pd.Series) -> pd.Series:
        n = len(vecs)
        if n == 0:
            return pd.Series(np.zeros(0, dtype=np.int32))
        # NULL vectors get a NULL bucket (never paired/probed) — matching the
        # pure-Column implementation this replaced
        null_mask = np.fromiter((a is None for a in vecs), dtype=bool, count=n)
        lens = np.fromiter(
            (0 if a is None else len(a) for a in vecs), dtype=np.int64, count=n
        )
        mx = int(lens.max()) if n else 0
        if mx > MAX_SUPPORTED_DIM:
            # a malformed huge row would otherwise build an unbounded sign
            # matrix + zero-pad allocation (executor OOM) — fail loudly
            raise ValueError(
                f"vector dim {mx} exceeds MAX_SUPPORTED_DIM="
                f"{MAX_SUPPORTED_DIM}; raise it only for real embeddings"
            )
        S = _sign_matrix(n_planes, max(mx, 1))  # sized on demand, lru-cached
        M = np.zeros((n, max(mx, 1)), dtype=np.float64)
        for i, a in enumerate(vecs):  # ragged fill; zero-pad is a no-op term
            if lens[i]:
                M[i, : lens[i]] = a
        q = _round_half_away(M * 1e6).astype(np.int64)
        proj = q @ S[: M.shape[1]]
        out = (
            ((proj >= 0).astype(np.int64) << np.arange(n_planes, dtype=np.int64))
            .sum(axis=1)
            .astype(np.int32)
        )
        sr = pd.Series(out).astype("Int32")
        sr[null_mask] = pd.NA
        return sr

    return bucket(vec)


def ann_lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
) -> DataFrame:
    """Approximate top-k: probe only the query's hyperplane bucket, exact
    cosine inside it. Recall improves with multiprobe (neighbor buckets at
    hamming distance 1) — included so small buckets don't starve results."""
    bucketed = df.withColumn(
        "__bucket", hyperplane_bucket_col(F.col(vec_col), n_planes)
    )
    # the query's bucket: driver-side numpy twin (same integer arithmetic —
    # no Spark job for one vector)
    qb = bucket_py(query_vec, n_planes)
    probe = [qb] + [qb ^ (1 << p) for p in range(n_planes)]  # multiprobe r=1
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine_sim_cols(F.col(vec_col).cast("array<double>"), q)
    return (
        bucketed.filter(F.col("__bucket").isin(probe))
        .select(F.col(id_col), F.round(sim, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def quantize_grid(x) -> np.ndarray:
    """round(x * 1e6) on the integer grid (HALF_UP — matches Spark F.round
    and SQL round()). All IVF arithmetic lives on this grid so every engine
    agrees bit-for-bit."""
    return _round_half_away(np.asarray(x, dtype=np.float64) * 1e6).astype(np.int64)


def ivf_assign_col(
    vec: Column, centroids, *, quantized: bool = False, vec_quantized: bool = False
) -> Column:
    """Inverted-file (IVF) list assignment: argmin centroid by squared L2 on
    the round(x*1e6) integer grid — exact integer arithmetic, so engines and
    a SQL oracle agree bit-for-bit (float distance ties/ulps would not).
    Ties break to the lowest centroid index. ``centroids``: (L, dim) array
    ordered by centroid id (already-int64 grid values when ``quantized``);
    Arrow-batched matmul per batch. NULL or wrong-dimension vectors get a
    NULL list id (never probed) — same contract as hyperplane_bucket_col."""
    C = (
        np.asarray(centroids, dtype=np.int64)
        if quantized
        else quantize_grid(centroids)
    )
    c2 = (C * C).sum(axis=1)
    dim = C.shape[1]

    @F.pandas_udf(T.IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        n = len(vecs)
        if n == 0:
            return pd.Series(np.zeros(0, dtype=np.int32))
        bad = np.fromiter(
            (a is None or len(a) != dim for a in vecs), dtype=bool, count=n
        )
        if vec_quantized:  # input is already int64 grid values — NO re-scaling
            Q = np.zeros((n, dim), dtype=np.int64)
            for i, a in enumerate(vecs):
                if not bad[i]:
                    Q[i] = a
        else:
            M = np.zeros((n, dim), dtype=np.float64)
            for i, a in enumerate(vecs):
                if not bad[i]:
                    M[i] = a
            Q = _round_half_away(M * 1e6).astype(np.int64)
        # ||q-c||^2 = q.q + c.c - 2 q.c, all int64 (components <= ~2^21, so
        # 64-dim sums stay far below 2^63)
        d = (Q * Q).sum(axis=1)[:, None] + c2[None, :] - 2 * (Q @ C.T)
        out = np.argmin(d, axis=1).astype(np.int32)  # first = lowest id
        sr = pd.Series(out).astype("Int32")
        sr[bad] = pd.NA
        return sr

    return assign(vec)


def ivf_probe_lists(query_vec, centroids, nprobe: int, *, quantized: bool = False) -> list[int]:
    """The nprobe nearest inverted lists for a query (same integer metric)."""
    C = (
        np.asarray(centroids, dtype=np.int64)
        if quantized
        else quantize_grid(centroids)
    )
    q = quantize_grid(query_vec)
    d = ((C - q[None, :]) ** 2).sum(axis=1)
    order = np.lexsort((np.arange(len(d)), d))  # ties -> lowest centroid idx
    return [int(i) for i in order[:nprobe]]


def _trunc_div(sums: np.ndarray, cnt: int) -> np.ndarray:
    """Exact integer division truncating toward zero — the ONE division rule
    every engine shares: Spark `a div b`, DuckDB `a // b`, and this (numpy's
    `//` floors, which disagrees on negatives, hence the sign dance)."""
    s = np.sign(sums)
    return (s * (np.abs(sums) // cnt)).astype(np.int64)


def kmeans_grid(Q: np.ndarray, n_lists: int, n_iters: int) -> np.ndarray:
    """Deterministic Lloyd's k-means over int64 grid vectors ``Q`` (rows
    ordered by id): init = first n_lists rows, assign = squared-L2 argmin
    (ties to lowest list id), update = trunc-div of int64 component sums
    (order-independent — float means would drift between engines), empty
    lists keep their previous centroid, exactly ``n_iters`` iterations.
    Every step is engine-portable, so a SQL oracle replays it bit-for-bit."""
    C = Q[:n_lists].copy()
    for _ in range(n_iters):
        d = (
            (Q * Q).sum(axis=1)[:, None]
            + (C * C).sum(axis=1)[None, :]
            - 2 * (Q @ C.T)
        )
        lids = np.argmin(d, axis=1)  # first occurrence = lowest list id
        newC = C.copy()
        for lid in range(len(C)):
            members = Q[lids == lid]
            if len(members):
                newC[lid] = _trunc_div(members.sum(axis=0), len(members))
        C = newC
    return C


def ivf_train_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    n_iters: int = 2,
    sample_size: int = 2048,
) -> np.ndarray:
    """Deterministic k-means coarse quantizer on the round(x*1e6) integer
    grid, returning (n_lists, dim) int64 QUANTIZED centroids.

    Trains on the ``sample_size`` LOWEST-ID vectors (deterministic — no RNG,
    no shuffle-order dependence), collected once and iterated driver-side in
    numpy (:func:`kmeans_grid`). Sample-based training is the standard IVF
    recipe (FAISS trains on ~256*n_lists points): at 100 TB the training
    cost stays CONSTANT — one ordered-limit collect — while assignment,
    the per-row part, runs distributed. A SQL oracle replays training over
    the same ``ORDER BY id LIMIT sample_size`` subset."""
    rows = (
        df.select(id_col, vec_col)
        .filter(F.col(vec_col).isNotNull())
        .orderBy(id_col)
        .limit(sample_size)
        .collect()
    )
    Q = quantize_grid([list(r[vec_col]) for r in rows])
    if len(Q) < n_lists:
        raise ValueError(f"need >= {n_lists} vectors to train, got {len(Q)}")
    return kmeans_grid(Q, n_lists, n_iters)


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    nprobe: int = 4,
    train_iters: int = 2,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus into ``n_lists``
    inverted lists, probe the ``nprobe`` lists nearest the query, exact
    cosine inside them. The scale path: at 1e9 vectors the probed fraction is
    ~nprobe/n_lists of the data, and list assignment is one Arrow matmul per
    batch.

    Coarse quantizer: deterministic integer-grid k-means
    (:func:`ivf_train_centroids` — lowest-id init + ``train_iters`` Lloyd
    iterations, SQL-replayable). ``train_iters=0`` degrades to the raw
    lowest-id-vectors quantizer."""
    C = ivf_train_centroids(
        df, id_col, vec_col, n_lists=n_lists, n_iters=train_iters
    )
    assigned = df.withColumn(
        "__list", ivf_assign_col(F.col(vec_col), C, quantized=True)
    )
    probe = ivf_probe_lists(query_vec, C, nprobe, quantized=True)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine_sim_cols(F.col(vec_col).cast("array<double>"), q)
    return (
        assigned.filter(F.col("__list").isin(probe))
        .select(F.col(id_col), F.round(sim, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )
