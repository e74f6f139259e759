"""Distance kernels as native Catalyst column expressions.

Semantics follow the reference's ``DistanceFunction`` enum
(datatools-testdata-apis/.../types/DistanceFunction.java:22-33 for the metric
set; :220-248 cosine, :281-305 euclidean, :307-329 manhattan, :197-218
dot-product). Implementations are pure ``pyspark.sql.functions`` higher-order
expressions — they run JVM-side inside whole-stage codegen, never a Python UDF.
``distance_matrix`` is their numpy twin for the Arrow-batched kernels
(operators.knn); both resolve metric names through the one ``METRICS`` table.
Those kernels decode every vector column through ``_matrix``.

Divergence (documented, SURVEY §7 "What's hard"): the reference THROWS on
zero-magnitude cosine inputs (DistanceFunction.java:239-241). Throwing inside a
distributed expression is hostile (kills the whole job on one bad row), so the
engine returns NULL for zero-magnitude cosine and exposes a validation helper
(`operators.analysis.count_zero_vectors`) to flag them up front.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F


def _fsum(col: Column) -> Column:
    """Sum an array<double> column left-to-right, JVM-side."""
    return F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x)


def _d(x: Column) -> Column:
    """Widen a component to double BEFORE arithmetic — keeps results
    bit-comparable with double-precision oracles and avoids float32
    rounding in intermediate products."""
    return x.cast("double")


def dot_product(a: Column, b: Column) -> Column:
    """dot(a, b) — DistanceFunction.java:197-218."""
    return _fsum(F.zip_with(a, b, lambda x, y: _d(x) * _d(y)))


def l2_norm(a: Column) -> Column:
    """Euclidean norm of one vector."""
    return F.sqrt(_fsum(F.zip_with(a, a, lambda x, y: _d(x) * _d(y))))


def cosine_similarity(a: Column, b: Column) -> Column:
    """dot/(|a||b|); NULL when either magnitude is zero.

    Reference: DistanceFunction.java:220-248 (throws on zero magnitude; we
    return NULL — see module docstring).
    """
    na, nb = l2_norm(a), l2_norm(b)
    denom = na * nb
    return F.when(denom != 0.0, dot_product(a, b) / denom)


def cosine_distance(a: Column, b: Column) -> Column:
    """1 - cosine_similarity — DistanceFunction.java:220-248."""
    return F.lit(1.0) - cosine_similarity(a, b)


def euclidean_distance(a: Column, b: Column) -> Column:
    """sqrt(sum((a_i-b_i)^2)) — DistanceFunction.java:281-305 (alias L2)."""
    return F.sqrt(_fsum(F.zip_with(a, b, lambda x, y: (_d(x) - _d(y)) * (_d(x) - _d(y)))))


def manhattan_distance(a: Column, b: Column) -> Column:
    """sum(|a_i-b_i|) — DistanceFunction.java:307-329 (alias L1)."""
    return _fsum(F.zip_with(a, b, lambda x, y: F.abs(_d(x) - _d(y))))


def dot_product_distance(a: Column, b: Column) -> Column:
    """-dot(a, b): lower is better — DistanceFunction.java:26,197-218."""
    return -dot_product(a, b)


METRICS = {
    "cosine": cosine_distance,
    "euclidean": euclidean_distance,
    "l2": euclidean_distance,
    "manhattan": manhattan_distance,
    "l1": manhattan_distance,
    "dot_product": dot_product_distance,
}


def _metric(metric: str):
    """Metric lookup by name — mirrors DistanceFunction.java:39-53 enum
    dispatch (aliases L2->euclidean, L1->manhattan kept)."""
    key = metric.strip().lower()
    if key not in METRICS:
        raise ValueError(f"unknown distance metric {metric!r}; one of {sorted(METRICS)}")
    return METRICS[key]


def distance_expr(metric: str, a: Column, b: Column) -> Column:
    """Metric dispatch by name, as a Catalyst column expression."""
    return _metric(metric)(a, b)


def _matrix(vectors: pa.ListArray, dim: int | None = None) -> np.ndarray:
    """Arrow list array of vectors -> float64 ``(rows, dim)`` from the flat
    values buffer. A null vector, or one not of length ``dim`` (default: the
    first one's), raises; a null component reads as NaN."""
    lens = vectors.value_lengths().to_numpy(zero_copy_only=False)
    if dim is None:
        dim = int(lens[0]) if len(lens) else 0
    if vectors.null_count or (lens != dim).any():
        raise ValueError("vectors must be non-null and of one dimension")
    flat = vectors.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64).reshape(len(vectors), dim)


def distance_matrix(B, Q, metric: str):
    """Dense float64 ``(len(B), len(Q))`` distance matrix — the numpy (BLAS)
    twin of :func:`distance_expr`, with the same metric names. Cells the
    metric leaves undefined (zero-magnitude cosine) are NaN; each caller
    states its own policy for them. Values differ from the sequential-fold
    expressions only in float summation order (last bits)."""
    fn = _metric(metric)
    B = np.asarray(B, dtype=np.float64)
    Q = np.asarray(Q, dtype=np.float64)
    if fn is cosine_distance:
        denom = np.outer(np.linalg.norm(B, axis=1), np.linalg.norm(Q, axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            D = 1.0 - (B @ Q.T) / denom
        D[denom == 0] = np.nan
        return D
    if fn is euclidean_distance:
        # |b-q|^2 = |b|^2 - 2 b.q + |q|^2, clipped for fp negatives
        sq = (B * B).sum(1)[:, None] - 2.0 * (B @ Q.T) + (Q * Q).sum(1)[None, :]
        return np.sqrt(np.maximum(sq, 0.0))
    if fn is dot_product_distance:
        return -(B @ Q.T)
    # manhattan has no GEMM form; chunk the query axis so the (rows, q_chunk,
    # dim) intermediate stays ~128MB whatever the batch shape
    q_chunk = max(1, int(16e6 // max(B.shape[0] * B.shape[1], 1)))
    D = np.empty((B.shape[0], Q.shape[0]), dtype=np.float64)
    for s in range(0, Q.shape[0], q_chunk):
        D[:, s : s + q_chunk] = np.abs(B[:, None, :] - Q[None, s : s + q_chunk, :]).sum(axis=2)
    return D
