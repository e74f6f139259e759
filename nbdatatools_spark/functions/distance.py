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


_U = 2.0**-53  # float64 unit roundoff


def _gamma(n: int) -> float:
    """gamma_n = n*u / (1 - n*u): the relative error bound of n roundings."""
    return n * _U / (1 - n * _U)


def _fold(P: np.ndarray) -> np.ndarray:
    """Sum the last axis left to right from 0.0, ``_fsum``'s order bit for
    bit (``+ 0.0`` turns an all ``-0.0`` sum into ``_fsum``'s ``0.0``)."""
    return np.cumsum(P, axis=-1)[..., -1] + 0.0


def _by_rows(n: int, dim: int, f) -> np.ndarray:
    """``f(rows)`` over cache-sized slices of ``range(n)``, concatenated."""
    step = max(1, 65536 // max(dim, 1))
    return np.concatenate([f(slice(s, s + step)) for s in range(0, n, step)] or [np.empty(0)])


def _cell_fold(fn, B, Q, bb, qq):
    """Distances of the row pairs ``(B[i], Q[i])`` by the fold; ``bb`` and
    ``qq`` are their squared norms by the fold (cosine reads them)."""
    if fn is euclidean_distance:
        d = B - Q
        return np.sqrt(_fold(d * d))
    if fn is manhattan_distance:
        return _fold(np.abs(B - Q))
    dot = _fold(B * Q)
    if fn is dot_product_distance:
        return -dot
    denom = np.sqrt(qq) * np.sqrt(bb)
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(denom != 0, 1.0 - dot / denom, np.nan)


def distance_fold(B, Q, metric: str) -> np.ndarray:
    """The cell-wise numpy twin of :func:`distance_expr`: the distance of
    each row pair ``(B[i], Q[i])`` from float64 products summed left to
    right, the expression's value bit for bit (NaN where it is NULL)."""
    B = np.asarray(B, dtype=np.float64)
    Q = np.asarray(Q, dtype=np.float64)
    return _cell_fold(_metric(metric), B, Q, _fold(B * B), _fold(Q * Q))


def _near(sel, slack, k, excluded):
    """``(rows, cols)`` of the cells of ``sel`` not excluded and at most
    their column's k-th smallest defined, allowed value plus ``2 * slack``
    (all defined, allowed cells when a column has fewer than ``k``)."""
    kk = min(k, len(sel)) - 1
    key = sel.copy() if excluded is None else np.where(excluded, np.nan, sel)
    key.partition(kk, axis=0)  # NaN last
    near = sel <= np.where(np.isnan(key[kk]), np.inf, key[kk] + 2 * slack)
    return np.nonzero(near if excluded is None else near & ~excluded)


def _gemm(fn, B, Q, bb, qq):
    """One GEMM's ``(sel, slack)`` for cosine, euclidean and dot: ``sel``
    is the distance matrix, but euclidean's squared form, where the bound
    is linear; ``slack`` is a per-column bound on |sel - fold|. ``bb``/``qq``:
    squared norms (by the fold for cosine, whose re-score divides by them).

    Derivation (u = 2^-53, gamma_n = n*u/(1-n*u), d = dim): any order of
    summing d rounded or fused products errs by at most gamma_d *
    sum|b_i q_i| <= gamma_d*|b|*|q| (Cauchy-Schwarz), and GEMM and the fold
    are two orders, so dot differs by 2*gamma_d*|b|*|q|; euclidean's
    |b|^2 - 2b.q + |q|^2 (three sums, two additions) and the fold of
    (b_i - q_i)^2 each err by gamma_(d+2)*(|b|+|q|)^2; cosine, over the
    same denominator sqrt(q.q)*sqrt(b.b), by 2*gamma_d plus four roundings
    of the quotients and ``1 -``: 2*gamma_(d+3). ``slack`` doubles each
    bound, with the batch's largest base norm, to cover the bound's own
    rounding and that of the computed norms (O(d*u) relative)."""
    G = B @ Q.T
    d = B.shape[1]
    bmax = np.fmax.reduce(bb, initial=0.0)  # NaN rows stay out of the bound
    if fn is cosine_distance:
        denom = np.outer(np.sqrt(bb), np.sqrt(qq))
        with np.errstate(divide="ignore", invalid="ignore"):
            D = 1.0 - G / denom
        D[denom == 0] = np.nan
        return D, 4 * _gamma(d + 3)
    if fn is euclidean_distance:  # bb - 2G + qq, in place
        np.add(np.add(bb[:, None], np.multiply(G, -2.0, out=G), out=G), qq, out=G)
        return G, 4 * _gamma(d + 2) * (np.sqrt(bmax) + np.sqrt(qq)) ** 2
    return np.negative(G, out=G), 4 * _gamma(d) * np.sqrt(bmax * qq)


def distance_matrix(B, Q, metric: str, k: int | None = None, excluded=None):
    """Dense float64 ``(len(B), len(Q))`` distance matrix -- the numpy twin
    of :func:`distance_expr`, with the same metric names; undefined cells
    (zero-magnitude cosine) are NaN. Manhattan sums with the fold, with no
    (rows, queries, dim) intermediate. The others run one GEMM (``_gemm``),
    whose last bits follow the operands' shapes; without ``k`` that is the
    whole matrix (numpy's norms, nothing re-scored). With ``k``, GEMM
    proposes and the fold decides: each cell within ``2 * slack`` of its
    column's k-th GEMM value (``excluded`` cells never) is re-scored with
    the fold, so any (distance, base id) top-k cut of the matrix is
    ``distance_expr``'s, values included.

    Why that is enough: the k GEMM-best cells have fold values at most
    g_k + slack, so the fold's k-th value f_k is too; a cell above
    g_k + 2*slack has a fold value and a GEMM value above f_k (for
    euclidean the slack is >= 4*(d+2)*u times the squared distance, so the
    sqrt keeps that strict) and can never enter the k smallest."""
    fn = _metric(metric)
    B = np.asarray(B, dtype=np.float64)
    Q = np.asarray(Q, dtype=np.float64)
    if fn is manhattan_distance:  # dims-outer in ``_fold``'s order, query chunks of ~8MB
        D, step = np.zeros((len(B), len(Q))), max(1, (1 << 20) // max(len(B), 1))
        for s in range(0, len(Q), step):
            acc, term = D[:, s : s + step], np.empty((len(B), len(Q[s : s + step])))
            for b, q in zip(B.T, Q[s : s + step].T):
                acc += np.abs(np.subtract(b[:, None], q, out=term), out=term)
        return D
    d = B.shape[1]
    if fn is cosine_distance and k is not None:
        bb = _by_rows(len(B), d, lambda s: _fold(B[s] * B[s]))
        qq = _by_rows(len(Q), d, lambda s: _fold(Q[s] * Q[s]))
    else:
        bb, qq = (B * B).sum(1), (Q * Q).sum(1)
    D, slack = _gemm(fn, B, Q, bb, qq)
    r, c = _near(D, slack, k, excluded) if k is not None and D.size else np.empty((2, 0), int)
    if fn is euclidean_distance:
        np.sqrt(np.maximum(D, 0.0, out=D), out=D)  # clipped for fp negatives
    D[r, c] = _by_rows(len(r), d, lambda s: _cell_fold(fn, B[r[s]], Q[c[s]], bb[r[s]], qq[c[s]]))
    return D
