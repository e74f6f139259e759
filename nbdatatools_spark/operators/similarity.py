"""Similarity search over embedding columns (SURVEY §7.8 extension).

- ``brute_force_topk``: exact top-k — the correctness baseline; the ranked
  rows of operators.knn's one exact KNN, one row per neighbor.
- ``random_hyperplane_signature`` + ``lsh_topk``: cosine LSH — bucket both
  sides by an n-bit random-hyperplane signature and search only within the
  bucket (multi-probe optional). Hyperplanes are generated deterministically
  from a seed on the driver (tiny: n_bits x dim floats) and inlined as literal
  arrays, so the bucketing is a pure Catalyst expression.
- ``ivf_topk``: IVF-style partition search — clustering.kmeans_centroids
  (MLlib, trained on a sample), each base vector assigned to its nearest
  centroid once by clustering.centroid_assign (precomputable /
  materializable, see ``ivf_build_index``), then ``_ivf_scan``, shared
  with IVFADC: operators.knn's query-block scan over each query's
  ``nprobe`` nearest cells (``_nearest``); each query scores only the rows
  of its own cells. At 100TB the assignment table is bucketed (or
  partitioned) by centroid id, so a query block reads only its probed cells.
- LSH keeps operators.knn's Spark tail: bucket-join ``(__qid, __bid,
  __dist)`` candidates, returned as ``_as_pairs(_merge_topk(candidates,
  k))`` — ranks by (distance asc, NULLs last, base id), undefined (NaN)
  distances NULL, as for the scans. ``bq_topk`` keeps its own window: its
  rows carry a ``hamming`` column.
- PQ/OPQ/IVFADC train on the driver with one seeded Lloyd loop
  (``_lloyd``), encode with one nearest-codeword pass (``_pq_codes``) and
  score from per-subspace ADC tables (``_luts``); all of them, and the IVF
  probe, take codeword distances from one row-chunked ``_block``.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nbdatatools_spark.functions.distance import _matrix, distance_expr, distance_matrix
from nbdatatools_spark.operators.clustering import centroid_assign, kmeans_centroids
from nbdatatools_spark.operators.knn import (
    _as_pairs,
    _group_starts,
    _knn_kernel,
    _local,
    _merge_topk,
    _query_blocks,
    _scan_topk,
    exact_knn,
    knn_recall,
)


def brute_force_topk(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    metric: str = "cosine",
    query_id: str = "vec_id",
    base_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbor pairs (query_id, rank, base_id, distance): the
    ranked rows of ``knn._knn_kernel`` in the one-row-per-neighbor shape
    (``exact_knn`` renders the same rows as neighbor arrays). Ranks run
    1..k per query by (distance, base_id); each distance is
    ``distance_expr``'s value, bit for bit. Undefined distances rank last
    and are NULL."""
    return _as_pairs(
        _knn_kernel(queries, base, k, metric, query_id, vec_col, base_id, vec_col)
    )


def _hyperplanes(dim: int, n_bits: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_bits)]


def random_hyperplane_signature(
    vec, dim: int, n_bits: int = 16, seed: int = 42
) -> "F.Column":
    """n-bit cosine-LSH signature as a BIGINT: bit j = sign(dot(v, h_j))."""
    planes = _hyperplanes(dim, n_bits, seed)
    sig = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        h = F.array(*[F.lit(float(x)) for x in plane])
        dot = F.aggregate(
            F.zip_with(vec, h, lambda a, b: a.cast("double") * b), F.lit(0.0), lambda acc, x: acc + x
        )
        sig = sig + F.when(dot > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
    return sig


def lsh_topk(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    dim: int,
    n_bits: int = 12,
    seed: int = 42,
    query_id: str = "vec_id",
    base_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k: candidates share the LSH bucket.

    Recall improves with fewer bits (bigger buckets); cost grows. The bucket
    join shuffles on the signature — uniform by construction.
    """
    qsig = queries.select(
        F.col(query_id).alias("__qid"),
        F.col(vec_col).alias("__qvec"),
        random_hyperplane_signature(F.col(vec_col), dim, n_bits, seed).alias("__sig"),
    )
    bsig = base.select(
        F.col(base_id).alias("__bid"),
        F.col(vec_col).alias("__bvec"),
        random_hyperplane_signature(F.col(vec_col), dim, n_bits, seed).alias("__sig"),
    )
    cands = _cosine_candidates(bsig.join(F.broadcast(qsig), "__sig"))
    return _as_pairs(_merge_topk(cands, k))


def _cosine_candidates(pairs: DataFrame) -> DataFrame:
    """``(__qid, __bid, __dist)`` candidates of a joined ``(__qid, __qvec,
    __bid, __bvec)`` pair table, scored by exact cosine distance."""
    return pairs.select(
        "__qid",
        "__bid",
        distance_expr("cosine", F.col("__qvec"), F.col("__bvec")).alias("__dist"),
    )


def _block(X, C, dot=False):
    """The one (rows x codes x dim) temporary: the ``(rows, codes)`` squared
    euclidean distances, or negated inner products when ``dot``. Rows go
    through in chunks, so the temporary stays ~16 MB; each cell's sum is
    the unchunked one, bit for bit."""
    out = np.empty((len(X), len(C)), np.result_type(X, C))
    step = max(1, int(2e6 // max(C.size, 1)))
    for s in range(0, len(X), step):
        x = X[s : s + step, None, :]
        out[s : s + step] = -(x * C).sum(-1) if dot else ((x - C) ** 2).sum(-1)
    return out


def _nearest(X, C, n=1):
    """Each row's ``n`` nearest rows of ``C`` by squared euclidean distance
    (``_block``), as ``(rows, min(n, codes))`` ids in (distance, id) order:
    ties (``_lloyd``'s padding) go to the lowest id, NaN distances last."""
    D = _block(X, C)
    if n == 1 and not np.isnan(D).any():
        return D.argmin(1)[:, None]  # the stable sort's first id, without the sort
    return np.argsort(D, axis=1, kind="stable")[:, :n]


def _ivf_scan(
    queries, cells, centroids, nprobe, k, query_id, vec_col, base_id, cols, make_score, seen=None
):
    """The one IVF search, on operators.knn's query-block scan: per query
    block the driver picks ``P = _nearest(Q, C, nprobe)`` (appended to
    ``seen`` if given) and prunes ``cells`` to ``centroid_id IN (probed)``.
    Each task builds ``score = make_score(Q, C, P)`` once and scores each
    Arrow batch of ``(base_id, centroid_id, *cols)`` rows cell by cell:
    ``score(batch)(rows, qs, slots)`` is the distance block of one cell's
    rows against the queries ``qs`` that probe it (in probe slots
    ``slots``); every other pair is excluded. ``nprobe < 1`` raises."""
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    C = np.asarray(centroids, dtype=np.float64)

    def probed(payload):
        Q, C, P = payload
        score = make_score(Q, C, P)
        pairs = np.argsort(P, axis=None, kind="stable")  # q * nprobe + slot, by cell
        probers = np.split(pairs, np.searchsorted(P.ravel()[pairs], np.arange(1, len(C))))

        def by_cell(batch):
            cid = batch.column("centroid_id").to_numpy()
            cell = score(batch)
            D = np.zeros((len(cid), len(Q)))
            excluded = np.ones(D.shape, dtype=bool)
            order = np.argsort(cid, kind="stable")
            for rows in np.split(order, _group_starts(cid[order])[1:]):
                qs, slots = np.divmod(probers[cid[rows[0]]], P.shape[1])
                D[np.ix_(rows, qs)] = cell(rows, qs, slots)
                excluded[np.ix_(rows, qs)] = False
            return D, excluded

        return by_cell

    def run(qids, Q, _):
        P = _nearest(Q, C, nprobe)
        if seen is not None:
            seen.append(P)
        return _scan_topk(
            cells.where(F.col("centroid_id").isin(np.unique(P).tolist())),
            base_id, ["centroid_id", *cols], k, qids, (Q, C, P), probed,
        )

    return _query_blocks(queries, query_id, [vec_col], k, run)


def _ivf_flat(queries, cells, centroids, nprobe, k, query_id, base_id, vec_col, seen=None):
    """IVF-flat pairs: ``_ivf_scan`` of ``(base_id, vec_col, centroid_id)``
    cells, each cell's rows scored by cosine ``distance_matrix`` against
    the queries that probe it, its top-k candidates re-scored with the
    fold: every stored distance is ``distance_expr``'s."""

    def cosine(Q, C, P):
        def score(batch):
            B = _matrix(batch.column(vec_col), Q.shape[1])
            return lambda rows, qs, slots: distance_matrix(B[rows], Q[qs], "cosine", k)

        return score

    return _as_pairs(_ivf_scan(
        queries, cells, centroids, nprobe, k, query_id, vec_col, base_id, [vec_col], cosine, seen
    ))


def ivf_topk(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    n_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    query_id: str = "vec_id",
    base_id: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float = 1.0,
) -> DataFrame:
    """IVF: KMeans-partitioned approximate search.

    Train centroids on a (deterministic) sample with
    ``clustering.kmeans_centroids``, assign base vectors to the nearest
    centroid with the shuffle-free ``clustering.centroid_assign`` (one
    literal-array argmin projection, VERDICT r1 #4), then ``_ivf_scan``
    the ``nprobe`` nearest cells per query by cosine distance (float64
    GEMM of each cell's rows against the queries probing it, the top-k
    candidates re-scored to ``distance_expr``'s values bit for bit; a null
    or ragged vector raises ``_matrix``'s
    ``ValueError``, as does ``nprobe < 1``). No join, window or shuffle; the
    scan runs when called and returns a local relation, like exact_knn.
    """
    centroids, cells = _ivf_cells(base, n_centroids, seed, vec_col, sample_fraction)
    return _ivf_flat(queries, cells, centroids, nprobe, k, query_id, base_id, vec_col)


def _ivf_cells(base, n_centroids, seed, vec_col, sample_fraction=1.0):
    """The IVF coarse quantizer: ``kmeans_centroids`` on a sample, then the
    base with each row's ``centroid_id``."""
    centroids = kmeans_centroids(base, n_centroids, vec_col, seed, 20, sample_fraction)
    return centroids, centroid_assign(base, centroids, "euclidean", vec_col, impl="expr")


# --- Product quantization (PQ/ADC) -----------------------------------------
#
# The memory-side scale path (Jégou, Douze, Schmid, "Product Quantization
# for Nearest Neighbor Search", TPAMI 2011): vectors are split into m
# subspaces, each quantized against its own n_codes-entry codebook, so a
# d-dim float32 vector compresses to m bytes (d*4/m x smaller). Search is
# asymmetric distance computation (ADC): per query, one (m x n_codes)
# lookup table of exact subspace distances, then each base code costs m
# table lookups + adds — no float vector is ever touched at scan time.
# At 100TB of raw embeddings the codes table is ~3TB at d=256, m=8: the
# difference between a scan that fits the page cache and one that doesn't.


def _lloyd(Y, n_out: int, iters: int, rng):
    """The one Lloyd k-means: ``min(n_out, len(Y))`` seeds drawn from ``Y``
    by ``rng``, ``iters`` assign/mean rounds (an empty cluster keeps its
    centroid), returned as ``(n_out, d)`` — a sample smaller than
    ``n_out`` pads with the first centroid."""
    k = min(n_out, len(Y))
    cents = Y[rng.choice(len(Y), size=k, replace=False)].copy()
    for _ in range(iters):
        assign = _nearest(Y, cents)[:, 0]
        for c in range(k):
            mask = assign == c
            if mask.any():
                cents[c] = Y[mask].mean(0)
    out = np.empty((n_out, Y.shape[1]))
    out[:k] = cents
    out[k:] = cents[0]
    return out


def _pq_books(Y, m: int, n_codes: int, iters: int, rng):
    """(m, n_codes, d//m) codebooks: ``_lloyd`` on each subspace in turn,
    one ``rng`` stream across subspaces."""
    return np.stack([_lloyd(y, n_codes, iters, rng) for y in np.hsplit(Y, m)])


def _pq_codes(X, books):
    """(n, m) uint8 codes: the nearest codeword per subspace."""
    codes = [_nearest(x, b) for x, b in zip(np.hsplit(X, len(books)), books)]
    return np.hstack(codes).astype(np.uint8)


def _luts(X, books, dot=False):
    """ADC lookup tables, one subspace at a time: per subspace, the
    ``(rows, n_codes)`` ``_block`` of ``X``'s slice against its codebook."""
    return [_block(x, b, dot) for x, b in zip(np.hsplit(X, len(books)), books)]


def _code_matrix(codes: pa.Array, m: int) -> np.ndarray:
    """An Arrow column of ``m``-byte PQ codes -> ``(rows, m)`` uint8."""
    fixed = codes.cast(pa.binary(m))
    return np.frombuffer(fixed.buffers()[1], np.uint8, len(fixed) * m, fixed.offset * m).reshape(-1, m)


def _sample_matrix(base: DataFrame, vec_col: str, sample_limit: int, m: int):
    """The driver-side training sample as float64, checked for ``d % m``:
    the first ``sample_limit`` rows in partition order, read by one task so
    the sample does not depend on shuffle block order."""
    sample = base.select(vec_col).coalesce(1).limit(sample_limit).toArrow()
    X = _matrix(sample.column(0).combine_chunks())
    if X.shape[1] % m != 0:
        raise ValueError(f"dim {X.shape[1]} not divisible by m={m}")
    return X


def pq_train(
    base: DataFrame,
    m: int = 8,
    n_codes: int = 256,
    vec_col: str = "embedding",
    sample_limit: int = 100_000,
    iters: int = 20,
    seed: int = 42,
    opq: bool = False,
    opq_iters: int = 8,
):
    """Train per-subspace codebooks with Lloyd k-means on a driver-side
    sample (codebooks are tiny: m * n_codes * d/m floats = one vector's
    worth per code). Deterministic: seeded init, fixed iterations.
    NaN policy: a NaN distance ranks after every number, so a sample row
    with a NaN component can make a NaN codeword, but a clean row never
    trains or encodes to it.

    Returns a numpy array of shape (m, n_codes, d//m).

    ``opq=True`` additionally learns the OPQ orthogonal rotation
    (Ge, He, Ke & Sun, CVPR 2013 "Optimized Product Quantization",
    non-parametric variant): alternate (a) PQ codebook training on the
    rotated sample, (b) reconstruction, (c) the orthogonal-Procrustes
    update R = U V^T from SVD(X^T X_hat) — the same driver d x d SVD
    discipline as analysis.orthogonal_procrustes. Rotating the space
    lets the axis-aligned subspace split follow the data's correlation
    structure — the standard recall upgrade over plain PQ. Returns
    ``(codebooks, rotation)`` where rotation is the (d, d) orthogonal
    matrix to apply to vectors (``X @ R``) before encoding — pass it to
    pq_encode/pq_topk as ``rotation=``.
    """
    X = _sample_matrix(base, vec_col, sample_limit, m)
    if not opq:
        return _pq_books(X, m, n_codes, iters, np.random.default_rng(seed))

    R = np.eye(X.shape[1])
    for _ in range(opq_iters):
        Y = X @ R
        # fresh identically-seeded rng per iteration: each alternation is
        # a deterministic function of (X, R), so training is replayable
        books = _pq_books(Y, m, n_codes, iters, np.random.default_rng(seed))
        # reconstruction: each subspace replaced by its nearest codeword
        Yhat = books[np.arange(m), _pq_codes(Y, books)].reshape(Y.shape)
        U, _, Vt = np.linalg.svd(X.T @ Yhat)
        R = U @ Vt
    return _pq_books(X @ R, m, n_codes, iters, np.random.default_rng(seed)), R


def pq_encode(
    base: DataFrame,
    codebooks,
    base_id: str = "vec_id",
    vec_col: str = "embedding",
    rotation=None,
) -> DataFrame:
    """(id, codes BINARY) — each vector becomes m uint8 codes. Vectorized
    per Arrow batch; the codebooks (and the optional OPQ ``rotation``,
    applied as ``X @ R`` before subspace assignment) broadcast once."""
    return _encode(base, base_id, vec_col, codebooks, rotation=rotation)


def _encode(base: DataFrame, base_id: str, vec_col: str, codebooks, rotation=None, centroids=None):
    """The one PQ encode scan: ``(id[, centroid_id], codes)``. Each Arrow
    batch is rotated (``X @ R``) when a ``rotation`` is given, assigned to
    its nearest coarse centroid and replaced by the residual when
    ``centroids`` are given (IVFADC), then coded by ``_pq_codes``."""
    bc = base.sparkSession.sparkContext.broadcast(
        (np.asarray(codebooks), None if rotation is None else np.asarray(rotation), centroids)
    )

    def encode(batches):
        books, rot, C = bc.value
        m, _, dsub = books.shape
        for batch in batches:
            X = _matrix(batch.column(vec_col), m * dsub)
            if rot is not None:
                X = X @ rot
            out = {"id": batch.column(base_id).cast(pa.int64())}
            if C is not None:
                cid = _nearest(X, C)[:, 0]
                out["centroid_id"] = pa.array(cid.astype(np.int32))
                X = X - C[cid]
            codes = np.ascontiguousarray(_pq_codes(X, books))
            fixed = pa.Array.from_buffers(pa.binary(m), len(codes), [None, pa.py_buffer(codes)])
            out["codes"] = fixed.cast(pa.binary())
            yield pa.record_batch(out)

    cells = "" if centroids is None else "centroid_id INT, "
    return base.select(base_id, vec_col).mapInArrow(encode, f"id BIGINT, {cells}codes BINARY")


def pq_topk(
    queries: DataFrame,
    encoded: DataFrame,
    codebooks,
    k: int,
    metric: str = "euclidean",
    query_id: str = "vec_id",
    base_id: str = "vec_id",
    vec_col: str = "embedding",
    rerank_base: DataFrame | None = None,
    rerank_factor: int = 4,
    rotation=None,
) -> DataFrame:
    """ADC top-k over PQ codes: (query_id, rank, base_id, distance).
    Pass the OPQ ``rotation`` the codes were encoded with — queries are
    rotated identically before the lookup tables are built (rotation is
    orthogonal, so euclidean and dot distances are preserved exactly;
    the exact re-rank path reads RAW vectors and needs no rotation).

    operators.knn's query-block scan with an ADC scorer: query blocks
    (cut past the driver's candidate budget, as in exact_knn) are
    broadcast, each task builds the per-query lookup tables once, each
    Arrow batch of CODES is scored from them, and the driver ranks the
    tasks' top-k rows. Metrics: ``euclidean`` (additive squared-L2,
    reported as sqrt) and ``dot`` (additive inner product, reported
    negated); for cosine, L2-normalize vectors before encoding and use
    ``dot``.

    Pass the raw vector table as ``rerank_base`` to re-rank an ADC
    shortlist of ``k * rerank_factor`` candidates by EXACT distance —
    quantization error then only affects the shortlist boundary, and the
    extra cost is one broadcast join on Q*k*factor rows.
    """
    metric_key = metric.strip().lower()
    if metric_key not in ("euclidean", "l2", "dot", "dot_product"):
        raise ValueError(f"pq_topk supports euclidean/dot, got {metric!r}")
    books = np.asarray(codebooks)
    rot = None if rotation is None else np.asarray(rotation)
    shortlist_k = k * rerank_factor if rerank_base is not None else k

    def adc(payload):
        Q, books = payload
        luts = _luts(Q, books, metric_key in ("dot", "dot_product"))

        def score(batch):
            codes = _code_matrix(batch.column("codes"), len(luts))
            return sum(t[:, codes[:, s]].T for s, t in enumerate(luts)), None

        return score

    out = _query_blocks(
        queries, query_id, [vec_col], shortlist_k,
        lambda qids, Q, _: _scan_topk(
            encoded, "id", ["codes"], shortlist_k, qids,
            (Q if rot is None else Q @ rot, books), adc,
        ),
    )
    if rerank_base is None:
        return _as_pairs(out, F.sqrt("__dist") if metric_key in ("euclidean", "l2") else None)
    exact_metric = {"dot": "dot_product"}.get(metric_key, metric_key)
    return _rerank(out, queries, rerank_base, k, exact_metric, query_id, base_id, vec_col)


def _rerank(
    shortlist: pa.Table,
    queries: DataFrame,
    rerank_base: DataFrame,
    k: int,
    metric: str,
    query_id: str,
    base_id: str,
    vec_col: str,
) -> DataFrame:
    """Exact re-rank of an ADC shortlist (the IVFADC+rerank production
    shape): the Q*k*factor shortlist is tiny, so broadcast it against the
    raw vectors, recompute the true distance on just those candidates, and
    re-rank. Quantization error then only matters at the shortlist
    boundary."""
    qdf = queries.select(F.col(query_id).alias("__qid"), F.col(vec_col).alias("__qvec"))
    cand = (
        rerank_base.select(F.col(base_id).alias("__bid"), F.col(vec_col).alias("__bvec"))
        .join(F.broadcast(_local(shortlist).select("__qid", "__bid")), "__bid")
        .join(F.broadcast(qdf), "__qid")
    )
    rer = cand.select(
        "__qid",
        "__bid",
        distance_expr(metric, F.col("__qvec"), F.col("__bvec")).alias("__dist"),
    )
    return _as_pairs(_merge_topk(rer, k))


# --- IVFADC: IVF coarse quantizer + PQ on residuals ------------------------


def ivfpq_build(
    base: DataFrame,
    n_centroids: int = 16,
    m: int = 8,
    n_codes: int = 256,
    base_id: str = "vec_id",
    vec_col: str = "embedding",
    sample_limit: int = 100_000,
    iters: int = 20,
    seed: int = 42,
):
    """Train the IVFADC index (Jégou et al. TPAMI 2011 §IV): coarse k-means
    centroids + PQ codebooks over RESIDUALS (x - centroid), then encode the
    base table to (id, centroid_id, codes). Returns (encoded_df, index)
    where index = (centroids, codebooks) — tiny, broadcastable.

    At 100TB the encoded table is written bucketed by centroid_id, so a
    probe touches ~nprobe/n_centroids of the files; the codes are m bytes
    per vector, so even a full scan reads d*4/m x less than raw floats.
    """
    X = _sample_matrix(base, vec_col, sample_limit, m)
    # one rng stream: coarse seeds first, then each subspace's
    rng = np.random.default_rng(seed)
    centroids = _lloyd(X, n_centroids, iters, rng)
    books = _pq_books(X - centroids[_nearest(X, centroids)[:, 0]], m, n_codes, iters, rng)
    return _encode(base, base_id, vec_col, books, centroids=centroids), (centroids, books)


def ivfpq_topk(
    queries: DataFrame,
    encoded: DataFrame,
    index,
    k: int,
    nprobe: int = 4,
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    rerank_base: DataFrame | None = None,
    rerank_factor: int = 4,
    base_id: str = "vec_id",
) -> DataFrame:
    """IVFADC search (euclidean): probe the nprobe nearest centroids per
    query, ADC-score only codes in probed cells (per-query residual LUTs),
    per-batch partial top-k, tiny merge. Optional exact re-rank as in
    :func:`pq_topk`.

    The IVF scan of :func:`ivf_topk` (``_ivf_scan``; probe ties go to the
    lowest centroid id) with an ADC scorer: each task builds the residual
    LUTs once and reads each row's LUT from its cell's probe slot.
    Combined with centroid_id bucketing (or partition pruning on a
    centroid_id-partitioned table) the scan itself skips unprobed data at
    100TB.
    """
    centroids, books = index
    shortlist_k = k * rerank_factor if rerank_base is not None else k

    def ivfadc(Q, C, P):
        # per subspace, the (query, probe slot) residual LUTs: (Q, nprobe, n_codes)
        R = (Q[:, None, :] - C[P]).reshape(P.size, Q.shape[1])
        luts = [t.reshape(*P.shape, books.shape[1]) for t in _luts(R, books)]

        def score(batch):
            codes = _code_matrix(batch.column("codes"), len(luts))
            return lambda rows, qs, slots: sum(
                t[qs, slots][:, codes[rows, s]].T for s, t in enumerate(luts)
            )

        return score

    out = _ivf_scan(
        queries, encoded, centroids, nprobe, shortlist_k, query_id, vec_col, "id", ["codes"], ivfadc
    )
    if rerank_base is None:
        return _as_pairs(out, F.sqrt("__dist"))
    return _rerank(out, queries, rerank_base, k, "euclidean", query_id, base_id, vec_col)


# --- Scalar quantization (SQ8) ---------------------------------------------

def sq8_train(df: DataFrame, vec_col: str = "embedding") -> tuple[list, list]:
    """Per-dimension (min, max) quantization bounds: one bounded moment
    pass (d-row output), the SQ companion of pq_train. Returns
    (mins, maxes) python lists for literal inlining."""
    rows = (
        df.select(F.posexplode(vec_col).alias("dim", "v"))
        .groupBy("dim")
        .agg(F.min(F.col("v").cast("double")).alias("lo"),
             F.max(F.col("v").cast("double")).alias("hi"))
        .orderBy("dim")
        .collect()
    )
    return [r.lo for r in rows], [r.hi for r in rows]


def sq8_encode(
    df: DataFrame,
    mins: list,
    maxes: list,
    vec_col: str = "embedding",
    out_col: str = "sq_code",
) -> DataFrame:
    """Affine int8 quantization: code = round(255 * (x - lo) / (hi - lo)),
    clamped to [0, 255], stored as array<tinyint> offset by -128 —
    4x smaller than float32 at rest and on the shuffle wire (the standard
    faiss SQ8 layout). Pure literal-array transform projection: no
    shuffle, no UDF. Constant dimensions (hi == lo) encode as 0."""
    lo = F.array(*[F.lit(float(v)) for v in mins])
    span = F.array(
        *[F.lit(float(h) - float(l)) for l, h in zip(mins, maxes)]
    )
    code = F.transform(
        F.col(vec_col),
        lambda x, i: (
            F.when(F.element_at(span, i + 1) == 0.0, F.lit(0))
            .otherwise(
                F.greatest(
                    F.lit(0),
                    F.least(
                        F.lit(255),
                        F.round(
                            (x.cast("double") - F.element_at(lo, i + 1))
                            * 255.0
                            / F.element_at(span, i + 1),
                            0,
                        ).cast("int"),
                    ),
                )
            )
            - 128
        ).cast("tinyint"),
    )
    return df.withColumn(out_col, code)


def sq8_decode(
    df: DataFrame,
    mins: list,
    maxes: list,
    code_col: str = "sq_code",
    out_col: str = "embedding_dq",
) -> DataFrame:
    """Dequantize SQ8 codes back to doubles (reconstruction error is
    bounded by span/510 per dimension — pinned by tests)."""
    lo = F.array(*[F.lit(float(v)) for v in mins])
    span = F.array(
        *[F.lit(float(h) - float(l)) for l, h in zip(mins, maxes)]
    )
    vec = F.transform(
        F.col(code_col),
        lambda c, i: F.element_at(lo, i + 1)
        + (c.cast("double") + 128.0) * F.element_at(span, i + 1) / 255.0,
    )
    return df.withColumn(out_col, vec)


def sq8_error_report(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension SQ8 reconstruction-error audit: train (min, max)
    bounds, quantize-dequantize, and report per dim
    ``(dim, lo, hi, mse, max_abs_err, within_bound)`` where the bound is
    the affine-quantizer guarantee span/(2*255) (+1 quantization-grid ulp
    of slack for the round-trip arithmetic).

    Exactness contract: code = clamp(round((x-lo)*255/span), 0, 255) with
    Spark HALF_UP rounding == C round() for the non-negative operand;
    per-dim MSE is a 12dp-rounded DECIMAL sum (order-invariant) over
    squared errors; max is order-free. Fully SQL-replicable.

    Scale shape: one bounded (dim)-keyed min/max pass (d-row driver
    collect, the codebook discipline), then a single map-side
    encode+decode projection and one (dim)-keyed aggregate. No UDF, no
    unbounded driver state.
    """
    mins, maxes = sq8_train(df, vec_col=vec_col)
    enc = sq8_encode(df, mins, maxes, vec_col=vec_col, out_col="__sq")
    dec = sq8_decode(enc, mins, maxes, code_col="__sq", out_col="__dq")
    lo = F.array(*[F.lit(float(v)) for v in mins])
    hi = F.array(*[F.lit(float(v)) for v in maxes])
    err = dec.select(
        F.posexplode(
            F.zip_with(
                F.col(vec_col),
                F.col("__dq"),
                lambda x, y: x.cast("double") - y,
            )
        ).alias("dim", "e")
    )
    per_dim = err.groupBy("dim").agg(
        F.round(
            F.sum(F.round(F.col("e") * F.col("e"), 12).cast("decimal(24,12)"))
            .cast("decimal(38,12)")
            .cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("mse"),
        F.max(F.round(F.abs("e"), 9)).alias("max_abs_err"),
    )
    return per_dim.select(
        "dim",
        F.round(F.element_at(lo, F.col("dim") + 1), 6).alias("lo"),
        F.round(F.element_at(hi, F.col("dim") + 1), 6).alias("hi"),
        "mse",
        "max_abs_err",
        (
            F.col("max_abs_err")
            <= (F.element_at(hi, F.col("dim") + 1) - F.element_at(lo, F.col("dim") + 1))
            / 510.0
            + (F.element_at(hi, F.col("dim") + 1) - F.element_at(lo, F.col("dim") + 1))
            / 255.0
            * 1e-9
            + 1e-12
        ).alias("within_bound"),
    ).orderBy("dim")


# --- Late-interaction (MaxSim / ColBERT) ------------------------------------

def maxsim_topk(
    query_tokens: DataFrame,
    doc_tokens: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    doc_id: str = "doc_id",
    vec_col: str = "vec",
) -> DataFrame:
    """Late-interaction retrieval scoring (ColBERT MaxSim; Khattab &
    Zaharia SIGIR 2020): both queries and documents are BAGS of token
    vectors, and score(q, d) = sum over query tokens of the MAX cosine
    similarity against any document token. Catches term-level matches a
    single pooled embedding blurs away.

    Inputs are long-form token tables — ``query_tokens`` (query_id,
    token_pos, vec) and ``doc_tokens`` (doc_id, token_pos, vec) — the
    layout that scales (multi-vector docs as rows, not mega-arrays).

    Scale shape: the query token block broadcasts (retrieval queries are
    the small side by definition); document tokens stream past it in ONE
    pass with no shuffle at the interaction stage. The two reductions —
    per-(query, token, doc) max, then per-(query, doc) sum — are
    map-side-combinable hash aggregates whose key space is |q_tokens| x
    |docs|, already a ~tokens-per-doc reduction of the interaction
    output. Top-k per query is a rank window over doc-level rows only.
    At 100 TB you'd pre-prune candidates with ANN (lsh_topk / ivf_topk
    on pooled vectors) and MaxSim-rescore the survivors — this operator
    IS that rescorer.

    Engine-exact: per-pair cosine is rounded to 9dp before the max (max
    of rounded = rounded max ordering), and per-query-token maxima are
    9dp-DECIMAL-summed so doc scores are order-independent. Ties on
    score break by doc_id ascending. Returns (query_id, rank, doc_id,
    maxsim_score DOUBLE).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    q = query_tokens.select(
        F.col(query_id).alias("__qid"),
        F.col("token_pos").alias("__qpos"),
        F.col(vec_col).alias("__qv"),
    )
    d = doc_tokens.select(
        F.col(doc_id).alias("__did"),
        F.col(vec_col).alias("__dv"),
    )
    from nbdatatools_spark.functions.distance import cosine_similarity

    sim = F.round(cosine_similarity(F.col("__qv"), F.col("__dv")), 9)
    per_token_best = (
        d.crossJoin(F.broadcast(q))
        .select("__qid", "__qpos", "__did", sim.alias("__sim"))
        .groupBy("__qid", "__qpos", "__did")
        .agg(F.max("__sim").alias("__best"))
    )
    doc_scores = (
        per_token_best.groupBy("__qid", "__did")
        .agg(
            F.sum(F.col("__best").cast("decimal(38,9)"))
            .cast("double")
            .alias("maxsim_score")
        )
    )
    w = Window.partitionBy("__qid").orderBy(
        F.col("maxsim_score").desc(), F.col("__did").asc()
    )
    return (
        doc_scores.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(query_id),
            "rank",
            F.col("__did").alias(doc_id),
            "maxsim_score",
        )
    )


def hard_negatives(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    label_col: str = "label",
    metric: str = "cosine",
    query_id: str = "vec_id",
    base_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query vector,
    the ``k`` nearest base vectors whose ``label_col`` DIFFERS from the
    query's — the standard in-batch-negatives upgrade (dense-retrieval
    training mines the most-similar wrong-class examples as negatives).

    Returns ``(query_id, rank, base_id, distance)``; pairs with undefined
    distance (zero-magnitude cosine) are excluded — a NULL-distance negative
    is useless for training. Ties break on (distance, base_id); each
    distance is ``distance_expr``'s value, bit for bit.

    Plan: operators.knn's dense kernel with a same-label exclusion mask —
    query blocks (ids, vectors, labels; cut past the driver's candidate
    budget, as in exact_knn) are broadcast, each scan task keeps its local
    top-k per query, and the driver ranks those Q*k rows per task, never
    Q*B. Undefined distances rank after every defined one, so dropping
    them from the ranked rows leaves the defined ranks unchanged.
    """
    pairs = _knn_kernel(
        queries, base, k, metric, query_id, vec_col, base_id, vec_col,
        exclude=lambda blab, qlab: blab.to_numpy(zero_copy_only=False)[:, None] == qlab[None, :],
        query_key=label_col, base_key=label_col,
    )
    return _as_pairs(pairs).where(F.col("distance").isNotNull())


def ivf_build_index(
    base: DataFrame,
    index_dir: str,
    n_centroids: int = 16,
    seed: int = 42,
    base_id: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float = 1.0,
) -> dict:
    """Materialize an IVF index on disk — build once, probe many (ivf_topk
    re-trains and re-assigns per call; at 100 TB the assignment pass IS the
    job, so it must be paid once and reused across query batches).

    Layout under ``index_dir``:
    - ``centroids.parquet`` (centroid_id INT, centroid ARRAY<DOUBLE>) — tiny;
      ids are 0..n_centroids-1
    - ``assignments.parquet`` — the base table + ``centroid_id``, written
      PARTITIONED BY centroid_id, so a query block probing c cells reads
      exactly c directories (partition pruning = the inverted-list seek)

    Returns ``{"n_centroids", "n_vectors"}``. Training and assignment are
    ivf_topk's (``_ivf_cells``).
    """
    centroids, assigned = _ivf_cells(base, n_centroids, seed, vec_col, sample_fraction)
    spark = base.sparkSession
    spark.createDataFrame(
        list(enumerate(centroids)),
        "centroid_id INT, centroid ARRAY<DOUBLE>",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(index_dir, "centroids.parquet"))
    assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(
        os.path.join(index_dir, "assignments.parquet")
    )
    n = spark.read.parquet(os.path.join(index_dir, "assignments.parquet")).count()
    return {"n_centroids": len(centroids), "n_vectors": n}


def _read_centroids(spark, index_dir: str) -> list[list[float]]:
    """The index's centroids in id order. Probe and assignment label cells
    by list position, so ids other than 0..n-1 raise instead of
    mislabelling cells."""
    rows = spark.read.parquet(os.path.join(index_dir, "centroids.parquet")).orderBy(
        "centroid_id"
    ).collect()
    ids = [r.centroid_id for r in rows]
    if not rows or ids != list(range(len(rows))):
        raise ValueError(
            f"centroids under {index_dir!r} must carry ids 0..n-1, found {ids[:8]}"
        )
    return [list(r.centroid) for r in rows]


def ivf_append_index(
    new_vectors: DataFrame,
    index_dir: str,
    base_id: str = "vec_id",
    vec_col: str = "embedding",
    drop_existing_ids: bool = False,
) -> dict:
    """Incrementally extend a materialized IVF index (ivf_build_index
    layout) with a new vector batch — the maintenance path a 100-TB index
    lives on: the nightly embedding delta is assigned to the EXISTING
    centroids and appended into the partitioned assignments table, so the
    cost is O(|delta| * n_centroids) map-side arithmetic plus a
    partitioned append. Nothing retrains, and the standing corpus is
    never rescanned or rewritten (dynamic-partition append adds files
    inside each centroid_id directory; partition pruning in
    ivf_search_index is unaffected).

    ``drop_existing_ids=True`` anti-joins the batch against the index's id
    set first (re-crawled embeddings must not enter twice). That check
    reads the ids column of the WHOLE index — one column-pruned scan, the
    documented price; leave it off when upstream ingest already dedups.

    Centroid quality drifts as the corpus outgrows its training sample;
    the returned per-append summary {"n_appended", "n_cells_touched",
    "max_cell_fraction"} is the rebalance dial — when max_cell_fraction
    of the APPENDED batch concentrates in few cells, the distribution has
    moved and ivf_build_index should be re-run.
    """
    spark = new_vectors.sparkSession
    centroids = _read_centroids(spark, index_dir)

    batch = new_vectors
    if drop_existing_ids:
        seen = spark.read.parquet(
            os.path.join(index_dir, "assignments.parquet")
        ).select(F.col(base_id))
        batch = batch.join(seen, base_id, "left_anti")

    assigned = centroid_assign(batch, centroids, "euclidean", vec_col, impl="expr")
    assigned.write.mode("append").partitionBy("centroid_id").parquet(
        os.path.join(index_dir, "assignments.parquet")
    )
    # bounded readout: n_centroids rows, computed on the batch only
    cell_counts = assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n")
    ).collect()
    n_appended = sum(r.n for r in cell_counts)
    return {
        "n_appended": int(n_appended),
        "n_cells_touched": len(cell_counts),
        "max_cell_fraction": (
            round(max(r.n for r in cell_counts) / n_appended, 6) if n_appended else 0.0
        ),
    }


def ivf_search_index(
    spark,
    index_dir: str,
    queries: DataFrame,
    k: int,
    nprobe: int = 4,
    query_id: str = "vec_id",
    base_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a materialized IVF index (ivf_build_index layout): load the
    tiny centroid table and run ivf_topk's ``_ivf_scan`` over the
    assignments table — each query block's ``centroid_id IN (probed)``
    filter prunes partitions, so the scan touches c directories out of
    n_centroids (visible as PartitionFilters in the scan plan). Probe and
    ranking are ivf_topk's, so the same centroids give the same pairs; the
    pairs come back as a local relation."""
    centroids = _read_centroids(spark, index_dir)
    cells = spark.read.parquet(os.path.join(index_dir, "assignments.parquet"))
    return _ivf_flat(queries, cells, centroids, nprobe, k, query_id, base_id, vec_col)


def _neighbor_sets(pairs: DataFrame) -> DataFrame:
    """ANN pairs ``(query_id, base_id, ...)`` -> ``(ordinal, indices)``,
    the shape ``knn_recall`` scores."""
    return pairs.groupBy(F.col("query_id").alias("ordinal")).agg(
        F.collect_list("base_id").alias("indices")
    )


def ann_tuning_report(
    queries: DataFrame,
    base: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobes=(1, 2, 4, 8),
    seed: int = 42,
    query_id: str = "vec_id",
    base_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Measured recall@k vs nprobe for IVF search — the ANN counterpart of
    minhash_quality_report: before a 100-TB index commits to (n_centroids,
    nprobe), this reports the recall curve on YOUR vectors against exact
    brute-force ground truth (computed once, on the GEMM kernel).

    Returns one row per probed setting: ``(nprobe, n_queries, recall,
    mean_candidates)`` — recall = mean per-query |IVF∩exact| / k;
    mean_candidates = base rows scanned per query (the cost dial the recall
    buys): per-cell row counts summed over each query's probed cells. The
    quantizer is fitted and the base assigned once (the same centroids
    ``ivf_topk`` would fit); each nprobe only re-runs the IVF scan. All
    comparisons run on id sets, never distances, so kernel float noise
    can't blur the readout.
    """
    truth = exact_knn(
        queries, base, k,
        metric="cosine",
        query_ordinal=query_id, base_ordinal=base_id,
        query_vec=vec_col, base_vec=vec_col,
    )

    spark = base.sparkSession
    centroids, cells = _ivf_cells(base, n_centroids, seed, vec_col)
    cells = cells.select(base_id, vec_col, "centroid_id").persist()
    out = []
    try:
        sizes = dict(cells.groupBy("centroid_id").count().collect())
        for nprobe in nprobes:
            seen = []
            found = _ivf_flat(
                queries, cells, centroids, int(nprobe), k, query_id, base_id, vec_col, seen
            )
            scanned = sum(sizes.get(c, 0) for P in seen for c in P.ravel().tolist())
            row = (
                knn_recall(truth, _neighbor_sets(found), k)
                .select(
                    "n_queries",
                    F.round("mean_recall", 6).alias("recall"),
                    F.round(F.try_divide(F.lit(scanned), "n_queries"), 6).alias(
                        "mean_candidates"
                    ),
                )
                .collect()[0]
            )
            out.append((int(nprobe), row.n_queries, row.recall, row.mean_candidates))
    finally:
        cells.unpersist()
    return spark.createDataFrame(
        out, "nprobe INT, n_queries BIGINT, recall DOUBLE, mean_candidates DOUBLE"
    )


def lsh_tradeoff_report(
    queries: DataFrame,
    base: DataFrame,
    k: int = 10,
    dim: int = 64,
    bits_list=(4, 8, 12),
    seed: int = 42,
    query_id: str = "vec_id",
    base_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k vs candidate-cost curve for random-hyperplane LSH — the
    fully-declarative, oracle-replayable sibling of
    :func:`ann_tuning_report` (whose IVF ground truth needs a k-means
    no SQL oracle can replay): before an index commits to n_bits, this
    reports what each setting BUYS (recall against exact cosine top-k)
    and what it COSTS (mean bucket-join candidates per query — the
    scan-cost dial; wall latency is a box artifact, candidate count is
    the portable proxy).

    One row per n_bits, ordered: ``(n_bits, n_queries, recall_at_k,
    mean_candidates)`` — recall = total |LSH-top-k ∩ exact-top-k| /
    (k * n_queries) (id-set comparison, never distances, so kernel
    float noise can't blur it), both ratios single exact-integer
    divisions rendered at 6dp.

    100-TB shape (tightened in optimization round 10, guide §1.2/§2.4):
    ground truth is ``knn._knn_kernel``'s exact top-k, one query-block
    scan collected to the driver (the exact_knn audit posture — cap the
    query sample upstream), and each setting's LSH top-k is
    ``knn._merge_topk`` over its bucket-join candidates. The
    base table is scanned ONCE for all settings — a single projection
    evaluates every n_bits signature and is localCheckpointed; before,
    each n_bits ran two independent base scans (one inside lsh_topk, one
    for the candidate count), 2*len(bits_list)+1 full passes with the
    hyperplane dot products re-evaluated in each. Per n_bits there is
    now exactly one bucket join (broadcast query side), read twice: the
    candidate count is the row count of the SAME join that feeds the
    top-k window (they were always the same rows — the old plan just
    computed the join twice), and the recall join broadcasts the
    Q*k-row truth table instead of sort-merging it.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not bits_list:
        raise ValueError("bits_list must be non-empty")
    q = queries.select(
        F.col(query_id).alias("__qid"), F.col(vec_col).alias("__qvec")
    )
    from nbdatatools_spark.session import spread_small_input

    # hyperplane signatures are per-row heavy: spread an under-split base
    # scan once (round 10)
    b = spread_small_input(
        base.select(F.col(base_id).alias("__bid"), F.col(vec_col).alias("__bvec"))
    )
    nq = q.agg(F.count(F.lit(1)).alias("__nq"))
    truth = _local(
        _knn_kernel(q, b, k, "cosine", "__qid", "__qvec", "__bid", "__bvec")
    ).select("__qid", "__bid")

    # one base pass computing every setting's signature, materialized once.
    # Storage trade, stated explicitly (round-11 ADVICE note): this
    # checkpoint holds (bid, bvec, one signature per setting) — a copy of
    # the evaluated base slice in executor block storage. The tradeoff
    # report is an AUDIT operator run on a capped sample at production
    # (the ann_tuning_report posture: cap the query/base sample
    # upstream), where one materialization beats 2*len(bits_list) base
    # rescans; on a full 100-TB corpus the caller bounds the base side
    # first, exactly as with the exact-knn audit paths.
    bsigs = b.select(
        "__bid",
        "__bvec",
        *[
            random_hyperplane_signature(
                F.col("__bvec"), dim, int(nb), seed
            ).alias(f"__sig{int(nb)}")
            for nb in bits_list
        ],
    ).localCheckpoint(eager=False)
    qsigs = q.select(
        "__qid",
        "__qvec",
        *[
            random_hyperplane_signature(
                F.col("__qvec"), dim, int(nb), seed
            ).alias(f"__sig{int(nb)}")
            for nb in bits_list
        ],
    )

    blocks = []
    for n_bits in bits_list:
        sig_col = f"__sig{int(n_bits)}"
        pairs = _cosine_candidates(
            bsigs.select("__bid", "__bvec", F.col(sig_col).alias("__sig")).join(
                F.broadcast(qsigs.select("__qid", "__qvec", F.col(sig_col).alias("__sig"))),
                "__sig",
            )
        ).localCheckpoint(eager=False)
        n_cand = pairs.agg(F.count(F.lit(1)).alias("__cand"))
        approx = _merge_topk(pairs, k).select("__qid", "__bid")
        n_match = approx.join(F.broadcast(truth), ["__qid", "__bid"]).agg(
            F.count(F.lit(1)).alias("__m")
        )
        blocks.append(
            nq.crossJoin(F.broadcast(n_match))
            .crossJoin(F.broadcast(n_cand))
            .select(
                F.lit(int(n_bits)).alias("n_bits"),
                F.col("__nq").cast("bigint").alias("n_queries"),
                F.round(
                    F.col("__m") / (F.lit(int(k)) * F.col("__nq")), 6
                ).alias("recall_at_k"),
                F.round(F.col("__cand") / F.col("__nq"), 6).alias(
                    "mean_candidates"
                ),
            )
        )
    out = blocks[0]
    for blk in blocks[1:]:
        out = out.unionByName(blk)
    return out.orderBy("n_bits")


def truncate_embeddings(
    df: DataFrame,
    dims: int,
    vec_col: str = "embedding",
    renormalize: bool = True,
    round_digits: int = 6,
) -> DataFrame:
    """Matryoshka truncation (Kusupati et al. NeurIPS 2022): keep the first
    ``dims`` components — MRL-trained models pack coarse-to-fine signal into
    prefixes, so truncation is the zero-cost storage/latency dial (d/dims x
    smaller vectors, same column layout). ``renormalize=True`` rescales to
    unit L2 (cosine consumers expect unit vectors; a truncated prefix is
    not unit even when the full vector is).

    Pure projection — slice + one aggregate fold per row, no shuffle, no
    UDF. Zero-magnitude prefixes stay zero (no division)."""
    if dims < 1:
        raise ValueError(f"dims must be >= 1, got {dims}")
    prefix = F.slice(F.col(vec_col), 1, dims)

    def body(p):
        norm = F.sqrt(
            F.aggregate(p, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x)
        )
        scaled = F.transform(
            p, lambda x: F.round(x.cast("double") / norm, round_digits)
        )
        return F.when(norm == 0.0, F.transform(p, lambda x: x.cast("double"))).otherwise(
            scaled
        )

    from nbdatatools_spark.functions.text import _let

    out = _let(prefix, body) if renormalize else F.transform(
        prefix, lambda x: F.round(x.cast("double"), round_digits)
    )
    return df.withColumn(vec_col, out)


def bq_encode(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    out_col: str = "bq",
) -> DataFrame:
    """Binary quantization: pack each vector's SIGN BITS into
    ``ceil(d/64)`` bigint words — 32x smaller than float32, and Hamming
    distance over the packed words approximates angular distance well for
    zero-centered embeddings (the vector-DB BQ fast path; rerank survivors
    exactly). Pure Catalyst: per-word literal-weight CASE sums (bit 63
    carries the two's-complement sign weight), no UDF, no shuffle."""
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    n_words = (dim + 63) // 64
    vec = F.col(vec_col)
    words = []
    for w in range(n_words):
        lo = w * 64
        n_bits = min(64, dim - lo)
        # one zip_with+aggregate fold per word instead of a 64-term chained
        # CASE sum: identical integer arithmetic in the same order (left
        # fold from 0), but an O(1)-size expression tree — the chained form
        # cost ~2s of data-independent Catalyst analysis/codegen per query
        # (measured flat across sf0.01 and sf0.1 in BENCH r5).
        weights = F.array(
            *[
                F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long")
                for i in range(n_bits)
            ]
        )
        word = F.aggregate(
            F.zip_with(
                F.slice(vec, lo + 1, n_bits),
                weights,
                lambda x, wt: F.when(x > 0, wt).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        words.append(word)
    return df.withColumn(out_col, F.array(*words))


def bq_topk(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    dim: int,
    query_id: str = "vec_id",
    base_id: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int = 0,
) -> DataFrame:
    """Top-k by Hamming distance over binary-quantized codes — the BQ scan:
    the base side streams past a broadcast query-code block touching only
    d/8 bytes per vector; ``rerank > 0`` keeps the top-``rerank`` Hamming
    survivors per query and re-orders the final k by EXACT cosine (the
    standard BQ-then-rerank recipe). Ties break on (distance, base_id).

    Returns (query_id, rank, base_id, hamming[, distance])."""
    qc = bq_encode(queries, dim, vec_col=vec_col).select(
        F.col(query_id).alias("qid"), F.col(vec_col).alias("qvec"), F.col("bq").alias("qbq")
    )
    bc = bq_encode(base, dim, vec_col=vec_col).select(
        F.col(base_id).alias("bid"), F.col(vec_col).alias("bvec"), F.col("bq").alias("bbq")
    )
    ham = F.aggregate(
        F.zip_with(F.col("qbq"), F.col("bbq"), lambda a, b: F.bit_count(a.bitwiseXOR(b))),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    pairs = bc.crossJoin(F.broadcast(qc)).select(
        "qid", "bid", "qvec", "bvec", ham.alias("hamming")
    )
    w = Window.partitionBy("qid").orderBy(F.col("hamming").asc(), F.col("bid").asc())
    if rerank <= 0:
        return (
            pairs.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(F.col("qid").alias("query_id"), "rank", F.col("bid").alias("base_id"), "hamming")
        )
    survivors = (
        pairs.withColumn("__hr", F.row_number().over(w)).where(F.col("__hr") <= max(rerank, k))
    )
    exact = survivors.select(
        "qid",
        "bid",
        "hamming",
        distance_expr("cosine", F.col("qvec"), F.col("bvec")).alias("distance"),
    )
    w2 = Window.partitionBy("qid").orderBy(F.col("distance").asc_nulls_last(), F.col("bid").asc())
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select(F.col("qid").alias("query_id"), "rank", F.col("bid").alias("base_id"), "hamming", "distance")
    )


def compression_report(
    df: DataFrame,
    dim: int,
    k: int = 10,
    n_queries: int = 20,
    pq_m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One-table readout of the quantization tiers on YOUR vectors — the
    companion of ann_tuning_report for the compression dial: for SQ8, PQ,
    and BQ, the compression ratio vs float32, a reconstruction/pruning
    error proxy, and measured recall@k against exact cosine ground truth
    (id-set comparison, computed once on the GEMM kernel).

    Returns (method, bytes_per_vector, compression_x, recall) — the
    numbers that decide which tier a 100-TB embedding store lands on.
    """
    queries = df.where(F.col(id_col) < n_queries)
    truth = exact_knn(
        queries, df, k, metric="cosine",
        query_ordinal=id_col, base_ordinal=id_col,
        query_vec=vec_col, base_vec=vec_col,
    )

    def recall_of(pairs: DataFrame) -> float:
        return float(
            knn_recall(truth, _neighbor_sets(pairs), k)
            .select(F.round("mean_recall", 6))
            .collect()[0][0]
        )

    float_bytes = dim * 4
    results = []

    # SQ8: affine per-dim bytes; search on decoded vectors
    lo, hi = sq8_train(df, vec_col=vec_col)
    enc = sq8_encode(df, lo, hi, vec_col=vec_col, out_col="__sq")
    dec = sq8_decode(enc, lo, hi, code_col="__sq", out_col=vec_col)
    sq_pairs = brute_force_topk(
        queries, dec.select(id_col, vec_col), k,
        metric="cosine", query_id=id_col, base_id=id_col, vec_col=vec_col,
    )
    results.append(("sq8", dim, float_bytes / dim, recall_of(sq_pairs)))

    # PQ: m-byte ADC scan (no rerank — the raw tier)
    books = pq_train(df, m=pq_m, vec_col=vec_col)
    codes = pq_encode(df, books, vec_col=vec_col)
    pq_pairs = pq_topk(
        queries, codes, books, k,
        metric="euclidean", query_id=id_col, base_id=id_col, vec_col=vec_col,
    )
    results.append(("pq", pq_m, float_bytes / pq_m, recall_of(pq_pairs)))

    # BQ: d/8 bytes, hamming scan with exact rerank of 4k survivors
    bq_pairs = bq_topk(queries, df, k, dim=dim, rerank=4 * k)
    results.append(("bq_rerank", dim // 8, float_bytes / (dim // 8), recall_of(bq_pairs)))

    spark = df.sparkSession
    return spark.createDataFrame(
        [
            (m_, int(b), round(c, 2), r)
            for m_, b, c, r in results
        ],
        "method STRING, bytes_per_vector INT, compression_x DOUBLE, recall DOUBLE",
    )
