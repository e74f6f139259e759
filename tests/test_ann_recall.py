"""Recall floors for the approximate ANN paths (LSH bucketing and IVF) vs
brute-force ground truth on clustered synthetic embeddings — the shape real
embedding corpora have, and the regime where ANN must work."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from nbdatatools_spark.operators.similarity import brute_force_topk, ivf_topk, lsh_topk

DIM = 16
K = 5


@pytest.fixture(scope="module")
def clustered(spark):
    """600 base vectors in 6 well-separated clusters + 30 queries drawn from
    cluster centers (deterministic)."""
    rng = np.random.default_rng(11)
    centers = rng.normal(0, 10, size=(6, DIM))
    base_rows = []
    i = 0
    for c in range(6):
        for _ in range(100):
            v = centers[c] + rng.normal(0, 0.5, DIM)
            base_rows.append((i, [float(x) for x in v]))
            i += 1
    q_rows = []
    for j in range(30):
        c = j % 6
        v = centers[c] + rng.normal(0, 0.5, DIM)
        q_rows.append((j, [float(x) for x in v]))
    schema = "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    base = spark.createDataFrame(base_rows, schema).cache()
    queries = spark.createDataFrame(q_rows, schema).cache()
    base.count(), queries.count()
    return queries, base


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["base_id"])
    return out


def _ranked(df):
    return sorted((r["query_id"], r["rank"], r["base_id"]) for r in df.collect())


def _mean_recall(approx, exact):
    recs = [
        len(approx.get(q, set()) & nn) / len(nn) for q, nn in exact.items()
    ]
    return sum(recs) / len(recs)


NAN_ID = 10_000


def _with_nan_row(df):
    """``df`` plus one row whose components are all NaN."""
    nan_row = df.sparkSession.createDataFrame(
        [(NAN_ID, [float("nan")] * DIM)], "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    return df.unionByName(nan_row)


def _nan_query_distances(pairs):
    """The set of distances returned for the all-NaN query."""
    return {r["distance"] for r in pairs.where(F.col("query_id") == NAN_ID).collect()}


def test_lsh_recall_floor(clustered):
    queries, base = clustered
    exact = _topk_sets(brute_force_topk(queries, base, k=K, metric="cosine"))
    approx = _topk_sets(lsh_topk(queries, base, k=K, dim=DIM, n_bits=6))
    r = _mean_recall(approx, exact)
    assert r >= 0.8, f"LSH recall {r:.3f} below floor"
    # an all-NaN query shares the all-NaN base row's bucket: its distances
    # are undefined, hence NULL as on every other pairs path
    nan_q, nan_b = _with_nan_row(queries), _with_nan_row(base)
    assert _nan_query_distances(lsh_topk(nan_q, nan_b, k=K, dim=DIM, n_bits=6)) == {None}


def test_ivf_recall_floor(clustered):
    queries, base = clustered
    exact = _topk_sets(brute_force_topk(queries, base, k=K, metric="cosine"))
    approx = _topk_sets(
        ivf_topk(queries, base, k=K, n_centroids=6, nprobe=2)
    )
    r = _mean_recall(approx, exact)
    assert r >= 0.9, f"IVF recall {r:.3f} below floor"
    nan_pairs = ivf_topk(_with_nan_row(queries), base, k=K, n_centroids=6, nprobe=2)
    assert _nan_query_distances(nan_pairs) == {None}


def test_ivf_nprobe_monotone(clustered):
    """More probes can only improve recall (same centroids), and probing
    every cell is the exact search: the same ranked pairs."""
    queries, base = clustered
    exact_pairs = brute_force_topk(queries, base, k=K, metric="cosine")
    exact = _topk_sets(exact_pairs)
    r1 = _mean_recall(
        _topk_sets(ivf_topk(queries, base, k=K, n_centroids=6, nprobe=1)), exact
    )
    r4 = _mean_recall(
        _topk_sets(ivf_topk(queries, base, k=K, n_centroids=6, nprobe=4)), exact
    )
    assert r4 >= r1
    every_cell = ivf_topk(queries, base, k=K, n_centroids=6, nprobe=6)
    assert _ranked(every_cell) == _ranked(exact_pairs)
    # a negative nprobe must not slice "all cells but the last |nprobe|"
    with pytest.raises(ValueError, match="nprobe"):
        ivf_topk(queries, base, k=K, n_centroids=6, nprobe=-1)


def test_probes_bounded_and_stable():
    """``_probes`` ranks centroids in (squared distance, id) order with NaN
    last, the same ids as one unchunked stable argsort, while its
    temporaries stay bounded: the unchunked (queries x centroids x dim)
    difference for these 400 queries is ~105 MB."""
    import tracemalloc

    from nbdatatools_spark.operators.similarity import _probes

    rng = np.random.default_rng(5)
    Q = rng.standard_normal((400, 128))
    C = rng.standard_normal((256, 128))
    C[200:] = C[0]  # exact ties with centroid 0, as _lloyd's padding makes
    Q[7, 3] = np.nan
    tracemalloc.start()
    P = _probes(Q, C, 60)
    peak = tracemalloc.get_traced_memory()[1]
    tracemalloc.stop()
    assert peak < 48e6, peak
    head = Q[:150]
    full = ((head[:, None, :] - C[None, :, :]) ** 2).sum(-1)
    np.testing.assert_array_equal(P[:150], np.argsort(full, axis=1, kind="stable")[:, :60])
    assert P[7].tolist() == list(range(60))  # all NaN: id order
    assert _probes(Q[:0], C, 4).shape == (0, 4)


def test_ivf_index_persist_and_search(spark, embeddings, tmp_path, collected):
    """Materialized IVF index: search results match the in-memory ivf_topk
    with the same centroids/seed; partition pruning engages on probed cells
    in the scan the search runs."""
    from nbdatatools_spark.operators.similarity import (
        ivf_build_index,
        ivf_search_index,
        ivf_topk,
    )

    idx = str(tmp_path / "ivf_index")
    meta = ivf_build_index(embeddings, idx, n_centroids=8, seed=42)
    assert meta["n_centroids"] == 8
    assert meta["n_vectors"] == embeddings.count()

    q = embeddings.where(F.col("vec_id") < 10)
    from_index = ivf_search_index(spark, idx, q, k=5, nprobe=3)
    scans = [plan for plan in collected if "MapInArrow" in plan]
    in_memory = ivf_topk(q, embeddings, k=5, n_centroids=8, nprobe=3, seed=42)
    a = [(r.query_id, r.rank, r.base_id) for r in from_index.orderBy("query_id", "rank").collect()]
    b = [(r.query_id, r.rank, r.base_id) for r in in_memory.orderBy("query_id", "rank").collect()]
    assert a == b

    # partition pruning: the assignments scan carries a PartitionFilters
    # entry on centroid_id (c directories read, not n_centroids)
    assert len(scans) == 1
    assert re.search(r"PartitionFilters: \[[^\]]*centroid_id", scans[0])


def test_ivf_append_index_incremental(spark, embeddings, tmp_path):
    """Incremental index maintenance: building on half the corpus then
    appending the other half yields EXACTLY the assignments a direct
    argmin over the union (same centroids) would produce, search sees
    the appended vectors, and re-appending with drop_existing_ids=True
    is a no-op."""
    from pyspark.sql import functions as F

    from nbdatatools_spark.operators.similarity import (
        ivf_append_index,
        ivf_build_index,
        ivf_search_index,
    )

    idx = str(tmp_path / "ivf_incr")
    first = embeddings.where(F.col("vec_id") % 2 == 0)
    second = embeddings.where(F.col("vec_id") % 2 == 1)
    ivf_build_index(first, idx, n_centroids=8, seed=42)

    rep = ivf_append_index(second, idx)
    assert rep["n_appended"] == second.count()
    assert 1 <= rep["n_cells_touched"] <= 8
    assert 0.0 < rep["max_cell_fraction"] <= 1.0

    # the on-disk assignments equal a fresh argmin over the union with the
    # SAME centroids: per-id centroid assignment must match exactly
    import os

    cents = spark.read.parquet(os.path.join(idx, "centroids.parquet")).collect()
    stored = {
        r.vec_id: r.centroid_id
        for r in spark.read.parquet(os.path.join(idx, "assignments.parquet")).collect()
    }
    assert len(stored) == embeddings.count()
    import math

    cent = {r.centroid_id: list(r.centroid) for r in cents}
    for row in embeddings.collect():
        v = list(row.embedding)
        best = min(
            sorted(cent),
            key=lambda c: (
                math.sqrt(sum((a - b) ** 2 for a, b in zip(v, cent[c]))),
                c,
            ),
        )
        assert stored[row.vec_id] == best, row.vec_id

    # search on the appended index returns odd (appended) ids too
    q = embeddings.where(F.col("vec_id") < 4)
    res = ivf_search_index(spark, idx, q, k=5, nprobe=8)
    returned = {r.base_id for r in res.collect()}
    assert any(b % 2 == 1 for b in returned)

    # idempotent re-append under drop_existing_ids
    rep2 = ivf_append_index(second, idx, drop_existing_ids=True)
    assert rep2["n_appended"] == 0
    assert (
        spark.read.parquet(os.path.join(idx, "assignments.parquet")).count()
        == embeddings.count()
    )
