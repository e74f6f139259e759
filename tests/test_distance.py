"""Distance kernels vs numpy oracle (reference test shape:
DistanceFunctionTest.java:70-127)."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from nbdatatools_spark.functions.distance import (
    cosine_distance,
    distance_expr,
    dot_product,
    euclidean_distance,
    l2_norm,
    manhattan_distance,
)

VECS = [
    ([1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
    ([0.5, -0.5, 2.25], [-1.0, 3.0, 0.0]),
    ([1e-3, 1e3, -1e-3], [1e3, 1e-3, 1e3]),
]


@pytest.fixture(scope="module")
def pairs_df(spark):
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(VECS)],
        "id INT, a ARRAY<FLOAT>, b ARRAY<FLOAT>",
    )


def _np_pairs():
    return [(np.array(a, np.float32), np.array(b, np.float32)) for a, b in VECS]


def collect_metric(df, expr):
    return [r[0] for r in df.select(expr).orderBy("id").collect()]


def test_cosine_matches_numpy(pairs_df):
    got = collect_metric(pairs_df, cosine_distance(F.col("a"), F.col("b")))
    for (a, b), g in zip(_np_pairs(), got):
        a, b = a.astype(np.float64), b.astype(np.float64)
        want = 1 - float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert math.isclose(g, want, rel_tol=1e-12)


def test_euclidean_matches_numpy(pairs_df):
    got = collect_metric(pairs_df, euclidean_distance(F.col("a"), F.col("b")))
    for (a, b), g in zip(_np_pairs(), got):
        want = float(np.linalg.norm(a.astype(np.float64) - b.astype(np.float64)))
        assert math.isclose(g, want, rel_tol=1e-12)


def test_manhattan_matches_numpy(pairs_df):
    got = collect_metric(pairs_df, manhattan_distance(F.col("a"), F.col("b")))
    for (a, b), g in zip(_np_pairs(), got):
        want = float(np.abs(a.astype(np.float64) - b.astype(np.float64)).sum())
        assert math.isclose(g, want, rel_tol=1e-12)


def test_dot_product_distance_sign(pairs_df):
    dots = collect_metric(pairs_df, dot_product(F.col("a"), F.col("b")))
    negs = collect_metric(pairs_df, distance_expr("dot_product", F.col("a"), F.col("b")))
    assert all(math.isclose(d, -n, rel_tol=1e-12) for d, n in zip(dots, negs))


def test_zero_magnitude_cosine_is_null(spark):
    """Engine policy: NULL instead of throw (divergence from
    DistanceFunction.java:239-241, documented in functions/distance.py)."""
    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 2.0])], "a ARRAY<FLOAT>, b ARRAY<FLOAT>"
    )
    assert df.select(cosine_distance(F.col("a"), F.col("b"))).collect()[0][0] is None


def test_metric_aliases():
    import pyspark.sql.functions as F

    for alias in ("l2", "L2", "euclidean"):
        assert distance_expr(alias, F.lit(None), F.lit(None)) is not None
    with pytest.raises(ValueError):
        distance_expr("chebyshev", F.lit(None), F.lit(None))


def test_l2_norm(spark):
    df = spark.createDataFrame([([3.0, 4.0],)], "v ARRAY<FLOAT>")
    assert df.select(l2_norm(F.col("v"))).collect()[0][0] == pytest.approx(5.0)


def test_nan_propagates(spark):
    df = spark.createDataFrame(
        [([float("nan"), 1.0], [1.0, 1.0])], "a ARRAY<FLOAT>, b ARRAY<FLOAT>"
    )
    v = df.select(euclidean_distance(F.col("a"), F.col("b"))).collect()[0][0]
    assert math.isnan(v)


@pytest.mark.parametrize("case", ["dynamic_range", "near_collinear", "cancellation"])
def test_gemm_error_within_slack(case):
    """|GEMM - fold| stays within ``_gemm``'s per-column slack on
    adversarial inputs, in the form the re-score compares (euclidean
    squared), and the k-cut re-score stores the fold's values."""
    from nbdatatools_spark.functions import distance as dist

    rng = np.random.default_rng(5)
    n, nq, dim = 300, 12, 64
    if case == "dynamic_range":
        B = rng.normal(size=(n, dim)) * 10.0 ** rng.uniform(-8, 8, size=(n, dim))
        Q = rng.normal(size=(nq, dim)) * 10.0 ** rng.uniform(-8, 8, size=(nq, dim))
    elif case == "near_collinear":
        Q = rng.normal(size=(nq, dim))
        B = Q[rng.integers(0, nq, n)] * (1 + 1e-9 * rng.normal(size=(n, 1)))
        B += 1e-12 * rng.normal(size=(n, dim))
    else:  # large, nearly equal components: |b|^2 - 2 b.q + |q|^2 cancels
        Q = 1e6 + rng.normal(size=(nq, dim))
        B = Q[rng.integers(0, nq, n)] + 1e-6 * rng.normal(size=(n, dim))
    B, Q = B.astype(np.float32).astype(np.float64), Q.astype(np.float32).astype(np.float64)
    bi, qi = np.meshgrid(np.arange(n), np.arange(nq), indexing="ij")
    bb, qq = dist._fold(B * B), dist._fold(Q * Q)
    for metric, fn in (("cosine", dist.cosine_distance), ("euclidean", dist.euclidean_distance),
                       ("dot_product", dist.dot_product_distance)):
        sel, slack = dist._gemm(fn, B, Q, bb, qq)
        fold = dist.distance_fold(B[bi.ravel()], Q[qi.ravel()], metric).reshape(n, nq)
        if metric == "euclidean":
            fold = dist._fold((B[bi] - Q[qi]) ** 2)
        assert (np.abs(sel - fold) <= slack).all(), metric
        D = dist.distance_matrix(B, Q, metric, k=3)
        top = np.argsort(D, axis=0, kind="stable")[:3]
        want = dist.distance_fold(B[top.ravel()], Q[np.tile(np.arange(nq), 3)], metric)
        assert (np.take_along_axis(D, top, 0).ravel() == want).all(), metric


def test_manhattan_matrix_is_the_fold():
    """``distance_matrix``'s manhattan sums dims-outer in ``_fsum``'s
    order: each cell equals ``distance_fold`` of its pair bit for bit."""
    from nbdatatools_spark.functions.distance import distance_fold, distance_matrix

    rng = np.random.default_rng(7)
    B = rng.normal(size=(50, 33)) * 10.0 ** rng.uniform(-8, 8, size=(50, 33))
    Q = np.vstack([B[:3], -0.0 * B[:1], rng.normal(size=(4, 33))])
    bi, qi = np.meshgrid(np.arange(len(B)), np.arange(len(Q)), indexing="ij")
    want = distance_fold(B[bi.ravel()], Q[qi.ravel()], "manhattan").reshape(bi.shape)
    assert np.array_equal(distance_matrix(B, Q, "manhattan"), want)
