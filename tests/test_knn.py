"""KNN invariants (FIXTURES.md §1 + verify_knn semantics):
self-KNN recall@1 == 1.0, distances non-decreasing, indices in bounds,
numpy differential, block-partitioned equivalence, hybrid filtered truth."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from nbdatatools_spark.operators.hybrid import hybrid_ground_truth, result_indices_table
from nbdatatools_spark.operators.knn import (
    _as_arrays,
    _knn_kernel,
    exact_knn,
    knn_recall,
    verify_knn,
)
from nbdatatools_spark.operators.analysis import neighbor_invariants

N, DIM, K = 200, 16, 5


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.default_rng(42)
    mat = rng.normal(size=(N, DIM)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(N)],
        "ordinal BIGINT, vector ARRAY<FLOAT>",
    ).cache()
    return df, mat


def test_self_knn_recall_is_one(vecs):
    df, _ = vecs
    nn = exact_knn(df.limit(20), df, k=1, metric="cosine")
    rows = nn.collect()
    assert all(r["indices"][0] == r["ordinal"] for r in rows)
    assert all(abs(r["distances"][0]) < 1e-9 for r in rows)


def test_knn_matches_numpy(vecs):
    df, mat = vecs
    q = df.where(F.col("ordinal") < 10)
    nn = {r["ordinal"]: r for r in exact_knn(q, df, K, "euclidean").collect()}
    m64 = mat.astype(np.float64)
    for qi in range(10):
        d = np.sqrt(((m64 - m64[qi]) ** 2).sum(axis=1))
        order = np.lexsort((np.arange(N), d))[:K]
        assert list(nn[qi]["indices"]) == [int(x) for x in order]
        # atol covers the GEMM formulation ||b||^2 - 2bq + ||q||^2, whose
        # cancellation error on near-zero distances is ~sqrt(eps)*||x||
        # (~1e-7); the expr<->gemm differential test pins cross-impl parity
        np.testing.assert_allclose(nn[qi]["distances"], d[order], rtol=1e-9, atol=5e-7)


def test_neighbor_invariants_hold(vecs):
    df, _ = vecs
    nn = exact_knn(df.limit(20), df, K, "cosine").cache()
    res = neighbor_invariants(
        nn.select("ordinal", "indices"), nn.select("ordinal", "distances"), base_count=N
    ).collect()[0]
    assert res["n_bad_order"] == 0 and res["n_bad_bounds"] == 0 and res["n_rows"] == 20


def test_block_partitioned_equals_single(vecs):
    df, _ = vecs
    q = df.where(F.col("ordinal") < 12)
    a = {r["ordinal"]: list(r["indices"]) for r in exact_knn(q, df, K).collect()}
    # a cap of 5 splits the 12 queries into 3 pmod blocks
    blocked = _as_arrays(
        _knn_kernel(
            q, df, K, "cosine", "ordinal", "vector", "ordinal", "vector",
            max_broadcast_queries=5,
        )
    )
    b = {r["ordinal"]: list(r["indices"]) for r in blocked.collect()}
    assert a == b


def test_zero_vectors_never_rank_in_cosine_topk(spark):
    """Regression: zero-magnitude cosine produces NULL/NaN distance; plain
    asc ordering ranked NULLS FIRST and filled every top-k with zero vectors
    (found at reference-scale: recall dropped to 0.0 with 1% injected
    zeros)."""
    rng = np.random.default_rng(2)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(50)]
    rows += [(100 + i, [0.0] * 8) for i in range(10)]
    df = spark.createDataFrame(rows, "ordinal BIGINT, vector ARRAY<FLOAT>")
    q = df.where(F.col("ordinal") < 3)
    for impl in ("expr", "gemm"):
        nn = exact_knn(q, df, k=5, metric="cosine", impl=impl).collect()
        for r in nn:
            assert all(i < 100 for i in r["indices"]), f"{impl}: zero vec in top-k"
            assert all(d is not None for d in r["distances"]), impl


def test_gemm_impl_matches_expr(vecs):
    """BLAS kernel returns the same neighbors/order as the Catalyst path for
    every metric."""
    df, _ = vecs
    q = df.where(F.col("ordinal") < 8)
    for metric in ("cosine", "euclidean", "dot_product", "manhattan"):
        a = {
            r["ordinal"]: list(r["indices"])
            for r in exact_knn(q, df, K, metric, impl="expr").collect()
        }
        b = {
            r["ordinal"]: list(r["indices"])
            for r in exact_knn(q, df, K, metric, impl="gemm").collect()
        }
        assert a == b, f"gemm != expr for {metric}"


def test_verify_knn_sampled(vecs):
    df, _ = vecs
    truth = exact_knn(df, df, K, "cosine").cache()
    res = verify_knn(df, df, truth, k=K, metric="cosine", sample_size=30).collect()[0]
    assert res["mean_recall"] == pytest.approx(1.0)
    assert res["n_queries"] == 30
    # a truncated key: sampled queries missing from it score 0, not drop out
    short = truth.where(F.col("ordinal") < 10)
    res = verify_knn(df, df, short, k=K, metric="cosine", sample_size=30).collect()[0]
    assert res["n_queries"] == 30 and res["mean_recall"] < 1


def test_recall_partial_overlap(spark):
    comp = spark.createDataFrame(
        [(0, [1, 2, 3, 4]), (1, [9, 8, 7, 6])], "ordinal BIGINT, indices ARRAY<INT>"
    )
    truth = spark.createDataFrame(
        [(0, [1, 2, 30, 40]), (1, [9, 8, 7, 6])], "ordinal BIGINT, indices ARRAY<INT>"
    )
    r = knn_recall(comp, truth, k=4).collect()[0]
    assert r["mean_recall"] == pytest.approx((0.5 + 1.0) / 2)


def test_hybrid_filtered_truth(vecs):
    """Filtered top-k == brute-force top-k over the allowed subset
    (ordinal_predicate_writers_v1.md:24-33)."""
    df, mat = vecs
    meta = df.select("ordinal", (F.col("ordinal") % 2).alias("parity"))
    preds = [
        (0, '{"fieldName":"parity","op":"EQ","values":[0]}'),
        (1, '{"fieldName":"parity","op":"EQ","values":[1]}'),
    ]
    ri = {r["ordinal"]: list(r["matches"]) for r in result_indices_table(meta, preds).collect()}
    assert ri[0] == [i for i in range(N) if i % 2 == 0]
    assert ri[1] == [i for i in range(N) if i % 2 == 1]

    q = df.where(F.col("ordinal") < 2)
    got = {
        r["ordinal"]: list(r["indices"])
        for r in hybrid_ground_truth(q, df, meta, preds, k=K, metric="euclidean").collect()
    }
    m64 = mat.astype(np.float64)
    for qi in (0, 1):
        allowed = np.array([i for i in range(N) if i % 2 == qi])
        d = np.sqrt(((m64[allowed] - m64[qi]) ** 2).sum(axis=1))
        order = allowed[np.lexsort((allowed, d))][:K]
        assert got[qi] == [int(x) for x in order]


@pytest.mark.parametrize("metric", ["cosine", "euclidean"])
def test_hybrid_always_true_predicate_equals_exact_knn(vecs, metric):
    """Under a predicate every base row satisfies, the hybrid answer key IS
    the exact answer key — both go through the one dense kernel, so indices
    and distances agree element for element."""
    df, _ = vecs
    meta = df.select("ordinal", F.lit(0).alias("z"))
    preds = [(i, '{"fieldName":"z","op":"EQ","values":[0]}') for i in range(6)]
    q = df.where(F.col("ordinal") < 6)
    exact = {r["ordinal"]: r for r in exact_knn(q, df, K, metric).collect()}
    hybrid = {
        r["ordinal"]: r
        for r in hybrid_ground_truth(q, df, meta, preds, k=K, metric=metric).collect()
    }
    assert sorted(hybrid) == sorted(exact) == list(range(6))
    for qi in range(6):
        assert list(hybrid[qi]["indices"]) == list(exact[qi]["indices"])
        assert list(hybrid[qi]["distances"]) == list(exact[qi]["distances"])


def test_knn_label_accuracy_closed_form(spark):
    from nbdatatools_spark.operators.knn import knn_label_accuracy

    # two tight, well-separated clusters -> leave-one-out 1-NN is perfect
    rows = []
    for i in range(10):
        rows.append((i, [1.0 + 0.01 * i, 0.0], 0))
        rows.append((100 + i, [0.0, 1.0 + 0.01 * i], 1))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r["true_label"]: r for r in knn_label_accuracy(df, k=1).collect() if r["gid"] == 0}
    assert out[0]["accuracy"] == 1.0 and out[1]["accuracy"] == 1.0
    total = [r for r in knn_label_accuracy(df, k=1).collect() if r["gid"] == 1]
    assert total[0]["n"] == 20 and total[0]["accuracy"] == 1.0


def test_knn_label_accuracy_gemm_matches_expr(spark, sf_dir):
    import os

    from nbdatatools_spark.operators.knn import knn_label_accuracy

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    a = knn_label_accuracy(emb, k=3, impl="expr").collect()
    b = knn_label_accuracy(emb, k=3, impl="gemm").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_knn_label_accuracy_validation(spark, sf_dir):
    import os

    import pytest

    from nbdatatools_spark.operators.knn import knn_label_accuracy

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    with pytest.raises(ValueError):
        knn_label_accuracy(emb, k=0)


def test_hubness_and_mutual_knn_accept_ann_neighbors(spark, sf_dir):
    """The documented corpus-scale path: precomputed ANN neighbor lists
    replace the exact self-KNN. With exact neighbors fed in, results must
    equal the internal path bit-for-bit; with LSH neighbors the counting
    machinery still runs end-to-end."""
    import os

    from nbdatatools_spark.operators.knn import hubness_stats, mutual_knn_pairs
    from nbdatatools_spark.operators.similarity import brute_force_topk, lsh_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    exact = brute_force_topk(
        emb, emb, 6, metric="cosine", query_id="vec_id", base_id="vec_id",
        vec_col="embedding", impl="gemm",
    )
    a = hubness_stats(emb, k=5).collect()
    b = hubness_stats(emb, k=5, neighbors=exact).collect()
    assert a == b
    pa = mutual_knn_pairs(emb, k=5).collect()
    pb = mutual_knn_pairs(emb, k=5, neighbors=exact).collect()
    assert pa == pb
    # ANN-fed: runs, bounded, every id reports
    ann = lsh_topk(emb, emb, 6, dim=64, n_bits=8)
    h = hubness_stats(emb, k=5, neighbors=ann)
    assert h.count() == emb.count()
    # an undefined (NULL) distance ranks after every defined one: query 0's
    # nearest other id is 2, not the NULL-distance 1
    four = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)], "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    nbrs = spark.createDataFrame(
        [(0, 0, 0.0), (0, 1, None), (0, 2, 0.5), (1, 2, 0.1), (2, 1, 0.1), (3, 2, 0.2)],
        "query_id BIGINT, base_id BIGINT, distance DOUBLE",
    )
    occ = {r["id"]: r["k_occurrence"] for r in hubness_stats(four, k=1, neighbors=nbrs).collect()}
    assert occ == {0: 0, 1: 1, 2: 3, 3: 0}
