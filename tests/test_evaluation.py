"""Round-6 batch-5 tests: ranking AUC, calibration bins, Cohen's kappa,
mutual k-NN pairs, cross-corpus near-dup candidates."""

import numpy as np
import pytest
from pyspark.sql import functions as F


# --- ranking_auc ------------------------------------------------------------


def test_auc_perfect_random_inverted(spark):
    from nbdatatools_spark.operators.evaluation import ranking_auc

    rows = [(float(i), i >= 50) for i in range(100)]
    df = spark.createDataFrame(rows, "s double, y boolean")
    r = ranking_auc(df, "s", "y").first()
    assert (r["n_pos"], r["n_neg"], r["auc"]) == (50, 50, 1.0)
    inv = spark.createDataFrame([(float(i), i < 50) for i in range(100)], "s double, y boolean")
    assert ranking_auc(inv, "s", "y").first()["auc"] == 0.0
    # constant score: all ties -> AUC exactly 0.5
    const = spark.createDataFrame([(1.0, i % 2 == 0) for i in range(100)], "s double, y boolean")
    assert ranking_auc(const, "s", "y").first()["auc"] == 0.5


def test_auc_sklearn_style_reference(spark):
    from nbdatatools_spark.operators.evaluation import ranking_auc

    rng = np.random.RandomState(3)
    scores = np.round(rng.rand(400), 2)  # coarse grid forces ties
    labels = rng.rand(400) < (0.2 + 0.6 * scores)
    df = spark.createDataFrame(
        [(float(s), bool(y)) for s, y in zip(scores, labels)], "s double, y boolean"
    )
    got = ranking_auc(df, "s", "y").first()["auc"]
    # pure-python rank-sum reference with tie-averaged ranks
    order = np.argsort(scores, kind="stable")
    ranks = np.empty(len(scores), dtype=np.float64)
    sorted_s = scores[order]
    i = 0
    while i < len(sorted_s):
        j = i
        while j < len(sorted_s) and sorted_s[j] == sorted_s[i]:
            j += 1
        ranks[order[i:j]] = (i + 1 + j) / 2.0
        i = j
    n1 = labels.sum()
    n0 = len(labels) - n1
    want = (ranks[labels].sum() - n1 * (n1 + 1) / 2) / (n1 * n0)
    assert got == pytest.approx(want, abs=1e-6)


# --- calibration ------------------------------------------------------------


def test_calibration_bins_known(spark):
    from nbdatatools_spark.operators.evaluation import calibration_bins

    rows = [(0.05, False)] * 8 + [(0.05, True)] * 2 + [(0.95, True)] * 9 + [(0.95, False)]
    df = spark.createDataFrame(rows, "s double, y boolean")
    out = {r["bin"]: r for r in calibration_bins(df, "s", "y").collect()}
    assert out[0]["n"] == 10 and out[0]["positive_rate"] == 0.2
    assert out[9]["n"] == 10 and out[9]["positive_rate"] == 0.9
    assert out[0]["mean_score"] == 0.05 and out[9]["mean_score"] == 0.95
    # out-of-range scores clamp to edge bins
    df2 = spark.createDataFrame([(-0.5, True), (1.7, False)], "s double, y boolean")
    bins = {r["bin"] for r in calibration_bins(df2, "s", "y").collect()}
    assert bins == {0, 9}
    with pytest.raises(ValueError):
        calibration_bins(df, "s", "y", n_bins=1)


# --- kappa ------------------------------------------------------------------


def test_filter_agreement_kappa(spark):
    from nbdatatools_spark.operators.evaluation import filter_agreement

    # perfect agreement -> kappa 1
    df = spark.createDataFrame(
        [(i % 2 == 0, i % 2 == 0) for i in range(40)], "a boolean, b boolean"
    )
    r = filter_agreement(df, "a", "b").first()
    assert r["agreement"] == 1.0 and r["kappa"] == 1.0
    # independence -> kappa ~ 0 (exactly 0 on a balanced 2x2 grid)
    rows = [(a, b) for a in (True, False) for b in (True, False) for _ in range(10)]
    df2 = spark.createDataFrame(rows, "a boolean, b boolean")
    r2 = filter_agreement(df2, "a", "b").first()
    assert r2["kappa"] == 0.0 and r2["agreement"] == 0.5
    assert (r2["n11"], r2["n10"], r2["n01"], r2["n00"]) == (10, 10, 10, 10)
    # both constant -> pe == 1 -> NULL kappa
    df3 = spark.createDataFrame([(True, True)] * 5, "a boolean, b boolean")
    assert filter_agreement(df3, "a", "b").first()["kappa"] is None


# --- mutual knn -------------------------------------------------------------


def test_mutual_knn_subset_and_symmetry(spark, embeddings):
    from nbdatatools_spark.operators.knn import hubness_stats, mutual_knn_pairs

    sub = embeddings.where(F.col("vec_id") < 100)
    pairs = mutual_knn_pairs(sub, k=5).collect()
    assert pairs, "expected some mutual pairs"
    assert all(r["id_a"] < r["id_b"] for r in pairs)
    # numpy reference: mutual = intersection of directed top-5 edges
    rows = sub.orderBy("vec_id").collect()
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = [r["vec_id"] for r in rows]
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    d = 1 - Xn @ Xn.T
    edges = set()
    for qi in range(len(ids)):
        order = sorted((float(d[qi, bj]), ids[bj]) for bj in range(len(ids)) if bj != qi)
        for _, bid in order[:5]:
            edges.add((ids[qi], bid))
    want = {(a, b) for (a, b) in edges if a < b and (b, a) in edges}
    assert {(r["id_a"], r["id_b"]) for r in pairs} == want


def test_mutual_knn_gemm_matches_expr(spark, embeddings, expr_topk):
    """Mutual pairs over the scan's edges equal the pairs of the
    ``distance_expr`` reference's edges, distances included."""
    from nbdatatools_spark.operators.knn import mutual_knn_pairs

    sub = embeddings.where(F.col("vec_id") < 80)
    ref = expr_topk(
        sub, sub, 5, "cosine", "vec_id", "embedding", keep=F.col("q_vec_id") != F.col("b_vec_id")
    )
    edges = {(q, b): d for q, cells in ref.items() for b, d in cells}
    want = {(a, b) for (a, b) in edges if a < b and (b, a) in edges}
    got = {(r["id_a"], r["id_b"]): r["distance"] for r in mutual_knn_pairs(sub, k=5).collect()}
    assert set(got) == want
    rounded = spark.createDataFrame(
        [(a, b, edges[a, b]) for a, b in sorted(want)], "a BIGINT, b BIGINT, d DOUBLE"
    ).select("a", "b", F.round("d", 6).alias("d"))
    assert got == {(r["a"], r["b"]): r["d"] for r in rounded.collect()}


# --- cross-corpus near dups ---------------------------------------------------


def test_cross_corpus_finds_planted_dups(spark, documents):
    from nbdatatools_spark.operators.dedup import cross_corpus_near_dups

    a = documents.where(F.col("doc_id") % 2 == 0)
    planted = (
        documents.where((F.col("doc_id") % 2 == 0) & (F.col("doc_id") % 10 == 0))
        .withColumn("doc_id", F.col("doc_id") + F.lit(10**6))
    )
    b = documents.where(F.col("doc_id") % 2 == 1).unionByName(planted)
    out = cross_corpus_near_dups(a, b, threshold=0.5, impl="numpy").collect()
    found = {(r["id_a"], r["id_b"]) for r in out}
    # every planted copy pairs with its original at jaccard 1.0
    for r in planted.select("doc_id").collect():
        assert (r["doc_id"] - 10**6, r["doc_id"]) in found
    by_pair = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    for r in planted.select("doc_id").collect():
        assert by_pair[(r["doc_id"] - 10**6, r["doc_id"])] == 1.0
    # orientation: id_a always from corpus a (even, < 1e6), id_b from b
    for ia, ib in found:
        assert ia % 2 == 0 and ia < 10**6
        assert ib >= 10**6 or ib % 2 == 1
