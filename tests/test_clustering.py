"""Semantic dedup (SemDeDup) + centroid assignment tests.

Differential oracle: an independent numpy reimplementation of the greedy
within-cluster pass, plus behavioral checks (injected near-duplicates
removed, distinct survivors kept, determinism under repartitioning) and a
physical-plan assertion that assignment is shuffle-free.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from nbdatatools_spark.operators.clustering import (
    centroid_assign,
    kmeans_centroids,
    semantic_dedup,
)


def _blob_data(rng, n_per=40, d=16, noise=0.05):
    """Three well-separated blobs around scaled unit axes.

    ``noise`` controls ANGULAR spread: at 0.05 all same-blob vectors are
    near-parallel (cosine ~0.9999); at 2.0 same-blob cosine drops to ~0.6-0.8,
    so a 0.99 semantic-dedup threshold separates true near-dups from
    ordinary cluster neighbors.
    """
    rows = []
    centers = np.eye(3, d) * 10.0
    vid = 0
    for ci, c in enumerate(centers):
        pts = c + rng.normal(0, noise, size=(n_per, d))
        for p in pts:
            rows.append((vid, [float(x) for x in p], ci))
            vid += 1
    return rows


def test_centroid_assign_matches_numpy_and_is_shuffle_free(spark):
    rng = np.random.default_rng(7)
    rows = _blob_data(rng)
    df = spark.createDataFrame(
        [(i, v) for i, v, _ in rows], "vec_id BIGINT, embedding ARRAY<FLOAT>"
    )
    cents = [[float(x) for x in c] for c in np.eye(3, 16) * 10.0]
    out = centroid_assign(df, cents, metric="euclidean").collect()
    X = np.array([v for _, v, _ in rows], dtype=np.float64)
    C = np.array(cents)
    expect = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)
    got = {r["vec_id"]: r["centroid_id"] for r in out}
    for i, (_, _, _blob) in enumerate(rows):
        assert got[i] == expect[i]
    # assignment is a pure projection: no Exchange in the plan
    plan = centroid_assign(df, cents)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_centroid_assign_null_and_zero_vectors_rank_last(spark):
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0])], "vec_id BIGINT, embedding ARRAY<FLOAT>"
    )
    # cosine of a zero vector is NULL (engine policy) -> coalesced to +Inf,
    # still assigned deterministically to centroid 0
    out = {
        r["vec_id"]: r["centroid_id"]
        for r in centroid_assign(df, [[1.0, 0.0], [0.0, 1.0]], "cosine").collect()
    }
    assert out[0] == 0
    assert out[1] == 0


def _numpy_semdedup(ids, X, cents, threshold):
    """Independent reimplementation: assign, then greedy keep in
    (centroid_sim asc, id asc) order per cluster."""
    C = np.asarray(cents, dtype=np.float64)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    sims_all = Xn @ Cn.T
    assign = (1.0 - sims_all).argmin(1)
    kept = []
    for cl in range(len(cents)):
        idx = np.where(assign == cl)[0]
        csim = sims_all[idx, cl]
        order = idx[np.lexsort((ids[idx], csim))]
        cluster_kept = []
        for i in order:
            if all(float(Xn[i] @ Xn[j]) < threshold for j in cluster_kept):
                cluster_kept.append(i)
        kept.extend(cluster_kept)
    return sorted(ids[i] for i in kept)


def test_semantic_dedup_matches_numpy_differential(spark):
    rng = np.random.default_rng(11)
    rows = _blob_data(rng, n_per=30, noise=2.0)
    base = [(i, v) for i, v, _ in rows]
    # inject EXACT duplicates of the first 10 vectors under new ids: both
    # engines then see bit-identical values, so the centroid_sim tie falls
    # to the id tie-break in both (a float-perturbed dup would order
    # differently under Spark's float32 storage vs the float64 oracle)
    nxt = len(base)
    for j in range(10):
        base.append((nxt + j, list(base[j][1])))
    df = spark.createDataFrame(base, "vec_id BIGINT, embedding ARRAY<FLOAT>").repartition(7)
    cents = [[float(x) for x in c] for c in np.eye(3, 16) * 10.0]

    out = semantic_dedup(df, threshold=0.99, centroids=cents)
    kept_ids = sorted(r["vec_id"] for r in out.collect())

    ids = np.array([i for i, _ in base])
    # mirror Spark's float32 storage before the float64 oracle math
    X = np.array([v for _, v in base], dtype=np.float32).astype(np.float64)
    assert kept_ids == _numpy_semdedup(ids, X, cents, 0.99)
    # every injected near-dup lost to its (lower-id, lower-centroid-sim
    # ordering decides) twin — exactly 10 rows gone
    assert len(kept_ids) == len(base) - 10
    # output carries original columns plus centroid metadata
    assert set(out.columns) == {"vec_id", "embedding", "centroid_id", "centroid_sim"}


def test_semantic_dedup_deterministic_under_partitioning(spark):
    rng = np.random.default_rng(13)
    rows = [(i, v) for i, v, _ in _blob_data(rng, n_per=25, noise=2.0)]
    cents = [[float(x) for x in c] for c in np.eye(3, 16) * 10.0]
    a = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    b = a.repartition(13)
    ka = sorted(r["vec_id"] for r in semantic_dedup(a, threshold=0.995, centroids=cents).collect())
    kb = sorted(r["vec_id"] for r in semantic_dedup(b, threshold=0.995, centroids=cents).collect())
    assert ka == kb


def test_semantic_dedup_threshold_extremes(spark):
    rng = np.random.default_rng(17)
    rows = [(i, v) for i, v, _ in _blob_data(rng, n_per=10)]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    cents = [[float(x) for x in c] for c in np.eye(3, 16) * 10.0]
    # threshold > 1: cosine can never exceed it -> everything kept
    assert semantic_dedup(df, threshold=1.1, centroids=cents).count() == len(rows)
    # threshold -1: everything within a cluster collapses to ONE survivor
    assert semantic_dedup(df, threshold=-1.0, centroids=cents).count() == 3


def test_kmeans_centroids_trains_on_blobs(spark):
    rng = np.random.default_rng(19)
    rows = [(i, v) for i, v, _ in _blob_data(rng, n_per=40)]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    cents = kmeans_centroids(df, k=3, seed=42)
    assert len(cents) == 3 and len(cents[0]) == 16
    # each trained centroid sits on one distinct true blob center
    true = np.eye(3, 16) * 10.0
    d = ((np.array(cents)[:, None, :] - true[None, :, :]) ** 2).sum(-1)
    assert sorted(d.argmin(1).tolist()) == [0, 1, 2]
    assert float(d.min(1).max()) < 1.0


def test_semantic_dedup_greedy_keeps_low_centroid_sim_survivor(spark):
    # two near-identical vectors, one closer to the centroid: the FARTHER
    # one (lower centroid_sim) must be the survivor (SemDeDup keep rule)
    cent = [[1.0, 0.0]]
    a = [0.9995, 0.0316]   # ~unit, very close to centroid direction
    b = [0.9990, 0.0447]   # slightly farther off-axis
    df = spark.createDataFrame(
        [(0, a), (1, b)], "vec_id BIGINT, embedding ARRAY<FLOAT>"
    )
    out = semantic_dedup(df, threshold=0.999, centroids=cent).collect()
    assert [r["vec_id"] for r in out] == [1]


def test_vocab_topk_counts_and_order(spark):
    from nbdatatools_spark.operators.analysis import vocab_topk

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "THE   cat  flew"),
            (3, ""),
        ],
        "doc_id BIGINT, text STRING",
    )
    out = vocab_topk(df, k=3).collect()
    assert [(r["token"], r["n_occurrences"], r["n_docs"]) for r in out] == [
        ("the", 3, 2),
        ("cat", 2, 2),
        ("flew", 1, 1),  # count-1 ties broken alphabetically
    ]


def test_centroid_assign_gemm_matches_expr(spark, embeddings):
    """The Arrow GEMM kernel and the literal-expression path must assign
    identical centroids (distances may differ in the last ulp; the argmin
    margins in real data dwarf that)."""
    from nbdatatools_spark.operators.clustering import centroid_assign

    cents = [[(0.1 * ((i * 7 + j * 3) % 11 - 5)) for j in range(64)] for i in range(8)]
    for metric in ("cosine", "euclidean", "dot_product"):
        expr = {
            r["vec_id"]: r["centroid_id"]
            for r in centroid_assign(
                embeddings, cents, metric=metric, impl="expr"
            ).select("vec_id", "centroid_id").collect()
        }
        gemm = {
            r["vec_id"]: r["centroid_id"]
            for r in centroid_assign(
                embeddings, cents, metric=metric, impl="gemm"
            ).select("vec_id", "centroid_id").collect()
        }
        assert expr == gemm, f"metric {metric}: assignments diverge"


def test_centroid_assign_gemm_zero_vector_and_ties(spark, expr_topk):
    """Zero-norm cosine rows -> +Inf everywhere -> cid 0 (expr parity);
    exact distance ties -> lowest centroid_id on both paths.

    The same zero base vector and zero query pin every dense-kernel
    caller's undefined-distance policy: exact_knn and hybrid_ground_truth
    rank it last with a NULL distance, as the ``distance_expr`` reference
    does, and hard_negatives excludes it."""
    from nbdatatools_spark.operators.clustering import centroid_assign
    from nbdatatools_spark.operators.hybrid import hybrid_ground_truth
    from nbdatatools_spark.operators.knn import exact_knn
    from nbdatatools_spark.operators.similarity import hard_negatives

    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 2.0])],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    cents = [[0.0, 1.0], [0.0, 1.0], [1.0, 0.0]]  # 0 and 1 identical: tie
    for impl in ("expr", "gemm"):
        got = {
            r["vec_id"]: (r["centroid_id"], r["cdist"])
            for r in centroid_assign(df, cents, impl=impl, dist_col="cdist").collect()
        }
        assert {i: c for i, (c, _) in got.items()} == {0: 0, 1: 2, 2: 0}, f"impl {impl}: {got}"
        assert got[0][1] == float("inf"), impl

    # query 0 is the zero vector, base row 0 the zero vector
    vecs = df.select(F.col("vec_id").alias("ordinal"), F.col("embedding").alias("vector"))
    q = vecs.where(F.col("ordinal") <= 1)
    want = {0: ([0, 1, 2], [None, None, None]), 1: ([1, 2, 0], [0.0, 1.0, None])}
    meta = vecs.select("ordinal", F.lit(0).alias("z"))
    preds = [(i, '{"fieldName":"z","op":"EQ","values":[0]}') for i in (0, 1)]
    ref = expr_topk(q, vecs, 3, "cosine")
    assert {o: ([i for i, _ in c], [d for _, d in c]) for o, c in ref.items()} == want
    keys = {
        "exact": exact_knn(q, vecs, 3, "cosine"),
        "hybrid": hybrid_ground_truth(q, vecs, meta, preds, k=3, metric="cosine"),
    }
    for name, key in keys.items():
        got = {r["ordinal"]: (list(r["indices"]), list(r["distances"])) for r in key.collect()}
        assert got == want, f"{name}: {got}"

    # labels all differ, so only the undefined distances are excluded
    labeled = df.withColumn("label", F.col("vec_id"))
    neg = hard_negatives(labeled.where(F.col("vec_id") <= 1), labeled, k=3).collect()
    assert [(r.query_id, r.rank, r.base_id, r.distance) for r in neg] == [(1, 1, 2, 1.0)]


def test_semantic_dedup_gemm_assign_same_survivors(spark, embeddings):
    from nbdatatools_spark.operators.clustering import semantic_dedup

    cents = [[(0.1 * ((i * 7 + j * 3) % 11 - 5)) for j in range(64)] for i in range(8)]
    kept_expr = {
        r["vec_id"]
        for r in semantic_dedup(
            embeddings, threshold=0.95, centroids=cents, keep_all_columns=False
        ).collect()
    }
    kept_gemm = {
        r["vec_id"]
        for r in semantic_dedup(
            embeddings, threshold=0.95, centroids=cents,
            keep_all_columns=False, assign_impl="gemm",
        ).collect()
    }
    assert kept_expr == kept_gemm


def test_group_centroids_numpy_differential(spark):
    import numpy as np

    from nbdatatools_spark.operators.clustering import group_centroids

    rng = np.random.default_rng(7)
    rows = []
    for i in range(40):
        g = "a" if i % 2 == 0 else "b"
        rows.append((g, [float(x) for x in rng.normal(size=8)]))
    df = spark.createDataFrame(rows, "src STRING, embedding ARRAY<DOUBLE>")
    out = group_centroids(df, "src").collect()
    by = {}
    for r in out:
        by[(r["src"], r["dim"])] = (r["n_vectors"], r["mean"])
    for g in ("a", "b"):
        vecs = np.array([v for s, v in rows if s == g])
        terms = np.round(vecs, 9)
        for d in range(8):
            n, mean = by[(g, d)]
            assert n == 20
            assert mean == pytest.approx(round(terms[:, d].sum() / n, 6), abs=1e-9)


def test_group_centroids_partition_invariance(spark):
    from nbdatatools_spark.operators.clustering import group_centroids

    rows = [("g", [0.1, 0.2]), ("g", [0.3, 0.4]), ("g", [0.5, 0.6])]
    df = spark.createDataFrame(rows, "src STRING, embedding ARRAY<DOUBLE>")
    a = sorted(map(tuple, group_centroids(df.repartition(1), "src").collect()))
    b = sorted(map(tuple, group_centroids(df.repartition(7), "src").collect()))
    assert a == b


def test_cluster_label_agreement_closed_forms(spark):
    from nbdatatools_spark.operators.clustering import cluster_label_agreement

    # perfect agreement: clusters == labels -> purity 1, NMI 1
    assign = spark.createDataFrame(
        [(i, i % 2) for i in range(20)], "vec_id long, centroid_id int"
    )
    labels = spark.createDataFrame(
        [(i, "even" if i % 2 == 0 else "odd") for i in range(20)],
        "vec_id long, label string",
    )
    r = cluster_label_agreement(assign, labels).first()
    assert (r["n"], r["n_clusters"], r["n_labels"]) == (20, 2, 2)
    assert r["purity"] == 1.0 and r["nmi"] == 1.0

    # single label: H(L) = 0 -> NMI undefined (NULL), purity 1
    one = spark.createDataFrame(
        [(i, "only") for i in range(20)], "vec_id long, label string"
    )
    r1 = cluster_label_agreement(assign, one).first()
    assert r1["purity"] == 1.0 and r1["nmi"] is None

    # independent split: clusters orthogonal to labels -> NMI ~ 0
    ortho = spark.createDataFrame(
        [(i, "a" if i < 10 else "b") for i in range(20)],
        "vec_id long, label string",
    )
    r2 = cluster_label_agreement(assign, ortho).first()
    assert abs(r2["nmi"]) < 1e-6 and r2["purity"] == 0.5


def test_lloyd_assignments_match_fixed_iterations(spark, embeddings):
    from nbdatatools_spark.operators.clustering import (
        lloyd_assignments,
        lloyd_fixed_iterations,
    )
    from pyspark.sql import functions as F

    assign = lloyd_assignments(embeddings, k=4, iterations=2)
    agg = {
        r["centroid_id"]: r["n_assigned"]
        for r in lloyd_fixed_iterations(embeddings, k=4, iterations=2).collect()
    }
    got = {
        r["centroid_id"]: r["cnt"]
        for r in assign.groupBy("centroid_id").agg(F.count("*").alias("cnt")).collect()
    }
    assert got == agg
    # partition invariance of per-row assignments
    a = sorted(map(tuple, assign.collect()))
    b = sorted(map(tuple, lloyd_assignments(
        embeddings.repartition(7), k=4, iterations=2).collect()))
    assert a == b
