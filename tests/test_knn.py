"""KNN invariants (FIXTURES.md §1 + verify_knn semantics):
self-KNN recall@1 == 1.0, distances non-decreasing, indices in bounds,
numpy differential, block-partitioned equivalence, hybrid filtered truth."""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from nbdatatools_spark.operators.hybrid import hybrid_ground_truth, result_indices_table
from nbdatatools_spark.operators import knn
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
        # the stored distances are the left-to-right fold's, so they differ
        # from numpy's pairwise sum in the last bits only;
        # test_gemm_impl_matches_expr pins them to distance_expr exactly
        np.testing.assert_allclose(nn[qi]["distances"], d[order], rtol=1e-12, atol=1e-12)


def test_neighbor_invariants_hold(vecs):
    df, _ = vecs
    nn = exact_knn(df.limit(20), df, K, "cosine").cache()
    res = neighbor_invariants(
        nn.select("ordinal", "indices"), nn.select("ordinal", "distances"), base_count=N
    ).collect()[0]
    assert res["n_bad_order"] == 0 and res["n_bad_bounds"] == 0 and res["n_rows"] == 20


def _budget_for(spark, k, queries):
    """A candidate budget that lets ``queries`` queries of depth k per block."""
    return 24 * k * knn._scan_tasks(spark) * queries


def test_block_partitioned_equals_single(spark, vecs, monkeypatch):
    df, _ = vecs
    q = df.where(F.col("ordinal") < 12)
    a = {r["ordinal"]: list(r["indices"]) for r in exact_knn(q, df, K).collect()}
    # a budget of 5 queries per block splits the 12 queries into 3 blocks
    monkeypatch.setattr(knn, "_CANDIDATE_BYTES", _budget_for(spark, K, 5))
    blocked = _as_arrays(
        _knn_kernel(q, df, K, "cosine", "ordinal", "vector", "ordinal", "vector")
    )
    b = {r["ordinal"]: list(r["indices"]) for r in blocked.collect()}
    assert a == b


def test_query_blocks_cut_by_position(spark, vecs, monkeypatch):
    """Ids sharing a factor with the block count (0, 3, ..., 33 under 3
    blocks) must still spread over blocks of at most the budget's size."""
    df, _ = vecs
    q = df.where((F.col("ordinal") % 3 == 0) & (F.col("ordinal") < 36))
    single = _as_arrays(
        _knn_kernel(q, df, K, "cosine", "ordinal", "vector", "ordinal", "vector")
    ).collect()
    seen = []
    scan = knn._scan_topk

    def recording(base, base_id, cols, k, qids, payload, make_score):
        seen.append(sorted(qids.tolist()))
        return scan(base, base_id, cols, k, qids, payload, make_score)

    monkeypatch.setattr(knn, "_scan_topk", recording)
    monkeypatch.setattr(knn, "_CANDIDATE_BYTES", _budget_for(spark, K, 5))
    blocked = _as_arrays(
        _knn_kernel(q, df, K, "cosine", "ordinal", "vector", "ordinal", "vector")
    ).collect()
    assert [len(ids) for ids in seen] == [5, 5, 2]
    assert sorted(i for ids in seen for i in ids) == list(range(0, 36, 3))
    assert [tuple(r) for r in blocked] == [tuple(r) for r in single]


def test_driver_rank_equals_merge_topk(spark):
    """The scan's driver ranking (``_rank_rows``) and the Spark ranking
    (``_merge_topk``) agree row for row on candidates with NaN distances,
    ties at the k-th distance and equal distances from different tasks."""
    rng = np.random.default_rng(7)
    n, k = 600, 4
    qid = rng.integers(0, 12, n).astype(np.int64)
    bid = rng.permutation(n).astype(np.int64)
    dist = rng.choice([0.0, 0.25, 0.5, 0.75, 1.0, np.nan], n)  # heavy ties
    # the same (qid, distance) pairs again under other base ids, as another
    # scan task would report them
    qid, bid, dist = np.r_[qid, qid[:100]], np.r_[bid, bid[:100] + n], np.r_[dist, dist[:100]]
    pos, rank = knn._rank_rows(qid, bid, dist, k)
    got = sorted(zip(qid[pos].tolist(), rank.tolist(), bid[pos].tolist()))
    cands = spark.createDataFrame(
        [(int(a), int(b), float(c)) for a, b, c in zip(qid, bid, dist)], knn._CANDIDATES
    )
    want = sorted(
        (r["__qid"], r["rank"], r["__bid"]) for r in knn._merge_topk(cands, k).collect()
    )
    assert got == want
    assert len(got) == 12 * k


def _keys(frame):
    """An ``(ordinal, indices, distances)`` key as ``{ordinal: [(index,
    distance), ...]}`` -- the shape of the ``expr_topk`` reference."""
    return {r["ordinal"]: list(zip(r["indices"], r["distances"])) for r in frame.collect()}


def test_zero_vectors_never_rank_in_cosine_topk(spark, expr_topk):
    """Regression: zero-magnitude cosine produces NULL/NaN distance; plain
    asc ordering ranked NULLS FIRST and filled every top-k with zero vectors
    (found at reference-scale: recall dropped to 0.0 with 1% injected
    zeros). The key equals the ``distance_expr`` reference bit for bit."""
    rng = np.random.default_rng(2)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(50)]
    rows += [(100 + i, [0.0] * 8) for i in range(10)]
    df = spark.createDataFrame(rows, "ordinal BIGINT, vector ARRAY<FLOAT>")
    q = df.where(F.col("ordinal") < 3)
    got = _keys(exact_knn(q, df, k=5, metric="cosine"))
    for cells in got.values():
        assert all(i < 100 for i, _ in cells), "zero vec in top-k"
        assert all(d is not None for _, d in cells)
    assert got == expr_topk(q, df, 5, "cosine")


def test_gemm_impl_matches_expr(vecs, expr_topk):
    """The GEMM scan returns the ``distance_expr`` reference's neighbors,
    order and distances, bit for bit, for every metric."""
    df, _ = vecs
    q = df.where(F.col("ordinal") < 8)
    for metric in ("cosine", "euclidean", "dot_product", "manhattan"):
        assert _keys(exact_knn(q, df, K, metric)) == expr_topk(q, df, K, metric), metric


def test_twins_at_batch_tail_rank_by_ordinal():
    """Bit-identical twin rows at base rows j and n-1-j of one batch tie
    under every metric, so each query's top-1 is the lower ordinal j. A
    plain GEMM gives the rows at the batch's tail other last bits, which
    sent some top-1 answers to the higher-ordinal twin."""
    from nbdatatools_spark.functions.distance import distance_matrix

    rng = np.random.default_rng(0)
    n, dim, nq = 10_000, 256, 200
    B = rng.normal(size=(n, dim)).astype(np.float32).astype(np.float64)
    Q = np.empty((nq, dim))
    for j in range(nq):
        B[n - 1 - j] = B[j]
        Q[j] = (B[j] + rng.normal(size=dim) * 1e-3).astype(np.float32)
    for metric in ("cosine", "euclidean", "dot_product"):
        D = distance_matrix(B, Q, metric, k=1)
        _, bid, _ = knn._partial_topk(D, np.arange(n), np.arange(nq), 1)
        assert (bid == np.arange(nq)).all(), (metric, np.nonzero(bid != np.arange(nq))[0])


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


def test_kth_distance_ties_break_by_ordinal(spark, expr_topk):
    """Within one Arrow batch, rows tied with the k-th distance are cut by
    base ordinal: the scan (exact_knn and hybrid_ground_truth under an
    always-true predicate) returns the ``distance_expr`` reference's
    (distance, ordinal) answer, not an arbitrary subset of the tied rows."""
    dist = np.random.default_rng(0).permutation([0] * 3 + [1] * 40 + [2] * 57)
    base = spark.createDataFrame(
        [(i, [float(d), 0.0]) for i, d in enumerate(dist)],
        "ordinal BIGINT, vector ARRAY<FLOAT>",
    ).coalesce(1)
    q = spark.createDataFrame([(0, [0.0, 0.0])], "ordinal BIGINT, vector ARRAY<FLOAT>")
    expr = expr_topk(q, base, 5, "euclidean")
    assert [i for i, _ in expr[0]] == [41, 52, 59, 1, 2]
    assert _keys(exact_knn(q, base, 5, "euclidean")) == expr
    meta = base.select("ordinal", F.lit(0).alias("z"))
    preds = [(0, '{"fieldName":"z","op":"EQ","values":[0]}')]
    hybrid = hybrid_ground_truth(q, base, meta, preds, k=5, metric="euclidean")
    assert _keys(hybrid) == expr


def test_bad_vectors_raise_one_error(spark):
    """Both sides of the scan (exact and IVF) and the gemm centroid
    assignment decode vectors through ``_matrix``: a null or a ragged vector
    raises its one ``ValueError``, on the query side (driver) and on the
    base side (in the scan task) alike. A null component is not an error:
    it reads as NaN, so the row ranks last and its distance is NULL, on
    either side."""
    from nbdatatools_spark.operators.clustering import centroid_assign
    from nbdatatools_spark.operators.similarity import ivf_topk

    schema = "ordinal BIGINT, vector ARRAY<FLOAT>"
    good = [(i, [float(i), 1.0, 0.5]) for i in range(6)]
    bad = {"null": None, "ragged": [1.0, 2.0]}
    message = "vectors must be non-null and of one dimension"
    for vec in bad.values():
        side = spark.createDataFrame(good[:3] + [(3, vec)], schema)
        full = spark.createDataFrame(good, schema)
        for q, b in ((side, full), (full, side)):
            with pytest.raises(Exception, match=message):
                exact_knn(q, b, 3)
        with pytest.raises(Exception, match=message):
            centroid_assign(side, [[1.0, 1.0, 1.0]], vec_col="vector", impl="gemm").collect()
    null_query = spark.createDataFrame(good[:3] + [(3, None)], schema)
    with pytest.raises(Exception, match=message):
        ivf_topk(null_query, spark.createDataFrame(good, schema), 3, n_centroids=2, nprobe=1,
                 query_id="ordinal", base_id="ordinal", vec_col="vector")

    holed = [(i, [float(i), None, 0.5] if i == 2 else v) for i, v in good]
    base = spark.createDataFrame(holed, schema)
    rows = {r["ordinal"]: r for r in exact_knn(base, base, 6).collect()}
    for qid, r in rows.items():
        if qid == 2:  # the query with the null component: every distance NULL
            assert list(r["indices"]) == list(range(6))
            assert list(r["distances"]) == [None] * 6
        else:  # the base row with the null component ranks last
            assert r["indices"][-1] == 2 and r["distances"][-1] is None
            assert None not in r["distances"][:-1]


def test_scan_merges_many_batches_per_task(spark):
    """Each scan task merges the top-k of several Arrow batches. With
    7-row batches and ties everywhere (duplicated small-integer vectors,
    exact in float64), ``exact_knn`` and ``hybrid_ground_truth`` pass the
    perfbench oracle's answer-key check, and ties, the k-th included, go
    to the lower ordinal."""
    from perfbench import oracles

    rng = np.random.default_rng(11)
    mat = rng.integers(-2, 3, size=(90, 6)).astype(np.float32)
    mat[~mat.any(1), 0] = 1  # no zero vectors
    mat = np.vstack([mat, mat[::-1]])  # every vector twice, far apart
    qmat = np.vstack([mat[:8], rng.integers(-2, 3, size=(4, 6))]).astype(np.float32)
    qmat[~qmat.any(1), 0] = 1
    schema = "ordinal BIGINT, vector ARRAY<FLOAT>"
    base = spark.createDataFrame([(i, v.tolist()) for i, v in enumerate(mat)], schema)
    q = spark.createDataFrame([(i, v.tolist()) for i, v in enumerate(qmat)], schema)
    meta = base.select("ordinal", (F.col("ordinal") % 3).alias("m3"))
    preds = [(i, '{"fieldName":"m3","op":"EQ","values":[%d]}' % (i % 3)) for i in range(len(qmat))]
    allowed = (np.arange(len(mat))[None, :] % 3) == (np.arange(len(qmat))[:, None] % 3)
    k = 10

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        tasks = spark.sparkContext.defaultParallelism
        sizes = [
            r["n"] for r in base.coalesce(tasks).mapInArrow(
                lambda batches: (pa.record_batch([pa.array([b.num_rows])], ["n"]) for b in batches),
                "n BIGINT",
            ).collect()
        ]
        assert max(sizes) == 7 and len(sizes) > tasks  # a task sees several batches
        got = {
            "exact": exact_knn(q, base, k).collect(),
            "hybrid": hybrid_ground_truth(q, base, meta, preds, k=k).collect(),
        }
    finally:
        spark.conf.set(key, old)
    dist = oracles.cosine_distances(mat, qmat)
    for name, mask in (("exact", None), ("hybrid", allowed)):
        _, kth = oracles.answer_key(mat, qmat, k, mask)
        expected = {i: (qmat[i], kth[i], None if mask is None else mask[i]) for i in range(len(qmat))}
        rows = [(r["ordinal"], r["indices"], r["distances"]) for r in got[name]]
        assert oracles.check_answer_key(rows, expected, mat, k) == [], name
        ranked = dist if mask is None else np.where(mask, dist, np.inf)
        for qi, idx, _ in rows:
            order = np.lexsort((np.arange(len(mat)), ranked[qi]))[:k]
            assert list(idx) == order.tolist(), (name, qi)


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


def test_knn_label_accuracy_gemm_matches_expr(spark, sf_dir, expr_topk):
    """The leave-one-out votes run on the scan's self-KNN edges, which
    equal the ``distance_expr`` reference bit for bit; the per-label counts
    equal a vote over the reference's edges."""
    import os
    from collections import Counter

    from nbdatatools_spark.operators.knn import _self_neighbors, knn_label_accuracy

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    ref = expr_topk(
        emb, emb, 3, "cosine", "vec_id", "embedding", keep=F.col("q_vec_id") != F.col("b_vec_id")
    )
    edges = {}
    for r in _self_neighbors(emb, 3, "cosine", "vec_id", "embedding").collect():
        edges.setdefault(r["query_id"], []).append((r["base_id"], r["distance"]))
    rank = lambda c: (c[1] is None, c[1] or 0.0, c[0])  # noqa: E731 -- NULLs last
    assert {q: sorted(e, key=rank) for q, e in edges.items()} == ref
    labels = dict((r["vec_id"], r["label"]) for r in emb.select("vec_id", "label").collect())
    n, ok = Counter(), Counter()
    for q, cells in ref.items():
        votes = Counter(labels[b] for b, _ in cells)
        pred = min(votes, key=lambda lab: (-votes[lab], lab))
        n[labels[q]] += 1
        ok[labels[q]] += pred == labels[q]
    got = {r["true_label"]: (r["n"], r["n_correct"]) for r in knn_label_accuracy(emb, k=3).collect()}
    assert got == {**{lab: (n[lab], ok[lab]) for lab in n}, None: (sum(n.values()), sum(ok.values()))}


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
        vec_col="embedding",
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


@pytest.mark.parametrize("metric", ["cosine", "euclidean", "dot_product", "manhattan"])
def test_keys_bit_identical_across_batch_block_and_task_shapes(spark, monkeypatch, metric):
    """Indices and distances of exact_knn, hybrid_ground_truth and
    hard_negatives are bit-identical with 7-row Arrow batches, a query
    side split into blocks and a single scan task: every stored distance
    is the fold's, whatever shape the GEMM saw."""
    from nbdatatools_spark.operators.similarity import hard_negatives

    rng = np.random.default_rng(17)
    mat = rng.normal(size=(150, 40)).astype(np.float32)
    mat[100:] = mat[:50]  # twins in other batches and tasks
    schema = "ordinal BIGINT, vector ARRAY<FLOAT>, label INT"
    base = spark.createDataFrame(
        [(i, v.tolist(), i % 3) for i, v in enumerate(mat)], schema
    ).repartition(3)
    q = base.where(F.col("ordinal") < 12)
    meta = base.select("ordinal", (F.col("ordinal") % 2).alias("p"))
    preds = [(i, '{"fieldName":"p","op":"EQ","values":[%d]}' % (i % 2)) for i in range(12)]

    def keys():
        neg = hard_negatives(q, base, 5, metric=metric, query_id="ordinal", base_id="ordinal",
                             vec_col="vector").toArrow()
        return (
            exact_knn(q, base, 5, metric).orderBy("ordinal").toArrow(),
            hybrid_ground_truth(q, base, meta, preds, k=5, metric=metric).orderBy("ordinal").toArrow(),
            neg.sort_by([("query_id", "ascending"), ("rank", "ascending")]),
        )

    want = keys()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        assert all(a.equals(b) for a, b in zip(keys(), want)), "7-row batches"
    finally:
        spark.conf.set(key, old)
    with monkeypatch.context() as m:
        m.setattr(knn, "_CANDIDATE_BYTES", _budget_for(spark, 5, 5))
        assert all(a.equals(b) for a, b in zip(keys(), want)), "split query side"
    with monkeypatch.context() as m:
        m.setattr(knn, "_scan_tasks", lambda spark: 1)
        assert all(a.equals(b) for a, b in zip(keys(), want)), "one scan task"
