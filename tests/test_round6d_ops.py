"""Round-6 batch-4 operator tests: T5 span corruption, hubness audit,
source tf-idf similarity, robust scaling, boilerplate prefix mining."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F


# --- span corruption --------------------------------------------------------


def test_span_corruption_reconstruction(spark, documents):
    """corrupted + target together contain every token exactly once, in
    order, with matching sentinel numbering."""
    from nbdatatools_spark.operators.packing import span_corruption

    out = span_corruption(
        documents.limit(50), mask_rate=0.3, mean_span=3, seed=42
    ).collect()
    docs = {
        r["doc_id"]: r["text"]
        for r in documents.limit(50).collect()
    }
    assert len(out) == 50
    for r in out:
        orig = " ".join(docs[r["id"]].lower().split())
        inp, tgt = r["corrupted"].split(), r["target"].split()
        # rebuild: walk input; at sentinel k, splice target span k
        spans = {}
        cur = None
        for t in tgt:
            if t.startswith("<extra_id_"):
                cur = t
                spans[cur] = []
            else:
                spans[cur].append(t)
        rebuilt = []
        for t in inp:
            if t.startswith("<extra_id_"):
                rebuilt.extend(spans[t])
            else:
                rebuilt.append(t)
        assert " ".join(rebuilt) == orig, r["id"]
        assert r["n_masked"] == sum(len(v) for v in spans.values())
        assert r["n_spans"] == len(spans)
        # sentinels appear in order 0..n_spans-1 in BOTH sequences
        ids = [t for t in inp if t.startswith("<extra_id_")]
        assert ids == [f"<extra_id_{i}>" for i in range(len(ids))]
        assert [t for t in tgt if t.startswith("<extra_id_")] == ids


def test_span_corruption_deterministic_and_rate(spark, documents):
    from nbdatatools_spark.operators.packing import span_corruption

    a = span_corruption(documents, mask_rate=0.15, mean_span=3).collect()
    b = span_corruption(documents.repartition(7), mask_rate=0.15, mean_span=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # partition-invariant
    tot = sum(r["n_tokens"] for r in a)
    masked = sum(r["n_masked"] for r in a)
    assert 0.10 < masked / tot < 0.25  # ~15% target rate


def test_span_corruption_validation(spark, documents):
    from nbdatatools_spark.operators.packing import span_corruption

    with pytest.raises(ValueError):
        span_corruption(documents, mask_rate=1.5)
    with pytest.raises(ValueError):
        span_corruption(documents, mean_span=0)


# --- hubness ----------------------------------------------------------------


def test_hubness_mass_conservation_and_numpy(spark, embeddings):
    from nbdatatools_spark.operators.knn import hubness_stats

    k = 5
    sub = embeddings.where(F.col("vec_id") < 100)
    out = {r["id"]: r["k_occurrence"] for r in hubness_stats(sub, k=k).collect()}
    n = len(out)
    assert sum(out.values()) == n * k  # every query contributes exactly k
    # numpy differential
    rows = sub.orderBy("vec_id").collect()
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = [r["vec_id"] for r in rows]
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    d = 1 - Xn @ Xn.T
    occ = {i: 0 for i in ids}
    for qi in range(n):
        order = sorted(
            (float(d[qi, bj]), ids[bj]) for bj in range(n) if bj != qi
        )
        for _, bid in order[:k]:
            occ[bid] += 1
    assert occ == out


def test_hubness_gemm_matches_expr(spark, embeddings, expr_topk):
    """The scan's self-KNN edges equal the ``distance_expr`` reference's
    (ids and distances, bit for bit), and the k-occurrences count them."""
    from collections import Counter

    from nbdatatools_spark.operators.knn import _self_neighbors, hubness_stats

    sub = embeddings.where(F.col("vec_id") < 80)
    ref = expr_topk(
        sub, sub, 5, "cosine", "vec_id", "embedding", keep=F.col("q_vec_id") != F.col("b_vec_id")
    )
    edges = _self_neighbors(sub, 5, "cosine", "vec_id", "embedding").collect()
    assert {(r["query_id"], r["base_id"], r["distance"]) for r in edges} == {
        (q, b, d) for q, cells in ref.items() for b, d in cells
    }
    occ = Counter(b for cells in ref.values() for b, _ in cells)
    g = {r["id"]: r["k_occurrence"] for r in hubness_stats(sub, k=5).collect()}
    assert g == {i: occ[i] for i in g} and len(g) == sub.count()


# --- source similarity ------------------------------------------------------


def test_source_similarity_identical_and_disjoint(spark):
    from nbdatatools_spark.operators.lm import source_similarity

    rows = []
    for i in range(20):
        rows.append((i, "a", "alpha beta gamma delta"))
        rows.append((100 + i, "b", "alpha beta gamma delta"))  # identical mix
        rows.append((200 + i, "c", "epsilon zeta eta theta"))  # disjoint
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = {(r["source_a"], r["source_b"]): r["cosine"] for r in source_similarity(df).collect()}
    assert out[("a", "b")] == pytest.approx(1.0, abs=1e-6)
    assert out[("a", "c")] == 0.0 and out[("b", "c")] == 0.0


def test_source_similarity_range(spark, documents):
    from nbdatatools_spark.operators.lm import source_similarity

    out = source_similarity(documents).collect()
    assert len(out) == 190  # C(20, 2)
    assert all(-1e-6 <= r["cosine"] <= 1.0 + 1e-6 for r in out)


# --- robust scaling ---------------------------------------------------------


def test_robust_scale_numpy_differential(spark, embeddings):
    from nbdatatools_spark.operators.analysis import robust_scale_vectors

    out = robust_scale_vectors(embeddings).collect()
    rows = embeddings.orderBy("vec_id").collect()
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = [r["vec_id"] for r in rows]
    med = np.percentile(X, 50, axis=0, method="linear")
    q1 = np.percentile(X, 25, axis=0, method="linear")
    q3 = np.percentile(X, 75, axis=0, method="linear")
    idx = {v: i for i, v in enumerate(ids)}
    for r in out[:5000]:
        want = (X[idx[r["id"]], r["dim"]] - med[r["dim"]]) / (q3[r["dim"]] - q1[r["dim"]])
        assert r["z"] == pytest.approx(want, abs=1e-5)


def test_robust_scale_median_maps_to_zero(spark):
    from nbdatatools_spark.operators.analysis import robust_scale_vectors

    df = spark.createDataFrame(
        [(i, [float(i)]) for i in range(1, 6)], ["vec_id", "embedding"]
    )
    out = {r["id"]: r["z"] for r in robust_scale_vectors(df).collect()}
    assert out[3] == 0.0  # the median element
    assert out[1] == -1.0 and out[5] == 1.0  # +-(med-q)/iqr at the ends


def test_robust_scale_zero_iqr_null(spark):
    from nbdatatools_spark.operators.analysis import robust_scale_vectors

    df = spark.createDataFrame(
        [(i, [1.0, float(i)]) for i in range(4)], ["vec_id", "embedding"]
    )
    rows = robust_scale_vectors(df).collect()
    assert all(r["z"] is None for r in rows if r["dim"] == 0)
    assert all(r["z"] is not None for r in rows if r["dim"] == 1)


# --- boilerplate prefixes ---------------------------------------------------


def test_boilerplate_prefixes_counts(spark):
    from nbdatatools_spark.operators.dedup import boilerplate_prefixes

    banner = "accept all cookies to continue reading"
    rows = [
        (0, f"{banner}\nreal content zero"),
        (1, f"{banner}\n{banner}\nother text here"),  # twice in one doc
        (2, "totally different text\nmore words"),
        (3, f"{banner} extra tail words"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = boilerplate_prefixes(df, k_tokens=5, min_docs=2, top_n=10).collect()
    top = out[0]
    assert top["prefix"] == "accept all cookies to continue"
    assert top["n_docs"] == 3  # doc 1 counts once
    assert top["n_lines"] == 4
