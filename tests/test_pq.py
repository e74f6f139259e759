"""Product quantization: compression shape, determinism, and ADC recall
against the exact baseline."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from nbdatatools_spark.operators.similarity import (
    brute_force_topk,
    pq_encode,
    pq_topk,
    pq_train,
)


@pytest.fixture(scope="module")
def clustered(spark):
    """400 vectors in 8 tight 32-dim clusters — PQ-friendly structure."""
    rng = np.random.default_rng(9)
    centers = rng.normal(size=(8, 32)) * 5
    rows = []
    for i in range(400):
        c = i % 8
        rows.append((i, (centers[c] + rng.normal(scale=0.3, size=32)).tolist()))
    return spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")


def test_pq_train_shape_and_determinism(clustered):
    b1 = pq_train(clustered, m=4, n_codes=16, seed=5)
    b2 = pq_train(clustered, m=4, n_codes=16, seed=5)
    b3 = pq_train(clustered, m=4, n_codes=16, seed=6)
    assert b1.shape == (4, 16, 8)
    assert np.array_equal(b1, b2)
    assert not np.array_equal(b1, b3)
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(clustered, m=5)


def test_pq_encode_is_m_bytes_per_vector(clustered):
    books = pq_train(clustered, m=4, n_codes=16, seed=5)
    enc = pq_encode(clustered, books)
    rows = enc.collect()
    assert len(rows) == 400
    assert all(len(r["codes"]) == 4 for r in rows)  # 32 doubles -> 4 bytes


def test_pq_adc_recall_vs_exact(clustered):
    books = pq_train(clustered, m=8, n_codes=64, seed=5)
    enc = pq_encode(clustered, books)
    q = clustered.where(F.col("vec_id") < 20)
    approx = pq_topk(q, enc, books, k=10, metric="euclidean")
    exact = brute_force_topk(q, clustered, k=10, metric="euclidean")
    a = {(r["query_id"], r["base_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["base_id"]) for r in exact.collect()}
    recall = len(a & e) / len(e)
    assert recall >= 0.55, f"ADC recall too low: {recall}"
    # rank-1 self-match must survive quantization on clustered data
    top1 = {r["query_id"]: r["base_id"] for r in approx.collect() if r["rank"] == 1}
    self_hits = sum(1 for qid, bid in top1.items() if qid == bid)
    assert self_hits >= 16  # 20 queries, allow a few cluster-internal swaps


def test_pq_more_codes_no_worse(clustered):
    """Finer codebooks should not hurt recall (monotone-ish)."""
    q = clustered.where(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["base_id"])
        for r in brute_force_topk(q, clustered, k=10, metric="euclidean").collect()
    }
    recalls = []
    for n_codes in (4, 64):
        books = pq_train(clustered, m=4, n_codes=n_codes, seed=5)
        enc = pq_encode(clustered, books)
        a = {
            (r["query_id"], r["base_id"])
            for r in pq_topk(q, enc, books, k=10).collect()
        }
        recalls.append(len(a & exact) / len(exact))
    assert recalls[1] >= recalls[0] - 0.02, f"recall fell with finer codes: {recalls}"


def test_pq_dot_metric(clustered):
    books = pq_train(clustered, m=8, n_codes=64, seed=5)
    enc = pq_encode(clustered, books)
    q = clustered.where(F.col("vec_id") < 5)
    approx = pq_topk(q, enc, books, k=5, metric="dot")
    exact = brute_force_topk(q, clustered, k=5, metric="dot_product")
    a = {(r["query_id"], r["base_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["base_id"]) for r in exact.collect()}
    assert len(a & e) / len(e) >= 0.4  # raw ADC under dot is noisy by nature
    rer = pq_topk(q, enc, books, k=5, metric="dot", rerank_base=clustered, rerank_factor=6)
    ar = {(r["query_id"], r["base_id"]) for r in rer.collect()}
    assert len(ar & e) / len(e) >= 0.8


def test_pq_rerank_recovers_exact_recall(clustered):
    """ADC shortlist + exact re-rank: the production IVFADC+rerank shape
    should recover near-exact recall."""
    books = pq_train(clustered, m=8, n_codes=64, seed=5)
    enc = pq_encode(clustered, books)
    q = clustered.where(F.col("vec_id") < 20)
    approx = pq_topk(
        q, enc, books, k=10, metric="euclidean",
        rerank_base=clustered, rerank_factor=4,
    )
    exact = brute_force_topk(q, clustered, k=10, metric="euclidean")
    a = {(r["query_id"], r["base_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["base_id"]) for r in exact.collect()}
    recall = len(a & e) / len(e)
    assert recall >= 0.9, f"re-ranked recall too low: {recall}"
    # re-ranked distances are EXACT for recovered pairs
    ad = {(r["query_id"], r["base_id"]): r["distance"] for r in approx.collect()}
    ed = {(r["query_id"], r["base_id"]): r["distance"] for r in exact.collect()}
    for pair in a & e:
        # gemm's (a^2-2ab+b^2) expansion carries ~1e-6 cancellation error;
        # the rerank path's sequential-sum distance is the more exact one
        assert ad[pair] == pytest.approx(ed[pair], abs=1e-5)


def test_ivfpq_recall_and_pruning(clustered, spark):
    from nbdatatools_spark.operators.similarity import ivfpq_build, ivfpq_topk

    enc, index = ivfpq_build(clustered, n_centroids=8, m=4, n_codes=32, seed=3)
    rows = enc.collect()
    assert len(rows) == 400 and all(len(r["codes"]) == 4 for r in rows)
    # cells follow the generating clusters closely: 8 centroids, each ~50
    from collections import Counter

    sizes = Counter(r["centroid_id"] for r in rows)
    assert len(sizes) == 8

    q = clustered.where(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["base_id"])
        for r in brute_force_topk(q, clustered, k=10, metric="euclidean").collect()
    }
    # probing ALL cells + exact rerank ~ exact search
    full = ivfpq_topk(q, enc, index, k=10, nprobe=8, rerank_base=clustered)
    a_full = {(r["query_id"], r["base_id"]) for r in full.collect()}
    assert len(a_full & exact) / len(exact) >= 0.9
    # nprobe=2 on tight clusters: still high recall (neighbors share the cell)
    probed = ivfpq_topk(q, enc, index, k=10, nprobe=2, rerank_base=clustered)
    a2 = {(r["query_id"], r["base_id"]) for r in probed.collect()}
    assert len(a2 & exact) / len(exact) >= 0.8


def test_ivfpq_nprobe_monotone(clustered, spark):
    from nbdatatools_spark.operators.similarity import ivfpq_build, ivfpq_topk

    enc, index = ivfpq_build(clustered, n_centroids=8, m=4, n_codes=32, seed=3)
    q = clustered.where(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["base_id"])
        for r in brute_force_topk(q, clustered, k=5, metric="euclidean").collect()
    }
    recalls = []
    for nprobe in (1, 4, 8):
        got = {
            (r["query_id"], r["base_id"])
            for r in ivfpq_topk(q, enc, index, k=5, nprobe=nprobe).collect()
        }
        recalls.append(len(got & exact) / len(exact))
    assert recalls[0] <= recalls[1] + 0.05 and recalls[1] <= recalls[2] + 0.05
    assert recalls[2] >= 0.5  # raw ADC, all cells
    with pytest.raises(ValueError, match="nprobe"):
        ivfpq_topk(q, enc, index, k=5, nprobe=0)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_pq_scans_block_large_query_sides(clustered, monkeypatch):
    """A query side over the driver's candidate budget is scanned in
    blocks, and the blocked result equals the single-block one for every
    PQ and IVF scan, distances included."""
    from nbdatatools_spark.operators import knn
    from nbdatatools_spark.operators.similarity import ivf_topk, ivfpq_build, ivfpq_topk

    books = pq_train(clustered, m=4, n_codes=16, seed=5)
    enc = pq_encode(clustered, books)
    ivf_enc, index = ivfpq_build(clustered, n_centroids=8, m=4, n_codes=16, seed=3)
    q = clustered.where(F.col("vec_id") < 20)
    scans = [
        lambda: pq_topk(q, enc, books, k=5, metric="euclidean"),
        lambda: pq_topk(q, enc, books, k=5, metric="dot", rerank_base=clustered),
        lambda: ivfpq_topk(q, ivf_enc, index, k=5, nprobe=2),
        lambda: ivf_topk(q, clustered, k=5, n_centroids=8, nprobe=2, seed=3),
    ]
    single = [_rows(scan()) for scan in scans]
    # 6 queries of depth 5 per block: 20 queries -> 4 blocks (the
    # re-ranked scan's 20-deep shortlist gets 1 query per block)
    budget = 24 * 5 * knn._scan_tasks(clustered.sparkSession) * 6
    monkeypatch.setattr(knn, "_CANDIDATE_BYTES", budget)
    blocked = [_rows(scan()) for scan in scans]
    assert all(len(rows) == 20 * 5 for rows in single)
    assert blocked == single


def test_ivf_search_index_is_deterministic(clustered, tmp_path):
    """Building and searching the same 16-cell IVF index twice gives
    byte-identical pairs: IVF-flat's stored distances are the fold's, not
    the last bits of a GEMM whose operand shape follows how the index
    files batch a cell's rows."""
    from nbdatatools_spark.operators.similarity import ivf_build_index, ivf_search_index

    spark = clustered.sparkSession
    q = clustered.where(F.col("vec_id") < 40)
    runs = []
    for i in range(2):
        ivf_build_index(clustered, str(tmp_path / f"idx{i}"), n_centroids=16)
        pairs = ivf_search_index(spark, str(tmp_path / f"idx{i}"), q, k=10, nprobe=3)
        runs.append(pairs.orderBy("query_id", "rank").toArrow())
    assert runs[0].num_rows == 400
    assert runs[0].equals(runs[1])


def test_ivfpq_probe_ties_go_to_lowest_cell(spark):
    """With fewer training rows than centroids, ``_lloyd`` pads the
    centroids with copies of centroid 0, which tie it exactly. The probe
    takes tied centroids lowest id first, so the row alone in cell 0 still
    finds itself instead of an empty padded copy being probed."""
    from nbdatatools_spark.operators.similarity import ivfpq_build, ivfpq_topk

    X = np.random.default_rng(3).standard_normal((40, 16))
    base = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(X)], "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    enc, index = ivfpq_build(base, n_centroids=256, m=4, n_codes=16, seed=42)
    for nprobe in (1, 2):
        rows = ivfpq_topk(base, enc, index, k=1, nprobe=nprobe).collect()
        assert sorted(r.query_id for r in rows) == list(range(40)), nprobe


def test_pq_scans_empty_query_side(clustered):
    from nbdatatools_spark.operators.similarity import ivfpq_build, ivfpq_topk

    books = pq_train(clustered, m=4, n_codes=16, seed=5)
    ivf_enc, index = ivfpq_build(clustered, n_centroids=8, m=4, n_codes=16, seed=3)
    none = clustered.where(F.col("vec_id") < 0)
    assert pq_topk(none, pq_encode(clustered, books), books, k=5).count() == 0
    assert ivfpq_topk(none, ivf_enc, index, k=5).count() == 0


def test_pq_nan_codeword_never_wins(spark):
    """NaN policy: a NaN distance ranks after every number. One NaN
    component in the sample trains a NaN codeword, but no clean row encodes
    to it; with ``argmin``'s first-NaN rule every clean row collapsed onto
    that one code."""
    X = np.random.default_rng(11).standard_normal((400, 16))
    X[17, 3] = np.nan
    base = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(X)], "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    books = pq_train(base, m=2, n_codes=16, seed=5)
    nan_codes = np.isnan(books).any(-1)  # (m, n_codes)
    assert nan_codes[0].any()
    codes = np.array([list(r.codes) for r in pq_encode(base, books).orderBy("id").collect()])
    clean = np.delete(codes, 17, axis=0)
    for s in range(2):
        assert not nan_codes[s, clean[:, s]].any(), s
        assert len(np.unique(clean[:, s])) == 16 - nan_codes[s].sum(), s


# --- SQ8 scalar quantization ------------------------------------------------

def test_sq8_roundtrip_error_bound(spark, embeddings):
    from pyspark.sql import functions as F

    from nbdatatools_spark.operators.similarity import (
        sq8_decode,
        sq8_encode,
        sq8_train,
    )

    mins, maxes = sq8_train(embeddings)
    enc = sq8_encode(embeddings, mins, maxes)
    # tinyint storage: 1 byte/dim vs 4 (schema-level compression claim)
    assert dict(enc.dtypes)["sq_code"] == "array<tinyint>"
    dec = sq8_decode(enc, mins, maxes)
    rows = dec.select("embedding", "embedding_dq").collect()
    spans = [h - l for l, h in zip(mins, maxes)]
    for r in rows:
        for d, (x, y) in enumerate(zip(r.embedding, r.embedding_dq)):
            assert abs(x - y) <= spans[d] / 510.0 + 1e-9, (d, x, y)


def test_sq8_constant_dim_and_plan(spark):
    from pyspark.sql import functions as F

    from nbdatatools_spark.operators.similarity import sq8_encode, sq8_train

    df = spark.createDataFrame(
        [(0, [1.0, -2.0]), (1, [1.0, 4.0])], "vec_id long, embedding array<double>"
    )
    mins, maxes = sq8_train(df)
    assert mins[0] == maxes[0] == 1.0
    enc = sq8_encode(df, mins, maxes)
    codes = {r.vec_id: list(r.sq_code) for r in enc.collect()}
    assert codes[0][0] == -128 and codes[1][0] == -128  # constant dim -> 0-128
    assert codes[0][1] == -128 and codes[1][1] == 127   # span endpoints
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # encode is a pure projection


def test_compression_report_tiers(spark, embeddings):
    """One-table SQ8/PQ/BQ readout: correct compression ratios and sane
    recall ordering (SQ8 ~ exact; every tier above a floor)."""
    from nbdatatools_spark.operators.similarity import compression_report

    rep = {
        r.method: r for r in compression_report(embeddings, dim=64, k=10).collect()
    }
    assert set(rep) == {"sq8", "pq", "bq_rerank"}
    assert rep["sq8"].bytes_per_vector == 64 and rep["sq8"].compression_x == 4.0
    assert rep["pq"].bytes_per_vector == 8 and rep["pq"].compression_x == 32.0
    assert rep["bq_rerank"].bytes_per_vector == 8 and rep["bq_rerank"].compression_x == 32.0
    # SQ8 is nearly lossless at this scale; all tiers clear a recall floor
    assert rep["sq8"].recall >= 0.95
    assert rep["pq"].recall >= 0.3
    assert rep["bq_rerank"].recall >= 0.5
