"""Round-8 candidate batch 2: Fightin'-Words log-odds, nDCG@k,
rank-biased overlap, selection parity."""

import math

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# analysis: log-odds corpus comparison
# ---------------------------------------------------------------------------

def test_log_odds_separates_planted_tokens(spark):
    from nbdatatools_spark.operators.analysis import log_odds_tokens

    rows = []
    for i in range(30):
        rows.append((i, "en", "common alpha alpha"))
    for i in range(30, 60):
        rows.append((i, "de", "common beta beta"))
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = log_odds_tokens(docs, "lang", "en", "de", top_k=2).collect()
    a_side = [r["token"] for r in out if r["side"] == "a"]
    b_side = [r["token"] for r in out if r["side"] == "b"]
    assert a_side[0] == "alpha" and b_side[0] == "beta"
    z = {(r["side"], r["token"]): r["z"] for r in out}
    assert z[("a", "alpha")] > 0 > z[("b", "beta")]
    # the shared token is NOT the most distinctive on either side
    assert ("a", "common") not in list(z)[:1]


def test_log_odds_matches_python(spark):
    from collections import Counter

    from nbdatatools_spark.operators.analysis import log_odds_tokens

    a_text = "x x y z z z"
    b_text = "x y y y w"
    docs = spark.createDataFrame(
        [(1, "en", a_text), (2, "de", b_text)],
        "doc_id long, lang string, text string",
    )
    got = {(r["side"], r["token"]): r for r in
           log_odds_tokens(docs, "lang", "en", "de", alpha=0.01, top_k=10).collect()}

    ca, cb = Counter(a_text.split()), Counter(b_text.split())
    vocab = set(ca) | set(cb)
    na, nb, v, a = sum(ca.values()), sum(cb.values()), len(vocab), 0.01
    for w in vocab:
        ya, yb = ca[w], cb[w]
        delta = math.log((ya + a) / (na + a * v - ya - a)) - math.log(
            (yb + a) / (nb + a * v - yb - a)
        )
        z = round(delta / math.sqrt(1 / (ya + a) + 1 / (yb + a)), 6)
        row = got.get(("a", w)) or got.get(("b", w))
        assert row is not None and row["z"] == pytest.approx(z, abs=1e-6)
        assert row["count_a"] == ya and row["count_b"] == yb


def test_log_odds_ignores_other_groups(spark):
    from nbdatatools_spark.operators.analysis import log_odds_tokens

    docs = spark.createDataFrame(
        [(1, "en", "aa"), (2, "de", "bb"), (3, "fr", "poison poison poison")],
        "doc_id long, lang string, text string",
    )
    out = log_odds_tokens(docs, "lang", "en", "de", top_k=10).collect()
    assert all(r["token"] != "poison" for r in out)
    with pytest.raises(ValueError):
        log_odds_tokens(docs, "lang", "en", "de", top_k=0)


# ---------------------------------------------------------------------------
# evaluation: nDCG@k
# ---------------------------------------------------------------------------

def test_ndcg_perfect_and_inverted(spark):
    from nbdatatools_spark.operators.evaluation import ndcg_at_k

    rows = [(i, float(10 - i), 1 if i < 3 else 0) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, score double, gain int")
    r = ndcg_at_k(df, "score", "gain", k=10).collect()[0]
    assert r["ndcg"] == 1.0  # score order == gain order

    inv = spark.createDataFrame(
        [(i, float(i), 1 if i < 3 else 0) for i in range(10)],
        "doc_id long, score double, gain int",
    )
    r2 = ndcg_at_k(inv, "score", "gain", k=10).collect()[0]
    assert 0.0 < r2["ndcg"] < 1.0
    # differential: positives land at ranks 8, 9, 10
    dcg = sum(1 / math.log2(i + 1) for i in (8, 9, 10))
    idcg = sum(1 / math.log2(i + 1) for i in (1, 2, 3))
    assert r2["ndcg"] == pytest.approx(dcg / idcg, abs=1e-6)


def test_ndcg_zero_gain_null_and_graded(spark):
    from nbdatatools_spark.operators.evaluation import ndcg_at_k

    allz = spark.createDataFrame(
        [(1, 1.0, 0), (2, 0.5, 0)], "doc_id long, score double, gain int"
    )
    assert ndcg_at_k(allz, "score", "gain", k=5).collect()[0]["ndcg"] is None

    graded = spark.createDataFrame(
        [(1, 3.0, 3), (2, 2.0, 1), (3, 1.0, 2)],
        "doc_id long, score double, gain int",
    )
    r = ndcg_at_k(graded, "score", "gain", k=3).collect()[0]
    dcg = (2**3 - 1) / math.log2(2) + (2**1 - 1) / math.log2(3) + (2**2 - 1) / math.log2(4)
    idcg = (2**3 - 1) / math.log2(2) + (2**2 - 1) / math.log2(3) + (2**1 - 1) / math.log2(4)
    assert r["ndcg"] == pytest.approx(dcg / idcg, abs=1e-6)
    with pytest.raises(ValueError):
        ndcg_at_k(graded, "score", "gain", k=0)


def test_ndcg_grouped(spark, documents):
    from nbdatatools_spark.functions.text import quality_score
    from nbdatatools_spark.operators.evaluation import ndcg_at_k

    scored = documents.select(
        "doc_id", "source",
        F.round(quality_score(F.col("text")), 6).alias("score"),
        (F.col("n_chars") >= 400).cast("int").alias("gain"),
    )
    rows = ndcg_at_k(scored, "score", "gain", k=10, group_col="source").collect()
    assert len(rows) == documents.select("source").distinct().count()
    assert all(r["ndcg"] is None or 0.0 <= r["ndcg"] <= 1.0 + 1e-9 for r in rows)


# ---------------------------------------------------------------------------
# evaluation: RBO
# ---------------------------------------------------------------------------

def test_rbo_identical_and_disjoint(spark):
    from nbdatatools_spark.operators.evaluation import rbo_overlap

    same = spark.createDataFrame(
        [(i, float(i), float(i)) for i in range(30)],
        "doc_id long, sa double, sb double",
    )
    r = rbo_overlap(same, "sa", "sb", k=10, p=0.9).collect()[0]
    assert r["rbo_ext"] == pytest.approx(1.0, abs=1e-6)
    assert r["overlap_at_k"] == 10

    disj = spark.createDataFrame(
        [(i, float(100 - i), float(i)) for i in range(40)],
        "doc_id long, sa double, sb double",
    )
    r2 = rbo_overlap(disj, "sa", "sb", k=10, p=0.9).collect()[0]
    assert r2["overlap_at_k"] == 0 and r2["rbo_min"] == 0.0 and r2["rbo_ext"] == 0.0


def test_rbo_matches_python(spark):
    from nbdatatools_spark.operators.evaluation import rbo_overlap

    rows = [(i, float((i * 7) % 13), float((i * 5) % 13)) for i in range(13)]
    df = spark.createDataFrame(rows, "doc_id long, sa double, sb double")
    k, p = 8, 0.8
    r = rbo_overlap(df, "sa", "sb", k=k, p=p).collect()[0]

    ra = sorted(rows, key=lambda t: (-t[1], t[0]))[:k]
    rb = sorted(rows, key=lambda t: (-t[2], t[0]))[:k]
    rmin, x = 0.0, None
    for d in range(1, k + 1):
        A = {t[0] for t in ra[:d]}
        B = {t[0] for t in rb[:d]}
        x = len(A & B)
        rmin += p ** (d - 1) * x / d
    rmin *= 1 - p
    assert r["rbo_min"] == pytest.approx(rmin, abs=1e-5)
    assert r["overlap_at_k"] == x
    assert r["rbo_ext"] == pytest.approx(rmin + p**k * x / k, abs=1e-5)
    with pytest.raises(ValueError):
        rbo_overlap(df, "sa", "sb", k=5, p=1.0)


# ---------------------------------------------------------------------------
# evaluation: selection parity
# ---------------------------------------------------------------------------

def test_selection_parity_closed_form(spark):
    from nbdatatools_spark.operators.evaluation import selection_parity

    rows = [("a", True)] * 8 + [("a", False)] * 2 + [("b", True)] * 2 + [
        ("b", False)
    ] * 8
    df = spark.createDataFrame(rows, "g string, keep boolean")
    got = {r["g"]: r for r in selection_parity(df, "keep", "g").collect()}
    assert got["a"]["keep_rate"] == 0.8 and got["b"]["keep_rate"] == 0.2
    assert got["a"]["rate_ratio"] == pytest.approx(0.8 / 0.5, abs=1e-6)
    assert got["b"]["rate_ratio"] == pytest.approx(0.2 / 0.5, abs=1e-6)


def test_selection_parity_all_dropped_and_nulls(spark):
    from nbdatatools_spark.operators.evaluation import selection_parity

    df = spark.createDataFrame(
        [("a", False), (None, False)], "g string, keep boolean"
    )
    rows = selection_parity(df, "keep", "g").collect()
    assert {r["g"] for r in rows} == {"a", "<null>"}
    assert all(r["rate_ratio"] is None for r in rows)  # overall rate 0


# ---------------------------------------------------------------------------
# analysis: 1-D Wasserstein
# ---------------------------------------------------------------------------

def test_wasserstein_identical_zero_and_shift(spark):
    from nbdatatools_spark.operators.analysis import wasserstein_1d

    rows = [(float(v), "a") for v in range(10)] + [
        (float(v), "b") for v in range(10)
    ]
    df = spark.createDataFrame(rows, "v double, g string")
    r = wasserstein_1d(df, "v", "g", "a", "b").collect()[0]
    assert r["wasserstein"] == 0.0 and r["n_a"] == r["n_b"] == 10

    # b = a + 3: W1 of a pure location shift equals the shift
    shifted = [(float(v), "a") for v in range(10)] + [
        (float(v + 3), "b") for v in range(10)
    ]
    df2 = spark.createDataFrame(shifted, "v double, g string")
    r2 = wasserstein_1d(df2, "v", "g", "a", "b").collect()[0]
    assert r2["wasserstein"] == pytest.approx(3.0, abs=1e-6)


def test_wasserstein_matches_scipy_free_python(spark):
    from nbdatatools_spark.operators.analysis import wasserstein_1d

    a = [1.0, 1.0, 4.0, 9.0, 2.5]
    b = [0.5, 6.0, 6.0, 3.0]
    rows = [(v, "a") for v in a] + [(v, "b") for v in b]
    df = spark.createDataFrame(rows, "v double, g string")
    r = wasserstein_1d(df, "v", "g", "a", "b").collect()[0]

    vals = sorted(set(a) | set(b))
    w1 = 0.0
    for i, v in enumerate(vals[:-1]):
        fa = sum(1 for x in a if x <= v) / len(a)
        fb = sum(1 for x in b if x <= v) / len(b)
        w1 += abs(fa - fb) * (vals[i + 1] - v)
    assert r["wasserstein"] == pytest.approx(w1, abs=1e-6)


def test_wasserstein_partition_invariant(spark):
    from nbdatatools_spark.operators.analysis import wasserstein_1d

    rows = [(float((i * 17) % 101), "a" if i % 3 else "b") for i in range(200)]
    df = spark.createDataFrame(rows, "v double, g string")
    r1 = wasserstein_1d(df.repartition(1), "v", "g", "a", "b").collect()
    r2 = wasserstein_1d(df.repartition(13), "v", "g", "a", "b").collect()
    assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))


# ---------------------------------------------------------------------------
# sampling: DoReMi domain reweighting
# ---------------------------------------------------------------------------

def test_domain_reweight_upweights_hard_domains(spark):
    from nbdatatools_spark.operators.sampling import domain_reweight

    rows = [("easy", 0.1)] * 50 + [("hard", 0.9)] * 50
    df = spark.createDataFrame(rows, "d string, loss double")
    got = {r["d"]: r for r in domain_reweight(df, "d", "loss", eta=1.0).collect()}
    assert got["hard"]["weight"] > got["easy"]["weight"]
    assert got["hard"]["weight"] + got["easy"]["weight"] == pytest.approx(
        1.0, abs=1e-5
    )
    # closed form: equal shares, excess = +-0.4
    import math

    z = 0.5 * math.exp(0.4) + 0.5 * math.exp(-0.4)
    assert got["hard"]["weight"] == pytest.approx(
        0.5 * math.exp(0.4) / z, abs=1e-5
    )


def test_domain_reweight_eta_zero_recovers_shares(spark):
    from nbdatatools_spark.operators.sampling import domain_reweight

    rows = [("a", 0.2)] * 30 + [("b", 0.9)] * 10
    df = spark.createDataFrame(rows, "d string, loss double")
    got = {r["d"]: r for r in domain_reweight(df, "d", "loss", eta=0.0).collect()}
    assert got["a"]["weight"] == pytest.approx(0.75, abs=1e-6)
    assert got["b"]["weight"] == pytest.approx(0.25, abs=1e-6)


def test_domain_reweight_smoothing_and_null_loss(spark):
    from nbdatatools_spark.operators.sampling import domain_reweight

    rows = [("a", 0.2), ("a", 0.4), ("b", None), ("b", None)]
    df = spark.createDataFrame(rows, "d string, loss double")
    got = {r["d"]: r for r in
           domain_reweight(df, "d", "loss", eta=1.0, smoothing=0.5).collect()}
    # b has no losses -> gets the corpus mean -> zero excess; a's mean IS
    # the corpus mean too -> equal tilts -> weights = shares = 0.5 each
    assert got["b"]["mean_loss"] is None
    assert got["a"]["weight"] == pytest.approx(0.5, abs=1e-6)
    assert got["b"]["weight"] == pytest.approx(0.5, abs=1e-6)
    with pytest.raises(ValueError):
        domain_reweight(df, "d", "loss", smoothing=1.0)


# ---------------------------------------------------------------------------
# temporal: diff-in-diff
# ---------------------------------------------------------------------------

def test_diff_in_diff_planted_effect(spark):
    import datetime

    from nbdatatools_spark.operators.temporal import diff_in_diff

    t0 = datetime.datetime(2024, 1, 1)
    t1 = datetime.datetime(2024, 2, 1)
    rows = []
    # control: 10 -> 12 (trend +2); treated: 20 -> 27 (trend +2, effect +5)
    for i in range(20):
        rows += [(True, 20.0, t0), (True, 27.0, t1),
                 (False, 10.0, t0), (False, 12.0, t1)]
    df = spark.createDataFrame(rows, "treat boolean, value double, ts timestamp")
    r = diff_in_diff(df, "treat", "value", cutoff="2024-01-15").collect()[0]
    assert r["did"] == pytest.approx(5.0, abs=1e-6)
    assert r["n_t_pre"] == r["n_c_post"] == 20


def test_diff_in_diff_missing_cell_null(spark):
    import datetime

    from nbdatatools_spark.operators.temporal import diff_in_diff

    df = spark.createDataFrame(
        [(True, 1.0, datetime.datetime(2024, 1, 1)),
         (False, 1.0, datetime.datetime(2024, 1, 1))],
        "treat boolean, value double, ts timestamp",
    )
    r = diff_in_diff(df, "treat", "value", cutoff="2024-01-15").collect()[0]
    assert r["did"] is None and r["n_t_post"] is None


# ---------------------------------------------------------------------------
# evaluation: conformal threshold
# ---------------------------------------------------------------------------

def test_conformal_threshold_order_statistic(spark):
    from nbdatatools_spark.operators.evaluation import conformal_threshold

    scores = [float(v) for v in range(1, 20)]  # 1..19, n=19
    df = spark.createDataFrame([(s,) for s in scores], "s double")
    r = conformal_threshold(df, "s", alpha=0.1).collect()[0]
    # ceil(20 * 0.9) = 18 -> the 18th smallest = 18.0
    assert r["q_index"] == 18 and r["threshold"] == 18.0
    # coverage property on exchangeable data: at least 1-alpha of scores <= t
    assert sum(s <= r["threshold"] for s in scores) / len(scores) >= 0.9 - 1e-9


def test_conformal_threshold_clamps_and_groups(spark):
    from nbdatatools_spark.operators.evaluation import conformal_threshold

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 7.0)], "g string, s double"
    )
    got = {r["group"]: r for r in
           conformal_threshold(df, "s", alpha=0.05, group_col="g").collect()}
    assert got["a"]["q_index"] == 2 and got["a"]["threshold"] == 2.0
    assert got["b"]["q_index"] == 1 and got["b"]["threshold"] == 7.0  # clamped
    with pytest.raises(ValueError):
        conformal_threshold(df, "s", alpha=0.0)


# ---------------------------------------------------------------------------
# analysis: Procrustes alignment
# ---------------------------------------------------------------------------

def test_procrustes_recovers_planted_rotation(spark, embeddings):
    import numpy as np

    from nbdatatools_spark.operators.analysis import procrustes_align

    sub = embeddings.where(F.col("vec_id") < 200)
    rot = sub.select(
        "vec_id",
        F.expr(
            "transform(sequence(1, size(embedding)), i -> CAST("
            "element_at(embedding, size(embedding) - i + 1)"
            " * (CASE WHEN i % 2 = 0 THEN -1.0 ELSE 1.0 END) AS DOUBLE))"
        ).alias("embedding"),
    )
    r, stats = procrustes_align(sub, rot)
    row = stats.collect()[0]
    assert row["residual_sq"] <= 1e-6
    assert row["relative_residual"] <= 1e-9
    rm = np.asarray(r)
    assert float(np.abs(rm.T @ rm - np.eye(rm.shape[0])).max()) < 1e-9
    # R actually maps A onto B: apply to one vector
    a = np.asarray(sub.orderBy("vec_id").first()["embedding"], dtype=np.float64)
    b = np.asarray(rot.orderBy("vec_id").first()["embedding"], dtype=np.float64)
    assert np.abs(a @ rm - b).max() < 1e-6


def test_procrustes_identity_and_noise(spark, embeddings):
    import numpy as np

    from nbdatatools_spark.operators.analysis import procrustes_align

    sub = embeddings.where(F.col("vec_id") < 100)
    r, stats = procrustes_align(sub, sub)
    row = stats.collect()[0]
    assert row["residual_sq"] <= 1e-6
    rm = np.asarray(r)
    assert np.abs(rm - np.eye(rm.shape[0])).max() < 1e-6  # identity recovered
    # unrelated spaces: residual strictly positive
    shuffled = sub.select(
        (F.col("vec_id") + 1).alias("vec_id"), "embedding"
    ).where(F.col("vec_id") < 100)
    _, stats2 = procrustes_align(sub, shuffled)
    assert stats2.collect()[0]["residual_sq"] > 0.1


# ---------------------------------------------------------------------------
# knn: neighborhood overlap
# ---------------------------------------------------------------------------

def test_knn_overlap_identity_and_truncation(spark, embeddings):
    from nbdatatools_spark.operators.knn import knn_overlap

    sub = embeddings.where(F.col("vec_id") < 150)
    r = knn_overlap(sub, sub, k=5).collect()[0]
    assert r["mean_overlap"] == 1.0 and r["frac_perfect"] == 1.0

    trunc = sub.select(
        "vec_id",
        F.expr("transform(slice(embedding, 1, 8), x -> CAST(x AS FLOAT))")
        .alias("embedding"),
    )
    r2 = knn_overlap(sub, trunc, k=5).collect()[0]
    assert 0.0 <= r2["mean_overlap"] < 1.0
    assert r2["n_points"] == 150
    with pytest.raises(ValueError):
        knn_overlap(sub, sub, k=0)


def test_knn_overlap_gemm_matches_expr(spark, embeddings, expr_topk):
    """Each space's self-KNN edges equal the ``distance_expr`` reference's
    (ids and distances, bit for bit), and the overlap scores them."""
    from nbdatatools_spark.operators.knn import _self_neighbors, knn_overlap

    sub = embeddings.where(F.col("vec_id") < 150)
    trunc = sub.select(
        "vec_id",
        F.expr("transform(slice(embedding, 1, 16), x -> CAST(x AS FLOAT))")
        .alias("embedding"),
    )
    sets = []
    for space in (sub, trunc):
        ref = expr_topk(
            space, space, 10, "cosine", "vec_id", "embedding",
            keep=F.col("q_vec_id") != F.col("b_vec_id"),
        )
        edges = _self_neighbors(space, 10, "cosine", "vec_id", "embedding").collect()
        assert {(r["query_id"], r["base_id"], r["distance"]) for r in edges} == {
            (q, b, d) for q, cells in ref.items() for b, d in cells
        }
        sets.append({q: {b for b, _ in cells} for q, cells in ref.items()})
    ovs = [len(sets[0][i] & sets[1][i]) / 10 for i in sets[0]]
    got = knn_overlap(sub, trunc, k=10).collect()[0]
    assert got["mean_overlap"] == pytest.approx(sum(ovs) / len(ovs), abs=1e-6)
    assert got["min_overlap"] == min(ovs)


def test_knn_overlap_matches_numpy(spark, embeddings):
    import numpy as np

    from nbdatatools_spark.operators.knn import knn_overlap

    sub = embeddings.where(F.col("vec_id") < 80)
    trunc = sub.select(
        "vec_id",
        F.expr("transform(slice(embedding, 1, 16), x -> CAST(x AS FLOAT))")
        .alias("embedding"),
    )
    got = knn_overlap(sub, trunc, k=5).collect()[0]

    rows = sub.orderBy("vec_id").collect()
    ids = [r["vec_id"] for r in rows]
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)

    def knn_sets(M, k):
        nrm = M / np.linalg.norm(M, axis=1, keepdims=True)
        d = 1 - nrm @ nrm.T
        out = {}
        for i in range(len(ids)):
            order = sorted(
                (j for j in range(len(ids)) if j != i),
                key=lambda j: (d[i, j], ids[j]),
            )
            out[ids[i]] = {ids[j] for j in order[:k]}
        return out

    ka = knn_sets(X, 5)
    kb = knn_sets(X[:, :16], 5)
    ovs = [len(ka[i] & kb[i]) / 5 for i in ids]
    assert got["mean_overlap"] == pytest.approx(sum(ovs) / len(ovs), abs=1e-6)
    assert got["min_overlap"] == pytest.approx(min(ovs), abs=1e-6)


# ---------------------------------------------------------------------------
# packing: balanced shards
# ---------------------------------------------------------------------------

def test_balanced_shards_partition_and_balance(spark, documents):
    from nbdatatools_spark.operators.packing import (
        balanced_shards,
        shard_balance_report,
    )

    out = balanced_shards(documents, 8, "n_chars")
    assert out.count() == documents.count()
    assert out.select("shard").distinct().count() == 8
    rep = shard_balance_report(documents, 8, "n_chars").collect()
    ratios = [r["weight_ratio"] for r in rep]
    # serpentine deal keeps shard totals within a few percent of the mean
    assert max(ratios) < 1.05 and min(ratios) > 0.95
    with pytest.raises(ValueError):
        balanced_shards(documents, 0, "n_chars")


def test_balanced_shards_deterministic_and_beats_roundrobin(spark):
    from nbdatatools_spark.operators.packing import shard_balance_report

    rows = [(i, (i * 37) % 997 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    a = sorted(map(tuple, shard_balance_report(df, 4, "w").collect()))
    b = sorted(map(tuple,
                   shard_balance_report(df.repartition(11), 4, "w").collect()))
    assert a == b  # partition-invariant
    tot = [r[2] for r in a]
    assert (max(tot) - min(tot)) / (sum(tot) / 4) < 0.02


# ---------------------------------------------------------------------------
# analysis/streaming: histogram-sketch quantiles
# ---------------------------------------------------------------------------

def test_histogram_quantiles_accuracy_bound(spark, sf_dir):
    """Estimates land within one bin width of the exact percentile when
    the grid covers the data range."""
    import os

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    from nbdatatools_spark.operators.analysis import histogram_quantiles

    probs = (0.25, 0.5, 0.75, 0.9)
    got = {r["p"]: r["estimate"] for r in
           histogram_quantiles(ev, "value", probs, lo=0.0, hi=512.0,
                               n_bins=128).collect()}
    exact = ev.selectExpr(
        "percentile(value, array(0.25, 0.5, 0.75, 0.9)) AS q"
    ).first()["q"]
    width = 512.0 / 128
    for p, e in zip(probs, exact):
        assert abs(got[p] - e) <= width + 1e-9


def test_histogram_quantiles_validation_and_edges(spark):
    from nbdatatools_spark.operators.analysis import histogram_quantiles

    df = spark.createDataFrame([(float(i),) for i in range(100)], "v double")
    rows = histogram_quantiles(df, "v", (1.0,), lo=0.0, hi=100.0,
                               n_bins=10).collect()
    assert rows[0]["estimate"] <= 100.0  # p=1 clamps to hi
    with pytest.raises(ValueError):
        histogram_quantiles(df, "v", (0.0,))
    with pytest.raises(ValueError):
        histogram_quantiles(df, "v", (0.5,), lo=1.0, hi=1.0)


def test_stream_histogram_equals_batch(spark, sf_dir, tmp_path):
    """Running value histogram: draining the event stream leaves exactly
    the batch bin counts in the (bounded, n_bins) aggregation state."""
    import os

    from nbdatatools_spark.operators.analysis import value_histogram
    from nbdatatools_spark.streaming.events import stream_value_histogram

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    expected = {
        r["bin"]: r["n"]
        for r in value_histogram(ev, "value", 0.0, 512.0, 32).collect()
    }
    src_stream = str(tmp_path / "ev_hist_stream")
    ev.coalesce(3).write.parquet(src_stream)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_stream)
    )
    hist = stream_value_histogram(stream, "value", 0.0, 512.0, 32)
    q = (
        hist.writeStream.format("memory")
        .queryName("hist_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "hist_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["bin"]: r["n"] for r in spark.table("hist_stream").collect()}
    assert got == expected
    assert len(got) <= 32  # bounded state
