"""Round-4 session-3 operators: Gopher page-quality flags, per-doc token
entropy, hard-negative mining (expr vs GEMM label-mask kernel), and exact
per-dimension quantiles."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from nbdatatools_spark.functions.text import gopher_quality_flags
from nbdatatools_spark.operators.analysis import dim_quantiles
from nbdatatools_spark.operators.lm import token_entropy
from nbdatatools_spark.operators.similarity import hard_negatives


# ---------------------------------------------------------------------------
# gopher_quality_flags
# ---------------------------------------------------------------------------

def _flags(spark, text):
    df = spark.createDataFrame([(1, text)], "doc_id BIGINT, text STRING")
    return df.select(gopher_quality_flags(F.col("text")).alias("g")).select("g.*").first()


def test_gopher_closed_form_good_page(spark):
    words = ["the", "and", "quick"] + ["word"] * 60
    row = _flags(spark, " ".join(words))
    assert row.n_words == 63
    assert row.ok_word_count  # 50 <= 63 <= 100k
    # mean word length: (3 + 3 + 5 + 60*4) / 63
    assert row.mean_word_len == round((3 + 3 + 5 + 60 * 4) / 63, 6)
    assert row.ok_alpha and row.alpha_frac == 1.0
    assert row.ok_stopwords  # 'the' and 'and' both present
    assert row.ok_symbol_ratio and row.symbol_ratio == 0.0
    assert row.keep


def test_gopher_symbol_and_bullet_rules(spark):
    # 10 words, two '#' and one '...' -> symbol ratio (2+1)/10 = 0.3 > 0.1
    row = _flags(spark, "alpha# beta# gamma... four five six seven eight nine ten")
    assert row.symbol_ratio == pytest.approx(0.3)
    assert not row.ok_symbol_ratio
    # bullet-heavy page: every line starts with '-'
    bullets = "\n".join(f"- item {i}" for i in range(10))
    row = _flags(spark, bullets)
    assert not row.ok_bullet
    # ellipsis-ending lines
    ell = "\n".join(["ends here..."] * 4 + ["clean line"] * 4)
    row = _flags(spark, ell)
    assert not row.ok_ellipsis  # 0.5 > 0.3


def test_gopher_alpha_and_stopword_rules(spark):
    # numeric soup: no alphabetic words, no stopwords
    row = _flags(spark, " ".join(str(i) for i in range(60)))
    assert row.alpha_frac == 0.0 and not row.ok_alpha
    assert not row.ok_stopwords
    assert not row.keep
    # short doc fails word count only on that rule
    row = _flags(spark, "the cat and a dog sat on it")
    assert not row.ok_word_count
    assert row.ok_stopwords


# ---------------------------------------------------------------------------
# token_entropy
# ---------------------------------------------------------------------------

def test_token_entropy_closed_form(spark):
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "x"), (3, "  "), (4, "w w w w")],
        "doc_id BIGINT, text STRING",
    )
    rows = {r.doc_id: r for r in token_entropy(df).collect()}
    # doc 1: n=3, counts {a:2, b:1} -> H = ln3 - (2 ln2)/3
    expect = math.log(3) - (round(2 * math.log(2), 9)) / 3
    assert rows[1].entropy == pytest.approx(expect, abs=1e-6)
    assert rows[1].n_tokens == 3 and rows[1].n_distinct == 2
    # single token: H = 0 exactly
    assert rows[2].entropy == 0.0
    # empty doc: NULL entropy, zero counts
    assert rows[3].entropy is None and rows[3].n_tokens == 0
    # uniform repeats: H = ln4 - (4 ln4)/4 = 0
    assert rows[4].entropy == 0.0


def test_token_entropy_partition_invariance(spark, documents):
    one = token_entropy(documents.coalesce(1)).orderBy("doc_id").collect()
    many = token_entropy(documents.repartition(7)).orderBy("doc_id").collect()
    assert one == many


# ---------------------------------------------------------------------------
# hard_negatives
# ---------------------------------------------------------------------------

def test_hard_negatives_excludes_same_label(spark, embeddings):
    q = embeddings.where(F.col("vec_id") < 8)
    out = hard_negatives(q, embeddings, k=5).collect()
    labels = {r.vec_id: r.label for r in embeddings.select("vec_id", "label").collect()}
    assert len(out) == 8 * 5
    for r in out:
        assert labels[r.query_id] != labels[r.base_id]


def test_hard_negatives_gemm_matches_expr(spark, embeddings, expr_topk):
    """The label-mask scan returns the ``distance_expr`` reference over
    different-label, defined pairs: ids, order and distances bit for bit."""
    q = embeddings.where(F.col("vec_id") < 8)
    got = {}
    for r in hard_negatives(q, embeddings, k=5).orderBy("query_id", "rank").collect():
        got.setdefault(r.query_id, []).append((r.base_id, r.distance))
    keep = (F.col("q_label") != F.col("b_label")) & F.col("__d").isNotNull()
    assert got == expr_topk(q, embeddings, 5, "cosine", "vec_id", "embedding", keep=keep)


def test_hard_negatives_is_knn_restricted_to_other_labels(spark, embeddings):
    """Differential vs numpy: brute-force cosine over label-differing rows."""
    rows = embeddings.select("vec_id", "embedding", "label").collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    lab = np.array([r.label for r in rows])
    out = hard_negatives(
        embeddings.where(F.col("vec_id") < 4), embeddings, k=3
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r.base_id)
    for qi in range(4):
        qpos = int(np.where(ids == qi)[0][0])
        qv = X[qpos]
        d = 1.0 - (X @ qv) / (np.linalg.norm(X, axis=1) * np.linalg.norm(qv))
        mask = lab != lab[qpos]
        order = sorted(
            [(d[j], int(ids[j])) for j in range(len(ids)) if mask[j]],
        )[:3]
        assert by_q[qi] == [bid for _, bid in order]


# ---------------------------------------------------------------------------
# dim_quantiles
# ---------------------------------------------------------------------------

def test_dim_quantiles_matches_numpy(spark, embeddings):
    got = {r.dim: r for r in dim_quantiles(embeddings, vec="embedding").collect()}
    X = np.array(
        [r.embedding for r in embeddings.select("embedding").collect()], dtype=np.float64
    )
    for dim in (0, 1, X.shape[1] - 1):
        col = X[:, dim]
        assert got[dim].n == len(col)
        assert got[dim].q25 == pytest.approx(np.quantile(col, 0.25), abs=1e-6)
        assert got[dim].q50 == pytest.approx(np.quantile(col, 0.5), abs=1e-6)
        assert got[dim].q75 == pytest.approx(np.quantile(col, 0.75), abs=1e-6)
    assert len(got) == X.shape[1]


# ---------------------------------------------------------------------------
# embedding_psi
# ---------------------------------------------------------------------------

def test_psi_zero_for_identical_populations(spark, embeddings):
    from nbdatatools_spark.operators.analysis import embedding_psi

    out = embedding_psi(embeddings, embeddings, vec="embedding").collect()
    assert len(out) > 0
    for r in out:
        assert r.psi == 0.0
        assert r.n_baseline == r.n_current


def test_psi_detects_planted_shift(spark):
    from nbdatatools_spark.operators.analysis import embedding_psi

    base = spark.createDataFrame(
        [(i, [0.0, 0.0]) for i in range(200)], "id BIGINT, v ARRAY<DOUBLE>"
    )
    # dim 0 shifted hard into another bin; dim 1 unchanged
    cur = spark.createDataFrame(
        [(i, [3.0, 0.0]) for i in range(200)], "id BIGINT, v ARRAY<DOUBLE>"
    )
    rows = {r.dim: r.psi for r in embedding_psi(base, cur, vec="v").collect()}
    assert rows[0] > 0.25  # "shifted" by the standard PSI reading
    assert rows[1] == 0.0


def test_psi_closed_form_two_bins(spark):
    import math

    from nbdatatools_spark.operators.analysis import embedding_psi

    base = spark.createDataFrame(
        [(1, [0.25]), (2, [0.25]), (3, [0.75])], "id BIGINT, v ARRAY<DOUBLE>"
    )
    cur = spark.createDataFrame(
        [(1, [0.75]), (2, [0.75]), (3, [0.25])], "id BIGINT, v ARRAY<DOUBLE>"
    )
    got = embedding_psi(base, cur, vec="v", n_bins=2, lo=0.0, hi=1.0).collect()[0]
    # smoothed: p = (2+1)/5, (1+1)/5; q mirrored
    p0, p1, q0, q1 = 3 / 5, 2 / 5, 2 / 5, 3 / 5
    expect = round(
        round((p0 - q0) * math.log(p0 / q0), 9) + round((p1 - q1) * math.log(p1 / q1), 9),
        6,
    )
    assert got.psi == pytest.approx(expect, abs=1e-9)


def test_psi_validation(spark, embeddings):
    from nbdatatools_spark.operators.analysis import embedding_psi

    with pytest.raises(ValueError):
        embedding_psi(embeddings, embeddings, n_bins=1)
    with pytest.raises(ValueError):
        embedding_psi(embeddings, embeddings, lo=1.0, hi=1.0)


# ---------------------------------------------------------------------------
# ab_test_report
# ---------------------------------------------------------------------------

def test_ab_test_closed_form(spark):
    import math

    from nbdatatools_spark.operators.analysis import ab_test_report

    # variant A: 4 users, 2 convert; variant B: 4 users, 1 converts
    rows = []
    eid = 0
    for u, v, conv in [
        (1, "A", True), (2, "A", True), (3, "A", False), (4, "A", False),
        (5, "B", True), (6, "B", False), (7, "B", False), (8, "B", False),
    ]:
        rows.append((eid, u, v, "purchase" if conv else "view")); eid += 1
        rows.append((eid, u, v, "view")); eid += 1  # noise events
    df = spark.createDataFrame(
        rows, "event_id BIGINT, user_id BIGINT, variant STRING, event_type STRING"
    )
    out = ab_test_report(
        df, F.col("variant"), F.col("event_type") == "purchase"
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.users_a, r.conv_a, r.users_b, r.conv_b) == (4, 2, 4, 1)
    assert r.rate_a == 0.5 and r.rate_b == 0.25
    pp = 3 / 8
    se = math.sqrt(pp * (1 - pp) * (1 / 4 + 1 / 4))
    assert r.z == pytest.approx(round((0.5 - 0.25) / se, 6), abs=1e-9)
    # p-value sanity: |z| ~ 0.73 -> p ~ 0.465 (not significant)
    assert 0.4 < r.p_value < 0.55


def test_ab_test_equal_rates_zero_z(spark):
    from nbdatatools_spark.operators.analysis import ab_test_report

    df = spark.createDataFrame(
        [(1, 1, "A", "purchase"), (2, 2, "B", "purchase")],
        "event_id BIGINT, user_id BIGINT, variant STRING, event_type STRING",
    )
    r = ab_test_report(df, F.col("variant"), F.col("event_type") == "purchase").collect()[0]
    assert r.z == 0.0  # se == 0 with both rates 1.0 -> guarded to exactly 0
    assert r.p_value == 1.0


# ---------------------------------------------------------------------------
# winsorize_vectors / compact_parquet
# ---------------------------------------------------------------------------

def test_winsorize_matches_numpy(spark, embeddings):
    from nbdatatools_spark.operators.analysis import winsorize_vectors

    X = np.array(
        [r.embedding for r in embeddings.select("embedding").orderBy("vec_id").collect()],
        dtype=np.float64,
    )
    lo = np.round(np.quantile(X, 0.05, axis=0), 9)
    hi = np.round(np.quantile(X, 0.95, axis=0), 9)
    expect = np.round(np.clip(X, lo, hi), 6)
    got = winsorize_vectors(embeddings, lo_q=0.05, hi_q=0.95).orderBy("vec_id").collect()
    G = np.array([r.clipped for r in got])
    assert np.allclose(G, expect, atol=2e-6)
    # clipping actually engaged (some values at the bounds)
    assert (G == np.round(lo, 6)).any() or (G == np.round(hi, 6)).any()


def test_winsorize_validation(spark, embeddings):
    from nbdatatools_spark.operators.analysis import winsorize_vectors

    with pytest.raises(ValueError):
        winsorize_vectors(embeddings, lo_q=0.5, hi_q=0.5)


def test_compact_parquet_merges_small_files(spark, tmp_path):
    from nbdatatools_spark.operators.colocate import compact_parquet

    src = str(tmp_path / "frag")
    # 40 tiny files
    spark.range(0, 40000).withColumn("k", F.col("id") % 97).repartition(40).write.parquet(src)
    import os

    n_src = sum(1 for f in os.listdir(src) if f.endswith(".parquet"))
    assert n_src == 40
    dst = str(tmp_path / "compact")
    n_out = compact_parquet(spark, src, dst, target_mb=128)
    assert n_out == 1  # tiny total size -> one file
    assert spark.read.parquet(dst).count() == 40000

    # sorted variant: every output file covers a tight key range
    dst2 = str(tmp_path / "compact_sorted")
    spark.range(0, 2_000_000).withColumn("k", (F.col("id") * 7919) % 1000).withColumn(
        "pad", F.md5(F.col("id").cast("string"))
    ).repartition(40).write.parquet(str(tmp_path / "frag2"))
    compact_parquet(spark, str(tmp_path / "frag2"), dst2, target_mb=1, sort_cols=["k"])
    import pyarrow.parquet as pq

    spans = []
    for f in os.listdir(dst2):
        if f.endswith(".parquet"):
            md = pq.read_metadata(os.path.join(dst2, f))
            ks = [
                (md.row_group(i).column(1).statistics.min, md.row_group(i).column(1).statistics.max)
                for i in range(md.num_row_groups)
            ]
            spans.append((min(k[0] for k in ks), max(k[1] for k in ks)))
    assert len(spans) > 1
    total_span = sum(hi - lo for lo, hi in spans)
    assert total_span < 1000 * 1.2  # near-disjoint ranges, not ~full-domain each
