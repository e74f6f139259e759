"""Round-4 session-4 operators: sentence stats, ANN tuning report, Catalyst
cost diagnostics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nbdatatools_spark.functions.text import sentence_stats, sentences_of


def _stats(spark, text):
    df = spark.createDataFrame([(1, text)], "doc_id BIGINT, text STRING")
    return df.select(sentence_stats(F.col("text")).alias("s")).select("s.*").first()


def test_sentence_stats_closed_form(spark):
    r = _stats(spark, "One two three. Four five! Six seven eight nine")
    assert r.n_sentences == 3
    # 3 + 2 + 4 words -> mean 3.0
    assert r.mean_words_per_sentence == 3.0
    assert r.terminal_frac == round(2 / 3, 6)

    r = _stats(spark, "no terminal punctuation here")
    assert r.n_sentences == 1 and r.terminal_frac == 0.0

    r = _stats(spark, "   ")
    assert r.n_sentences == 0 and r.mean_words_per_sentence == 0.0


def test_sentences_of_drops_empty_segments(spark):
    df = spark.createDataFrame([(1, "A b.  C d?   ")], "id BIGINT, text STRING")
    ss = df.select(sentences_of(F.col("text")).alias("ss")).first().ss
    assert ss == ["A b.", "C d?"]


def test_ann_tuning_report_monotone_recall(spark, embeddings):
    from nbdatatools_spark.operators.similarity import ann_tuning_report

    q = embeddings.where(F.col("vec_id") < 12)
    rep = {
        r.nprobe: r
        for r in ann_tuning_report(
            q, embeddings, k=5, n_centroids=8, nprobes=(1, 4, 8)
        ).collect()
    }
    assert set(rep) == {1, 4, 8}
    # recall and candidate cost both non-decreasing in nprobe
    assert rep[1].recall <= rep[4].recall <= rep[8].recall
    assert rep[1].mean_candidates <= rep[4].mean_candidates <= rep[8].mean_candidates
    # probing every cell IS exhaustive search -> exact recall
    assert rep[8].recall == 1.0
    assert all(r.n_queries == 12 for r in rep.values())
    # mean_candidates counts scanned base rows: every cell scans the base
    assert rep[8].mean_candidates == embeddings.count()
    assert rep[1].mean_candidates < rep[8].mean_candidates


def test_cost_report_and_broadcast_predicate(spark, sf_dir):
    import os

    from nbdatatools_spark.plans.cost import cost_report, would_broadcast

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    rep = cost_report(li.where(F.col("l_quantity") > 49).select("l_orderkey"))
    assert rep[0]["size_bytes"] > 0
    assert any("Relation" in r["node"] or "Filter" in r["node"] for r in rep)
    # the slim projection's estimate is below the full-width scan's
    full = cost_report(li)[0]["size_bytes"]
    slim = rep[0]["size_bytes"]
    assert slim < full

    region = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    assert would_broadcast(region)  # 5 rows
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert not would_broadcast(region)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


# ---------------------------------------------------------------------------
# truncate_embeddings / bq
# ---------------------------------------------------------------------------

def test_matryoshka_truncation_matches_numpy(spark, embeddings):
    import numpy as np

    from nbdatatools_spark.operators.similarity import truncate_embeddings

    got = truncate_embeddings(embeddings, dims=8).orderBy("vec_id").collect()
    X = np.array(
        [r.embedding for r in embeddings.orderBy("vec_id").collect()], dtype=np.float64
    )[:, :8]
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    expect = np.round(X / norms, 6)
    G = np.array([r.embedding for r in got])
    assert G.shape == expect.shape
    assert np.allclose(G, expect, atol=2e-6)
    # unit vectors out
    assert np.allclose(np.linalg.norm(G, axis=1), 1.0, atol=1e-4)


def test_bq_encode_bits_match_numpy(spark, embeddings):
    import numpy as np

    from nbdatatools_spark.operators.similarity import bq_encode

    rows = bq_encode(embeddings, dim=64).select("vec_id", "embedding", "bq").collect()
    for r in rows[:50]:
        v = np.array(r.embedding)
        word = 0
        for i in range(64):
            if v[i] > 0:
                word |= 1 << i
        # two's-complement view of the packed uint64
        expect = word - (1 << 64) if word >= (1 << 63) else word
        assert r.bq == [expect]


def test_bq_rerank_recovers_exact_top1(spark, embeddings):
    """With a generous rerank pool, BQ-then-exact recovers the true cosine
    top-1 for most queries (BQ keeps angular order approximately)."""
    from nbdatatools_spark.operators.similarity import bq_topk, brute_force_topk

    q = embeddings.where(F.col("vec_id") < 20)
    bq = bq_topk(q, embeddings, k=1, dim=64, rerank=100).collect()
    exact = brute_force_topk(q, embeddings, k=1, metric="cosine").collect()
    bq_top = {r.query_id: r.base_id for r in bq}
    ex_top = {r.query_id: r.base_id for r in exact}
    hits = sum(1 for qid in ex_top if bq_top.get(qid) == ex_top[qid])
    assert hits >= 16  # >= 80% top-1 recovery at rerank=100/500


def test_readability_closed_form(spark):
    from nbdatatools_spark.functions.text import readability_stats

    def stats(text):
        df = spark.createDataFrame([(1, text)], "doc_id BIGINT, text STRING")
        return df.select(readability_stats(F.col("text")).alias("r")).select("r.*").first()

    # "The cat sat. The dog ran." -> 6 words, 2 sentences, 6 syllables
    r = stats("The cat sat. The dog ran.")
    assert (r.n_words, r.n_sentences, r.n_syllables) == (6, 2, 6)
    wps, spw = 6 / 2, 6 / 6
    assert r.fk_grade == round(0.39 * wps + 11.8 * spw - 15.59, 6)
    assert r.fk_ease == round(206.835 - 1.015 * wps - 84.6 * spw, 6)

    # vowel-group heuristic: 'beautiful' -> eau+i+u = 3 groups
    r = stats("beautiful")
    assert r.n_syllables == 3 and r.n_sentences == 1

    # no-vowel token floors at 1 syllable; empty doc -> NULL scores
    r = stats("hmm 123")
    assert r.n_syllables == 2
    r = stats("   ")
    assert r.n_words == 0 and r.fk_grade is None and r.fk_ease is None
