"""CLI-surface parity operators (README.md:38-99): mktestdata,
verify_profiles, merkle summary/diff/path/spoil*, datasets plan."""

import os

import numpy as np
import pytest

from nbdatatools_spark.datagen import make_test_dataset
from nbdatatools_spark.operators.knn import verify_profiles
from nbdatatools_spark.sources.dataset import (
    curlify,
    dataset_info,
    load_dataset,
    plan_missing_artifacts,
    view_sample,
    view_size,
)
from nbdatatools_spark.sources.merkle_file import (
    merkle_diff,
    merkle_file_root,
    merkle_path,
    merkle_summary,
    merkle_treeview,
    spoil_bits,
    spoil_chunks,
    verify_against_merkle,
    write_mref,
)


def test_mktestdata_trio_and_verify_profiles(tmp_path, spark):
    """generate mktestdata -> loadable dataset; verify_profiles recall == 1
    (the answer key was computed by the same exact KNN)."""
    root = str(tmp_path / "synthds")
    m = make_test_dataset(
        spark, root, n_base=300, n_query=30, dimensions=8, k=5, seed=7
    )
    for f in ("base.fvec", "query.fvec", "indices.ivec", "distances.fvec", "dataset.yaml"):
        assert os.path.exists(os.path.join(root, f))
    assert m.attr("dimensions") == 8
    assert m.attr("distance_function") == "COSINE"
    base = m.facet(spark, "base", "default")
    assert base.count() == 300 and len(base.first()["vector"]) == 8
    truth = m.facet(spark, "indices", "default")
    assert truth.count() == 30 and len(truth.first()["vector"]) == 5

    res = verify_profiles(spark, m, k=5, sample_size=20).collect()
    assert len(res) == 1
    assert res[0]["profile"] == "default"
    assert res[0]["mean_recall"] == 1.0
    assert res[0]["n_queries"] == 20

    # no artifacts missing on a complete dataset
    assert plan_missing_artifacts(m) == []


def test_plan_missing_artifacts(tmp_path, spark):
    root = tmp_path / "partial"
    root.mkdir()
    rng = np.random.default_rng(5)
    import struct as _s

    with open(root / "base.fvec", "wb") as f:
        for row in rng.normal(size=(10, 4)).astype("<f4"):
            f.write(_s.pack("<i", 4) + row.tobytes())
    (root / "dataset.yaml").write_text(
        """
profiles:
  default:
    base: base.fvec
    query: query.fvec
    indices: indices.ivec
"""
    )
    m = load_dataset(str(root))
    missing = plan_missing_artifacts(m)
    kinds = {x["facet"] for x in missing}
    assert kinds == {"query_vectors", "neighbor_indices"}
    assert all("exact_knn" in x["build_with"] or "generate_vectors" in x["build_with"] for x in missing)


def test_merkle_summary_diff_path_spoil(tmp_path, spark):
    data = os.urandom(4096)
    p = tmp_path / "d.bin"
    p.write_bytes(data)
    mref = str(tmp_path / "d.mref")
    write_mref(spark, str(p), mref, chunk_size=1024)

    s = merkle_summary(mref)
    assert s["total_chunks"] == 4 and s["complete"] and s["chunk_size"] == 1024
    assert s["root"] == merkle_file_root(mref)

    # path from leaf 2 to root: leaf index offset+2 = 3+2, parents up to 0
    path = merkle_path(mref, 2)
    assert [i for i, _ in path] == [5, 2, 0]
    assert path[-1][1] == s["root"]
    with pytest.raises(IndexError):
        merkle_path(mref, 4)

    # spoil one BIT -> exactly that chunk flagged; diff between trees agrees
    spoil_bits(str(p), [2048 * 8 + 3])  # a bit inside chunk 2
    bad = verify_against_merkle(spark, str(p), mref).collect()
    assert [r["chunk_index"] for r in bad] == [2]
    mref2 = str(tmp_path / "d2.mref")
    write_mref(spark, str(p), mref2, chunk_size=1024)
    assert merkle_diff(mref, mref2) == [2]

    # spoil whole chunks via the merkle file's chunk size
    spoil_chunks(str(p), mref, [0, 3])
    bad2 = sorted(r["chunk_index"] for r in verify_against_merkle(spark, str(p), mref).collect())
    assert bad2 == [0, 2, 3]
    with pytest.raises(ValueError, match="incomparable"):
        write_mref(spark, str(p), str(tmp_path / "d3.mref"), chunk_size=2048)
        merkle_diff(mref, str(tmp_path / "d3.mref"))


def test_vectordata_explorer_surface(tmp_path, spark):
    """vectordata info/views/size/sample re-expressed as dataset helpers."""
    root = str(tmp_path / "ds")
    m = make_test_dataset(spark, root, n_base=200, n_query=20, dimensions=4, k=3)

    info = dataset_info(m)
    assert info["attributes"]["dimensions"] == 4
    assert set(info["profiles"]) == {"default"}
    facets = info["profiles"]["default"]
    assert facets["base_vectors"]["source"] == "base.fvec"
    assert facets["base_vectors"]["window"] is None

    # size without a Spark scan: header + file size only
    s = view_size(m, "base")
    assert s["count"] == 200 and s["dimensions"] == 4
    sq = view_size(m, "query")
    assert sq["count"] == 20 and sq["dimensions"] == 4

    rows = view_sample(spark, m, "base", n=3).collect()
    assert [r["ordinal"] for r in rows] == [0, 1, 2]
    assert len(rows[0]["vector"]) == 4


def test_view_size_windowed(tmp_path, spark):
    root = str(tmp_path / "win")
    make_test_dataset(spark, root, n_base=100, n_query=10, dimensions=4, k=3)
    # re-point the manifest at a window of base
    with open(os.path.join(root, "dataset.yaml"), "a") as f:
        f.write("  small:\n    base: base.fvec[10..40]\n")
    m = load_dataset(root)
    assert view_size(m, "base", "small")["count"] == 30


def test_curlify_ranged(tmp_path, spark):
    root = str(tmp_path / "cds")
    make_test_dataset(spark, root, n_base=100, n_query=10, dimensions=4, k=3)
    with open(os.path.join(root, "dataset.yaml"), "a") as f:
        f.write("  small:\n    base: base.fvec[0..50]\n")
    m = load_dataset(root)
    cmds = curlify(m, "https://example.org/ds/", profiles=["small"])
    assert cmds[0].endswith("dataset.yaml https://example.org/ds/dataset.yaml")
    # stride = 4 + 4*4 = 20 bytes; [0,50) records -> bytes 0..999
    ranged = [c for c in cmds if " -r " in c]
    assert any("-r 0-999" in c and "base.fvec" in c for c in ranged)
    # full-profile curlify: unwindowed facets fetch whole files, no dupes
    all_cmds = curlify(m, "https://example.org/ds")
    assert len(all_cmds) == len(set(all_cmds))
    assert any(c.endswith("https://example.org/ds/indices.ivec") for c in all_cmds)


def test_merkle_treeview(tmp_path, spark):
    p = tmp_path / "t.bin"
    p.write_bytes(os.urandom(3072))  # 3 chunks of 1024 -> capLeaf 4, 7 nodes
    mref = str(tmp_path / "t.mref")
    write_mref(spark, str(p), mref, chunk_size=1024)
    view = merkle_treeview(mref, highlight=[1], hash_length=8)
    lines = view.splitlines()
    # root + 2 internal + 3 real leaves (padding leaf 3 elided)
    assert len(lines) == 6
    assert lines[0].startswith(" [0] root: ")
    assert sum(1 for l in lines if l.startswith("*")) == 1
    assert any("leaf 1" in l and l.startswith("*") for l in lines)
    assert all(len(l.split(": ")[1]) == 8 for l in lines)
    # base renumbering shifts printed indices
    assert merkle_treeview(mref, base=100).splitlines()[0].startswith(" [100]")


def test_facet_alias_resolution(tmp_path, spark):
    """FacetResolutionTest conformance: every OtherNames alias resolves to
    its canonical kind, case-insensitively; unknown names raise."""
    from nbdatatools_spark.sources.dataset import FACET_ALIASES

    expect = {
        "base": "base_vectors", "train": "base_vectors",
        "query": "query_vectors", "queries": "query_vectors", "test": "query_vectors",
        "indices": "neighbor_indices", "neighbors": "neighbor_indices",
        "ground_truth": "neighbor_indices", "gt": "neighbor_indices",
        "distances": "neighbor_distances",
        "meta_layout": "metadata_layout", "layout": "metadata_layout",
        "meta_content": "metadata_content", "content": "metadata_content",
        "meta_base": "metadata_content",
        "filtered_gt": "filtered_neighbor_indices",
        # the reference's own table maps filtered_neighbors to the DISTANCES
        # kind (TestDataKind.java:223) — quirk preserved
        "filtered_neighbors": "filtered_neighbor_distances",
        "base_vectors": "base_vectors",
    }
    for alias, canonical in expect.items():
        assert FACET_ALIASES[alias] == canonical, alias

    root = str(tmp_path / "alias_ds")
    m = make_test_dataset(spark, root, n_base=50, n_query=5, dimensions=4, k=3)
    # case-insensitive access through every alias of each present facet
    for alias in ("base", "TRAIN", "Base_Vectors"):
        assert m.facet(spark, alias).count() == 50
    for alias in ("query", "QUERIES", "test", "gt", "ground_truth", "neighbors"):
        assert m.facet(spark, alias).count() == 5
    with pytest.raises(KeyError):
        m.facet(spark, "my_custom_facet")


def test_cli_main_end_to_end(tmp_path, spark, capsys):
    """python -m nbdatatools_spark: the nbvectors-shaped command tree runs
    end-to-end — generate, analyze, compute knn, verify, convert, merkle
    round-trip incl. corruption exit code, catalog/datasets, cleanup."""
    import json as _json

    from nbdatatools_spark.__main__ import main

    root = str(tmp_path / "ds")
    assert main(
        [
            "generate", "mktestdata", "--dir", root,
            "--n-base", "200", "--n-query", "20",
            "--dimensions", "8", "--k", "5", "--seed", "3",
        ]
    ) == 0
    base = os.path.join(root, "base.fvec")

    assert main(["analyze", "describe", "--input", base]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    desc = _json.loads(out[-1])
    assert desc["count"] == 200 and desc["min_dim"] == 8

    assert main(["analyze", "count_zeros", "--input", base]) == 0
    nz = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert nz["n_total"] == 200

    # compute knn to ivec, then verify_knn against the generated truth
    out_idx = str(tmp_path / "my_indices.ivec")
    assert main(
        [
            "compute", "knn", "--base", base,
            "--query", os.path.join(root, "query.fvec"),
            "--k", "5", "--metric", "cosine", "--out-indices", out_idx,
        ]
    ) == 0
    assert os.path.exists(out_idx)
    out_pq = str(tmp_path / "my_indices.parquet")
    assert main(
        [
            "compute", "knn", "--base", base,
            "--query", os.path.join(root, "query.fvec"),
            "--k", "5", "--metric", "cosine", "--out-indices", out_pq,
        ]
    ) == 0

    for key in (out_idx, out_pq):
        rc = main(
            [
                "analyze", "verify_knn", "--input", base,
                "--queries", os.path.join(root, "query.fvec"),
                "--truth", key,
                "--k", "5", "--metric", "cosine", "--sample", "20",
            ]
        )
        rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rc == 0 and rep["mean_recall"] == 1.0 and rep["n_queries"] == 20, key

    # convert fvec -> parquet -> fvec byte-identical vectors
    pq_dir = str(tmp_path / "base_pq.parquet")
    assert main(["convert", "file", "--input", base, "--output", pq_dir]) == 0
    back = str(tmp_path / "back.fvec")
    assert main(["convert", "file", "--input", pq_dir, "--output", back]) == 0
    a = spark.read.parquet(pq_dir).orderBy("ordinal").collect()
    from nbdatatools_spark.sources.xvec import read_xvec

    b = read_xvec(spark, back).orderBy("ordinal").collect()
    assert [r.vector for r in a] == [r.vector for r in b]

    # merkle: create -> verify ok -> spoil -> verify fails (exit 1)
    assert main(["merkle", "create", "--input", base]) == 0
    mref = base + ".mref"
    assert main(["merkle", "verify", "--input", base, "--merkle", mref]) == 0
    assert main(["merkle", "summary", "--input", mref]) == 0
    spoiled = str(tmp_path / "spoiled.fvec")
    import shutil

    shutil.copy(base, spoiled)
    assert main(["merkle", "spoilbits", "--input", spoiled, "--bits", "99"]) == 0
    assert main(["merkle", "verify", "--input", spoiled, "--merkle", mref]) == 1
    capsys.readouterr()

    # catalog + datasets list
    cat_path = str(tmp_path / "catalog.json")
    assert main(["catalog", root, "--output", cat_path]) == 0
    assert main(["datasets", "list", "--catalog", cat_path]) == 0
    listed = capsys.readouterr().out.strip().splitlines()
    assert any("ds" in ln for ln in listed[-3:])

    # vectordata info/size
    assert main(["vectordata", "info", "--dataset", root]) == 0
    assert main(["vectordata", "size", "--dataset", root, "--facet", "base"]) == 0

    # cleanup cleanfvec drops zero + duplicate vectors
    dirty = str(tmp_path / "dirty.fvec")
    assert main(
        [
            "generate", "vectors", "--count", "100", "--dimensions", "4",
            "--output", dirty, "--zeroes", "0.2", "--duplicates", "0.2",
        ]
    ) == 0
    cleaned = str(tmp_path / "clean.fvec")
    assert main(["cleanup", "cleanfvec", "--input", dirty, "--output", cleaned]) == 0
    n_clean = read_xvec(spark, cleaned).count()
    assert 0 < n_clean < 100

    assert main(["version"]) == 0


def test_cli_compute_knn_writes_matching_facets(tmp_path, spark):
    """compute knn with --out-indices AND --out-distances writes both facets
    from one answer key: row for row, each distance is the distance from the
    query to the neighbor the indices file names at that position."""
    from nbdatatools_spark.__main__ import main
    from nbdatatools_spark.sources.xvec import read_xvec

    root = str(tmp_path / "ds")
    make_test_dataset(spark, root, n_base=120, n_query=12, dimensions=8, k=5, seed=11)
    out_idx, out_dist = str(tmp_path / "nn.ivec"), str(tmp_path / "nn.fvec")
    assert main(
        [
            "compute", "knn", "--base", os.path.join(root, "base.fvec"),
            "--query", os.path.join(root, "query.fvec"), "--k", "5",
            "--metric", "euclidean", "--out-indices", out_idx, "--out-distances", out_dist,
        ]
    ) == 0

    def rows(path):
        return [r.vector for r in read_xvec(spark, path).orderBy("ordinal").collect()]

    base = np.array(rows(os.path.join(root, "base.fvec")), dtype=np.float64)
    queries = np.array(rows(os.path.join(root, "query.fvec")), dtype=np.float64)
    indices, distances = rows(out_idx), rows(out_dist)
    assert len(indices) == len(distances) == len(queries)
    for q, idx, dist in zip(queries, indices, distances):
        assert len(idx) == len(dist) == 5
        want = np.sqrt(((base[idx] - q) ** 2).sum(axis=1))
        np.testing.assert_allclose(dist, want, rtol=1e-5, atol=1e-5)
        assert list(dist) == sorted(dist)


def test_pipeline_runner_config_roundtrip(spark, tmp_path, documents):
    """plans/pipeline.py: YAML/JSON config loads, validates loudly, and the
    composed frame equals hand-chaining the same operators."""
    import json as _json

    from pyspark.sql import functions as F

    from nbdatatools_spark.functions.text import quality_score
    from nbdatatools_spark.operators.dedup import exact_dedup
    from nbdatatools_spark.plans.pipeline import (
        load_pipeline_config,
        run_pipeline,
    )

    cfg = {
        "steps": [
            {"op": "lang_filter", "langs": ["en", "de"]},
            {"op": "quality_filter", "min_score": 0.2},
            {"op": "exact_dedup"},
            {"op": "token_stats"},
        ]
    }
    p = tmp_path / "pipeline.json"
    p.write_text(_json.dumps(cfg))
    steps = load_pipeline_config(str(p))
    out, report = run_pipeline(documents, steps, count_steps=True)

    manual = documents.where(F.col("lang").isin("en", "de"))
    manual = manual.where(F.round(quality_score(F.col("text")), 6) >= 0.2)
    manual = exact_dedup(manual)
    got = sorted(r.doc_id for r in out.collect())
    want = sorted(r.doc_id for r in manual.collect())
    assert got == want and len(got) > 0
    assert [r["op"] for r in report] == [s["op"] for s in cfg["steps"]]
    assert report[-1]["rows"] == len(got)
    # counts monotonically non-increasing through the filters
    assert report[0]["rows"] >= report[1]["rows"] >= report[2]["rows"]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown pipeline op"):
        run_pipeline(documents, [{"op": "nope"}])
    with _pytest.raises(ValueError, match="'op' key"):
        run_pipeline(documents, ["exact_dedup"])


def test_cli_corpus_run(tmp_path, spark, sf_dir, capsys):
    import json as _json
    import os as _os

    from nbdatatools_spark.__main__ import main

    cfg = tmp_path / "pipe.json"
    cfg.write_text(
        _json.dumps(
            {
                "steps": [
                    {"op": "lang_filter", "langs": ["en"]},
                    {"op": "exact_dedup"},
                    {"op": "token_stats"},
                ]
            }
        )
    )
    out_dir = str(tmp_path / "curated.parquet")
    rc = main(
        [
            "corpus", "run",
            "--input", _os.path.join(sf_dir, "documents.parquet"),
            "--config", str(cfg),
            "--output", out_dir,
            "--report",
        ]
    )
    assert rc == 0
    lines = [_json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert [l.get("op") for l in lines[:-1]] == ["lang_filter", "exact_dedup", "token_stats"]
    assert lines[-1]["rows"] == lines[-2]["rows"]
    from pyspark.sql import functions as F

    curated = spark.read.parquet(out_dir)
    assert "n_tokens" in curated.columns
    assert curated.where(F.col("lang") != "en").count() == 0


def test_pipeline_extended_steps(spark, documents):
    """lm_filter / domain_cap / stratified_sample pipeline steps compose and
    match the underlying operators directly."""
    from pyspark.sql import functions as F

    from nbdatatools_spark.operators.sampling import domain_cap, stratified_sample
    from nbdatatools_spark.plans.pipeline import run_pipeline

    steps = [
        {"op": "domain_cap", "cap": 10},
        {"op": "stratified_sample", "rates": {"src0": 0.5}, "default_rate": 1.0},
        {"op": "lm_filter", "max_score": 100.0},  # permissive: LM keeps all
    ]
    out, report = run_pipeline(documents, steps, count_steps=True)
    manual = stratified_sample(
        domain_cap(documents, cap=10), rates={"src0": 0.5}, default_rate=1.0
    )
    got = sorted(r.doc_id for r in out.collect())
    want = sorted(r.doc_id for r in manual.collect())
    assert got == want and len(got) > 0
    # per-source cap actually applied
    per_src = out.groupBy("source").count().collect()
    assert all(r["count"] <= 10 for r in per_src)
    # restrictive LM filter at the corpus median drops the disfluent tail
    from nbdatatools_spark.operators.lm import bigram_lm_score

    med = (
        bigram_lm_score(documents)
        .agg(F.percentile(F.col("lm_score"), F.lit(0.5)).alias("m"))
        .collect()[0]
        .m
    )
    strict, _ = run_pipeline(documents, [{"op": "lm_filter", "max_score": float(med)}])
    n_strict = strict.count()
    assert 0 < n_strict < documents.count()


def test_cli_corpus_stats_and_verify_profiles(tmp_path, spark, sf_dir, capsys):
    import json as _json
    import os as _os

    from nbdatatools_spark.__main__ import main

    assert main(
        ["corpus", "stats", "--input", _os.path.join(sf_dir, "documents.parquet")]
    ) == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["n_docs"] > 0 and rep["n_tokens"] > 0
    assert 0.0 <= rep["dup_rate"] < 1.0
    assert "en" in rep["langs"]

    root = str(tmp_path / "vpds")
    assert main(
        [
            "generate", "mktestdata", "--dir", root,
            "--n-base", "150", "--n-query", "15",
            "--dimensions", "8", "--k", "4", "--seed", "5",
        ]
    ) == 0
    rc = main(
        ["analyze", "verify_profiles", "--dataset", root, "--k", "4", "--sample", "15"]
    )
    lines = [
        _json.loads(l) for l in capsys.readouterr().out.strip().splitlines() if l.startswith("{")
    ]
    assert rc == 0
    assert any(l.get("mean_recall") == 1.0 for l in lines)


def test_pipeline_schema_check_and_provenance(tmp_path, spark, sf_dir, documents, capsys):
    import json as _json
    import os as _os

    from nbdatatools_spark.__main__ import main
    from nbdatatools_spark.plans.pipeline import run_pipeline

    # schema_check passes with names, enforces types, fails loudly
    ok, _ = run_pipeline(
        documents, [{"op": "schema_check", "columns": ["doc_id", "text"]}]
    )
    assert ok.count() == documents.count()
    ok2, _ = run_pipeline(
        documents, [{"op": "schema_check", "columns": {"doc_id": "bigint"}}]
    )
    assert ok2 is not None
    with pytest.raises(ValueError, match="missing column"):
        run_pipeline(documents, [{"op": "schema_check", "columns": ["nope"]}])
    with pytest.raises(ValueError, match="expected"):
        run_pipeline(documents, [{"op": "schema_check", "columns": {"doc_id": "string"}}])

    # corpus run writes a _pipeline.json provenance artifact
    cfg = tmp_path / "p.json"
    cfg.write_text(
        _json.dumps({"steps": [{"op": "schema_check", "columns": ["doc_id", "text"]},
                                {"op": "exact_dedup"}]})
    )
    out_dir = str(tmp_path / "out.parquet")
    assert main(
        ["corpus", "run", "--input", _os.path.join(sf_dir, "documents.parquet"),
         "--config", str(cfg), "--output", out_dir, "--report"]
    ) == 0
    capsys.readouterr()
    prov = _json.load(open(_os.path.join(out_dir, "_pipeline.json")))
    assert prov["rows_out"] == spark.read.parquet(out_dir).count()
    assert [s["op"] for s in prov["steps"]] == ["schema_check", "exact_dedup"]
    assert prov["report"][-1]["rows"] == prov["rows_out"]


def test_pipeline_classifier_filter_step(spark, documents):
    """Self-trained classifier filter: keeps a nontrivial subset whose mean
    heuristic quality exceeds the dropped set's (the classifier agrees with
    its seed signal in aggregate)."""
    from pyspark.sql import functions as F

    from nbdatatools_spark.functions.text import quality_score
    from nbdatatools_spark.plans.pipeline import run_pipeline

    out, _ = run_pipeline(
        documents, [{"op": "classifier_filter", "threshold": 0.5}]
    )
    kept = out.select("doc_id")
    n_kept = kept.count()
    n_all = documents.count()
    assert 0 < n_kept < n_all
    q = documents.withColumn("__q", F.round(quality_score(F.col("text")), 6))
    mean_kept = q.join(kept, "doc_id").agg(F.avg("__q")).collect()[0][0]
    mean_dropped = q.join(kept, "doc_id", "left_anti").agg(F.avg("__q")).collect()[0][0]
    assert mean_kept > mean_dropped


def test_cli_tuning_reports(sf_dir, capsys):
    import json as _json
    import os as _os

    from nbdatatools_spark.__main__ import main

    emb = _os.path.join(sf_dir, "embeddings.parquet")
    assert main(
        ["analyze", "tune_ann", "--input", emb, "--k", "5",
         "--n-queries", "8", "--n-centroids", "8", "--nprobes", "2,8"]
    ) == 0
    lines = [_json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert {l["nprobe"] for l in lines} == {2, 8}
    assert max(l["recall"] for l in lines) == 1.0  # nprobe == n_centroids

    assert main(
        ["analyze", "tune_compression", "--input", emb, "--dim", "64",
         "--k", "5", "--n-queries", "8"]
    ) == 0
    lines = [_json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert {l["method"] for l in lines} == {"sq8", "pq", "bq_rerank"}

    docs = _os.path.join(sf_dir, "documents.parquet")
    assert main(
        ["corpus", "tune_dedup", "--input", docs, "--bands", "32",
         "--threshold", "0.5", "--sample", "80"]
    ) == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["n_sample"] > 0


def test_cli_explain(capsys):
    from nbdatatools_spark.__main__ import main

    assert main(["explain", "--query", "q1_pricing_summary"]) == 0
    out = capsys.readouterr().out
    assert "HashAggregate" in out or "AdaptiveSparkPlan" in out
    assert '"size_bytes"' in out
    assert main(["explain", "--query", "no_such_query"]) == 2
    capsys.readouterr()


def test_pipeline_curation_steps_round5(spark, documents):
    """remove_dup_spans / perplexity_filter / token_budget pipeline steps
    compose and match the underlying operators directly."""
    from pyspark.sql import functions as F

    from nbdatatools_spark.plans.pipeline import run_pipeline

    steps = [
        {"op": "remove_dup_spans", "k": 13},
        {"op": "perplexity_filter", "keep": ["head", "middle", "unscored"]},
        {"op": "token_budget", "budget_tokens": 5000},
    ]
    out, report = run_pipeline(documents, steps, count_steps=True)
    rows = out.collect()
    assert 0 < len(rows) < documents.count()
    # schema preserved: text rewritten in place, other columns carried
    assert set(documents.columns) <= set(out.columns)
    # the budget holds on the FINAL text (token counts of kept docs)
    from nbdatatools_spark.functions.text import token_count

    total = out.select(F.sum(token_count(F.col("text"))).alias("t")).first()["t"]
    assert total <= 5000
    # report has one row per step
    assert [r["op"] for r in report] == [
        "remove_dup_spans", "perplexity_filter", "token_budget",
    ]


def test_pipeline_remove_dup_spans_rewrites_text(spark):
    from nbdatatools_spark.plans.pipeline import run_pipeline

    df = spark.createDataFrame(
        [(1, "a b c d e f", "s1"), (2, "z a b c d q", "s1")],
        "doc_id BIGINT, text STRING, source STRING",
    )
    out, _ = run_pipeline(df, [{"op": "remove_dup_spans", "k": 4}], count_steps=False)
    got = {r.doc_id: r.text for r in out.collect()}
    assert got == {1: "e f", 2: "z q"}
    assert [r.source for r in out.collect()] == ["s1", "s1"]


def test_pipeline_round7_steps(spark, documents):
    """sentence_dedup / temperature_sample pipeline steps compose, keep
    the schema, and match the underlying operators."""
    from pyspark.sql import functions as F

    from nbdatatools_spark.operators.sampling import (
        sample_hash,
        temperature_mixture_rates,
    )
    from nbdatatools_spark.plans.pipeline import run_pipeline

    steps = [
        {"op": "sentence_dedup", "min_docs": 2},
        {"op": "temperature_sample", "temperature": 2.0},
    ]
    out, report = run_pipeline(documents, steps, count_steps=True)
    assert set(documents.columns) <= set(out.columns)
    assert [r["op"] for r in report] == ["sentence_dedup", "temperature_sample"]
    n_docs = documents.count()
    assert 0 < out.count() <= n_docs
    # the kept set per stratum matches the rate applied via hash sample
    rates = {
        r["stratum"]: r["rate"]
        for r in temperature_mixture_rates(documents, temperature=2.0).collect()
    }
    kept = out.select("doc_id", "source").collect()
    hs = {
        r["doc_id"]: r["h"]
        for r in documents.select(
            "doc_id", sample_hash(F.col("doc_id")).alias("h")
        ).collect()
    }
    for r in kept:
        assert hs[r["doc_id"]] < rates[r["source"]] * float(1 << 52)
