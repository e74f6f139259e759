"""Round-5 CLI completion (VERDICT r4 Missing #4): analyze
select/slice/find/check-endian, datasets plan/curlify/prebuffer,
vectordata views/profiles/cat/prebuffer/verify — all operators existed;
these tests pin the command wiring (reference README.md:42-79)."""

import json
import os
import struct

from nbdatatools_spark.__main__ import main
from nbdatatools_spark.datagen import make_test_dataset


def _mkds(spark, tmp_path, **kw):
    root = str(tmp_path / "ds")
    make_test_dataset(spark, root, n_base=60, n_query=6, dimensions=4, k=3,
                      seed=11, **kw)
    return root


def test_analyze_select_slice_find(spark, tmp_path, capsys):
    root = _mkds(spark, tmp_path)
    base = os.path.join(root, "base.fvec")

    assert main(["analyze", "select", "--input", base, "--ordinals", "3,10..12"]) == 0
    rows = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert [r["ordinal"] for r in rows] == [3, 10, 11, 12]

    out = str(tmp_path / "sel.fvec")
    assert main(["analyze", "select", "--input", base, "--ordinals", "0..4",
                 "--output", out]) == 0
    rep = json.loads(capsys.readouterr().out.strip())
    assert rep["selected"] == 5 and os.path.exists(out)

    # slice re-bases ordinals to 0..n
    assert main(["analyze", "slice", "--input", base, "--window", "20..25"]) == 0
    rows = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert [r["ordinal"] for r in rows] == [0, 1, 2, 3, 4]

    assert main(["analyze", "find", "--input", base,
                 "--where", "ordinal % 17 = 0", "--limit", "3"]) == 0
    rows = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert {r["ordinal"] for r in rows} <= {0, 17, 34, 51} and len(rows) == 3


def test_analyze_find_zero_vectors(spark, tmp_path, capsys):
    from nbdatatools_spark.datagen import generate_vectors
    from nbdatatools_spark.sources.xvec import write_xvec

    base = str(tmp_path / "zeros.fvec")
    write_xvec(
        generate_vectors(spark, count=60, dimensions=4, seed=11,
                         zeroes_proportion=0.2),
        base,
    )
    assert main(["analyze", "find", "--input", base, "--zero-vectors"]) == 0
    found = {json.loads(x)["ordinal"] for x in capsys.readouterr().out.strip().splitlines()}
    assert found  # the 20% zero set is found through the CLI
    assert main(["analyze", "count_zeros", "--input", base]) == 0
    nz = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert nz["n_zero"] == len(found)


def test_cli_reads_fvecs_alias(spark, tmp_path, capsys):
    """``.fvecs`` (the reference tooling's plural alias) is an xvec input,
    as ``xvec_dtype`` says."""
    p = str(tmp_path / "base.fvecs")
    with open(p, "wb") as f:
        for i in range(5):
            f.write(struct.pack("<i", 2) + struct.pack("<2f", i, -i))
    assert main(["analyze", "select", "--input", p, "--ordinals", "1..3"]) == 0
    rows = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert [(r["ordinal"], r["vector"]) for r in rows] == [
        (i, [float(i), float(-i)]) for i in (1, 2, 3)
    ]


def test_check_endian(tmp_path, capsys):
    good = tmp_path / "good.fvec"
    with open(good, "wb") as f:
        for _ in range(3):
            f.write(struct.pack("<i", 4) + struct.pack("<4f", 1, 2, 3, 4))
    assert main(["analyze", "check-endian", "--input", str(good)]) == 0
    rep = json.loads(capsys.readouterr().out.strip())
    assert rep["ok"] and rep["endianness"] == "little" and rep["dim"] == 4

    bad = tmp_path / "be.fvec"
    with open(bad, "wb") as f:
        for _ in range(3):
            f.write(struct.pack(">i", 4) + struct.pack(">4f", 1, 2, 3, 4))
    assert main(["analyze", "check-endian", "--input", str(bad)]) == 1
    rep = json.loads(capsys.readouterr().out.strip())
    assert not rep["ok"] and rep["endianness"] == "big-suspected" and rep["be_dim"] == 4


def test_datasets_plan_curlify_prebuffer(spark, tmp_path, capsys):
    root = _mkds(spark, tmp_path)
    # plan: drop one artifact -> it shows up as missing
    os.rename(os.path.join(root, "query.fvec"), os.path.join(root, "query.bak"))
    assert main(["datasets", "plan", "--dataset", root]) == 0
    missing = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert {m["facet"] for m in missing} == {"query_vectors"}
    os.rename(os.path.join(root, "query.bak"), os.path.join(root, "query.fvec"))

    assert main(["datasets", "curlify", "--dataset", root,
                 "--base-url", "http://example.com/ds"]) == 0
    cmds = capsys.readouterr().out.strip().splitlines()
    assert cmds and all(c.startswith("curl") for c in cmds)
    assert any("base.fvec" in c for c in cmds)

    assert main(["datasets", "prebuffer", "--dataset", root, "--facet", "base"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["rows"] == 60


def test_generate_extract_shuffle_sort(spark, tmp_path, capsys):
    """generate dataset / fvec-extract / ivec-extract / ivec-shuffle and
    compute sort (reference README.md:52-63)."""
    from nbdatatools_spark.sources.xvec import read_xvec

    root = str(tmp_path / "gds")
    assert main(["generate", "dataset", "--dir", root, "--n-base", "40",
                 "--n-query", "12", "--dimensions", "4", "--k", "3"]) == 0
    assert os.path.exists(os.path.join(root, "dataset.yaml"))
    capsys.readouterr()

    base = os.path.join(root, "base.fvec")
    ext = str(tmp_path / "ext.fvec")
    assert main(["generate", "fvec-extract", "--input", base,
                 "--window", "10..20", "--output", ext]) == 0
    sliced = read_xvec(spark, ext).orderBy("ordinal").collect()
    full = read_xvec(spark, base).orderBy("ordinal").collect()
    assert [r["ordinal"] for r in sliced] == list(range(10))
    assert sliced[0]["vector"] == full[10]["vector"]  # re-based, same data
    capsys.readouterr()

    idx = os.path.join(root, "indices.ivec")
    iext = str(tmp_path / "iext.ivec")
    assert main(["generate", "ivec-extract", "--input", idx,
                 "--window", "0..2", "--output", iext]) == 0
    assert read_xvec(spark, iext).count() == 2
    capsys.readouterr()

    shuf = str(tmp_path / "shuf.ivec")
    assert main(["generate", "ivec-shuffle", "--input", idx,
                 "--output", shuf, "--seed", "9"]) == 0
    orig = [tuple(r["vector"]) for r in read_xvec(spark, idx).orderBy("ordinal").collect()]
    got = [tuple(r["vector"]) for r in read_xvec(spark, shuf).orderBy("ordinal").collect()]
    assert sorted(got) == sorted(orig) and got != orig  # permutation, moved
    capsys.readouterr()

    srt = str(tmp_path / "sorted.fvec")
    assert main(["compute", "sort", "--input", base, "--by", "norm",
                 "--output", srt]) == 0
    import math

    norms = [
        math.sqrt(sum(x * x for x in r["vector"]))
        for r in read_xvec(spark, srt).orderBy("ordinal").collect()
    ]
    assert norms == sorted(norms)


def test_vectordata_views_profiles_cat_verify(spark, tmp_path, capsys):
    root = _mkds(spark, tmp_path)

    assert main(["vectordata", "profiles", "--dataset", root]) == 0
    profs = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert any(p["profile"] == "default" for p in profs)
    assert "base_vectors" in profs[0]["facets"]

    assert main(["vectordata", "views", "--dataset", root]) == 0
    views = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert {v["facet"] for v in views} >= {"base_vectors", "query_vectors"}
    assert all("source" in v for v in views)

    assert main(["vectordata", "cat", "--dataset", root, "--facet", "base",
                 "--limit", "4"]) == 0
    rows = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert [r["ordinal"] for r in rows] == [0, 1, 2, 3]
    assert len(rows[0]["vector"]) == 4

    assert main(["vectordata", "verify", "--dataset", root]) == 0
    reps = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    by_facet = {r["facet"]: r for r in reps}
    assert by_facet["base_vectors"]["rows"] == 60
    assert by_facet["base_vectors"]["uniform_dim"] is True


def test_corpus_cluster_sizes_and_select_budget_cli(tmp_path, capsys, sf_dir):
    import json as _json

    from nbdatatools_spark.__main__ import main as cli_main

    docs = f"{sf_dir}/documents.parquet"
    rc = cli_main([
        "corpus", "cluster_sizes", "--input", docs,
        "--num-hashes", "16", "--bands", "8", "--threshold", "0.5",
    ])
    assert rc == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    hist = [_json.loads(l) for l in lines]
    assert hist and all(h["cluster_size"] >= 1 and h["n_clusters"] >= 1 for h in hist)

    out = str(tmp_path / "budget.parquet")
    rc = cli_main([
        "corpus", "select_budget", "--input", docs, "--output", out,
        "--budget", "3000",
    ])
    assert rc == 0
    rep = _json.loads(
        [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")][-1]
    )
    assert 0 < rep["kept_docs"] and rep["budget_tokens"] == 3000


def test_compute_ivf_lifecycle_cli(tmp_path, capsys, sf_dir):
    import json as _json

    import duckdb

    from nbdatatools_spark.__main__ import main as cli_main

    emb = f"{sf_dir}/embeddings.parquet"
    idx = str(tmp_path / "ivf")
    half_a = str(tmp_path / "half_a.parquet")
    half_b = str(tmp_path / "half_b.parquet")
    duckdb.sql(
        f"COPY (SELECT * FROM '{emb}' WHERE vec_id % 2 = 0) TO '{half_a}' (FORMAT PARQUET)"
    )
    duckdb.sql(
        f"COPY (SELECT * FROM '{emb}' WHERE vec_id % 2 = 1) TO '{half_b}' (FORMAT PARQUET)"
    )

    rc = cli_main(["compute", "ivf_build", "--input", half_a, "--index", idx,
                   "--centroids", "4"])
    assert rc == 0
    meta = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert meta["n_centroids"] == 4 and meta["n_vectors"] > 0

    rc = cli_main(["compute", "ivf_append", "--input", half_b, "--index", idx])
    assert rc == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["n_appended"] > 0

    rc = cli_main(["compute", "ivf_search", "--index", idx, "--query", emb,
                   "--query-ids", "0,1", "--k", "3", "--nprobe", "4"])
    assert rc == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    rows = [_json.loads(l) for l in lines]
    assert rows and {r["query_id"] for r in rows} == {0, 1}
    assert all(1 <= r["rank"] <= 3 for r in rows)
