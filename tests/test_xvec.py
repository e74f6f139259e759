"""xvec IO round-trips + adversarial inputs (reference shape:
datatools-io-xvec reader/writer tests; SlabAdversarialTest.java pattern)."""

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from nbdatatools_spark.sources.xvec import read_xvec, write_xvec, xvec_dtype


def _write_raw(path, mat, np_dtype):
    with open(path, "wb") as f:
        for row in mat:
            f.write(struct.pack("<i", len(row)))
            f.write(np.asarray(row, dtype=np_dtype).tobytes())


@pytest.mark.parametrize(
    "ext,np_dtype,gen",
    [
        ("fvec", "<f4", lambda rng, n, d: rng.normal(size=(n, d)).astype("<f4")),
        ("ivec", "<i4", lambda rng, n, d: rng.integers(-1000, 1000, (n, d)).astype("<i4")),
        ("bvec", "<u1", lambda rng, n, d: rng.integers(0, 256, (n, d)).astype("<u1")),
        ("dvec", "<f8", lambda rng, n, d: rng.normal(size=(n, d)).astype("<f8")),
        ("svec", "<i2", lambda rng, n, d: rng.integers(-300, 300, (n, d)).astype("<i2")),
        ("mvec", "<f2", lambda rng, n, d: rng.normal(size=(n, d)).astype("<f2")),
    ],
)
def test_read_roundtrip(spark, tmp_path, ext, np_dtype, gen):
    rng = np.random.default_rng(42)
    mat = gen(rng, 50, 8)
    p = str(tmp_path / f"t.{ext}")
    _write_raw(p, mat, np_dtype)
    df = read_xvec(spark, p)
    rows = df.orderBy("ordinal").collect()
    assert len(rows) == 50
    assert [r["ordinal"] for r in rows] == list(range(50))
    # widening rules: bvec->short, mvec->float32 (exact IEEE binary16 widen)
    for i, r in enumerate(rows):
        if ext == "mvec":
            np.testing.assert_array_equal(
                np.array(r["vector"], "<f4"), mat[i].astype("<f4")
            )
        else:
            np.testing.assert_array_equal(np.array(r["vector"]), mat[i])
    if ext == "fvec":
        # 70k x 4d spans two planned ~8MB ranges (65536 records each), so a
        # range starting past byte 0 is decoded too
        big = gen(rng, 70_000, 4)
        bp = str(tmp_path / "big.fvec")
        _write_raw(bp, big, np_dtype)
        tbl = read_xvec(spark, bp).toArrow().sort_by("ordinal")
        assert tbl.column("ordinal").to_pylist() == list(range(70_000))
        got = tbl.column("vector").combine_chunks().flatten().to_numpy()
        np.testing.assert_array_equal(got.reshape(-1, 4), big)


def test_write_then_read(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, [float(i), float(i) + 0.5]) for i in range(20)],
        "ordinal BIGINT, vector ARRAY<FLOAT>",
    )
    p = str(tmp_path / "out.fvec")
    n = write_xvec(df, p)
    assert n == 20
    back = read_xvec(spark, p).orderBy("ordinal").collect()
    assert [r["vector"] for r in back] == [[float(i), float(i) + 0.5] for i in range(20)]


def test_multifile_concat_ordinals(spark, tmp_path):
    rng = np.random.default_rng(1)
    a, b = rng.normal(size=(5, 4)).astype("<f4"), rng.normal(size=(7, 4)).astype("<f4")
    pa, pb = str(tmp_path / "a.fvec"), str(tmp_path / "b.fvec")
    _write_raw(pa, a, "<f4")
    _write_raw(pb, b, "<f4")
    df = read_xvec(spark, [pa, pb])
    assert df.count() == 12
    assert df.agg(F.max("ordinal")).collect()[0][0] == 11


@pytest.mark.parametrize("front", ["read_xvec", "format", "readStream"])
def test_corrupt_header_dim_raises(spark, tmp_path, front):
    """Per-record dim validation (data_access_v1.md:107-109), the same in
    every reader front end."""
    from nbdatatools_spark.sources.xvec_datasource import register_xvec_source

    register_xvec_source(spark)
    p = str(tmp_path / "bad.fvec")
    with open(p, "wb") as f:
        f.write(struct.pack("<i", 4) + np.zeros(4, "<f4").tobytes())
        f.write(struct.pack("<i", 3) + np.zeros(4, "<f4").tobytes())  # lying header
    with pytest.raises(Exception):
        if front == "read_xvec":
            read_xvec(spark, p).collect()
        elif front == "format":
            spark.read.format("xvec").load(p).collect()
        else:
            q = (
                spark.readStream.format("xvec").load(p)
                .writeStream.format("noop")
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)


def test_ragged_rows_raise(spark, tmp_path):
    """Ragged vectors have no xvec encoding: write_xvec raises and leaves no
    file; the DataSource writer fails whether the rows share a partition or
    not, and leaves no MANIFEST."""
    import os as _os

    from nbdatatools_spark.sources.xvec_datasource import register_xvec_source

    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [1.0, 2.0, 3.0]), (2, [4.0, 5.0])],
        "ordinal BIGINT, vector ARRAY<FLOAT>",
    )
    p = str(tmp_path / "ragged.fvec")
    with pytest.raises(ValueError, match="ragged"):
        write_xvec(df, p)
    assert not _os.path.exists(p)

    register_xvec_source(spark)
    for name, frame in [("split", df.repartition(3)), ("one", df.coalesce(1))]:
        out = str(tmp_path / name)
        with pytest.raises(Exception, match="ragged"):
            frame.write.format("xvec").mode("append").save(out)
        assert not _os.path.exists(_os.path.join(out, "MANIFEST.json"))


def test_implausible_dim_raises(tmp_path, spark):
    """P11 endianness sanity: big-endian-looking header rejected."""
    p = str(tmp_path / "be.fvec")
    with open(p, "wb") as f:
        f.write(struct.pack(">i", 4) + np.zeros(4, "<f4").tobytes())  # BE header
    with pytest.raises(ValueError, match="implausible"):
        read_xvec(spark, p).collect()


def test_truncated_file_raises(tmp_path, spark):
    p = str(tmp_path / "trunc.fvec")
    with open(p, "wb") as f:
        f.write(struct.pack("<i", 4) + np.zeros(4, "<f4").tobytes())
        f.write(b"\x01\x02")  # trailing garbage
    with pytest.raises(ValueError, match="stride"):
        read_xvec(spark, p).collect()


def test_dtype_aliases():
    assert xvec_dtype("x.fvecs") == xvec_dtype("x.fvec")
    with pytest.raises(ValueError):
        xvec_dtype("x.parquet")


def test_xvec_python_datasource(spark, tmp_path):
    """spark.read.format('xvec') — the registered Python DataSource matches
    read_xvec exactly (values, ordinals, schema) and plans one task per
    chunk."""
    from nbdatatools_spark.sources.xvec import read_xvec, write_xvec
    from nbdatatools_spark.sources.xvec_datasource import register_xvec_source

    df = spark.createDataFrame(
        [(i, [float(i), float(i) + 0.5, -1.0]) for i in range(500)],
        "ordinal BIGINT, vector ARRAY<FLOAT>",
    )
    p = str(tmp_path / "ds_base.fvec")
    write_xvec(df, p)

    register_xvec_source(spark)
    via_source = spark.read.format("xvec").load(p)
    assert dict(via_source.dtypes) == {"ordinal": "bigint", "vector": "array<float>"}
    a = [(r.ordinal, r.vector) for r in via_source.orderBy("ordinal").collect()]
    b = [(r.ordinal, r.vector) for r in read_xvec(spark, p).orderBy("ordinal").collect()]
    assert a == b and len(a) == 500

    # ivec schema inference
    idf = spark.createDataFrame(
        [(i, [i, i + 1]) for i in range(40)], "ordinal BIGINT, vector ARRAY<INT>"
    )
    ip = str(tmp_path / "ds_idx.ivec")
    write_xvec(idf, ip)
    via_i = spark.read.format("xvec").load(ip)
    assert dict(via_i.dtypes)["vector"] == "array<int>"
    assert via_i.count() == 40

    # glob over multiple files concatenates with continuous ordinals
    write_xvec(df, str(tmp_path / "m1.fvec"))
    write_xvec(df, str(tmp_path / "m2.fvec"))
    multi = spark.read.format("xvec").load(str(tmp_path / "m*.fvec"))
    assert multi.count() == 1000
    assert multi.agg(F.max("ordinal")).collect()[0][0] == 999

    # NaN policy: components keep their IEEE values (NaN is not NULL) in
    # both batch front ends, and write -> read is byte-exact
    sp = str(tmp_path / "special.fvec")
    special = np.array([[np.nan, np.inf, -np.inf, -0.0]], "<f4")
    _write_raw(sp, special, "<f4")
    for got in (read_xvec(spark, sp), spark.read.format("xvec").load(sp)):
        vals = got.toArrow().column("vector").combine_chunks().flatten()
        assert vals.null_count == 0
        assert vals.to_numpy().tobytes() == special.tobytes()
    rp = str(tmp_path / "special_back.fvec")
    write_xvec(read_xvec(spark, sp), rp)
    assert open(rp, "rb").read() == open(sp, "rb").read()


def test_xvec_datasource_writer_roundtrip(spark, tmp_path):
    """df.write.format('xvec').save(dir): shard-per-partition egress with a
    commit-time MANIFEST; reading the directory back recovers every vector."""
    import json as _json
    import os as _os

    from nbdatatools_spark.sources.xvec_datasource import register_xvec_source

    register_xvec_source(spark)
    df = spark.createDataFrame(
        [(i, [float(i), 0.5]) for i in range(300)], "ordinal BIGINT, vector ARRAY<FLOAT>"
    ).repartition(4)
    out = str(tmp_path / "egress")
    df.write.format("xvec").mode("append").save(out)

    manifest = _json.load(open(_os.path.join(out, "MANIFEST.json")))
    assert manifest["rows"] == 300 and manifest["format"] == "fvec"
    assert len(manifest["shards"]) <= 4 and all(n > 0 for _, n in manifest["shards"])

    back = spark.read.format("xvec").load(out + "/part-*.fvec")
    vals = sorted(r.vector[0] for r in back.collect())
    assert vals == [float(i) for i in range(300)]
    assert back.count() == 300


def test_xvec_streaming_source_incremental(spark, tmp_path):
    """spark.readStream.format('xvec'): drop-folder ingest — first drain
    picks up existing files; a restart with the same checkpoint ingests
    ONLY the file that arrived in between, with continuing ordinals."""
    import os as _os

    from nbdatatools_spark.sources.xvec import write_xvec
    from nbdatatools_spark.sources.xvec_datasource import register_xvec_source

    register_xvec_source(spark)
    drop = str(tmp_path / "drop")
    _os.makedirs(drop)

    def mkfile(name, lo, hi):
        df = spark.createDataFrame(
            [(i, [float(i)]) for i in range(lo, hi)], "ordinal BIGINT, vector ARRAY<FLOAT>"
        )
        write_xvec(df, _os.path.join(drop, name))

    mkfile("a.fvec", 0, 50)
    mkfile("b.fvec", 50, 80)

    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def drain():
        stream = spark.readStream.format("xvec").load(drop)
        q = (
            stream.writeStream.format("parquet")
            .outputMode("append")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    got1 = spark.read.parquet(sink).collect()
    assert len(got1) == 80
    assert sorted(r.vector[0] for r in got1) == [float(i) for i in range(80)]
    # ordinals are continuous across the two files
    assert sorted(r.ordinal for r in got1) == list(range(80))

    mkfile("c.fvec", 80, 100)
    drain()
    got2 = spark.read.parquet(sink).collect()
    # same checkpoint: only the new file lands in the second drain
    assert len(got2) == 100
    assert sorted(r.ordinal for r in got2) == list(range(100))
    assert sorted(r.vector[0] for r in got2) == [float(i) for i in range(100)]
