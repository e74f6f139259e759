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


_FORMATS = [
    ("fvec", "<f4", lambda rng, n, d: rng.normal(size=(n, d)).astype("<f4")),
    ("ivec", "<i4", lambda rng, n, d: rng.integers(-1000, 1000, (n, d)).astype("<i4")),
    ("bvec", "<u1", lambda rng, n, d: rng.integers(0, 256, (n, d)).astype("<u1")),
    ("dvec", "<f8", lambda rng, n, d: rng.normal(size=(n, d)).astype("<f8")),
    ("svec", "<i2", lambda rng, n, d: rng.integers(-300, 300, (n, d)).astype("<i2")),
    ("mvec", "<f2", lambda rng, n, d: rng.normal(size=(n, d)).astype("<f2")),
]


@pytest.fixture()
def planned(monkeypatch):
    """Send every non-empty file set down the planned ``mapInArrow`` path
    (and so into the decoded-facet cache): test files are far below
    ``_CHUNK_BYTES``, which would decode them on the driver."""
    from nbdatatools_spark.sources import xvec

    monkeypatch.setattr(xvec, "_CHUNK_BYTES", 0)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("ext,np_dtype,gen", _FORMATS)
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


def test_write_orders_rows_by_ordinal(spark, tmp_path):
    """Rows arriving in descending ordinal order across several partitions
    are written in ordinal order, byte for byte the oracle's encoding."""
    from perfbench import oracles

    mat = np.random.default_rng(5).normal(size=(60, 3)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in reversed(range(60))],
        "ordinal BIGINT, vector ARRAY<FLOAT>",
    ).repartition(4)
    assert df.rdd.getNumPartitions() > 1
    p = tmp_path / "desc.fvec"
    assert write_xvec(df, str(p)) == 60
    assert p.read_bytes() == oracles.xvec_bytes(mat, "<f4")


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


# --- decoded-facet cache ----------------------------------------------------


def _vectors(df):
    return [list(r["vector"]) for r in df.orderBy("ordinal").collect()]


def test_cache_hit_returns_the_persisted_frame(spark, tmp_path, planned):
    p = str(tmp_path / "hit.fvec")
    _write_raw(p, np.arange(40, dtype="<f4").reshape(10, 4), "<f4")
    df = read_xvec(spark, p)
    assert _vectors(df)[9] == [36.0, 37.0, 38.0, 39.0]
    again = read_xvec(spark, p)
    assert again is df
    # the plan's root scan is the cache (the decode below it is the cached
    # plan's description, not a node that runs)
    assert again._jdf.queryExecution().executedPlan().toString().startswith("InMemoryTableScan")
    # another ordinal_start is another entry
    assert read_xvec(spark, p, ordinal_start=5) is not df


def test_cache_rewrite_in_place_same_size_reads_new_bytes(spark, tmp_path, planned):
    p = str(tmp_path / "inplace.fvec")
    _write_raw(p, np.zeros((10, 4), "<f4"), "<f4")
    assert _vectors(read_xvec(spark, p))[3] == [0.0] * 4
    with open(p, "r+b") as f:  # same inode, same size, new bytes
        f.seek(3 * 20 + 4)
        f.write(np.full(4, 7.0, "<f4").tobytes())
    assert _vectors(read_xvec(spark, p))[3] == [7.0] * 4


def test_cache_write_read_rewrite_decodes_new_file(spark, tmp_path, planned):
    p = str(tmp_path / "rw.fvec")
    first = spark.createDataFrame([(i, [float(i)] * 3) for i in range(6)], "ordinal BIGINT, vector ARRAY<FLOAT>")
    write_xvec(first, p)
    assert _vectors(read_xvec(spark, p))[5] == [5.0] * 3
    write_xvec(first.select("ordinal", F.transform("vector", lambda x: -x).alias("vector")), p)
    assert _vectors(read_xvec(spark, p))[5] == [-5.0] * 3


def test_cache_unpersisted_hit_is_a_miss(spark, tmp_path, planned):
    p = str(tmp_path / "unpersist.fvec")
    _write_raw(p, np.arange(24, dtype="<f4").reshape(6, 4), "<f4")
    df = read_xvec(spark, p)
    df.count()
    df.unpersist()  # what a caller that owns the frame may do
    again = read_xvec(spark, p)
    assert again.is_cached
    assert _vectors(again)[5] == [20.0, 21.0, 22.0, 23.0]
    spark.catalog.clearCache()
    assert _vectors(read_xvec(spark, p))[0] == [0.0, 1.0, 2.0, 3.0]


def test_cache_evicts_lru_under_byte_budget(spark, tmp_path, monkeypatch, planned):
    from nbdatatools_spark.sources import xvec

    xvec.clear_cache(spark)
    paths = []
    for i in range(4):
        paths.append(str(tmp_path / f"lru{i}.fvec"))
        _write_raw(paths[-1], np.full((10, 4), i, "<f4"), "<f4")  # 200 bytes each
    monkeypatch.setattr(xvec, "_CACHE_BYTES", 500)
    frames = [read_xvec(spark, p) for p in paths[:2]]
    read_xvec(spark, paths[0])  # touch: lru0 is now more recent than lru1
    frames.append(read_xvec(spark, paths[2]))
    assert [f.is_cached for f in frames] == [True, False, True]
    frames.append(read_xvec(spark, paths[3]))
    assert sum(b for _, b in xvec._caches[spark].values()) <= 500
    assert [f.is_cached for f in frames] == [False, False, True, True]
    assert read_xvec(spark, paths[3]) is frames[3]
    assert _vectors(read_xvec(spark, paths[1]))[0] == [1.0] * 4
    xvec.clear_cache(spark)


def test_cache_clear_empties_it(spark, tmp_path, planned):
    from nbdatatools_spark.sources import xvec

    p = str(tmp_path / "clear.fvec")
    _write_raw(p, np.ones((4, 4), "<f4"), "<f4")
    df = read_xvec(spark, p)
    assert xvec._caches[spark]
    xvec.clear_cache(spark)
    assert not xvec._caches[spark] and not df.is_cached
    assert read_xvec(spark, p) is not df


def test_cache_small_read_is_not_cached_and_evicts_stale(spark, tmp_path, monkeypatch):
    """A file set of at most ``_CHUNK_BYTES`` decodes on the driver and never
    enters the cache; reading a file that shrank to that size still drops
    the planned entry its larger self left."""
    from nbdatatools_spark.sources import xvec

    xvec.clear_cache(spark)
    monkeypatch.setattr(xvec, "_CHUNK_BYTES", 200)
    p = str(tmp_path / "shrink.fvec")
    _write_raw(p, np.ones((10, 4), "<f4"), "<f4")  # 200 bytes: driver path
    assert _vectors(read_xvec(spark, p))[9] == [1.0] * 4
    assert not xvec._caches[spark]
    _write_raw(p, np.full((11, 4), 2.0, "<f4"), "<f4")  # 220 bytes: planned, cached
    big = read_xvec(spark, p)
    assert big.is_cached and len(xvec._caches[spark]) == 1
    _write_raw(p, np.full((5, 4), 3.0, "<f4"), "<f4")  # shrank below the limit
    small = read_xvec(spark, p)
    assert not xvec._caches[spark] and not big.is_cached
    assert _vectors(small) == [[3.0] * 4] * 5


# --- the driver path and the planned path return the same table -------------


def _bits(tbl):
    """Ordinals, vector lengths and every component's bit pattern (NaN
    payloads and -0.0 included)."""
    vec = tbl.column("vector").combine_chunks()
    vals = vec.flatten().to_numpy(zero_copy_only=False)
    return (
        tbl.column("ordinal").to_pylist(),
        vec.value_lengths().to_pylist(),
        vec.null_count,
        vals.view(f"u{vals.itemsize}").tolist(),
    )


def _read_both(spark, monkeypatch, paths, **kw):
    """One read on the driver path and on the forced planned path: the
    same Spark schema (types and nullability), Arrow schema and bits.
    Returns the driver path's table."""
    from nbdatatools_spark.sources import xvec

    local = read_xvec(spark, paths, **kw)
    with monkeypatch.context() as m:
        m.setattr(xvec, "_CHUNK_BYTES", 0)
        planned = read_xvec(spark, paths, **kw)
    assert _plan(local).startswith("LocalTableScan")
    assert "MapInArrow" in _plan(planned)
    assert local.schema == planned.schema
    got, want = local.toArrow(), planned.toArrow()
    xvec.clear_cache(spark)
    assert got.schema.equals(want.schema)
    assert _bits(got) == _bits(want)
    return got


@pytest.mark.parametrize("ext,np_dtype,gen", _FORMATS)
def test_paths_equal_every_format(spark, tmp_path, monkeypatch, ext, np_dtype, gen):
    """Every format, bvec/mvec widening included; float formats carry NaN
    (a payload NaN too), +-inf and -0.0, which must keep their bits."""
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    mat = gen(np.random.default_rng(7), 30, 6)
    if mat.dtype.kind == "f":
        mat[0, :4] = [np.nan, -0.0, np.inf, -np.inf]
        if mat.dtype.itemsize == 4:
            mat[1, 0] = np.uint32(0x7FC00001).view("<f4")
    p = str(tmp_path / f"eq.{ext}")
    _write_raw(p, mat, np_dtype)
    got = _read_both(spark, monkeypatch, p)
    want = mat.astype({"<u1": "<i2", "<f2": "<f4"}.get(np_dtype, np_dtype))
    assert _bits(got) == (
        list(range(30)), [6] * 30, 0, want.ravel().view(f"u{want.itemsize}").tolist()
    )
    elem = spark.createDataFrame([], f"x ARRAY<{xvec_dtype(ext)[2]}>").schema["x"].dataType.elementType
    assert read_xvec(spark, p).schema == StructType(
        [StructField("ordinal", LongType(), True), StructField("vector", ArrayType(elem, True), True)]
    )


def test_paths_equal_multifile_ordinal_start_and_empty(spark, tmp_path, monkeypatch):
    """Two files continue their ordinals in sorted path order from
    ``ordinal_start``; an empty file in the set adds no rows, and an
    all-empty set is an empty frame of the same schema."""
    a, b, c = (str(tmp_path / f"{n}.ivec") for n in "abc")
    _write_raw(a, np.arange(12).reshape(3, 4), "<i4")
    _write_raw(c, -np.arange(20).reshape(5, 4), "<i4")
    open(b, "wb").close()
    got = _read_both(spark, monkeypatch, [c, a], ordinal_start=7)
    assert got.column("ordinal").to_pylist() == list(range(7, 15))
    assert got.column("vector").to_pylist()[3] == [0, -1, -2, -3]
    assert _bits(_read_both(spark, monkeypatch, [c, b, a], ordinal_start=7)) == _bits(got)
    empty = read_xvec(spark, b)
    assert _plan(empty).startswith("LocalTableScan")
    assert empty.schema == read_xvec(spark, a).schema and empty.count() == 0


def _write_lying_header(path):
    with open(path, "wb") as f:
        f.write(struct.pack("<i", 4) + np.zeros(4, "<f4").tobytes())
        f.write(struct.pack("<i", 3) + np.zeros(4, "<f4").tobytes())


def _write_big_endian(path):
    with open(path, "wb") as f:
        f.write(struct.pack(">i", 4) + np.zeros(4, "<f4").tobytes())


def _write_trailing_bytes(path):
    with open(path, "wb") as f:
        f.write(struct.pack("<i", 4) + np.zeros(4, "<f4").tobytes() + b"\x01\x02")


@pytest.mark.parametrize("path_kind", ["driver", "planned"])
@pytest.mark.parametrize(
    "write,match",
    [
        (_write_big_endian, "implausible dimension"),
        (_write_lying_header, "record header dim 3 != file dim 4"),
        (_write_trailing_bytes, "not a multiple of stride"),
        (lambda p: open(p, "wb").write(b"\x04\x00"), "shorter than a record header"),
    ],
)
def test_bad_files_raise_value_error_on_both_paths(spark, tmp_path, monkeypatch, path_kind, write, match):
    """The driver path raises ``ValueError`` from ``read_xvec`` itself; the
    planned path raises file-level errors there too and record-header
    errors from the first action, as the worker's ``ValueError``."""
    from nbdatatools_spark.sources import xvec

    p = str(tmp_path / "bad.fvec")
    write(p)
    if path_kind == "driver":
        with pytest.raises(ValueError, match=match):
            read_xvec(spark, p)
        return
    monkeypatch.setattr(xvec, "_CHUNK_BYTES", 0)
    with pytest.raises(Exception, match=match) as err:
        read_xvec(spark, p).collect()
    assert isinstance(err.value, ValueError) or "ValueError" in str(err.value)
    xvec.clear_cache(spark)


def test_file_truncated_after_planning_raises(spark, tmp_path, monkeypatch):
    """A range the file no longer holds raises ``ValueError`` naming the
    path and the planned bytes, on the driver's decode and in a planned
    scan's task."""
    from nbdatatools_spark.sources import xvec

    p = str(tmp_path / "shrinks.fvec")
    _write_raw(p, np.ones((10, 4), "<f4"), "<f4")
    (chunk,) = xvec._plan_chunks([p])
    monkeypatch.setattr(xvec, "_CHUNK_BYTES", 0)
    planned = read_xvec(spark, p)
    with open(p, "r+b") as f:
        f.truncate(120)
    with pytest.raises(ValueError, match=f"{p}: expected 200 bytes at offset 0, read 120"):
        xvec._decode_chunk(*chunk)
    with pytest.raises(Exception, match="expected 200 bytes") as err:
        planned.collect()
    assert "ValueError" in str(err.value)
    xvec.clear_cache(spark)
