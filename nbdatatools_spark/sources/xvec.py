"""xvec family ingest/egress (S1/S2 in SURVEY §2.1).

Format (reference: docs/specs/dataset_yaml_v1.md:98-141): row-oriented binary,
little-endian; every record is ``[dim:int32][dim * component]``; uniform
dimension per file, so stride = 4 + dim*componentBytes and ordinal =
offset / stride — O(1) random access in the reference
(CoreXVecVectorDatasetViewMethods.java:119,155), which here becomes
*parallel chunk planning*: the driver reads one header per file, splits the
file into ordinal-aligned byte ranges, and each range decodes independently
with numpy (Arrow-batched, no per-row Python) — on executors, or on the
driver for a small file set.

Formats (readers: datatools-io-xvec/.../readers/Uniform{F,I,B,D,S,M}vecReader.java):

| ext  | component | numpy | Spark element type |
|------|-----------|-------|--------------------|
| fvec | float32   | <f4   | float              |
| ivec | int32     | <i4   | int                |
| bvec | uint8     | <u1   | short (widened)    |
| dvec | float64   | <f8   | double             |
| svec | int16     | <i2   | short              |
| mvec | float16   | <f2   | float (widened — Half.java:35, exact IEEE binary16 incl. subnormals/NaN via numpy astype) |

The codec is three private functions shared by every front end:
``_plan_chunks`` (ordinal-aligned byte ranges), ``_decode_chunk`` (one range
-> Arrow batch, every record header checked, IEEE values kept so NaN stays
NaN) and ``_encode_records`` (list column -> interleaved records, ragged rows
rejected). ``read_xvec``/``write_xvec`` here and the ``xvec`` DataSource in
``xvec_datasource`` (batch read, shard-per-partition write, stream) are thin
adapters over them.

``read_xvec`` has two paths, chosen by the file set's total bytes. A set
of at most ``_CHUNK_BYTES`` (8 MB, the size of one planned range) is
decoded on the driver and returned as a local relation
(``LocalTableScan``, no Python worker): an answer-key read-back of two
40 KB files costs a driver decode, not a Python task each. A larger set
runs its planned ranges through ``session._planned_scan`` (``spark.range``
task ids -> ``mapInArrow``), so a read is one job with no planning shuffle
and no driver collect on the data path.

Decoded-facet cache (session-scoped, read side only, planned scans only):
``read_xvec`` persists each frame it plans and answers a later read of the
same files with that frame, so an answer-key session decodes its base file
once (cf. EDBT 2020, incremental top-k in interactive sessions). A hit is
an ``InMemoryTableScan``, with no Python node. Small frames are never
cached: they hold their rows already. Entries are keyed by
(realpath, inode, size, ``st_mtime_ns``, ``st_ctime_ns``) per file plus
``ordinal_start``; a miss first drops every entry that shares a file with
the read, so a rewritten file is decoded again, never answered from memory
(and a file that shrank below ``_CHUNK_BYTES`` drops its planned entry).
Each session's cache holds at most ``_CACHE_BYTES`` file bytes, evicting
least recently used entries with ``unpersist``; ``clear_cache(spark)``
empties it. A frame whose cache a caller ``unpersist()``ed (or
``spark.catalog.clearCache()`` dropped) counts as a miss. ``write_xvec``
does not fill the cache: reading back a file just written decodes the
bytes on disk.

Egress: ``write_xvec`` collects the table via Arrow, orders it by ordinal on
the driver and writes a single file (export utility — the engine's native
store is Parquet; SURVEY §2.1 S2). For cluster-scale egress use
``df.write.format("xvec")``, which writes one shard per partition.
"""

from __future__ import annotations

import os
import struct
import threading
import weakref
from collections import OrderedDict
from typing import Iterable

import numpy as np
import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from nbdatatools_spark.session import _planned_scan

XVEC_FORMATS = {
    "fvec": ("<f4", 4, "float"),
    "ivec": ("<i4", 4, "int"),
    "bvec": ("<u1", 1, "short"),
    "dvec": ("<f8", 8, "double"),
    "svec": ("<i2", 2, "short"),
    "mvec": ("<f2", 2, "float"),
}

# accept plural-ish aliases the reference tooling uses (.fvecs etc.)
_EXT_ALIASES = {f"{k}s": k for k in XVEC_FORMATS}

# file bytes per planned range; a file set at most this size decodes on the driver
_CHUNK_BYTES = 8 << 20

# on-disk component -> in-engine component where Spark has no exact type
_WIDEN = {"<u1": "<i2", "<f2": "<f4"}
_ARROW_ELEM = {
    "float": pa.float32(),
    "int": pa.int32(),
    "short": pa.int16(),
    "double": pa.float64(),
}


def xvec_dtype(path_or_ext: str) -> tuple[str, int, str]:
    """(numpy dtype, component bytes, spark element type) from extension —
    schema inferred from extension as in the reference
    (CoreXVecVectorDatasetViewMethods.java:199-223)."""
    ext = path_or_ext.rsplit(".", 1)[-1].lower()
    ext = _EXT_ALIASES.get(ext, ext)
    if ext not in XVEC_FORMATS:
        raise ValueError(f"not an xvec extension: {path_or_ext!r}")
    return XVEC_FORMATS[ext]


def is_xvec(path: str) -> bool:
    """True when the file name carries an xvec extension (``.fvecs``-style
    aliases included)."""
    if "." not in os.path.basename(path):
        return False
    try:
        xvec_dtype(path)
    except ValueError:
        return False
    return True


def _file_meta(path: str) -> tuple[int, int, int]:
    """(dim, stride, count) from the first record header + file size.

    Validates the endianness/dimension plausibility check of P11
    (README.md:45): 0 < dim < 1e6 and size % stride == 0.
    """
    np_dtype, cbytes, _ = xvec_dtype(path)
    size = os.path.getsize(path)
    if size == 0:
        return 0, 0, 0
    if size < 4:
        raise ValueError(f"{path}: size {size} is shorter than a record header")
    with open(path, "rb") as f:
        (dim,) = struct.unpack("<i", f.read(4))
    if not (0 < dim < 1_000_000):
        raise ValueError(
            f"{path}: implausible dimension {dim} — wrong format or endianness"
        )
    stride = 4 + dim * cbytes
    if size % stride != 0:
        raise ValueError(f"{path}: size {size} not a multiple of stride {stride}")
    return dim, stride, size // stride


def _plan_chunks(paths: Iterable[str], ordinal_start: int = 0) -> list[tuple]:
    """Ordinal-aligned byte ranges ``(path, byte_start, n_records,
    start_ordinal, dim, stride)`` over ``paths`` in sorted order, ordinals
    continuing across files from ``ordinal_start`` (U1 + multi-file groups,
    ParquetVectorStreamer.java:80-90 analogue).

    Ranges hold ~``_CHUNK_BYTES`` of file bytes (clamped to [1024, 65536]
    records): the round-1 fixed 64Ki-record chunks made a 100k x 256d
    ingest exactly 2 tasks wide on 32 cores — the whole 9.3k vec/s
    ingest-throughput deficit was idle parallelism (VERDICT r1 #8).
    """
    paths = sorted(paths)
    if len({xvec_dtype(p)[0] for p in paths}) > 1:
        raise ValueError(f"mixed xvec formats in one read: {paths}")
    chunks = []
    ordinal = ordinal_start
    for p in paths:
        dim, stride, count = _file_meta(p)
        n_chunk = max(1024, min(65536, _CHUNK_BYTES // max(stride, 1)))
        for off in range(0, count, n_chunk):
            n = min(n_chunk, count - off)
            chunks.append((p, off * stride, n, ordinal + off, dim, stride))
        ordinal += count
    return chunks


def _decode_chunk(
    path: str, byte_start: int, n_records: int, start_ordinal: int, dim: int, stride: int
) -> pa.RecordBatch:
    """One planned range -> an (ordinal, vector) Arrow batch built from two
    flat buffers, no per-row Python objects.

    Every record header must equal the file dim (data_access_v1.md:107-109).
    Components keep their IEEE values: NaN stays NaN, never NULL. A file
    that shrank since planning raises ``ValueError``.
    """
    np_dtype, _cbytes, elem = xvec_dtype(path)
    with open(path, "rb") as f:
        f.seek(byte_start)
        raw = f.read(n_records * stride)
    if len(raw) != n_records * stride:
        raise ValueError(
            f"{path}: expected {n_records * stride} bytes at offset {byte_start}, "
            f"read {len(raw)} — file truncated since planning"
        )
    mat = np.frombuffer(raw, dtype=np.uint8).reshape(n_records, stride)
    headers = mat[:, :4].copy().view("<i4").ravel()
    if (headers != dim).any():
        bad = int(headers[headers != dim][0])
        raise ValueError(f"{path}: record header dim {bad} != file dim {dim}")
    body = mat[:, 4:].copy().view(np_dtype)
    if np_dtype in _WIDEN:
        body = body.astype(_WIDEN[np_dtype])
    offsets = pa.array(np.arange(0, (n_records + 1) * dim, dim, dtype=np.int32))
    vectors = pa.ListArray.from_arrays(offsets, pa.array(body.ravel(), type=_ARROW_ELEM[elem]))
    ordinals = pa.array(np.arange(start_ordinal, start_ordinal + n_records, dtype=np.int64))
    return pa.RecordBatch.from_arrays([ordinals, vectors], ["ordinal", "vector"])


def _encode_records(vectors: pa.Array, np_dtype: str) -> bytes:
    """A list column -> xvec records, headers interleaved in one vectorized
    numpy pass (reference writer shape: FvecVectorWriter.java:123 +
    siblings). Null and ragged rows have no xvec encoding and raise."""
    if vectors.null_count:
        raise ValueError("null vector: xvec has no null record")
    lens = vectors.value_lengths().to_numpy()
    if len(lens) == 0:
        return b""
    dim = int(lens[0])
    if (lens != dim).any():
        row = int(np.argmax(lens != dim))
        raise ValueError(f"ragged vectors: row {row} has {lens[row]} components, row 0 has {dim}")
    flat = vectors.flatten().to_numpy(zero_copy_only=False).astype(np_dtype, copy=False)
    n = len(lens)
    buf = np.empty((n, 4 + dim * flat.itemsize), dtype=np.uint8)
    buf[:, :4] = np.full(n, dim, dtype="<i4").view(np.uint8).reshape(n, 4)
    buf[:, 4:] = flat.reshape(n, dim).view(np.uint8)
    return buf.tobytes()


def _write_records(
    path: str, batches: Iterable[pa.RecordBatch], np_dtype: str
) -> tuple[int, int | None]:
    """Encode column 1 (the vectors) of every batch into ONE xvec file.
    Batches that disagree on dim are ragged too. On any error the partial
    file is removed before re-raising. Returns (records, dim); dim is None
    when no record was written."""
    n, dim = 0, None
    try:
        with open(path, "wb") as out:
            for batch in batches:
                data = _encode_records(batch.column(1), np_dtype)
                if not data:
                    continue
                (d,) = struct.unpack_from("<i", data)
                if dim is not None and d != dim:
                    raise ValueError(f"ragged vectors: dim {d} after dim {dim}")
                dim = d
                out.write(data)
                n += batch.num_rows
    except BaseException:
        os.remove(path)
        raise
    return n, dim


_CACHE_BYTES = 256 << 20  # file bytes one session's decoded-facet cache may hold
# per session: (file keys, ordinal_start) -> (persisted frame, file bytes), LRU first
_caches: "weakref.WeakKeyDictionary[SparkSession, OrderedDict]" = weakref.WeakKeyDictionary()
_cache_lock = threading.Lock()  # reads from several driver threads share a session's cache


def _file_key(path: str) -> tuple:
    real = os.path.realpath(path)
    st = os.stat(real)
    return (real, st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)


def _evict(cache: OrderedDict, key) -> None:
    cache.pop(key)[0].unpersist()


def clear_cache(spark: SparkSession) -> None:
    """Unpersist and forget every frame ``read_xvec`` cached for ``spark``."""
    with _cache_lock:
        cache = _caches.get(spark, {})
        while cache:
            _evict(cache, next(iter(cache)))


def read_xvec(
    spark: SparkSession,
    paths: str | list[str],
    ordinal_start: int = 0,
) -> DataFrame:
    """xvec files -> DataFrame (ordinal BIGINT, vector ARRAY<elem>).

    The driver plans ``_plan_chunks`` ranges, which ``_decode_chunk``
    decodes on one of two paths, chosen by the file set's total bytes:

    - **at most ``_CHUNK_BYTES``**: the driver decodes the ranges and
      returns ``spark.createDataFrame(table)``, a ``LocalTableScan`` with no
      Python node. Every error (implausible dim, size not a multiple of the
      stride, a lying record header, a file truncated since planning) raises
      ``ValueError`` from this call.
    - **larger**: ``session._planned_scan`` decodes the ranges over
      ``spark.range`` task ids, so the physical plan is ``MapInArrow`` over
      ``Range`` with no planning shuffle and no driver collect. Task count
      is capped so a 100TB scan schedules each task over many chunks instead
      of creating millions of micro-partitions. Dim and size errors raise
      from this call; record-header and truncation errors raise at the
      first action. This stays a mapInArrow adapter rather than a wrapper
      over ``spark.read.format("xvec")``: the Python DataSource adds ~0.1 s
      of planning per load.

    A planned frame is persisted in the session's decoded-facet cache
    (module docstring): reading the same unchanged files again returns the
    same frame, and the first action on it decodes the files. A file set
    larger than ``_CACHE_BYTES`` is decoded on every read and not cached.
    The cache relies on file timestamps: on a filesystem whose timestamps
    are coarser than a Spark job, a same-size in-place rewrite inside one
    tick can go unseen — call ``clear_cache(spark)`` after such a rewrite.
    """
    if isinstance(paths, str):
        paths = [paths]
    if not paths:
        raise ValueError("no input paths")
    spark_elem = xvec_dtype(paths[0])[2]
    schema = f"ordinal BIGINT, vector ARRAY<{spark_elem}>"
    files = tuple(sorted(_file_key(p) for p in paths))
    key = (files, ordinal_start)
    nbytes = sum(f[2] for f in files)
    with _cache_lock:
        cache = _caches.setdefault(spark, OrderedDict())
        hit = cache.get(key)
        if hit and hit[0].storageLevel != StorageLevel.NONE:
            cache.move_to_end(key)
            return hit[0]
        reals = {f[0] for f in files}
        for stale in [k for k in cache if reals & {f[0] for f in k[0]}]:
            _evict(cache, stale)
        if nbytes > _CHUNK_BYTES:
            chunks = _plan_chunks(paths, ordinal_start)
            n_parts = min(len(chunks), max(spark.sparkContext.defaultParallelism * 2, 32), 4096)
            df = _planned_scan(spark, chunks, _decode_chunk, schema, n_parts)
            if nbytes <= _CACHE_BYTES:
                cache[key] = (df.persist(), nbytes)
                while sum(b for _, b in cache.values()) > _CACHE_BYTES:
                    _evict(cache, next(iter(cache)))
            return df
    batches = [_decode_chunk(*c) for c in _plan_chunks(paths, ordinal_start)]
    arrow_schema = pa.schema([("ordinal", pa.int64()), ("vector", pa.list_(_ARROW_ELEM[spark_elem]))])
    # pyspark rejects columns with zero chunks; empty_table() has one empty chunk
    table = pa.Table.from_batches(batches, arrow_schema) if batches else arrow_schema.empty_table()
    return spark.createDataFrame(table, schema)


def write_xvec(df: DataFrame, path: str, ordinal: str = "ordinal", vec: str = "vector") -> int:
    """Export a vector DataFrame to ONE xvec file in ordinal order.

    Driver-side export utility (single file is inherently driver-bound;
    cluster egress is ``df.write.format("xvec")``). Collects via Arrow — the
    vector column arrives as flat buffers — and orders the rows on the
    driver with ``Table.sort_by`` (nulls first, Spark's ascending order):
    the table is collected anyway, so a distributed sort would only add a
    range-sampling job and a sort job. Each record batch is encoded with
    ``_encode_records``. Ragged or null vectors raise ValueError and leave
    no file. Returns record count.
    """
    np_dtype = xvec_dtype(path)[0]
    tbl = df.select(ordinal, vec).toArrow()
    tbl = tbl.sort_by([(tbl.column_names[0], "ascending")], null_placement="at_start")
    return _write_records(path, tbl.to_batches(), np_dtype)[0]
