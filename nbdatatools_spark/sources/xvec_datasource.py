"""xvec as a first-class Spark data source (Python DataSource API, Spark 4):

    from nbdatatools_spark.sources.xvec_datasource import register_xvec_source
    register_xvec_source(spark)
    df = spark.read.format("xvec").load("/data/base.fvec")     # or a glob

This is the SURVEY §2.10 X1 endgame: the reference dispatches readers
through a ServiceLoader SPI keyed by file extension
(services/VectorFileIO.java:37-368); the Spark-native equivalent is a
registered DataSource so xvec participates in the ordinary reader surface
(format/load, schema inference, partition planning by the engine's own
source framework) instead of a helper function.

Reader, writer and stream reader are thin adapters over the codec in
``xvec``: ``_plan_chunks`` makes the InputPartitions (ONE header read per
file, ~8 MB ordinal-aligned byte ranges), ``_decode_chunk`` turns each into
one Arrow batch, and ``_encode_records`` encodes each written Arrow batch.
Schema is inferred from the extension (fvec→float, ivec→int,
bvec/svec→short, dvec→double, mvec→float16-widened), exactly like the
reference's extension-keyed dispatch.
"""

from __future__ import annotations

import glob as _glob
import json
import os
import uuid

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

from nbdatatools_spark.sources.xvec import (
    _decode_chunk,
    _file_meta,
    _plan_chunks,
    _write_records,
    is_xvec,
    xvec_dtype,
)


def _resolve_paths(path_opt: str) -> list[str]:
    if any(ch in path_opt for ch in "*?["):
        paths = sorted(_glob.glob(path_opt))
    elif os.path.isdir(path_opt):
        paths = sorted(os.path.join(path_opt, f) for f in os.listdir(path_opt) if is_xvec(f))
    else:
        paths = [path_opt]
    if not paths:
        raise ValueError(f"xvec source: no files match {path_opt!r}")
    return paths


def _chunk_partitions(paths, ordinal_start: int) -> list[InputPartition]:
    return [InputPartition(c) for c in _plan_chunks(paths, ordinal_start)]


class XvecReader(DataSourceReader):
    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("xvec source requires a path: .load('/data/x.fvec')")
        self._partitions = _chunk_partitions(_resolve_paths(path), 0)

    def partitions(self):
        return self._partitions

    def read(self, part: InputPartition | None):
        if part is not None:  # no ranges (empty files): Spark reads None once
            yield _decode_chunk(*part.value)


class XvecDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "xvec"

    def schema(self) -> str:
        path = self.options.get("path")
        if not path:
            return "ordinal BIGINT, vector ARRAY<FLOAT>"
        first = _resolve_paths(path)[0]
        _np, _c, elem = xvec_dtype(first)
        return f"ordinal BIGINT, vector ARRAY<{elem.upper()}>"

    def reader(self, schema) -> XvecReader:
        return XvecReader(self.options)

    def writer(self, schema, overwrite) -> "XvecWriter":
        return XvecWriter(self.options, overwrite)

    def streamReader(self, schema) -> "XvecStreamReader":
        return XvecStreamReader(self.options)


def register_xvec_source(spark) -> None:
    """Register the xvec format on this session:
    ``spark.read.format('xvec').load(path_or_glob)``."""
    spark.dataSource.register(XvecDataSource)


class XvecCommit(WriterCommitMessage):
    def __init__(self, file, n, dim):
        self.file = file
        self.n = n
        self.dim = dim


class XvecWriter(DataSourceArrowWriter):
    """``df.write.format('xvec').save(dir)`` — one ``part-*.{ext}`` shard per
    partition (the engine's cluster-egress shape; ordinals are contiguous
    within a shard, not across shards — range-partition by ordinal upstream
    for globally ordered shards). Column 1 holds the vectors. Shards land as
    temp names and a MANIFEST is written at commit, so a failed job —
    including ragged vectors within or across shards — leaves no manifest
    (the usual commit-protocol contract)."""

    def __init__(self, options, overwrite):
        self._dir = options.get("path")
        if not self._dir:
            raise ValueError("xvec writer requires a path: .save('/data/out')")
        self._ext = options.get("ext", "fvec")
        xvec_dtype(f"x.{self._ext}")  # validate
        self._overwrite = overwrite

    def write(self, iterator):
        os.makedirs(self._dir, exist_ok=True)
        fname = os.path.join(self._dir, f"part-{uuid.uuid4().hex[:12]}.{self._ext}")
        n, dim = _write_records(fname, iterator, xvec_dtype(fname)[0])
        if n == 0:
            os.remove(fname)
            return XvecCommit(None, 0, None)
        return XvecCommit(os.path.basename(fname), n, dim)

    def commit(self, messages):
        shards = [m for m in messages if m is not None and m.file]
        dims = sorted({m.dim for m in shards})
        if len(dims) > 1:
            raise ValueError(f"ragged vectors: shards of dims {dims}")
        rows = [(m.file, m.n) for m in shards]
        with open(os.path.join(self._dir, "MANIFEST.json"), "w") as f:
            json.dump({"format": self._ext, "shards": sorted(rows), "rows": sum(n for _, n in rows)}, f)

    def abort(self, messages):
        for m in messages or []:
            if m is not None and getattr(m, "file", None):
                try:
                    os.remove(os.path.join(self._dir, m.file))
                except OSError:
                    pass


class XvecStreamReader(DataSourceStreamReader):
    """Streaming xvec ingest: monitor a directory (or glob) for NEW vector
    files and emit their records — continuous ingest for the vector-file
    drop-folder pattern (the streaming face of the reference's chunked
    scheduler consumption; T1/T2 collapse to Structured Streaming offsets).

    Offset = {"seen": [files already listed], "next_ordinal": N}: files are
    ingested whole (xvec files are immutable artifacts — partial files are
    the writer's concern, as in the reference's publisher flow), and
    ordinals continue monotonically across batches. ``partitions(start,
    end)`` plans exactly the files between two offsets from
    ``start["next_ordinal"]``, so checkpoint recovery re-emits identical
    micro-batches, and the batch reader's chunk decode does the rest.
    """

    def __init__(self, options):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("xvec stream requires a path")
        self._latest = self.initialOffset()

    def initialOffset(self) -> dict:
        return {"seen": [], "next_ordinal": 0}

    def latestOffset(self) -> dict:
        try:
            listed = _resolve_paths(self._path)
        except ValueError:
            listed = []
        seen = set(self._latest["seen"])
        new = [p for p in listed if p not in seen]
        ordinal = self._latest["next_ordinal"] + sum(_file_meta(p)[2] for p in new)
        self._latest = {"seen": sorted(seen | set(new)), "next_ordinal": ordinal}
        return self._latest

    def partitions(self, start: dict, end: dict):
        new = set(end["seen"]) - set(start["seen"])
        return _chunk_partitions(new, int(start["next_ordinal"]))

    read = XvecReader.read
