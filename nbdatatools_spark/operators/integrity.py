"""Chunk-hash integrity jobs — the merkle system re-expressed for Spark (T1).

Reference: merkle trees over fixed-size chunks of a file with SHA-256 leaves
(docs/specs/merkle_v1.md:5-60), used as a read-path interceptor with
resumable chunk state (streaming_and_caching.md:15-37). In a Spark engine
integrity is an explicit JOB, not a read interceptor (SURVEY §3.2): create a
chunk-digest table for a file, verify a file against a stored table, diff two
tables. Root digests use the same binary-tree pairwise-SHA256 reduction so
.mref-style roots are comparable across runs.
"""

from __future__ import annotations

import hashlib
import os
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nbdatatools_spark.session import _planned_scan

DEFAULT_CHUNK = 1 << 20  # 1 MiB


def chunk_digests(
    spark: SparkSession, path: str, chunk_size: int = DEFAULT_CHUNK
) -> DataFrame:
    """-> (chunk_index BIGINT, offset BIGINT, length BIGINT, sha256 STRING).

    Chunks are planned on the driver and hashed in parallel on executors
    through ``session._planned_scan`` (one task id per chunk, ~8 chunks per
    partition, no planning shuffle); each task reads only its byte range."""
    size = os.path.getsize(path)
    chunks = [
        (i, off, min(chunk_size, size - off))
        for i, off in enumerate(range(0, size, chunk_size))
    ] or [(0, 0, 0)]

    def hash_chunk(index: int, offset: int, length: int) -> pa.RecordBatch:
        with open(path, "rb") as f:
            f.seek(offset)
            digest = hashlib.sha256(f.read(length)).hexdigest()
        return pa.RecordBatch.from_pydict(
            {"chunk_index": [index], "offset": [offset], "length": [length], "sha256": [digest]}
        )

    return _planned_scan(
        spark,
        chunks,
        hash_chunk,
        "chunk_index BIGINT, offset BIGINT, length BIGINT, sha256 STRING",
        max(len(chunks) // 8, 1),
    )


def merkle_root(digests: DataFrame) -> str:
    """Root of the REFERENCE merkle tree over these chunk digests
    (merkle_v1.md §1.2 via sources.merkle_file.build_nodes — identical
    geometry; round 1 used an odd-leaf-duplication reduction that matched
    nothing). Dense mode (padding leaves = zero bytes) so the root always
    reflects every leaf — equal to a reference .mref's node 0 whenever
    total_chunks is a power of 2; for non-power-of-2 counts the reference's
    null-propagation zeroes its own root (see build_nodes docstring), so
    file-level comparison there uses the .mref leaves, not the root.

    The leaf list is small (file_size / 1MiB entries) — collected and reduced
    driver-side; the expensive part (hashing data) stayed distributed."""
    from nbdatatools_spark.sources.merkle_file import MerkleShape, build_nodes

    leaves = [
        bytes.fromhex(r["sha256"])
        for r in digests.orderBy("chunk_index").select("sha256").collect()
    ]
    if not leaves:
        return hashlib.sha256(b"").hexdigest()
    cap = 1
    while cap < len(leaves):
        cap <<= 1
    shape = MerkleShape(
        chunk_size=0,
        total_content_size=0,
        total_chunks=len(leaves),
        leaf_count=len(leaves),
        cap_leaf=cap,
        node_count=2 * cap - 1,
        offset=cap - 1,
        internal_node_count=2 * cap - 1 - len(leaves),
    )
    root = build_nodes(shape, leaves, null_propagation=False)[0]
    return root.hex()


def verify_file(
    spark: SparkSession, path: str, reference: DataFrame, chunk_size: int = DEFAULT_CHUNK
) -> DataFrame:
    """Recompute digests and anti-join against a stored digest table:
    returns the mismatching chunk rows (empty == verified). The spoilbits/
    spoilchunks fault-injection tests assert this catches corruption
    (README.md:94-95)."""
    actual = chunk_digests(spark, path, chunk_size)
    return (
        actual.alias("a")
        .join(reference.alias("r"), "chunk_index", "full_outer")
        .where(
            F.col("a.sha256").isNull()
            | F.col("r.sha256").isNull()
            | (F.col("a.sha256") != F.col("r.sha256"))
        )
        .select(
            "chunk_index",
            F.col("a.sha256").alias("actual_sha256"),
            F.col("r.sha256").alias("expected_sha256"),
        )
    )
