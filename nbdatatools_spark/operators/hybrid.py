"""Hybrid-query ground truth: ANN search ∧ metadata predicate (SURVEY §0.3).

Reference semantics (specs/ordinal_predicate_writers_v1.md:24-33): predicate
*i* pairs with query vector *i*; the filtered answer key for query i is the
top-k of base vectors RESTRICTED to the ordinals matching predicate i
(result_indices facet). This is the reference's core correctness query for
filtered vector search.

Physical strategy: compile each predicate to a Column once (driver-side, the
predicate table is small by construction — one row per query) and evaluate
them all in ONE scan of the metadata as a per-row array of matching
predicate ids (``_predicate_ids``). ``result_indices_table`` groups that
array by predicate; ``hybrid_ground_truth`` instead joins it onto the base
vectors by ordinal and runs the dense KNN kernel (operators.knn._knn_kernel,
the query-block scan every top-k caller shares) with a per-cell mask: base
row b is a candidate for query q iff q is among b's predicate ids. The
base table streams through the kernel once; rows matching no predicate are
dropped by the join before any distance is computed.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nbdatatools_spark.operators.knn import _as_arrays, _knn_kernel
from nbdatatools_spark.predicates import PNode, compile_pnode, parse_pnode


def _predicate_ids(
    meta: DataFrame,
    predicates: list[tuple[int, PNode | str]],
    ordinal: str,
) -> DataFrame:
    """-> (ordinal, __pids ARRAY<BIGINT>): per metadata row, the ids of the
    predicates it satisfies. One scan of ``meta`` evaluates every compiled
    predicate as a boolean projection."""
    cols = []
    for pid, node in predicates:
        if isinstance(node, (str, bytes, dict)):
            node = parse_pnode(node)
        pred = compile_pnode(node, columns=meta.columns)
        cols.append(F.when(pred, F.lit(pid).cast("bigint")))
    return meta.select(F.col(ordinal), F.array_compact(F.array(*cols)).alias("__pids"))


def result_indices_table(
    meta: DataFrame,
    predicates: list[tuple[int, PNode | str]],
    ordinal: str = "ordinal",
) -> DataFrame:
    """Materialize the result_indices facet for MANY predicates in one job.

    -> (ordinal BIGINT, matches ARRAY<BIGINT>) where row i lists the
    ascending metadata ordinals satisfying predicate i (P8;
    TestDataKind.java:85-89). explode+collect over ``_predicate_ids`` keeps
    it a single shuffle keyed by predicate ordinal.
    """
    exploded = _predicate_ids(meta, predicates, ordinal).select(
        F.col(ordinal).alias("__mord"), F.explode("__pids").alias("pid")
    )
    return (
        exploded.groupBy("pid")
        .agg(F.array_sort(F.collect_list("__mord")).alias("matches"))
        .select(F.col("pid").alias(ordinal), "matches")
    )


def _not_matching(pids: pa.ListArray, qids: np.ndarray) -> np.ndarray:
    """Kernel mask: cell (b, q) is excluded unless query ordinal ``qids[q]``
    is among base row b's predicate ids."""
    order = np.argsort(qids)
    rows = np.repeat(np.arange(len(pids)), pids.value_lengths().to_numpy(zero_copy_only=False))
    flat = pids.flatten().to_numpy(zero_copy_only=False)
    pos = np.minimum(np.searchsorted(qids, flat, sorter=order), len(qids) - 1)
    hit = qids[order[pos]] == flat
    excluded = np.ones((len(pids), len(qids)), dtype=bool)
    excluded[rows[hit], order[pos[hit]]] = False
    return excluded


def hybrid_ground_truth(
    queries: DataFrame,
    base: DataFrame,
    meta: DataFrame,
    predicates: list[tuple[int, PNode | str]],
    k: int,
    metric: str = "cosine",
    ordinal: str = "ordinal",
    vec: str = "vector",
) -> DataFrame:
    """Filtered KNN answer key: for each query i, top-k over base vectors
    whose ordinal satisfies predicate i.

    Returns (ordinal, indices, distances) like exact_knn, with the same
    policy for undefined distances (ranked last, NULL). A query with no
    predicate, or whose predicate matches nothing, gets no row.
    """
    pids = _predicate_ids(meta, predicates, ordinal).where(F.size("__pids") > 0)
    candidates = base.select(ordinal, vec).join(pids, ordinal)
    return _as_arrays(
        _knn_kernel(
            queries, candidates, k, metric, ordinal, vec, ordinal, vec,
            exclude=_not_matching, query_key=ordinal, base_key="__pids",
        )
    )
