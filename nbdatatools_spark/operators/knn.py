"""KNN ground-truth generation and recall verification, Spark-first.

Reference semantics:
- ``compute knn`` (README.md:38-99; J2 in SURVEY §2.3): for each query vector,
  the top-k nearest base vectors under a profile distance function, emitted as
  parallel ``neighbor_indices`` / ``neighbor_distances`` facets
  (spec/datasets/types/NeighborIndices.java, NeighborDistances.java).
- ``verify_knn`` (docs/user_manual/03-cli-reference.md:201-218): sample N
  queries, recompute KNN, report mean recall@k against the stored answer key.

Physical strategy (scale posture):
- Exact KNN is a cross product Q x B. We BROADCAST the query side (queries are
  the small side by construction: 1k queries vs 100k..billions of base
  vectors), so the base table streams through executors exactly once with no
  shuffle of the big side; each scan task keeps only its own top-k per
  query (Q*k rows, never Q*B), and the driver merges the tasks' rows with
  one ``np.lexsort`` — no shuffle, no window, no ``groupBy``.
- One query-block scan does that for every top-k caller: ``_query_blocks``
  collects the query side through Arrow, ``_scan_topk`` broadcasts it, runs
  each Arrow batch's ``_partial_topk`` (``mapInArrow``), merges the batches
  within each task and ranks the collected candidates with ``_rank_rows``;
  a caller supplies only its per-batch scorer. Both sides decode vectors
  with ``functions.distance._matrix``. ``_knn_kernel`` (``exact_knn``,
  hybrid ground truth, hard negatives, the self-KNN audits) scores with
  ``distance_matrix`` and an optional per-cell exclusion mask; the PQ scans
  with per-task lookup tables.
- GEMM proposes and a left-to-right fold decides (PHiDJ: filter by a bound,
  then verify): every stored distance is ``distance_expr``'s, bit for bit.
- Tie-break is (distance, base ordinal) ascending — deterministic under float
  associativity (SURVEY §7 "What's hard"); undefined (NaN) distances rank last.
- ``_knn_kernel`` is the one exact KNN (ranked rows), in two shapes with one
  NaN -> NULL rule: ``_as_arrays`` (``exact_knn``'s neighbor facets) and
  ``_as_pairs`` (a row per neighbor: ``similarity.brute_force_topk``, the PQ
  scans). Both render a scan's ranked Arrow table as a local relation.
  ``_self_neighbors`` is the self-KNN edge list of the four neighbor audits
  (hubness, label accuracy, mutual k-NN, overlap).
- Driver memory is bounded by one budget, ``_CANDIDATE_BYTES`` (256 MB of
  24-byte candidate rows per query block): the scan runs in at most
  ``_scan_tasks`` tasks, and a query side whose candidates would exceed
  the budget is cut into contiguous id ranges, each collected, broadcast
  and scanned separately.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nbdatatools_spark.functions.distance import _matrix, distance_matrix

_CANDIDATES = "__qid BIGINT, __bid BIGINT, __dist DOUBLE"
_RANKED = pa.schema(
    [("__qid", pa.int64()), ("__bid", pa.int64()), ("__dist", pa.float64()), ("rank", pa.int32())]
)
_CANDIDATE_BYTES = 256 << 20  # driver budget for one query block's scan candidates


def exact_knn(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    metric: str = "cosine",
    query_ordinal: str = "ordinal",
    base_ordinal: str = "ordinal",
    query_vec: str = "vector",
    base_vec: str = "vector",
) -> DataFrame:
    """Exact top-k neighbors per query.

    Returns ``(ordinal, indices ARRAY<ordinal-type>, distances ARRAY<DOUBLE>)``
    matching the reference's neighbor facet shape (FIXTURES.md §1): row i =
    top-k base ordinals for query i, ascending distance, ties broken by base
    ordinal. Each stored distance is ``distance_expr``'s value for the pair,
    bit for bit; undefined distances (zero-magnitude cosine) rank last and
    are NULL.

    The top-k runs when ``exact_knn`` is called: the ranked rows are
    collected to the driver and the result is a local relation
    (``LocalTableScan``, one row per query in ordinal order), so later
    actions on it run no scan.

    Plan: ``_knn_kernel``'s Arrow-batched GEMM with per-batch partial
    top-k, its candidates re-scored with the fold; each task returns Q*k
    rows for the driver to rank — no Q*B cross product, no shuffle.
    """
    return _as_arrays(
        _knn_kernel(queries, base, k, metric, query_ordinal, query_vec, base_ordinal, base_vec)
    )


def _partial_topk(
    D: np.ndarray,
    bids: np.ndarray,
    qids: np.ndarray,
    k: int,
    excluded: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The one partial top-k: the ``k`` smallest cells of each column of the
    (base rows x queries) matrix ``D`` as candidate columns ``(qid, bid,
    dist)``, ordered by (value, base id) — NaN cells rank last and tie
    with each other, matching the merge. Cells flagged in ``excluded`` rank
    after every other cell, NaN included, and are dropped — a query never
    sees an excluded base row. Cells tied with a column's k-th value are
    kept by lowest base id, so every column keeps exactly ``min(k, rows)``
    cells (before the exclusion drop) and the batch cut agrees with the
    documented (distance, ordinal) tie-break."""
    key = D
    if excluded is not None:
        # finite < undefined (NaN, ranked as +inf) < excluded (NaN)
        key = np.where(np.isnan(D), np.inf, D)
        key[excluded] = np.nan
    kk = min(k, D.shape[0])
    idx = np.argpartition(key, kk - 1, axis=0)[:kk]  # (kk, Q)
    kth = np.take_along_axis(key, idx[kk - 1 : kk], axis=0)  # (1, Q)
    tied = (key == kth) | (np.isnan(key) & np.isnan(kth))
    # argpartition kept an arbitrary subset of the cells tied with the k-th
    # value wherever a column has more tied cells than the cut holds
    for q in np.nonzero(tied.sum(0) > np.take_along_axis(tied, idx, axis=0).sum(0))[0]:
        below = idx[~tied[idx[:, q], q], q]
        ties = np.nonzero(tied[:, q])[0]
        idx[:, q] = np.concatenate(
            [below, ties[np.argsort(bids[ties], kind="stable")[: kk - len(below)]]]
        )
    rows = np.repeat(qids, kk), bids[idx.T.ravel()], np.take_along_axis(D, idx, axis=0).T.ravel()
    if excluded is not None:
        keep = ~np.take_along_axis(excluded, idx, axis=0).T.ravel()
        rows = tuple(col[keep] for col in rows)
    return rows


def _merge_topk(candidates: DataFrame, k: int) -> DataFrame:
    """Rank ``(__qid, __bid, __dist)`` candidates per query by (distance asc,
    NULLs and NaN last, base id asc) and keep ranks 1..k as ``rank``.
    Undefined distances must go last: plain asc ranks NULLs first and would
    fill every top-k with zero vectors. The Spark twin of ``_rank_rows``,
    for candidates that JVM joins produce (LSH, re-rank, precomputed
    neighbor lists)."""
    w = Window.partitionBy("__qid").orderBy(
        F.col("__dist").asc_nulls_last(), F.col("__bid").asc()
    )
    return candidates.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _group_starts(keys: np.ndarray) -> np.ndarray:
    """Start positions of the runs of equal values in sorted ``keys``."""
    return np.flatnonzero(np.r_[len(keys) > 0, keys[1:] != keys[:-1]])


def _rank_rows(qid: np.ndarray, bid: np.ndarray, dist: np.ndarray, k: int):
    """The numpy ranking of the query-block scan: positions of each query's
    ``k`` best candidate rows in (query, distance asc with NaN last, base id
    asc) order — ``_merge_topk``'s order — and their ranks 1..k."""
    order = np.lexsort((bid, dist, np.isnan(dist), qid))
    q = qid[order]
    starts = _group_starts(q)
    rank = np.arange(len(q)) - np.repeat(starts, np.diff(np.r_[starts, len(q)]))
    keep = rank < k
    return order[keep], (rank[keep] + 1).astype(np.int32)


def _local(table: pa.Table) -> DataFrame:
    """A driver-side Arrow table as a local relation (``LocalTableScan``)."""
    return SparkSession.active().createDataFrame(table)


def _defined(dist):
    """NaN distance -> NULL (``distance_expr``'s cosine policy): the one
    undefined-distance rule of both output shapes."""
    return F.when(F.isnan(dist), F.lit(None)).otherwise(dist)


def _as_arrays(topk: pa.Table) -> DataFrame:
    """Ranked rows -> the neighbor facet shape ``(ordinal, indices,
    distances)``, one row per query in ordinal order, built on the driver
    from the ranked Arrow table and returned as a local relation: no
    shuffle and no ``groupBy``."""
    topk = topk.sort_by([("__qid", "ascending"), ("rank", "ascending")])
    qid = topk.column("__qid").to_numpy()
    starts = _group_starts(qid)
    offsets = pa.array(np.r_[starts, len(qid)].astype(np.int32))
    arrays = pa.table({
        "ordinal": topk.column("__qid").take(starts),
        "indices": pa.ListArray.from_arrays(offsets, topk.column("__bid").combine_chunks()),
        "distances": pa.ListArray.from_arrays(offsets, topk.column("__dist").combine_chunks()),
    })
    return _local(arrays).select(
        "ordinal", "indices", F.transform("distances", _defined).alias("distances")
    )


def _as_pairs(topk: DataFrame | pa.Table, distance=None) -> DataFrame:
    """Ranked rows -> one row per neighbor ``(query_id, rank, base_id,
    distance)``; ``distance`` optionally replaces the ``__dist`` column. A
    ranked Arrow table renders as a local relation."""
    if isinstance(topk, pa.Table):
        topk = _local(topk)
    return topk.select(
        F.col("__qid").alias("query_id"),
        "rank",
        F.col("__bid").alias("base_id"),
        _defined(F.col("__dist") if distance is None else distance).alias("distance"),
    )


def _scan_tasks(spark) -> int:
    """Task count of a query-block scan: the base is coalesced (no shuffle)
    to at most the session's default parallelism."""
    return spark.sparkContext.defaultParallelism


def _query_blocks(queries, query_id: str, cols: list, k: int, run: Callable) -> pa.Table:
    """The one query-side collect of the top-k scans: each block of
    ``(query_id, vector[, key])`` rows reaches the driver through
    ``toArrow()`` as ``qids`` (int64), ``Q`` (float64, from the flat values
    buffer) and ``qkeys`` (``None`` without a key column), and ``run(qids,
    Q, qkeys)`` returns their ranked Arrow rows; the blocks' rows are
    concatenated.

    Block size comes from one driver budget, ``_CANDIDATE_BYTES``: a scan
    of Q queries at depth ``k`` brings back at most Q*k rows of 24 bytes
    per scan task (``_scan_tasks``), so a block holds at most
    ``_CANDIDATE_BYTES // (24 * k * tasks)`` queries (PHiDJ-style blocking
    of the probe side). A larger query side is cut by position: its ids are
    collected and sorted on the driver, and each block is a contiguous id
    range, so no block exceeds the budget whatever the id values. An empty
    query side runs nothing and yields no rows."""
    cap = max(1, _CANDIDATE_BYTES // (24 * k * _scan_tasks(queries.sparkSession)))
    side = queries.select(
        F.col(query_id).alias("__qid"), *[F.col(c).alias(f"__q{i}") for i, c in enumerate(cols)]
    )
    first = side.limit(cap + 1).toArrow()
    if first.num_rows <= cap:
        blocks = [first]
    else:
        starts = np.sort(side.select("__qid").toArrow().column(0).to_numpy())[::cap].tolist()
        qid = F.col("__qid")
        blocks = (
            side.where((qid >= lo) & (qid < hi) if hi is not None else qid >= lo).toArrow()
            for lo, hi in zip(starts, starts[1:] + [None])
        )
    ranked = [run(*_query_arrays(block)) for block in blocks if block.num_rows]
    return pa.concat_tables(ranked) if ranked else _RANKED.empty_table()


def _query_arrays(block: pa.Table):
    """A collected query block -> ``(qids, Q, qkeys)``."""
    qkeys = block.column(2).to_numpy(zero_copy_only=False) if block.num_columns > 2 else None
    return block.column(0).to_numpy().astype(np.int64), _matrix(block.column(1).combine_chunks()), qkeys


def _scan_topk(base, base_id: str, cols: list, k: int, qids, payload, make_score) -> pa.Table:
    """The one query-block scan: ``(qids, payload)`` is broadcast, each task
    builds ``score = make_score(payload)`` once, and each Arrow batch of the
    ``(base_id, *cols)`` rows yields the ``_partial_topk`` of ``D, excluded
    = score(batch)`` (a batch x Q distance matrix, an optional mask of cells
    to drop; Spark passes no empty batch). Each task merges its batches'
    candidates with ``_rank_rows`` and emits at most Q*k rows as one Arrow
    batch; the driver collects them with ``toArrow()`` and ranks them with
    ``_rank_rows``. Returns the ranked ``(__qid, __bid, __dist, rank)``
    table: no shuffle, no window."""
    spark = base.sparkSession
    bc = spark.sparkContext.broadcast((qids, payload))

    def task_topk(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        q_ids, p = bc.value
        score = make_score(p)
        top = None
        for batch in batches:
            D, excluded = score(batch)
            bids = batch.column(base_id).to_numpy().astype(np.int64)
            cand = _partial_topk(D, bids, q_ids, k, excluded)
            if top is not None:
                cand = [np.concatenate(pair) for pair in zip(top, cand)]
                pos = _rank_rows(*cand, k)[0]
                cand = [col[pos] for col in cand]
            top = cand
        if top is not None:
            yield pa.record_batch(list(top), names=["__qid", "__bid", "__dist"])

    cand = (
        base.select(base_id, *cols)
        .coalesce(_scan_tasks(spark))
        .mapInArrow(task_topk, _CANDIDATES)
        .toArrow()
    )
    pos, rank = _rank_rows(*(cand.column(i).to_numpy() for i in range(3)), k)
    return cand.take(pos).append_column("rank", pa.array(rank))


def _knn_kernel(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    metric: str,
    query_id: str,
    query_vec: str,
    base_id: str,
    base_vec: str,
    exclude: Callable | None = None,
    query_key: str | None = None,
    base_key: str | None = None,
) -> pa.Table:
    """The dense exact-KNN kernel: ranked ``(__qid, __bid, __dist, rank)``
    rows, ranks 1..k per query — ``_scan_topk`` over ``_query_blocks``,
    scoring each Arrow batch with a (batch x Q) ``distance_matrix`` whose
    top-k candidates hold ``distance_expr``'s values, and dropping the
    cells ``exclude(base_keys, query_keys)`` flags (``base_key`` /
    ``query_key`` name the columns it compares: the batch's Arrow column
    and the query block's numpy array; the base key may be ``base_id``
    itself)."""
    keyed = exclude is not None

    def dense(payload):
        Q, q_keys = payload

        def score(batch):
            excluded = exclude(batch.column(base_key), q_keys) if keyed else None
            B = _matrix(batch.column(base_vec), Q.shape[1])
            return distance_matrix(B, Q, metric, k, excluded), excluded

        return score

    base_cols = [base_vec] + ([base_key] if keyed and base_key != base_id else [])
    return _query_blocks(
        queries, query_id, [query_vec] + ([query_key] if keyed else []), k,
        lambda qids, Q, qkeys: _scan_topk(base, base_id, base_cols, k, qids, (Q, qkeys), dense),
    )


def knn_recall(
    computed: DataFrame,
    truth: DataFrame,
    k: int,
    ordinal: str = "ordinal",
    computed_indices: str = "indices",
    truth_indices: str = "indices",
) -> DataFrame:
    """Mean recall@k of computed neighbor sets vs the answer key (J3).

    Reference: ``verify_knn`` — membership comparison (set-wise, not
    order-sensitive), README.md:46-47; recall = |computed ∩ expected| / k.
    Returns a 1-row DataFrame (mean_recall, n_queries).

    Missing-row policy: every row of ``computed`` is scored, and a query
    absent from ``truth`` scores 0 — a truncated answer key lowers recall
    instead of silently shrinking ``n_queries``. Rows of ``truth`` with no
    computed row are not scored.
    """
    joined = computed.select(
        F.col(ordinal).alias("__o"), F.col(computed_indices).alias("__c")
    ).join(
        truth.select(F.col(ordinal).alias("__o"), F.col(truth_indices).alias("__t")),
        "__o",
        "left",
    )
    per_query = joined.select(
        F.col("__o"),
        (
            F.size(
                F.array_intersect(
                    F.slice("__c", 1, k).cast("array<bigint>"),
                    # absent key -> empty set: size(NULL) is -1 outside ANSI
                    F.coalesce(
                        F.slice("__t", 1, k).cast("array<bigint>"),
                        F.array().cast("array<bigint>"),
                    ),
                )
            ).cast("double")
            / k
        ).alias("recall"),
    )
    return per_query.agg(
        F.avg("recall").alias("mean_recall"), F.count("*").alias("n_queries")
    )


def verify_knn(
    queries: DataFrame,
    base: DataFrame,
    truth: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    sample_size: int = 100,
    seed: int = 42,
) -> DataFrame:
    """End-to-end verify_knn: sample queries deterministically, recompute KNN,
    compare to the stored answer key (03-cli-reference.md:201-218 defaults:
    sample 100, k 10). Sampling is by smallest md5(ordinal) — deterministic
    and portable (same rows in any engine). The sample is recomputed on
    the GEMM kernel, the one ``compute knn`` writes keys with."""
    sampled = (
        queries.withColumn("__h", F.md5(F.col("ordinal").cast("string")))
        .orderBy("__h")
        .limit(sample_size)
        .drop("__h")
    )
    computed = exact_knn(sampled, base, k, metric)
    return knn_recall(computed, truth, k)


def verify_profiles(
    spark,
    manifest,
    k: int = 10,
    sample_size: int = 100,
    metric: str | None = None,
    profiles: list[str] | None = None,
):
    """``analyze verify_profiles`` (README.md:45-46): verify the KNN answer
    keys of MANY profiles of one dataset efficiently — each distinct facet
    source is loaded and cached once and shared across the profiles that
    reference it (the reference's efficiency claim re-expressed as
    DataFrame reuse). Returns rows (profile, mean_recall, n_queries).

    ``metric`` defaults to the manifest's distance_function attribute.
    """
    if metric is None:
        try:
            metric = str(manifest.attr("distance_function")).lower()
        except KeyError:
            metric = "cosine"
    names = profiles or [
        p for p in manifest.profiles
        if all(f in manifest.profiles[p].facets for f in ("base_vectors", "query_vectors", "neighbor_indices"))
    ]
    cache: dict = {}

    def facet(kind: str, profile: str):
        spec = manifest.profiles[profile].facets[kind]
        key = (spec.source, tuple(spec.window or ()))
        if key not in cache:
            cache[key] = manifest.facet(spark, kind, profile).persist()
        return cache[key]

    results = []
    for p in names:
        base = facet("base_vectors", p)
        queries = facet("query_vectors", p)
        truth = facet("neighbor_indices", p).withColumnRenamed("vector", "indices")
        r = verify_knn(
            queries, base, truth, k=k, sample_size=sample_size, metric=metric
        ).collect()[0]
        results.append((p, float(r["mean_recall"]), int(r["n_queries"])))
    for df in cache.values():
        df.unpersist()
    return spark.createDataFrame(results, "profile STRING, mean_recall DOUBLE, n_queries BIGINT")


def _self_neighbors(
    df: DataFrame,
    k: int,
    metric: str,
    id_col: str,
    vec_col: str,
    neighbors: DataFrame | None = None,
) -> DataFrame:
    """The self-KNN edge list the neighbor audits share: each id's k
    nearest OTHER ids as ``(query_id, base_id, distance)``.

    By default the exact kernel masks each query's own cell and ranks k
    other ids directly. A caller's precomputed ``neighbors`` list
    ``(query_id, base_id, distance)`` — raw ANN output included — has its
    self rows dropped and the rest re-ranked by (distance asc, NULLs last,
    base_id) to exactly k, so an undefined distance never displaces a
    defined one."""
    if neighbors is None:
        return _as_pairs(
            _knn_kernel(
                df, df, k, metric, id_col, vec_col, id_col, vec_col,
                exclude=lambda bids, qids: bids.to_numpy()[:, None] == qids[None, :],
                query_key=id_col, base_key=id_col,
            )
        ).drop("rank")
    cand = neighbors.select(
        F.col("query_id").alias("__qid"),
        F.col("base_id").alias("__bid"),
        F.col("distance").alias("__dist"),
    )
    return _as_pairs(_merge_topk(cand.where(F.col("__qid") != F.col("__bid")), k)).drop("rank")


def hubness_stats(
    df: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    neighbors: DataFrame | None = None,
) -> DataFrame:
    """k-occurrence hubness audit (Radovanovic et al. JMLR 2010): for each
    vector, N_k = how many OTHER vectors list it among their k nearest
    (self excluded). High-dimensional embedding spaces grow hubs — points
    in everyone's neighbor list — which poison retrieval training pairs
    and ANN recall; the N_k distribution (and its skewness, computed
    downstream of this frame) is the standard diagnostic.

    Plan: the shared ``_self_neighbors`` edge list (the exact kernel with
    each query's own cell masked, k other ids by (distance NULLs last,
    base_id)), then ONE
    groupBy(base_id) count joined back to the id universe so
    zero-occurrence anti-hubs report 0. Shuffles carry (query_id,
    base_id, distance) triples only.

    ``neighbors`` is the CORPUS-SCALE path: pass a precomputed directed
    neighbor list (query_id, base_id, distance) from the ANN family
    (similarity.lsh_topk / ivf_topk / ivf_search_index) and the exact
    self-KNN — the one deliberate quadratic — is skipped entirely; the
    counting stage is the same keyed groupBy either way. Self rows and
    over-k lists are normalized here, so raw ANN output plugs straight
    in.

    Returns (id, k_occurrence) — every input id exactly once.
    """
    topk = _self_neighbors(df, k, metric, id_col, vec_col, neighbors)
    occ = topk.groupBy(F.col("base_id").alias("id")).agg(
        F.count(F.lit(1)).cast("int").alias("k_occurrence")
    )
    ids = df.select(F.col(id_col).alias("id"))
    return (
        ids.join(occ, "id", "left")
        .select("id", F.coalesce("k_occurrence", F.lit(0)).alias("k_occurrence"))
        .orderBy("id")
    )


def knn_label_accuracy(
    df: DataFrame,
    k: int = 3,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Leave-one-out k-NN classification accuracy over a labeled vector
    table — the supervised audit of embedding geometry (if labels are
    real classes, k-NN accuracy upper-bounds what a retrieval pipeline
    can surface; the ML-eval sibling of verify_knn's recall).

    Per query: drop self, keep the k nearest (ties (dist, id) — the
    engine-exact rank), MAJORITY VOTE over neighbor labels (ties break
    on count DESC then label ASC), compare to the row's own label.
    Returns a ROLLUP: one row per true label plus the grand-total row
    (gid=1, label NULL) — (gid, label, n, n_correct, accuracy at 6dp).

    Plan: the shared ``_self_neighbors`` edge list (the exact kernel — a
    deliberate quadratic, keep it off hot paths), one (query,
    neighbor-label) vote aggregate, one ranking window over <= k rows per
    query, one rollup. All counts integer.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    labels = df.select(F.col(id_col).alias("__id"), F.col(label_col).alias("__l"))
    neigh = _self_neighbors(df, k, metric, id_col, vec_col).join(
        labels.select(F.col("__id").alias("base_id"), F.col("__l").alias("__nl")),
        "base_id",
    )
    votes = neigh.groupBy("query_id", "__nl").agg(F.count(F.lit(1)).alias("__v"))
    wv = Window.partitionBy("query_id").orderBy(F.desc("__v"), F.asc("__nl"))
    pred = (
        votes.withColumn("__rv", F.row_number().over(wv))
        .where(F.col("__rv") == 1)
        .select("query_id", F.col("__nl").alias("__pred"))
    )
    scored = pred.join(
        labels.select(F.col("__id").alias("query_id"), F.col("__l")), "query_id"
    ).select(
        F.col("__l").alias("true_label"),
        (F.col("__pred") == F.col("__l")).cast("int").alias("__ok"),
    )
    return (
        scored.rollup("true_label")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.sum("__ok").alias("n_correct"),
            F.round(F.sum("__ok") / F.count(F.lit(1)), 6).alias("accuracy"),
        )
        .select("gid", "true_label", "n", "n_correct", "accuracy")
        .orderBy("gid", "true_label")
    )


def mutual_knn_pairs(
    df: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    neighbors: DataFrame | None = None,
) -> DataFrame:
    """Mutual k-NN pairs: unordered pairs (a, b) where each vector lists
    the other in its k nearest (self excluded) — the high-precision
    near-duplicate / strong-link miner (reciprocal neighborhood beats
    one-sided top-k for dedup candidates because hubs fail the
    reciprocity test; cf. the reciprocal-rank heuristics of Qin et al.
    CVPR 2011).

    Plan: the shared ``_self_neighbors`` edge list (the exact kernel, self
    masked, deterministic (distance, id) rank to k), then
    the directed edge list self-joins on the REVERSED key pair — an
    equi-join on (query, base) ids, never all-pairs. ``neighbors`` is
    the corpus-scale path (see hubness_stats): a precomputed ANN neighbor
    list replaces the exact self-KNN; the reciprocity join is unchanged.
    Returns (id_a, id_b, distance) with id_a < id_b, ordered.
    """
    edges = _self_neighbors(df, k, metric, id_col, vec_col, neighbors).localCheckpoint(
        eager=False
    )
    fwd = edges.where(F.col("query_id") < F.col("base_id")).select(
        F.col("query_id").alias("id_a"),
        F.col("base_id").alias("id_b"),
        F.col("distance").alias("__d"),
    )
    rev = edges.where(F.col("query_id") > F.col("base_id")).select(
        F.col("base_id").alias("id_a"), F.col("query_id").alias("id_b")
    )
    return (
        fwd.join(rev, ["id_a", "id_b"])
        .select("id_a", "id_b", F.round("__d", 6).alias("distance"))
        .orderBy("id_a", "id_b")
    )


def knn_overlap(
    df_a: DataFrame,
    df_b: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_a: str = "embedding",
    vec_b: str = "embedding",
    neighbors_a: DataFrame | None = None,
    neighbors_b: DataFrame | None = None,
) -> DataFrame:
    """Neighborhood-preservation score between two embedding spaces over
    the SAME ids: mean per-point overlap of the k-nearest-neighbor sets,

        overlap(i) = |kNN_A(i)  intersect  kNN_B(i)| / min(k_A(i), k_B(i))

    — the direct QA readout for any space transformation: Matryoshka /
    PCA / JL truncation ("how much neighborhood structure survives 16
    dims"), a re-embedding model swap, or an ANN index vs the exact
    space (recall@k is this with B = approximate). 1.0 = neighborhoods
    intact; ~k/n = unrelated spaces.

    Plan: the shared ``_self_neighbors`` edge list per space (the exact
    kernel, self masked; ``neighbors_a/b`` accept precomputed ANN lists —
    the hubness / mutual-kNN corpus-scale convention; self-drop +
    deterministic re-rank to k), then the two directed edge
    lists equi-join on (query, base) — never all-pairs. Per-point
    overlaps round to 9dp and DECIMAL-sum into the mean (engine-exact).

    Scale note (measured, 2k -> 20k vectors): the EXACT default is the
    deliberate GEMM-absorbed quadratic of the hubness family — 6.1x
    wall at the 10x step (100x pairwise work). At corpus scale pass ANN
    neighbor lists (similarity.ivf_topk / lsh_topk output) through
    ``neighbors_a/b``; the overlap join itself is keyed and linear.

    Coverage: ids with a neighbor list in only ONE space (easy to hit
    with user-supplied ANN output over different query sets) are NOT
    dropped (ADVICE r7: the old inner join silently overstated
    preservation) — they score overlap 0 and are counted in
    ``n_uncovered`` so callers can detect asymmetric ANN coverage.

    Returns one row ``(n_points, k, mean_overlap, min_overlap,
    frac_perfect, n_uncovered)`` (6dp).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    def edges(df, vec, nbrs):
        return _self_neighbors(df, k, metric, id_col, vec, nbrs).select(
            "query_id", "base_id"
        )

    ea = edges(df_a, vec_a, neighbors_a).localCheckpoint(eager=False)
    eb = edges(df_b, vec_b, neighbors_b).localCheckpoint(eager=False)
    ka = ea.groupBy("query_id").agg(F.count(F.lit(1)).alias("__ka"))
    kb = eb.groupBy("query_id").agg(F.count(F.lit(1)).alias("__kb"))
    common = (
        ea.join(eb, ["query_id", "base_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("__nc"))
    )
    # full outer: ids covered by only one space score 0 instead of
    # silently vanishing from the mean (least() skips the NULL side)
    per_point = (
        ka.join(kb, "query_id", "full_outer")
        .join(common, "query_id", "left")
        .select(
            F.round(
                F.coalesce(F.col("__nc"), F.lit(0)).cast("double")
                / F.least("__ka", "__kb"),
                9,
            ).alias("__ov"),
            (F.col("__ka").isNull() | F.col("__kb").isNull()).alias("__unc"),
        )
    )
    return per_point.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.lit(k).alias("k"),
        F.round(
            F.sum(F.col("__ov").cast("decimal(20,9)"))
            .cast("decimal(38,9)")
            .cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_overlap"),
        F.round(F.min("__ov"), 6).alias("min_overlap"),
        F.round(
            F.sum(F.when(F.col("__ov") >= 1.0, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("frac_perfect"),
        F.sum(F.when(F.col("__unc"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_uncovered"),
    )


def lof_from_knn(
    pairs: DataFrame,
    k: int,
    id_col: str = "id",
    nbr_col: str = "nbr",
    dist_col: str = "dist",
) -> DataFrame:
    """Local Outlier Factor (Breunig et al. 2000) from a precomputed
    k-NN PAIR LIST — the neighbor-graph formulation (the
    dbscan_from_pairs convention: the quadratic never lives here; feed
    exact audit pairs or an ANN join): k-distance(p) = the largest
    neighbor distance, reach-dist(p,o) = max(k-distance(o), d(p,o)),
    lrd(p) = k / sum_o reach-dist(p,o), LOF(p) = mean_o lrd(o) / lrd(p).
    LOF ~ 1 means inlier density, >> 1 means local outlier — the
    standard density-aware embedding-QA score where a global
    Mahalanobis/z-score misses cluster-relative outliers.

    Contract: ``pairs`` holds EXACTLY the k nearest neighbors per point
    (self excluded, ties broken by neighbor id — the exact_knn tie
    discipline; canonical LOF keeps ALL ties at the k-th distance, so
    scores differ from textbook LOF only on exact-tie inputs, which the
    deterministic tie-break makes reproducible instead of ambiguous).
    Points whose reach-distance sum is 0 (k+1 coincident points) have
    infinite lrd; their lof is NULL and they report ``coincident``
    = true rather than propagating a division by zero.

    The pair list SHOULD be closed over its neighbor ids (every nbr
    also appears as an id — true of any self-join k-NN, including the
    documented ANN feeds). When it is not, a neighbor with no own
    k-distance/lrd cannot contribute to the reach or lrd sums; rather
    than silently shrinking those sums below k (quietly skewed scores
    — round-10 ADVICE fix), such pairs are LEFT-joined, counted per
    point in ``n_missing_neighbors``, and any point with a missing
    neighbor reports NULL lof (its lrd is computed over the covered
    neighbors only).

    Returns ``(id, k_distance, lrd, lof, coincident,
    n_missing_neighbors)`` per point at 6dp (lrd at 9dp — it is an
    intermediate ratio the oracle replays), ordered by id; on a closed
    pair list ``n_missing_neighbors`` is identically 0 and scores are
    unchanged.

    Scale shape: three keyed aggregates/joins on the pair list (k*n
    rows) — k-distance groupBy, a reach join keyed on the NEIGHBOR id,
    an lrd groupBy, then one more neighbor-keyed join for the lrd
    ratio. Nothing beyond k*n rows ever shuffles.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    p = pairs.select(
        F.col(id_col).alias("__p"),
        F.col(nbr_col).alias("__o"),
        F.round(F.col(dist_col).cast("double"), 9).alias("__d"),
    ).localCheckpoint(eager=False)
    kdist = p.groupBy("__p").agg(F.max("__d").alias("__kd"))
    # LEFT join: a neighbor absent from the id set has no k-distance —
    # count it (__miss) instead of silently dropping the pair, and keep
    # the reach sum over the covered neighbors only
    reach = p.join(
        kdist.select(F.col("__p").alias("__o"), F.col("__kd").alias("__kdo")),
        "__o",
        "left",
    ).select(
        "__p",
        "__o",
        # greatest() SKIPS nulls, so guard explicitly: a missing
        # neighbor k-distance must surface as a NULL reach, not __d
        F.when(
            F.col("__kdo").isNotNull(),
            F.greatest(F.col("__d"), F.col("__kdo")),
        ).alias("__r"),
    )
    lrd = (
        reach.groupBy("__p")
        .agg(
            F.sum(F.col("__r").cast("decimal(30,9)"))
            .cast("decimal(38,9)")
            .cast("double")
            .alias("__rs"),
            F.count(F.col("__r")).alias("__nk"),
            F.count(F.when(F.col("__r").isNull(), 1)).alias("__miss"),
        )
        .select(
            "__p",
            "__miss",
            F.when(
                F.col("__rs") > 0.0,
                F.round(F.col("__nk") / F.col("__rs"), 9),
            ).alias("__lrd"),
        )
    )
    ratio = (
        p.join(
            lrd.select(F.col("__p").alias("__o"), F.col("__lrd").alias("__lrdo")),
            "__o",
            "left",
        )
        .groupBy("__p")
        .agg(
            F.sum(F.col("__lrdo").cast("decimal(30,9)"))
            .cast("decimal(38,9)")
            .cast("double")
            .alias("__ls"),
            F.count(F.col("__lrdo")).alias("__nk"),
            F.count(F.when(F.col("__lrdo").isNull(), 1)).alias("__nullo"),
        )
    )
    return (
        kdist.join(lrd, "__p")
        .join(ratio, "__p")
        .select(
            F.col("__p").alias("id"),
            (F.round("__kd", 6) + 0.0).alias("k_distance"),
            (F.round("__lrd", 9) + 0.0).alias("lrd"),
            (
                F.round(
                    F.when(
                        F.col("__lrd").isNotNull() & (F.col("__nullo") == 0),
                        F.col("__ls") / F.col("__nk") / F.col("__lrd"),
                    ),
                    6,
                )
                + 0.0
            ).alias("lof"),
            F.col("__lrd").isNull().alias("coincident"),
            F.col("__miss").cast("bigint").alias("n_missing_neighbors"),
        )
        .orderBy("id")
    )


def lof_scores(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LOF over an embedding column with EXACT Euclidean k-NN — the
    bounded audit path (broadcast self-crossJoin + rank-k window with
    the WindowGroupLimit partial pushdown; same posture as
    dbscan(method='exact')): cap the input to a sample for audits, and
    feed ``lof_from_knn`` from an ANN join (``similarity`` family /
    ``mutual_knn_pairs`` inputs) at corpus scale.

    Distances use the repo's 9dp-rounded-term DECIMAL Euclidean fold so
    an oracle replays every k-NN rank and reach-distance bit-for-bit.
    """
    from nbdatatools_spark.session import spread_small_input

    rows = spread_small_input(
        df.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        )
    )
    other = rows.select(
        F.col("__id").alias("__oid"), F.col("__v").alias("__ov")
    )
    d = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("__v"),
                F.col("__ov"),
                lambda x, y: F.round((x - y) * (x - y), 9),
            ),
            F.lit("0").cast("decimal(30,9)"),
            lambda acc, t: (acc + t.cast("decimal(30,9)")).cast(
                "decimal(30,9)"
            ),
        ).cast("double")
    )
    # compute each unordered pair's distance ONCE and mirror it
    # (optimization round 10, guide §1.2): the DECIMAL zip_with fold is
    # the dominant compute here, and d is exactly symmetric —
    # round((x-y)^2, 9) == round((y-x)^2, 9) bit-for-bit and the
    # accumulation order over dims is unchanged — so evaluating it on
    # id < nbr and unioning the mirrored half is value-identical at
    # half the fold work. The checkpoint stops the union's two branches
    # from re-running the crossJoin.
    half = (
        rows.join(F.broadcast(other), F.col("__id") < F.col("__oid"))
        .select(
            F.col("__id").alias("id"),
            F.col("__oid").alias("nbr"),
            F.round(d, 9).alias("dist"),
        )
        .localCheckpoint(eager=False)
    )
    pairs = half.unionAll(
        half.select(
            F.col("nbr").alias("id"), F.col("id").alias("nbr"), "dist"
        )
    )
    w = Window.partitionBy("id").orderBy(
        F.col("dist").asc_nulls_last(), F.col("nbr").asc()
    )
    topk = pairs.withColumn("__rn", F.row_number().over(w)).where(
        F.col("__rn") <= k
    )
    return lof_from_knn(topk, k)
