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
  shuffle of the big side; per-batch partial top-k is then merged by a
  single shuffle of Q*k rows per batch, not Q*B.
- One kernel, ``_knn_kernel``, does that for every dense caller
  (``exact_knn``, ``hybrid.hybrid_ground_truth``,
  ``similarity.hard_negatives``): each Arrow batch of the base side computes
  ``functions.distance.distance_matrix`` against the collected query block,
  applies the caller's optional per-cell exclusion mask (same-label pairs,
  non-matching predicates), and keeps its ``_partial_topk``; ``_merge_topk``
  ranks the candidates. The PQ scans feed their lookup-table distances
  through the same two tails.
- Tie-break is (distance, base ordinal) ascending — deterministic under float
  associativity (SURVEY §7 "What's hard"); undefined (NaN) distances rank last.
- ``_ranked_knn`` is the one exact KNN (ranked rows), in two shapes with one
  NaN -> NULL rule: ``_as_arrays`` (``exact_knn``'s neighbor facets) and
  ``_as_pairs`` (a row per neighbor: ``similarity.brute_force_topk``, the PQ
  scans). ``_self_neighbors`` is the self-KNN edge list of the four
  neighbor audits (hubness, label accuracy, mutual k-NN, overlap).
- Query sides larger than ``max_broadcast_queries`` are split into pmod blocks
  on the query ordinal, each collected and broadcast separately.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nbdatatools_spark.functions.distance import distance_expr, distance_matrix

_CANDIDATES = "__qid BIGINT, __bid BIGINT, __dist DOUBLE"


def exact_knn(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    metric: str = "cosine",
    query_ordinal: str = "ordinal",
    base_ordinal: str = "ordinal",
    query_vec: str = "vector",
    base_vec: str = "vector",
    impl: str = "gemm",
) -> DataFrame:
    """Exact top-k neighbors per query.

    Returns ``(ordinal, indices ARRAY<ordinal-type>, distances ARRAY<DOUBLE>)``
    matching the reference's neighbor facet shape (FIXTURES.md §1): row i =
    top-k base ordinals for query i, ascending distance, ties broken by base
    ordinal. Undefined distances (zero-magnitude cosine) rank last and are
    NULL on both paths.

    ``impl``:
    - ``"gemm"`` (default — the scale path): the shared ``_knn_kernel``,
      numpy/BLAS distance matrices via Arrow-batched mapInPandas with
      PER-BATCH PARTIAL TOP-K (the SIMD analogue of the reference's
      Panama-vector kernels, src/main/java25/.../DistanceFunction.java:199-232).
      Only Q*k rows per Arrow batch reach the merge shuffle — never the Q*B
      cross product. ~2 orders of magnitude faster at the reference
      benchmark scale (100k x 256d); distances differ from sequential
      summation only in the last float64 bits. Queries exceeding the
      broadcast cap are processed in bounded blocks automatically.
    - ``"expr"``: pure Catalyst zip_with/aggregate distance inside the
      broadcast crossJoin, ranked by a row_number window. Catalyst inserts
      ``WindowGroupLimit ... Partial`` BELOW the exchange (SPARK-37099, the
      rank-limit pushdown), so each map task keeps only its local top-k per
      query before shuffling — the exchange carries <= Q*k rows per input
      partition, not the Q*B cross product (pinned by
      tests/test_plans.py::test_expr_knn_window_has_partial_group_limit).
      Still the ORACLE path: the scalar fold distance is bit-reproducible
      against sequential-sum SQL oracles, but it is ~100x slower than the
      BLAS kernel at reference scale, so gemm remains the default.
    """
    return _as_arrays(
        _ranked_knn(
            queries, base, k, metric, query_ordinal, base_ordinal, query_vec, base_vec, impl
        )
    )


def _ranked_knn(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    metric: str,
    query_ordinal: str,
    base_ordinal: str,
    query_vec: str,
    base_vec: str,
    impl: str,
) -> DataFrame:
    """The one exact KNN: ranked rows ``(__qid, __bid, __dist, rank)``,
    ranks 1..k per query — ``_knn_kernel`` for ``impl="gemm"``, the
    broadcast crossJoin over ``distance_expr`` otherwise (see exact_knn)."""
    if impl == "gemm":
        return _knn_kernel(
            queries, base, k, metric, query_ordinal, query_vec, base_ordinal, base_vec
        )
    q = queries.select(
        F.col(query_ordinal).alias("__qid"), F.col(query_vec).alias("__qvec")
    )
    b = base.select(
        F.col(base_ordinal).alias("__bid"), F.col(base_vec).alias("__bvec")
    )
    pairs = b.crossJoin(F.broadcast(q)).select(
        "__qid",
        "__bid",
        distance_expr(metric, F.col("__qvec"), F.col("__bvec")).alias("__dist"),
    )
    return _merge_topk(pairs, k)


def _partial_topk(
    D: np.ndarray,
    bids: np.ndarray,
    qids: np.ndarray,
    k: int,
    excluded: np.ndarray | None = None,
) -> pd.DataFrame:
    """The one partial top-k: the ``k`` smallest cells of each column of the
    (base rows x queries) matrix ``D`` as candidate rows ``(__qid, __bid,
    __dist)``. NaN cells rank last (numpy's order, matching the merge).
    Cells flagged in ``excluded`` rank after every other cell, NaN included,
    and are dropped — a query never sees an excluded base row."""
    key = D
    if excluded is not None:
        # finite < undefined (NaN, ranked as +inf) < excluded (NaN)
        key = np.where(np.isnan(D), np.inf, D)
        key[excluded] = np.nan
    kk = min(k, D.shape[0])
    idx = np.argpartition(key, kk - 1, axis=0)[:kk]  # (kk, Q)
    rows = pd.DataFrame(
        {
            "__qid": np.repeat(qids, kk),
            "__bid": bids[idx.T.ravel()],
            "__dist": np.take_along_axis(D, idx, axis=0).T.ravel(),
        }
    )
    if excluded is None:
        return rows
    return rows[~np.take_along_axis(excluded, idx, axis=0).T.ravel()]


def _merge_topk(candidates: DataFrame, k: int) -> DataFrame:
    """Rank ``(__qid, __bid, __dist)`` candidates per query by (distance asc,
    NULLs and NaN last, base id asc) and keep ranks 1..k as ``rank``.
    Undefined distances must go last: plain asc ranks NULLs first and would
    fill every top-k with zero vectors."""
    w = Window.partitionBy("__qid").orderBy(
        F.col("__dist").asc_nulls_last(), F.col("__bid").asc()
    )
    return candidates.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _defined(dist):
    """NaN distance -> NULL (the expr path's cosine policy): the one
    undefined-distance rule of both output shapes."""
    return F.when(F.isnan(dist), F.lit(None)).otherwise(dist)


def _as_arrays(topk: DataFrame) -> DataFrame:
    """Ranked rows -> the neighbor facet shape ``(ordinal, indices,
    distances)``."""
    return (
        topk.groupBy("__qid")
        .agg(F.array_sort(F.collect_list(F.struct("rank", "__bid", "__dist"))).alias("__nn"))
        .select(
            F.col("__qid").alias("ordinal"),
            F.transform("__nn", lambda s: s["__bid"]).alias("indices"),
            F.transform("__nn", lambda s: _defined(s["__dist"])).alias("distances"),
        )
    )


def _as_pairs(topk: DataFrame, distance=None) -> DataFrame:
    """Ranked rows -> one row per neighbor ``(query_id, rank, base_id,
    distance)``; ``distance`` optionally replaces the ``__dist`` column."""
    return topk.select(
        F.col("__qid").alias("query_id"),
        "rank",
        F.col("__bid").alias("base_id"),
        _defined(F.col("__dist") if distance is None else distance).alias("distance"),
    )


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
    max_broadcast_queries: int = 65536,
) -> DataFrame:
    """The dense exact-KNN kernel: ``(__qid, __bid, __dist, rank)`` rows,
    ranks 1..k per query.

    The query block (small side by construction) is collected to a numpy
    matrix and broadcast; each Arrow batch of the base table computes a
    (batch x Q) ``distance_matrix``, asks ``exclude(D, base_keys,
    query_keys)`` for the boolean cells to drop (``base_key`` /
    ``query_key`` name the columns it compares), and keeps its
    ``_partial_topk``. ``_merge_topk`` then reduces Q*k*n_batches
    candidate rows — a tiny shuffle.

    ``max_broadcast_queries`` guards the driver collect (VERDICT r1 #6): a
    query side larger than the cap is processed in pmod blocks, each
    collected and broadcast separately, results unioned — bounded driver
    memory at any query-side size (~64Mi floats per block at 256d)."""
    spark = base.sparkSession
    qcols = [query_id, query_vec] + ([query_key] if exclude else [])
    qrows = queries.select(*qcols).limit(max_broadcast_queries + 1).collect()
    if len(qrows) > max_broadcast_queries:
        n = queries.count()
        n_blocks = -(-n // max_broadcast_queries)  # ceil
        blocks = [
            _knn_kernel(
                queries.where(F.pmod(F.col(query_id), F.lit(n_blocks)) == i),
                base, k, metric, query_id, query_vec, base_id, base_vec,
                exclude, query_key, base_key,
                max_broadcast_queries=n + 1,  # each block is now under the cap
            )
            for i in range(n_blocks)
        ]
        return reduce(DataFrame.unionByName, blocks)
    if not qrows:
        return spark.createDataFrame([], _CANDIDATES + ", rank INT")
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = np.array([r[1] for r in qrows], dtype=np.float64)
    qkeys = np.array([r[2] for r in qrows]) if exclude else None
    bc = spark.sparkContext.broadcast((qids, qmat, qkeys))

    def partial_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_ids, Q, q_keys = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            D = distance_matrix(np.array(list(pdf[base_vec]), dtype=np.float64), Q, metric)
            excluded = exclude(D, pdf[base_key], q_keys) if exclude else None
            yield _partial_topk(D, pdf[base_id].to_numpy(dtype=np.int64), q_ids, k, excluded)

    bcols = [base_id, base_vec] + ([base_key] if exclude else [])
    return _merge_topk(base.select(*bcols).mapInPandas(partial_topk, _CANDIDATES), k)


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
    impl: str,
    neighbors: DataFrame | None = None,
) -> DataFrame:
    """The self-KNN edge list the neighbor audits share: each id's k
    nearest OTHER ids as ``(query_id, base_id, distance)``.

    The input is the exact self-KNN at k+1 (``impl`` picks the kernel) or
    the caller's precomputed ``neighbors`` list ``(query_id, base_id,
    distance)`` — raw ANN output included. Self rows are dropped and the
    rest re-ranked by (distance asc, NULLs last, base_id) to exactly k, so
    an undefined distance never displaces a defined one."""
    if neighbors is None:
        cand = _ranked_knn(df, df, k + 1, metric, id_col, id_col, vec_col, vec_col, impl)
    else:
        cand = neighbors.select(
            F.col("query_id").alias("__qid"),
            F.col("base_id").alias("__bid"),
            F.col("distance").alias("__dist"),
        )
    # _merge_topk's rank replaces the k+1 self-KNN's own
    return _as_pairs(_merge_topk(cand.where(F.col("__qid") != F.col("__bid")), k)).drop("rank")


def hubness_stats(
    df: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "gemm",
    neighbors: DataFrame | None = None,
) -> DataFrame:
    """k-occurrence hubness audit (Radovanovic et al. JMLR 2010): for each
    vector, N_k = how many OTHER vectors list it among their k nearest
    (self excluded). High-dimensional embedding spaces grow hubs — points
    in everyone's neighbor list — which poison retrieval training pairs
    and ANN recall; the N_k distribution (and its skewness, computed
    downstream of this frame) is the standard diagnostic.

    Plan: the shared ``_self_neighbors`` edge list (self-KNN at k+1, GEMM
    partial top-k by default — the scale path; self rows dropped,
    re-ranked by (distance NULLs last, base_id) to exactly k), then ONE
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
    topk = _self_neighbors(df, k, metric, id_col, vec_col, impl, neighbors)
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
    impl: str = "gemm",
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

    Plan: the shared ``_self_neighbors`` edge list (GEMM partial top-k
    default; ``impl="expr"`` is the oracle-parity audit path — a
    deliberate quadratic, keep it off hot paths), one (query,
    neighbor-label) vote aggregate, one ranking window over <= k rows per
    query, one rollup. All counts integer.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    labels = df.select(F.col(id_col).alias("__id"), F.col(label_col).alias("__l"))
    neigh = _self_neighbors(df, k, metric, id_col, vec_col, impl).join(
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
    impl: str = "gemm",
    neighbors: DataFrame | None = None,
) -> DataFrame:
    """Mutual k-NN pairs: unordered pairs (a, b) where each vector lists
    the other in its k nearest (self excluded) — the high-precision
    near-duplicate / strong-link miner (reciprocal neighborhood beats
    one-sided top-k for dedup candidates because hubs fail the
    reciprocity test; cf. the reciprocal-rank heuristics of Qin et al.
    CVPR 2011).

    Plan: the shared ``_self_neighbors`` edge list (self-KNN at k+1, GEMM
    partial top-k default, self-drop + deterministic re-rank to k), then
    the directed edge list self-joins on the REVERSED key pair — an
    equi-join on (query, base) ids, never all-pairs. ``neighbors`` is
    the corpus-scale path (see hubness_stats): a precomputed ANN neighbor
    list replaces the exact self-KNN; the reciprocity join is unchanged.
    Returns (id_a, id_b, distance) with id_a < id_b, ordered.
    """
    edges = _self_neighbors(df, k, metric, id_col, vec_col, impl, neighbors).localCheckpoint(
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
    impl: str = "gemm",
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

    Plan: the shared ``_self_neighbors`` edge list per space (self-KNN at
    k+1, GEMM partial top-k default; ``neighbors_a/b`` accept precomputed
    ANN lists — the hubness / mutual-kNN corpus-scale convention;
    self-drop + deterministic re-rank to k), then the two directed edge
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
        return _self_neighbors(df, k, metric, id_col, vec, impl, nbrs).select(
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
