"""Embedding clustering + semantic deduplication (SURVEY §7.8 extension).

Beyond-reference training-data operators (the reference's own dedup surface
is exact value dedup, ``README.md:97-99`` cleanfvec — see operators/dedup.py):

- ``centroid_assign``: shuffle-free nearest-centroid assignment. The
  centroid table is tiny by construction (k x d floats), so it is inlined
  as a literal array of (distance, centroid_id) structs and the per-row
  argmin is one ``array_min`` projection — NO shuffle, NO crossJoin
  (VERDICT r1 #4). The IVF paths (similarity.ivf_topk, ivf_build_index,
  ivf_append_index) assign base cells with it.
- ``kmeans_centroids``: MLlib KMeans (DataFrame API) on an optionally
  sampled input, returning plain ``list[list[float]]`` centroids — also
  the IVF coarse quantizer's trainer.
- ``semantic_dedup``: SemDeDup (Abbas et al., "SemDeDup: Data-efficient
  learning at web-scale through semantic deduplication", arXiv:2303.09540
  §3): cluster embeddings with k-means, then WITHIN each cluster drop every
  vector whose cosine similarity to an already-kept vector exceeds
  ``threshold``. Keep priority follows the paper: candidates are visited in
  order of LOW similarity to their cluster centroid (diversity-preserving),
  deterministic tie-break on the id column.

Scale contract (100TB posture): clustering bounds all pairwise work to
within-cluster. The only shuffle is the applyInPandas groupBy on
``centroid_id`` (k groups; choose k ~ N / target_cluster_size so each
cluster fits an executor — the paper uses N/k ~ 10-50k at web scale). The
greedy pass is an Arrow-batched numpy kernel: O(n_cluster * kept * d) with
blocked matmuls, never a full n x n gram for large clusters.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from nbdatatools_spark.functions.distance import _matrix, distance_expr, distance_matrix


def _centroid_struct_array(vec, centroids: Sequence[Sequence[float]], metric: str):
    """Literal array of (distance, centroid_id) structs for a vector column.

    Struct comparison is field-order lexicographic, so ``array_min`` over
    this array IS the (distance ASC, centroid_id ASC) argmin — a pure
    projection, evaluated inside whole-stage codegen.
    """
    return F.array(
        *[
            F.struct(
                distance_expr(
                    metric, vec, F.array(*[F.lit(float(x)) for x in c])
                ).alias("cdist"),
                F.lit(i).alias("centroid_id"),
            )
            for i, c in enumerate(centroids)
        ]
    )


def centroid_assign(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    metric: str = "cosine",
    vec_col: str = "embedding",
    out_col: str = "centroid_id",
    dist_col: str | None = None,
    impl: str = "expr",
) -> DataFrame:
    """Append nearest-centroid id (and optionally its distance) per row.

    Shuffle-free in both impls — assignment is a map-side transform.

    ``impl="expr"``: one projection over an inlined literal centroid
    array; bit-exact vs the DuckDB oracle (sequential folds) — the gate
    path. NULL/NaN distances (zero-magnitude cosine) rank LAST via the
    struct tie-break only if the distance compares greater; to keep the
    argmin total, NULL distances are coalesced to +Inf first.

    ``impl="gemm"``: Arrow-batched numpy kernel (``mapInArrow``, vectors
    decoded by ``functions.distance._matrix``: a null or ragged vector
    raises) — one (batch x k) distance matrix per Arrow batch, argmin with
    the same (distance, centroid_id) tie-break (np.argmin keeps the first =
    lowest cid). The scale path:
    the literal-expression tree costs O(k*d) interpreted ops per ROW and
    seconds of driver-side analysis at k*d in the thousands; the kernel
    is two BLAS calls per batch. Distances differ from the expr path only
    in float summation order (last-ulp), so use "expr" when exact oracle
    parity matters.
    """
    if impl == "gemm":
        return _centroid_assign_gemm(
            df, centroids, metric, vec_col, out_col, dist_col
        )
    arr = F.transform(
        _centroid_struct_array(F.col(vec_col), centroids, metric),
        lambda s: F.struct(
            F.coalesce(
                F.nanvl(s["cdist"], F.lit(float("inf"))), F.lit(float("inf"))
            ).alias("cdist"),
            s["centroid_id"].alias("centroid_id"),
        ),
    )
    best = F.array_min(arr)
    out = df.withColumn(out_col, best["centroid_id"])
    if dist_col:
        out = out.withColumn(dist_col, best["cdist"])
    return out


def _centroid_assign_gemm(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    metric: str,
    vec_col: str,
    out_col: str,
    dist_col: str | None,
) -> DataFrame:
    """mapInArrow nearest-centroid kernel (see centroid_assign impl="gemm"):
    each Arrow batch keeps its columns and types and gains ``out_col`` (and
    ``dist_col``).

    Semantics pinned to the expr path: NaN/undefined distances -> +Inf
    (zero-norm cosine rows get +Inf to every centroid and land on cid 0);
    argmin tie-break = lowest centroid_id (np.argmin first-occurrence)."""
    C = np.asarray(centroids, dtype=np.float64)  # (k, d)
    fields = list(df.schema.fields) + [StructField(out_col, IntegerType())]
    if dist_col:
        fields.append(StructField(dist_col, DoubleType()))

    def assign_batches(batches):
        for batch in batches:
            D = distance_matrix(_matrix(batch.column(vec_col), C.shape[1]), C, metric)
            D[np.isnan(D)] = np.inf  # undefined (zero-norm cosine) -> +Inf
            cid = D.argmin(axis=1)
            batch = batch.append_column(out_col, pa.array(cid.astype(np.int32)))
            if dist_col:
                batch = batch.append_column(dist_col, pa.array(D[np.arange(len(cid)), cid]))
            yield batch

    return df.mapInArrow(assign_batches, StructType(fields))


def kmeans_centroids(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    sample_fraction: float = 1.0,
) -> list[list[float]]:
    """Train k-means centroids (MLlib DataFrame API) and return them as
    plain Python lists, ready to inline into ``centroid_assign``.

    At 100TB: train on a sample (``sample_fraction``) — centroid quality
    converges long before the full pass; assignment stays exact and full.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = df.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    if sample_fraction < 1.0:
        train = train.sample(fraction=sample_fraction, seed=seed)
    model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(train)
    return [list(map(float, c)) for c in model.clusterCenters()]


def _greedy_keep(ids, vecs, sims, threshold: float, block: int = 1024):
    """Exact greedy pass over one cluster, visiting rows in (centroid_sim
    ASC, id ASC) order: keep a row iff max cosine to every already-kept row
    is < threshold. Blocked matmuls: O(n * kept * d) flops, O(block * kept)
    peak memory — never the full n x n gram.

    Returns a boolean keep-mask aligned with the input order.
    """
    n = len(ids)
    order = np.lexsort((ids, sims))  # primary: centroid_sim asc, tie: id asc
    X = vecs[order]
    norms = np.linalg.norm(X, axis=1)
    nz = norms > 0.0
    Xn = np.zeros_like(X)
    Xn[nz] = X[nz] / norms[nz, None]  # zero-norm rows: sim 0 to everything

    keep_sorted = np.zeros(n, dtype=bool)
    kept_rows: list = []  # list of normalized blocks already kept
    for s in range(0, n, block):
        e = min(s + block, n)
        B = Xn[s:e]
        if kept_rows:
            K = np.concatenate(kept_rows, axis=0)
            best = (B @ K.T).max(axis=1)
        else:
            best = np.full(e - s, -np.inf)
        gram = B @ B.T  # within-block pairs still need sequential greedy
        for j in range(e - s):
            if best[j] >= threshold:
                continue
            keep_sorted[s + j] = True
            later = gram[j, j + 1 :]
            np.maximum(best[j + 1 :], later, out=best[j + 1 :])
        kept_block = B[keep_sorted[s:e]]
        if len(kept_block):
            kept_rows.append(kept_block)

    keep = np.zeros(n, dtype=bool)
    keep[order] = keep_sorted
    return keep


def semantic_dedup(
    df: DataFrame,
    k: int = 16,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids: Sequence[Sequence[float]] | None = None,
    keep_all_columns: bool = True,
    assign_impl: str = "expr",
) -> DataFrame:
    """SemDeDup (arXiv:2303.09540): k-means cluster, then within-cluster
    greedy cosine dedup at ``threshold``. Returns the kept rows with
    ``centroid_id`` and ``centroid_sim`` (cosine similarity to the assigned
    centroid) appended.

    Visit order is LOW centroid similarity first (paper §3: among semantic
    duplicates, the example least similar to the centroid is retained),
    tie-broken by ``id_col`` so the result is deterministic under any
    partitioning. Pass precomputed ``centroids`` to pin them exactly (tests,
    incremental runs); otherwise MLlib KMeans trains them with ``seed``.
    """
    import pandas as pd

    if centroids is None:
        centroids = kmeans_centroids(df, k, vec_col=vec_col, seed=seed)

    assigned = centroid_assign(
        df,
        centroids,
        metric="cosine",
        vec_col=vec_col,
        dist_col="__cdist",
        impl=assign_impl,
    ).withColumn(
        # cosine distance -> similarity; +Inf distance (zero vectors) -> sim 0
        "centroid_sim",
        F.when(F.col("__cdist") == float("inf"), F.lit(0.0)).otherwise(
            1.0 - F.col("__cdist")
        ),
    ).drop("__cdist")

    narrow = assigned.select(id_col, vec_col, "centroid_id", "centroid_sim")
    schema = StructType(
        [
            narrow.schema[id_col],
            StructField("centroid_id", narrow.schema["centroid_id"].dataType),
            StructField("centroid_sim", narrow.schema["centroid_sim"].dataType),
        ]
    )

    def dedup_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        vecs = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        sims = pdf["centroid_sim"].to_numpy()
        mask = _greedy_keep(ids, vecs, sims, threshold)
        return pdf.loc[mask, [id_col, "centroid_id", "centroid_sim"]]

    kept = narrow.groupBy("centroid_id").applyInPandas(dedup_cluster, schema)
    if not keep_all_columns:
        return kept
    # re-attach the original columns (incl. the vector) by id: the kept set
    # is the small side after dedup, but ids are unique on both sides, so a
    # plain equi-join on id_col is one co-partitioned shuffle
    return df.join(kept, id_col)


def group_centroids(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group mean embedding (domain / cluster / language prototypes) in
    long format: ``(group_col, dim INT, n_vectors BIGINT, mean DOUBLE)``
    — the aggregation behind SemDeDup-style cluster prototypes, per-domain
    embedding drift monitoring, and nearest-centroid routing tables.

    Plan: posexplode to (group, dim, value) — a d-fold amplification of a
    SLIM projection, never of full rows — then ONE map-side-combinable
    groupBy(group, dim). Exactness: each element is rounded to 9dp and
    DECIMAL-summed (order-invariant across partitions — a plain double
    ``avg`` drifts in the last bits with partition order), then one
    rounded double division by the group count; an oracle engine
    reproduces every cell bit-for-bit.
    """
    ex = df.select(
        F.col(group_col).alias("__g"),
        F.posexplode(vec_col).alias("dim", "__v"),
    )
    term = F.round(F.col("__v").cast("double"), 9).cast("decimal(20,9)")
    return (
        ex.groupBy("__g", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(term).cast("decimal(38,9)").alias("__s"),
        )
        .select(
            F.col("__g").alias(group_col),
            F.col("dim").cast("int").alias("dim"),
            "n_vectors",
            F.round(F.col("__s").cast("double") / F.col("n_vectors"), 6).alias("mean"),
        )
    )


def davies_bouldin(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """Davies-Bouldin cluster-separation index (Davies & Bouldin 1979)
    over a grouped embedding column — the internal clustering-quality
    companion to ``silhouette_sample``: silhouette scores POINTS
    (sampled — it is pairwise), DB scores CLUSTERS exactly with one
    pass: R_ij = (S_i + S_j) / M_ij over intra-cluster mean distances
    S and centroid separations M; each cluster reports its worst
    (largest) R against any other cluster, and the DB index is the mean
    of those — lower is better-separated.

    Returns one row per group: ``(group, n_vectors, s_intra,
    worst_other, r_max)`` at 6dp, ordered by group — ``avg(r_max)`` is
    the DB index. Groups need >= 1 vector; a single-group input returns
    NULL r_max/worst_other (no 'other' exists).

    Exactness: centroids are the 6dp ``group_centroids`` means;
    distances are Euclidean with per-element 9dp-rounded terms,
    DECIMAL-summed for S (order-invariant) — an oracle replays every
    cell bit-for-bit.

    Scale shape: ONE posexplode aggregate for centroids (bounded k x d
    cells), one broadcast join of the centroid ARRAYS back to the data
    for the S pass (map-side distance + one keyed aggregate), one k x k
    bounded self-join for M. Corpus rows are scanned twice, shuffled
    never (the aggregates are map-side combinable on the group key).
    """
    cent_long = group_centroids(df, group_col, vec_col=vec_col)
    cent = cent_long.groupBy(group_col).agg(
        F.max("n_vectors").alias("n_vectors"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mean"))),
            lambda s: s["mean"],
        ).alias("__c"),
    )

    def _dist(a, b):
        return F.sqrt(
            F.aggregate(
                F.zip_with(
                    a, b, lambda x, y: F.round((x - y) * (x - y), 9)
                ),
                F.lit("0").cast("decimal(30,9)"),
                lambda acc, t: (acc + t.cast("decimal(30,9)")).cast(
                    "decimal(30,9)"
                ),
            ).cast("double")
        )

    rows = df.select(
        F.col(group_col).alias("__g"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    s_intra = (
        rows.join(
            F.broadcast(
                cent.select(F.col(group_col).alias("__g"), "__c")
            ),
            "__g",
        )
        .select(
            "__g", F.round(_dist(F.col("__v"), F.col("__c")), 9).alias("__d")
        )
        .groupBy("__g")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            (
                F.sum(F.col("__d").cast("decimal(30,9)"))
                .cast("double")
                / F.count(F.lit(1))
            ).alias("__s"),
        )
    )
    ci = cent.select(
        F.col(group_col).alias("__gi"), F.col("__c").alias("__ci")
    ).join(
        s_intra.select(F.col("__g").alias("__gi"), F.col("__s").alias("__si")),
        "__gi",
    )
    cj = ci.select(
        F.col("__gi").alias("__gj"),
        F.col("__ci").alias("__cj"),
        F.col("__si").alias("__sj"),
    )
    r = (
        ci.join(cj, F.col("__gi") != F.col("__gj"))
        .select(
            "__gi",
            "__gj",
            # coincident centroids (M_ij = 0) make R infinite/undefined:
            # NULL the pair (max ignores NULLs) rather than divide by 0
            F.when(
                _dist(F.col("__ci"), F.col("__cj")) > 0.0,
                (F.col("__si") + F.col("__sj"))
                / _dist(F.col("__ci"), F.col("__cj")),
            ).alias("__r"),
        )
        .where(F.col("__r").isNotNull())
        .groupBy("__gi")
        .agg(
            F.max_by("__gj", F.struct(F.col("__r"), F.col("__gj"))).alias(
                "worst_other"
            ),
            F.max("__r").alias("__rmax"),
        )
    )
    return (
        s_intra.join(r, s_intra["__g"] == r["__gi"], "left")
        .select(
            F.col("__g").alias(group_col),
            F.col("n_vectors").cast("bigint").alias("n_vectors"),
            (F.round("__s", 6) + 0.0).alias("s_intra"),
            "worst_other",
            (F.round("__rmax", 6) + 0.0).alias("r_max"),
        )
        .orderBy(group_col)
    )


def lloyd_fixed_iterations(
    df: DataFrame,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic fixed-iteration Lloyd k-means as pure DataFrame ops
    (the oracle-able counterpart of ``kmeans_centroids``'s MLlib path).

    Exactness contract (what makes the gate hash-replicable, the pagerank
    discipline): init centroids are the ``k`` rows with the smallest ids,
    components rounded to 6dp; per-row assignment keys on
    ``(round(l2_dist, 6), centroid_id)`` argmin; per-iteration centroid
    means are 9dp-DECIMAL-summed (order-invariant) then rounded to 6dp.
    An engine replaying the same iteration count reproduces every
    assignment and mean bit-for-bit. Empty clusters keep their previous
    centroid.

    Scale shape: each iteration is one map-side assignment over k
    BROADCAST-LITERAL centroids (no join, no shuffle) plus one
    (centroid, dim)-keyed aggregate producing k*d cells; driver-side
    state is the k*d centroid table only. The same per-iteration bill as
    semantic_dedup's assignment pass; corpus size never hits the driver.

    Returns ``(centroid_id, n_assigned, inertia)`` per final cluster,
    inertia = DECIMAL-exact sum of squared (6dp-rounded) distances.
    """
    final = _lloyd_final_assign(df, k, iterations, id_col, vec_col)
    return (
        final.groupBy(F.col("__cid").alias("centroid_id"))
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            F.round(
                F.sum(
                    F.round(F.col("__d") * F.col("__d"), 9).cast("decimal(20,9)")
                )
                .cast("decimal(38,9)")
                .cast("double"),
                6,
            ).alias("inertia"),
        )
        .orderBy("centroid_id")
    )


def _lloyd_final_assign(
    df: DataFrame, k: int, iterations: int, id_col: str, vec_col: str
) -> DataFrame:
    """Shared Lloyd loop: returns the FINAL assignment frame
    (__id, __v, __cid, __d) — see lloyd_fixed_iterations for the
    determinism contract."""
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    init_rows = base.orderBy("__id").limit(k).collect()
    centroids = {
        i: [round(float(x), 6) for x in r["__v"]] for i, r in enumerate(init_rows)
    }

    def _assign(frame: DataFrame, cents: dict[int, list[float]]) -> DataFrame:
        arr = F.array(
            *[
                F.struct(
                    F.round(
                        distance_expr(
                            "euclidean",
                            F.col("__v"),
                            F.array(*[F.lit(x) for x in cents[i]]),
                        ),
                        6,
                    ).alias("d"),
                    F.lit(i).alias("cid"),
                )
                for i in sorted(cents)
            ]
        )
        best = F.array_min(arr)
        return frame.withColumn("__cid", best["cid"]).withColumn("__d", best["d"])

    for _ in range(iterations):
        assigned = _assign(base, centroids)
        mean_rows = (
            assigned.select("__cid", F.posexplode("__v").alias("dim", "x"))
            .groupBy("__cid", "dim")
            .agg(
                F.round(
                    F.sum(F.round(F.col("x"), 9).cast("decimal(20,9)"))
                    .cast("decimal(38,9)")
                    .cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("m")
            )
            .collect()
        )
        new_cents: dict[int, list[float]] = {}
        for r in mean_rows:
            new_cents.setdefault(int(r["__cid"]), [0.0] * len(centroids[0]))[
                int(r["dim"])
            ] = float(r["m"])
        # empty clusters keep their previous centroid
        centroids = {
            i: new_cents.get(i, centroids[i]) for i in range(len(centroids))
        }

    return _assign(base, centroids)


def lloyd_assignments(
    df: DataFrame,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-row FINAL Lloyd assignments (id, centroid_id, dist) under the
    exact same determinism contract as :func:`lloyd_fixed_iterations`
    (which aggregates the identical assignment frame) — the input to
    external cluster validation (:func:`cluster_label_agreement`) and
    label-aware curation."""
    final = _lloyd_final_assign(df, k, iterations, id_col, vec_col)
    return final.select(
        F.col("__id").alias(id_col),
        F.col("__cid").alias("centroid_id"),
        F.col("__d").alias("dist"),
    )


def cluster_label_agreement(
    assignments: DataFrame,
    labeled: DataFrame,
    id_col: str = "vec_id",
    cluster_col: str = "centroid_id",
    label_col: str = "label",
) -> DataFrame:
    """External cluster validation against ground-truth labels: PURITY
    (fraction of points whose cluster's majority label is theirs) and
    NMI (mutual information over sqrt(H(C) * H(L)) — the standard
    clustering-evaluation pair; Manning et al., IR book §16.3).

    Engine-exact: every probability is a ratio of exact integers; each
    entropy/MI term is 9dp-rounded and DECIMAL-summed (the token_entropy
    ln discipline), outputs at 6dp. NMI is NULL when either marginal
    entropy is zero (single cluster or single label — agreement is
    undefined, not 1.0).

    Scale shape: ONE equi-join on id, one (cluster, label) contingency
    aggregate (bounded by k * n_labels), then driver-free arithmetic on
    the bounded tables. Returns one row
    (n, n_clusters, n_labels, purity, nmi).
    """
    ct = (
        assignments.select(F.col(id_col).alias("__id"), F.col(cluster_col).alias("__c"))
        .join(
            labeled.select(
                F.col(id_col).alias("__id"), F.col(label_col).alias("__l")
            ),
            "__id",
        )
        .groupBy("__c", "__l")
        .agg(F.count(F.lit(1)).alias("__n"))
        .localCheckpoint(eager=False)
    )
    tot = ct.agg(F.sum("__n").alias("__N"))
    nc = ct.groupBy("__c").agg(F.sum("__n").alias("__nc"))
    nl = ct.groupBy("__l").agg(F.sum("__n").alias("__nl"))

    def _ent_sum(df, cnt):
        # -sum round9((m/N) * ln(m/N)), DECIMAL-summed
        term = F.round(
            (F.col(cnt) / F.col("__N"))
            * F.log(F.col(cnt).cast("double") / F.col("__N")),
            9,
        ).cast("decimal(20,9)")
        return (
            df.crossJoin(F.broadcast(tot))
            .agg((-F.sum(term).cast("decimal(38,9)").cast("double")).alias("h"))
        )

    hc = _ent_sum(nc, "__nc").select(F.col("h").alias("__hc"))
    hl = _ent_sum(nl, "__nl").select(F.col("h").alias("__hl"))
    # fresh name for ct's count on the join spine: every side of this
    # four-way self-join derives from ct, and resolving the original
    # "__n" by name is ambiguous across the shared lineage
    ct2 = ct.select(
        "__c", "__l", F.col("__n").alias("__nij")
    )
    mi_term = F.round(
        (F.col("__nij") / F.col("__N"))
        * F.log(
            (F.col("__nij").cast("double") * F.col("__N"))
            / (F.col("__nc").cast("double") * F.col("__nl"))
        ),
        9,
    ).cast("decimal(20,9)")
    mi = (
        ct2.join(F.broadcast(nc), "__c")
        .join(F.broadcast(nl), "__l")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(mi_term).cast("decimal(38,9)").cast("double").alias("__mi"),
            F.max("__N").alias("__N"),
            F.countDistinct("__c").alias("__kc"),
            F.countDistinct("__l").alias("__kl"),
        )
    )
    maj = (
        ct.groupBy("__c")
        .agg(F.max("__n").alias("__mx"))
        .agg(F.sum("__mx").alias("__maj"))
    )
    return (
        mi.crossJoin(F.broadcast(maj))
        .crossJoin(F.broadcast(hc))
        .crossJoin(F.broadcast(hl))
        .select(
            F.col("__N").cast("bigint").alias("n"),
            F.col("__kc").cast("int").alias("n_clusters"),
            F.col("__kl").cast("int").alias("n_labels"),
            F.round(F.col("__maj") / F.col("__N"), 6).alias("purity"),
            F.when(
                (F.col("__hc") > 0) & (F.col("__hl") > 0),
                F.round(
                    F.col("__mi") / F.sqrt(F.col("__hc") * F.col("__hl")), 6
                ),
            ).alias("nmi"),
        )
    )


def simplified_silhouette(
    df: DataFrame,
    vector_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """Simplified silhouette per cluster (Hruschka et al.'s centroid
    variant of Rousseeuw 1987): for each vector, ``a`` = euclidean
    distance to its OWN cluster centroid, ``b`` = distance to the nearest
    OTHER centroid, ``s = (b - a) / max(a, b)``. The O(n*k) audit of a
    labeling/clustering (full silhouette is O(n^2) — never at corpus
    scale); mean s per cluster localizes which clusters are mush.

    Engine-exactness discipline: per-dim centroid means are computed as
    DECIMAL sums of 9dp-rounded components with ONE double division,
    rounded to 9dp (the group_centroids convention); distances use the
    |x|^2 - 2x.c + |c|^2 expansion with sequential ``aggregate`` dot
    folds (the knn expr convention, = DuckDB list_inner_product); per-row
    a/b/s round to 6dp, then DECIMAL-mean per cluster.

    Plan: one posexplode -> (label, dim) aggregate builds the k x d
    centroid table (tiny by construction); vectors crossJoin the
    BROADCAST centroid table (BroadcastNestedLoopJoin on a k-row side —
    bounded, the knn recall-join shape) -> one groupBy(id) computes a
    and b together -> one groupBy(label) rollup. For throughput-critical
    big-k jobs use the ``_centroid_assign_gemm`` numpy path instead;
    this expression path is the oracle-exact audit.
    """
    cents = (
        df.select(F.col(label_col).alias("c_label"), F.posexplode(vector_col).alias("dim", "__v"))
        .groupBy("c_label", "dim")
        .agg(
            F.round(
                F.sum(F.round(F.col("__v").cast("double"), 9).cast("decimal(20,9)"))
                .cast("decimal(38,9)")
                .cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("__m")
        )
        .groupBy("c_label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "__m"))), lambda s: s["__m"]
            ).alias("__cent")
        )
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
        )

    x = F.col("__x")
    c = F.col("__cent")
    dist = F.sqrt(F.greatest(F.lit(0.0), dot(x, x) - 2 * dot(x, c) + dot(c, c)))
    pairs = (
        df.select(
            F.col(id_col).alias("__id"),
            F.col(label_col).alias("__lab"),
            F.col(vector_col).cast("array<double>").alias("__x"),
        )
        .crossJoin(F.broadcast(cents))
        .select(
            "__id",
            "__lab",
            (F.col("c_label") == F.col("__lab")).alias("__own"),
            dist.alias("__d"),
        )
    )
    per_vec = (
        pairs.groupBy("__id", "__lab")
        .agg(
            F.round(F.min(F.when(F.col("__own"), F.col("__d"))), 6).alias("a"),
            F.round(F.min(F.when(~F.col("__own"), F.col("__d"))), 6).alias("b"),
        )
        .withColumn(
            "s",
            F.when(
                F.greatest("a", "b") > 0,
                F.round((F.col("b") - F.col("a")) / F.greatest("a", "b"), 6),
            ).otherwise(F.lit(0.0)),
        )
    )

    def mean6(col):
        return F.round(
            F.sum(F.col(col).cast("decimal(20,9)")).cast("decimal(38,9)").cast("double")
            / F.count(F.lit(1)),
            6,
        )

    return (
        per_vec.groupBy(F.col("__lab").alias(label_col))
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            mean6("a").alias("mean_a"),
            mean6("b").alias("mean_b"),
            mean6("s").alias("mean_silhouette"),
        )
        .orderBy(label_col)
    )


def kcenter_select(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center (farthest-point) coreset selection: pick ``k``
    maximally-spread vectors — the classic 2-approximation to the k-center
    objective (Gonzalez 1985) and the standard diversity-driven
    data-selection / active-learning coreset (Sener & Savarese,
    "Active Learning for Convolutional Neural Networks: A Core-Set
    Approach", ICLR 2018). Returns ``(rank, <id_col>, sq_dist)`` where
    ``sq_dist`` is the selected point's squared L2 distance to the
    nearest previously-selected center at selection time (NULL for the
    seed; the LAST row's value is the coverage radius^2 achieved by the
    first k-1 centers).

    Determinism / exactness contract (what makes the gate oracle-able):
    the seed is the row with the smallest id; squared distances use the
    dot-product identity ``x.x - 2*x.c + c.c`` with every inner product a
    left-to-right double fold (bit-matching DuckDB's
    ``list_inner_product``, the knn_euclidean_topk discipline), clamped
    at 0 and rounded to 9dp; the next center is argmax of the running
    min-distance with ties toward the smallest id. An engine unrolling
    the same k steps reproduces every selection bit-for-bit.

    Scale shape: per selection ONE map-side projection over the corpus
    (distance to the single new center — the running min makes each
    round O(n*d), total O(n*k*d), never O(n*k^2*d)) plus ONE
    TakeOrderedAndProject(1); driver state is the k x d chosen table
    (the Lloyd/centroid-literal discipline, k and d both bounded).
    ``localCheckpoint`` cuts the per-round lineage. Corpus rows never
    hit the driver; each round's argmax collects exactly one row.
    Reference analogue: none (brief-driven data-selection operator).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from nbdatatools_spark.functions.distance import dot_product

    pts = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
    ).withColumn(
        "__ss", dot_product(F.col("__v"), F.col("__v"))
    ).localCheckpoint(eager=False)

    seed = pts.orderBy(F.asc("__id")).limit(1).collect()
    if not seed:
        spark = df.sparkSession
        return spark.createDataFrame(
            [], f"rank int, {id_col} {df.schema[id_col].dataType.simpleString()}, sq_dist double"
        )
    chosen = [(_plain_scalar(seed[0]["__id"]), list(seed[0]["__v"]), None)]

    def _sq_dist_to(center_vec: list) -> F.Column:
        # x.x - 2*x.c + c.c, every term a left-to-right double fold:
        # c.c folds driver-side over the same widened doubles, so all
        # three engines (Spark fold, Python fold, DuckDB
        # list_inner_product) agree bit-for-bit.
        c = [float(x) for x in center_vec]
        cc = 0.0
        for x in c:
            cc = cc + x * x
        xc = dot_product(F.col("__v"), F.array(*[F.lit(x) for x in c]))
        return F.round(
            F.greatest(F.lit(0.0), F.col("__ss") - 2.0 * xc + F.lit(cc)), 9
        )

    state = (
        pts.where(F.col("__id") != F.lit(chosen[0][0]))
        .withColumn("__mind", _sq_dist_to(chosen[0][1]))
        .localCheckpoint()
    )
    for _ in range(1, k):
        nxt = state.orderBy(F.desc("__mind"), F.asc("__id")).limit(1).collect()
        if not nxt:
            break
        row = nxt[0]
        chosen.append((_plain_scalar(row["__id"]), list(row["__v"]), float(row["__mind"])))
        state = (
            state.where(F.col("__id") != F.lit(chosen[-1][0]))
            .withColumn(
                "__mind", F.least(F.col("__mind"), _sq_dist_to(chosen[-1][1]))
            )
            .localCheckpoint()
        )
    spark = df.sparkSession
    id_type = df.schema[id_col].dataType.simpleString()
    return spark.createDataFrame(
        [(i + 1, cid, d) for i, (cid, _, d) in enumerate(chosen)],
        f"rank int, {id_col} {id_type}, sq_dist double",
    )


def _plain_scalar(v):
    """Pass ids through unchanged except numpy scalars -> Python ints
    (createDataFrame rejects numpy types on some Arrow paths)."""
    return v.item() if isinstance(v, np.generic) else v


def dbscan_from_pairs(
    points: DataFrame,
    pairs: DataFrame,
    min_pts: int = 4,
    id_col: str = "vec_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Density-based clustering (DBSCAN, Ester et al. 1996) from a
    precomputed epsilon-neighbor PAIR LIST — the neighbor-graph
    formulation: a point is CORE when its eps-neighborhood (itself
    included) holds >= ``min_pts`` points; clusters are the connected
    components of the core-core adjacency; non-core points with a core
    neighbor become BORDER points of their smallest core neighbor's
    cluster; everything else is NOISE.

    ``pairs`` supplies the eps-neighbor edges (id_a, id_b), one row per
    unordered pair — produced by ``dedup.embedding_near_dups`` (LSH
    blocking at corpus scale, ``method="exact"`` for audits) or any ANN
    join: the hubness/mutual-kNN convention of accepting precomputed
    neighbor inputs so the quadratic never lives here.

    Returns ``(id, cluster, role)`` for EVERY point in ``points``:
    cluster = the min point-id reachable through core points (NULL for
    noise), role in {'core','border','noise'}, ordered by id.

    Scale shape: one degree aggregate, one components run over the
    core-core subgraph (min-label propagation, O(diameter) rounds), two
    keyed joins for border assignment. Deterministic: cluster labels are
    min-ids, border ties take the smallest cluster label.
    """
    from nbdatatools_spark.operators.dedup import connected_components

    ids = points.select(F.col(id_col).alias("id")).distinct()
    # canonicalize to unordered pairs BEFORE distinct (the graph.py
    # kcore/assortativity convention): ANN joins commonly emit both
    # orientations (a,b) and (b,a), and counting each twice would
    # inflate degrees and promote non-core points to core silently
    edges = (
        pairs.select(
            F.least(F.col(id_a), F.col(id_b)).alias("a"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        edges.select(F.col("a").alias("id"))
        .unionAll(edges.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("__deg"))
    )
    # neighborhood includes the point itself
    core = deg.where(F.col("__deg") + 1 >= min_pts).select("id")
    core_a = core.withColumnRenamed("id", "a")
    core_b = core.withColumnRenamed("id", "b")
    core_edges = edges.join(core_a, "a", "left_semi").join(
        core_b, "b", "left_semi"
    )
    comp = connected_components(core_edges, id_a="a", id_b="b")
    # isolated core points (no core neighbor) are their own cluster
    core_lbl = (
        core.join(comp, comp["id"] == core["id"], "left")
        .select(core["id"], F.coalesce("component", core["id"]).alias("cluster"))
        .localCheckpoint(eager=False)
    )
    # border: non-core endpoint adjacent to a core point -> min cluster
    half = edges.unionAll(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    border = (
        half.join(
            core_lbl.select(F.col("id").alias("b"), "cluster"), "b"
        )
        .join(core_lbl.select(F.col("id").alias("a")), "a", "left_anti")
        .groupBy("a")
        .agg(F.min("cluster").alias("cluster"))
        .select(F.col("a").alias("id"), "cluster")
    )
    labeled = core_lbl.select("id", "cluster", F.lit("core").alias("role")).unionByName(
        border.select("id", "cluster", F.lit("border").alias("role"))
    )
    return (
        ids.join(labeled, "id", "left")
        .select(
            "id",
            "cluster",
            F.coalesce("role", F.lit("noise")).alias("role"),
        )
        .orderBy("id")
    )


def dbscan(
    df: DataFrame,
    eps_cosine: float = 0.05,
    min_pts: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "lsh",
    dim: int | None = None,
    n_bits: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """DBSCAN over an embedding column: eps-neighbors are pairs with
    cosine similarity >= 1 - ``eps_cosine`` from
    ``dedup.embedding_near_dups`` (LSH blocking by default — the corpus
    path, which needs ``dim``/``n_bits``/``n_tables`` forwarded to the
    hyperplane signatures; ``method="exact"`` for bounded audits), then
    the ``dbscan_from_pairs`` graph phase."""
    from nbdatatools_spark.operators.dedup import embedding_near_dups

    pairs = embedding_near_dups(
        df,
        id_col=id_col,
        vec_col=vec_col,
        threshold=1.0 - eps_cosine,
        method=method,
        dim=dim,
        n_bits=n_bits,
        n_tables=n_tables,
        seed=seed,
    )
    return dbscan_from_pairs(df, pairs, min_pts=min_pts, id_col=id_col)


def calinski_harabasz(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """Calinski-Harabasz variance-ratio criterion (Calinski & Harabasz
    1974) over a grouped embedding column — the third internal
    clustering-quality lens next to ``simplified_silhouette`` (sampled,
    point-grain) and ``davies_bouldin`` (worst-pair, cluster-grain): CH
    is the GLOBAL variance ratio (B/(k-1)) / (W/(n-k)) with B = sum_k
    n_k * ||c_k - c||^2 (between-cluster dispersion about the global
    centroid) and W = sum_x ||x - c_x||^2 (within-cluster dispersion) —
    higher is better-separated, and unlike silhouette it is exact in
    two passes with no pairwise term.

    Returns ONE row ``(k, n, between_ss, within_ss, ch_index)`` at 6dp.
    Degenerate inputs (k < 2 or n <= k, where a variance ratio does not
    exist) return NULL ch_index with the dispersions still reported.

    Exactness: cluster centroids are the 6dp ``group_centroids`` means;
    the global centroid re-derives from the SAME 6dp cluster table as
    the n_k-weighted mean at 6dp (so the oracle never touches raw rows
    twice); every squared term is 9dp-rounded and DECIMAL-summed.

    Scale shape: ONE posexplode aggregate for centroids (k x d cells),
    one broadcast join of centroid arrays back to the rows for W
    (map-side distance + scalar aggregate), and a k x d-bounded
    driver-free aggregate for B. Corpus rows are scanned twice; nothing
    shuffles on a corpus-sized key.
    """
    cent_long = group_centroids(df, group_col, vec_col=vec_col)
    dterm = F.round(F.col("mean") * F.col("n_vectors"), 9).cast(
        "decimal(30,9)"
    )
    glob = (
        cent_long.groupBy("dim")
        .agg(
            F.sum("n_vectors").alias("__n"),
            F.sum(dterm).cast("decimal(38,9)").alias("__s"),
        )
        .select(
            "dim",
            F.round(F.col("__s").cast("double") / F.col("__n"), 6).alias(
                "gmean"
            ),
        )
    )
    bterm = F.round(
        F.col("n_vectors")
        * (F.col("mean") - F.col("gmean"))
        * (F.col("mean") - F.col("gmean")),
        9,
    ).cast("decimal(30,9)")
    b_ss = (
        cent_long.join(glob, "dim")
        .agg(
            F.sum(bterm).cast("decimal(38,9)").cast("double").alias("b"),
            F.count_distinct(group_col).alias("k"),
        )
    )
    cent = cent_long.groupBy(group_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mean"))),
            lambda s: s["mean"],
        ).alias("__c"),
    )
    wterm = F.round(
        F.aggregate(
            F.zip_with(
                F.col("__v"),
                F.col("__c"),
                lambda x, y: F.round((x - y) * (x - y), 9),
            ),
            F.lit("0").cast("decimal(30,9)"),
            lambda acc, t: (acc + t.cast("decimal(30,9)")).cast(
                "decimal(30,9)"
            ),
        ).cast("double"),
        9,
    ).cast("decimal(30,9)")
    w_ss = (
        df.select(
            F.col(group_col).alias("__g"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        )
        .join(
            F.broadcast(cent.select(F.col(group_col).alias("__g"), "__c")),
            "__g",
        )
        .agg(
            F.sum(wterm).cast("decimal(38,9)").cast("double").alias("w"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return (
        b_ss.crossJoin(F.broadcast(w_ss))
        .select(
            F.col("k").cast("int").alias("k"),
            F.col("n").cast("bigint").alias("n"),
            (F.round("b", 6) + 0.0).alias("between_ss"),
            (F.round("w", 6) + 0.0).alias("within_ss"),
            (
                F.round(
                    F.when(
                        (F.col("k") >= 2)
                        & (F.col("n") > F.col("k"))
                        & (F.col("w") > 0.0),
                        (F.col("b") / (F.col("k") - 1))
                        / (F.col("w") / (F.col("n") - F.col("k"))),
                    ),
                    6,
                )
                + 0.0
            ).alias("ch_index"),
        )
    )


def hopkins_statistic(
    df: DataFrame,
    m: int = 30,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Hopkins clusterability statistic (Hopkins & Skellam 1954; the
    Lawson & Jurs 1990 formulation): compare the 1-NN distance of ``m``
    UNIFORM probe points (drawn in the data's per-dimension bounding
    box) against the 1-NN distance of ``m`` sampled REAL points (to the
    rest of the data, self excluded). H = sum(u) / (sum(u) + sum(w)) —
    H near 0.5 means the data looks uniform (no cluster structure), H
    near 1.0 means strongly clustered. The standard pre-flight check
    before paying for k-means/DBSCAN on an embedding corpus.

    Determinism (what makes the gate hash-replicable): real probes are
    the ``m`` smallest ``sample_hash(id, seed)`` rows (the bottom-k
    reservoir convention); uniform probes take, per (probe j, dim i),
    the fraction md5(seed:j:i-prefix-13-hex)/2^52 of the [min_i, max_i]
    span, rounded to 6dp — a pure function of (seed, j, i) that any
    engine replays. Distances use the repo's 9dp-rounded-term DECIMAL
    Euclidean fold.

    Returns ONE row ``(m, n, sum_u, sum_w, hopkins)`` at 6dp; inputs
    with n <= m (no "rest of the data" to measure against) return NULL
    hopkins.

    Scale shape: both probe sets are m-row BROADCAST sides joined
    against the full corpus (map-side distance, min-aggregate per
    probe) — 2 corpus scans, no corpus-keyed shuffle, driver state is
    the 2m probe rows plus the d-row bounding box.
    """
    from nbdatatools_spark.operators.sampling import sample_hash

    if m <= 0:
        raise ValueError(f"m must be positive, got {m}")
    rows = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    real = (
        rows.withColumn("__h", sample_hash(F.col("__id"), seed))
        .orderBy(F.col("__h").asc(), F.col("__id"))
        .limit(m)
        .select(F.col("__id").alias("__pid"), F.col("__v").alias("__p"))
    )
    # per-dim bounding box of the corpus (d-row aggregate)
    box = (
        rows.select(F.posexplode("__v").alias("dim", "x"))
        .groupBy("dim")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    )
    # uniform probes: fraction_{j,i} = md5-uint52(seed:j:dim)/2^52 of
    # the span — deterministic, engine-portable (same 13-hex-char
    # convention as sample_hash)
    probes = df.sparkSession.range(m).select(
        F.col("id").alias("__pid")
    )
    frac = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.lit(str(seed)),
                        F.col("__pid").cast("string"),
                        F.col("dim").cast("string"),
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(1 << 52))
    )
    uni = (
        probes.crossJoin(box)
        .select(
            "__pid",
            "dim",
            F.round(F.col("lo") + frac * (F.col("hi") - F.col("lo")), 6).alias(
                "u"
            ),
        )
        .groupBy("__pid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "u"))),
                lambda s: s["u"],
            ).alias("__p")
        )
    )

    def _d2(a, b):
        return F.sqrt(
            F.aggregate(
                F.zip_with(a, b, lambda x, y: F.round((x - y) * (x - y), 9)),
                F.lit("0").cast("decimal(30,9)"),
                lambda acc, t: (acc + t.cast("decimal(30,9)")).cast(
                    "decimal(30,9)"
                ),
            ).cast("double")
        )

    def _nn_sum(pr: DataFrame, exclude_self: bool) -> DataFrame:
        j = rows.join(F.broadcast(pr), F.lit(True))
        if exclude_self:
            j = j.where(F.col("__id") != F.col("__pid"))
        return (
            j.select(
                "__pid",
                F.round(_d2(F.col("__v"), F.col("__p")), 9).alias("__d"),
            )
            .groupBy("__pid")
            .agg(F.min("__d").alias("__nn"))
            .agg(
                F.sum(F.col("__nn").cast("decimal(30,9)"))
                .cast("decimal(38,9)")
                .cast("double")
                .alias("s"),
                F.count(F.lit(1)).alias("np"),
            )
        )
    su = _nn_sum(uni, exclude_self=False).select(
        F.col("s").alias("su"), F.col("np").alias("mu")
    )
    sw = _nn_sum(real, exclude_self=True).select(
        F.col("s").alias("sw"), F.col("np").alias("mw")
    )
    n_total = rows.agg(F.count(F.lit(1)).alias("n"))
    return (
        su.crossJoin(F.broadcast(sw))
        .crossJoin(F.broadcast(n_total))
        .select(
            F.least("mu", "mw").cast("int").alias("m"),
            F.col("n").cast("bigint").alias("n"),
            (F.round("su", 6) + 0.0).alias("sum_u"),
            (F.round("sw", 6) + 0.0).alias("sum_w"),
            (
                F.round(
                    F.when(
                        (F.col("n") > F.col("mw"))
                        & (F.col("su") + F.col("sw") > 0.0),
                        F.col("su") / (F.col("su") + F.col("sw")),
                    ),
                    6,
                )
                + 0.0
            ).alias("hopkins"),
        )
    )
