"""Continuity benchmark at the reference's JMH harness scale
(VectorDataBulkAccessBenchmark.java:90-108: 100k records x dim 256, 1k
queries, seed 42). Records the reference-shaped metrics BASELINE.md §3 calls
for. Prints one JSON line.

Usage: python scripts/bench_reference_scale.py [outdir]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from nbdatatools_spark.datagen import generate_vectors
from nbdatatools_spark.operators.dedup import clean_vectors
from nbdatatools_spark.operators.hybrid import result_indices_table
from nbdatatools_spark.operators.knn import exact_knn, verify_knn
from nbdatatools_spark.session import get_spark
from nbdatatools_spark.sources.xvec import read_xvec, write_xvec

N_BASE, N_QUERY, DIM, K = 100_000, 1_000, 256, 100


def main() -> None:
    outdir = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="refscale_")
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("reference-scale-bench")
    spark.sparkContext.setLogLevel("ERROR")
    results: dict[str, float] = {}

    base = generate_vectors(
        spark, N_BASE, DIM, seed=42, zeroes_proportion=0.01, duplicates_proportion=0.01
    ).persist()
    base.count()
    queries = generate_vectors(spark, N_QUERY, DIM, seed=43).persist()
    queries.count()

    # 1. fvec egress + ingest (mirrors sequential range-scan throughput)
    fvec_path = os.path.join(outdir, "base.fvec")
    t0 = time.time()
    write_xvec(base, fvec_path)
    results["fvec_write_sec"] = round(time.time() - t0, 2)
    t0 = time.time()
    ingested = read_xvec(spark, fvec_path)
    n = ingested.count()
    dt = time.time() - t0
    results["fvec_ingest_sec"] = round(dt, 2)
    results["fvec_ingest_vectors_per_sec"] = round(n / dt)

    # 2. exact KNN, cosine, k=100 (compute knn / J2) — GEMM kernel
    t0 = time.time()
    truth = exact_knn(queries, base, k=K, metric="cosine", impl="gemm").persist()
    truth.count()
    results["knn_1k_x_100k_cosine_k100_sec"] = round(time.time() - t0, 2)

    # 3. verify_knn defaults: sample 100, k=10 (03-cli-reference.md:201-218)
    t0 = time.time()
    r = verify_knn(queries, base, truth, k=10, sample_size=100).collect()[0]
    results["verify_knn_sample100_k10_sec"] = round(time.time() - t0, 2)
    results["verify_knn_mean_recall"] = round(r["mean_recall"], 6)

    # 4. predicate result_indices materialization, 1k predicates x 100k rows
    meta = base.select(
        F.col("ordinal"),
        (F.xxhash64("ordinal", F.lit(1)) % 100).alias("number"),
        F.concat(F.lit("name_"), (F.xxhash64("ordinal", F.lit(2)) % 100).cast("string")).alias(
            "name"
        ),
    ).persist()
    meta.count()
    preds = []
    for i in range(1_000):
        lo = i % 90
        preds.append(
            (
                i,
                '{"op":"AND","nodes":[{"fieldName":"number","op":"GE","values":[%d]},'
                '{"fieldName":"number","op":"LT","values":[%d]}]}' % (lo - 50, lo + 5),
            )
        )
    t0 = time.time()
    ri = result_indices_table(meta, preds)
    n_preds = ri.count()
    results["predicate_result_indices_1k_sec"] = round(time.time() - t0, 2)
    results["predicate_result_indices_rows"] = n_preds

    # 4b. embedding analytics at full dim: gramian covariance + PCA
    # (impl="gemm": per-partition X^T X partials, driver eigh on d^2)
    from nbdatatools_spark.operators.analysis import pca_top_components

    t0 = time.time()
    vals, _comps = pca_top_components(base, "vector", k=4, impl="gemm")
    results["pca_cov256_gemm_sec"] = round(time.time() - t0, 2)
    results["pca_explained_top4"] = [round(v, 4) for v in vals]

    # 5. cleanfvec (zero+dup removal) throughput
    t0 = time.time()
    kept = clean_vectors(base).count()
    dt = time.time() - t0
    results["cleanfvec_sec"] = round(dt, 2)
    results["cleanfvec_vectors_per_sec"] = round(N_BASE / dt)
    results["cleanfvec_kept"] = kept

    results["scale"] = f"{N_BASE}x{DIM}d, {N_QUERY} queries, seed 42"
    print(json.dumps(results))


if __name__ == "__main__":
    main()
