"""The three benchmark workloads.

Each workload builds its inputs from the seed in ``setup`` (vectors through
the program's own ``datagen``, except the knn_gt base), prepares the numpy
answer it expects, and splits one pass over its inputs into ops. ``run_op``
is the timed part: calls into the program, each inside a tracer span named
after the layer it enters. ``check`` is the untimed oracle. Lazy Spark
results are materialised inside the span of the layer that produced them, so
a layer's span holds its own Spark jobs.
"""

from __future__ import annotations

import json
import math
import os
import re

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from nbdatatools_spark import datagen
from nbdatatools_spark.operators import dedup, hybrid, knn
from nbdatatools_spark.predicates import pnode
from nbdatatools_spark.sources import xvec

from perfbench import oracles


def _mb(*paths: str) -> float:
    return sum(os.path.getsize(p) for p in paths) / 1e6


def _generate(spark, tracer, count: int, dim: int, seed: int, **kw):
    """datagen span: generate and materialise ``count`` vectors."""
    with tracer.span("datagen.generate", vectors=count):
        df = datagen.generate_vectors(spark, count, dim, seed=seed, **kw).persist()
        df.count()
    return df


def _write_xvec(tracer, df, path: str) -> None:
    with tracer.span("sources.xvec.write") as s:
        xvec.write_xvec(df, path)
    if s:
        s.counts["write_mb"] = _mb(path)


def _collect_vectors(df) -> np.ndarray:
    """Benchmark-side copy of a (ordinal, vector) DataFrame, ordinal order."""
    t = df.orderBy("ordinal").toArrow()
    return np.asarray(t.column("vector").combine_chunks().flatten(), dtype=np.float32).reshape(
        t.num_rows, -1
    )


class KnnGt:
    """Dense ``compute knn`` answer key, one op per 100-query profile window:
    read the base and query fvecs, exact cosine KNN on the GEMM path, write
    the window's indices.ivec and distances.fvec, read them back and run
    knn_recall against the oracle's key."""

    name = "knn_gt"
    N, DIM, QUERIES, WINDOW, K = 20_000, 256, 200, 100, 100

    def __init__(self, spark, tracer, workdir: str, seed: int) -> None:
        self.spark, self.tracer, self.dir, self.seed = spark, tracer, workdir, seed
        self.base_path = os.path.join(workdir, "base.fvec")
        self.query_path = os.path.join(workdir, "query.fvec")

    def describe(self) -> dict:
        return {"base": [self.N, self.DIM], "base_source": "numpy standard normal",
                "queries": self.QUERIES, "query_source": "datagen", "window": self.WINDOW,
                "k": self.K, "metric": "cosine", "format": "fvec"}

    def setup(self) -> None:
        # The base is written by numpy, not datagen: datagen needs ~0.15 ms a
        # vector here, which three setup reps of a run cannot afford, and a
        # foreign writer also checks read_xvec against the format itself.
        rng = np.random.default_rng([self.seed, 1])
        self.base = rng.standard_normal((self.N, self.DIM), dtype=np.float32)
        with open(self.base_path, "wb") as f:
            f.write(oracles.xvec_bytes(self.base, "<f4"))
        df = _generate(self.spark, self.tracer, self.QUERIES, self.DIM, self.seed * 10 + 2)
        _write_xvec(self.tracer, df, self.query_path)
        df.unpersist()
        queries = oracles.read_xvec_np(self.query_path, "<f4")
        self.expected, truth = {}, []
        for lo in range(0, self.QUERIES, self.WINDOW):
            keys, kth = oracles.answer_key(self.base, queries[lo:lo + self.WINDOW], self.K)
            for i, key in enumerate(keys):
                self.expected[lo + i] = (queries[lo + i], kth[i], None)
                truth.append((lo + i, key.tolist()))
        self.truth_sets = {q: set(key) for q, key in truth}
        self.truth = self.spark.createDataFrame(
            pd.DataFrame(truth, columns=["ordinal", "indices"])
        ).persist()
        self.truth.count()

    def ops(self) -> list[int]:
        return list(range(0, self.QUERIES, self.WINDOW))

    def run_op(self, lo: int):
        t, spark = self.tracer, self.spark
        hi = lo + self.WINDOW
        idx_path = os.path.join(self.dir, f"indices.{lo}.ivec")
        dist_path = os.path.join(self.dir, f"distances.{lo}.fvec")
        with t.span("sources.xvec.read", read_mb=_mb(self.base_path, self.query_path)):
            base = xvec.read_xvec(spark, self.base_path)
            queries = xvec.read_xvec(spark, self.query_path).where(
                F.col("ordinal").between(lo, hi - 1)
            )
        with t.span("operators.knn.exact", flop=2.0 * self.N * self.DIM * (self.WINDOW + 1),
                    base_mb_scanned=self.N * self.DIM * 4 / 1e6):
            res = knn.exact_knn(queries, base, self.K, metric="cosine").persist()
            res.count()
        with t.span("sources.xvec.write") as s:
            xvec.write_xvec(
                res.select("ordinal", F.col("indices").cast("array<int>").alias("vector")), idx_path
            )
            xvec.write_xvec(
                res.select("ordinal", F.col("distances").cast("array<float>").alias("vector")),
                dist_path,
            )
        if s:
            s.counts["write_mb"] = _mb(idx_path, dist_path)
        res.unpersist()
        with t.span("sources.xvec.read", read_mb=_mb(idx_path, dist_path)):
            indices = xvec.read_xvec(spark, idx_path, ordinal_start=lo)
            got_idx = indices.toArrow()
            got_dist = xvec.read_xvec(spark, dist_path, ordinal_start=lo).toArrow()
        with t.span("operators.knn.recall"):
            recall = knn.knn_recall(
                indices.withColumnRenamed("vector", "indices"), self.truth, self.K
            ).collect()[0]
        return self.WINDOW, (got_idx, got_dist, recall)

    def _rows(self, out):
        got_idx, got_dist, _ = out
        dist = dict(zip(got_dist.column("ordinal").to_pylist(), got_dist.column("vector").to_pylist()))
        return [(o, v, dist.get(o, [])) for o, v in
                zip(got_idx.column("ordinal").to_pylist(), got_idx.column("vector").to_pylist())]

    def check(self, lo: int, out) -> list[str]:
        rows = self._rows(out)
        want = {q: self.expected[q] for q in range(lo, lo + self.WINDOW)}
        problems = oracles.check_answer_key(rows, want, self.base, self.K)
        recall = np.mean([len(self.truth_sets[o] & set(i)) / self.K for o, i, _ in rows]) if rows else 0.0
        got = out[2]
        if got["n_queries"] != self.WINDOW or abs(got["mean_recall"] - recall) > 1e-12:
            problems.append(f"knn_recall {got['mean_recall']} over {got['n_queries']} "
                            f"!= numpy {recall} over {self.WINDOW}")
        return problems

    def self_check(self, lo: int, out) -> dict:
        want = {q: self.expected[q] for q in range(lo, lo + self.WINDOW)}
        return oracles.self_check_answer_key(self._rows(out), want, self.base, self.K)


COLORS = ("red", "orange", "yellow", "green", "blue", "indigo", "violet", "black", "white", "grey")
TAGS = np.array([f"{c}-{n:02d}" for c in COLORS for n in range(100)])
PRICES = 10_000


def _leaf(field: str, op: str, *values) -> dict:
    return {"fieldName": field, "op": op, "values": [v.item() if hasattr(v, "item") else v
                                                     for v in values]}


def _price_range(rng, width: int) -> dict:
    width = int(min(max(width, 1), PRICES))
    lo = int(rng.integers(0, PRICES - width + 1))
    return {"op": "AND", "nodes": [_leaf("price", "GE", lo), _leaf("price", "LT", lo + width)]}


def make_predicate(rng, kind: int, s: float) -> dict:
    """A PNode JSON tree of shape ``kind`` (0-3) over ``price`` (int) and
    ``tag`` (string) aiming at selectivity ``s``; the caller measures the
    real selectivity."""
    if kind == 0:
        return _price_range(rng, round(s * PRICES))
    if kind == 1:
        m = max(1, round(s * len(TAGS)))
        return _leaf("tag", "IN", *rng.choice(TAGS, m, replace=False))
    if kind == 2:
        c = int(rng.integers(math.ceil(s * len(COLORS)), len(COLORS) + 1))
        colors = "|".join(rng.choice(COLORS, c, replace=False))
        return {"op": "AND", "nodes": [_leaf("tag", "MATCHES", f"({colors})-[0-9]{{2}}"),
                                       _price_range(rng, round(s * PRICES * len(COLORS) / c))]}
    tens = int(min(max(round(s * 50) - 1, 0), 9))
    return {"op": "OR", "nodes": [
        _leaf("price", "IN", *rng.choice(PRICES, max(1, min(100, round(s * PRICES / 2))),
                                         replace=False)),
        _leaf("tag", "MATCHES", f"{rng.choice(COLORS)}-[0-{tens}][0-9]"),
    ]}


def predicate_mask(node: dict, price: np.ndarray, tag_id: np.ndarray) -> np.ndarray:
    """numpy evaluation of a PNode JSON tree (the filtered oracle)."""
    if node["op"] in ("AND", "OR"):
        masks = [predicate_mask(n, price, tag_id) for n in node["nodes"]]
        return np.logical_and.reduce(masks) if node["op"] == "AND" else np.logical_or.reduce(masks)
    op, vals = node["op"], node["values"]
    if node["fieldName"] == "price":
        return {"GE": lambda: price >= vals[0], "LT": lambda: price < vals[0],
                "IN": lambda: np.isin(price, vals)}[op]()
    if op == "IN":
        hit = np.isin(TAGS, vals)
    else:  # MATCHES: full-string regex match
        hit = np.array([re.fullmatch(vals[0], t) is not None for t in TAGS])
    return hit[tag_id]


class FilteredGt:
    """Hybrid answer key: each query vector paired with a predicate; one op
    parses a batch of predicates, builds their result_indices facet and the
    filtered top-k answer key."""

    name = "filtered_gt"
    N, DIM, PAIRS, BATCH, K = 10_000, 64, 50, 10, 10
    SEL_LO, SEL_HI = 0.005, 0.25
    SEL_BINS = (0.005, 0.01, 0.02, 0.05, 0.1, 0.25)

    def __init__(self, spark, tracer, workdir: str, seed: int) -> None:
        self.spark, self.tracer, self.seed = spark, tracer, seed

    def setup(self) -> None:
        spark, t = self.spark, self.tracer
        self.base = _generate(spark, t, self.N, self.DIM, self.seed * 10 + 1)
        self.queries = _generate(spark, t, self.PAIRS, self.DIM, self.seed * 10 + 2)
        rng = np.random.default_rng([self.seed, 2])
        price = rng.integers(0, PRICES, self.N)
        tag_id = rng.integers(0, len(TAGS), self.N)
        self.meta = spark.createDataFrame(pd.DataFrame(
            {"ordinal": np.arange(self.N, dtype=np.int64), "price": price, "tag": TAGS[tag_id]}
        )).persist()
        self.meta.count()
        # Every batch gets the same spread: predicate j of a batch has shape
        # j % 4 and a target selectivity in the j-th of BATCH log-spaced
        # strata, so the work per op does not depend on the seed.
        self.predicates, self.masks = [], {}
        lo, hi = math.log(self.SEL_LO), math.log(self.SEL_HI)
        while len(self.predicates) < self.PAIRS:
            j = len(self.predicates) % self.BATCH
            s = math.exp(lo + (j + rng.uniform()) / self.BATCH * (hi - lo))
            node = make_predicate(rng, j % 4, s)
            mask = predicate_mask(node, price, tag_id)
            if self.SEL_LO <= mask.mean() <= self.SEL_HI and mask.sum() >= self.K:
                self.masks[len(self.predicates)] = mask
                self.predicates.append(json.dumps(node))
        base, queries = _collect_vectors(self.base), _collect_vectors(self.queries)
        self.base_np = base
        allowed = np.stack([self.masks[i] for i in range(self.PAIRS)])
        _, kth = oracles.answer_key(base, queries, self.K, allowed)
        self.expected = {i: (queries[i], kth[i], allowed[i]) for i in range(self.PAIRS)}

    def describe(self) -> dict:
        sel = np.array([self.masks[i].mean() for i in range(self.PAIRS)])
        hist, _ = np.histogram(sel, bins=self.SEL_BINS)
        return {"base": [self.N, self.DIM], "pairs": self.PAIRS, "batch": self.BATCH,
                "k": self.K, "metric": "cosine",
                "fields": {"price": f"int [0,{PRICES})", "tag": f"{len(TAGS)} strings"},
                "selectivity_bins": list(self.SEL_BINS), "selectivity_hist": hist.tolist()}

    def ops(self) -> list[int]:
        return list(range(0, self.PAIRS, self.BATCH))

    def run_op(self, lo: int):
        t = self.tracer
        ids = range(lo, lo + self.BATCH)
        with t.span("predicates.parse", count=self.BATCH):
            pairs = [(i, pnode.parse_pnode(self.predicates[i])) for i in ids]
        with t.span("operators.hybrid.result_indices") as s:
            matches = hybrid.result_indices_table(self.meta, pairs).toArrow()
        if s:
            n_match = sum(len(m) for m in matches.column("matches").to_pylist())
            s.counts["match_fraction"] = n_match / (self.BATCH * self.N)
        with t.span("operators.hybrid.ground_truth"):
            queries = self.queries.where(F.col("ordinal").between(lo, lo + self.BATCH - 1))
            key = hybrid.hybrid_ground_truth(queries, self.base, self.meta, pairs, self.K).toArrow()
        return self.BATCH, (matches, key)

    def _rows(self, key):
        return list(zip(key.column("ordinal").to_pylist(), key.column("indices").to_pylist(),
                        key.column("distances").to_pylist()))

    def check(self, lo: int, out) -> list[str]:
        matches, key = out
        ids = range(lo, lo + self.BATCH)
        problems = oracles.check_matches(
            list(zip(matches.column("ordinal").to_pylist(), matches.column("matches").to_pylist())),
            {i: self.masks[i] for i in ids},
        )
        want = {i: self.expected[i] for i in ids}
        return problems + oracles.check_answer_key(self._rows(key), want, self.base_np, self.K)

    def self_check(self, lo: int, out) -> dict:
        want = {i: self.expected[i] for i in range(lo, lo + self.BATCH)}
        return oracles.self_check_answer_key(self._rows(out[1]), want, self.base_np, self.K)


class DatasetPrep:
    """``generate`` then ``cleanfvec`` then ``convert``, one op per shard:
    generate_vectors -> fvec; read_xvec -> clean_vectors -> Parquet;
    Parquet -> mvec."""

    name = "dataset_prep"
    SHARD, DIM, SHARDS = 4_000, 256, 2
    ZEROES = DUPLICATES = 0.01

    def __init__(self, spark, tracer, workdir: str, seed: int) -> None:
        self.spark, self.tracer, self.dir, self.seed = spark, tracer, workdir, seed

    def setup(self) -> None:
        """Nothing to prepare: every op generates its own shard."""
        self.measured = {}

    def describe(self) -> dict:
        zeros = sum(z for z, _ in self.measured.values())
        dups = sum(d for _, d in self.measured.values())
        n = self.SHARD * max(len(self.measured), 1)
        return {"shard": [self.SHARD, self.DIM], "shards": self.SHARDS,
                "zeroes_proportion": self.ZEROES, "duplicates_proportion": self.DUPLICATES,
                "measured_zero_fraction": zeros / n, "measured_duplicate_fraction": dups / n,
                "formats": "fvec -> parquet -> mvec"}

    def ops(self) -> list[int]:
        return list(range(self.SHARDS))

    def _paths(self, shard: int):
        return (os.path.join(self.dir, f"shard{shard}.{ext}") for ext in ("fvec", "parquet", "mvec"))

    def run_op(self, shard: int):
        spark, t = self.spark, self.tracer
        fvec, parquet, mvec = self._paths(shard)
        gen = _generate(spark, t, self.SHARD, self.DIM, self.seed * 100 + shard,
                        zeroes_proportion=self.ZEROES, duplicates_proportion=self.DUPLICATES)
        _write_xvec(t, gen, fvec)
        gen.unpersist()
        with t.span("sources.xvec.read", read_mb=_mb(fvec)):
            vectors = xvec.read_xvec(spark, fvec).persist()
            vectors.count()
        with t.span("operators.dedup.clean") as s:
            clean = dedup.clean_vectors(vectors).persist()
            kept = clean.count()
        if s:
            s.counts["kept_ratio"] = kept / self.SHARD
        with t.span("sources.parquet.write"):
            clean.write.mode("overwrite").parquet(parquet)
        vectors.unpersist()
        clean.unpersist()
        _write_xvec(t, spark.read.parquet(parquet), mvec)
        return self.SHARD, kept

    def check(self, shard: int, kept: int) -> list[str]:
        fvec, _, mvec = self._paths(shard)
        problems, want_count, want, zeros, dups = oracles.prep_expectation(
            fvec, self.SHARD, self.DIM
        )
        self.measured[shard] = (zeros, dups)
        with open(mvec, "rb") as f:
            return problems + oracles.check_prep(f.read(), kept, want_count, want)

    def self_check(self, shard: int, kept: int) -> dict:
        with open(list(self._paths(shard))[2], "rb") as f:
            return oracles.self_check_prep(f.read(), kept)


WORKLOADS = {w.name: w for w in (KnnGt, FilteredGt, DatasetPrep)}


def probe(spark, tracer, workdir: str, layers: set[str]) -> None:
    """Call each of ``layers`` once on a fixed tiny input, so the traced run
    reports a measured figure for layers its workload does not exercise."""
    tiny = _generate(spark, tracer, 256, 8, 7, zeroes_proportion=0.05, duplicates_proportion=0.05)
    path = os.path.join(workdir, "probe.fvec")
    if "sources.xvec" in layers:
        _write_xvec(tracer, tiny, path)
        with tracer.span("sources.xvec.read", read_mb=_mb(path)):
            xvec.read_xvec(spark, path).count()
    if "operators.knn" in layers:
        queries = tiny.where("ordinal < 8")
        with tracer.span("operators.knn.exact", flop=2.0 * 256 * 8 * 9, base_mb_scanned=256 * 8 * 4 / 1e6):
            res = knn.exact_knn(queries, tiny, 5).persist()
            res.count()
        with tracer.span("operators.knn.recall"):
            knn.knn_recall(res, res, 5).collect()
        res.unpersist()
    if layers & {"predicates", "operators.hybrid"}:
        meta = tiny.select("ordinal", (F.col("ordinal") % 10).alias("price"))
        with tracer.span("predicates.parse", count=1):
            pairs = [(0, pnode.parse_pnode(json.dumps(_leaf("price", "LT", 5))))]
        with tracer.span("operators.hybrid.result_indices") as s:
            matches = hybrid.result_indices_table(meta, pairs).collect()
        s.counts["match_fraction"] = len(matches[0]["matches"]) / 256
        with tracer.span("operators.hybrid.ground_truth"):
            hybrid.hybrid_ground_truth(tiny.where("ordinal = 0"), tiny, meta, pairs, 5).collect()
    if "operators.dedup" in layers:
        with tracer.span("operators.dedup.clean") as s:
            kept = dedup.clean_vectors(tiny).count()
        s.counts["kept_ratio"] = kept / 256
    if "sources.parquet" in layers:
        with tracer.span("sources.parquet.write"):
            tiny.write.mode("overwrite").parquet(os.path.join(workdir, "probe.parquet"))
    tiny.unpersist()
