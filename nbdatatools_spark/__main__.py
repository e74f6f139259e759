"""``python -m nbdatatools_spark`` — the CLI surface of the engine, mirroring
the reference's ``nbvectors`` command tree (reference README.md:32-99) so a
reference user can run the same commands against the Spark engine:

    analyze count_zeros|describe|select|slice|find|check-endian
            |verify_knn|verify_profiles|tune_ann|tune_compression
            |sq8-error|silhouette|hubness|robust-scale|cka
            |cluster_purity|knn_accuracy|calinski-harabasz|hopkins
            |lof|link-prediction|distinct-ngrams|temperature|ece|sinkhorn|hill
            |lsh-tradeoff|gwet|auc-ci
    compute knn|sort|ivf_build|ivf_append|ivf_search|kmeans|mutual-knn
    convert file
    generate vectors|dataset|mktestdata|fvec-extract|ivec-extract|ivec-shuffle
             |denoising-pairs
    merkle create|verify|summary|diff|path|treeview|spoilbits|spoilchunks
    catalog
    datasets list|download|plan|curlify|prebuffer
    vectordata info|views|profiles|size|sample|cat|prebuffer|verify
    corpus stats|run|tune_dedup|cluster_sizes|dedup_savings|source_contamination
        |select_budget|card|keyphrases
           |kneser_ney|train_unigram|train_wordpiece|train_sentencepiece
           |fertility_sweep|pack_audit|richness|rarity
           |calibrate_minhash|balance|qc
           |length_drift|cms_topk|bloom_decontam|source_similarity
           |boilerplate|filter_eval|cross_dedup|sentence_dedup
           |temperature_mix|containment|fineweb|reservoir
           |kn_perplexity|score_psi|card_diff|mink_prob\n           |funnel|slice_perplexity
           (report / pipeline / tuning / audits / hygiene / tokenizers)
    media hash|near_dups|stats (perceptual-hash image dedup, metadata)
    slab get|namespaces|check|analyze|import|append|export|rewrite
        (byte-compatible slabtastic .slab files — cli/CMD_slab_*.java)
    events seasonal|cusum|mad|concurrency|triangles|theil_sen|bootstrap_ci
           |dp_counts|k_anonymity
    fetch dlhf (Hugging Face dataset download; gated on huggingface_hub)
    explain (physical plan + Catalyst cost estimates for any gate query)
    cleanup cleanfvec
    version

Vector I/O dispatches on extension: ``.fvec/.ivec/.bvec/.dvec/.svec/.mvec``
via the xvec codecs, ``.parquet`` as an (ordinal, vector) table. Analysis
commands print one JSON object per result row; exit code 0 on success,
2 on usage errors, 1 on verification failure (verify_knn below threshold,
merkle corruption) — scriptable like the reference CLI.

Spark is constructed lazily: merkle/catalog commands are pure-Python and
never start a JVM.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

def _spark():
    from nbdatatools_spark.session import get_spark

    return get_spark("nbdatatools-cli")


def _read_vectors(spark, path: str):
    from nbdatatools_spark.sources import open_vectors

    try:
        return open_vectors(spark, path)
    except ValueError as e:
        raise SystemExit(str(e)) from None


def _write_vectors(df, path: str) -> None:
    from nbdatatools_spark.sources.xvec import is_xvec, write_xvec

    if is_xvec(path):
        write_xvec(df, path)
    elif path.endswith(".parquet"):
        df.write.mode("overwrite").parquet(path)
    elif path.endswith(".json"):
        from nbdatatools_spark.sources.convert import write_vectors_json

        write_vectors_json(df, path)
    elif path.endswith((".yaml", ".yml")):
        from nbdatatools_spark.sources.convert import write_vectors_yaml

        write_vectors_yaml(df, path)
    else:
        raise SystemExit(f"unsupported vector output: {path}")


def _emit(rows) -> None:
    for r in rows:
        print(json.dumps(r.asDict() if hasattr(r, "asDict") else r, default=str))


def _cmd_analyze(args) -> int:
    spark = _spark()
    df = _read_vectors(spark, args.input)
    if args.what == "count_zeros":
        from nbdatatools_spark.operators.analysis import count_zero_vectors

        _emit(count_zero_vectors(df, vec=args.vec_col).collect())
        return 0
    if args.what == "describe":
        from nbdatatools_spark.operators.analysis import describe

        _emit(describe(df, ordinal=args.ordinal_col, vec=args.vec_col).collect())
        return 0
    if args.what == "select":
        from nbdatatools_spark.operators.facets import select_by_ordinals

        out = select_by_ordinals(df, _parse_ordinals(args.ordinals))
        if args.output:
            _write_vectors(out, args.output)
            print(json.dumps({"selected": out.count(), "output": args.output}))
        else:
            _emit(out.orderBy("ordinal").collect())
        return 0
    if args.what == "slice":
        from nbdatatools_spark.operators.windows import rebase_ordinals, window_slice

        out = rebase_ordinals(window_slice(df, [args.window]))
        if args.output:
            _write_vectors(out, args.output)
            print(json.dumps({"rows": out.count(), "output": args.output}))
        else:
            _emit(out.orderBy("ordinal").collect())
        return 0
    if args.what == "find":
        from pyspark.sql import functions as F

        from nbdatatools_spark.operators.analysis import is_zero_vector
        from nbdatatools_spark.operators.facets import find_vectors

        if not args.zero_vectors and args.where is None:
            raise SystemExit("find requires --where or --zero-vectors")
        crit = (
            is_zero_vector(F.col(args.vec_col))
            if args.zero_vectors
            else F.expr(args.where)
        )
        out = find_vectors(df, crit, limit=args.limit)
        _emit(out.select("ordinal").orderBy("ordinal").collect())
        return 0
    if args.what == "verify_knn":
        from nbdatatools_spark.operators.knn import verify_knn

        base = df
        queries = _read_vectors(spark, args.queries)
        truth = _read_vectors(spark, args.truth).withColumnRenamed("vector", "indices")
        rep = verify_knn(
            queries, base, truth, k=args.k, metric=args.metric, sample_size=args.sample
        ).collect()
        _emit(rep)
        mean_recall = rep[0]["mean_recall"] if rep else 0.0
        return 0 if mean_recall >= args.min_recall else 1
    raise SystemExit(2)


def _cmd_check_endian(args) -> int:
    """analyze check-endian (reference README.md:45): pure-Python header
    plausibility probe — parse the first record header little-endian; when
    implausible, retry big-endian and report the suspected byte order.
    Exit 1 unless the file reads as well-formed little-endian xvec."""
    import struct as _struct

    from nbdatatools_spark.sources.xvec import _file_meta

    path = args.input
    try:
        dim, stride, count = _file_meta(path)
        print(json.dumps({
            "path": path, "endianness": "little", "dim": dim,
            "stride": stride, "count": count, "ok": True,
        }))
        return 0
    except ValueError as e:
        report = {"path": path, "ok": False, "error": str(e)}
        try:
            with open(path, "rb") as f:
                (be_dim,) = _struct.unpack(">i", f.read(4))
            if 0 < be_dim < 1_000_000:
                report["endianness"] = "big-suspected"
                report["be_dim"] = be_dim
        except Exception:
            pass
        print(json.dumps(report))
        return 1


def _cmd_compute_knn(args) -> int:
    from pyspark.sql import functions as F

    from nbdatatools_spark.operators.knn import exact_knn

    spark = _spark()
    base = _read_vectors(spark, args.base)
    queries = _read_vectors(spark, args.query)
    nn = exact_knn(queries, base, k=args.k, metric=args.metric)
    if not args.out_indices and not args.out_distances:
        _emit(nn.orderBy("ordinal").limit(args.limit).collect())
        return 0
    # exact_knn returns a local relation: both facets read the one answer key
    if args.out_indices:
        _write_vectors(nn.select("ordinal", F.col("indices").cast("array<int>").alias("vector")), args.out_indices)
    if args.out_distances:
        _write_vectors(nn.select("ordinal", F.col("distances").cast("array<float>").alias("vector")), args.out_distances)
    return 0


def _cmd_compute_ivf(args) -> int:
    """Persisted-IVF index lifecycle: build (train centroids + partitioned
    assignments), search (nprobe partition-pruned scan), append (assign a
    delta to the existing centroids — no retrain, no rewrite)."""
    spark = _spark()
    if args.what == "ivf_build":
        from nbdatatools_spark.operators.similarity import ivf_build_index

        base = spark.read.parquet(args.input)
        meta = ivf_build_index(
            base, args.index, n_centroids=args.centroids, seed=args.seed,
            base_id=args.id_col, vec_col=args.vec_col,
        )
        print(json.dumps(meta))
        return 0
    if args.what == "ivf_append":
        from nbdatatools_spark.operators.similarity import ivf_append_index

        batch = spark.read.parquet(args.input)
        rep = ivf_append_index(
            batch, args.index, base_id=args.id_col, vec_col=args.vec_col,
            drop_existing_ids=args.drop_existing,
        )
        print(json.dumps(rep))
        return 0
    # ivf_search
    from nbdatatools_spark.operators.similarity import ivf_search_index

    queries = spark.read.parquet(args.query)
    if args.query_ids:
        from pyspark.sql import functions as F

        ids = [int(x) for x in args.query_ids.split(",")]
        queries = queries.where(F.col(args.id_col).isin(ids))
    out = ivf_search_index(
        spark, args.index, queries, k=args.k, nprobe=args.nprobe,
        query_id=args.id_col, base_id=args.id_col, vec_col=args.vec_col,
    )
    _emit(out.orderBy("query_id", "rank").limit(args.limit).collect())
    return 0


def _cmd_convert(args) -> int:
    spark = _spark()
    _write_vectors(_read_vectors(spark, args.input), args.output)
    return 0


def _cmd_generate(args) -> int:
    spark = _spark()
    if args.what == "vectors":
        from nbdatatools_spark.datagen import generate_vectors

        df = generate_vectors(
            spark,
            count=args.count,
            dimensions=args.dimensions,
            seed=args.seed,
            zeroes_proportion=args.zeroes,
            duplicates_proportion=args.duplicates,
        )
        _write_vectors(df, args.output)
        return 0
    if args.what in ("mktestdata", "dataset"):
        # 'generate dataset' (README.md:58) = sample dataset WITH its
        # dataset.yaml; make_test_dataset writes the manifest already
        from nbdatatools_spark.datagen import make_test_dataset

        m = make_test_dataset(
            spark,
            args.dir,
            n_base=args.n_base,
            n_query=args.n_query,
            dimensions=args.dimensions,
            k=args.k,
            seed=args.seed,
        )
        print(json.dumps({"dir": args.dir, "profiles": sorted(m.profiles)}))
        return 0
    if args.what in ("fvec-extract", "ivec-extract"):
        # P12 slice composition (README.md:61-62): window + re-base + write
        from nbdatatools_spark.operators.windows import rebase_ordinals, window_slice

        df = _read_vectors(spark, args.input)
        out = rebase_ordinals(window_slice(df, [args.window]))
        _write_vectors(out, args.output)
        print(json.dumps({"rows": out.count(), "output": args.output}))
        return 0
    if args.what == "ivec-shuffle":
        # U4 (README.md:63): seeded permutation with fresh 0-based ordinals
        from pyspark.sql import functions as F

        from nbdatatools_spark.operators.shuffle import seeded_shuffle

        df = _read_vectors(spark, args.input)
        out = seeded_shuffle(df, seed=args.seed).select(
            F.col("new_ordinal").alias("ordinal"), "vector"
        )
        _write_vectors(out, args.output)
        print(json.dumps({"rows": out.count(), "seed": args.seed, "output": args.output}))
        return 0
    raise SystemExit(2)


def _cmd_compute_sort(args) -> int:
    """compute sort (README.md:55): external merge sort for vectors —
    Spark's sort IS the distributed external sort (spillable per-partition
    sort + range-partitioned merge). Keys: ordinal or L2 norm."""
    from pyspark.sql import functions as F

    from nbdatatools_spark.functions.distance import l2_norm
    from nbdatatools_spark.operators.windows import global_row_index

    spark = _spark()
    df = _read_vectors(spark, args.input)
    key = l2_norm(F.col("vector")) if args.by == "norm" else F.col("ordinal")
    key = key.desc() if args.desc else key.asc()
    # renumber 0..n-1 along the sort key (two-phase partition-offset index,
    # no single-reducer window)
    out = (
        global_row_index(df, [key], out="__new")
        .drop("ordinal")
        .withColumnRenamed("__new", "ordinal")
    )
    _write_vectors(out.select("ordinal", "vector"), args.output)
    print(json.dumps({"rows": out.count(), "by": args.by, "output": args.output}))
    return 0


def _cmd_merkle(args) -> int:
    from nbdatatools_spark.sources import merkle_file as mk

    if args.what == "create":
        out = args.output or args.input + ".mref"
        mk.write_mref(_spark(), args.input, out)
        print(json.dumps({"mref": out}))
        return 0
    if args.what == "verify":
        bad = [
            r.chunk_index
            for r in mk.verify_against_merkle(_spark(), args.input, args.merkle).collect()
        ]
        print(json.dumps({"ok": not bad, "bad_chunks": sorted(bad)}))
        return 0 if not bad else 1
    if args.what == "summary":
        print(json.dumps(mk.merkle_summary(args.input), default=str))
        return 0
    if args.what == "diff":
        print(json.dumps({"differing_chunks": mk.merkle_diff(args.input, args.other)}))
        return 0
    if args.what == "path":
        print(json.dumps(mk.merkle_path(args.input, args.chunk)))
        return 0
    if args.what == "treeview":
        print(mk.merkle_treeview(args.input))
        return 0
    if args.what == "spoilbits":
        mk.spoil_bits(args.input, [int(b) for b in args.bits.split(",")])
        return 0
    if args.what == "spoilchunks":
        mk.spoil_chunks(args.input, args.merkle, [int(c) for c in args.chunks.split(",")])
        return 0
    raise SystemExit(2)


def _cmd_catalog(args) -> int:
    from nbdatatools_spark.sources.catalog import Catalog

    cat = Catalog.build(args.roots)
    cat.save(args.output)
    print(json.dumps({"entries": len(cat.entries), "catalog": args.output}))
    return 0


def _cmd_datasets_list(args) -> int:
    from nbdatatools_spark.sources.catalog import Catalog

    cat = Catalog.load(args.catalog)
    for e in cat.entries:
        print(json.dumps({"name": e.name, "url": e.url, "tags": e.tags}, default=str))
    return 0


def _cmd_datasets_download(args) -> int:
    from nbdatatools_spark.sources.http_range import download_verified

    report = download_verified(args.url, args.merkle, args.out)
    print(json.dumps(report))
    return 0


def _cmd_vectordata(args) -> int:
    from nbdatatools_spark.sources.dataset import (
        dataset_info,
        load_dataset,
        view_sample,
        view_size,
    )

    m = load_dataset(args.dataset)
    if args.what == "info":
        print(json.dumps(dataset_info(m), default=str))
        return 0
    if args.what == "profiles":
        for name in m.profiles:
            print(json.dumps({"profile": name, "facets": sorted(m.profiles[name].facets)}))
        return 0
    if args.what == "views":
        info = dataset_info(m)
        for pname, prof in info.get("profiles", {}).items():
            for kind, view in prof.items():
                print(json.dumps({"profile": pname, "facet": kind, **view}, default=str))
        return 0
    if args.what == "size":
        print(json.dumps(view_size(m, args.facet, args.profile), default=str))
        return 0
    if args.what == "sample":
        spark = _spark()
        rows = view_sample(spark, m, args.facet, n=args.n, profile=args.profile)
        _emit(rows if isinstance(rows, list) else rows.collect())
        return 0
    if args.what == "cat":
        spark = _spark()
        df = m.facet(spark, args.facet, args.profile).orderBy("ordinal")
        if args.limit:
            df = df.limit(args.limit)
        for row in df.toLocalIterator():  # stream, never collect the view
            print(json.dumps(row.asDict(), default=str))
        return 0
    if args.what in ("prebuffer", "verify"):
        from nbdatatools_spark.operators.facets import prebuffer

        spark = _spark()
        facets = [args.facet] if args.facet else sorted(m.profile(args.profile).facets)
        reports = []
        ok = True
        for kind in facets:
            df = m.facet(spark, kind, args.profile)
            cached = prebuffer(df)
            rep = {"facet": kind, "rows": cached.count()}
            if args.what == "verify" and "vector" in cached.columns:
                from pyspark.sql import functions as F

                dims = cached.agg(
                    F.min(F.size("vector")).alias("min_dim"),
                    F.max(F.size("vector")).alias("max_dim"),
                ).first()
                rep["min_dim"], rep["max_dim"] = dims["min_dim"], dims["max_dim"]
                rep["uniform_dim"] = dims["min_dim"] == dims["max_dim"]
                ok = ok and rep["uniform_dim"]
            reports.append(rep)
        _emit(reports)
        return 0 if ok else 1
    raise SystemExit(2)


def _cmd_datasets_plan(args) -> int:
    from nbdatatools_spark.sources.dataset import load_dataset, plan_missing_artifacts

    _emit(plan_missing_artifacts(load_dataset(args.dataset)))
    return 0


def _cmd_datasets_curlify(args) -> int:
    from nbdatatools_spark.sources.dataset import curlify, load_dataset

    m = load_dataset(args.dataset)
    for cmd in curlify(m, args.base_url, profiles=args.profiles):
        print(cmd)
    return 0


def _cmd_datasets_prebuffer(args) -> int:
    args.what = "prebuffer"
    return _cmd_vectordata(args)


def _cmd_tune_ann(args) -> int:
    from pyspark.sql import functions as F

    from nbdatatools_spark.operators.similarity import ann_tuning_report

    spark = _spark()
    emb = spark.read.parquet(args.input)
    q = emb.where(F.col(args.id_col) < args.n_queries)
    rep = ann_tuning_report(
        q, emb, k=args.k, n_centroids=args.n_centroids,
        nprobes=tuple(int(x) for x in args.nprobes.split(",")),
        query_id=args.id_col, base_id=args.id_col, vec_col=args.vec_col,
    )
    _emit(rep.collect())
    return 0


def _cmd_tune_compression(args) -> int:
    from nbdatatools_spark.operators.similarity import compression_report

    spark = _spark()
    emb = spark.read.parquet(args.input)
    rep = compression_report(
        emb, dim=args.dim, k=args.k, n_queries=args.n_queries,
        id_col=args.id_col, vec_col=args.vec_col,
    )
    _emit(rep.collect())
    return 0


def _cmd_tune_dedup(args) -> int:
    from nbdatatools_spark.operators.dedup import minhash_quality_report

    spark = _spark()
    docs = spark.read.parquet(args.input)
    rep = minhash_quality_report(
        docs, num_hashes=args.num_hashes, bands=args.bands,
        threshold=args.threshold, sample_ids=args.sample,
    )
    _emit(rep.collect())
    return 0


def _cmd_explain(args) -> int:
    """Print a gate query's physical plan and per-node Catalyst cost
    estimates — the .explain() mandate as a CLI surface."""
    import importlib.util

    from nbdatatools_spark.plans.cost import cost_report

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "__spark_entry__.py")
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    qs = entry.queries()
    if args.query not in qs:
        print(json.dumps({"error": f"unknown query {args.query}",
                          "known": sorted(qs)[:20]}))
        return 2
    spark = _spark()
    df = qs[args.query](spark, args.sf_dir)
    print(df._jdf.queryExecution().executedPlan().toString())
    for row in cost_report(df):
        print(json.dumps(row))
    return 0


def _cmd_corpus_stats(args) -> int:
    """One-command corpus report: size, languages, quality distribution,
    exact-dup rate, token totals — the first look at a new documents table."""
    from pyspark.sql import functions as F

    from nbdatatools_spark.functions.text import doc_fingerprint, quality_score, token_count

    spark = _spark()
    docs = spark.read.parquet(args.input)
    text = F.col(args.text_col)
    agg = docs.select(
        F.col(args.id_col).alias("id"),
        F.col("lang") if "lang" in docs.columns else F.lit(None).alias("lang"),
        F.round(quality_score(text), 6).alias("q"),
        token_count(text).alias("toks"),
        doc_fingerprint(text).alias("fp"),
    )
    base = agg.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("toks").alias("n_tokens"),
        F.round(F.avg("q"), 6).alias("mean_quality"),
        F.expr("percentile(q, 0.5)").alias("median_quality"),
        F.countDistinct("fp").alias("n_distinct"),
    ).collect()[0]
    out = base.asDict()
    out["dup_rate"] = round(1.0 - out["n_distinct"] / out["n_docs"], 6) if out["n_docs"] else 0.0
    if "lang" in docs.columns:
        out["langs"] = {
            r["lang"]: r["count"]
            for r in agg.groupBy("lang").count().orderBy("lang").collect()
        }
    print(json.dumps(out, default=str))
    return 0


def _cmd_corpus_cluster_sizes(args) -> int:
    """Near-dup cluster-size histogram: the pre-dedup audit of how the
    duplicate mass distributes (pairs vs template families)."""
    from nbdatatools_spark.operators.dedup import dedup_cluster_sizes

    spark = _spark()
    docs = spark.read.parquet(args.input)
    rows = dedup_cluster_sizes(
        docs, id_col=args.id_col, text_col=args.text_col,
        num_hashes=args.num_hashes, bands=args.bands,
        threshold=args.threshold,
    ).orderBy("cluster_size").collect()
    for r in rows:
        print(json.dumps(r.asDict()))
    return 0


def _cmd_corpus_dedup_savings(args) -> int:
    """Token-weighted dedup impact: per cluster-size bucket, the docs
    and tokens a min-id-survivor transitive dedup pass removes."""
    from nbdatatools_spark.operators.dedup import dedup_savings

    spark = _spark()
    rows = dedup_savings(
        spark.read.parquet(args.input), id_col=args.id_col,
        text_col=args.text_col, num_hashes=args.num_hashes,
        bands=args.bands, threshold=args.threshold,
    ).collect()
    for r in rows:
        print(json.dumps(r.asDict()))
    return 0


def _cmd_corpus_source_contamination(args) -> int:
    """Per-slice contamination dashboard: docs/tokens per source carrying
    any test-set word n-gram, with 6dp rates."""
    from nbdatatools_spark.operators.dedup import contamination_by_slice

    spark = _spark()
    rows = contamination_by_slice(
        spark.read.parquet(args.input), spark.read.parquet(args.test),
        slice_col=args.slice_col, id_col=args.id_col,
        text_col=args.text_col, n=args.n,
    ).collect()
    for r in rows:
        print(json.dumps(r.asDict()))
    return 0


def _cmd_corpus_select_budget(args) -> int:
    """Best-first token-budget selection: write the highest-quality
    whole-document prefix fitting --budget tokens."""
    from pyspark.sql import functions as F

    from nbdatatools_spark.functions.text import quality_score, token_count
    from nbdatatools_spark.operators.sampling import token_budget_select

    spark = _spark()
    docs = spark.read.parquet(args.input)
    scored = docs.withColumn(
        "__q", F.round(quality_score(F.col(args.text_col)), 6)
    ).withColumn("__nt", token_count(F.col(args.text_col)).cast("long"))
    out = token_budget_select(
        scored, args.budget, quality_col="__q", token_col="__nt",
        id_col=args.id_col, keep_partial=args.keep_partial,
    )
    kept = out.drop("__q", "__nt", "start_tok")
    kept.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(json.dumps({"kept_docs": n, "budget_tokens": args.budget}))
    return 0


def _emit_rows(df) -> int:
    """Print one JSON line per row (timestamps/dates via str)."""
    for r in df.collect():
        print(json.dumps(r.asDict(), default=str))
    return 0


def _cmd_corpus_card(args) -> int:
    """Per-slice dataset card: the datasheet a training-data release
    ships (volume, token stats, dup rate, language entropy)."""
    from nbdatatools_spark.operators.analysis import dataset_card

    docs = _spark().read.parquet(args.input)
    return _emit_rows(
        dataset_card(docs, group_col=args.group_col, text_col=args.text_col)
    )


def _cmd_corpus_keyphrases(args) -> int:
    from nbdatatools_spark.operators.analysis import rake_keyphrases

    docs = _spark().read.parquet(args.input)
    return _emit_rows(
        rake_keyphrases(
            docs, text_col=args.text_col, id_col=args.id_col, top_n=args.top
        )
    )


def _cmd_corpus_kneser_ney(args) -> int:
    from nbdatatools_spark.operators.lm import kneser_ney_bigrams

    docs = _spark().read.parquet(args.input)
    return _emit_rows(
        kneser_ney_bigrams(
            docs, text_col=args.text_col, id_col=args.id_col,
            discount=args.discount, top_n=args.top,
        )
    )


def _cmd_corpus_kn_perplexity(args) -> int:
    from nbdatatools_spark.operators.lm import kn_perplexity_score

    spark = _spark()
    train = spark.read.parquet(args.train)
    score = spark.read.parquet(args.input)
    out = kn_perplexity_score(
        train, score, text_col=args.text_col, id_col=args.id_col,
        discount=args.discount, floor=args.floor,
    )
    if args.output:
        out.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"written": args.output}))
        return 0
    return _emit_rows(out.limit(args.limit))


def _cmd_corpus_score_psi(args) -> int:
    from nbdatatools_spark.operators.evaluation import score_psi

    spark = _spark()
    return _emit_rows(
        score_psi(
            spark.read.parquet(args.baseline),
            spark.read.parquet(args.current),
            args.score_col, args.group_col,
            n_bins=args.bins, lo=args.lo, hi=args.hi,
        )
    )


def _cmd_corpus_card_diff(args) -> int:
    from nbdatatools_spark.operators.analysis import dataset_card_diff

    spark = _spark()
    return _emit_rows(
        dataset_card_diff(
            spark.read.parquet(args.old),
            spark.read.parquet(args.new),
            group_col=args.group_col,
            text_col=args.text_col,
            lang_col=args.lang_col,
        )
    )


def _cmd_corpus_mink_prob(args) -> int:
    from nbdatatools_spark.operators.lm import mink_prob_score

    spark = _spark()
    out = mink_prob_score(
        spark.read.parquet(args.train),
        spark.read.parquet(args.input),
        text_col=args.text_col, id_col=args.id_col,
        k_pct=args.k_pct, discount=args.discount, floor=args.floor,
    )
    if args.output:
        out.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"written": args.output}))
        return 0
    return _emit_rows(out.limit(args.limit))


def _cmd_corpus_funnel(args) -> int:
    from pyspark.sql import functions as F

    from nbdatatools_spark.plans.pipeline import filter_funnel

    spark = _spark()
    stages = [
        (s["name"], F.expr(s["expr"])) for s in json.loads(args.stages)
    ]
    return _emit_rows(
        filter_funnel(
            spark.read.parquet(args.input), stages,
            text_col=args.text_col,
            token_col=args.token_col,
        )
    )


def _cmd_corpus_slice_perplexity(args) -> int:
    from nbdatatools_spark.operators.lm import kn_perplexity_by_slice

    spark = _spark()
    return _emit_rows(
        kn_perplexity_by_slice(
            spark.read.parquet(args.train),
            spark.read.parquet(args.input),
            slice_col=args.slice_col, text_col=args.text_col,
            id_col=args.id_col, discount=args.discount, floor=args.floor,
        )
    )


def _cmd_analyze_centroid_drift(args) -> int:
    from nbdatatools_spark.operators.analysis import centroid_drift

    spark = _spark()
    return _emit_rows(
        centroid_drift(
            spark.read.parquet(args.baseline),
            spark.read.parquet(args.current),
            group_col=args.group_col, vec_col=args.vec_col,
        )
    )


def _cmd_analyze_gwet(args) -> int:
    from nbdatatools_spark.operators.evaluation import gwet_ac1

    df = _spark().read.parquet(args.input)
    return _emit_rows(
        gwet_ac1(df, args.item_col, args.rater_col, args.cat_col)
    )


def _cmd_analyze_auc_ci(args) -> int:
    from nbdatatools_spark.operators.evaluation import auc_delong_ci

    df = _spark().read.parquet(args.input)
    return _emit_rows(auc_delong_ci(df, args.score_col, args.label_col))


def _cmd_corpus_train_unigram(args) -> int:
    from nbdatatools_spark.operators.unigram import unigram_train

    spark = _spark()
    docs = spark.read.parquet(args.input)
    pieces, hist = unigram_train(
        docs,
        text_col=args.text_col,
        vocab_size=args.vocab_size,
        max_piece_len=args.max_piece_len,
        seed_size=args.seed_size,
        n_iter=args.iters,
    )
    print(json.dumps({"ll_history": hist, "n_pieces": len(pieces)}))
    return _emit_rows(
        spark.createDataFrame(
            [(i, p, float(pr)) for i, (p, pr) in enumerate(pieces)],
            "piece_id INT, piece STRING, prob DOUBLE",
        ).limit(args.top)
    )


def _cmd_corpus_train_wordpiece(args) -> int:
    from nbdatatools_spark.operators.wordpiece import (
        learn_wordpiece,
        wordpiece_base_symbols,
        wordpiece_vocab,
    )

    spark = _spark()
    docs = spark.read.parquet(args.input)
    merges = learn_wordpiece(
        docs, text_col=args.text_col, n_merges=args.merges, min_count=args.min_count
    )
    vocab = wordpiece_vocab(merges, wordpiece_base_symbols(docs, args.text_col))
    print(json.dumps({"n_merges": len(merges), "vocab_size": len(vocab)}))
    return _emit_rows(
        spark.createDataFrame(
            [(s, l, r, c, float(sc)) for s, l, r, c, sc in merges],
            "step INT, left STRING, right STRING, pair_count BIGINT, score DOUBLE",
        )
    )


def _cmd_corpus_train_sentencepiece(args) -> int:
    from nbdatatools_spark.operators.bpe import learn_sentencepiece_bpe

    spark = _spark()
    docs = spark.read.parquet(args.input)
    merges = learn_sentencepiece_bpe(
        docs, text_col=args.text_col, n_merges=args.merges,
        min_count=args.min_count,
    )
    print(json.dumps({"n_merges": len(merges)}))
    return _emit_rows(
        spark.createDataFrame(
            [(s, l, r, int(c)) for s, l, r, c in merges],
            "step INT, left STRING, right STRING, pair_count BIGINT",
        )
    )


def _cmd_analyze_ece(args) -> int:
    from nbdatatools_spark.operators.evaluation import (
        expected_calibration_error,
    )

    df = _spark().read.parquet(args.input)
    return _emit_rows(
        expected_calibration_error(
            df, args.score_col, args.label_col, n_bins=args.bins,
            lo=args.lo, hi=args.hi, group_col=args.group_col,
        )
    )


def _cmd_analyze_sinkhorn(args) -> int:
    from nbdatatools_spark.operators.analysis import sinkhorn_distance

    df = _spark().read.parquet(args.input)
    return _emit_rows(
        sinkhorn_distance(
            df, args.value_col, args.group_col, args.group_a, args.group_b,
            n_bins=args.bins, lo=args.lo, hi=args.hi, eps=args.eps,
            iterations=args.iterations,
        )
    )


def _cmd_corpus_pack_audit(args) -> int:
    from pyspark.sql import functions as F

    from nbdatatools_spark.operators.packing import packing_efficiency

    df = _spark().read.parquet(args.input)
    docs = df.select(
        args.order_col, F.col(args.token_col).alias("n_tokens")
    )
    return _emit_rows(
        packing_efficiency(
            docs, args.max_tokens, order_col=args.order_col
        )
    )


def _cmd_corpus_fertility_sweep(args) -> int:
    from nbdatatools_spark.operators.bpe import fertility_sweep

    docs = _spark().read.parquet(args.input)
    return _emit_rows(
        fertility_sweep(
            docs,
            text_col=args.text_col,
            checkpoints=tuple(int(c) for c in args.checkpoints.split(",")),
            min_count=args.min_count,
        ).orderBy("n_merges")
    )


def _cmd_corpus_fineweb(args) -> int:
    from pyspark.sql import functions as F

    from nbdatatools_spark.functions.text import fineweb_flags, gopher_quality_flags

    docs = _spark().read.parquet(args.input)
    fw = fineweb_flags(F.col(args.text_col))
    keep = fw["keep"] & gopher_quality_flags(F.col(args.text_col))["keep"]
    if args.output:
        docs.where(keep).write.mode("overwrite").parquet(args.output)
        print(json.dumps({"written": args.output}))
        return 0
    return _emit_rows(
        docs.select(args.id_col, fw.alias("f"), keep.alias("composite_keep"))
        .select(args.id_col, "f.*", "composite_keep")
        .orderBy(args.id_col)
        .limit(args.limit)
    )


def _cmd_corpus_reservoir(args) -> int:
    from nbdatatools_spark.operators.sampling import (
        reservoir_sample,
        stratified_reservoir,
    )

    docs = _spark().read.parquet(args.input)
    if args.per_stratum:
        out = stratified_reservoir(
            docs, k=args.k, strata_col=args.strata_col,
            key_col=args.id_col, seed=args.seed,
        )
    else:
        out = reservoir_sample(docs, k=args.k, key_col=args.id_col, seed=args.seed)
    if args.output:
        out.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"written": args.output}))
        return 0
    return _emit_rows(out.select(args.id_col).orderBy(args.id_col))


def _cmd_corpus_unimax(args) -> int:
    from nbdatatools_spark.operators.sampling import unimax_rates

    docs = _spark().read.parquet(args.input)
    rates = unimax_rates(
        docs,
        budget=args.budget,
        strata_col=args.strata_col,
        weight_col=args.weight_col,
        max_epochs=args.max_epochs,
    )
    for s in sorted(rates, key=str):
        print(json.dumps({"stratum": s, "rate": round(rates[s], 6)}))
    return 0


def _cmd_corpus_group_split(args) -> int:
    from nbdatatools_spark.operators.sampling import group_split

    docs = _spark().read.parquet(args.input)
    fractions = tuple(float(f) for f in args.fractions.split(","))
    names = tuple(args.names.split(","))
    out = group_split(
        docs, args.group_col, fractions=fractions, names=names, seed=args.seed
    )
    if args.output:
        out.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"written": args.output}))
        return 0
    from pyspark.sql import functions as F

    return _emit_rows(
        out.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct(args.group_col).alias("n_groups"),
        )
        .orderBy("split")
    )


def _cmd_analyze_krippendorff(args) -> int:
    from nbdatatools_spark.operators.evaluation import krippendorff_alpha

    df = _spark().read.parquet(args.input)
    return _emit_rows(krippendorff_alpha(df, args.unit_col, args.category_col))


def _cmd_analyze_davies_bouldin(args) -> int:
    from nbdatatools_spark.operators.clustering import davies_bouldin

    df = _spark().read.parquet(args.input)
    return _emit_rows(davies_bouldin(df, args.group_col, vec_col=args.vec_col))


def _cmd_analyze_calinski_harabasz(args) -> int:
    from nbdatatools_spark.operators.clustering import calinski_harabasz

    df = _spark().read.parquet(args.input)
    return _emit_rows(
        calinski_harabasz(df, args.group_col, vec_col=args.vec_col)
    )


def _cmd_analyze_hopkins(args) -> int:
    from nbdatatools_spark.operators.clustering import hopkins_statistic

    df = _spark().read.parquet(args.input)
    return _emit_rows(
        hopkins_statistic(
            df, m=args.m, id_col=args.id_col, vec_col=args.vec_col,
            seed=args.seed,
        )
    )


def _cmd_analyze_lof(args) -> int:
    from pyspark.sql import functions as F

    from nbdatatools_spark.operators.knn import lof_scores

    df = _spark().read.parquet(args.input)
    out = lof_scores(df, k=args.k, id_col=args.id_col, vec_col=args.vec_col)
    if args.output:
        out.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"written": args.output}))
        return 0
    return _emit_rows(out.orderBy(F.col("lof").desc_nulls_last()).limit(args.limit))


def _cmd_analyze_lsh_tradeoff(args) -> int:
    from nbdatatools_spark.operators.similarity import lsh_tradeoff_report

    spark = _spark()
    base = spark.read.parquet(args.input)
    q = (
        spark.read.parquet(args.queries)
        if args.queries
        else base.limit(args.n_queries)
    )
    bits = tuple(int(b) for b in args.bits.split(","))
    return _emit_rows(
        lsh_tradeoff_report(
            q, base, k=args.k, dim=args.dim, bits_list=bits,
            seed=args.seed, query_id=args.id_col, base_id=args.id_col,
            vec_col=args.vec_col,
        )
    )


def _cmd_analyze_link_prediction(args) -> int:
    from nbdatatools_spark.operators.graph import link_prediction

    edges = _spark().read.parquet(args.input)
    return _emit_rows(
        link_prediction(edges, src=args.src, dst=args.dst, top_n=args.top_n)
    )


def _cmd_analyze_distinct_ngrams(args) -> int:
    from nbdatatools_spark.operators.analysis import (
        approx_distinct_ngrams,
        distinct_ngrams,
    )

    df = _spark().read.parquet(args.input)
    ns = tuple(args.n or (1, 2, 3))
    if args.approx:
        out = approx_distinct_ngrams(
            df, group_col=args.group_col, text_col=args.text_col, ns=ns,
            precision=args.precision,
        )
    else:
        out = distinct_ngrams(
            df, group_col=args.group_col, text_col=args.text_col, ns=ns
        )
    return _emit_rows(out)


def _cmd_analyze_hill(args) -> int:
    from nbdatatools_spark.operators.analysis import hill_tail_index

    df = _spark().read.parquet(args.input)
    return _emit_rows(
        hill_tail_index(
            df, args.value_col, group_col=args.group_col, k=args.k
        )
    )


def _cmd_corpus_rarity(args) -> int:
    from nbdatatools_spark.operators.analysis import rarity_scores

    df = _spark().read.parquet(args.input)
    out = rarity_scores(df, id_col=args.id_col, text_col=args.text_col)
    if args.output:
        out.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"written": args.output}))
        return 0
    from pyspark.sql import functions as F

    return _emit_rows(out.orderBy(F.col("rarity").desc()).limit(args.limit))


def _cmd_corpus_richness(args) -> int:
    from nbdatatools_spark.operators.analysis import vocab_richness

    df = _spark().read.parquet(args.input)
    return _emit_rows(
        vocab_richness(df, group_col=args.group_col, text_col=args.text_col)
    )


def _cmd_analyze_temperature(args) -> int:
    from nbdatatools_spark.operators.evaluation import temperature_scaling

    df = _spark().read.parquet(args.input)
    return _emit_rows(
        temperature_scaling(
            df, args.score_col, args.label_col, iterations=args.iterations
        )
    )


def _cmd_corpus_sentence_dedup(args) -> int:
    from nbdatatools_spark.operators.dedup import sentence_dedup

    docs = _spark().read.parquet(args.input)
    out = sentence_dedup(
        docs, id_col=args.id_col, text_col=args.text_col, min_docs=args.min_docs
    )
    if args.output:
        out.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"written": args.output}))
        return 0
    return _emit_rows(out.limit(args.limit))


def _cmd_corpus_temperature_mix(args) -> int:
    from nbdatatools_spark.operators.sampling import temperature_mixture_rates

    docs = _spark().read.parquet(args.input)
    return _emit_rows(
        temperature_mixture_rates(
            docs,
            strata_col=args.strata_col,
            temperature=args.temperature,
            cap=args.cap,
        )
    )


def _cmd_corpus_containment(args) -> int:
    from pyspark.sql import functions as F

    from nbdatatools_spark.operators.dedup import (
        containment_verify,
        minhash_lsh_candidates,
    )

    docs = _spark().read.parquet(args.input)
    cand = minhash_lsh_candidates(
        docs,
        id_col=args.id_col,
        text_col=args.text_col,
        num_hashes=args.num_hashes,
        bands=args.bands,
        shingle_size=args.shingle_size,
    )
    return _emit_rows(
        containment_verify(
            cand,
            docs,
            id_col=args.id_col,
            text_col=args.text_col,
            shingle_size=args.shingle_size,
            threshold=args.threshold,
            max_pairs=args.max_pairs,
        ).orderBy(F.desc("containment"), "id_a", "id_b").limit(args.limit)
    )


def _cmd_media_hash(args) -> int:
    from nbdatatools_spark.operators.multimodal import image_ahash, image_dhash

    media = _spark().read.parquet(args.input)
    fn = image_dhash if args.method == "dhash" else image_ahash
    return _emit_rows(fn(media).limit(args.limit))


def _cmd_media_near_dups(args) -> int:
    from nbdatatools_spark.operators.multimodal import media_near_dup_pairs

    media = _spark().read.parquet(args.input)
    return _emit_rows(
        media_near_dup_pairs(
            media, max_hamming=args.max_hamming, method=args.method
        ).orderBy("id_a", "id_b")
    )


def _cmd_media_stats(args) -> int:
    from nbdatatools_spark.operators.multimodal import media_stats

    return _emit_rows(media_stats(_spark().read.parquet(args.input)))


def _cmd_corpus_calibrate_minhash(args) -> int:
    """Estimated-vs-exact Jaccard on the banded candidates: how tight is
    num_hashes on THIS corpus (mean/max |error| summary + worst pairs)."""
    from pyspark.sql import functions as F

    from nbdatatools_spark.operators.dedup import minhash_calibration

    docs = _spark().read.parquet(args.input)
    cal = minhash_calibration(
        docs, id_col=args.id_col, text_col=args.text_col,
        num_hashes=args.num_hashes, bands=args.bands, impl="md5",
    ).localCheckpoint(eager=False)
    summary = cal.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg("abs_err"), 6).alias("mean_abs_err"),
        F.round(F.max("abs_err"), 6).alias("max_abs_err"),
    ).first()
    print(json.dumps(summary.asDict()))
    for r in cal.orderBy(F.desc("abs_err")).limit(args.top).collect():
        print(json.dumps(r.asDict()))
    return 0


def _cmd_corpus_balance(args) -> int:
    from nbdatatools_spark.operators.sampling import ipf_weights

    docs = _spark().read.parquet(args.input)
    return _emit_rows(
        ipf_weights(
            docs, row_col=args.row_col, col_col=args.col_col,
            iterations=args.iterations,
        )
    )


def _cmd_corpus_qc(args) -> int:
    """Per-slice text-hygiene report: tokenizer fertility, encoding
    cleanliness, and script mix — the pre-training QC dashboard row."""
    from pyspark.sql import functions as F

    from nbdatatools_spark.functions.text import (
        encoding_quality,
        fertility_stats,
        script_profile,
    )

    docs = _spark().read.parquet(args.input)
    per_doc = docs.select(
        F.col(args.group_col).alias("grp"),
        fertility_stats(F.col(args.text_col)).alias("f"),
        encoding_quality(F.col(args.text_col)).alias("e"),
        script_profile(F.col(args.text_col)).alias("s"),
    )
    return _emit_rows(
        per_doc.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("f.fertility"), 6).alias("mean_fertility"),
            F.round(F.avg("f.bytes_per_subword"), 6).alias("mean_bytes_per_subword"),
            F.round(F.avg(F.col("e.is_clean").cast("int")), 6).alias("clean_frac"),
            F.round(F.avg("e.non_ascii_ratio"), 6).alias("mean_non_ascii_ratio"),
            F.round(
                F.avg((F.col("s.dominant") != "latin").cast("int")), 6
            ).alias("non_latin_frac"),
        )
        .orderBy("grp")
    )


def _cmd_corpus_length_drift(args) -> int:
    from nbdatatools_spark.operators.analysis import length_drift

    docs = _spark().read.parquet(args.input)
    return _emit_rows(
        length_drift(
            docs, reference=args.reference, group_col=args.group_col,
            text_col=args.text_col, n_bins=args.bins, bin_width=args.bin_width,
        )
    )


def _cmd_corpus_cms_topk(args) -> int:
    from nbdatatools_spark.operators.lm import cms_heavy_hitters

    docs = _spark().read.parquet(args.input)
    return _emit_rows(
        cms_heavy_hitters(
            docs, text_col=args.text_col, depth=args.depth, width=args.width,
            topk=args.top,
        )
    )


def _cmd_corpus_bloom_decontam(args) -> int:
    """Bloom-prefiltered decontamination: summary line + contaminated ids."""
    from pyspark.sql import functions as F

    from nbdatatools_spark.operators.dedup import bloom_decontaminate

    spark = _spark()
    train = spark.read.parquet(args.train)
    test = spark.read.parquet(args.test)
    out = bloom_decontaminate(
        train, test, id_col=args.id_col, text_col=args.text_col,
        n=args.n, m_bits=args.m_bits, k=args.k,
    ).localCheckpoint(eager=False)
    summary = out.agg(
        F.count(F.lit(1)).alias("n_train_docs"),
        F.sum(F.col("bloom_flagged").cast("long")).alias("n_flagged"),
        F.sum(F.col("contaminated").cast("long")).alias("n_contaminated"),
        F.sum(F.col("false_positive").cast("long")).alias("n_false_positive"),
    ).first()
    print(json.dumps(summary.asDict()))
    for r in out.where("contaminated").orderBy("id").collect():
        print(json.dumps(r.asDict()))
    return 0


def _cmd_fetch_dlhf(args) -> int:
    """Hugging Face dataset fetch (reference `fetch dlhf`, README.md:85-86).
    Gated on huggingface_hub: absent -> exit 1 with the install hint
    (never fake success — the multimodal-stub policy)."""
    from nbdatatools_spark.sources.convert import fetch_hf_dataset

    try:
        path = fetch_hf_dataset(
            args.repo_id, args.local_dir,
            allow_patterns=args.allow_patterns or None,
        )
    except NotImplementedError as e:
        print(json.dumps({"error": str(e)}))
        return 1
    print(json.dumps({"downloaded": path}))
    return 0


def _cmd_analyze_cka(args) -> int:
    from nbdatatools_spark.operators.analysis import linear_cka

    df = _spark().read.parquet(args.input)
    return _emit_rows(
        linear_cka(df, vec=args.vec_col, m=args.m, id_col=args.id_col)
    )


def _cmd_analyze_silhouette(args) -> int:
    from nbdatatools_spark.operators.clustering import simplified_silhouette

    df = _spark().read.parquet(args.input)
    return _emit_rows(
        simplified_silhouette(
            df, vector_col=args.vec_col, label_col=args.label_col,
            id_col=args.id_col,
        )
    )


def _cmd_analyze_cluster_purity(args) -> int:
    from nbdatatools_spark.operators.clustering import (
        cluster_label_agreement,
        lloyd_assignments,
    )

    df = _spark().read.parquet(args.input)
    assign = lloyd_assignments(
        df, k=args.k, iterations=args.iterations,
        id_col=args.id_col, vec_col=args.vec_col,
    )
    return _emit_rows(
        cluster_label_agreement(
            assign, df, id_col=args.id_col, label_col=args.label_col
        )
    )


def _cmd_analyze_knn_accuracy(args) -> int:
    from nbdatatools_spark.operators.knn import knn_label_accuracy

    df = _spark().read.parquet(args.input)
    return _emit_rows(
        knn_label_accuracy(
            df, k=args.k, metric=args.metric, id_col=args.id_col,
            vec_col=args.vec_col, label_col=args.label_col,
        )
    )


def _cmd_corpus_source_similarity(args) -> int:
    from nbdatatools_spark.operators.lm import source_similarity

    docs = _spark().read.parquet(args.input)
    return _emit_rows(
        source_similarity(docs, group_col=args.group_col, text_col=args.text_col)
    )


def _cmd_corpus_boilerplate(args) -> int:
    from nbdatatools_spark.operators.dedup import boilerplate_prefixes

    docs = _spark().read.parquet(args.input)
    return _emit_rows(
        boilerplate_prefixes(
            docs, id_col=args.id_col, text_col=args.text_col,
            k_tokens=args.k_tokens, min_docs=args.min_docs, top_n=args.top,
        )
    )


def _cmd_generate_denoising_pairs(args) -> int:
    """T5 span-corruption input/target pairs written to parquet."""
    from nbdatatools_spark.operators.packing import span_corruption

    docs = _spark().read.parquet(args.input)
    out = span_corruption(
        docs, id_col=args.id_col, text_col=args.text_col,
        mask_rate=args.mask_rate, mean_span=args.mean_span, seed=args.seed,
    )
    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"rows": out.count(), "output": args.output}))
    return 0


def _cmd_analyze_hubness(args) -> int:
    """k-occurrence distribution summary + the top hub ids."""
    from pyspark.sql import functions as F

    from nbdatatools_spark.operators.knn import hubness_stats

    df = _spark().read.parquet(args.input)
    occ = hubness_stats(
        df, k=args.k, metric=args.metric, id_col=args.id_col,
        vec_col=args.vec_col,
    ).localCheckpoint(eager=False)
    summary = occ.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg("k_occurrence"), 6).alias("mean"),
        F.max("k_occurrence").alias("max"),
        F.round(F.skewness("k_occurrence"), 6).alias("skewness"),
        F.sum((F.col("k_occurrence") == 0).cast("long")).alias("n_antihubs"),
    ).first()
    print(json.dumps(summary.asDict()))
    for r in occ.orderBy(F.desc("k_occurrence"), "id").limit(args.top).collect():
        print(json.dumps(r.asDict()))
    return 0


def _cmd_analyze_robust_scale(args) -> int:
    from nbdatatools_spark.operators.analysis import robust_scale_vectors

    df = _spark().read.parquet(args.input)
    out = robust_scale_vectors(df, vec=args.vec_col, id_col=args.id_col)
    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"rows": out.count(), "output": args.output}))
    return 0


def _cmd_corpus_filter_eval(args) -> int:
    """Evaluate a score expression against a boolean label expression:
    exact AUC + Cohen's kappa summary line, then calibration-bin rows."""
    from pyspark.sql import functions as F

    from nbdatatools_spark.operators.evaluation import (
        calibration_bins,
        filter_agreement,
        ranking_auc,
    )

    df = _spark().read.parquet(args.input)
    scored = df.select(
        F.round(F.expr(args.score_expr), 6).alias("__score"),
        F.expr(args.label_expr).cast("boolean").alias("__label"),
    ).localCheckpoint(eager=False)
    auc = ranking_auc(scored, "__score", "__label").first().asDict()
    kap = filter_agreement(
        scored.select(
            (F.col("__score") >= args.threshold).alias("a"),
            F.col("__label").alias("b"),
        ),
        "a",
        "b",
    ).first()
    auc.update({"agreement": kap["agreement"], "kappa": kap["kappa"]})
    print(json.dumps(auc))
    for r in calibration_bins(
        scored, "__score", "__label", n_bins=args.bins, lo=args.lo, hi=args.hi
    ).collect():
        print(json.dumps(r.asDict()))
    return 0


def _cmd_compute_mutual_knn(args) -> int:
    from nbdatatools_spark.operators.knn import mutual_knn_pairs

    df = _spark().read.parquet(args.input)
    return _emit_rows(
        mutual_knn_pairs(
            df, k=args.k, metric=args.metric, id_col=args.id_col,
            vec_col=args.vec_col,
        ).limit(args.limit)
    )


def _cmd_corpus_cross_dedup(args) -> int:
    from nbdatatools_spark.operators.dedup import cross_corpus_near_dups

    spark = _spark()
    return _emit_rows(
        cross_corpus_near_dups(
            spark.read.parquet(args.a),
            spark.read.parquet(args.b),
            id_col=args.id_col, text_col=args.text_col,
            num_hashes=args.num_hashes, bands=args.bands,
            shingle_size=args.shingle_size, threshold=args.threshold,
        )
    )


def _cmd_compute_kmeans(args) -> int:
    from nbdatatools_spark.operators.clustering import lloyd_fixed_iterations

    df = _spark().read.parquet(args.input)
    return _emit_rows(
        lloyd_fixed_iterations(
            df, k=args.k, iterations=args.iterations,
            id_col=args.id_col, vec_col=args.vec_col,
        )
    )


def _cmd_analyze_sq8_error(args) -> int:
    from nbdatatools_spark.operators.similarity import sq8_error_report

    df = _spark().read.parquet(args.input)
    return _emit_rows(sq8_error_report(df, vec_col=args.vec_col))


def _cmd_graph(args) -> int:
    """Graph analytics over an edge-list parquet (src/dst columns)."""
    from pyspark.sql import functions as F

    from nbdatatools_spark.operators import graph

    edges = _spark().read.parquet(args.edges)
    if args.what == "pagerank":
        out = graph.pagerank(
            edges, src=args.src, dst=args.dst, weight=args.weight,
            damping=args.damping, iterations=args.iterations,
        ).orderBy(F.desc("rank"), "node")
    elif args.what == "hits":
        out = graph.hits_scores(
            edges, src=args.src, dst=args.dst, iterations=args.iterations
        ).orderBy(F.desc("authority"), "node")
    elif args.what == "communities":
        lp = graph.label_propagation(
            edges, src=args.src, dst=args.dst, iterations=args.iterations
        )
        out = (
            lp.groupBy("community")
            .agg(F.count(F.lit(1)).alias("size"))
            .orderBy(F.desc("size"), "community")
        )
    elif args.what == "assortativity":
        out = graph.degree_assortativity(edges, src=args.src, dst=args.dst)
    elif args.what == "kcore":
        out = graph.kcore(edges, k=args.k, src=args.src, dst=args.dst)
    else:  # triangles
        out = graph.triangle_stats(edges, src=args.src, dst=args.dst)
    if args.limit:
        out = out.limit(args.limit)
    return _emit_rows(out)


def _cmd_corpus_cosine_pairs(args) -> int:
    from nbdatatools_spark.operators.dedup import cosine_threshold_pairs

    docs = _spark().read.parquet(args.input)
    pairs = cosine_threshold_pairs(
        docs, threshold=args.threshold, text_col=args.text_col,
        id_col=args.id_col, max_posting=args.max_posting,
    )
    if args.output:
        pairs.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"pairs": args.output}))
        return 0
    return _emit_rows(pairs.orderBy("id_a", "id_b").limit(args.limit))


def _cmd_corpus_neg_sampling(args) -> int:
    from nbdatatools_spark.operators.lm import negative_sampling_table

    docs = _spark().read.parquet(args.input)
    return _emit_rows(
        negative_sampling_table(
            docs, text_col=args.text_col, vocab_size=args.vocab_size,
            power=args.power,
        )
    )


def _cmd_corpus_ppmi(args) -> int:
    from nbdatatools_spark.operators.lm import ppmi_word_vectors

    docs = _spark().read.parquet(args.input)
    vecs = ppmi_word_vectors(
        docs, text_col=args.text_col, window=args.window,
        vocab_size=args.vocab_size, dim=args.dim,
    )
    vecs.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"vectors": args.output}))
    return 0


def _cmd_corpus_compression(args) -> int:
    from pyspark.sql import functions as F

    from nbdatatools_spark.functions.text import compression_ratio

    docs = _spark().read.parquet(args.input)
    scored = docs.withColumn(
        "compression_ratio", compression_ratio(F.col(args.text_col))
    )
    if args.output:
        scored.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"scored": args.output}))
        return 0
    return _emit_rows(
        scored.select(args.id_col, "compression_ratio")
        .orderBy("compression_ratio")
        .limit(args.limit)
    )


def _cmd_corpus_quantile_align(args) -> int:
    from nbdatatools_spark.operators.evaluation import score_quantile_align

    docs = _spark().read.parquet(args.input)
    out = score_quantile_align(docs, args.score_col, args.group_col)
    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"aligned": args.output}))
    return 0


def _cmd_corpus_log_odds(args) -> int:
    from nbdatatools_spark.operators.analysis import log_odds_tokens

    docs = _spark().read.parquet(args.input)
    return _emit_rows(
        log_odds_tokens(
            docs, args.group_col, args.group_a, args.group_b,
            text_col=args.text_col, alpha=args.alpha, top_k=args.top_k,
        )
    )


def _cmd_corpus_ndcg(args) -> int:
    from nbdatatools_spark.operators.evaluation import ndcg_at_k

    df = _spark().read.parquet(args.input)
    return _emit_rows(
        ndcg_at_k(
            df, args.score_col, args.gain_col, k=args.k,
            group_col=args.group_col, id_col=args.id_col,
            exponential=not args.linear,
        )
    )


def _cmd_corpus_rbo(args) -> int:
    from nbdatatools_spark.operators.evaluation import rbo_overlap

    df = _spark().read.parquet(args.input)
    return _emit_rows(
        rbo_overlap(
            df, args.score_a, args.score_b, k=args.k, p=args.p,
            id_col=args.id_col,
        )
    )


def _cmd_corpus_parity(args) -> int:
    from pyspark.sql import functions as F

    from nbdatatools_spark.operators.evaluation import selection_parity

    df = _spark().read.parquet(args.input)
    kept = df.withColumn("__keep", F.expr(args.keep_expr))
    return _emit_rows(selection_parity(kept, "__keep", args.group_col))


def _cmd_corpus_wasserstein(args) -> int:
    from nbdatatools_spark.operators.analysis import wasserstein_1d

    df = _spark().read.parquet(args.input)
    return _emit_rows(
        wasserstein_1d(
            df, args.value_col, args.group_col, args.group_a, args.group_b
        )
    )


def _cmd_corpus_reweight(args) -> int:
    from nbdatatools_spark.operators.sampling import domain_reweight

    df = _spark().read.parquet(args.input)
    return _emit_rows(
        domain_reweight(
            df, args.domain_col, args.loss_col, eta=args.eta,
            smoothing=args.smoothing,
        )
    )


def _cmd_corpus_conformal(args) -> int:
    from nbdatatools_spark.operators.evaluation import conformal_threshold

    df = _spark().read.parquet(args.input)
    return _emit_rows(
        conformal_threshold(
            df, args.score_col, alpha=args.alpha, group_col=args.group_col
        )
    )


def _cmd_events_did(args) -> int:
    from nbdatatools_spark.operators.temporal import diff_in_diff

    ev = _spark().read.parquet(args.input)
    return _emit_rows(
        diff_in_diff(
            ev.selectExpr("*", f"({args.treat_expr}) AS __treat"),
            "__treat", args.value_col, ts_col=args.ts_col, cutoff=args.cutoff,
        )
    )


def _cmd_analyze_procrustes(args) -> int:
    from nbdatatools_spark.operators.analysis import procrustes_align

    spark = _spark()
    a = spark.read.parquet(args.input_a)
    b = spark.read.parquet(args.input_b)
    r, stats = procrustes_align(
        a, b, id_col=args.id_col, vec_a=args.vec_col, vec_b=args.vec_col
    )
    if args.rotation_out:
        spark.createDataFrame(
            [(i, row) for i, row in enumerate(r)],
            "dim int, rotation array<double>",
        ).write.mode("overwrite").parquet(args.rotation_out)
    return _emit_rows(stats)


def _cmd_analyze_knn_overlap(args) -> int:
    from nbdatatools_spark.operators.knn import knn_overlap

    spark = _spark()
    a = spark.read.parquet(args.input_a)
    b = spark.read.parquet(args.input_b)
    return _emit_rows(
        knn_overlap(
            a, b, k=args.k, metric=args.metric, id_col=args.id_col,
            vec_a=args.vec_col, vec_b=args.vec_col,
        )
    )


def _cmd_corpus_shards(args) -> int:
    from nbdatatools_spark.operators.packing import (
        balanced_shards,
        shard_balance_report,
    )

    df = _spark().read.parquet(args.input)
    if args.output:
        assigned = balanced_shards(
            df, args.n_shards, args.weight_col, id_col=args.id_col
        )
        assigned.write.mode("overwrite").partitionBy("shard").parquet(
            args.output
        )
        print(json.dumps({"shards": args.output, "n": args.n_shards}))
        return 0
    return _emit_rows(
        shard_balance_report(df, args.n_shards, args.weight_col,
                             id_col=args.id_col)
    )


def _cmd_events_quantiles(args) -> int:
    from nbdatatools_spark.operators.analysis import histogram_quantiles

    ev = _spark().read.parquet(args.input)
    probs = tuple(float(x) for x in args.probs.split(","))
    return _emit_rows(
        histogram_quantiles(
            ev, args.value_col, probs, lo=args.lo, hi=args.hi,
            n_bins=args.n_bins,
        )
    )


def _cmd_analyze_mi(args) -> int:
    from nbdatatools_spark.operators.quality_checks import mutual_information

    df = _spark().read.parquet(args.input)
    return _emit_rows(mutual_information(df, args.col_a, args.col_b))


def _cmd_analyze_kcenter(args) -> int:
    from nbdatatools_spark.operators.clustering import kcenter_select

    df = _spark().read.parquet(args.input)
    return _emit_rows(
        kcenter_select(df, k=args.k, id_col=args.id_col, vec_col=args.vec_col)
    )


def _cmd_events(args) -> int:
    """Temporal analytics over an events parquet (ts column)."""
    from pyspark.sql import functions as F

    from nbdatatools_spark.operators import temporal

    spark = _spark()
    ev = spark.read.parquet(args.input)
    if dict(ev.dtypes).get(args.ts_col) == "bigint":
        ev = ev.withColumn(
            args.ts_col, F.timestamp_micros(F.expr(f"{args.ts_col} div 1000"))
        )
    if args.what == "seasonal":
        return _emit_rows(temporal.seasonal_decompose(ev, ts_col=args.ts_col))
    if args.what == "acf":
        return _emit_rows(
            temporal.autocorrelation(
                ev, ts_col=args.ts_col, value_col=args.value_col,
                max_lag=args.max_lag,
            )
        )
    if args.what == "survival":
        return _emit_rows(
            temporal.kaplan_meier(
                ev, ts_col=args.ts_col, subject_col=args.subject_col,
                censor_days=args.censor_days,
            )
        )
    if args.what == "ccf":
        return _emit_rows(
            temporal.cross_correlation(
                ev, args.key_a, args.key_b, ts_col=args.ts_col,
                key_col=args.key_col, value_col=args.value_col,
                max_lag=args.max_lag,
            )
        )
    if args.what == "did":
        return _cmd_events_did(args)
    if args.what == "quantiles":
        return _cmd_events_quantiles(args)
    if args.what in ("mwu", "kruskal", "levene"):
        from nbdatatools_spark.operators import stats

        classed = ev.withColumn("__class", F.expr(args.class_expr))
        fn = {
            "mwu": stats.mann_whitney_u,
            "kruskal": stats.kruskal_wallis,
            "levene": stats.brown_forsythe,
        }[args.what]
        return _emit_rows(fn(classed, args.key_col, "__class", args.value_col))
    if args.what == "spearman":
        from nbdatatools_spark.operators import stats

        xed = ev.withColumn("__x", F.expr(args.x_expr))
        return _emit_rows(
            stats.spearman_corr(xed, args.key_col, "__x", args.value_col)
        )
    if args.what == "trend":
        from nbdatatools_spark.operators import stats

        daily = ev.groupBy(
            args.key_col, F.to_date(args.ts_col).alias("__d")
        ).agg(F.count(F.lit(1)).cast("double").alias("__y"))
        series = daily.select(
            args.key_col,
            F.datediff("__d", F.lit("1970-01-01")).cast("double").alias("__x"),
            "__y",
        )
        return _emit_rows(
            stats.mann_kendall(series, args.key_col, "__x", "__y")
        )
    if args.what == "page_hinkley":
        return _emit_rows(
            temporal.page_hinkley(
                ev, ts_col=args.ts_col, delta=args.delta, lambda_=args.lam
            )
        )
    if args.what == "welch":
        from nbdatatools_spark.operators import stats

        classed = ev.withColumn("__class", F.expr(args.class_expr))
        return _emit_rows(
            stats.welch_anova(classed, args.key_col, "__class", args.value_col)
        )
    if args.what == "shift":
        from nbdatatools_spark.operators import stats

        classed = ev.withColumn("__class", F.expr(args.class_expr))
        return _emit_rows(
            stats.shift_function(classed, args.key_col, "__class", args.value_col)
        )
    if args.what == "ks":
        from nbdatatools_spark.operators import stats

        classed = ev.withColumn("__class", F.expr(args.class_expr))
        return _emit_rows(
            stats.ks_two_sample(classed, args.key_col, "__class", args.value_col)
        )
    if args.what == "trimmed":
        from nbdatatools_spark.operators import stats

        return _emit_rows(
            stats.trimmed_stats(ev, args.key_col, args.value_col, trim=args.trim)
        )
    if args.what == "burstiness":
        return _emit_rows(
            temporal.burstiness(
                ev, user_col=args.user_col, ts_col=args.ts_col,
                min_events=args.min_events,
            ).orderBy(F.desc("burstiness"))
        )
    if args.what == "cusum":
        return _emit_rows(
            temporal.cusum_changepoints(
                ev, ts_col=args.ts_col, baseline_days=args.baseline_days,
                threshold_h=args.threshold,
            )
        )
    if args.what == "mad":
        return _emit_rows(
            temporal.mad_outliers(
                ev, key_col=args.key_col, value_col=args.value_col
            )
        )
    if args.what == "concurrency":
        return _emit_rows(
            temporal.interval_concurrency(
                ev, ts_col=args.ts_col, duration_minutes=args.duration
            )
        )
    if args.what == "k_anonymity":
        from nbdatatools_spark.operators.quality_checks import k_anonymity

        quasi = [c.strip() for c in args.quasi.split(",") if c.strip()]
        risky = k_anonymity(ev, quasi, k=args.k).localCheckpoint(eager=False)
        summary = risky.agg(
            F.count(F.lit(1)).alias("n_risky_groups"),
            F.coalesce(F.sum("n"), F.lit(0)).alias("n_rows_at_risk"),
        ).first()
        print(json.dumps(summary.asDict()))
        return _emit_rows(risky.limit(args.limit))
    if args.what == "dp_counts":
        from nbdatatools_spark.operators.analysis import dp_counts

        # release mode by default: fresh secret seed, noisy_count only;
        # --seed/--audit opt into the reproducible mechanism audit
        return _emit_rows(
            dp_counts(
                ev,
                args.key_col,
                epsilon=args.epsilon,
                seed=args.seed,
                audit=args.audit,
            )
        )
    if args.what in ("theil_sen", "bootstrap_ci"):
        daily = ev.groupBy(
            args.key_col, F.to_date(args.ts_col).alias("__d")
        ).agg(F.count(F.lit(1)).cast("double").alias("__y"))
        if args.what == "theil_sen":
            series = daily.select(
                args.key_col,
                F.datediff("__d", F.lit("1970-01-01")).cast("double").alias("__x"),
                "__y",
            )
            return _emit_rows(temporal.theil_sen(series, args.key_col, "__x", "__y"))
        return _emit_rows(
            temporal.bootstrap_mean_ci(
                daily, args.key_col, "__d", "__y",
                n_boot=args.n_boot, alpha=args.alpha,
            )
        )
    if args.what == "triangles":
        from nbdatatools_spark.operators.graph import triangle_stats

        occ = ev.select(
            F.col(args.key_col), F.date_trunc("hour", args.ts_col).alias("h"),
            F.col(args.node_col),
        ).distinct()
        a = occ.select(args.key_col, "h", F.col(args.node_col).alias("ua"))
        b = occ.select(args.key_col, "h", F.col(args.node_col).alias("ub"))
        edges = (
            a.join(b, [args.key_col, "h"])
            .where(F.col("ua") < F.col("ub"))
            .select("ua", "ub")
            .distinct()
        )
        return _emit_rows(triangle_stats(edges, src="ua", dst="ub"))
    raise SystemExit(f"unknown events subcommand {args.what!r}")


def _cmd_verify_profiles(args) -> int:
    from nbdatatools_spark.operators.knn import verify_profiles
    from nbdatatools_spark.sources.dataset import load_dataset

    spark = _spark()
    m = load_dataset(args.dataset)
    rows = verify_profiles(spark, m, k=args.k, sample_size=args.sample).collect()
    for r in sorted(rows, key=lambda r: r.profile):
        print(json.dumps(r.asDict(), default=str))
    worst = min((r.mean_recall for r in rows), default=0.0)
    return 0 if worst >= args.min_recall else 1


def _cmd_corpus_run(args) -> int:
    from nbdatatools_spark.plans.pipeline import load_pipeline_config, run_pipeline

    spark = _spark()
    docs = spark.read.parquet(args.input)
    steps = load_pipeline_config(args.config)
    out, report = run_pipeline(docs, steps, count_steps=args.report)
    out.write.mode("overwrite").parquet(args.output)
    n_out = spark.read.parquet(args.output).count()
    for row in report:
        print(json.dumps(row, default=str))
    # provenance beside the data: the exact steps, input, and counts that
    # produced this output — the replayability artifact
    prov = {
        "input": args.input,
        "config": args.config,
        "steps": steps,
        "rows_out": n_out,
        "report": report,
    }
    with open(os.path.join(args.output, "_pipeline.json"), "w") as f:
        json.dump(prov, f, indent=2, default=str)
    print(json.dumps({"output": args.output, "rows": n_out}))
    return 0


def _cmd_cleanup(args) -> int:
    from nbdatatools_spark.operators.dedup import clean_vectors

    spark = _spark()
    df = _read_vectors(spark, args.input)
    _write_vectors(clean_vectors(df), args.output)
    return 0


def _parse_ordinals(spec: str) -> list[int]:
    """Reference ordinal specifiers (CMD_slab_get.java): comma-separated
    ordinals or ``m..n`` inclusive ranges."""
    out: list[int] = []
    for part in spec.split(","):
        part = part.strip()
        if ".." in part:
            lo, hi = part.split("..", 1)
            out.extend(range(int(lo), int(hi) + 1))
        elif part:
            out.append(int(part))
    return out


def _slab_source_records(args):
    """Yield (namespace, ordinal, data) from an import source, dispatching
    on extension like CMD_slab_import's content-type detection: .slab
    (slab-to-slab copy), .parquet (slab table or (ordinal, vector)),
    xvec (raw per-vector bytes), anything else = one record per text line."""
    src = getattr(args, "src", None) or args.from_
    ns = args.namespace
    start = args.start_ordinal if args.start_ordinal >= 0 else 0
    if src.endswith(".slab"):
        from nbdatatools_spark.sources.slab_binary import SlabBinaryReader

        with SlabBinaryReader(src) as r:
            yield from r.iter_records()
        return
    if src.endswith(".parquet") or os.path.isdir(src):
        spark = _spark()
        df = spark.read.parquet(src)
        if "data" in df.columns and "ordinal" in df.columns:
            from pyspark.sql import functions as F

            if "namespace" not in df.columns:
                df = df.withColumn("namespace", F.lit(ns))
            rows = (
                df.select("namespace", "ordinal", "data")
                .repartition(1)
                .sortWithinPartitions("namespace", "ordinal")
                .toLocalIterator()
            )
            for row in rows:
                yield row["namespace"] or "", int(row["ordinal"]), bytes(row["data"])
            return
        raise SystemExit(f"parquet import needs (ordinal, data) columns: {src}")
    from nbdatatools_spark.sources.xvec import is_xvec, read_xvec

    if is_xvec(src):
        import struct as _struct

        # .mvec is float16 on disk but read_xvec widens to float32 at ingest
        # (SURVEY F5); the slab payload stores the widened f32 vector.
        fmt = {"f": "f", "i": "i", "b": "B", "d": "d", "s": "h", "m": "f"}[
            os.path.basename(src).rsplit(".", 1)[1][0]
        ]
        for row in read_xvec(_spark(), src).orderBy("ordinal").toLocalIterator():
            vec = row["vector"]
            yield ns, start + int(row["ordinal"]), _struct.pack(f"<{len(vec)}{fmt}", *vec)
        return
    with open(src, "rb") as fh:
        payload = fh.read()
    sep = b"\x00" if b"\x00" in payload else b"\n"
    parts = payload.split(sep)
    if parts and parts[-1] == b"":
        parts.pop()
    for i, rec in enumerate(parts):
        yield ns, start + i, rec


def _cmd_slab(args) -> int:
    from nbdatatools_spark.sources.slab_binary import (
        SlabBinaryReader,
        SlabBinaryWriter,
        SlabFormatError,
    )

    what = args.what
    if what == "get":
        with SlabBinaryReader(args.file) as r:
            for o in _parse_ordinals(args.ordinals):
                data = r.get(o, args.namespace)
                if args.as_hex:
                    print(" ".join(f"{b:02x}" for b in data))
                elif args.as_base64:
                    import base64

                    print(base64.b64encode(data).decode())
                else:
                    print(data.decode("utf-8", "replace"))
        return 0
    if what == "namespaces":
        with SlabBinaryReader(args.file) as r:
            for name in r.namespaces():
                print(json.dumps({
                    "namespace": name,
                    "index": r.namespace_index(name),
                    "pages": len(r.page_entries(name)),
                    "records": r.count(name),
                }))
        return 0
    if what == "check":
        try:
            with SlabBinaryReader(args.file) as r:
                print(json.dumps(r.check()))
            return 0
        except SlabFormatError as e:
            print(json.dumps({"error": str(e)}))
            return 1
    if what == "analyze":
        with SlabBinaryReader(args.file) as r:
            print(json.dumps(r.analyze()))
        return 0
    if what in ("import", "append"):
        append = what == "append" or args.append
        if os.path.exists(args.file) and not append and not args.force:
            raise SystemExit(f"{args.file} exists; use --force or --append")
        kw = {"preferred_page_size": args.page_size,
              "min_page_size": args.min_page_size,
              "page_alignment": args.page_alignment}
        if append and os.path.exists(args.file):
            w = SlabBinaryWriter.open_for_append(args.file, **kw)
        else:
            w = SlabBinaryWriter.create_with_buffer(args.file, **kw)
        n = 0
        with w:
            if append and args.start_ordinal < 0:
                # auto-detect (CMD_slab_import --start-ordinal default):
                # generated ordinals continue after the last existing one
                st = w._ns.get(args.namespace)
                args.start_ordinal = (
                    st.last_written + 1 if st is not None and st.has_written else 0
                )
            for ns, o, data in _slab_source_records(args):
                w.write(o, data, ns)
                n += 1
        print(json.dumps({"file": args.file, "records_written": n}))
        return 0
    if what == "export":
        with SlabBinaryReader(args.file) as r:
            wanted = set(_parse_ordinals(args.range)) if args.range else None
            rows = (
                (ns, o, d)
                for ns, o, d in r.iter_records(
                    args.namespace if args.namespace is not None else None
                )
                if wanted is None or o in wanted
            )
            if args.format == "parquet" and not args.to:
                raise SystemExit("slab export --format parquet requires --to")
            if args.to and (args.to.endswith(".parquet") or args.format == "parquet"):
                spark = _spark()
                df = spark.createDataFrame(
                    [(ns, o, bytearray(d)) for ns, o, d in rows],
                    "namespace string, ordinal bigint, data binary",
                )
                df.write.mode("overwrite" if args.force else "errorifexists").parquet(args.to)
            else:
                out = open(args.to, "wb") if args.to else sys.stdout.buffer
                try:
                    for _, _, d in rows:
                        out.write(d)
                        if args.format == "lines":
                            out.write(b"\n")
                finally:
                    if args.to:
                        out.close()
        return 0
    if what == "rewrite":
        target = args.output or args.file
        with SlabBinaryReader(args.file) as r:
            records = list(r.iter_records())
        w = SlabBinaryWriter.create_with_buffer(
            target + (".rewrite" if target == args.file else ""),
            preferred_page_size=args.page_size,
        )
        with w:
            for ns, o, d in records:
                w.write(o, d, ns)
        if target == args.file:
            os.replace(target + ".rewrite", target)
        print(json.dumps({"file": target, "records": len(records)}))
        return 0
    raise SystemExit(2)


def _cmd_analyze_rfm(args) -> int:
    from nbdatatools_spark.operators.analysis import rfm_segments

    return _emit_rows(
        rfm_segments(
            _spark().read.parquet(args.input),
            customer_col=args.customer_col,
            ts_col=args.ts_col,
            amount_col=args.amount_col,
            n_buckets=args.buckets,
        )
    )


def _cmd_corpus_yield_curve(args) -> int:
    from pyspark.sql import functions as F

    from nbdatatools_spark.operators.evaluation import filter_yield_curve

    df = _spark().read.parquet(args.input)
    base = df.select(
        F.round(F.expr(args.score_expr), 6).alias("__score"),
        F.expr(args.weight_expr).cast("long").alias("__w"),
    )
    return _emit_rows(
        filter_yield_curve(base, "__score", "__w", n_steps=args.steps)
    )


def _cmd_corpus_dup_rate(args) -> int:
    from nbdatatools_spark.operators.dedup import source_dup_rate

    return _emit_rows(
        source_dup_rate(
            _spark().read.parquet(args.input),
            id_col=args.id_col,
            text_col=args.text_col,
            group_col=args.group_col,
        )
    )


def _cmd_corpus_gini(args) -> int:
    from nbdatatools_spark.operators.analysis import source_concentration

    return _emit_rows(
        source_concentration(
            _spark().read.parquet(args.input),
            group_col=args.group_col,
            text_col=args.text_col,
        )
    )


def _cmd_corpus_diversity(args) -> int:
    from nbdatatools_spark.operators.analysis import lexical_diversity

    return _emit_rows(
        lexical_diversity(
            _spark().read.parquet(args.input),
            group_col=args.group_col,
            text_col=args.text_col,
        )
    )


def _cmd_corpus_fleiss(args) -> int:
    """Fleiss kappa over a LONG-format verdict table (item, rater,
    category) — pre-melt filter outputs with `corpus run --report` or any
    per-filter projection."""
    from nbdatatools_spark.operators.evaluation import fleiss_kappa

    return _emit_rows(
        fleiss_kappa(
            _spark().read.parquet(args.input),
            args.item_col,
            args.rater_col,
            args.category_col,
        )
    )


def _cmd_corpus_fdr(args) -> int:
    """Per-slice rate anomaly screen with BH FDR control: two-proportion
    z of each slice's flag rate vs the rest, then the step-up."""
    import math as _math

    from pyspark.sql import functions as F

    from nbdatatools_spark.operators.stats import _erf, bh_adjust

    docs = _spark().read.parquet(args.input)
    per = docs.groupBy(args.group_col).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.expr(args.flag_expr), 1).otherwise(0)).alias("n_flag"),
    )
    tot = per.agg(F.sum("n_rows").alias("__tn"), F.sum("n_flag").alias("__tk"))
    j = per.crossJoin(F.broadcast(tot))
    ns = F.col("n_rows").cast("double")
    nr = (F.col("__tn") - F.col("n_rows")).cast("double")
    ps = F.col("n_flag").cast("double") / ns
    pr = (F.col("__tk") - F.col("n_flag")).cast("double") / nr
    pp = F.col("__tk").cast("double") / F.col("__tn").cast("double")
    se = F.sqrt(pp * (1.0 - pp) * (1.0 / ns + 1.0 / nr))
    z = F.when(se == 0.0, F.lit(0.0)).otherwise((ps - pr) / se)
    p = F.round(1.0 - _erf(F.abs(z) / F.lit(_math.sqrt(2.0))), 4) + 0.0
    tested = j.select(
        args.group_col,
        "n_rows",
        F.round(ps, 6).alias("flag_rate"),
        (F.round(z, 6) + 0.0).alias("z"),
        p.alias("p_raw"),
    )
    adjusted = bh_adjust(tested, "p_raw", [args.group_col], alpha=args.alpha)
    return _emit_rows(
        tested.select(args.group_col, "n_rows", "flag_rate", "z")
        .join(adjusted, args.group_col)
        .orderBy(args.group_col)
    )


def _cmd_corpus_lsa(args) -> int:
    from nbdatatools_spark.operators.lm import lsa_topics

    return _emit_rows(
        lsa_topics(
            _spark().read.parquet(args.input),
            text_col=args.text_col,
            id_col=args.id_col,
            vocab_size=args.vocab_size,
            n_topics=args.topics,
            top_terms=args.top_terms,
            min_df=args.min_df,
        )
    )


def _cmd_corpus_ess(args) -> int:
    from nbdatatools_spark.operators.stats import effective_sample_size

    return _emit_rows(
        effective_sample_size(
            _spark().read.parquet(args.input), args.group_col, args.weight_col
        )
    )


def _cmd_corpus_brier(args) -> int:
    from pyspark.sql import functions as F

    from nbdatatools_spark.operators.evaluation import brier_decomposition

    docs = _spark().read.parquet(args.input)
    return _emit_rows(
        brier_decomposition(
            docs.select(
                F.col(args.score_col).alias("__score"),
                F.expr(args.label_expr).alias("__label"),
            ),
            "__score",
            "__label",
            n_bins=args.n_bins,
        )
    )


def _cmd_corpus_cochran(args) -> int:
    """Cochran's Q over a LONG-format verdict table (item, rater, flag)."""
    from nbdatatools_spark.operators.evaluation import cochran_q

    return _emit_rows(
        cochran_q(
            _spark().read.parquet(args.input),
            args.item_col,
            args.rater_col,
            args.flag_col,
        )
    )


def _cmd_corpus_friedman(args) -> int:
    """Friedman test over a LONG-format score table (block, scorer, score)."""
    from nbdatatools_spark.operators.stats import friedman_test

    return _emit_rows(
        friedman_test(
            _spark().read.parquet(args.input),
            args.block_col,
            args.scorer_col,
            args.score_col,
        )
    )


def _cmd_corpus_mixing(args) -> int:
    from nbdatatools_spark.operators.packing import shard_mixing_report

    return _emit_rows(
        shard_mixing_report(
            _spark().read.parquet(args.input),
            n_shards=args.n_shards,
            weight_col=args.weight_col,
            group_col=args.group_col,
            id_col=args.id_col,
        )
    )


def _cmd_corpus_cramers(args) -> int:
    from nbdatatools_spark.operators.stats import cramers_v

    return _emit_rows(
        cramers_v(_spark().read.parquet(args.input), args.col_a, args.col_b)
    )


def _cmd_analyze_decontaminate(args) -> int:
    from nbdatatools_spark.operators.dedup import semantic_decontaminate

    sp = _spark()
    return _emit_rows(
        semantic_decontaminate(
            sp.read.parquet(args.train),
            sp.read.parquet(args.test),
            threshold=args.threshold,
            id_col=args.id_col,
            vec_col=args.vec_col,
            method=args.method,
        )
    )


def _cmd_analyze_dbscan(args) -> int:
    from nbdatatools_spark.operators.clustering import dbscan

    return _emit_rows(
        dbscan(
            _spark().read.parquet(args.input),
            eps_cosine=args.eps,
            min_pts=args.min_pts,
            id_col=args.id_col,
            vec_col=args.vec_col,
            method=args.method,
        )
    )


def _cmd_analyze_two_sample(args) -> int:
    from pyspark.sql import functions as F

    from nbdatatools_spark.operators.stats import two_sample_distance

    emb = _spark().read.parquet(args.input)
    side = F.expr(args.split_expr)
    return _emit_rows(
        two_sample_distance(
            emb.where(side),
            emb.where(~side),
            vec=args.vec_col,
            id_col=args.id_col,
            gamma=args.gamma,
            sample_size=args.sample_size,
        )
    )


def _cmd_analyze_isotropy(args) -> int:
    from nbdatatools_spark.operators.analysis import embedding_isotropy

    return _emit_rows(
        embedding_isotropy(
            _spark().read.parquet(args.input),
            vec=args.vec_col,
            id_col=args.id_col,
            sample_size=args.sample,
        )
    )


def _cmd_analyze_benford(args) -> int:
    from nbdatatools_spark.operators.quality_checks import benford_audit

    return _emit_rows(
        benford_audit(_spark().read.parquet(args.input), args.value_col)
    )


def _cmd_analyze_chi2(args) -> int:
    from nbdatatools_spark.operators.quality_checks import (
        chi_square_independence,
    )

    return _emit_rows(
        chi_square_independence(
            _spark().read.parquet(args.input), args.col_a, args.col_b
        )
    )


def _cmd_analyze_assoc(args) -> int:
    from nbdatatools_spark.operators.analysis import association_rules

    return _emit_rows(
        association_rules(
            _spark().read.parquet(args.input),
            args.basket_col,
            args.item_col,
            min_pair_count=args.min_pairs,
            max_basket_items=args.max_basket,
        ).limit(args.limit)
    )


def _cmd_analyze_intrinsic_dim(args) -> int:
    from nbdatatools_spark.operators.analysis import intrinsic_dimension

    return _emit_rows(
        intrinsic_dimension(
            _spark().read.parquet(args.input),
            vec=args.vec_col,
            dims=args.dims,
            impl=args.impl,
            id_col=args.id_col,
        )
    )


def _cmd_corpus_hll(args) -> int:
    from nbdatatools_spark.operators.lm import hll_distinct

    return _emit_rows(
        hll_distinct(
            _spark().read.parquet(args.input),
            text_col=args.text_col,
            precision=args.precision,
        )
    )


def _cmd_corpus_jsd(args) -> int:
    from nbdatatools_spark.operators.analysis import source_jsd

    return _emit_rows(
        source_jsd(
            _spark().read.parquet(args.input),
            group_col=args.group_col,
            text_col=args.text_col,
            vocab_size=args.vocab,
        )
    )


def _cmd_corpus_textrank(args) -> int:
    from nbdatatools_spark.operators.analysis import textrank_keywords

    return _emit_rows(
        textrank_keywords(
            _spark().read.parquet(args.input),
            text_col=args.text_col,
            window=args.window,
            iterations=args.iterations,
            min_count=args.min_count,
            topk=args.top,
            id_col=args.id_col,
        )
    )


def _cmd_corpus_batching(args) -> int:
    from nbdatatools_spark.operators.packing import length_batching_audit

    return _emit_rows(
        length_batching_audit(
            _spark().read.parquet(args.input),
            id_col=args.id_col,
            text_col=args.text_col,
            batch_size=args.batch_size,
        )
    )


def _cmd_corpus_isotonic(args) -> int:
    from pyspark.sql import functions as F

    from nbdatatools_spark.operators.evaluation import isotonic_calibration

    df = _spark().read.parquet(args.input)
    scored = df.select(
        F.round(F.expr(args.score_expr), 6).alias("__score"),
        F.expr(args.label_expr).cast("boolean").alias("__label"),
    )
    return _emit_rows(
        isotonic_calibration(
            scored, "__score", "__label", n_bins=args.bins, lo=args.lo,
            hi=args.hi,
        )
    )


def _cmd_corpus_sliced_auc(args) -> int:
    from pyspark.sql import functions as F

    from nbdatatools_spark.operators.evaluation import grouped_ranking_auc

    df = _spark().read.parquet(args.input)
    scored = df.select(
        F.col(args.group_col),
        F.round(F.expr(args.score_expr), 6).alias("__score"),
        F.expr(args.label_expr).cast("boolean").alias("__label"),
    )
    return _emit_rows(
        grouped_ranking_auc(scored, "__score", "__label", args.group_col)
    )


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="nbdatatools_spark")
    sub = p.add_subparsers(dest="group", required=True)

    an = sub.add_parser("analyze").add_subparsers(dest="what", required=True)
    for w in ("count_zeros", "describe"):
        a = an.add_parser(w)
        a.add_argument("--input", required=True)
        a.add_argument("--vec-col", default="vector")
        a.add_argument("--ordinal-col", default="ordinal")
        a.set_defaults(func=_cmd_analyze)
    asel = an.add_parser("select")
    asel.add_argument("--input", required=True)
    asel.add_argument("--ordinals", required=True, help="e.g. 0,5,9..12")
    asel.add_argument("--output", default=None)
    asel.add_argument("--vec-col", default="vector")
    asel.set_defaults(func=_cmd_analyze)
    asl = an.add_parser("slice")
    asl.add_argument("--input", required=True)
    asl.add_argument("--window", required=True, help="a..b (re-based)")
    asl.add_argument("--output", default=None)
    asl.add_argument("--vec-col", default="vector")
    asl.set_defaults(func=_cmd_analyze)
    af = an.add_parser("find")
    af.add_argument("--input", required=True)
    af.add_argument("--where", default=None, help="SQL criteria over (ordinal, vector)")
    af.add_argument("--zero-vectors", action="store_true")
    af.add_argument("--limit", type=int, default=None)
    af.add_argument("--vec-col", default="vector")
    af.set_defaults(func=_cmd_analyze)
    ae = an.add_parser("check-endian")
    ae.add_argument("--input", required=True)
    ae.set_defaults(func=_cmd_check_endian)
    vk = an.add_parser("verify_knn")
    vk.add_argument("--input", required=True, help="base vectors")
    vk.add_argument("--queries", required=True)
    vk.add_argument("--truth", required=True, help="answer-key indices (ivec/parquet)")
    vk.add_argument("--k", type=int, default=10)
    vk.add_argument("--metric", default="cosine")
    vk.add_argument("--sample", type=int, default=100)
    vk.add_argument("--min-recall", type=float, default=1.0)
    vk.set_defaults(func=_cmd_analyze)
    vp = an.add_parser("verify_profiles")
    vp.add_argument("--dataset", required=True)
    vp.add_argument("--k", type=int, default=10)
    vp.add_argument("--sample", type=int, default=100)
    vp.add_argument("--min-recall", type=float, default=1.0)
    vp.set_defaults(func=_cmd_verify_profiles)
    ta = an.add_parser("tune_ann")
    ta.add_argument("--input", required=True)
    ta.add_argument("--k", type=int, default=10)
    ta.add_argument("--n-queries", type=int, default=20)
    ta.add_argument("--n-centroids", type=int, default=16)
    ta.add_argument("--nprobes", default="1,2,4,8")
    ta.add_argument("--id-col", default="vec_id")
    ta.add_argument("--vec-col", default="embedding")
    ta.set_defaults(func=_cmd_tune_ann)
    tc = an.add_parser("tune_compression")
    tc.add_argument("--input", required=True)
    tc.add_argument("--dim", type=int, required=True)
    tc.add_argument("--k", type=int, default=10)
    tc.add_argument("--n-queries", type=int, default=20)
    tc.add_argument("--id-col", default="vec_id")
    tc.add_argument("--vec-col", default="embedding")
    tc.set_defaults(func=_cmd_tune_compression)

    co = sub.add_parser("compute").add_subparsers(dest="what", required=True)
    kn = co.add_parser("knn")
    kn.add_argument("--base", required=True)
    kn.add_argument("--query", required=True)
    kn.add_argument("--k", type=int, default=10)
    kn.add_argument("--metric", default="cosine")
    kn.add_argument("--out-indices")
    kn.add_argument("--out-distances")
    kn.add_argument("--limit", type=int, default=20)
    kn.set_defaults(func=_cmd_compute_knn)
    for ivf_what in ("ivf_build", "ivf_append", "ivf_search"):
        iv = co.add_parser(ivf_what)
        iv.add_argument("--index", required=True)
        iv.add_argument("--id-col", default="vec_id")
        iv.add_argument("--vec-col", default="embedding")
        if ivf_what == "ivf_build":
            iv.add_argument("--input", required=True)
            iv.add_argument("--centroids", type=int, default=16)
            iv.add_argument("--seed", type=int, default=42)
        elif ivf_what == "ivf_append":
            iv.add_argument("--input", required=True)
            iv.add_argument("--drop-existing", action="store_true")
        else:
            iv.add_argument("--query", required=True)
            iv.add_argument("--query-ids", default="")
            iv.add_argument("--k", type=int, default=10)
            iv.add_argument("--nprobe", type=int, default=4)
            iv.add_argument("--limit", type=int, default=50)
        iv.set_defaults(func=_cmd_compute_ivf)
    cso = co.add_parser("sort")
    cso.add_argument("--input", required=True)
    cso.add_argument("--output", required=True)
    cso.add_argument("--by", choices=("ordinal", "norm"), default="ordinal")
    cso.add_argument("--desc", action="store_true")
    cso.set_defaults(func=_cmd_compute_sort)

    cv = sub.add_parser("convert").add_subparsers(dest="what", required=True)
    cf = cv.add_parser("file")
    cf.add_argument("--input", required=True)
    cf.add_argument("--output", required=True)
    cf.set_defaults(func=_cmd_convert)

    gn = sub.add_parser("generate").add_subparsers(dest="what", required=True)
    gv = gn.add_parser("vectors")
    gv.add_argument("--count", type=int, required=True)
    gv.add_argument("--dimensions", type=int, required=True)
    gv.add_argument("--output", required=True)
    gv.add_argument("--seed", type=int, default=42)
    gv.add_argument("--zeroes", type=float, default=0.0)
    gv.add_argument("--duplicates", type=float, default=0.0)
    gv.set_defaults(func=_cmd_generate)
    for w in ("mktestdata", "dataset"):
        gm = gn.add_parser(w)
        gm.add_argument("--dir", required=True)
        gm.add_argument("--n-base", type=int, default=1000)
        gm.add_argument("--n-query", type=int, default=100)
        gm.add_argument("--dimensions", type=int, default=16)
        gm.add_argument("--k", type=int, default=10)
        gm.add_argument("--seed", type=int, default=42)
        gm.set_defaults(func=_cmd_generate)
    for w in ("fvec-extract", "ivec-extract"):
        ge = gn.add_parser(w)
        ge.add_argument("--input", required=True)
        ge.add_argument("--window", required=True)
        ge.add_argument("--output", required=True)
        ge.set_defaults(func=_cmd_generate)
    gs = gn.add_parser("ivec-shuffle")
    gs.add_argument("--input", required=True)
    gs.add_argument("--output", required=True)
    gs.add_argument("--seed", type=int, default=42)
    gs.set_defaults(func=_cmd_generate)

    mkp = sub.add_parser("merkle").add_subparsers(dest="what", required=True)
    for w, extra in (
        ("create", ()),
        ("verify", ("--merkle",)),
        ("summary", ()),
        ("diff", ("--other",)),
        ("path", ("--chunk",)),
        ("treeview", ()),
        ("spoilbits", ("--bits",)),
        ("spoilchunks", ("--merkle", "--chunks")),
    ):
        mp = mkp.add_parser(w)
        mp.add_argument("--input", required=True)
        if w == "create":
            mp.add_argument("--output")
        for e in extra:
            if e == "--chunk":
                mp.add_argument(e, type=int, required=True)
            else:
                mp.add_argument(e, required=True)
        mp.set_defaults(func=_cmd_merkle)

    ct = sub.add_parser("catalog")
    ct.add_argument("roots", nargs="+")
    ct.add_argument("--output", required=True)
    ct.set_defaults(func=_cmd_catalog, what=None)

    ds = sub.add_parser("datasets").add_subparsers(dest="what", required=True)
    dp = ds.add_parser("plan")
    dp.add_argument("--dataset", required=True)
    dp.set_defaults(func=_cmd_datasets_plan)
    dc = ds.add_parser("curlify")
    dc.add_argument("--dataset", required=True)
    dc.add_argument("--base-url", required=True)
    dc.add_argument("--profiles", nargs="*", default=None)
    dc.set_defaults(func=_cmd_datasets_curlify)
    dpb = ds.add_parser("prebuffer")
    dpb.add_argument("--dataset", required=True)
    dpb.add_argument("--facet", default=None)
    dpb.add_argument("--profile", default=None)
    dpb.set_defaults(func=_cmd_datasets_prebuffer)
    dl = ds.add_parser("list")
    dl.add_argument("--catalog", required=True)
    dl.set_defaults(func=_cmd_datasets_list)
    dd = ds.add_parser("download")
    dd.add_argument("--url", required=True)
    dd.add_argument("--merkle", required=True, help="local .mref for verification")
    dd.add_argument("--out", required=True)
    dd.set_defaults(func=_cmd_datasets_download)

    vd = sub.add_parser("vectordata").add_subparsers(dest="what", required=True)
    for w in ("views", "profiles"):
        vv = vd.add_parser(w)
        vv.add_argument("--dataset", required=True)
        vv.set_defaults(func=_cmd_vectordata)
    vc = vd.add_parser("cat")
    vc.add_argument("--dataset", required=True)
    vc.add_argument("--facet", default="base")
    vc.add_argument("--profile", default=None)
    vc.add_argument("--limit", type=int, default=None)
    vc.set_defaults(func=_cmd_vectordata)
    for w in ("prebuffer", "verify"):
        vpb = vd.add_parser(w)
        vpb.add_argument("--dataset", required=True)
        vpb.add_argument("--facet", default=None)
        vpb.add_argument("--profile", default=None)
        vpb.set_defaults(func=_cmd_vectordata)
    vi = vd.add_parser("info")
    vi.add_argument("--dataset", required=True)
    vi.set_defaults(func=_cmd_vectordata)
    vs = vd.add_parser("size")
    vs.add_argument("--dataset", required=True)
    vs.add_argument("--facet", default="base")
    vs.add_argument("--profile", default=None)
    vs.set_defaults(func=_cmd_vectordata)
    vsa = vd.add_parser("sample")
    vsa.add_argument("--dataset", required=True)
    vsa.add_argument("--facet", default="base")
    vsa.add_argument("--n", type=int, default=5)
    vsa.add_argument("--profile", default=None)
    vsa.set_defaults(func=_cmd_vectordata)

    cp = sub.add_parser("corpus").add_subparsers(dest="what", required=True)
    cs = cp.add_parser("stats")
    cs.add_argument("--input", required=True)
    cs.add_argument("--text-col", default="text")
    cs.add_argument("--id-col", default="doc_id")
    cs.set_defaults(func=_cmd_corpus_stats)
    td = cp.add_parser("tune_dedup")
    td.add_argument("--input", required=True)
    td.add_argument("--num-hashes", type=int, default=64)
    td.add_argument("--bands", type=int, default=16)
    td.add_argument("--threshold", type=float, default=0.7)
    td.add_argument("--sample", type=int, default=200)
    td.set_defaults(func=_cmd_tune_dedup)
    cr = cp.add_parser("run")
    cr.add_argument("--input", required=True)
    cr.add_argument("--config", required=True)
    cr.add_argument("--output", required=True)
    cr.add_argument("--report", action="store_true")
    cr.set_defaults(func=_cmd_corpus_run)
    ccs = cp.add_parser("cluster_sizes")
    ccs.add_argument("--input", required=True)
    ccs.add_argument("--text-col", default="text")
    ccs.add_argument("--id-col", default="doc_id")
    ccs.add_argument("--num-hashes", type=int, default=32)
    ccs.add_argument("--bands", type=int, default=8)
    ccs.add_argument("--threshold", type=float, default=0.5)
    ccs.set_defaults(func=_cmd_corpus_cluster_sizes)
    cds = cp.add_parser("dedup_savings")
    cds.add_argument("--input", required=True)
    cds.add_argument("--text-col", default="text")
    cds.add_argument("--id-col", default="doc_id")
    cds.add_argument("--num-hashes", type=int, default=32)
    cds.add_argument("--bands", type=int, default=8)
    cds.add_argument("--threshold", type=float, default=0.5)
    cds.set_defaults(func=_cmd_corpus_dedup_savings)
    csc = cp.add_parser("source_contamination")
    csc.add_argument("--input", required=True)
    csc.add_argument("--test", required=True)
    csc.add_argument("--slice-col", default="source")
    csc.add_argument("--id-col", default="doc_id")
    csc.add_argument("--text-col", default="text")
    csc.add_argument("--n", type=int, default=13)
    csc.set_defaults(func=_cmd_corpus_source_contamination)
    csb = cp.add_parser("select_budget")
    csb.add_argument("--input", required=True)
    csb.add_argument("--output", required=True)
    csb.add_argument("--budget", type=int, required=True)
    csb.add_argument("--text-col", default="text")
    csb.add_argument("--id-col", default="doc_id")
    csb.add_argument("--keep-partial", action="store_true")
    csb.set_defaults(func=_cmd_corpus_select_budget)

    ccd = cp.add_parser("card")
    ccd.add_argument("--input", required=True)
    ccd.add_argument("--group-col", default="source")
    ccd.add_argument("--text-col", default="text")
    ccd.set_defaults(func=_cmd_corpus_card)
    ckp = cp.add_parser("keyphrases")
    ckp.add_argument("--input", required=True)
    ckp.add_argument("--text-col", default="text")
    ckp.add_argument("--id-col", default="doc_id")
    ckp.add_argument("--top", type=int, default=25)
    ckp.set_defaults(func=_cmd_corpus_keyphrases)
    ckn = cp.add_parser("kneser_ney")
    ckn.add_argument("--input", required=True)
    ckn.add_argument("--text-col", default="text")
    ckn.add_argument("--id-col", default="doc_id")
    ckn.add_argument("--discount", type=float, default=0.75)
    ckn.add_argument("--top", type=int, default=20)
    ckn.set_defaults(func=_cmd_corpus_kneser_ney)
    ckpp = cp.add_parser("kn_perplexity")
    ckpp.add_argument("--train", required=True)
    ckpp.add_argument("--input", required=True)
    ckpp.add_argument("--text-col", default="text")
    ckpp.add_argument("--id-col", default="doc_id")
    ckpp.add_argument("--discount", type=float, default=0.75)
    ckpp.add_argument("--floor", type=float, default=1e-9)
    ckpp.add_argument("--output")
    ckpp.add_argument("--limit", type=int, default=20)
    ckpp.set_defaults(func=_cmd_corpus_kn_perplexity)
    cpsi = cp.add_parser("score_psi")
    cpsi.add_argument("--baseline", required=True)
    cpsi.add_argument("--current", required=True)
    cpsi.add_argument("--score-col", default="score")
    cpsi.add_argument("--group-col", default="source")
    cpsi.add_argument("--bins", type=int, default=10)
    cpsi.add_argument("--lo", type=float, default=0.0)
    cpsi.add_argument("--hi", type=float, default=1.0)
    cpsi.set_defaults(func=_cmd_corpus_score_psi)
    ccd = cp.add_parser("card_diff")
    ccd.add_argument("--old", required=True)
    ccd.add_argument("--new", required=True)
    ccd.add_argument("--group-col", default="source")
    ccd.add_argument("--text-col", default="text")
    ccd.add_argument("--lang-col", default="lang")
    ccd.set_defaults(func=_cmd_corpus_card_diff)
    cmk = cp.add_parser("mink_prob")
    cmk.add_argument("--train", required=True)
    cmk.add_argument("--input", required=True)
    cmk.add_argument("--text-col", default="text")
    cmk.add_argument("--id-col", default="doc_id")
    cmk.add_argument("--k-pct", type=float, default=0.2)
    cmk.add_argument("--discount", type=float, default=0.75)
    cmk.add_argument("--floor", type=float, default=1e-9)
    cmk.add_argument("--output")
    cmk.add_argument("--limit", type=int, default=20)
    cmk.set_defaults(func=_cmd_corpus_mink_prob)
    cfn = cp.add_parser("funnel")
    cfn.add_argument("--input", required=True)
    cfn.add_argument(
        "--stages", required=True,
        help='JSON list of {"name": ..., "expr": SQL boolean} stages',
    )
    cfn.add_argument("--text-col", default="text")
    cfn.add_argument("--token-col")
    cfn.set_defaults(func=_cmd_corpus_funnel)
    csl = cp.add_parser("slice_perplexity")
    csl.add_argument("--train", required=True)
    csl.add_argument("--input", required=True)
    csl.add_argument("--slice-col", default="source")
    csl.add_argument("--text-col", default="text")
    csl.add_argument("--id-col", default="doc_id")
    csl.add_argument("--discount", type=float, default=0.75)
    csl.add_argument("--floor", type=float, default=1e-9)
    csl.set_defaults(func=_cmd_corpus_slice_perplexity)
    ctu = cp.add_parser("train_unigram")
    ctu.add_argument("--input", required=True)
    ctu.add_argument("--text-col", default="text")
    ctu.add_argument("--vocab-size", type=int, default=512)
    ctu.add_argument("--max-piece-len", type=int, default=6)
    ctu.add_argument("--seed-size", type=int, default=2000)
    ctu.add_argument("--iters", type=int, default=3)
    ctu.add_argument("--top", type=int, default=100)
    ctu.set_defaults(func=_cmd_corpus_train_unigram)
    ctw = cp.add_parser("train_wordpiece")
    ctw.add_argument("--input", required=True)
    ctw.add_argument("--text-col", default="text")
    ctw.add_argument("--merges", type=int, default=50)
    ctw.add_argument("--min-count", type=int, default=2)
    ctw.set_defaults(func=_cmd_corpus_train_wordpiece)
    csp = cp.add_parser("train_sentencepiece")
    csp.add_argument("--input", required=True)
    csp.add_argument("--text-col", default="text")
    csp.add_argument("--merges", type=int, default=50)
    csp.add_argument("--min-count", type=int, default=2)
    csp.set_defaults(func=_cmd_corpus_train_sentencepiece)
    cpa = cp.add_parser("pack_audit")
    cpa.add_argument("--input", required=True)
    cpa.add_argument("--max-tokens", type=int, required=True)
    cpa.add_argument("--token-col", default="n_tokens")
    cpa.add_argument("--order-col", default="doc_id")
    cpa.set_defaults(func=_cmd_corpus_pack_audit)
    cvr = cp.add_parser("richness")
    cvr.add_argument("--input", required=True)
    cvr.add_argument("--group-col", default="source")
    cvr.add_argument("--text-col", default="text")
    cvr.set_defaults(func=_cmd_corpus_richness)
    crr = cp.add_parser("rarity")
    crr.add_argument("--input", required=True)
    crr.add_argument("--id-col", default="doc_id")
    crr.add_argument("--text-col", default="text")
    crr.add_argument("--output")
    crr.add_argument("--limit", type=int, default=20)
    crr.set_defaults(func=_cmd_corpus_rarity)
    cfs = cp.add_parser("fertility_sweep")
    cfs.add_argument("--input", required=True)
    cfs.add_argument("--text-col", default="text")
    cfs.add_argument("--checkpoints", default="0,8,32,128")
    cfs.add_argument("--min-count", type=int, default=2)
    cfs.set_defaults(func=_cmd_corpus_fertility_sweep)
    cfw = cp.add_parser("fineweb")
    cfw.add_argument("--input", required=True)
    cfw.add_argument("--text-col", default="text")
    cfw.add_argument("--id-col", default="doc_id")
    cfw.add_argument("--output", default=None)
    cfw.add_argument("--limit", type=int, default=100)
    cfw.set_defaults(func=_cmd_corpus_fineweb)
    crs = cp.add_parser("reservoir")
    crs.add_argument("--input", required=True)
    crs.add_argument("--k", type=int, required=True)
    crs.add_argument("--id-col", default="doc_id")
    crs.add_argument("--seed", type=int, default=42)
    crs.add_argument("--per-stratum", action="store_true")
    crs.add_argument("--strata-col", default="source")
    crs.add_argument("--output", default=None)
    crs.set_defaults(func=_cmd_corpus_reservoir)
    cum = cp.add_parser("unimax")
    cum.add_argument("--input", required=True)
    cum.add_argument("--budget", type=float, required=True)
    cum.add_argument("--strata-col", default="source")
    cum.add_argument("--weight-col", default=None)
    cum.add_argument("--max-epochs", type=float, default=1.0)
    cum.set_defaults(func=_cmd_corpus_unimax)
    cgs = cp.add_parser("group_split")
    cgs.add_argument("--input", required=True)
    cgs.add_argument("--group-col", required=True)
    cgs.add_argument("--fractions", default="0.98,0.01,0.01")
    cgs.add_argument("--names", default="train,val,test")
    cgs.add_argument("--seed", type=int, default=42)
    cgs.add_argument("--output", default=None)
    cgs.set_defaults(func=_cmd_corpus_group_split)
    csd = cp.add_parser("sentence_dedup")
    csd.add_argument("--input", required=True)
    csd.add_argument("--text-col", default="text")
    csd.add_argument("--id-col", default="doc_id")
    csd.add_argument("--min-docs", type=int, default=2)
    csd.add_argument("--output", default=None)
    csd.add_argument("--limit", type=int, default=100)
    csd.set_defaults(func=_cmd_corpus_sentence_dedup)
    ctm = cp.add_parser("temperature_mix")
    ctm.add_argument("--input", required=True)
    ctm.add_argument("--strata-col", default="source")
    ctm.add_argument("--temperature", type=float, default=2.0)
    ctm.add_argument("--cap", type=float, default=1.0)
    ctm.set_defaults(func=_cmd_corpus_temperature_mix)
    cct = cp.add_parser("containment")
    cct.add_argument("--input", required=True)
    cct.add_argument("--text-col", default="text")
    cct.add_argument("--id-col", default="doc_id")
    cct.add_argument("--num-hashes", type=int, default=32)
    cct.add_argument("--bands", type=int, default=8)
    cct.add_argument("--shingle-size", type=int, default=5)
    cct.add_argument("--threshold", type=float, default=0.5)
    cct.add_argument("--max-pairs", type=int, default=None)
    cct.add_argument("--limit", type=int, default=100)
    cct.set_defaults(func=_cmd_corpus_containment)
    md = sub.add_parser("media").add_subparsers(dest="what", required=True)
    mh = md.add_parser("hash")
    mh.add_argument("--input", required=True)
    mh.add_argument("--method", choices=["dhash", "ahash"], default="dhash")
    mh.add_argument("--limit", type=int, default=100)
    mh.set_defaults(func=_cmd_media_hash)
    mnd = md.add_parser("near_dups")
    mnd.add_argument("--input", required=True)
    mnd.add_argument("--method", choices=["dhash", "ahash"], default="dhash")
    mnd.add_argument("--max-hamming", type=int, default=3)
    mnd.set_defaults(func=_cmd_media_near_dups)
    mst = md.add_parser("stats")
    mst.add_argument("--input", required=True)
    mst.set_defaults(func=_cmd_media_stats)
    cmc = cp.add_parser("calibrate_minhash")
    cmc.add_argument("--input", required=True)
    cmc.add_argument("--text-col", default="text")
    cmc.add_argument("--id-col", default="doc_id")
    cmc.add_argument("--num-hashes", type=int, default=32)
    cmc.add_argument("--bands", type=int, default=8)
    cmc.add_argument("--top", type=int, default=10)
    cmc.set_defaults(func=_cmd_corpus_calibrate_minhash)
    cbl = cp.add_parser("balance")
    cbl.add_argument("--input", required=True)
    cbl.add_argument("--row-col", default="lang")
    cbl.add_argument("--col-col", default="source")
    cbl.add_argument("--iterations", type=int, default=2)
    cbl.set_defaults(func=_cmd_corpus_balance)
    cqc = cp.add_parser("qc")
    cqc.add_argument("--input", required=True)
    cqc.add_argument("--text-col", default="text")
    cqc.add_argument("--group-col", default="source")
    cqc.set_defaults(func=_cmd_corpus_qc)
    cld = cp.add_parser("length_drift")
    cld.add_argument("--input", required=True)
    cld.add_argument("--reference", required=True)
    cld.add_argument("--text-col", default="text")
    cld.add_argument("--group-col", default="source")
    cld.add_argument("--bins", type=int, default=10)
    cld.add_argument("--bin-width", type=int, default=64)
    cld.set_defaults(func=_cmd_corpus_length_drift)
    ccm = cp.add_parser("cms_topk")
    ccm.add_argument("--input", required=True)
    ccm.add_argument("--text-col", default="text")
    ccm.add_argument("--depth", type=int, default=4)
    ccm.add_argument("--width", type=int, default=1024)
    ccm.add_argument("--top", type=int, default=20)
    ccm.set_defaults(func=_cmd_corpus_cms_topk)
    cbd = cp.add_parser("bloom_decontam")
    cbd.add_argument("--train", required=True)
    cbd.add_argument("--test", required=True)
    cbd.add_argument("--id-col", default="doc_id")
    cbd.add_argument("--text-col", default="text")
    cbd.add_argument("-n", type=int, default=13)
    cbd.add_argument("--m-bits", type=int, default=1 << 20)
    cbd.add_argument("-k", type=int, default=4)
    cbd.set_defaults(func=_cmd_corpus_bloom_decontam)

    css = cp.add_parser("source_similarity")
    css.add_argument("--input", required=True)
    css.add_argument("--text-col", default="text")
    css.add_argument("--group-col", default="source")
    css.set_defaults(func=_cmd_corpus_source_similarity)
    cbp = cp.add_parser("boilerplate")
    cbp.add_argument("--input", required=True)
    cbp.add_argument("--text-col", default="text")
    cbp.add_argument("--id-col", default="doc_id")
    cbp.add_argument("--k-tokens", type=int, default=5)
    cbp.add_argument("--min-docs", type=int, default=3)
    cbp.add_argument("--top", type=int, default=50)
    cbp.set_defaults(func=_cmd_corpus_boilerplate)
    chl = cp.add_parser("hll")
    chl.add_argument("--input", required=True)
    chl.add_argument("--text-col", default="text")
    chl.add_argument("--precision", type=int, default=8)
    chl.set_defaults(func=_cmd_corpus_hll)
    cjd = cp.add_parser("jsd")
    cjd.add_argument("--input", required=True)
    cjd.add_argument("--text-col", default="text")
    cjd.add_argument("--group-col", default="source")
    cjd.add_argument("--vocab", type=int, default=512)
    cjd.set_defaults(func=_cmd_corpus_jsd)
    ctr = cp.add_parser("textrank")
    ctr.add_argument("--input", required=True)
    ctr.add_argument("--text-col", default="text")
    ctr.add_argument("--id-col", default="doc_id")
    ctr.add_argument("--window", type=int, default=2)
    ctr.add_argument("--iterations", type=int, default=6)
    ctr.add_argument("--min-count", type=int, default=5)
    ctr.add_argument("--top", type=int, default=25)
    ctr.set_defaults(func=_cmd_corpus_textrank)
    cba = cp.add_parser("batching_audit")
    cba.add_argument("--input", required=True)
    cba.add_argument("--text-col", default="text")
    cba.add_argument("--id-col", default="doc_id")
    cba.add_argument("--batch-size", type=int, default=32)
    cba.set_defaults(func=_cmd_corpus_batching)
    cis = cp.add_parser("isotonic")
    cis.add_argument("--input", required=True)
    cis.add_argument("--score-expr", required=True)
    cis.add_argument("--label-expr", required=True)
    cis.add_argument("--bins", type=int, default=10)
    cis.add_argument("--lo", type=float, default=0.0)
    cis.add_argument("--hi", type=float, default=1.0)
    cis.set_defaults(func=_cmd_corpus_isotonic)
    csa = cp.add_parser("sliced_auc")
    csa.add_argument("--input", required=True)
    csa.add_argument("--score-expr", required=True)
    csa.add_argument("--label-expr", required=True)
    csa.add_argument("--group-col", default="source")
    csa.set_defaults(func=_cmd_corpus_sliced_auc)
    cyc = cp.add_parser("yield_curve")
    cyc.add_argument("--input", required=True)
    cyc.add_argument("--score-expr", required=True)
    cyc.add_argument("--weight-expr", default="1")
    cyc.add_argument("--steps", type=int, default=20)
    cyc.set_defaults(func=_cmd_corpus_yield_curve)
    cdr = cp.add_parser("dup_rate")
    cdr.add_argument("--input", required=True)
    cdr.add_argument("--text-col", default="text")
    cdr.add_argument("--id-col", default="doc_id")
    cdr.add_argument("--group-col", default="source")
    cdr.set_defaults(func=_cmd_corpus_dup_rate)
    cgn = cp.add_parser("gini")
    cgn.add_argument("--input", required=True)
    cgn.add_argument("--text-col", default="text")
    cgn.add_argument("--group-col", default="source")
    cgn.set_defaults(func=_cmd_corpus_gini)

    cdv = cp.add_parser("diversity")
    cdv.add_argument("--input", required=True)
    cdv.add_argument("--text-col", default="text")
    cdv.add_argument("--group-col", default="source")
    cdv.set_defaults(func=_cmd_corpus_diversity)

    cfl = cp.add_parser("fleiss")
    cfl.add_argument("--input", required=True,
                     help="long-format verdicts: (item, rater, category)")
    cfl.add_argument("--item-col", default="doc_id")
    cfl.add_argument("--rater-col", default="rater")
    cfl.add_argument("--category-col", default="verdict")
    cfl.set_defaults(func=_cmd_corpus_fleiss)

    cfd = cp.add_parser("fdr")
    cfd.add_argument("--input", required=True)
    cfd.add_argument("--group-col", default="source")
    cfd.add_argument("--flag-expr", default="lang = 'en'",
                     help="boolean SQL expression whose per-slice rate is screened")
    cfd.add_argument("--alpha", type=float, default=0.05)
    cfd.set_defaults(func=_cmd_corpus_fdr)

    cls_ = cp.add_parser("lsa")
    cls_.add_argument("--input", required=True)
    cls_.add_argument("--text-col", default="text")
    cls_.add_argument("--id-col", default="doc_id")
    cls_.add_argument("--vocab-size", type=int, default=256)
    cls_.add_argument("--topics", type=int, default=5)
    cls_.add_argument("--top-terms", type=int, default=8)
    cls_.add_argument("--min-df", type=int, default=2)
    cls_.set_defaults(func=_cmd_corpus_lsa)

    ces = cp.add_parser("ess")
    ces.add_argument("--input", required=True)
    ces.add_argument("--group-col", default="source")
    ces.add_argument("--weight-col", default="n_chars")
    ces.set_defaults(func=_cmd_corpus_ess)

    cbr = cp.add_parser("brier")
    cbr.add_argument("--input", required=True)
    cbr.add_argument("--score-col", required=True)
    cbr.add_argument("--label-expr", required=True,
                     help="boolean/int SQL expression for the outcome")
    cbr.add_argument("--n-bins", type=int, default=10)
    cbr.set_defaults(func=_cmd_corpus_brier)

    ccv = cp.add_parser("cramers")
    ccv.add_argument("--input", required=True)
    ccv.add_argument("--col-a", default="lang")
    ccv.add_argument("--col-b", default="source")
    ccv.set_defaults(func=_cmd_corpus_cramers)

    ccq = cp.add_parser("cochran")
    ccq.add_argument("--input", required=True,
                     help="long-format verdicts: (item, rater, flag)")
    ccq.add_argument("--item-col", default="doc_id")
    ccq.add_argument("--rater-col", default="rater")
    ccq.add_argument("--flag-col", default="verdict")
    ccq.set_defaults(func=_cmd_corpus_cochran)

    cfm = cp.add_parser("friedman")
    cfm.add_argument("--input", required=True,
                     help="long-format scores: (block, scorer, score)")
    cfm.add_argument("--block-col", default="doc_id")
    cfm.add_argument("--scorer-col", default="scorer")
    cfm.add_argument("--score-col", default="score")
    cfm.set_defaults(func=_cmd_corpus_friedman)

    cmx = cp.add_parser("mixing")
    cmx.add_argument("--input", required=True)
    cmx.add_argument("--n-shards", type=int, default=8)
    cmx.add_argument("--weight-col", default="n_chars")
    cmx.add_argument("--group-col", default="source")
    cmx.add_argument("--id-col", default="doc_id")
    cmx.set_defaults(func=_cmd_corpus_mixing)

    gdn = gn.add_parser("denoising-pairs")
    gdn.add_argument("--input", required=True)
    gdn.add_argument("--output", required=True)
    gdn.add_argument("--text-col", default="text")
    gdn.add_argument("--id-col", default="doc_id")
    gdn.add_argument("--mask-rate", type=float, default=0.15)
    gdn.add_argument("--mean-span", type=int, default=3)
    gdn.add_argument("--seed", type=int, default=42)
    gdn.set_defaults(func=_cmd_generate_denoising_pairs)

    ahb = an.add_parser("hubness")
    ahb.add_argument("--input", required=True)
    ahb.add_argument("-k", type=int, default=10)
    ahb.add_argument("--metric", default="cosine")
    ahb.add_argument("--vec-col", default="embedding")
    ahb.add_argument("--id-col", default="vec_id")
    ahb.add_argument("--top", type=int, default=10)
    ahb.set_defaults(func=_cmd_analyze_hubness)
    ars = an.add_parser("robust-scale")
    ars.add_argument("--input", required=True)
    ars.add_argument("--output", required=True)
    ars.add_argument("--vec-col", default="embedding")
    ars.add_argument("--id-col", default="vec_id")
    ars.set_defaults(func=_cmd_analyze_robust_scale)

    cfe = cp.add_parser("filter_eval")
    cfe.add_argument("--input", required=True)
    cfe.add_argument("--score-expr", required=True)
    cfe.add_argument("--label-expr", required=True)
    cfe.add_argument("--threshold", type=float, default=0.5)
    cfe.add_argument("--bins", type=int, default=10)
    cfe.add_argument("--lo", type=float, default=0.0)
    cfe.add_argument("--hi", type=float, default=1.0)
    cfe.set_defaults(func=_cmd_corpus_filter_eval)
    cxd = cp.add_parser("cross_dedup")
    cxd.add_argument("--a", required=True)
    cxd.add_argument("--b", required=True)
    cxd.add_argument("--id-col", default="doc_id")
    cxd.add_argument("--text-col", default="text")
    cxd.add_argument("--num-hashes", type=int, default=32)
    cxd.add_argument("--bands", type=int, default=8)
    cxd.add_argument("--shingle-size", type=int, default=5)
    cxd.add_argument("--threshold", type=float, default=0.5)
    cxd.set_defaults(func=_cmd_corpus_cross_dedup)

    cmk = co.add_parser("mutual-knn")
    cmk.add_argument("--input", required=True)
    cmk.add_argument("-k", type=int, default=10)
    cmk.add_argument("--metric", default="cosine")
    cmk.add_argument("--vec-col", default="embedding")
    cmk.add_argument("--id-col", default="vec_id")
    cmk.add_argument("--limit", type=int, default=1000)
    cmk.set_defaults(func=_cmd_compute_mutual_knn)

    ack = an.add_parser("cka")
    ack.add_argument("--input", required=True)
    ack.add_argument("-m", type=int, default=8)
    ack.add_argument("--vec-col", default="embedding")
    ack.add_argument("--id-col", default="vec_id")
    ack.set_defaults(func=_cmd_analyze_cka)
    asl2 = an.add_parser("silhouette")
    asl2.add_argument("--input", required=True)
    asl2.add_argument("--vec-col", default="embedding")
    asl2.add_argument("--label-col", default="label")
    asl2.add_argument("--id-col", default="vec_id")
    asl2.set_defaults(func=_cmd_analyze_silhouette)
    acp = an.add_parser("cluster_purity")
    acp.add_argument("--input", required=True)
    acp.add_argument("-k", type=int, default=8)
    acp.add_argument("--iterations", type=int, default=2)
    acp.add_argument("--vec-col", default="embedding")
    acp.add_argument("--label-col", default="label")
    acp.add_argument("--id-col", default="vec_id")
    acp.set_defaults(func=_cmd_analyze_cluster_purity)
    aka = an.add_parser("knn_accuracy")
    aka.add_argument("--input", required=True)
    aka.add_argument("-k", type=int, default=3)
    aka.add_argument("--metric", default="cosine")
    aka.add_argument("--vec-col", default="embedding")
    aka.add_argument("--label-col", default="label")
    aka.add_argument("--id-col", default="vec_id")
    aka.set_defaults(func=_cmd_analyze_knn_accuracy)
    abf = an.add_parser("benford")
    abf.add_argument("--input", required=True)
    abf.add_argument("--value-col", required=True)
    abf.set_defaults(func=_cmd_analyze_benford)
    ax2 = an.add_parser("chi2")
    ax2.add_argument("--input", required=True)
    ax2.add_argument("--col-a", required=True)
    ax2.add_argument("--col-b", required=True)
    ax2.set_defaults(func=_cmd_analyze_chi2)
    aas = an.add_parser("assoc")
    aas.add_argument("--input", required=True)
    aas.add_argument("--basket-col", required=True)
    aas.add_argument("--item-col", required=True)
    aas.add_argument("--min-pairs", type=int, default=3)
    aas.add_argument("--max-basket", type=int, default=64)
    aas.add_argument("--limit", type=int, default=100)
    aas.set_defaults(func=_cmd_analyze_assoc)
    aid = an.add_parser("intrinsic-dim")
    aid.add_argument("--input", required=True)
    aid.add_argument("--vec-col", default="embedding")
    aid.add_argument("--dims", type=int, default=None)
    aid.add_argument("--impl", default="auto")
    aid.add_argument("--id-col", default="vec_id")
    aid.set_defaults(func=_cmd_analyze_intrinsic_dim)
    arf = an.add_parser("rfm")
    arf.add_argument("--input", required=True)
    arf.add_argument("--customer-col", default="o_custkey")
    arf.add_argument("--ts-col", default="o_orderdate")
    arf.add_argument("--amount-col", default="o_totalprice")
    arf.add_argument("--buckets", type=int, default=5)
    arf.set_defaults(func=_cmd_analyze_rfm)
    aio = an.add_parser("isotropy")
    aio.add_argument("--input", required=True)
    aio.add_argument("--vec-col", default="embedding")
    aio.add_argument("--id-col", default="vec_id")
    aio.add_argument("--sample", type=int, default=64)
    aio.set_defaults(func=_cmd_analyze_isotropy)

    km = co.add_parser("kmeans")
    km.add_argument("--input", required=True)
    km.add_argument("-k", type=int, default=8)
    km.add_argument("--iterations", type=int, default=2)
    km.add_argument("--id-col", default="vec_id")
    km.add_argument("--vec-col", default="embedding")
    km.set_defaults(func=_cmd_compute_kmeans)

    a8 = an.add_parser("sq8-error")
    a8.add_argument("--input", required=True)
    a8.add_argument("--vec-col", default="embedding")
    a8.set_defaults(func=_cmd_analyze_sq8_error)

    adc = an.add_parser("decontaminate")
    adc.add_argument("--train", required=True)
    adc.add_argument("--test", required=True)
    adc.add_argument("--threshold", type=float, default=0.95)
    adc.add_argument("--id-col", default="vec_id")
    adc.add_argument("--vec-col", default="embedding")
    adc.add_argument("--method", default="broadcast",
                     choices=["broadcast", "lsh"])
    adc.set_defaults(func=_cmd_analyze_decontaminate)

    adb = an.add_parser("dbscan")
    adb.add_argument("--input", required=True)
    adb.add_argument("--eps", type=float, default=0.05,
                     help="1 - cosine similarity neighborhood radius")
    adb.add_argument("--min-pts", type=int, default=4)
    adb.add_argument("--id-col", default="vec_id")
    adb.add_argument("--vec-col", default="embedding")
    adb.add_argument("--method", default="lsh", choices=["lsh", "exact"])
    adb.set_defaults(func=_cmd_analyze_dbscan)

    akr = an.add_parser("krippendorff")
    akr.add_argument("--input", required=True)
    akr.add_argument("--unit-col", default="unit")
    akr.add_argument("--category-col", default="category")
    akr.set_defaults(func=_cmd_analyze_krippendorff)
    adb = an.add_parser("davies-bouldin")
    adb.add_argument("--input", required=True)
    adb.add_argument("--group-col", required=True)
    adb.add_argument("--vec-col", default="embedding")
    adb.set_defaults(func=_cmd_analyze_davies_bouldin)
    ach = an.add_parser("calinski-harabasz")
    ach.add_argument("--input", required=True)
    ach.add_argument("--group-col", required=True)
    ach.add_argument("--vec-col", default="embedding")
    ach.set_defaults(func=_cmd_analyze_calinski_harabasz)
    ahp = an.add_parser("hopkins")
    ahp.add_argument("--input", required=True)
    ahp.add_argument("--m", type=int, default=30)
    ahp.add_argument("--id-col", default="vec_id")
    ahp.add_argument("--vec-col", default="embedding")
    ahp.add_argument("--seed", type=int, default=42)
    ahp.set_defaults(func=_cmd_analyze_hopkins)
    alf = an.add_parser("lof")
    alf.add_argument("--input", required=True)
    alf.add_argument("--k", type=int, default=5)
    alf.add_argument("--id-col", default="vec_id")
    alf.add_argument("--vec-col", default="embedding")
    alf.add_argument("--output")
    alf.add_argument("--limit", type=int, default=20)
    alf.set_defaults(func=_cmd_analyze_lof)
    alt = an.add_parser("lsh-tradeoff")
    alt.add_argument("--input", required=True)
    alt.add_argument("--queries")
    alt.add_argument("--n-queries", type=int, default=20)
    alt.add_argument("--k", type=int, default=10)
    alt.add_argument("--dim", type=int, default=64)
    alt.add_argument("--bits", default="4,8,12")
    alt.add_argument("--seed", type=int, default=42)
    alt.add_argument("--id-col", default="vec_id")
    alt.add_argument("--vec-col", default="embedding")
    alt.set_defaults(func=_cmd_analyze_lsh_tradeoff)
    agw = an.add_parser("gwet")
    agw.add_argument("--input", required=True)
    agw.add_argument("--item-col", default="item")
    agw.add_argument("--rater-col", default="rater")
    agw.add_argument("--cat-col", default="category")
    agw.set_defaults(func=_cmd_analyze_gwet)
    aci = an.add_parser("auc-ci")
    aci.add_argument("--input", required=True)
    aci.add_argument("--score-col", default="score")
    aci.add_argument("--label-col", default="label")
    aci.set_defaults(func=_cmd_analyze_auc_ci)
    acd = an.add_parser("centroid-drift")
    acd.add_argument("--baseline", required=True)
    acd.add_argument("--current", required=True)
    acd.add_argument("--group-col", default="label")
    acd.add_argument("--vec-col", default="embedding")
    acd.set_defaults(func=_cmd_analyze_centroid_drift)
    alp = an.add_parser("link-prediction")
    alp.add_argument("--input", required=True)
    alp.add_argument("--src", default="src")
    alp.add_argument("--dst", default="dst")
    alp.add_argument("--top-n", type=int, default=50)
    alp.set_defaults(func=_cmd_analyze_link_prediction)
    adn = an.add_parser("distinct-ngrams")
    adn.add_argument("--input", required=True)
    adn.add_argument("--group-col", default="source")
    adn.add_argument("--text-col", default="text")
    adn.add_argument("--n", type=int, action="append", default=None,
                     help="n-gram order (repeatable; default 1 2 3)")
    adn.add_argument("--approx", action="store_true",
                     help="HLL estimate (the 100TB path)")
    adn.add_argument("--precision", type=int, default=10)
    adn.set_defaults(func=_cmd_analyze_distinct_ngrams)
    atm = an.add_parser("temperature")
    atm.add_argument("--input", required=True)
    atm.add_argument("--score-col", required=True)
    atm.add_argument("--label-col", required=True)
    atm.add_argument("--iterations", type=int, default=5)
    atm.set_defaults(func=_cmd_analyze_temperature)
    aec = an.add_parser("ece")
    aec.add_argument("--input", required=True)
    aec.add_argument("--score-col", required=True)
    aec.add_argument("--label-col", required=True)
    aec.add_argument("--bins", type=int, default=10)
    aec.add_argument("--lo", type=float, default=0.0)
    aec.add_argument("--hi", type=float, default=1.0)
    aec.add_argument("--group-col")
    aec.set_defaults(func=_cmd_analyze_ece)
    ask = an.add_parser("sinkhorn")
    ask.add_argument("--input", required=True)
    ask.add_argument("--value-col", required=True)
    ask.add_argument("--group-col", required=True)
    ask.add_argument("--group-a", required=True)
    ask.add_argument("--group-b", required=True)
    ask.add_argument("--bins", type=int, default=12)
    ask.add_argument("--lo", type=float, default=0.0)
    ask.add_argument("--hi", type=float, default=1.0)
    ask.add_argument("--eps", type=float, default=0.25)
    ask.add_argument("--iterations", type=int, default=10)
    ask.set_defaults(func=_cmd_analyze_sinkhorn)
    ahl = an.add_parser("hill")
    ahl.add_argument("--input", required=True)
    ahl.add_argument("--value-col", required=True)
    ahl.add_argument("--group-col", default="source")
    ahl.add_argument("--k", type=int, default=50)
    ahl.set_defaults(func=_cmd_analyze_hill)
    a2s = an.add_parser("two-sample")
    a2s.add_argument("--input", required=True)
    a2s.add_argument("--split-expr", required=True,
                     help="boolean SQL expression: true rows = sample A")
    a2s.add_argument("--vec-col", default="embedding")
    a2s.add_argument("--id-col", default="vec_id")
    a2s.add_argument("--gamma", type=float, default=None)
    a2s.add_argument("--sample-size", type=int, default=256)
    a2s.set_defaults(func=_cmd_analyze_two_sample)

    evp = sub.add_parser("events").add_subparsers(dest="what", required=True)
    for w in ("seasonal", "cusum", "mad", "concurrency", "triangles",
              "theil_sen", "bootstrap_ci", "dp_counts", "k_anonymity",
              "acf", "survival", "ccf", "burstiness", "did", "quantiles",
              "mwu", "kruskal", "levene", "spearman", "trend",
              "page_hinkley", "trimmed", "welch", "shift", "ks"):
        ev = evp.add_parser(w)
        ev.add_argument("--input", required=True)
        ev.add_argument("--ts-col", default="ts")
        if w == "cusum":
            ev.add_argument("--baseline-days", type=int, default=7)
            ev.add_argument("--threshold", type=float, default=4.0)
        if w == "mad":
            ev.add_argument("--key-col", default="event_type")
            ev.add_argument("--value-col", default="value")
        if w == "concurrency":
            ev.add_argument("--duration", type=int, default=10)
        if w == "triangles":
            ev.add_argument("--key-col", default="event_type")
            ev.add_argument("--node-col", default="user_id")
        if w in ("theil_sen", "bootstrap_ci", "dp_counts"):
            ev.add_argument("--key-col", default="event_type")
        if w == "bootstrap_ci":
            ev.add_argument("--n-boot", type=int, default=200)
            ev.add_argument("--alpha", type=float, default=0.05)
        if w == "dp_counts":
            ev.add_argument("--epsilon", type=float, default=1.0)
            # default None = fresh secret seed per release (a known seed
            # makes the noise recomputable -> no privacy)
            ev.add_argument("--seed", type=int, default=None)
            ev.add_argument(
                "--audit",
                action="store_true",
                help="include true_count/abs_error (mechanism audit, NOT a release)",
            )
        if w == "k_anonymity":
            ev.add_argument("--quasi", default="event_type,user_id")
            ev.add_argument("-k", type=int, default=5)
            ev.add_argument("--limit", type=int, default=100)
        if w == "acf":
            ev.add_argument("--max-lag", type=int, default=14)
            ev.add_argument("--value-col", default=None)
        if w == "ccf":
            ev.add_argument("--key-a", required=True)
            ev.add_argument("--key-b", required=True)
            ev.add_argument("--key-col", default="event_type")
            ev.add_argument("--max-lag", type=int, default=7)
            ev.add_argument("--value-col", default=None)
        if w == "survival":
            ev.add_argument("--subject-col", default="user_id")
            ev.add_argument("--censor-days", type=int, default=7)
        if w == "burstiness":
            ev.add_argument("--user-col", default="user_id")
            ev.add_argument("--min-events", type=int, default=3)
        if w == "quantiles":
            ev.add_argument("--value-col", default="value")
            ev.add_argument("--probs", default="0.25,0.5,0.75,0.9,0.99")
            ev.add_argument("--lo", type=float, default=0.0)
            ev.add_argument("--hi", type=float, default=512.0)
            ev.add_argument("--n-bins", type=int, default=64)
        if w == "did":
            ev.add_argument("--treat-expr", required=True,
                            help="boolean SQL expression tagging the cohort")
            ev.add_argument("--value-col", default="value")
            ev.add_argument("--cutoff", required=True)
        if w in ("mwu", "kruskal", "levene", "welch", "shift", "ks"):
            ev.add_argument("--key-col", default="event_type")
            ev.add_argument("--value-col", default="value")
            ev.add_argument(
                "--class-expr", default="'v' || CAST(user_id % 2 AS STRING)",
                help="SQL expression assigning each row a class label",
            )
        if w == "spearman":
            ev.add_argument("--key-col", default="event_type")
            ev.add_argument("--value-col", default="value")
            ev.add_argument("--x-expr", default="CAST(day(ts) AS DOUBLE)")
        if w == "trend":
            ev.add_argument("--key-col", default="event_type")
        if w == "page_hinkley":
            ev.add_argument("--delta", type=float, default=0.5)
            ev.add_argument("--lam", type=float, default=10.0)
        if w == "trimmed":
            ev.add_argument("--key-col", default="event_type")
            ev.add_argument("--value-col", default="value")
            ev.add_argument("--trim", type=float, default=0.1)
        ev.set_defaults(func=_cmd_events)

    gr = sub.add_parser("graph").add_subparsers(dest="what", required=True)
    for w in ("pagerank", "hits", "communities", "triangles",
              "assortativity", "kcore"):
        g = gr.add_parser(w)
        g.add_argument("--edges", required=True)
        g.add_argument("--src", default="src")
        g.add_argument("--dst", default="dst")
        g.add_argument("--limit", type=int, default=50)
        if w == "pagerank":
            g.add_argument("--weight", default=None)
            g.add_argument("--damping", type=float, default=0.85)
        if w in ("pagerank", "hits", "communities"):
            g.add_argument(
                "--iterations", type=int, default=10 if w == "pagerank" else 5
            )
        if w == "kcore":
            g.add_argument("-k", type=int, default=3)
        g.set_defaults(func=_cmd_graph)

    ccp = cp.add_parser("cosine_pairs")
    ccp.add_argument("--input", required=True)
    ccp.add_argument("--threshold", type=float, default=0.9)
    ccp.add_argument("--text-col", default="text")
    ccp.add_argument("--id-col", default="doc_id")
    ccp.add_argument("--output", default=None)
    ccp.add_argument("--limit", type=int, default=100)
    ccp.add_argument(
        "--max-posting", type=int, default=None,
        help="cap prefix postings (approximation escape hatch for "
             "degenerate tiny-vocab corpora; default exact)")
    ccp.set_defaults(func=_cmd_corpus_cosine_pairs)
    cns = cp.add_parser("neg_sampling")
    cns.add_argument("--input", required=True)
    cns.add_argument("--text-col", default="text")
    cns.add_argument("--vocab-size", type=int, default=1000)
    cns.add_argument("--power", type=float, default=0.75)
    cns.set_defaults(func=_cmd_corpus_neg_sampling)
    cpp = cp.add_parser("ppmi")
    cpp.add_argument("--input", required=True)
    cpp.add_argument("--output", required=True)
    cpp.add_argument("--text-col", default="text")
    cpp.add_argument("--window", type=int, default=2)
    cpp.add_argument("--vocab-size", type=int, default=512)
    cpp.add_argument("--dim", type=int, default=64)
    cpp.set_defaults(func=_cmd_corpus_ppmi)
    ccr = cp.add_parser("compression")
    ccr.add_argument("--input", required=True)
    ccr.add_argument("--text-col", default="text")
    ccr.add_argument("--id-col", default="doc_id")
    ccr.add_argument("--output", default=None)
    ccr.add_argument("--limit", type=int, default=50)
    ccr.set_defaults(func=_cmd_corpus_compression)
    cqa = cp.add_parser("quantile_align")
    cqa.add_argument("--input", required=True)
    cqa.add_argument("--output", required=True)
    cqa.add_argument("--score-col", required=True)
    cqa.add_argument("--group-col", required=True)
    cqa.set_defaults(func=_cmd_corpus_quantile_align)

    clo = cp.add_parser("log_odds")
    clo.add_argument("--input", required=True)
    clo.add_argument("--group-col", required=True)
    clo.add_argument("--group-a", required=True)
    clo.add_argument("--group-b", required=True)
    clo.add_argument("--text-col", default="text")
    clo.add_argument("--alpha", type=float, default=0.01)
    clo.add_argument("--top-k", type=int, default=25)
    clo.set_defaults(func=_cmd_corpus_log_odds)
    cnd = cp.add_parser("ndcg")
    cnd.add_argument("--input", required=True)
    cnd.add_argument("--score-col", required=True)
    cnd.add_argument("--gain-col", required=True)
    cnd.add_argument("-k", type=int, default=10)
    cnd.add_argument("--group-col", default=None)
    cnd.add_argument("--id-col", default="doc_id")
    cnd.add_argument("--linear", action="store_true",
                     help="linear gains (raw magnitudes) instead of 2^g-1")
    cnd.set_defaults(func=_cmd_corpus_ndcg)
    crb = cp.add_parser("rbo")
    crb.add_argument("--input", required=True)
    crb.add_argument("--score-a", required=True)
    crb.add_argument("--score-b", required=True)
    crb.add_argument("-k", type=int, default=20)
    crb.add_argument("-p", type=float, default=0.9)
    crb.add_argument("--id-col", default="doc_id")
    crb.set_defaults(func=_cmd_corpus_rbo)
    cpr = cp.add_parser("parity")
    cpr.add_argument("--input", required=True)
    cpr.add_argument("--keep-expr", required=True,
                     help="boolean SQL expression deciding keep/drop")
    cpr.add_argument("--group-col", required=True)
    cpr.set_defaults(func=_cmd_corpus_parity)

    cws = cp.add_parser("wasserstein")
    cws.add_argument("--input", required=True)
    cws.add_argument("--value-col", required=True)
    cws.add_argument("--group-col", required=True)
    cws.add_argument("--group-a", required=True)
    cws.add_argument("--group-b", required=True)
    cws.set_defaults(func=_cmd_corpus_wasserstein)
    crw = cp.add_parser("reweight")
    crw.add_argument("--input", required=True)
    crw.add_argument("--domain-col", required=True)
    crw.add_argument("--loss-col", required=True)
    crw.add_argument("--eta", type=float, default=1.0)
    crw.add_argument("--smoothing", type=float, default=0.0)
    crw.set_defaults(func=_cmd_corpus_reweight)

    csh = cp.add_parser("shards")
    csh.add_argument("--input", required=True)
    csh.add_argument("--n-shards", type=int, default=8)
    csh.add_argument("--weight-col", default="n_chars")
    csh.add_argument("--id-col", default="doc_id")
    csh.add_argument("--output", default=None,
                     help="write shard-partitioned parquet instead of the report")
    csh.set_defaults(func=_cmd_corpus_shards)
    cct = cp.add_parser("conformal")
    cct.add_argument("--input", required=True)
    cct.add_argument("--score-col", required=True)
    cct.add_argument("--alpha", type=float, default=0.1)
    cct.add_argument("--group-col", default=None)
    cct.set_defaults(func=_cmd_corpus_conformal)

    ami = an.add_parser("mi")
    ami.add_argument("--input", required=True)
    ami.add_argument("--col-a", required=True)
    ami.add_argument("--col-b", required=True)
    ami.set_defaults(func=_cmd_analyze_mi)
    ako = an.add_parser("knn-overlap")
    ako.add_argument("--input-a", required=True)
    ako.add_argument("--input-b", required=True)
    ako.add_argument("-k", type=int, default=10)
    ako.add_argument("--metric", default="cosine")
    ako.add_argument("--id-col", default="vec_id")
    ako.add_argument("--vec-col", default="embedding")
    ako.set_defaults(func=_cmd_analyze_knn_overlap)
    apr = an.add_parser("procrustes")
    apr.add_argument("--input-a", required=True)
    apr.add_argument("--input-b", required=True)
    apr.add_argument("--id-col", default="vec_id")
    apr.add_argument("--vec-col", default="embedding")
    apr.add_argument("--rotation-out", default=None)
    apr.set_defaults(func=_cmd_analyze_procrustes)
    akc = an.add_parser("kcenter")
    akc.add_argument("--input", required=True)
    akc.add_argument("-k", type=int, default=8)
    akc.add_argument("--id-col", default="vec_id")
    akc.add_argument("--vec-col", default="embedding")
    akc.set_defaults(func=_cmd_analyze_kcenter)

    fx = sub.add_parser("fetch").add_subparsers(dest="what", required=True)
    fd = fx.add_parser("dlhf")
    fd.add_argument("repo_id")
    fd.add_argument("--local-dir", required=True)
    fd.add_argument("--allow-patterns", nargs="*", default=None)
    fd.set_defaults(func=_cmd_fetch_dlhf)

    cl = sub.add_parser("cleanup").add_subparsers(dest="what", required=True)
    cc = cl.add_parser("cleanfvec")
    cc.add_argument("--input", required=True)
    cc.add_argument("--output", required=True)
    cc.set_defaults(func=_cmd_cleanup)

    # slab: byte-compatible slabtastic CLI (reference cli/CMD_slab_*.java)
    sl = sub.add_parser("slab").add_subparsers(dest="what", required=True)
    sg = sl.add_parser("get")
    sg.add_argument("file")
    sg.add_argument("-o", "--ordinals", required=True)
    sg.add_argument("-n", "--namespace", default="")
    sg.add_argument("--as-hex", action="store_true")
    sg.add_argument("--as-base64", action="store_true")
    sg.set_defaults(func=_cmd_slab)
    for w in ("namespaces", "check", "analyze"):
        sp = sl.add_parser(w)
        sp.add_argument("file")
        sp.set_defaults(func=_cmd_slab)
    for w in ("import", "append"):
        si = sl.add_parser(w)
        si.add_argument("file")
        si.add_argument("--from", dest="from_", required=True)
        si.add_argument("-n", "--namespace", default="")
        si.add_argument("--append", action="store_true")
        si.add_argument("-f", "--force", action="store_true")
        si.add_argument("--page-size", "--preferred-page-size", type=int, default=65536)
        si.add_argument("--min-page-size", type=int, default=512)
        si.add_argument("--page-alignment", action="store_true")
        si.add_argument("--start-ordinal", type=int, default=-1)
        si.set_defaults(func=_cmd_slab)
    se = sl.add_parser("export")
    se.add_argument("file")
    se.add_argument("--to", default=None)
    se.add_argument("-n", "--namespace", default=None)
    se.add_argument("--range", default=None)
    se.add_argument("--format", choices=("raw", "lines", "parquet"), default="raw")
    se.add_argument("-f", "--force", action="store_true")
    se.set_defaults(func=_cmd_slab)
    sr = sl.add_parser("rewrite")
    sr.add_argument("file")
    sr.add_argument("--output", default=None)
    sr.add_argument("--page-size", "--preferred-page-size", type=int, default=65536)
    sr.set_defaults(func=_cmd_slab)

    ex = sub.add_parser("explain")
    ex.add_argument("--query", required=True)
    ex.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ex.set_defaults(func=_cmd_explain, what=None)

    vr = sub.add_parser("version")
    vr.set_defaults(func=lambda a: (print(__import__("nbdatatools_spark").__version__), 0)[1], what=None)
    return p


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    return args.func(args)


if __name__ == "__main__":
    sys.exit(main())
