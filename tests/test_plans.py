"""Physical-plan assertions: pushdown reaches the scan, joins broadcast,
codegen engages — the 100TB posture checks (SURVEY 'Optimize for scale')."""

import re

import pytest
from pyspark.sql import functions as F

from nbdatatools_spark.predicates import compile_pnode, parse_pnode


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pnode_filter_pushes_down(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    node = parse_pnode(
        '{"op":"AND","nodes":[{"fieldName":"o_totalprice","op":"GT","values":[50000.0]},'
        '{"fieldName":"o_totalprice","op":"LT","values":[60000.0]}]}'
    )
    plan = _plan(orders.where(compile_pnode(node, two_valued=False)))
    assert "GreaterThan(o_totalprice,50000.0)" in plan
    assert "LessThan(o_totalprice,60000.0)" in plan


def test_two_valued_blocks_pushdown_documented(spark, sf_dir):
    """The coalesce wrap (two_valued=True) cannot push — this pins the
    behavior the PERF note in sqlcodec.compile_pnode warns about."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    node = parse_pnode('{"fieldName":"o_totalprice","op":"GT","values":[50000.0]}')
    plan = _plan(orders.where(compile_pnode(node, two_valued=True)))
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan).group(1)
    assert "GreaterThan" not in pushed


def test_column_pruning_reaches_scan(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plan = _plan(li.select("l_orderkey", "l_quantity"))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "l_orderkey",
        "l_quantity",
    }


def test_small_dim_join_broadcasts(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    plan = _plan(li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_knn_default_has_no_full_pair_shuffle(spark, embeddings, collected):
    """VERDICT r1 #3: the DEFAULT exact_knn plan must do per-partition
    partial top-k (GEMM mapInArrow) — never the Q*B cross product. The
    candidate scan's executed plan has the kernel and no shuffle at all:
    each task's Q*k rows are ranked on the driver, and the result is a
    local relation. The PQ scan runs the same query-block scan."""
    from nbdatatools_spark.operators.knn import exact_knn
    from nbdatatools_spark.operators.similarity import pq_encode, pq_topk, pq_train

    q = embeddings.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("ordinal"), F.col("embedding").alias("vector")
    )
    b = embeddings.select(
        F.col("vec_id").alias("ordinal"), F.col("embedding").alias("vector")
    )
    books = pq_train(embeddings, m=8, n_codes=16, sample_limit=500, iters=2)
    encoded = pq_encode(embeddings, books)
    results = [
        exact_knn(q, b, k=3),
        pq_topk(embeddings.where(F.col("vec_id") < 5), encoded, books, k=3),
    ]
    for result in results:
        assert "LocalTableScan" in _plan(result)
    scans = [plan for plan in collected if "MapInArrow" in plan]
    assert len(scans) == len(results)  # one candidate scan per top-k
    for plan in scans:
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "Exchange" not in plan


def test_ivf_assignment_has_no_shuffle(spark, embeddings, collected):
    """VERDICT r1 #6: IVF base->centroid assignment is a pure projection
    (inlined argmin), not a crossJoin + Window over B*n_centroids rows. The
    IVF search itself is the query-block scan over the probed cells: its
    executed plan has the kernel and no exchange, window or pair join."""
    from nbdatatools_spark.operators.similarity import ivf_topk

    q = embeddings.where(F.col("vec_id") < 3)
    assert "LocalTableScan" in _plan(ivf_topk(q, embeddings, k=3, n_centroids=4, nprobe=2))
    scans = [plan for plan in collected if "MapInArrow" in plan]
    assert len(scans) == 1
    for banned in ("Exchange", "Window", "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert banned not in scans[0]


def test_driver_planned_scans_have_no_shuffle(spark, tmp_path, monkeypatch):
    """read_xvec, generate_vectors and chunk_digests run their driver-planned
    tasks over spark.range task ids: no planning Exchange and no scan of a
    pickled Python RDD of plan rows. (read_xvec plans a file set larger than
    ``_CHUNK_BYTES``; the limit is lowered so this small file is planned.)"""
    from nbdatatools_spark.datagen import generate_vectors
    from nbdatatools_spark.operators.integrity import chunk_digests
    from nbdatatools_spark.sources import xvec
    from nbdatatools_spark.sources.xvec import read_xvec, write_xvec

    monkeypatch.setattr(xvec, "_CHUNK_BYTES", 0)
    gen = generate_vectors(spark, 300, 4, partitions=3)
    path = str(tmp_path / "v.fvec")
    write_xvec(gen, path)
    for df in (gen, read_xvec(spark, path), chunk_digests(spark, path, 1024)):
        df.count()
        plan = _plan(df)
        assert "Range" in plan
        assert "Exchange" not in plan and "ExistingRDD" not in plan


def test_small_xvec_read_is_a_local_scan(spark, tmp_path):
    """A file set of at most ``_CHUNK_BYTES`` (an answer key's indices.ivec)
    decodes on the driver: the executed plan is a LocalTableScan with no
    MapInArrow or other Python node."""
    from nbdatatools_spark.sources.xvec import read_xvec, write_xvec

    path = str(tmp_path / "indices.ivec")
    keys = spark.createDataFrame(
        [(i, list(range(i, i + 10))) for i in range(100)], "ordinal BIGINT, vector ARRAY<INT>"
    )
    write_xvec(keys, path)
    df = read_xvec(spark, path, ordinal_start=100)
    assert df.toArrow().column("ordinal").to_pylist() == list(range(100, 200))
    plan = _plan(df)
    assert plan.startswith("LocalTableScan")
    assert "MapInArrow" not in plan and "Python" not in plan and "Range" not in plan


def test_window_slice_pushes_ordinal_range(spark, embeddings):
    from nbdatatools_spark.operators.windows import window_slice

    plan = _plan(window_slice(embeddings, "10..20", ordinal="vec_id"))
    assert "GreaterThanOrEqual(vec_id,10)" in plan and "LessThan(vec_id,20)" in plan


def test_codegen_engages(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    agg = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    agg.collect()
    assert "*(" in _plan(agg)  # WholeStageCodegen star markers


def test_no_cartesian_product_in_any_gate_query(spark, sf_dir):
    """Sweep EVERY queries() entry: no physical plan may contain a
    CartesianProduct. Broadcast nested-loop joins are allowed where one side
    is bounded by construction (expr-KNN query side); an unconstrained
    cartesian is never acceptable at 100TB."""
    import __spark_entry__ as entrymod

    offenders = {}
    for name, fn in entrymod.queries().items():
        try:
            plan = _plan(fn(spark, sf_dir))
        except Exception as exc:  # a query that cannot build is its own bug
            offenders[name] = f"failed to plan: {exc}"
            continue
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
    assert not offenders, f"cartesian/unplannable gate queries: {offenders}"


def test_decontam_shuffles_hashes_not_gram_strings(spark, documents):
    """VERDICT r3 #4: the train-side distinct and the contamination join
    must key on xxhash64 of the gram (8-byte long), never the raw 13-word
    string (~80-100B) — at corpus scale the string distinct was the job's
    dominant shuffle."""
    from nbdatatools_spark.operators.dedup import contaminated_ids

    train = documents.where(F.col("doc_id") % 101 != 0)
    test = documents.where(F.col("doc_id") % 101 == 0)
    out = contaminated_ids(train, test, n=13)
    assert "xxhash64" in out._jdf.queryExecution().optimizedPlan().toString()
    for line in _plan(out).splitlines():
        if "Exchange" in line:
            assert "__gram" not in line, f"raw gram string reaches a shuffle: {line}"


def test_paragraph_dedup_no_forced_broadcast(spark, documents):
    """VERDICT r3 #3: the duplicated-paragraph hash set is unbounded at
    corpus scale, so the anti-join must not carry a user broadcast hint by
    default (AQE decides at runtime); the opt-in flag restores it."""
    from nbdatatools_spark.operators.dedup import paragraph_dedup

    default_logical = (
        paragraph_dedup(documents)._jdf.queryExecution().analyzed().toString()
    )
    assert "ResolvedHint" not in default_logical
    forced_logical = (
        paragraph_dedup(documents, broadcast_dup_hashes=True)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "ResolvedHint" in forced_logical


def test_recording_window_invariant():
    """The driver records correctness rows for the first 50 queries()
    entries only. Every entry PAST the window must already be hash-green
    in SOME recorded round (union over CORRECTNESS_r*.json), so
    union(rounds) covers all queries; fit_embeddings_model must sit at
    exactly index 49 (its driver-side sketch jobs shadow later entries
    on failure)."""
    import glob
    import json
    import os

    import __spark_entry__ as e

    qs = list(e.queries())
    assert qs.index("fit_embeddings_model") == 49
    repo = os.path.dirname(e.__file__)
    ever_green = set()
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        for name, row in json.load(open(path)).items():
            if row.get("hash_match"):
                ever_green.add(name)
    assert ever_green, "no recorded CORRECTNESS rounds found"
    for q in qs[50:]:
        if q in e.PENDING_FIRST_RECORDING:
            continue  # deferred; checked below
        assert q in ever_green, f"tail query {q!r} was never hash-green in any round"
    # pending entries must sit in the tail (never displace recorded slots)
    # and must carry a DuckDB oracle so check_oracle covers them now
    oracles = e.oracle_sql()
    for q in e.PENDING_FIRST_RECORDING:
        assert qs.index(q) >= 50, f"pending query {q!r} is inside the window"
        assert q in oracles, f"pending query {q!r} has no DuckDB oracle"


def test_decayed_sum_single_shuffle(spark, sf_dir):
    """window(partitionBy k) + groupBy(k) reuse ONE hash exchange — the
    docstring's one-shuffle claim, pinned."""
    import __spark_entry__ as e

    from nbdatatools_spark.operators.temporal import exp_decayed_sum

    plan = (
        exp_decayed_sum(e._t(spark, sf_dir, "events"), "user_id", "value", ["ts", "event_id"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1


def test_trailing_range_window_single_shuffle(spark, sf_dir):
    import __spark_entry__ as e

    plan = (
        e.events_trailing_window(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1


def test_weighted_sample_uses_partial_topk(spark, documents):
    """Global top-k must plan as TakeOrderedAndProject (per-partition
    partial top-k), never a full sort."""
    from nbdatatools_spark.operators.sampling import weighted_sample

    plan = (
        weighted_sample(documents, 10, "n_chars")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0]


def test_cohort_retention_two_aggregate_shuffles(spark, sf_dir):
    """Single-pass per-user aggregate (min + collect_set) then one
    (cohort, offset) count — no join, 2 exchanges before any output sort."""
    import __spark_entry__ as e

    from nbdatatools_spark.operators.temporal import cohort_retention

    plan = _plan(cohort_retention(e._t(spark, sf_dir, "events")))
    assert plan.count("Exchange") == 2
    assert "Join" not in plan


def test_key_skew_single_shuffle_partial_topk(spark, sf_dir):
    """One map-side-combinable key-count exchange; global top-k is
    TakeOrderedAndProject; the rank window runs over the k rows only."""
    import __spark_entry__ as e

    plan = _plan(e.events_key_skew(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "TakeOrderedAndProject" in plan


def test_session_paths_single_user_shuffle(spark, sf_dir):
    """Sessionization windows + per-session path build share ONE user-key
    hash exchange; path counts combine map-side into TakeOrderedAndProject."""
    import __spark_entry__ as e

    from nbdatatools_spark.operators.temporal import session_paths

    plan = _plan(session_paths(e._t(spark, sf_dir, "events")))
    assert plan.count("Exchange hashpartitioning") <= 2  # user key + path count
    assert "TakeOrderedAndProject" in plan


def test_rrf_no_join_between_lists(spark):
    """Fusion is union + ONE groupBy — candidate lists are never joined."""
    from nbdatatools_spark.operators.lm import rrf_fuse

    a = spark.createDataFrame([(1, 1)], "doc_id BIGINT, rank INT")
    b = spark.createDataFrame([(1, 2)], "doc_id BIGINT, rank INT")
    plan = _plan(rrf_fuse([a, b], top_k=5))
    assert "Join" not in plan
    assert "Union" in plan
