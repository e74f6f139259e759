"""Property-based differential test: random PNode trees evaluated by the
Spark compiler must match the rendered-SQL DuckDB oracle on every input.

This mirrors the reference's own correctness strategy — randomized
predicates solved against an embedded SQL engine as ground truth
(src/test/java/.../benchmarks/BenchmarkDataGenerator.java:119-165,
generateRandomPredicate :274-282) — with Hypothesis driving the tree shapes.
"""

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from nbdatatools_spark.predicates import compile_pnode, parse_pnode, render_sql

ROWS = [
    (0, "name_1", 10, 0.5, True, "a"),
    (1, "name_2", 20, 0.25, False, "b"),
    (2, "name_3", 30, 0.75, True, "c"),
    (3, None, 40, 0.0, False, "a"),
    (4, "name_5", None, 1.0, True, "b"),
    (5, "it's", 60, 0.1, None, "c"),
    (6, "name_2", -5, 0.33, True, "a"),
    (7, "", 0, 0.99, False, "b"),
    (8, "a\\b", 35, 0.9, True, "c"),
]
SCHEMA = "ordinal BIGINT, name STRING, number BIGINT, score DOUBLE, flag BOOLEAN, category STRING"

_num_ops = st.sampled_from(["GT", "LT", "EQ", "NE", "GE", "LE"])
_numbers = st.sampled_from([-5, 0, 10, 20, 35, 60, 100])
_scores = st.sampled_from([0.0, 0.1, 0.25, 0.5, 0.9, 1.0])
_texts = st.sampled_from(["name_1", "name_2", "it's", "", "zzz", "a\\b"])
_cats = st.sampled_from(["a", "b", "c", "x"])


def _leaf():
    return st.one_of(
        st.builds(
            lambda op, v: {"fieldName": "number", "op": op, "values": [v]},
            _num_ops,
            _numbers,
        ),
        st.builds(
            lambda op, v: {"fieldName": "score", "op": op, "values": [v]},
            _num_ops,
            _scores,
        ),
        st.builds(
            lambda op, v: {"fieldName": "name", "op": op, "values": [v]},
            st.sampled_from(["EQ", "NE", "GT", "LE"]),
            _texts,
        ),
        st.builds(
            lambda vs: {"fieldName": "category", "op": "IN", "values": vs},
            st.lists(_cats, min_size=1, max_size=3),
        ),
        st.builds(
            lambda v: {"fieldName": "flag", "op": "EQ", "values": [v]},
            st.booleans(),
        ),
        st.just({"fieldName": "name", "op": "EQ", "values": [None]}),
        st.builds(
            lambda p: {"fieldName": "name", "op": "MATCHES", "values": [p]},
            st.sampled_from(["name_[0-9]+", "n.*", ".*'s", "name_2", r"name_\d+"]),
        ),
    )


_trees = st.recursive(
    _leaf(),
    lambda children: st.builds(
        lambda op, nodes: {"op": op, "nodes": nodes},
        st.sampled_from(["AND", "OR"]),
        st.lists(children, min_size=1, max_size=3),
    ),
    max_leaves=6,
)


@pytest.fixture(scope="module")
def harness(spark):
    meta = spark.createDataFrame(ROWS, SCHEMA).cache()
    meta.count()
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE meta (ordinal BIGINT, name VARCHAR, number BIGINT, "
        "score DOUBLE, flag BOOLEAN, category VARCHAR)"
    )
    con.executemany("INSERT INTO meta VALUES (?,?,?,?,?,?)", ROWS)
    return meta, con


@settings(
    max_examples=40,
    deadline=None,
    derandomize=True,  # driver reruns replay exactly the validated examples
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(tree=_trees)
def test_random_pnode_matches_duckdb(harness, tree):
    meta, con = harness
    node = parse_pnode(tree)
    spark_ords = sorted(
        r[0]
        for r in meta.where(compile_pnode(node, meta.columns, two_valued=False))
        .select("ordinal")
        .collect()
    )
    sql = render_sql(node, "duckdb")
    duck_ords = sorted(
        r[0] for r in con.execute(f"SELECT ordinal FROM meta WHERE {sql}").fetchall()
    )
    assert spark_ords == duck_ords, f"divergence on {tree}: {spark_ords} != {duck_ords}"
