"""Predicate system: JSON parse, Column compile, SQL render — differential
against the reference's documented semantics (PredicateEvaluator.java,
PNodeSqlCodec.java) and DuckDB (the reference's own oracle pattern,
BenchmarkDataGenerator.java:119-165 used SQLite the same way)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from nbdatatools_spark.predicates import compile_pnode, parse_pnode, render_sql
from nbdatatools_spark.predicates.pnode import Conjugate, PredicateLeaf

ROWS = [
    # (ordinal, name, number, score, flag, category)
    (0, "name_1", 10, 0.5, True, "a"),
    (1, "name_2", 20, 0.25, False, "b"),
    (2, "name_3", 30, 0.75, True, "c"),
    (3, None, 40, 0.0, False, "a"),
    (4, "name_5", None, 1.0, True, "b"),
    (5, "it's", 60, 0.1, None, "c"),
]
SCHEMA = "ordinal BIGINT, name STRING, number BIGINT, score DOUBLE, flag BOOLEAN, category STRING"


@pytest.fixture(scope="module")
def meta(spark):
    return spark.createDataFrame(ROWS, SCHEMA).cache()


# --- JSON parsing (specs/predicate_format_v1.md) --------------------------

def test_parse_symbolic_ops():
    for sym, name in [(">", "GT"), ("<", "LT"), ("=", "EQ"), ("!=", "NE"), (">=", "GE"), ("<=", "LE")]:
        node = parse_pnode({"field": 0, "op": sym, "values": [1]})
        assert isinstance(node, PredicateLeaf) and node.op == name


def test_parse_conjugate_nested():
    node = parse_pnode(
        {"op": "AND", "nodes": [
            {"field": 0, "op": ">=", "values": [100]},
            {"op": "OR", "nodes": [
                {"field": 1, "op": "IN", "values": [3, 4, 5]},
                {"field": 0, "op": "<=", "values": [200]}]}]}
    )
    assert isinstance(node, Conjugate) and node.op == "AND"
    assert isinstance(node.nodes[1], Conjugate) and node.nodes[1].op == "OR"


def test_parse_rejects_bad():
    for bad in (
        {"op": "GT", "values": [1]},                      # no field
        {"field": 0, "op": "GT", "values": [1, 2]},       # 2 values on GT
        {"field": -1, "op": "GT", "values": [1]},         # negative index
        {"op": "AND", "nodes": []},                       # empty conjugate
        {"field": 0, "op": "NOPE", "values": [1]},        # unknown op
        {"field": 0, "op": "GT", "values": []},           # empty values
        {"field": True, "op": "GT", "values": [1]},       # bool index
    ):
        with pytest.raises(ValueError):
            parse_pnode(bad)


def test_positional_field_resolution(meta):
    """P6: field index resolves against column order
    (PredicateContext.java:109-143)."""
    node = parse_pnode({"field": 2, "op": "GE", "values": [30]})  # -> number
    got = sorted(r[0] for r in meta.where(compile_pnode(node, meta.columns)).select("ordinal").collect())
    assert got == [2, 3, 5]


# --- evaluation semantics vs PredicateEvaluator.java ----------------------

def eval_ordinals(meta, node_json):
    node = parse_pnode(node_json)
    return sorted(
        r[0]
        for r in meta.where(compile_pnode(node, meta.columns)).select("ordinal").collect()
    )


def test_null_field_semantics(meta):
    """Null field matches ONLY EQ-with-null (PredicateEvaluator.java:82-99)."""
    assert eval_ordinals(meta, {"fieldName": "name", "op": "EQ", "values": [None]}) == [3]
    # GT on a null comparand: never matches anything
    assert eval_ordinals(meta, {"fieldName": "number", "op": "GT", "values": [None]}) == []
    # normal ops skip null-field rows
    assert eval_ordinals(meta, {"fieldName": "number", "op": "GE", "values": [10]}) == [0, 1, 2, 3, 5]


def test_matches_is_full_match(meta):
    """MATCHES uses Pattern.matches (full string) not find
    (PredicateEvaluator.java:207)."""
    # 'name_' would match all name_* rows under find-semantics; full-match none
    assert eval_ordinals(meta, {"fieldName": "name", "op": "MATCHES", "values": ["name_"]}) == []
    assert eval_ordinals(meta, {"fieldName": "name", "op": "MATCHES", "values": ["name_[12]"]}) == [0, 1]


def test_bool_eq_ne(meta):
    assert eval_ordinals(meta, {"fieldName": "flag", "op": "EQ", "values": [True]}) == [0, 2, 4]
    assert eval_ordinals(meta, {"fieldName": "flag", "op": "NE", "values": [True]}) == [1, 3]


def test_in_membership(meta):
    assert eval_ordinals(meta, {"fieldName": "category", "op": "IN", "values": ["a", "c"]}) == [0, 2, 3, 5]
    assert eval_ordinals(meta, {"fieldName": "number", "op": "IN", "values": [10, 60]}) == [0, 5]


def test_string_ordering(meta):
    """String GT/LT compare lexicographically
    (PredicateEvaluator.java:189-210 compareTo)."""
    assert eval_ordinals(meta, {"fieldName": "name", "op": "GT", "values": ["name_2"]}) == [2, 4]


def test_two_valued_in_select_context(meta):
    """compile_pnode coalesces nulls to false so the Column is safe outside
    WHERE."""
    node = parse_pnode({"fieldName": "number", "op": "GT", "values": [15]})
    vals = [r[0] for r in meta.orderBy("ordinal").select(compile_pnode(node, meta.columns)).collect()]
    assert vals == [False, True, True, True, False, True]


# --- SQL codec conformance (PNodeSqlCodec.java) ---------------------------

def test_sql_render_reference_dialect():
    node = parse_pnode({"field": 0, "op": "GT", "values": [42]})
    assert render_sql(node) == "F0 > 42"
    node = parse_pnode({"fieldName": "age", "op": "IN", "values": [1, 2]})
    assert render_sql(node) == "age IN (1, 2)"
    node = parse_pnode(
        {"op": "AND", "nodes": [
            {"fieldName": "a", "op": ">=", "values": [1]},
            {"op": "OR", "nodes": [
                {"fieldName": "b", "op": "=", "values": [2]},
                {"fieldName": "c", "op": "!=", "values": [3]}]}]}
    )
    assert render_sql(node) == "(a >= 1 OR (b = 2 OR c != 3))".replace("OR (b", "OR (b") or True
    # exact nested form:
    assert render_sql(node) == "(a >= 1 AND (b = 2 OR c != 3))"


def test_sql_render_quoting():
    """Text quoting doubles single quotes (PNodeSqlCodec.java:121-129)."""
    node = parse_pnode({"fieldName": "name", "op": "EQ", "values": ["it's"]})
    assert render_sql(node) == "name = 'it''s'"
    node = parse_pnode({"fieldName": "flag", "op": "EQ", "values": [True]})
    assert render_sql(node) == "flag = TRUE"
    node = parse_pnode({"fieldName": "name", "op": "EQ", "values": [None]})
    assert render_sql(node) == "name = NULL"           # reference quirk
    assert render_sql(node, "duckdb") == "name IS NULL"  # semantic dialect


def test_sql_render_matches_like_quirk():
    """Reference renders MATCHES as LIKE (PNodeSqlCodec.java sqlOp); the
    duckdb dialect renders true full-regex semantics."""
    node = parse_pnode({"fieldName": "name", "op": "MATCHES", "values": ["n.*"]})
    assert render_sql(node) == "name LIKE 'n.*'"
    assert render_sql(node, "duckdb") == "regexp_full_match(name, 'n.*')"


# --- differential: compiled Column == rendered SQL solved by DuckDB -------

PREDS = [
    {"fieldName": "number", "op": "GT", "values": [15]},
    {"fieldName": "number", "op": "LE", "values": [30]},
    {"fieldName": "name", "op": "NE", "values": ["name_2"]},
    {"fieldName": "category", "op": "IN", "values": ["a", "b"]},
    {"fieldName": "score", "op": "GE", "values": [0.5]},
    {"fieldName": "name", "op": "MATCHES", "values": ["name_[0-9]+"]},
    {"fieldName": "name", "op": "EQ", "values": [None]},
    {"fieldName": "number", "op": "IN", "values": [None, 10]},
    {"op": "AND", "nodes": [
        {"fieldName": "number", "op": "GE", "values": [20]},
        {"op": "OR", "nodes": [
            {"fieldName": "flag", "op": "EQ", "values": [True]},
            {"fieldName": "category", "op": "EQ", "values": ["c"]}]}]},
]


def test_int_comparand_truncates_field_like_reference(meta):
    """PredicateEvaluator.java:148-150: an IntVal comparand narrows the FIELD
    value via Number.longValue() (truncation toward zero), so 0.75 GT 0 is
    FALSE in the reference (0 > 0) — unlike SQL's widening, where it's true.
    (ADVICE r1: the compiler previously widened like SQL.)"""
    node = parse_pnode({"fieldName": "score", "op": "GT", "values": [0]})
    got = sorted(
        r[0] for r in meta.where(compile_pnode(node, meta.columns)).select("ordinal").collect()
    )
    # only score=1.0 truncates to 1 > 0; every fractional score truncates to 0
    assert got == [4]
    # EQ through truncation: score 0.5 EQ 0 matches (long(0.5) == 0)
    node_eq = parse_pnode({"fieldName": "score", "op": "EQ", "values": [0]})
    got_eq = sorted(
        r[0]
        for r in meta.where(compile_pnode(node_eq, meta.columns)).select("ordinal").collect()
    )
    assert got_eq == [0, 1, 2, 3, 5]
    # float comparand keeps SQL widening: 0.75 > 0.0 is true
    node_f = parse_pnode({"fieldName": "score", "op": "GT", "values": [0.0]})
    got_f = sorted(
        r[0]
        for r in meta.where(compile_pnode(node_f, meta.columns)).select("ordinal").collect()
    )
    assert got_f == [0, 1, 2, 4, 5]


def test_differential_vs_duckdb(meta):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE meta (ordinal BIGINT, name VARCHAR, number BIGINT, "
        "score DOUBLE, flag BOOLEAN, category VARCHAR)"
    )
    con.executemany("INSERT INTO meta VALUES (?,?,?,?,?,?)", ROWS)
    for pd_json in PREDS:
        node = parse_pnode(pd_json)
        spark_ords = sorted(
            r[0]
            for r in meta.where(compile_pnode(node, meta.columns)).select("ordinal").collect()
        )
        sql = render_sql(node, "duckdb")
        duck_ords = sorted(
            r[0]
            for r in con.execute(
                f"SELECT ordinal FROM meta WHERE {sql}"
            ).fetchall()
        )
        assert spark_ords == duck_ords, f"divergence on {pd_json}: {spark_ords} != {duck_ords}"
