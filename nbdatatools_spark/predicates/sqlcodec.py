"""PNode -> SQL / CQL / CDDL render codecs (P7 in SURVEY §2.2), and the
one PNode evaluator: ``compile_pnode`` is the ``spark`` SQL dialect parsed
by Spark (P2-P6).

SQL has three dialects:

- ``reference``: byte-conformant with the reference's PNodeSqlCodec
  (PNodeSqlCodec.java:44-129): ``F0 > 42``, ``name IN ('a', 'b')``,
  parenthesized conjugates joined by `` AND ``/`` OR ``, `=`/`!=`, text
  quoting ``'it''s'``, TRUE/FALSE, NULL, and (notably) MATCHES rendered as
  LIKE — the reference renders regex predicates as LIKE even though its
  evaluator does full regex; we preserve that quirk in this dialect only.
- ``duckdb`` (also valid ANSI for most engines): semantically faithful
  rendering for oracle-differencing — MATCHES becomes
  ``regexp_full_match(col, 'pattern')`` and EQ-with-NULL becomes
  ``col IS NULL``, matching the evaluator's actual behavior.
- ``spark``: Spark SQL carrying PredicateEvaluator.java's semantics exactly;
  ``compile_pnode`` evaluates it.

  - An int comparand narrows the FIELD to long (``CAST(f AS BIGINT)``;
    ``fieldVal.longValue()`` truncates toward zero,
    PredicateEvaluator.java:146-187), so 45.5 GT 45 is false; a float
    comparand compares as double. The cast is elided on integral columns;
    on double columns it blocks parquet pushdown, so use float comparands
    for a pushable range scan over doubles.
  - MATCHES is a full match (``Pattern.matches``, :207):
    ``f RLIKE '^(?:p)$'``.
  - EQ NULL is ``f IS NULL`` (a null field matches only EQ-with-null,
    :82-99); any other op with a null comparand is ``FALSE``.
  - IN ignores null comparands: ``[null, 10]``, ``[10, null]`` and ``[10]``
    match the same rows, an all-null IN matches none.
  - Identifiers are backtick-quoted. Literals: strings escape ``\\`` and
    ``'`` with a backslash, ints are ``42L``, floats ``0.5D`` (a bare ``0.5``
    is ``decimal(1,1)``), NaN/±inf ``CAST('nan' AS DOUBLE)``, bytes
    ``X'00ff'``.

An unknown dialect raises ``ValueError``.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from nbdatatools_spark.predicates.pnode import Conjugate, PNode, PredicateLeaf

_SQL_OP = {"GT": ">", "LT": "<", "EQ": "=", "NE": "!=", "GE": ">=", "LE": "<="}
_DIALECTS = ("reference", "duckdb", "spark")


def _render_value(v, dialect: str = "reference") -> str:
    """Literal rendering per PNodeSqlCodec.java:121-129 (``spark``: typed
    Spark SQL literals, see the module docstring)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        if dialect == "spark":
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        return "'" + v.replace("'", "''") + "'"
    if dialect == "spark":
        if isinstance(v, int):
            return f"{v}L"
        if isinstance(v, float):
            return f"{v}D" if math.isfinite(v) else f"CAST('{v}' AS DOUBLE)"
        if isinstance(v, (bytes, bytearray)):
            return f"X'{bytes(v).hex()}'"
    return str(v)


def _field_ref(leaf: PredicateLeaf, dialect: str = "reference") -> str:
    """fieldName if present else F<index> (PNodeSqlCodec.java:83-85)."""
    if dialect == "spark":
        if leaf.field_name is None:
            raise ValueError(
                "unresolved positional predicate; pass columns= to resolve "
                "(mirrors PredicateEvaluator.java:74-81 which requires named predicates)"
            )
        return "`" + leaf.field_name.replace("`", "``") + "`"
    return leaf.field_name if leaf.field_name is not None else f"F{leaf.field}"


def render_sql(node: PNode, dialect: str = "reference") -> str:
    if dialect not in _DIALECTS:
        raise ValueError(f"unknown SQL dialect {dialect!r}; one of {_DIALECTS}")
    if isinstance(node, Conjugate):
        sep = f" {node.op} "
        return "(" + sep.join(render_sql(c, dialect) for c in node.nodes) + ")"
    assert isinstance(node, PredicateLeaf)
    ref = _field_ref(node, dialect)
    op = node.op
    first = node.values[0]
    if dialect == "spark" and op != "MATCHES":
        comparand = next((v for v in node.values if v is not None), None)
        if isinstance(comparand, int) and not isinstance(comparand, bool):
            ref = f"CAST({ref} AS BIGINT)"
    if op == "IN":
        vals = ", ".join(_render_value(v, dialect) for v in node.values)
        return f"{ref} IN ({vals})"
    if op == "MATCHES" and dialect == "reference":
        return f"{ref} LIKE {_render_value(first)}"
    if op == "MATCHES" and dialect == "duckdb":
        return f"regexp_full_match({ref}, {_render_value(first)})"
    if first is None and dialect != "reference":
        # semantic dialect: EQ NULL == IS NULL; other ops never match
        return f"{ref} IS NULL" if op == "EQ" else "FALSE"
    if op == "MATCHES":
        # spark: RLIKE is find(); anchor it to Pattern.matches' full match
        return f"{ref} RLIKE {_render_value(f'^(?:{first})$', dialect)}"
    return f"{ref} {_SQL_OP[op]} {_render_value(first, dialect)}"


def compile_pnode(
    node: PNode, columns: list[str] | None = None, two_valued: bool = True
) -> Column:
    """Compile a PNode tree to a Column predicate: the ``spark`` dialect of
    ``render_sql`` parsed by ``F.expr``.

    ``columns`` resolves positional field indices (P6); ``two_valued`` wraps
    the result in coalesce(expr, false) so null propagation matches the
    reference's boolean evaluator in SELECT/CASE contexts.

    PERF: for WHERE filtering pass ``two_valued=False``: observable
    semantics are identical (Spark drops null-result rows), but the coalesce
    wrapper BLOCKS parquet predicate pushdown — measured as
    ``PushedFilters: []`` vs pushed comparisons (tests/test_plans.py).
    """
    if columns is not None:
        node = node.resolve(columns)
    pred = F.expr(render_sql(node, "spark"))
    return F.coalesce(pred, F.lit(False)) if two_valued else pred


def render_cql(node: PNode) -> str:
    """CQL WHERE-fragment renderer, conformant with the reference's
    PNodeCqlCodec (PNodeCqlCodec.java:48-113): conjugates join children
    with the bare op and NO parenthesized grouping (CQL has no OR/paren
    grouping); MATCHES is not a CQL keyword and renders as
    ``field /* MATCHES */ 'pattern'`` with the raw pattern unescaped;
    comparands otherwise use SQL literal quoting."""
    if isinstance(node, Conjugate):
        sep = f" {node.op} "
        return sep.join(render_cql(c) for c in node.nodes)
    assert isinstance(node, PredicateLeaf)
    ref = _field_ref(node)
    if node.op == "IN":
        return f"{ref} IN ({', '.join(_render_value(v) for v in node.values)})"
    if node.op == "MATCHES":
        raw = node.values[0] if node.values else ""
        return f"{ref} /* MATCHES */ '{raw}'"
    return f"{ref} {_SQL_OP[node.op]} {_render_value(node.values[0])}"


def _cddl_type(v) -> str:
    """CDDL type keyword of the first comparand (PNodeCddlCodec.java:81-92);
    bool precedes int — Python bools are ints."""
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, str):
        return "tstr"
    if isinstance(v, (bytes, bytearray)):
        return "bstr"
    if v is None:
        return "null"
    return "int"


def _cddl_value(v) -> str:
    """CDDL literal (PNodeCddlCodec.java:120-128): double-quoted text with
    escaped quotes, lowercase booleans, bare numbers, h'...' bytes."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return '"' + v.replace('"', '\\"') + '"'
    if isinstance(v, (bytes, bytearray)):
        return "h'...'"
    return str(v)


_CDDL_OP = dict(_SQL_OP, IN="IN", MATCHES="MATCHES")


def render_cddl(node: PNode) -> str:
    """CDDL-style renderer, conformant with the reference's PNodeCddlCodec
    (PNodeCddlCodec.java:47-117): conjugates as ``AND { a, b }``, leaves as
    ``field: <type> <op> <value|[values]>``."""
    if isinstance(node, Conjugate):
        return f"{node.op} {{ " + ", ".join(render_cddl(c) for c in node.nodes) + " }"
    assert isinstance(node, PredicateLeaf)
    first = node.values[0] if node.values else 0
    vals = (
        _cddl_value(node.values[0])
        if len(node.values) == 1
        else "[" + ", ".join(_cddl_value(v) for v in node.values) + "]"
    )
    return f"{_field_ref(node)}: {_cddl_type(first)} {_CDDL_OP[node.op]} {vals}"
