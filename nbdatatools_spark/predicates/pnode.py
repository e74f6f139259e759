"""PNode predicate model + JSON parser.

Reference format: specs/predicate_format_v1.md:22-139 — two node types
inferred from the operator:

- predicate leaf: ``{"field": <int> | "fieldName": <str>, "op": "GT|LT|EQ|NE|
  GE|LE|IN|MATCHES" (or symbol forms ">", "<", "=", "!=", ">=", "<="),
  "values": [...]}``
- conjugate: ``{"op": "AND|OR", "nodes": [...]}``

Typed comparands follow spec/predicates/Comparand.java:73-117: int, float,
text, bool, bytes, null. v1 JSON allows numbers only in ``values``; this
parser additionally accepts strings/bools/nulls (the typed comparand surface)
since the evaluator and codecs support them
(PredicateEvaluator.java:146-221, PNodeSqlCodec.java:121-129).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field as dc_field
from typing import Union

_OP_ALIASES = {
    ">": "GT",
    "<": "LT",
    "=": "EQ",
    "==": "EQ",
    "!=": "NE",
    "<>": "NE",
    ">=": "GE",
    "<=": "LE",
}
COMPARISON_OPS = {"GT", "LT", "EQ", "NE", "GE", "LE", "IN", "MATCHES"}
CONJUGATE_OPS = {"AND", "OR"}


@dataclass(frozen=True)
class PredicateLeaf:
    """Comparison leaf (PredicateNode.java:41-132). ``field`` is a positional
    index, ``field_name`` a resolved column name; at least one must be set
    (PredicateContext.java:51,109-143 resolves index<->name)."""

    op: str
    values: tuple
    field: int | None = None
    field_name: str | None = None

    def resolve(self, columns: list[str]) -> "PredicateLeaf":
        """Resolve a positional field index to a column name (P6)."""
        if self.field_name is not None:
            return self
        if self.field is None or not (0 <= self.field < len(columns)):
            raise ValueError(f"field index {self.field} out of range for {columns}")
        return PredicateLeaf(self.op, self.values, self.field, columns[self.field])


@dataclass(frozen=True)
class Conjugate:
    """AND/OR conjugate (ConjugateNode.java:25); children evaluated
    all/any (PredicateEvaluator.java:54-71)."""

    op: str
    nodes: tuple = dc_field(default_factory=tuple)

    def resolve(self, columns: list[str]) -> "Conjugate":
        return Conjugate(self.op, tuple(n.resolve(columns) for n in self.nodes))


PNode = Union[PredicateLeaf, Conjugate]


def pnode_to_dict(node: PNode) -> dict:
    """Inverse of parse_pnode: PNode -> plain JSON-able dict (round-trips
    through parse_pnode; used by the predicates facet view to surface stored
    wire blobs as JSON columns)."""
    if isinstance(node, Conjugate):
        return {"op": node.op, "nodes": [pnode_to_dict(n) for n in node.nodes]}
    d: dict = {"op": node.op, "values": list(node.values)}
    if node.field_name is not None:
        d["fieldName"] = node.field_name
    if node.field is not None:
        d["field"] = node.field
    return d


def parse_pnode(obj: str | bytes | dict) -> PNode:
    """Parse predicate JSON (string or already-loaded dict) into a PNode."""
    if isinstance(obj, (str, bytes)):
        obj = json.loads(obj)
    if not isinstance(obj, dict) or "op" not in obj:
        raise ValueError(f"not a predicate node: {obj!r}")
    op = str(obj["op"]).upper()
    op = _OP_ALIASES.get(obj["op"], op)
    if op in CONJUGATE_OPS:
        nodes = obj.get("nodes") or []
        if not nodes:
            raise ValueError("conjugate node requires at least one child")
        return Conjugate(op, tuple(parse_pnode(n) for n in nodes))
    if op not in COMPARISON_OPS:
        raise ValueError(f"unknown predicate op: {obj['op']!r}")
    values = obj.get("values")
    if values is None or not isinstance(values, list) or len(values) == 0:
        raise ValueError(f"predicate node requires non-empty values: {obj!r}")
    if op != "IN" and len(values) != 1:
        raise ValueError(f"{op} requires exactly one value, got {len(values)}")
    fld = obj.get("field")
    fname = obj.get("fieldName") or obj.get("field_name")
    if fld is None and fname is None:
        raise ValueError(f"predicate node requires field or fieldName: {obj!r}")
    if fld is not None and (type(fld) is not int or fld < 0):  # bool is an int
        raise ValueError(f"field index must be a non-negative integer: {fld!r}")
    return PredicateLeaf(op=op, values=tuple(values), field=fld, field_name=fname)
