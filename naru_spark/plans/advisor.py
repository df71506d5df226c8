"""Optimizer-integration side API (SURVEY §4 item 3): estimate the
cardinality of a ``df.filter(...)`` plan with any of the engine's
estimators.

The reference never rewires a real optimizer — its Postgres estimator just
reads EXPLAIN output (estimators.py:648-660) — so parity needs exactly this
shape: hand the engine a filtered DataFrame, get a row-count estimate back.
``extract_query`` walks the *analyzed* Catalyst plan (via py4j), flattens the
top Filter's And-tree into the engine's conjunctive ``Query`` IR, and the
advisor routes it to a fitted estimator (neural, BN, histogram, ...).

Supported predicate shape: the reference's conjunctive surface —
``col op literal`` with op in {=, <, <=, >, >=} (estimators.py:20-26) —
plus the engine's disjunctive extension: ``IN`` value lists and OR-trees.
A condition containing OR is expanded to DNF (branch count capped — a
combinatorial And-of-Ors raises instead of silently exploding) and
returned as a ``DisjunctiveQuery``, which every estimator answers by
inclusion-exclusion. Anything else (LIKE, col-op-col, InSet) raises
``UnsupportedPlanError`` — callers fall back to Catalyst's own stats.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

from pyspark.sql import DataFrame

from naru_spark.predicates import DisjunctiveQuery, Query

_OP_BY_CLASS = {
    "EqualTo": "=",
    "LessThan": "<",
    "LessThanOrEqual": "<=",
    "GreaterThan": ">",
    "GreaterThanOrEqual": ">=",
}
_FLIP = {"=": "=", "<": ">", "<=": ">=", ">": "<", ">=": "<="}


class UnsupportedPlanError(ValueError):
    pass


def _cls(node) -> str:
    return node.getClass().getSimpleName()


def _children(expr):
    out = []
    it = expr.children().iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def _unwrap_cast(expr):
    while _cls(expr) == "Cast":
        expr = _children(expr)[0]
    return expr


def _literal_value(expr, data_type: str):
    """Convert a Catalyst Literal to the python value the predicate layer
    expects. Timestamp literals carry epoch micros; a DECIMAL literal (SQL
    ``0.05``) becomes a ``Decimal``."""
    v = expr.value()
    if v is None:
        raise UnsupportedPlanError("NULL literal in predicate")
    if data_type.startswith("timestamp"):
        if isinstance(v, int):
            return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=v)
        return dt.datetime.fromisoformat(str(v))
    if isinstance(v, (int, float, bool)):
        return v
    if str(expr.dataType().simpleString()).startswith("decimal"):
        return Decimal(str(v))
    return str(v)  # UTF8String and friends


def _flatten_and(expr):
    if _cls(expr) == "And":
        left, right = _children(expr)
        return _flatten_and(left) + _flatten_and(right)
    return [expr]


_DNF_CAP = 8  # max disjunctive branches: And-of-Ors multiplies, so cap hard


def _dnf(expr) -> list[list]:
    """Condition tree -> list of leaf-conjunctions (disjunctive normal
    form). And distributes over the cross product of its children's
    branches; Or concatenates. The cap turns combinatorial blowup into a
    clean UnsupportedPlanError (the caller falls back to Catalyst)."""
    name = _cls(expr)
    if name == "And":
        left, right = _children(expr)
        lb, rb = _dnf(left), _dnf(right)
        if len(lb) * len(rb) > _DNF_CAP:
            raise UnsupportedPlanError(f"DNF expansion exceeds {_DNF_CAP} branches")
        return [a + b for a in lb for b in rb]
    if name == "Or":
        left, right = _children(expr)
        out = _dnf(left) + _dnf(right)
        if len(out) > _DNF_CAP:
            raise UnsupportedPlanError(f"DNF expansion exceeds {_DNF_CAP} branches")
        return out
    return [[expr]]


def _parse_leaf(c):
    """One comparison leaf -> (col, op, val) or None for IsNotNull."""
    name = _cls(c)
    if name == "IsNotNull":
        return None  # implied by every comparison; carries no selectivity info
    if name == "In":
        kids = _children(c)
        attr = _unwrap_cast(kids[0])
        if _cls(attr) != "AttributeReference":
            raise UnsupportedPlanError(f"IN over non-attribute: {c}")
        dtype = str(attr.dataType().simpleString())
        vals = []
        for lit in kids[1:]:
            lit = _unwrap_cast(lit)
            if _cls(lit) != "Literal":
                raise UnsupportedPlanError(f"IN with non-literal element: {c}")
            vals.append(_literal_value(lit, dtype))
        return (str(attr.name()), "in", vals)
    if name not in _OP_BY_CLASS:
        raise UnsupportedPlanError(f"unsupported predicate node {name}")
    left, right = (_unwrap_cast(e) for e in _children(c))
    op = _OP_BY_CLASS[name]
    if _cls(left) == "AttributeReference" and _cls(right) == "Literal":
        attr, lit = left, right
    elif _cls(left) == "Literal" and _cls(right) == "AttributeReference":
        attr, lit = right, left
        op = _FLIP[op]
    else:
        raise UnsupportedPlanError(f"not col-op-literal: {c}")
    dtype = str(attr.dataType().simpleString())
    return (str(attr.name()), op, _literal_value(lit, dtype))


def extract_query(df: DataFrame, table: str = "t"):
    """Analyzed plan -> Query IR: a conjunctive ``Query``, or a
    ``DisjunctiveQuery`` when the condition contains OR (DNF-expanded,
    branch count capped). Raises UnsupportedPlanError outside the
    supported surface."""
    plan = df._jdf.queryExecution().analyzed()
    conjuncts = []
    node = plan
    while True:
        name = _cls(node)
        if name == "Filter":
            conjuncts.extend(_flatten_and(node.condition()))
            node = node.children().apply(0)
        elif name in ("Project", "SubqueryAlias", "View"):
            node = node.children().apply(0)
        elif name in ("LogicalRelation", "LocalRelation", "UnresolvedRelation", "Relation"):
            break
        else:
            if node.children().size() == 1:
                node = node.children().apply(0)
                continue
            break
    if not conjuncts:
        raise UnsupportedPlanError("no Filter node in plan")

    # expand each top-level conjunct to DNF, then cross-combine
    branch_sets = [_dnf(c) for c in conjuncts]
    branches = [[]]
    for bs in branch_sets:
        if len(branches) * len(bs) > _DNF_CAP:
            raise UnsupportedPlanError(f"DNF expansion exceeds {_DNF_CAP} branches")
        branches = [a + b for a in branches for b in bs]

    queries = []
    for leaves in branches:
        cols, ops, vals = [], [], []
        for c in leaves:
            parsed = _parse_leaf(c)
            if parsed is None:
                continue
            col, op, v = parsed
            cols.append(col)
            ops.append(op)
            vals.append(v)
        queries.append(Query(table, cols, ops, vals))
    if len(queries) == 1:
        return queries[0]
    return DisjunctiveQuery(table, queries)


class CardinalityAdvisor:
    """Routes filtered-DataFrame plans to a fitted estimator.

    ``estimator`` is any CardEst (ProgressiveSampling over the fitted
    NaruModel for the paper behavior; Oracle for exact; MaxDiff/BN/... for
    baselines)."""

    def __init__(self, estimator, table: str = "t"):
        self.estimator = estimator
        self.table = table

    def estimate(self, filtered_df: DataFrame) -> float:
        q = extract_query(filtered_df, self.table)
        return float(self.estimator.query(q))
