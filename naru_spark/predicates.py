"""Predicate model: the reference's conjunctive surface plus IN / OR.

Reference (/root/reference):
- ``estimators.py:20-26``: OPS = {'>', '<', '>=', '<=', '='} as numpy ufuncs.
- ``estimators.py:41-53``: ``Query(columns, operators, vals)`` — conjunction
  of single-column predicates; no OR / LIKE / IN / cross-column theta.
- ``estimators.py:93-111`` (``QueryToPredicate``): (cols, ops, vals) -> SQL
  WHERE string.
- ``estimators.py:114-131`` (``FillInUnqueriedColumns``): pad the predicate
  list to full table column order with None wildcards.

Beyond the reference's surface (it stops at conjunctive range/equality):
- op ``'in'`` — a single-column value-set disjunction (``c IN (v1,..)``);
  val is a list/tuple. In mask space this is the UNION of the per-value
  equality masks, so it flows through every estimator unchanged.
- ``DisjunctiveQuery`` — an OR of conjunctive branches (the Q19 shape).
  Exact paths evaluate the OR directly; model-based estimators expand it
  by inclusion-exclusion (``ie_terms``): every term is again a conjunctive
  ``Query`` (branch predicates concatenated — repeated columns intersect in
  mask space), so 2^k-1 conjunctive evaluations answer a k-branch OR
  exactly in mask arithmetic. Workloads keep k <= 3.

NULL semantics: a NULL never satisfies any predicate (``common.py:11-24``) —
Spark SQL's three-valued logic gives this for free on the filter path; the
domain-mask path gets it from ``ColumnDictionary.bin_range``.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass, field
from datetime import date, datetime, timezone
from decimal import Decimal

import numpy as np
from pyspark.sql import Column as SparkCol, functions as F

NUMPY_OPS = {
    ">": operator.gt,
    "<": operator.lt,
    ">=": operator.ge,
    "<=": operator.le,
    "=": operator.eq,
}

_SQL_OPS = {">": ">", "<": "<", ">=": ">=", "<=": "<=", "=": "="}


@dataclass
class Query:
    """One conjunctive query over a single table: range/equality predicates
    plus single-column ``'in'`` value sets (val = list/tuple)."""

    table: str
    cols: list[str]
    ops: list[str]
    vals: list = field(default_factory=list)

    def __post_init__(self):
        assert len(self.cols) == len(self.ops) == len(self.vals)
        for op, v in zip(self.ops, self.vals):
            if op == "in":
                assert isinstance(v, (list, tuple)) and len(v) > 0, v
            else:
                assert op in NUMPY_OPS, op

    def fill_in_unqueried(self, all_columns: list[str]) -> tuple[list[str], list, list]:
        """Reference ``FillInUnqueriedColumns`` (estimators.py:114-131):
        return (ops, vals) aligned to ``all_columns`` with None wildcards."""
        ops = [None] * len(all_columns)
        vals = [None] * len(all_columns)
        for c, o, v in zip(self.cols, self.ops, self.vals):
            i = all_columns.index(c)
            ops[i], vals[i] = o, v
        return all_columns, ops, vals


@dataclass
class DisjunctiveQuery:
    """OR of conjunctive branches over one table (the Q19 shape)."""

    table: str
    branches: list

    def __post_init__(self):
        assert len(self.branches) >= 1
        for b in self.branches:
            assert isinstance(b, Query), b


def ie_terms(q) -> list:
    """Inclusion-exclusion expansion of a (possibly disjunctive) query into
    ``(coefficient, conjunctive Query)`` terms:

        |A or B or C| = sum |single| - sum |pairwise and| + |triple and|

    Each AND of branches is again a conjunction — the branch predicate lists
    concatenated, so repeated columns INTERSECT wherever the evaluator
    already combines same-column predicates (mask product in
    ProgressiveSampling, independence product in Heuristic). A conjunctive
    input returns itself with coefficient 1. 2^k - 1 terms for k branches;
    workload generation keeps k <= 3."""
    if isinstance(q, Query):
        return [(1, q)]
    from itertools import combinations

    out = []
    for r in range(1, len(q.branches) + 1):
        for combo in combinations(q.branches, r):
            merged = Query(
                q.table,
                [c for b in combo for c in b.cols],
                [o for b in combo for o in b.ops],
                [v for b in combo for v in b.vals],
            )
            out.append(((-1) ** (r + 1), merged))
    return out


def normalize_conjunct(q: Query):
    """Intersect same-column '='/'in' constraints inside one conjunctive
    query (IE's merged AND terms repeat columns whenever OR branches share
    one): the set of admissible values for a column is the INTERSECTION of
    its '=' singletons and 'in' sets. Returns the normalized Query, or
    ``None`` when some column's intersection is empty — the conjunction is
    provably unsatisfiable, so the term's cardinality is exactly 0.

    Without this, an independence-product evaluator (Heuristic) would
    multiply the per-predicate selectivities of contradictory equalities
    (c='A' AND c='N') into a spurious nonzero intersection estimate — the
    mask-based paths (ProgressiveSampling, QueryRegionSize, MaxDiff)
    already intersect masks and don't need it. Range predicates pass
    through untouched; first-occurrence column order is preserved so
    downstream multiplication order stays deterministic."""
    eq_sets: dict[str, list] = {}
    for c, op, v in zip(q.cols, q.ops, q.vals):
        if op == "=":
            eq_sets.setdefault(c, []).append([v])
        elif op == "in":
            eq_sets.setdefault(c, []).append(list(v))
    merged: dict[str, list] = {}
    for c, sets in eq_sets.items():
        if len(sets) == 1:
            if not sets[0]:
                return None  # a lone 'in []' is already unsatisfiable
            merged[c] = sets[0]
            continue
        # order-preserving intersection (first set's order), value equality
        acc = sets[0]
        for s in sets[1:]:
            acc = [v for v in acc if any(v == x for x in s)]
        if not acc:
            return None
        merged[c] = acc
    cols, ops, vals = [], [], []
    emitted: set = set()
    for c, op, v in zip(q.cols, q.ops, q.vals):
        if op in ("=", "in"):
            if c in emitted:
                continue
            emitted.add(c)
            vs = merged[c]
            if len(vs) == 1:
                cols.append(c), ops.append("="), vals.append(vs[0])
            else:
                cols.append(c), ops.append("in"), vals.append(vs)
        else:
            cols.append(c), ops.append(op), vals.append(v)
    return Query(q.table, cols, ops, vals)


def spark_predicate(q) -> SparkCol:
    """One Spark Column for the whole (possibly disjunctive) predicate,
    built as a single ``F.expr`` over the ANSI WHERE string that
    ``sql_predicate`` already renders for the DuckDB oracle — the parser
    yields the same Catalyst expression the old per-conjunct
    ``F.col/F.lit`` fold built, but in ONE py4j round-trip instead of
    3-5 per conjunct (measured: batch-scan estimators build hundreds of
    these per report; the driver-side build cost was py4j chatter, not
    analysis). Catalyst pushes each conjunct to the scan exactly as
    before (reference ``Oracle`` mask fold, estimators.py:505-536);
    ``DisjunctiveQuery`` branches OR-join in the string and Catalyst
    still pushes the per-branch supersets where the source supports
    disjunctive filters. Column names are backtick-quoted for Spark's
    parser (the DuckDB oracle rendering stays bare — its strings are
    hash-pinned), so schemas with spaces in names (DMV) keep working."""
    return F.expr(spark_where(q))


def sql_literal(v) -> str:
    """Render a Python value as an ANSI SQL literal (DuckDB + Spark SQL)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if f != f or f in (float("inf"), float("-inf")):
            # bare repr ('inf'/'nan') parses as a COLUMN REFERENCE in both
            # dialects (ADVICE r15); the explicit cast is ANSI-portable and
            # spells the value the way Spark's AND DuckDB's string->double
            # casts both accept
            s = "NaN" if f != f else ("Infinity" if f > 0 else "-Infinity")
            return f"CAST('{s}' AS DOUBLE)"
        return repr(f)
    if isinstance(v, Decimal) and v.is_finite():
        # a bare numeric literal: both dialects parse it as a DECIMAL and
        # compare it exactly (quoted, it would compare as a string cast)
        return format(v, "f")
    if isinstance(v, (np.datetime64,)):
        ts = np.datetime_as_string(v, unit="us").replace("T", " ")
        return f"TIMESTAMP '{ts}'"
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            # the instant, as the UTC wall time both sessions read it in
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return f"TIMESTAMP '{v.strftime('%Y-%m-%d %H:%M:%S.%f')}'"
    if isinstance(v, date):
        return f"DATE '{v.isoformat()}'"
    s = str(v).replace("'", "''")
    return f"'{s}'"


def _render_predicate(q, ident) -> str:
    """Shared WHERE-string renderer; ``ident`` maps a column name to its
    dialect spelling (bare for the DuckDB oracle strings, backticked for
    Spark's parser so names with spaces — the DMV schema — stay valid)."""
    if isinstance(q, DisjunctiveQuery):
        return " OR ".join(f"({_render_predicate(b, ident)})" for b in q.branches)
    parts = []
    for c, op, v in zip(q.cols, q.ops, q.vals):
        if op == "in":
            parts.append(f"{ident(c)} IN ({', '.join(sql_literal(x) for x in v)})")
        else:
            parts.append(f"{ident(c)} {_SQL_OPS[op]} {sql_literal(v)}")
    return " AND ".join(parts)


def sql_predicate(q) -> str:
    """(cols, ops, vals) -> WHERE-clause string (reference
    ``QueryToPredicate``, estimators.py:93-111), ANSI so DuckDB and Spark SQL
    both accept it. ``'in'`` renders as ``c IN (...)``; a
    ``DisjunctiveQuery`` as parenthesized OR-joined branch conjunctions."""
    return _render_predicate(q, lambda c: c)


def _bq(c: str) -> str:
    return f"`{c.replace('`', '``')}`"


def spark_where(q) -> str:
    """The predicate as a Spark-SQL WHERE string (backticked identifiers);
    ``spark_predicate`` is this string parsed to a Column."""
    return _render_predicate(q, _bq)
