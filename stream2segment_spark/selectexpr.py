"""Selection-expression compiler: ``dict[attribute, string-expression]`` ->
Spark DataFrame plan (auto-joins + AND'd predicates + ORDER BY).

Reimplements the *semantics* of the reference's query language
(process/db/sqlevalexpr.py:68-403) Spark-first: instead of building a
SQLAlchemy query for an RDBMS to plan, we emit a declarative DataFrame plan
(joins on the schema graph + ``Column`` predicates) and let Catalyst do
predicate pushdown, column pruning and join selection. Dimension tables are
broadcast by default, so a selection over a 100 TB fact table compiles to a
scan + broadcast-hash-joins + pushed filters with zero shuffles.

Grammar (reference: sqlevalexpr.py:312-341):

- ``<expr> := <op><values> | <interval>``
- ``<op>`` one of ``= == != < > <= >=`` (default ``=`` when omitted)
- ``<interval>`` ``[a, b]`` / ``(a, b)`` / ``[a, b)`` / ``(a, b]`` — closed /
  open / right-open / left-open
- ``<values>`` shlex-split (quoted strings supported); multi-value ``=``
  becomes IN, multi-value ``!=`` becomes NOT IN, multi-value comparisons AND;
  ``null``/``NULL`` is SQL NULL (``= null`` -> IS NULL, ``!= null`` -> IS NOT
  NULL, like SQLAlchemy's ``==None``/``!=None`` compilation)
- literals are typed by the column: int / float / bool (``true``/``false``) /
  datetime (ISO, 'T' or space) / str

Attributes may be dotted (``event.magnitude``): the relationship path from
the schema graph is inner-joined exactly once per referenced relationship
(reference: sqlevalexpr.py:207-211), including multi-hop edges (segment ->
channels -> stations); a hop two relationships share is joined once.
Derived columns (columns.py) are first-class.
"""

from __future__ import annotations

import shlex
from datetime import datetime

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stream2segment_spark.schema import Relationship, SchemaGraph, Table

_NONES = ("null", "NULL")


# --------------------------------------------------------------------------
# Expression parsing (string -> operator + typed literals)
# --------------------------------------------------------------------------

def split(expr: str) -> tuple[str, str]:
    """Split an expression into operator and value part.

    Returns one of ``= != < > <= >=`` or the interval kinds ``closed``,
    ``open``, ``leftopen``, ``rightopen`` (``==`` normalizes to ``=``; a bare
    value means ``=``). Semantics per reference sqlevalexpr.py:312-341.
    """
    expr = expr.strip()
    if not expr:
        raise ValueError("empty expression")
    if expr[:2] in ("<=", ">=", "==", "!="):
        return ("=" if expr[:2] == "==" else expr[:2]), expr[2:].strip()
    if expr[0] in ("<", ">", "="):
        return expr[0], expr[1:].strip()
    if expr[0] in ("(", "[", "]"):
        if expr[-1] not in (")", "[", "]"):
            raise ValueError(f"unterminated interval: {expr!r}")
        inner = expr[1:-1].replace(",", " ")
        if len(shlex.split(inner)) != 2:
            raise ValueError(f"interval needs exactly 2 endpoints: {expr!r}")
        if expr[0] == "[":
            kind = "closed" if expr[-1] == "]" else "rightopen"
        else:  # '(' or ']' both open on the left
            kind = "leftopen" if expr[-1] == "]" else "open"
        return kind, inner
    return "=", expr


def _parse_bool(v: str) -> bool:
    if v in ("false", "False", "FALSE"):
        return False
    if v in ("true", "True", "TRUE"):
        return True
    # anything else must fail loudly: the old bool(v) fallback parsed
    # '0', 'no', and typos as TRUE — the opposite of the user's intent,
    # silently
    raise ValueError(f"invalid boolean literal {v!r} "
                     "(expected true/false)")


def parsevals(pytype: type, value_expr: str) -> list:
    """shlex-split ``value_expr`` and cast each token to ``pytype``
    (``null``/``NULL`` -> None). Datetimes accept ISO with 'T' or space
    (reference: sqlevalexpr.py:364-403)."""
    vals = shlex.split(value_expr)
    out: list = []
    for v in vals:
        if v in _NONES:
            out.append(None)
        elif pytype is float:
            out.append(float(v))
        elif pytype is int:
            out.append(int(v))
        elif pytype is bool:
            out.append(_parse_bool(v))
        elif pytype is datetime:
            out.append(np.datetime64(v, "us").item())
        elif pytype is str:
            out.append(str(v))
        else:
            raise ValueError(f"unsupported literal type {pytype}")
    return out


def binexpr(column: Column, pytype: type, expr: str) -> Column:
    """Compile one string expression against a Spark Column.

    Mirrors reference sqlevalexpr.py:266-309, with SQLAlchemy's null
    idioms (``== null`` -> IS NULL, ``!= null`` -> IS NOT NULL)."""
    op, value_part = split(expr)
    values = parsevals(pytype, value_part)
    if not values:
        raise ValueError(f"no values in expression {expr!r}")
    if op == "=":
        if len(values) == 1:
            return column.isNull() if values[0] is None else column == F.lit(values[0])
        return column.isin(values)
    if op == "!=":
        if len(values) == 1:
            return column.isNotNull() if values[0] is None else column != F.lit(values[0])
        return ~column.isin(values)
    if op in (">", "<", ">=", "<="):
        conds = [
            {">": column > v, "<": column < v,
             ">=": column >= v, "<=": column <= v}[op]
            for v in (F.lit(x) for x in values)
        ]
        out = conds[0]
        for c in conds[1:]:
            out = out & c
        return out
    lo, hi = F.lit(values[0]), F.lit(values[1])
    cond = column.between(lo, hi)
    if op == "open":
        cond = cond & (column != lo) & (column != hi)
    elif op == "leftopen":
        cond = cond & (column != lo)
    elif op == "rightopen":
        cond = cond & (column != hi)
    elif op != "closed":
        raise ValueError(f"invalid operator {op!r}")
    return cond


# --------------------------------------------------------------------------
# Plan builder (dotted attributes -> joins; expressions -> filters)
# --------------------------------------------------------------------------

def _prefix(rel: str, hop_idx: int | None = None) -> str:
    return f"__{rel}__" if hop_idx is None else f"__{rel}__h{hop_idx}__"


class SelectionCompiler:
    """Compiles a selection dict over a base table of a SchemaGraph into a
    DataFrame plan. One instance per query.

    Joined dimension columns are internally prefixed ``__<rel>__<col>`` to
    avoid name collisions (every seismic table has ``id``); the output frame
    is projected back to the base table's columns unless ``keep_joined``.
    """

    def __init__(self, graph: SchemaGraph, dfs: dict[str, DataFrame],
                 base: str):
        self.graph = graph
        self.dfs = dfs
        self.base = base
        self.df = dfs[base]
        self._base_cols = list(self.df.columns)
        # the column prefix of every hop path; a path that is itself a
        # relationship (``channel`` is the first hop of ``station``) lives
        # under that relationship's name, so the two share one join
        rels = graph.table(base).relationships.values()
        self._prefixes = {r.path[:i + 1]: _prefix(r.name, i)
                          for r in rels for i in range(len(r.path) - 1)}
        self._prefixes.update({r.path: _prefix(r.name) for r in rels})
        self._joined: set[tuple] = set()  # hop paths joined so far

    # -- joins --------------------------------------------------------------

    def _ensure_join(self, rel: Relationship) -> None:
        """Inner-join each hop of the relationship path once (reference adds
        each join a single time, sqlevalexpr.py:207-211), also when another
        relationship shares the hop. Dimensions are broadcast."""
        left_prefix = ""  # keys of the first hop live on the base frame
        for i, hop in enumerate(rel.path):
            path = rel.path[:i + 1]
            right_prefix = self._prefixes[path]
            if path in self._joined:
                left_prefix = right_prefix
                continue
            self._joined.add(path)
            dim = self.dfs[hop.table]
            # one positional rename, not one py4j alias per column
            dim = dim.toDF(*[right_prefix + c for c in dim.columns])
            if rel.broadcast:
                dim = F.broadcast(dim)
            cond = None
            for lk, rk in zip(hop.left_keys, hop.right_keys):
                c = F.col(left_prefix + lk) == F.col(right_prefix + rk)
                cond = c if cond is None else (cond & c)
            self.df = self.df.join(dim, cond, "inner")
            left_prefix = right_prefix

    # -- attribute resolution ------------------------------------------------

    def resolve(self, attr: str) -> tuple[Column, type]:
        """Resolve a (possibly dotted) attribute to a Column + literal type,
        adding joins as needed (reference: _get_rel_and_column,
        sqlevalexpr.py:239-252)."""
        base_tbl = self.graph.table(self.base)
        parts = attr.split(".")
        if len(parts) == 1:
            return self._resolve_on(base_tbl, attr, col_prefix="")
        rel_name, rest = parts[0], ".".join(parts[1:])
        if rel_name not in base_tbl.relationships:
            raise KeyError(
                f"{self.base!r} has no relationship {rel_name!r} (attribute {attr!r})")
        rel = base_tbl.relationships[rel_name]
        if "." in rest:
            raise KeyError(f"nested dotted attributes not supported: {attr!r}")
        self._ensure_join(rel)
        target = self.graph.table(rel.target)
        return self._resolve_on(target, rest, col_prefix=_prefix(rel.name))

    def _resolve_on(self, tbl: Table, name: str, col_prefix: str) -> tuple[Column, type]:
        if name in tbl.derived:
            d = tbl.derived[name]
            if d.requires_rels and col_prefix:
                raise KeyError(
                    f"derived column {name!r} needing joins is only usable on "
                    f"the base table")
            for rname in d.requires_rels:
                self._ensure_join(tbl.relationships[rname])
            if getattr(d, "attach", None):
                self.df, col = d.attach(self.df, self.dfs)  # type: ignore[attr-defined]
                return col, d.pytype

            def resolver(col_name: str) -> Column:
                # derived factories reference columns of their own table; a
                # dotted name reaches a relationship joined via requires_rels
                if "." in col_name:
                    r, c = col_name.split(".", 1)
                    return F.col(_prefix(r) + c)
                return F.col(col_prefix + col_name)

            return d.factory(resolver), d.pytype
        if len(tbl.schema) and name not in tbl.schema.fieldNames():
            raise KeyError(f"no column {name!r} on table {tbl.name!r}")
        return F.col(col_prefix + name), tbl.pytype(name)

    # -- public API -----------------------------------------------------------

    def compile(
        self,
        conditions: dict[str, str] | None,
        orderby: list | None = None,
        keep_joined: bool = False,
    ) -> DataFrame:
        predicate: Column | None = None
        if conditions:
            for attr, expression in conditions.items():
                if not expression:  # falsy expressions discarded (ref :204)
                    continue
                col, pytype = self.resolve(attr)
                cond = binexpr(col, pytype, expression)
                predicate = cond if predicate is None else (predicate & cond)
        orders = []
        if orderby:
            for order in orderby:
                if isinstance(order, str):
                    attr, direction = order, "asc"
                else:
                    attr, direction = order
                if direction not in ("asc", "desc"):
                    raise ValueError(f"invalid sort direction {direction!r}")
                col, _ = self.resolve(attr)
                orders.append(col.asc() if direction == "asc" else col.desc())
        df = self.df
        if predicate is not None:
            df = df.filter(predicate)
        if orders:
            df = df.orderBy(*orders)
        if not keep_joined:
            df = df.select(*self._base_cols)
        return df


def exprquery(
    graph: SchemaGraph,
    dfs: dict[str, DataFrame],
    base: str,
    conditions: dict[str, str] | None,
    orderby: list | None = None,
) -> DataFrame:
    """One-shot form of :class:`SelectionCompiler` — the Spark analogue of
    the reference's ``exprquery(sa_query, conditions, orderby)``."""
    return SelectionCompiler(graph, dfs, base).compile(conditions, orderby)
