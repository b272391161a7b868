"""Expression AST for the engine's logical plans.

Mirrors Pig's logical expression plan
(pig:src/org/apache/pig/newplan/logical/expression/ — SURVEY.md §2.2): field
projection ($n / name / dotted deref), literals, arithmetic, comparison,
boolean, regex ``matches``, null tests, bincond/CASE, cast, map lookup,
function calls (builtin or registered UDF), and FLATTEN markers.

Why an AST instead of raw pyspark Columns: the compiler needs to *inspect*
expressions to (a) fuse ``FOREACH (GROUP …) GENERATE group, AGG(bag.f)``
straight into ``groupBy().agg()`` without materializing bags (SURVEY.md §4.3
— the reference's CombinerOptimizer/POPartialAgg role), (b) insert Pig's
implicit try_casts, and (c) apply integer-division and regex-anchoring
semantics. pyspark Columns are opaque; dataclass trees are not.

Python operator overloads are provided so engine users can write
``col("a") + 1`` / ``(col("x") > 2) & col("b").is_null()`` — same surface
style as pyspark itself.

Traversal — the one definition of an expression's children, shared by
every compiler and parser rewrite (Pig's DepthFirstWalker +
LogicalExpressionVisitor role, pig:src/org/apache/pig/newplan/):

- ``children(e)`` yields, in field order, every Expr that one of
  ``e``'s dataclass fields holds: the field value itself, each item of
  a list value, and the Expr items of a tuple in either place. The
  tuples are why one shared rule is needed —
  ``CaseWhen.branches`` holds ``(cond, value)`` pairs and
  ``WindowFunc.order_by`` holds ``(expr, ascending)`` pairs, and a
  walker that only looks at Exprs and lists of Exprs silently skips
  every CASE condition and window ordering. Non-Expr data (names,
  literal values, ``DerefMulti.fields``, a window frame) is never a
  child.
- ``nodes(e)`` iterates the whole tree pre-order, left to right.
- ``transform(e, fn)`` rebuilds the tree pre-order: when ``fn(node)``
  returns an Expr it replaces the node and its subtree is not visited;
  when it returns None the node is rebuilt from its transformed
  children. Rewrites that must stop at a boundary (a ``Lambda`` body,
  say) return the node itself from ``fn``.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass, field, fields, replace
from typing import Any


class Expr:
    """Base expression node."""

    # -- operator sugar ----------------------------------------------------
    def _bin(self, op: str, other: Any, reverse: bool = False) -> "BinOp":
        o = other if isinstance(other, Expr) else Lit(other)
        return BinOp(op, o, self) if reverse else BinOp(op, self, o)

    def __add__(self, o): return self._bin("+", o)
    def __radd__(self, o): return self._bin("+", o, True)
    def __sub__(self, o): return self._bin("-", o)
    def __rsub__(self, o): return self._bin("-", o, True)
    def __mul__(self, o): return self._bin("*", o)
    def __rmul__(self, o): return self._bin("*", o, True)
    def __truediv__(self, o): return self._bin("/", o)
    def __rtruediv__(self, o): return self._bin("/", o, True)
    def __mod__(self, o): return self._bin("%", o)
    def __neg__(self): return UnOp("neg", self)
    def __eq__(self, o): return self._bin("==", o)  # type: ignore[override]
    def __ne__(self, o): return self._bin("!=", o)  # type: ignore[override]
    def __lt__(self, o): return self._bin("<", o)
    def __le__(self, o): return self._bin("<=", o)
    def __gt__(self, o): return self._bin(">", o)
    def __ge__(self, o): return self._bin(">=", o)
    def __and__(self, o): return self._bin("and", o)
    def __rand__(self, o): return self._bin("and", o, True)
    def __or__(self, o): return self._bin("or", o)
    def __ror__(self, o): return self._bin("or", o, True)
    def __invert__(self): return UnOp("not", self)
    # Expr instances are tree nodes; identity-hash keeps them usable in sets.
    __hash__ = object.__hash__

    # -- Pig-flavored helpers ----------------------------------------------
    def is_null(self) -> "UnOp":
        return UnOp("isnull", self)

    def is_not_null(self) -> "UnOp":
        return UnOp("isnotnull", self)

    def matches(self, regex: str) -> "Matches":
        """Pig ``x matches 'regex'`` — FULL-string Java match
        (pig:…/expressionOperators/PORegexp.java): compiled anchored."""
        return Matches(self, regex)

    def isin(self, *values: Any) -> "InList":
        return InList(self, [v if isinstance(v, Expr) else Lit(v) for v in values])

    def cast(self, pig_type: str) -> "Cast":
        """Pig ``(type)x`` — null on failure, never an error (POCast.java)."""
        return Cast(pig_type, self)

    def get(self, name_or_index) -> "Deref":
        """Tuple/bag field deref: ``t.f`` / ``b.f`` / ``$0`` inside a tuple."""
        return Deref(self, name_or_index)

    def lookup(self, key: str) -> "MapLookup":
        """Pig map lookup ``m#'key'``."""
        return MapLookup(self, key)

    def alias(self, name: str) -> "Aliased":
        return Aliased(self, name)


@dataclass(eq=False)
class Col(Expr):
    """Named field of the current relation (or dotted path ``rel.field``)."""
    name: str


@dataclass(eq=False)
class Pos(Expr):
    """Positional field ``$n``."""
    index: int


@dataclass(eq=False)
class Star(Expr):
    """``*`` — every field of the current relation."""


@dataclass(eq=False)
class RangeProj(Expr):
    """Column-range projection ``a .. c`` / ``$0 .. $3`` / ``.. b`` / ``a ..``
    (Pig 0.9+ "project-range"; expands positionally against the input schema
    at compile time). ``start``/``end`` are a column name (str), a position
    (int), or None for an open end; both bounds inclusive."""
    start: str | int | None
    end: str | int | None


@dataclass(eq=False)
class Lit(Expr):
    value: Any


@dataclass(eq=False)
class BinOp(Expr):
    op: str  # + - * / % == != < <= > >= and or
    left: Expr
    right: Expr


@dataclass(eq=False)
class UnOp(Expr):
    op: str  # neg not isnull isnotnull
    child: Expr


@dataclass(eq=False)
class Matches(Expr):
    child: Expr
    regex: str


@dataclass(eq=False)
class InList(Expr):
    child: Expr
    values: list[Expr]


@dataclass(eq=False)
class Cast(Expr):
    """Pig cast: failure -> null + warning, not error (SURVEY.md §1.3)."""
    pig_type: str  # int long float double chararray bytearray boolean datetime
    child: Expr


@dataclass(eq=False)
class BinCond(Expr):
    """``cond ? iftrue : iffalse`` (POBinCond.java)."""
    cond: Expr
    iftrue: Expr
    iffalse: Expr


@dataclass(eq=False)
class CaseWhen(Expr):
    """``CASE WHEN c THEN v … [ELSE e] END`` (Pig ≥0.12 sugar)."""
    branches: list[tuple[Expr, Expr]]
    otherwise: Expr | None = None


@dataclass(eq=False)
class MapLookup(Expr):
    child: Expr
    key: str


@dataclass(eq=False)
class Deref(Expr):
    """``tuple.field`` or ``bag.field`` (bag deref projects each tuple)."""
    child: Expr
    field: Any  # str name or int position


@dataclass(eq=False)
class DerefMulti(Expr):
    """``tuple.(f1, f2)`` / ``bag.(f1, f2)`` — multi-field projection: on a
    tuple yields a sub-tuple, on a bag yields a bag of n-field tuples
    (Pig's parenthesized projection list)."""
    child: Expr
    fields: list  # str names and/or int positions


@dataclass(eq=False)
class Func(Expr):
    """Builtin or registered-UDF call by Pig name, e.g. SUM, CONCAT, TOKENIZE.

    The compiler resolves the name against the builtin translation table
    (spork_spark.functions) and falls back to the session UDF registry.
    """
    name: str
    args: list[Expr] = field(default_factory=list)


@dataclass(eq=False)
class Flatten(Expr):
    """FLATTEN(bag|tuple|map) marker — only valid as a FOREACH generator.

    Pig semantics: bag flatten is a cross-product with the enclosing row and
    an EMPTY/NULL BAG DROPS THE ROW (→ explode, not explode_outer);
    tuple flatten inlines fields; map flatten emits key/value rows.
    """
    child: Expr


@dataclass(eq=False)
class Aliased(Expr):
    """Expression with an output name (``AS name``)."""
    child: Expr
    name: str


@dataclass(eq=False)
class LambdaVar(Expr):
    """Bound variable inside a bag higher-order function (the tuple t in
    FILTER_BAG(bag, t -> t.f > 0)). Compiles against the enclosing
    lambda's binding, not the relation's columns."""
    name: str


@dataclass(eq=False)
class Lambda(Expr):
    """Lambda for bag HOFs — the compiled form of a nested-FOREACH inner
    pipeline step (SURVEY.md §2.3 mapping #1: inner FILTER/ORDER/LIMIT/
    DISTINCT/FOREACH become filter/array_sort/slice/array_distinct/
    transform over the bag)."""
    params: list[str]
    body: Expr


@dataclass(eq=False)
class WindowFunc(Expr):
    """Analytic function over a window — extension surface (SURVEY.md §2.6).

    The reference has no window functions beyond RANK-as-operator; these are
    the idiomatic Spark equivalents of Pig's nested-FOREACH patterns.
    """
    name: str                      # rank dense_rank row_number lead lag ntile…
    args: list[Expr]
    partition_by: list[Expr]
    order_by: list[tuple[Expr, bool]]  # (expr, ascending)
    # optional frame: ("rows" | "range", start, end); start/end are ints
    # (negative = preceding) or None for unbounded
    frame: tuple | None = None


# -- traversal ---------------------------------------------------------------

def children(e: Expr) -> Iterator[Expr]:
    """Direct Expr children of ``e`` (the rule is in the module
    docstring)."""
    for f in fields(e):
        v = getattr(e, f.name)
        for slot in (v if isinstance(v, list) else (v,)):
            if isinstance(slot, Expr):
                yield slot
            elif isinstance(slot, tuple):
                yield from (x for x in slot if isinstance(x, Expr))


def nodes(e: Expr) -> Iterator[Expr]:
    """Every node of the tree rooted at ``e``, pre-order."""
    stack = [e]
    while stack:
        n = stack.pop()
        yield n
        stack.extend(reversed(list(children(n))))


def transform(e: Expr, fn: Callable[[Expr], Expr | None]) -> Expr:
    """Rebuild ``e`` pre-order: ``fn``'s replacement is used as is (its
    subtree is not visited); None rebuilds the node from its
    transformed children."""
    r = fn(e)
    if r is not None:
        return r

    def slot(x):
        if isinstance(x, Expr):
            return transform(x, fn)
        if isinstance(x, tuple):
            return tuple(transform(y, fn) if isinstance(y, Expr) else y
                         for y in x)
        return x

    new = {}
    for f in fields(e):
        v = getattr(e, f.name)
        new[f.name] = [slot(x) for x in v] if isinstance(v, list) \
            else slot(v)
    return replace(e, **new)


# -- public constructors ----------------------------------------------------

def col(name: str) -> Col:
    return Col(name)


def pos(index: int) -> Pos:
    return Pos(index)


def lit(value: Any) -> Lit:
    return Lit(value)


def star() -> Star:
    return Star()


def fn(name: str, *args) -> Func:
    return Func(name.upper(), [a if isinstance(a, Expr) else Lit(a) for a in args])


def flatten(e: Expr) -> Flatten:
    return Flatten(e)


def bincond(cond: Expr, iftrue, iffalse) -> BinCond:
    t = iftrue if isinstance(iftrue, Expr) else Lit(iftrue)
    f = iffalse if isinstance(iffalse, Expr) else Lit(iffalse)
    return BinCond(cond, t, f)


def lam(fn_or_body, *params: str) -> Lambda:
    """Build a bag-HOF lambda: ``lam(lambda t: t.get('x') > 1)`` or
    ``lam(body_expr, 't')``."""
    if callable(fn_or_body) and not isinstance(fn_or_body, Expr):
        import inspect
        names = list(inspect.signature(fn_or_body).parameters)
        body = fn_or_body(*[LambdaVar(n) for n in names])
        return Lambda(names, body)
    return Lambda(list(params) or ["t"], fn_or_body)
