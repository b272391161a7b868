"""Expression compiler: Expr AST → pyspark Column.

Implements the Pig-vs-Spark semantic divergences at compile time
(SURVEY.md §1.3–1.4, §2.2):

- integer `/` is Java integer division (truncate toward zero), not Spark's
  double `/`;
- `matches` is a FULL-string Java match → rlike anchored `^(?:re)$`;
- casts are null-on-failure (session runs ANSI-off, so plain cast has
  exactly Pig's POCast semantics);
- `x / 0` → null (Spark non-ANSI behavior, same as Pig's
  null-with-warning).

Type-dependent compilation (integer division, SIZE, bag vs tuple deref)
resolves types through the DataFrame's analyzed schema — a driver-side
metadata operation, no job.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.column import Column
from pyspark.sql.window import Window

from ..functions.builtins import (ALGEBRAIC_AGGS, BAG_HOFS, REGISTRY,
                                  TYPED_REGISTRY)
from ..plans import expressions as E

# Pig scalar type name → Spark type (SURVEY.md §1.2)
PIG_TO_SPARK_TYPE = {
    "int": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "chararray": "string",
    "bytearray": "binary",
    "boolean": "boolean",
    "datetime": "timestamp",
    "biginteger": "decimal(38,0)",
    "bigdecimal": "decimal(38,18)",
}

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)

# Func args that must stay Python literals (regex/format/duration strings,
# literal ints) — see spork_spark.functions.builtins._lit_str.
WANTS_LITERALS: dict[str, set[int]] = {
    "REPLACE": {1, 2},
    "REGEX_EXTRACT": {1, 2},
    "REGEX_EXTRACT_ALL": {1},
    "STRSPLIT": {1, 2},
    "STRSPLITTOBAG": {1, 2},
    "SPRINTF": {0},
    "ROUND_TO": {1},
    "TODATE": {1, 2},
    "TOSTRING_DT": {1},
    "TOSTRING": {1},      # 2-arg datetime form ToString(dt, 'fmt')
    "ADDDURATION": {1},
    "SUBTRACTDURATION": {1},
    "BAGTOSTRING": {1},
    "GET_JSON_OBJECT": {1},
    "JSON_TUPLE": {1, 2, 3, 4, 5, 6, 7, 8},
}


class ExprCompiler:
    """Compiles Expr trees against a specific input DataFrame (the current
    relation), with access to the engine's UDF registry."""

    def __init__(self, df: DataFrame, udfs: dict[str, Any] | None = None,
                 udafs: dict[str, Any] | None = None,
                 probes: list | None = None):
        self.df = df
        self.udfs = udfs or {}
        self.udafs = udafs or {}
        self._schema: T.StructType | None = None   # lazy, one RPC
        self._lambda_env: dict[str, Column] = {}   # bag-HOF variable bindings
        # cast-failure warning probes (spork_spark.warnings): when not
        # None, _c_cast appends (label, discarded-row condition) for the
        # plan compiler to attach as observe metrics. None = disabled.
        self.probes = probes
        # PERCENTILE fusion map (plan.PlanCompiler._percentile_fusion_map):
        # repr(child) → sorted percentage list. Set only on the fused
        # GROUP+FOREACH aggregate context; None everywhere else.
        self.pctl_multi: dict | None = None

    # -- type resolution ------------------------------------------------------
    @property
    def schema(self) -> T.StructType:
        if self._schema is None:
            self._schema = self.df.schema
        return self._schema

    def dtype(self, col: Column) -> T.DataType:
        """Resolve a compiled Column's type via analysis (RPC) — fallback
        when Python-side inference (below) can't answer."""
        return self.df.select(col).schema[0].dataType

    def infer(self, e: E.Expr) -> T.DataType | None:
        """Python-side type inference over the AST — avoids a py4j
        analysis round trip per division/deref/SIZE during plan build.
        Returns None when unsure (caller falls back to dtype())."""
        if isinstance(e, E.Aliased):
            return self.infer(e.child)
        if isinstance(e, E.Col):
            return self._schema_path(e.name)
        if isinstance(e, E.Pos):
            fields = self.schema.fields
            return fields[e.index].dataType if e.index < len(fields) else None
        if isinstance(e, E.Lit):
            v = e.value
            if isinstance(v, bool):
                return T.BooleanType()
            if isinstance(v, int):
                return T.IntegerType() if -2**31 <= v < 2**31 else T.LongType()
            if isinstance(v, float):
                return T.DoubleType()
            if isinstance(v, str):
                return T.StringType()
            return None
        if isinstance(e, E.Cast):
            ddl = PIG_TO_SPARK_TYPE.get(e.pig_type, e.pig_type)
            try:
                return T._parse_datatype_string(ddl)
            except Exception:
                return None
        if isinstance(e, E.Deref):
            ct = self.infer(e.child)
            if isinstance(ct, T.StructType):
                try:
                    return (ct.fields[e.field] if isinstance(e.field, int)
                            else ct[e.field]).dataType
                except (KeyError, IndexError):
                    return None
            if isinstance(ct, T.ArrayType) and \
                    isinstance(ct.elementType, T.StructType):
                try:
                    f = (ct.elementType.fields[e.field]
                         if isinstance(e.field, int)
                         else ct.elementType[e.field])
                    return T.ArrayType(T.StructType([f]))
                except (KeyError, IndexError):
                    return None
            return None
        if isinstance(e, E.BinOp):
            if e.op in ("==", "!=", "<", "<=", ">", ">=", "and", "or"):
                return T.BooleanType()
            lt, rt = self.infer(e.left), self.infer(e.right)
            if lt is None or rt is None:
                return None
            if e.op == "/":
                if isinstance(lt, _INTEGRAL) and isinstance(rt, _INTEGRAL):
                    return T.LongType() if T.LongType() in (lt, rt) \
                        else T.IntegerType()
                return T.DoubleType()
            # + - * %: numeric promotion
            order = [T.DoubleType(), T.FloatType(), T.LongType(),
                     T.IntegerType(), T.ShortType(), T.ByteType()]
            for t in order:
                if lt == t or rt == t:
                    return t
            return None
        if isinstance(e, E.Func):
            # type-preserving bag HOFs (inner FILTER/ORDER/LIMIT/DISTINCT)
            name = e.name.upper()
            if name in ("FILTER_BAG", "SORT_BAG", "LIMIT_BAG",
                        "DISTINCT_BAG"):
                return self.infer(e.args[0])
            if name == "TOP" and len(e.args) == 3:
                return self.infer(e.args[2])
            if name in ("TRANSFORM_BAG", "FOREACH_BAG"):
                # array-ness is known; element type needs analysis
                return T.ArrayType(T.NullType())
            if name == "CROSS_BAG":
                lt, rt = self.infer(e.args[0]), self.infer(e.args[1])
                if (isinstance(lt, T.ArrayType) and isinstance(rt, T.ArrayType)
                        and isinstance(lt.elementType, T.StructType)
                        and isinstance(rt.elementType, T.StructType)):
                    an = e.args[2].value if len(e.args) > 2 else "l"
                    bn = e.args[3].value if len(e.args) > 3 else "r"
                    fa, fb = lt.elementType.fields, rt.elementType.fields
                    na = {f.name for f in fa}
                    nb = {f.name for f in fb}
                    merged = (
                        [T.StructField(f.name if f.name not in nb
                                       else f"{an}::{f.name}", f.dataType)
                         for f in fa] +
                        [T.StructField(f.name if f.name not in na
                                       else f"{bn}::{f.name}", f.dataType)
                         for f in fb])
                    return T.ArrayType(T.StructType(merged))
                return T.ArrayType(T.NullType())
            return None
        return None   # WindowFunc/etc. → RPC fallback

    def _schema_path(self, name: str) -> T.DataType | None:
        cur: T.DataType = self.schema
        for part in name.split("."):
            if not isinstance(cur, T.StructType):
                return None
            try:
                cur = cur[part].dataType
            except KeyError:
                return None
        return cur

    def _type_of(self, e: E.Expr, compiled: Column) -> T.DataType:
        t = self.infer(e)
        return t if t is not None else self.dtype(compiled)

    def compile(self, e: E.Expr) -> Column:
        m = getattr(self, f"_c_{type(e).__name__.lower()}", None)
        if m is None:
            raise NotImplementedError(f"cannot compile {type(e).__name__}")
        return m(e)

    # -- leaves --------------------------------------------------------------
    def _c_col(self, e: E.Col) -> Column:
        """Pig name resolution: a join/cogroup output qualifies colliding
        fields as ``alias::field``. A qualified reference to a field that
        stayed bare resolves to the bare name; a bare reference to a field
        that got qualified resolves when unambiguous (Pig errors on
        ambiguity — so do we, via Spark's unresolved-column error)."""
        name = e.name
        try:
            cols = self.df.columns
        except Exception:
            return F.col(name)
        if name in cols:
            return F.col(name)
        if "::" in name:
            bare = name.split("::")[-1]
            if bare in cols and not any(c.endswith(f"::{bare}")
                                        for c in cols):
                return F.col(bare)
        else:
            matches = [c for c in cols if c.endswith(f"::{name}")]
            if len(matches) == 1:
                return F.col(matches[0])
        return F.col(name)

    def _c_pos(self, e: E.Pos) -> Column:
        cols = self.df.columns
        if e.index >= len(cols):
            # Pig's "Out of bound access" (pig:…/newplan/logical/
            # expression/ProjectExpression setColumnNumberFromAlias)
            raise ValueError(
                f"Out of bound access: ${e.index} on a {len(cols)}-column "
                f"schema {cols}")
        return F.col(cols[e.index])

    def _c_star(self, e: E.Star) -> Column:
        return F.col("*")

    def _c_lit(self, e: E.Lit) -> Column:
        return F.lit(e.value)

    # -- operators -------------------------------------------------------------
    def _c_binop(self, e: E.BinOp) -> Column:
        l, r = self.compile(e.left), self.compile(e.right)
        op = e.op
        if op == "+": return l + r
        if op == "-": return l - r
        if op == "*": return l * r
        if op == "%": return l % r   # Java % keeps dividend sign = Spark %
        if op == "/":
            lt = self._type_of(e.left, l)
            rt = self._type_of(e.right, r)
            if isinstance(lt, _INTEGRAL) and isinstance(rt, _INTEGRAL):
                # Pig int/int = Java integer division (truncate toward 0);
                # x/0 → null. double-div + cast(long) truncates toward zero
                # in non-ANSI Spark; result type follows Pig promotion.
                out = "bigint" if isinstance(lt, T.LongType) or \
                    isinstance(rt, T.LongType) else "int"
                return (l.cast("double") / r).cast(out)
            return l / r
        if op == "==": return l == r
        if op == "!=": return l != r
        if op == "<": return l < r
        if op == "<=": return l <= r
        if op == ">": return l > r
        if op == ">=": return l >= r
        if op == "and": return l & r
        if op == "or": return l | r
        raise NotImplementedError(f"binop {op}")

    def _c_unop(self, e: E.UnOp) -> Column:
        c = self.compile(e.child)
        if e.op == "neg": return -c
        if e.op == "not": return ~c
        if e.op == "isnull": return c.isNull()
        if e.op == "isnotnull": return c.isNotNull()
        raise NotImplementedError(f"unop {e.op}")

    def _c_matches(self, e: E.Matches) -> Column:
        # PORegexp: Java String.matches = full-string → anchor.
        return self.compile(e.child).rlike(f"^(?:{e.regex})$")

    def _c_inlist(self, e: E.InList) -> Column:
        vals = [v.value if isinstance(v, E.Lit) else self.compile(v)
                for v in e.values]
        return self.compile(e.child).isin(*vals)

    def _c_cast(self, e: E.Cast) -> Column:
        spark_t = PIG_TO_SPARK_TYPE.get(e.pig_type, e.pig_type)
        # ANSI is off in the engine session → cast is null-on-failure,
        # exactly POCast semantics.
        child = self.compile(e.child)
        out = child.cast(spark_t)
        if self.probes is not None and self._probe_safe(e.child):
            # POCast warn(): a non-null input discarded to null counts
            # into FIELD_DISCARDED_TYPE_CONVERSION_FAILED (PigWarning
            # aggregation; spork_spark/warnings.py).
            src = e.child.name if isinstance(e.child, E.Col) else "expr"
            while src.startswith("__post_"):   # key-collision temp alias
                src = src[len("__post_"):]
            self.probes.append(
                (f"{src} -> {e.pig_type}", child.isNotNull() & out.isNull()))
        return out

    # Builtins whose value differs per evaluation: the observe metric
    # re-evaluates the cast child (child.isNotNull() & out.isNull()), so
    # probing them would (a) miscount against the projected value and
    # (b) re-run a Python UDF per row. Such casts stay silently
    # null-on-failure — a documented subset of POCast's warn() coverage.
    _NONDET_BUILTINS = frozenset({"RANDOM", "UNIQUEID"})

    def _probe_safe(self, e: E.Expr) -> bool:
        """True when the cast child is deterministic and JVM-side —
        plain columns, literals, and deterministic builtin trees.
        Children containing an AGGREGATE are excluded too: the probe is
        itself an observe aggregate, and nesting aggregates in observed
        metrics is illegal (casts over fused aggregates are instead
        peeled and probed post-agg — compiler/plan.py
        _try_fuse_group_agg)."""
        return not any(
            isinstance(n, E.Func) and (
                n.name.upper() in self._NONDET_BUILTINS
                or n.name.upper() in self.udfs
                or n.name.upper() in ALGEBRAIC_AGGS
                or n.name.upper() in self.udafs)
            for n in E.nodes(e))

    def _c_bincond(self, e: E.BinCond) -> Column:
        return F.when(self.compile(e.cond), self.compile(e.iftrue)) \
                .otherwise(self.compile(e.iffalse))

    def _c_casewhen(self, e: E.CaseWhen) -> Column:
        out = None
        for cond, val in e.branches:
            c, v = self.compile(cond), self.compile(val)
            out = F.when(c, v) if out is None else out.when(c, v)
        if e.otherwise is not None:
            out = out.otherwise(self.compile(e.otherwise))
        return out

    def _c_maplookup(self, e: E.MapLookup) -> Column:
        return self.compile(e.child).getItem(e.key)

    def _c_deref(self, e: E.Deref) -> Column:
        child = self.compile(e.child)
        if self._contains_lambda_var(e.child):
            # inside a bag HOF: the element is a struct; no schema to
            # resolve against — getField/getItem directly
            return child[e.field]
        dt = self._type_of(e.child, child)
        if isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.StructType):
            # bag.field → bag of 1-field tuples (Pig bag projection)
            name = self._field_name(dt.elementType, e.field)
            return F.transform(child, lambda t: F.struct(t[name].alias(name)))
        if isinstance(dt, T.StructType):
            return child.getField(self._field_name(dt, e.field))
        # fall through: positional/name access on maps or via getItem
        return child.getItem(e.field)

    def _c_derefmulti(self, e: E.DerefMulti) -> Column:
        """tuple.(f1,f2) → sub-struct; bag.(f1,f2) → bag of n-field tuples
        (Pig parenthesized projection; stays a codegen'd HOF, no shuffle)."""
        child = self.compile(e.child)
        if self._contains_lambda_var(e.child):
            return F.struct(*[child[f] for f in e.fields])
        dt = self._type_of(e.child, child)
        if isinstance(dt, T.ArrayType) and isinstance(dt.elementType,
                                                      T.StructType):
            st = dt.elementType
            names = [self._field_name(st, f) for f in e.fields]
            return F.transform(
                child, lambda t: F.struct(*[t[n].alias(n) for n in names]))
        if isinstance(dt, T.StructType):
            names = [self._field_name(dt, f) for f in e.fields]
            return F.struct(*[child.getField(n).alias(n) for n in names])
        raise ValueError("multi-field projection .(…) requires a tuple or "
                         f"bag input, got {dt}")

    @staticmethod
    def _field_name(st: T.StructType, f: Any) -> str:
        if not isinstance(f, int):
            return f
        if f >= len(st.fields):
            raise ValueError(
                f"Out of bound access: ${f} on a {len(st.fields)}-field "
                f"tuple {st.fieldNames()}")
        return st.fields[f].name

    def _c_aliased(self, e: E.Aliased) -> Column:
        return self.compile(e.child).alias(e.name)

    def _c_flatten(self, e: E.Flatten) -> Column:
        raise ValueError("FLATTEN is only valid as a FOREACH generator; "
                         "the plan compiler handles it")

    # -- function calls ------------------------------------------------------
    def _compile_args(self, name: str, args: list[E.Expr]) -> list:
        lit_pos = WANTS_LITERALS.get(name, set())
        out = []
        for i, a in enumerate(args):
            if i in lit_pos:
                if not isinstance(a, E.Lit):
                    raise ValueError(
                        f"{name} argument {i} must be a literal (as in Pig, "
                        "where it is a constructor argument)")
                out.append(a.value)
            else:
                out.append(self.compile(a))
        return out

    # -- lambdas & bag higher-order functions (nested FOREACH, §2.3) --------
    def _c_lambdavar(self, e: E.LambdaVar) -> Column:
        if e.name not in self._lambda_env:
            raise NameError(f"lambda variable {e.name!r} unbound")
        return self._lambda_env[e.name]

    def _contains_lambda_var(self, e: E.Expr) -> bool:
        """FREE lambda variables only — vars inside a nested Lambda are
        bound there and don't make the enclosing expression lambda-rooted."""
        if isinstance(e, E.LambdaVar):
            return True
        if isinstance(e, E.Lambda):
            return False
        return any(self._contains_lambda_var(c) for c in E.children(e))

    @staticmethod
    def _mentions_bag_hof(e: E.Expr) -> bool:
        return any(isinstance(n, E.Func) and n.name.upper() in BAG_HOFS
                   for n in E.nodes(e))

    def _as_pyfunc(self, lam: E.Lambda):
        """Compile a Lambda into a Python callable over pyspark Columns,
        as expected by F.filter/F.transform/F.array_sort."""
        def fn(*cols: Column) -> Column:
            saved = dict(self._lambda_env)
            try:
                for p, c in zip(lam.params, cols):
                    self._lambda_env[p] = c
                return self.compile(lam.body)
            finally:
                self._lambda_env = saved
        # arity matters to pyspark's HOF wrapper: expose exact param count
        if len(lam.params) == 1:
            return lambda a: fn(a)
        if len(lam.params) == 2:
            return lambda a, b: fn(a, b)
        return fn

    # Bag HOFs: the compilation targets of Pig's nested-FOREACH inner ops.
    def _bag_hofs(self, name: str, e: E.Func) -> Column | None:
        def bag():
            return self.compile(e.args[0])

        if name == "FILTER_BAG":          # inner FILTER
            return F.filter(bag(), self._as_pyfunc(e.args[1]))
        if name in ("TRANSFORM_BAG", "FOREACH_BAG"):   # inner FOREACH
            return F.transform(bag(), self._as_pyfunc(e.args[1]))
        if name == "SORT_BAG":            # inner ORDER BY f [ASC|DESC], …
            spec = e.args[1].value
            keys = [(spec, e.args[2].value if len(e.args) > 2 else True)] \
                if isinstance(spec, str) else list(spec)

            def cmp(a, b):
                # lexicographic multi-key compare, Pig null ordering
                # (nulls smaller than any value)
                out = F.lit(0)
                for field, asc in reversed(keys):
                    k_a, k_b = a[field], b[field]
                    lt, gt = (-1, 1) if asc else (1, -1)
                    c = (F.when(k_a.isNull() & k_b.isNull(), 0)
                          .when(k_a.isNull(), lt)
                          .when(k_b.isNull(), gt)
                          .when(k_a < k_b, lt)
                          .when(k_a > k_b, gt)
                          .otherwise(0))
                    out = F.when(c != 0, c).otherwise(out)
                return out
            return F.array_sort(bag(), cmp)
        if name == "LIMIT_BAG":           # inner LIMIT
            return F.slice(bag(), 1, e.args[1].value)
        if name == "DISTINCT_BAG":        # inner DISTINCT
            return F.array_distinct(bag())
        if name == "CROSS_BAG":
            # Inner CROSS (Pig 0.13+, SURVEY.md §2.3): per-group cartesian
            # product of two inner bags — a bag of concatenated tuples.
            # Compiled as nested transform + flatten: stays a whole-stage-
            # codegen'd array expression, no shuffle, no UDF. Colliding
            # field names get Pig's alias::field disambiguation.
            a, b = self.compile(e.args[0]), self.compile(e.args[1])
            an = e.args[2].value if len(e.args) > 2 else "l"
            bn = e.args[3].value if len(e.args) > 3 else "r"
            at = self._type_of(e.args[0], a)
            bt = self._type_of(e.args[1], b)
            if not isinstance(getattr(at, "elementType", None), T.StructType):
                at = self.dtype(a)         # TRANSFORM_BAG input: analyze
            if not isinstance(getattr(bt, "elementType", None), T.StructType):
                bt = self.dtype(b)
            af = [f.name for f in at.elementType.fields]
            bf = [f.name for f in bt.elementType.fields]
            names_a = [f if f not in bf else f"{an}::{f}" for f in af]
            names_b = [f if f not in af else f"{bn}::{f}" for f in bf]

            def pair(x: Column, y: Column) -> Column:
                return F.struct(
                    *([x[f].alias(nm) for f, nm in zip(af, names_a)] +
                      [y[f].alias(nm) for f, nm in zip(bf, names_b)]))

            return F.flatten(
                F.transform(a, lambda x: F.transform(b, lambda y: pair(x, y))))
        if name == "TOP":                 # TOP(n, field, bag) builtin
            n, field = e.args[0].value, e.args[1].value
            b = self.compile(e.args[2])
            if isinstance(field, int):
                dt = self._type_of(e.args[2], b)
                field = dt.elementType.fields[field].name
            def cmp_desc(a, x):
                # desc; Pig nulls smallest → sort last
                return (F.when(a[field].isNull() & x[field].isNull(), 0)
                         .when(a[field].isNull(), 1)
                         .when(x[field].isNull(), -1)
                         .when(a[field] > x[field], -1)
                         .when(a[field] < x[field], 1).otherwise(0))
            return F.slice(F.array_sort(b, cmp_desc), 1, n)
        return None

    def _bag_mode_agg(self, name: str, e: E.Func) -> Column | None:
        """Pig aggregates are EvalFuncs over BAGS. Outside a fused groupBy
        (i.e. the bag is a materialized array column), compile them as
        array expressions: COUNT=non-null first field, COUNT_DISTINCT=
        distinct non-null first field, SUM/AVG fold, MIN/MAX array
        extrema; empty bag → null (Pig)."""
        if not e.args:
            return None
        arg = e.args[0]
        at = self.infer(arg)
        c = None
        if at is None and self._mentions_bag_hof(arg):
            # e.g. SUM(p.f) where p is a TRANSFORM_BAG/CROSS_BAG result:
            # the element type needs one analysis round trip
            c = self.compile(arg)
            at = self.dtype(c)
        if not isinstance(at, T.ArrayType):
            return None
        if c is None:
            c = self.compile(arg)
        if isinstance(at.elementType, T.NullType):   # TRANSFORM_BAG result
            at = self.dtype(c)
        elem = at.elementType
        if isinstance(elem, T.StructType):
            f0 = elem.fields[0].name
            vals = F.transform(c, lambda t: t[f0])
        else:
            vals = c
        nn = F.filter(vals, lambda v: v.isNotNull())
        if name == "COUNT":
            return F.size(nn).cast("long")
        if name == "COUNT_STAR":
            return F.size(c).cast("long")
        if name == "COUNT_DISTINCT":
            return F.size(F.array_distinct(nn)).cast("long")
        vt = elem.fields[0].dataType if isinstance(elem, T.StructType) \
            else elem
        if isinstance(vt, T.DecimalType) and vt.scale <= 37:
            # decimal bags fold in decimal: EXACT, order-independent
            # addition (a double fold would reintroduce the
            # summation-order nondeterminism decimals exist to avoid).
            # Fold at precision 37: (37,s)+(37,s) → (38,s) with NO
            # precision-loss scale shave (38+38 would round to scale-1
            # at every step, making the fold order-dependent again);
            # the widening element cast is lossless for p ≤ 37, and the
            # fold stays exact while |sum| < 10^(37-s). Values past that
            # boundary NULL the sum — the same null-on-overflow contract
            # as Spark's native decimal SUM aggregate under ANSI-off.
            # Precision-38 inputs (e.g. Pig bigdecimal → (38,18))
            # still fold exactly as long as every VALUE fits 37 digits
            # — the overwhelmingly common case; a value that actually
            # needs 38 significant digits overflows the accumulator
            # cast and nulls the sum EARLIER than native decimal SUM
            # would (documented contract, pinned by
            # test_decimal38_precision_boundary). The alternative — a
            # (38,s) accumulator — shaves scale at every step and makes
            # the fold order-dependent, which is worse. Only scale=38
            # (decimal(38,38) cannot form a valid (37,38) accumulator)
            # falls through to the double fold.
            acc_t = T.DecimalType(37, vt.scale).simpleString()
            zero = F.lit(0).cast(acc_t)
            s = F.aggregate(
                nn, zero,
                lambda acc, v: (acc + v.cast(acc_t)).cast(acc_t))
        else:
            s = F.aggregate(nn, F.lit(0.0),
                            lambda acc, v: acc + v.cast("double"))
        n = F.size(nn)
        nonempty = n > 0
        if name == "SUM":
            long_in = isinstance(elem, T.StructType) and isinstance(
                elem.fields[0].dataType, _INTEGRAL)
            out = F.when(nonempty, s)
            return out.cast("long") if long_in else out
        if name == "AVG":
            return F.when(nonempty, s / n)
        if name == "MIN":
            return F.array_min(nn)
        if name == "MAX":
            return F.array_max(nn)
        return None

    def _c_func(self, e: E.Func) -> Column:
        name = e.name.upper()
        hof = self._bag_hofs(name, e)
        if hof is not None:
            return hof
        if name in ("COUNT", "COUNT_STAR", "COUNT_DISTINCT", "SUM", "AVG",
                    "MIN", "MAX"):
            bagged = self._bag_mode_agg(name, e)
            if bagged is not None:
                return bagged
        if name == "PERCENTILE" and self.pctl_multi is not None \
                and len(e.args) == 2 and isinstance(e.args[1], E.Lit) \
                and isinstance(e.args[1].value, (int, float)) \
                and not isinstance(e.args[1].value, bool):
            ps = self.pctl_multi.get(repr(e.args[0]))
            v = float(e.args[1].value)
            if ps is not None and v in ps:
                # one percentile(c, array(ps)) buffer shared by every
                # percentage of this column — identical aggregate
                # expressions dedup in Catalyst; values equal the
                # scalar form's (same sorted buffer, same
                # interpolation)
                c = self.compile(e.args[0])
                arr = F.array(*[F.lit(float(p)) for p in ps])
                return F.element_at(F.percentile(c, arr),
                                    ps.index(v) + 1)
        if name in TYPED_REGISTRY:
            # literal-position args (fmt/tz strings) stay python strings
            cols = self._compile_args(name, e.args)
            dtypes = [self._type_of(a, c) if isinstance(c, Column) else None
                      for a, c in zip(e.args, cols)]
            return TYPED_REGISTRY[name](dtypes, *cols)
        if name in REGISTRY:
            return REGISTRY[name](*self._compile_args(name, e.args))
        if name in self.udafs:
            # grouped-agg pandas UDF — valid inside the fused
            # groupBy().agg() path (register_udaf contract)
            return self.udafs[name](*[self.compile(a) for a in e.args])
        if name in self.udfs:
            return self.udfs[name](*[self.compile(a) for a in e.args])
        raise NameError(f"unknown function {name!r} (not a builtin, not "
                        "registered via engine.register_udf)")

    def _c_windowfunc(self, e: E.WindowFunc) -> Column:
        w = Window.partitionBy(*[self.compile(p) for p in e.partition_by])
        order = [self.compile(k).asc_nulls_first() if asc
                 else self.compile(k).desc_nulls_last()
                 for k, asc in e.order_by]
        if order:
            w = w.orderBy(*order)
        if getattr(e, "frame", None):
            mode, start, end = e.frame
            lo = Window.unboundedPreceding if start is None else start
            hi = Window.unboundedFollowing if end is None else end
            w = w.rowsBetween(lo, hi) if mode == "rows" \
                else w.rangeBetween(lo, hi)
        fn = getattr(F, e.name)
        # ntile(n) / lag(c, offset) take plain Python ints, not Columns
        args = [a.value if isinstance(a, E.Lit) else self.compile(a)
                for a in e.args]
        return fn(*args).over(w)
