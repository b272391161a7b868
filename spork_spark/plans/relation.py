"""Relation: the engine's fluent builder API over logical plans.

Mirrors the embedded-PigServer entry point (SURVEY.md §3.2): each method is
one Pig Latin statement; nothing executes until an action (`df`, `collect`,
`dump`, `store`). The Pig Latin parser (M6) lowers script text onto exactly
this API, so the builder is also the parser's target.

    eng = Engine(spark)
    li = eng.load("/data/lineitem.parquet")
    r = (li.filter(col("l_shipdate") <= lit("1998-09-02"))
           .group_by(col("l_returnflag"), col("l_linestatus"))
           .foreach(col("group"), fn("SUM", col("bag").get("l_quantity"))
                    .alias("sum_qty")))
    r.df().show()
"""

from __future__ import annotations

import itertools
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from ..compiler.plan import PlanCompiler
from ..session import get_spark
from . import logical as L
from .expressions import Expr, col, lit

_rel_ids = itertools.count()


class Engine:
    """Session-scoped engine: owns the SparkSession, the UDF registry
    (DEFINE/REGISTER, SURVEY.md §2.1 #27–28) and plan compilation cache."""

    def __init__(self, spark: SparkSession | None = None):
        from ..warnings import CastWarningCollector
        self.spark = spark or get_spark()
        self.udfs: dict[str, Any] = {}
        self.udafs: dict[str, Any] = {}
        self.partitioners: dict[str, Any] = {}
        # Pig's aggregated cast-failure counters (SURVEY.md §1.3);
        # active only under spark.spork.warnings.enabled=true
        self.warnings = CastWarningCollector()
        self._compiler = PlanCompiler(self.spark, self.udfs, self.udafs,
                                      self.partitioners,
                                      warnings=self.warnings)

    # -- sources -----------------------------------------------------------
    def load(self, path: str, fmt: str = "parquet", schema=None,
             alias: str | None = None, **options) -> "Relation":
        return self._rel(L.Load(path, fmt, schema, options), alias)

    def from_df(self, df: DataFrame, alias: str | None = None) -> "Relation":
        return self._rel(L.InMemory(df), alias)

    def register_udf(self, name: str, func: Callable,
                     returns: str | None = None,
                     vectorized: bool = False) -> None:
        """REGISTER/DEFINE a Python UDF (SURVEY.md §2.10). ``returns`` is a
        Spark DDL type — or omitted when the function carries Pig's
        @output_schema annotation; vectorized=True uses an Arrow pandas_udf
        (the fast path — builtins never go through here)."""
        from pyspark.sql import functions as F
        if returns is None:
            returns = getattr(func, "__pig_output_schema__", "string")
        wrapped = (F.pandas_udf(func, returns) if vectorized
                   else F.udf(func, returns))
        self.udfs[name.upper()] = wrapped

    def register_udaf(self, name: str, func: Callable,
                      returns: str | None = None) -> None:
        """Custom aggregate (the reference's Algebraic/Accumulator surface,
        SURVEY.md §2.10: pig:src/org/apache/pig/Algebraic.java). ``func``
        takes a pandas Series (one group's values, Arrow-batched) and
        returns a scalar — a grouped-agg pandas UDF. Used by name inside a
        FOREACH over a GROUP, it participates in the fused groupBy().agg()
        path: the group's bag is never materialized (the Accumulator
        contract). Unlike builtin aggregates there is no map-side partial
        aggregation — same caveat as the reference's non-Algebraic UDFs."""
        import pandas as pd
        from pyspark.sql import functions as F
        if returns is None:
            returns = getattr(func, "__pig_output_schema__", "double")

        # the Series→scalar type hints classify this as a grouped-agg UDF
        # (the actual return conversion follows the `returns` DDL type);
        # set real type objects — PEP 563 string annotations in this module
        # wouldn't resolve from pyspark's typehints introspection
        def _grouped(s):
            return func(s)

        _grouped.__annotations__ = {"s": pd.Series, "return": float}
        _grouped.__name__ = getattr(func, "__name__", name)
        self.udafs[name.upper()] = F.pandas_udf(_grouped, returns)

    def register_partitioner(self, name: str, func: Callable) -> None:
        """Custom placement function for ``PARTITION BY <name>`` on GROUP/
        COGROUP (SURVEY.md §2.1 clause notes; Pig's Hadoop Partitioner
        class). ``func(key) -> int`` is the getPartition contract (Spark
        applies the modulo); ``key`` is the group key value — a scalar for
        a single key, a tuple/Row for compound keys. Must be picklable
        (it ships to executors via rdd.partitionBy)."""
        self.partitioners[name] = func

    def compile(self, node: L.LogicalOp) -> DataFrame:
        return self._compiler.compile(node)

    def release_cache(self) -> int:
        """Unpersist every engine-managed cached subplan (the SPLIT /
        multi-consumer persists, SURVEY.md §4.2) for this session.
        A resident driver calls this after materializing outstanding
        results; unmaterialized consumers recompute — correctness is
        unaffected. Returns the number of entries released."""
        from ..caching import release_cached
        return release_cached(self.spark)

    def _rel(self, node: L.LogicalOp, alias: str | None = None) -> "Relation":
        r = Relation(self, node, alias or f"rel_{next(_rel_ids)}")
        node.alias = r.alias
        self._compiler.note_consumers(node)
        return r


class Relation:
    def __init__(self, engine: Engine, node: L.LogicalOp, alias: str):
        self.engine = engine
        self.node = node
        self.alias = alias

    # -- relational operators (SURVEY.md §2.1) -------------------------------
    def filter(self, predicate: Expr) -> "Relation":
        return self._wrap(L.Filter(self.node, predicate))

    def foreach(self, *generators: Expr) -> "Relation":
        return self._wrap(L.ForEach(self.node, list(generators)))

    def group_by(self, *keys: Expr, parallel: int | None = None,
                 partitioner: str | None = None) -> "Relation":
        g = L.Group(self.node, list(keys), "by", parallel, partitioner)
        g.bag_alias = self.alias      # Pig names the bag after the relation
        return self._wrap(g)

    def group_all(self) -> "Relation":
        g = L.Group(self.node, [], "all")
        g.bag_alias = self.alias
        return self._wrap(g)

    def cube(self, *dims: Expr) -> "Relation":
        g = L.Group(self.node, list(dims), "cube")
        g.bag_alias = self.alias
        return self._wrap(g)

    def rollup(self, *dims: Expr) -> "Relation":
        g = L.Group(self.node, list(dims), "rollup")
        g.bag_alias = self.alias
        return self._wrap(g)

    def grouping_sets(self, dims: list[Expr],
                      gsets: list[list[int]]) -> "Relation":
        """Mixed CUBE/ROLLUP clauses (CUBE rel BY CUBE(a), ROLLUP(b)) —
        the cross product of per-clause grouping sets, as index lists
        into ``dims``. Compiles to DataFrame.groupingSets (one pass)."""
        g = L.Group(self.node, list(dims), "gsets")
        g.bag_alias = self.alias
        g.gsets = gsets
        return self._wrap(g)

    def cogroup(self, keys: list[Expr], *others: tuple["Relation", list[Expr]],
                inner: list[bool] | None = None) -> "Relation":
        rels = [self] + [r for r, _ in others]
        all_keys = [keys] + [k for _, k in others]
        return self._wrap(L.CoGroup([r.node for r in rels], all_keys,
                                    [r.alias for r in rels], inner or []))

    def join(self, keys: list[Expr], other: "Relation", other_keys: list[Expr],
             how: str = "inner", strategy: str = "default",
             parallel: int | None = None) -> "Relation":
        return self._wrap(L.Join([self.node, other.node],
                                 [list(keys), list(other_keys)],
                                 [self.alias, other.alias],
                                 how, strategy, parallel))

    def cross(self, *others: "Relation") -> "Relation":
        rels = [self, *others]
        return self._wrap(L.Cross([r.node for r in rels],
                                  [r.alias for r in rels]))

    def order_by(self, *keys, parallel: int | None = None) -> "Relation":
        """keys: Expr (asc) or (Expr, ascending) tuples."""
        norm = [(k, True) if isinstance(k, Expr) else k for k in keys]
        return self._wrap(L.Sort(self.node, norm, parallel))

    def rank(self, *keys, dense: bool = False,
             name: str | None = None) -> "Relation":
        """RANK: builder default column name is "rank"; the Pig parser
        passes name="rank_<alias>" (Pig's naming rule for RANK output)."""
        norm = [(k, True) if isinstance(k, Expr) else k for k in keys]
        return self._wrap(L.Rank(self.node, norm, dense, name or "rank"))

    def limit(self, n: int) -> "Relation":
        return self._wrap(L.Limit(self.node, n))

    def pluck(self, prefix: str) -> "Relation":
        """PluckTuple(prefix): keep columns whose name starts with prefix."""
        return self._wrap(L.Pluck(self.node, prefix))

    def as_scalar(self, column: str) -> "Relation":
        """Scalar-of-relation guard (pig:src/org/apache/pig/impl/builtin/
        ReadScalars.java): a 1-row, 1-column relation to cross onto another
        relation. Pig's runtime contract: >1 row is a job-time error;
        0 rows yields a null scalar. The guard is inside the plan
        (raise_error branch), so it costs one aggregate, not an eager
        count, and the 1-row result broadcasts in the subsequent cross."""
        from pyspark.sql import functions as F

        def _guard(df: DataFrame) -> DataFrame:
            agg = df.agg(F.first(column).alias(column),
                         F.count(F.lit(1)).alias("__n"))
            # broadcast hint: the guarded result is exactly one row, so the
            # cross onto the consuming relation must be a broadcast
            # nested-loop join, never a cartesian of shuffled sides
            return F.broadcast(agg.select(
                F.when(F.col("__n") <= 1, F.col(column))
                 .otherwise(F.raise_error(F.lit(
                     f"scalar has more than one row in the output "
                     f"(relation {self.alias!r}, column {column!r})")))
                 .alias(column)))
        return self._wrap(L.Transform(self.node, _guard))

    def drop(self, *columns: str) -> "Relation":
        """Project away helper columns (used by the parser to clean up
        scalar-of-relation cross columns after a FILTER)."""
        return self._wrap(L.Transform(self.node,
                                      lambda df: df.drop(*columns)))

    def distinct(self, parallel: int | None = None) -> "Relation":
        return self._wrap(L.Distinct(self.node, parallel))

    def union(self, *others: "Relation", onschema: bool = False) -> "Relation":
        return self._wrap(L.Union([self.node] + [o.node for o in others],
                                  onschema))

    def split(self, *conditions: Expr,
              otherwise: bool = False) -> list["Relation"]:
        """SPLIT rel INTO … IF cond, … [OTHERWISE]: rows may go to several
        outputs; the shared parent is persisted by the compiler
        (multi-consumer rule). OTHERWISE = no condition matched,
        null-safe (SURVEY.md §2.1 #22)."""
        outs = [self._wrap(L.Filter(self.node, c)) for c in conditions]
        if otherwise:
            from pyspark.sql import functions as F  # noqa: F401
            from .expressions import Func, UnOp
            acc = None
            for c in conditions:
                safe = Func("COALESCE_BOOL", [c])
                acc = safe if acc is None else (acc | safe)
            outs.append(self._wrap(L.Filter(self.node, UnOp("not", acc))))
        return outs

    def sample(self, fraction: float, seed: int | None = None) -> "Relation":
        return self._wrap(L.Sample(self.node, fraction, seed))

    def stream_through(self, command: str, schema=None,
                       ship: tuple | list = ()) -> "Relation":
        """STREAM THROUGH. ``ship`` paths are distributed to every task
        (DEFINE … SHIP contract: pig:src/org/apache/pig/impl/streaming/
        StreamingCommand.java#addPathToShip) via SparkContext.addFile; the
        command then executes with the task's SparkFiles dir as cwd, so
        `python script.py` finds its shipped script on any executor."""
        for p in ship:
            self.engine.spark.sparkContext.addFile(p)
        import os
        shipped = tuple(os.path.basename(p) for p in ship)
        return self._wrap(L.StreamThrough(self.node, command, schema,
                                          shipped))

    def apply_per_group(self, keys: list[Expr], func, out_schema) -> "Relation":
        """Nested-FOREACH escape hatch: arbitrary per-group pandas transform
        via applyInPandas (SURVEY.md §2.3 fallback path)."""
        return self._wrap(L.GroupApply(self.node, keys, func, out_schema))

    def assert_(self, cond: Expr, msg: str = "assertion failed") -> "Relation":
        """ASSERT rel BY cond: fail if any row violates (SURVEY.md §2.1 #26).
        Cheap check: one limit(1) scan of violations."""
        bad = self.engine.compile(L.Filter(self.node, ~cond)).limit(1).count()
        if bad:
            raise AssertionError(f"ASSERT failed: {msg}")
        return self

    # -- actions -------------------------------------------------------------
    def df(self) -> DataFrame:
        return self.engine.compile(self.node)

    def collect(self):
        return self.df().collect()

    def dump(self, n: int | None = None) -> None:      # DUMP
        """Print every tuple in Pig's TupleFormat —
        ``(v1,{(b1),(b2)},[k#v])``, nulls empty, no header
        (pig:src/org/apache/pig/data/utils/TupleFormat.java via
        GruntParser processDump). Streams through toLocalIterator so
        the relation never materializes on the driver at once; pass n
        to cap the output (engine extension, Pig prints all)."""
        it = self.df().toLocalIterator()
        for i, row in enumerate(it):
            if n is not None and i >= n:
                break
            print(_pig_tuple_str(row))

    def describe(self) -> str:                          # DESCRIBE
        """Print the schema in Pig's own syntax (pig:src/org/apache/pig/
        newplan/logical/relational/LogicalSchema.java toString):
        ``b: {group: chararray, a: {(x: int, s: chararray)}}`` — bags as
        {(…)}, tuples as (…), maps as map[valtype], Spark↔Pig scalar
        names translated (string→chararray, bigint→long, …)."""
        fields = ", ".join(f"{f.name}: {_pig_type_str(f.dataType)}"
                           for f in self.df().schema.fields)
        s = f"{self.alias}: {{{fields}}}"
        print(s)
        return s

    def explain(self, mode: str = "formatted") -> None:  # EXPLAIN
        self.df().explain(mode)

    def illustrate(self, n: int = 5) -> None:            # ILLUSTRATE
        """ILLUSTRATE: print schema + example rows after every operator in
        this relation's lineage, bottom-up (the role of
        pig:src/org/apache/pig/pen/ExampleGenerator.java). Divergence from
        the reference, documented: Pig SYNTHESIZES example tuples so every
        operator (e.g. a selective FILTER) still shows rows; this version
        is sample-based — it runs limit(n) per step and flags steps whose
        example set is empty. Diagnostic only: costs one small job per
        lineage node, never a full materialization."""
        order: list[L.LogicalOp] = []
        seen: set[int] = set()

        def visit(node: L.LogicalOp) -> None:
            if node._id in seen:
                return
            seen.add(node._id)
            for ch in node.children:
                visit(ch)
            order.append(node)

        visit(self.node)
        for node in order:
            label = type(node).__name__
            alias = getattr(node, "alias", None)
            df = self.engine.compile(node)
            rows = df.limit(n).collect()
            name = f"{label}" + (f"  [{alias}]" if alias else "")
            print(f"-- {name}: {df.schema.simpleString()}")
            if rows:
                for r in rows:
                    cells = [repr(v)[:57] + "..." if len(repr(v)) > 60
                             else repr(v) for v in r]
                    print("    (" + ", ".join(cells) + ")")
            else:
                print("    (no example rows reach this operator)")

    def store_plan(self, path: str, fmt: str = "parquet",
                   partition_by: list[str] | None = None, **options):
        """Build the STORE node — consumer-counted NOW, so a parent
        shared by several stores is seen as multi-consumer before the
        first compile and gets persisted once — and return a thunk
        that executes the write. This is the batch half of Pig's
        MultiQueryOptimizer (SURVEY.md §4.2): the script parser queues
        these and flushes at end-of-script (pig:…/tools/pigscript/
        parser — STOREs execute as one batch, not statement by
        statement)."""
        node = L.Store(self.node, path, fmt, options, partition_by or [])
        self.engine._compiler.note_consumers(node)   # multi-store → persist
        return lambda: self.engine.compile(node)

    def store(self, path: str, fmt: str = "parquet",
              partition_by: list[str] | None = None, **options) -> None:
        self.store_plan(path, fmt, partition_by, **options)()

    def to_view(self, name: str) -> "Relation":
        """Register this relation as a temp view so `spark.sql` can query
        it — the embedding surface (PigServer-style interop with the host
        session's SQL)."""
        self.engine.compile(self.node).createOrReplaceTempView(name)
        return self

    def store_bucketed(self, table: str, n_buckets: int, bucket_cols: list[str],
                       sort_cols: list[str] | None = None,
                       fmt: str = "parquet", mode: str = "overwrite") -> None:
        """Bucketed STORE (the scale path for repeated co-located joins,
        SCALE.md): write as a bucketed+sorted table so later equi-joins on
        the bucket key elide BOTH the exchange and the sort — Spark's
        equivalent of the reference's pre-sorted 'merge' join inputs
        (POMergeJoin/DefaultIndexableLoader). Bucketing requires the table
        catalog (saveAsTable), not a bare path — Spark's bucketing metadata
        lives in the metastore."""
        df = self.engine.compile(self.node)
        w = (df.write.format(fmt).mode(mode)
               .bucketBy(n_buckets, *bucket_cols))
        if sort_cols:
            w = w.sortBy(*sort_cols)
        w.saveAsTable(table)

    # -- internals -------------------------------------------------------------
    def _wrap(self, node: L.LogicalOp) -> "Relation":
        return self.engine._rel(node)

    def as_alias(self, name: str) -> "Relation":
        self.alias = name
        self.node.alias = name
        if isinstance(self.node, L.Group):
            pass  # bag_alias was fixed at group time (input relation's name)
        return self


# Spark type → Pig schema-syntax name (SURVEY.md §1.2 type system;
# pig:…/newplan/logical/relational/LogicalSchema.java toString)
_PIG_SCALAR = {"bigint": "long", "int": "int", "integer": "int",
               "tinyint": "int", "smallint": "int", "string": "chararray",
               "double": "double", "float": "float", "boolean": "boolean",
               "binary": "bytearray", "timestamp": "datetime",
               "timestamp_ntz": "datetime", "date": "datetime"}


def _pig_type_str(dt) -> str:
    from pyspark.sql import types as T
    if isinstance(dt, T.ArrayType):
        inner = dt.elementType
        if isinstance(inner, T.StructType):
            body = ", ".join(f"{f.name}: {_pig_type_str(f.dataType)}"
                             for f in inner.fields)
            return "{(" + body + ")}"
        return "{(item: " + _pig_type_str(inner) + ")}"
    if isinstance(dt, T.StructType):
        return "(" + ", ".join(f"{f.name}: {_pig_type_str(f.dataType)}"
                               for f in dt.fields) + ")"
    if isinstance(dt, T.MapType):
        return f"map[{_pig_type_str(dt.valueType)}]"
    if isinstance(dt, T.DecimalType):
        return "bigdecimal"
    return _PIG_SCALAR.get(dt.simpleString(), dt.simpleString())


def _pig_cell_str(v) -> str:
    """One value in Pig's TupleFormat: null → empty, chararray raw,
    booleans lowercase, bags {(…),(…)}, inner tuples (…), maps [k#v],
    datetimes ISO-8601 (DateTime.toString). Float formatting is
    Python's repr — diverges from Java Double.toString only in
    scientific-notation edge cases (1e+20 vs 1.0E20)."""
    import datetime

    from pyspark.sql import Row
    if v is None:
        return ""
    if isinstance(v, Row):
        return "(" + ",".join(_pig_cell_str(x) for x in v) + ")"
    if isinstance(v, (list, tuple)):
        return "{" + ",".join(_pig_cell_str(x) for x in v) + "}"
    if isinstance(v, dict):
        return "[" + ",".join(f"{k}#{_pig_cell_str(x)}"
                              for k, x in v.items()) + "]"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return v.decode("utf-8", errors="replace")
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def _pig_tuple_str(row) -> str:
    return "(" + ",".join(_pig_cell_str(v) for v in row) + ")"
