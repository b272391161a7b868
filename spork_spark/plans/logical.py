"""Logical plan operators.

One dataclass per Pig relational operator (SURVEY.md §2.1; reference logical
ops live in pig:src/org/apache/pig/newplan/logical/relational/ — LOLoad,
LOFilter, LOForEach, LOCogroup, LOJoin, LOSort, LORank, LOLimit, LODistinct,
LOUnion, LOSplit, LOCross, LOStream, LOCube, LOStore).

The plan is a DAG of immutable nodes; compilation to DataFrames is lazy and
memoized per node (matching Pig's multi-sink lazy PigServer model and
Spark's own lazy DataFrame model — SURVEY.md §3.2/§3.4). No execution logic
lives here; spork_spark.compiler walks the tree.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field
from typing import Any

from .expressions import Expr

_ids = itertools.count()


@dataclass(eq=False)
class LogicalOp:
    """Base node. ``_id`` gives stable identity for memoized compilation."""

    def __post_init__(self):
        self._id = next(_ids)

    @property
    def children(self) -> list["LogicalOp"]:
        return [getattr(self, f) for f in ("child",) if hasattr(self, f)]


@dataclass(eq=False)
class Load(LogicalOp):
    """LOAD 'path' USING fn AS schema  (LOLoad.java → spark.read)."""
    path: str
    fmt: str = "parquet"            # parquet | csv | text | json | avro | orc
    schema: Any = None              # StructType | DDL string | None (infer)
    options: dict = field(default_factory=dict)


@dataclass(eq=False)
class InMemory(LogicalOp):
    """A relation from an existing DataFrame (mock.Storage role in tests)."""
    df: Any


@dataclass(eq=False)
class Filter(LogicalOp):
    """FILTER rel BY expr — keeps rows where predicate is literally true
    (null drops), same as Spark."""
    child: LogicalOp
    predicate: Expr


@dataclass(eq=False)
class ForEach(LogicalOp):
    """FOREACH rel GENERATE e1 [AS n1], …  (LOForEach/POForEach).

    ``generators`` are expressions (possibly Aliased / Flatten).  Nested
    inner pipelines (FOREACH rel { inner ops; GENERATE … }) are expressed
    with bag higher-order functions in the expression tree (SURVEY.md §2.3)
    or escape to GroupApply below.
    """
    child: LogicalOp
    generators: list[Expr]


@dataclass(eq=False)
class Group(LogicalOp):
    """GROUP rel BY keys / GROUP rel ALL → (group, bag) (LOCogroup 1-input).

    Compilation is the engine's key decision (SURVEY.md §4.3): a following
    ForEach whose generators are all algebraic aggregates over the bag fuses
    to groupBy().agg(); only an *escaping* bag materializes collect_list.
    """
    child: LogicalOp
    keys: list[Expr]                # empty ⇒ GROUP ALL
    mode: str = "by"                # by | all | cube | rollup (LOCube sugar)
    parallel: int | None = None     # PARALLEL n clause
    partitioner: str | None = None  # PARTITION BY <class> (placement fn name)


@dataclass(eq=False)
class CoGroup(LogicalOp):
    """COGROUP a BY k1, b BY k2, …  → (group, bag_a, bag_b, …)."""
    inputs: list[LogicalOp]
    keys: list[list[Expr]]
    # each input's relation name: Pig names the bags after them
    input_names: list[str]
    inner: list[bool] = field(default_factory=list)  # per-input INNER flag

    @property
    def children(self):
        return list(self.inputs)


@dataclass(eq=False)
class Join(LogicalOp):
    """JOIN a BY k1 [LEFT|RIGHT|FULL], b BY k2 USING 'strategy'.

    strategy: default(shuffle) | replicated(broadcast) | skewed(AQE) |
    merge(SMJ hint) — all perf variants of identical semantics
    (SURVEY.md §2.1 #9–14). semi/anti are first-class here (Pig's
    COGROUP+IsEmpty idiom, #15).
    """
    inputs: list[LogicalOp]
    keys: list[list[Expr]]
    # each input's relation name: colliding columns become name::col
    input_names: list[str]
    how: str = "inner"              # inner left right full semi anti
    strategy: str = "default"
    parallel: int | None = None

    @property
    def children(self):
        return list(self.inputs)


@dataclass(eq=False)
class Cross(LogicalOp):
    """CROSS a, b (LOCross; GFCross parallelization is Spark-native)."""
    inputs: list[LogicalOp]
    input_names: list[str]          # as Join's

    @property
    def children(self):
        return list(self.inputs)


@dataclass(eq=False)
class Sort(LogicalOp):
    """ORDER rel BY f ASC/DESC — total order via sampled range partitioning
    (Spark SortExec does the reference's WeightedRangePartitioner natively).
    Pig sorts nulls smallest (asc_nulls_first / desc_nulls_last)."""
    child: LogicalOp
    keys: list[tuple[Expr, bool]]   # (expr, ascending)
    parallel: int | None = None


@dataclass(eq=False)
class Rank(LogicalOp):
    """RANK rel [BY keys [DENSE]] (LORank/POCounter/PORank).

    Bare RANK = 1-based sequential id in input order; compiled scalably via
    the reference's own two-pass per-partition-count + prefix-sum design
    over spark_partition_id (SURVEY.md §2.1 #18), not a 1-partition window.
    """
    child: LogicalOp
    keys: list[tuple[Expr, bool]] = field(default_factory=list)
    dense: bool = False
    name: str = "rank"              # Pig names the column rank_<alias>


@dataclass(eq=False)
class Limit(LogicalOp):
    child: LogicalOp
    n: int


@dataclass(eq=False)
class Distinct(LogicalOp):
    """DISTINCT rel — whole-tuple dedup only (no per-column form in Pig)."""
    child: LogicalOp
    parallel: int | None = None


@dataclass(eq=False)
class Union(LogicalOp):
    """UNION [ONSCHEMA] a, b — bag union, NO dedup.

    Without ONSCHEMA Pig unions positionally (schema nulls out on mismatch);
    ONSCHEMA merges by column name, padding missing columns with nulls.
    """
    inputs: list[LogicalOp]
    onschema: bool = False

    @property
    def children(self):
        return list(self.inputs)


@dataclass(eq=False)
class Sample(LogicalOp):
    """SAMPLE rel p — Bernoulli, fraction p (sugar for FILTER RANDOM()<=p)."""
    child: LogicalOp
    fraction: float
    seed: int | None = None


@dataclass(eq=False)
class Pluck(LogicalOp):
    """PluckTuple(prefix) — keep only columns whose name starts with prefix
    (pig:src/org/apache/pig/builtin/PluckTuple.java; used after joins to
    select one input's columns). Column pruning stays visible to Catalyst:
    compiles to a plain select, so the pruned set reaches the scan."""
    child: LogicalOp
    prefix: str


@dataclass(eq=False)
class Transform(LogicalOp):
    """A DataFrame→DataFrame closure node (internal): used where a plan
    fragment is most naturally expressed directly (e.g. the as_scalar
    1-row guard). The closure must be pure and lazy."""
    child: LogicalOp
    fn: Any


@dataclass(eq=False)
class StreamThrough(LogicalOp):
    """STREAM rel THROUGH 'cmd' AS schema — pipe rows through an external
    executable, tab-delimited stdin/stdout (POStream/ExecutableManager).
    ``shipped`` = DEFINE … SHIP('f') files already SparkContext.addFile'd;
    the command then runs with cwd at the task's SparkFiles directory."""
    child: LogicalOp
    command: str
    schema: Any = None
    shipped: tuple = ()


@dataclass(eq=False)
class GroupApply(LogicalOp):
    """Escape hatch for arbitrary nested-FOREACH inner plans: a Python
    callable applied per group via applyInPandas (SURVEY.md §2.3 fallback)."""
    child: LogicalOp
    keys: list[Expr]
    func: Any                        # pandas.DataFrame -> pandas.DataFrame
    out_schema: Any = None           # DDL string or StructType


@dataclass(eq=False)
class Store(LogicalOp):
    """STORE rel INTO 'path' USING fn (LOStore → df.write)."""
    child: LogicalOp
    path: str
    fmt: str = "parquet"
    options: dict = field(default_factory=dict)
    partition_by: list[str] = field(default_factory=list)
