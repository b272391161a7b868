"""Plan compiler: LogicalOp DAG → pyspark DataFrame.

The Spark-first re-expression of the reference's converter layer
(pig:…/executionengine/spark/converter/*.java, SURVEY.md §3.1/§3.4): where
spork hand-converted each physical operator to RDD calls, we *generate* a
declarative DataFrame plan and let Catalyst/Tungsten/AQE pick the physical
strategy. The only optimizations done here are the ones Catalyst cannot see
because they are about plan generation (SURVEY.md §4.1 conclusion):

1. **GROUP+FOREACH fusion (§4.3)** — `FOREACH (GROUP x BY k) GENERATE group,
   AGG(x.f)…` compiles straight to `x.groupBy(k).agg(…)`. This buys partial
   aggregation (the reference's CombinerOptimizer/POPartialAgg), spill, and
   codegen. Bags materialize via collect_list ONLY when they escape. One
   generator planner (_plan_fused) serves every fused FOREACH — over GROUP,
   over COGROUP (its FILTER predicates too) and over a GROUP's inner CROSS:
   each generator is a `group` reference or maximal aggregate parts under a
   key-scalar remainder. Each caller compiles the parts against its own
   frame (the child rows, one COGROUP side, the CROSS pair frame), one
   projection (_project_fused) evaluates the rest post-aggregate, and an
   absent COGROUP side or empty CROSS reads one table (_fill_absent).
2. Join strategy hints — `USING 'replicated'` → broadcast(), 'merge' →
   merge hint, 'skewed' → AQE skew join (session conf).
3. Multi-consumer persist — an alias consumed more than once (SPLIT,
   multi-store) is persisted (the reference's MultiQueryOptimizer).
4. Scalable bare RANK — the reference's own POCounter/PORank two-pass
   per-partition-count + prefix-sum design over spark_partition_id, instead
   of a 1-partition global window.
"""

from __future__ import annotations

import functools
import operator
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..caching import track
from ..functions.builtins import ALGEBRAIC_AGGS, BAG_HOFS
from ..plans import expressions as E
from ..plans import logical as L
from ..session import shuffle_partitions
from .expr import ExprCompiler

GROUP_COL = "group"


def _null_safe_eq(left: list[Column], right: list[Column]) -> Column:
    """AND of `l <=> r` over paired key columns. GROUP/COGROUP collect
    null keys into one group (Pig "Nulls" contract — unlike JOIN, where
    null keys never match), so every join that re-pairs grouped keys
    compares them null-safely."""
    return functools.reduce(operator.and_, (l.eqNullSafe(r)
                                            for l, r in zip(left, right)))


def _equi(left: list[Column], right: list[Column]) -> Column | None:
    """AND of `l == r` over paired key columns — JOIN's rule, where null
    keys never match; None for no keys (a cross join)."""
    conds = [l == r for l, r in zip(left, right)]
    return functools.reduce(operator.and_, conds) if conds else None


# Aggregates whose value over an empty bag is 0; every other aggregate
# reads null there (Pig's builtins over an empty bag).
_COUNT_AGGS = frozenset({"COUNT", "COUNT_STAR", "COUNT_DISTINCT",
                         "APPROX_COUNT_DISTINCT"})


def _fill_absent(df: DataFrame, parts: list[tuple[str, E.Func]]
                 ) -> DataFrame:
    """Fused aggregate parts where their input was absent (a COGROUP
    side missing from the outer join, a group whose inner CROSS is
    empty) read Pig's aggregate over an empty bag: 0 for the
    count-valued aggregates; the rest stay null."""
    for name, part in parts:
        if part.name.upper() in _COUNT_AGGS:
            df = df.withColumn(name, F.coalesce(df[name],
                                                F.lit(0).cast("bigint")))
    return df


def _is_group_ref(e: E.Expr) -> bool:
    """`group` itself or one field of it (group.f / group.$i)."""
    if isinstance(e, E.Deref):
        e = e.child
    return isinstance(e, E.Col) and e.name == GROUP_COL


def _group_col(df: DataFrame, names: list[str],
               fields: list[str] | None = None) -> Column:
    """The `group` value over the key columns ``names`` of ``df``: the
    key itself for one key, a struct of the keys for several (its
    fields renamed to ``fields`` when given). Columns bind to ``df``
    (``df[name]``: one py4j round trip, where ``F.col`` costs three)."""
    if len(names) == 1:
        return df[names[0]]
    cols = [df[n] for n in names]
    if fields:
        cols = [c.alias(f) for c, f in zip(cols, fields)]
    return F.struct(*cols)


class PlanCompiler:
    def __init__(self, spark: SparkSession, udfs: dict[str, Any] | None = None,
                 udafs: dict[str, Any] | None = None,
                 partitioners: dict[str, Any] | None = None,
                 warnings=None):
        self.spark = spark
        self.udfs = udfs if udfs is not None else {}
        self.udafs = udafs if udafs is not None else {}
        self.partitioners = partitioners if partitioners is not None else {}
        self.warnings = warnings    # CastWarningCollector | None
        self._cache: dict[int, DataFrame] = {}
        self._consumers: dict[int, int] = {}
        self._persisted: set[int] = set()   # node ids already track()ed
        self._confs: dict[str, str] | None = None   # see compile()

    # ------------------------------------------------------------------ api
    def compile(self, node: L.LogicalOp) -> DataFrame:
        """Compile a plan DAG to a (lazy) DataFrame, memoized per node.
        The conf keys the compiler reads are read once per top-level
        call, so a SET between two statements takes effect at the
        next one."""
        if self._confs is not None:         # nested: reuse the reads
            return self._compile(node)
        self._confs = {}
        try:
            return self._compile(node)
        finally:
            self._confs = None

    def note_consumers(self, node: L.LogicalOp) -> None:
        """Called at plan-construction time (Engine._rel): consumer counts
        accumulate as the DAG is built, so SPLIT/multi-store sharing is
        visible before the first compile (MultiQueryOptimizer role)."""
        for ch in node.children:
            self._consumers[ch._id] = self._consumers.get(ch._id, 0) + 1

    def _compile(self, node: L.LogicalOp) -> DataFrame:
        if node._id in self._cache:
            # Late persist upgrade: parse-time schema resolution can
            # compile a node before all of its consumers are even
            # constructed (e.g. scalar binding reads .columns while the
            # script is still being parsed), so the >1-consumer persist
            # below is missed at first compile. Reuse is the moment the
            # count is known to have grown — persist() on the cached
            # lazy DataFrame still precedes its first materialization
            # in the batched-store flow, so the computation stays
            # single. Idempotent via _persisted (no storageLevel RPC).
            if (node._id not in self._persisted
                    and self._consumers.get(node._id, 0) > 1
                    and not isinstance(node, (L.Load, L.InMemory))):
                self._cache[node._id] = track(self._cache[node._id])
                self._persisted.add(node._id)
            return self._cache[node._id]
        df = getattr(self, f"_c_{type(node).__name__.lower()}")(node)
        # MultiQueryOptimizer role: persist subplans consumed >1× so SPLIT /
        # multi-store reuse one computation (SURVEY.md §4.2).
        if self._consumers.get(node._id, 0) > 1 and not isinstance(
                node, (L.Load, L.InMemory)):
            # tracked so a resident driver can release the CacheManager
            # entry (caching.release_cached / Engine.release_cache) —
            # an untracked Dataset.persist leaks until session end
            df = track(df)
            self._persisted.add(node._id)
        self._cache[node._id] = df
        return df

    def _ctx(self, df: DataFrame) -> ExprCompiler:
        return ExprCompiler(df, self.udfs, self.udafs,
                            probes=[] if self._warnings_on() else None)

    def _warnings_on(self) -> bool:
        """Cast-failure warning counters (spork_spark/warnings.py),
        default off. Probes are collected per-expression-context and
        attached as observe metrics on the operator's input: FOREACH/
        FILTER expressions (_attach_probes), JOIN/GROUP/COGROUP/
        ORDER/RANK key expressions, fused-aggregate ARGUMENT casts
        (_probe_keys / _agg_arg_casts), and post-agg casts in fused
        generators — wrapping ((long)SUM(x)), interior
        (ROUND((double)SUM(x))), and group-ref ((int)group — every
        remainder compiles through _project_fused's probing post-agg
        context, one probe row per group, matching POForEach's
        post-combine evaluation) — via the aggregate/remainder split
        (_split_post_agg). POCast warns at every cast site
        (pig:…/expressionOperators/POCast.java warn()); every site is
        now counted (test_post_agg_group_ref_casts_counted pins the
        fused/nested/de-fused group-ref shapes)."""
        return self.warnings is not None and self._conf(
            "spark.spork.warnings.enabled", "false") == "true"

    def _attach_probes(self, df: DataFrame, ctx: ExprCompiler) -> DataFrame:
        if ctx.probes:
            return self.warnings.attach(df, ctx.probes)
        return df

    def _probe_keys(self, df: DataFrame, keys) -> DataFrame:
        """Plant cast-discard probes for row-level expressions (JOIN/
        GROUP/ORDER keys, fused-aggregate arguments) on the operator's
        INPUT (Pig warns at the local-rearrange / per-row cast, i.e.
        once per input row). Expressions are compiled once in a
        throwaway context so the caller's own compilation never
        double-registers a probe; flag-off returns the input untouched
        (plans stay byte-identical)."""
        if not keys or not self._warnings_on():
            return df
        kctx = ExprCompiler(df, self.udfs, self.udafs, probes=[])
        for k in keys:
            k = k[0] if isinstance(k, tuple) else k   # (expr, asc) pairs
            kctx.compile(k)
        return self._attach_probes(df, kctx)

    def _split_post_agg(self, e: E.Expr, prefix: str, reserved: set
                        ) -> tuple[list[tuple[str, E.Func]], E.Expr]:
        """Split a fused generator or predicate into (aggregate parts,
        post-agg scalar remainder): each MAXIMAL aggregate call is
        replaced by a Col ref to a temp named after ``prefix``; a bare
        aggregate is one part whose remainder is its temp. IsEmpty(bag)
        reads as COUNT_STAR(bag) == 0. ``reserved`` holds the names a
        temp must not take (the group keys: a temp named like a key
        would be ambiguous on the aggregated frame) and gains each temp
        allocated."""
        parts: list[tuple[str, E.Func]] = []

        def cut(n: E.Expr) -> E.Expr | None:
            if isinstance(n, E.Func) and n.name.upper() == "ISEMPTY" \
                    and len(n.args) == 1 and not any(
                        _is_group_ref(a) for a in E.nodes(n.args[0])):
                return E.BinOp("==", cut(E.Func("COUNT_STAR", n.args)),
                               E.Lit(0))
            if not self._is_agg_call(n):
                return None
            nm = prefix if not parts else f"{prefix}__{len(parts)}"
            while nm in reserved:
                nm = f"__post_{nm}"
            reserved.add(nm)
            parts.append((nm, n))
            return E.Col(nm)

        return parts, E.transform(e, cut)

    def _plan_fused(self, gens: list[E.Expr], keys: list[E.Expr],
                    prefix: str, reserved: set, preds: list[E.Expr] = (),
                    udafs: bool = True):
        """The generator planner of every fused FOREACH — over GROUP,
        over COGROUP (with the FILTERs between them) and over a GROUP's
        inner CROSS. Each generator is a `group` reference, or it splits
        (_split_post_agg) into aggregate parts and a remainder that is a
        key scalar over the parts' temps (a generator without aggregates
        is all remainder); each predicate splits the same way. A part is
        a builtin aggregate call — or a registered UDAF when ``udafs`` —
        with no lambda or bag HOF inside it. Temps are named ``prefix``
        formatted with the generator's index ``i`` and output ``name``;
        predicate temps are ``__f<j>``.

        Returns (parts, outs, conds): parts are (temp, aggregate) pairs
        for the caller to compile against its own frame, outs are
        ("group", ref, alias) / ("post", remainder, name) in generator
        order for _project_fused, conds the predicate remainders. None
        when a bag escapes or nothing aggregates: the caller then
        materializes the bags."""
        parts: list[tuple[str, E.Func]] = []

        def split(e: E.Expr, pfx: str) -> E.Expr | None:
            ps, rem = self._split_post_agg(e, pfx, reserved)
            for _, p in ps:
                if not udafs and p.name.upper() not in ALGEBRAIC_AGGS:
                    return None
                if any(isinstance(n, E.Lambda) or (
                        isinstance(n, E.Func) and n.name.upper() in BAG_HOFS)
                       for n in E.nodes(p)):
                    return None
            if not self._is_key_scalar(rem, keys, {t for t, _ in ps}):
                return None
            parts.extend(ps)
            return rem

        outs = []
        for i, g in enumerate(gens):
            alias, inner = (g.name, g.child) if isinstance(g, E.Aliased) \
                else (None, g)
            if _is_group_ref(inner):
                # an unaliased position among several keys takes the
                # key's name
                if alias is None and len(keys) > 1 and \
                        isinstance(getattr(inner, "field", None), int):
                    alias = self._key_name(keys[inner.field], inner.field)
                outs.append(("group", inner,
                             alias or self._default_name(inner, i)))
                continue
            name = alias or f"col_{i}"
            rem = split(inner, prefix.format(i=i, name=name))
            if rem is None:
                return None
            outs.append(("post", rem, name))
        conds = [split(p, f"__f{j}") for j, p in enumerate(preds)]
        if not parts or any(c is None for c in conds):
            return None
        return parts, outs, conds

    def _project_fused(self, df: DataFrame, outs: list[tuple],
                       names: list[str], fields: list[str] | None = None
                       ) -> DataFrame:
        """The one post-aggregate projection of every fused FOREACH:
        `group` references and remainders (_plan_fused outs) over an
        aggregated frame whose key columns are ``names`` (the key
        fields ``fields`` when named otherwise; references bind to
        ``df`` as in _group_col). Remainders compile through one
        probing context — their casts warn once per group, POCast's
        post-combine site."""
        ctx = self._ctx(df)
        cols = []
        for kind, e, name in outs:
            if kind == "group":
                cols.append(self._compile_group_ref(df, ctx, e, names, name,
                                                    fields))
            elif isinstance(e, E.Col):         # a bare aggregate part
                cols.append(df[e.name].alias(name) if e.name != name
                            else df[name])
            else:
                e = self._rewrite_key_refs(e, names, fields)
                cols.append(ctx.compile(e).alias(name))
        return self._attach_probes(df, ctx).select(*cols)

    def _agg_arg_casts(self, e: E.Expr) -> list:
        """Collect Cast subexpressions that sit INSIDE an aggregate's
        arguments — those evaluate once per input row, so their
        discard probes are row-level (probe-safe on the aggregation
        input). Casts OUTSIDE any aggregate in a fused generator
        evaluate per OUTPUT row and ride the aggregate/remainder split
        instead (_split_post_agg): probed on the aggregated frame,
        one row per group, no aggregate ever nests inside an observe
        metric."""
        if self._is_agg_call(e):           # nested casts each warn
            return [n for n in E.nodes(e) if isinstance(n, E.Cast)]
        return [c for ch in E.children(e) for c in self._agg_arg_casts(ch)]

    def _is_agg_call(self, e: E.Expr) -> bool:
        """A call to an algebraic builtin aggregate or a registered
        UDAF."""
        return isinstance(e, E.Func) and (e.name.upper() in ALGEBRAIC_AGGS
                                          or e.name.upper() in self.udafs)

    def _conf(self, key: str, default: str) -> str:
        confs = {} if self._confs is None else self._confs
        if key not in confs:
            try:
                confs[key] = self.spark.conf.get(key, default)
            except Exception:
                confs[key] = default
        return confs[key]

    def _side_broadcastable(self, left: DataFrame,
                            right: DataFrame) -> bool:
        """True when Catalyst's size estimate puts either join side
        under spark.sql.autoBroadcastJoinThreshold — i.e. an unhinted
        join would become a BroadcastHashJoin. Estimate errors are
        Catalyst's own (file-size based); a failure to read stats
        answers False (the caller then applies its strategy hint)."""
        try:
            raw = self.spark.conf.get(
                "spark.sql.autoBroadcastJoinThreshold", "10485760")
            mult = 1
            low = raw.strip().lower()
            for suf, m in (("kb", 1 << 10), ("mb", 1 << 20),
                           ("gb", 1 << 30), ("k", 1 << 10),
                           ("m", 1 << 20), ("g", 1 << 30), ("b", 1)):
                if low.endswith(suf):
                    low, mult = low[:-len(suf)], m
                    break
            thr = int(low) * mult
            if thr <= 0:
                return False
            size = min(
                int(str(d._jdf.queryExecution().optimizedPlan()
                        .stats().sizeInBytes()))
                for d in (left, right))
            return size <= thr
        except Exception:
            return False

    # -------------------------------------------------------------- sources
    def _c_load(self, node: L.Load) -> DataFrame:
        from ..sources import read
        return read(self.spark, node.path, node.fmt, node.schema, node.options)

    def _c_inmemory(self, node: L.InMemory) -> DataFrame:
        return node.df

    # -------------------------------------------------------------- row ops
    def _c_filter(self, node: L.Filter) -> DataFrame:
        df = self._compile(node.child)
        ctx = self._ctx(df)
        pred = ctx.compile(node.predicate)
        return self._attach_probes(df, ctx).filter(pred)

    def _c_sample(self, node: L.Sample) -> DataFrame:
        return self._compile(node.child).sample(fraction=node.fraction,
                                                seed=node.seed)

    def _c_limit(self, node: L.Limit) -> DataFrame:
        return self._compile(node.child).limit(node.n)

    def _c_pluck(self, node: L.Pluck) -> DataFrame:
        df = self._compile(node.child)
        keep = [c for c in df.columns if c.startswith(node.prefix)]
        return df.select(*keep)

    def _c_transform(self, node: L.Transform) -> DataFrame:
        return node.fn(self._compile(node.child))

    def _c_distinct(self, node: L.Distinct) -> DataFrame:
        child = self._compile(node.child)
        # Optional pre-shuffle partial-aggregate bypass. Spark's default
        # DISTINCT plan is partial HashAggregate -> exchange -> final:
        # the partial pass pays a full hash-dedup per MAP task, which is
        # pure overhead when keys are mostly unique (zero reduction) or
        # the map side is parallelism-starved (e.g. a single-row-group
        # parquet file scans as ONE task, so the partial agg runs on one
        # core before anything can fan out). Photon/Databricks skip the
        # partial adaptively; OSS Spark has no such rule, so we expose
        # it as a session conf: repartition on all columns first, then
        # dedup — the exchange carries the same rows it would anyway
        # (no reduction was happening), and both aggregate passes run
        # AFTER the exchange at full shuffle parallelism. Default OFF:
        # with heavy duplication the partial agg genuinely shrinks the
        # shuffle and the bypass would hurt — that is a stats call the
        # deployment makes, exactly like Spark's own partial-agg
        # heuristics. Measured at sf0.1 (FLOOR_r05.json): 0.46s -> 0.26s
        # on the single-row-group layout.
        skip_partial = self._conf(
            "spark.spork.distinct.skipPartialAgg", "false") == "true"
        if skip_partial:
            df = child.repartition(*[F.col(c) for c in child.columns]) \
                      .dropDuplicates()
        else:
            df = child.distinct()
        if node.parallel:
            df = df.repartition(node.parallel)
        return df

    # -------------------------------------------------------------- foreach
    def _c_foreach(self, node: L.ForEach) -> DataFrame:
        # The §4.3 fusion: FOREACH over GROUP with purely-algebraic
        # generators compiles to groupBy().agg() — no bag materialization.
        if isinstance(node.child, L.Group) and \
                self._consumers.get(node.child._id, 0) <= 1:
            from .bagfuse import try_fuse_inner_cross
            crossed = try_fuse_inner_cross(self, node.child,
                                           node.generators)
            if crossed is not None:
                return crossed
            fused = self._try_fuse_group_agg(node.child, node.generators)
            if fused is not None:
                return fused
        cg = self._try_fuse_cogroup_agg(node)
        if cg is not None:
            return cg
        df = self._compile(node.child)
        df = self._maybe_repartition_for_windows(df, node.generators)
        return self._apply_generators(df, node.generators)

    def _maybe_repartition_for_windows(self, df: DataFrame,
                                       gens: list[E.Expr]) -> DataFrame:
        """Optional window-input repartition (conf
        `spark.spork.window.repartitionFirst`, default off): when every
        window function in the projection shares one PARTITION BY key
        set, repartition the input on those keys BEFORE the window.

        Why: Spark's WindowGroupLimit rule plants a Partial limit below
        the window's exchange, and that partial pass needs a FULL
        map-side sort. On parallelism-starved inputs (a single-row-group
        parquet file scans as ONE task) that sort runs on one core and
        dominates the query. An explicit repartition on the window keys
        is the SAME single exchange the window would have forced anyway
        (EnsureRequirements sees the distribution satisfied and adds
        none), but the sort + group-limit now run only once, after the
        exchange, at full shuffle parallelism. Measured at sf0.1:
        0.30s -> 0.22s on rank-top-3-per-customer (FLOOR_r05.json).
        Default OFF: when the map side IS wide and keys repeat across
        many input partitions, the partial group-limit genuinely prunes
        shuffle volume — the deployment makes the call, like the
        distinct bypass above.

        Value "range": repartitionByRange on the same keys. Equal keys
        still land in one partition (RangePartitioning bounds are key
        values), so the window's clustering requirement is met by the
        same single exchange — AND the stage's RangePartitioning(keys
        ASC) output satisfies any downstream ORDER BY whose sort order
        starts with the keys ascending (Spark's
        RangePartitioning.satisfies(OrderedDistribution) prefix rule).
        A final `ORDER BY key, ...` then plans as a partition-local
        sort: no second exchange, and — the real win — no range-bound
        sampling pass that would otherwise EXECUTE THE WHOLE WINDOW
        SUBPLAN TWICE (Exchange rangepartitioning samples its child;
        here the sampling runs over the pre-window scan instead).
        Measured at sf1: 0.43 -> 0.35 s on rank-top-3-per-customer.
        Trade-off vs hash: range bounds come from a sampling job over
        the input, and key-value skew skews ranges (hash spreads hot
        ranges of DISTINCT keys better; a single hot KEY is atomic
        either way)."""
        mode = self._conf("spark.spork.window.repartitionFirst", "false")
        if mode not in ("true", "range"):
            return df
        wfs = [n for g in gens for n in E.nodes(g)
               if isinstance(n, E.WindowFunc)]
        keysets = {tuple(repr(p) for p in w.partition_by) for w in wfs}
        if len(keysets) != 1 or not wfs[0].partition_by:
            return df
        ctx = self._ctx(df)
        try:
            keys = [ctx.compile(p) for p in wfs[0].partition_by]
        except Exception:
            return df
        if mode == "range":
            return df.repartitionByRange(*keys)
        return df.repartition(*keys)

    def _apply_generators(self, df: DataFrame, gens: list[E.Expr]) -> DataFrame:
        """Plain projection path, incl. FLATTEN via explode/struct-expand."""
        ctx = self._ctx(df)
        cols, flatten_names = [], []
        for i, g in enumerate(gens):
            alias = None
            inner = g
            if isinstance(inner, E.Aliased):
                alias, inner = inner.name, inner.child
            if isinstance(inner, E.Star):
                cols.append(F.col("*"))
                continue
            if isinstance(inner, E.RangeProj):
                cols.extend(F.col(c) for c in
                            self._expand_range(df.columns, inner))
                continue
            if isinstance(inner, E.Flatten):
                name = alias if isinstance(alias, str) else f"__flat_{i}"
                cols.append(ctx.compile(inner.child).alias(name))
                flatten_names.append((name, alias))
                continue
            if isinstance(alias, tuple):
                raise ValueError(
                    "AS (a, b, …) multi-name aliases apply to FLATTEN "
                    "generators only")
            c = ctx.compile(inner)
            cols.append(c.alias(alias) if alias else
                        c.alias(self._default_name(inner, i)))
        out = self._attach_probes(df, ctx).select(*cols)
        for name, alias in flatten_names:
            out = self._explode_one(out, name, alias)
        return out

    def _expand_star_keys(self, df: DataFrame,
                          keys: list[E.Expr]) -> list[E.Expr]:
        """GROUP/ORDER BY * (and project-ranges) expand to per-column keys
        against the input schema — Pig's whole-tuple key."""
        out: list[E.Expr] = []
        for k in keys:
            if isinstance(k, E.Star):
                out.extend(E.Col(c) for c in df.columns)
            elif isinstance(k, E.RangeProj):
                out.extend(E.Col(c) for c in
                           self._expand_range(df.columns, k))
            else:
                out.append(k)
        return out

    @staticmethod
    def _expand_range(columns: list[str], r: E.RangeProj) -> list[str]:
        """Expand a project-range ``a .. c`` positionally against the input
        schema (Pig 0.9 project-range; bounds inclusive, open ends allowed)."""
        def idx(bound, default):
            if bound is None:
                return default
            if isinstance(bound, int):
                if bound >= len(columns):
                    raise ValueError(
                        f"range bound ${bound} out of range "
                        f"({len(columns)} columns)")
                return bound
            try:
                return columns.index(bound)
            except ValueError:
                raise ValueError(f"unknown column {bound!r} in range "
                                 f"projection over {columns}") from None
        lo, hi = idx(r.start, 0), idx(r.end, len(columns) - 1)
        if lo > hi:
            raise ValueError(f"empty range projection "
                             f"({r.start!r} .. {r.end!r})")
        return columns[lo:hi + 1]

    @staticmethod
    def _default_name(e: E.Expr, i: int) -> str:
        if isinstance(e, E.Col):
            return e.name.split(".")[-1].split("::")[-1]
        if isinstance(e, E.Deref) and isinstance(e.field, str):
            return e.field
        return f"col_{i}"

    def _explode_one(self, df: DataFrame, name: str,
                     alias: str | tuple | None) -> DataFrame:
        """FLATTEN semantics (SURVEY.md §2.2): bag → cross product with the
        row, EMPTY/NULL BAG DROPS THE ROW (explode, not explode_outer);
        tuple → inline fields; map → key/value rows. ``AS name`` renames a
        single flattened field; ``AS (a, b, …)`` renames them all."""
        dt = df.select(name).schema[0].dataType
        # flattened fields replace the bag column AT ITS POSITION (Pig's
        # output ordering), not appended at the end
        idx = df.columns.index(name)
        before, after = df.columns[:idx], df.columns[idx + 1:]

        def placed(*inner):
            return df.select(*before, *inner, *after)
        if isinstance(dt, T.ArrayType):
            if isinstance(alias, tuple) and \
                    not isinstance(dt.elementType, T.StructType):
                # FLATTEN(tuple-valued) AS (a, b): Pig's STRSPLIT-style
                # dynamic-arity tuple is an array here; the AS names declare
                # the arity, so inline elements as columns (no row fan-out).
                return placed(*[F.col(name)[i].alias(a)
                                for i, a in enumerate(alias)])
            df = df.withColumn(name, F.explode(F.col(name)))
            dt = dt.elementType
        if isinstance(dt, T.StructType):
            fields = dt.fields
            if isinstance(alias, tuple):
                if len(alias) != len(fields):
                    raise ValueError(
                        f"FLATTEN AS names {len(alias)} fields but the "
                        f"value has {len(fields)}")
                names = list(alias)
            elif alias is not None and len(fields) == 1:
                names = [alias]
            else:
                names = [f.name for f in fields]
            return placed(*[F.col(f"{name}.{f.name}").alias(n)
                            for f, n in zip(fields, names)])
        if isinstance(dt, T.MapType):
            knames = alias if isinstance(alias, tuple) and len(alias) == 2 \
                else ("key", "value")
            return placed(F.explode(F.col(name)).alias(*knames))
        # scalar array element / passthrough
        if isinstance(alias, str) and name != alias:
            # deferred-flatten path carries a temp bag name through the join
            df = df.withColumnRenamed(name, alias)
        elif alias is None and name.startswith("__flat_"):
            df = df.withColumnRenamed(name, name.removeprefix("__flat_"))
        return df

    # ------------------------------------------------------- group & fusion
    def _group_key_cols(self, ctx: ExprCompiler, keys: list[E.Expr]) -> list:
        return [ctx.compile(k).alias(self._key_name(k, i))
                for i, k in enumerate(keys)]

    def _try_fuse_group_agg(self, group: L.Group,
                            gens: list[E.Expr]) -> DataFrame | None:
        """FOREACH(GROUP) generators planned by _plan_fused, their
        aggregate parts compiled against the child rows; None ⇒ the
        bag escapes (FLATTEN of the bag, the bag itself, a bag HOF the
        pre-passes below do not rewrite)."""
        child_df = None
        if isinstance(group.child, L.Join) and group.mode == "by" and \
                self._consumers.get(group.child._id, 0) <= 1:
            eager = self._try_eager_agg(group, gens)
            if eager is not None:
                child_df, gens = eager
        if child_df is None:
            child_df = self._compile(group.child)
        ctx = self._ctx(child_df)
        keys = self._expand_star_keys(child_df, group.keys)
        from .bagfuse import try_fuse_topk
        topk = try_fuse_topk(self, group, gens, child_df, ctx, keys)
        if topk is not None:
            child_df, gens = topk
            ctx = self._ctx(child_df)
        first = child_df.columns[0] if child_df.columns else None
        # Same-column PERCENTILEs fuse into one shared buffer (map
        # computed over all generators; compiled per-node in _c_func)
        pm = self._percentile_fusion_map(gens, first)
        if pm:
            ctx.pctl_multi = pm
        key_names = [self._key_name(k, i) for i, k in enumerate(keys)]
        plan = self._plan_fused(
            [self._normalize_distinct_agg(g, first) for g in gens], keys,
            "{name}", set(key_names))
        if plan is None:
            return None
        parts, outs, _ = plan
        agg_cols, row_casts = [], []
        for tmp, sub in parts:
            rw = self._rewrite_bag_refs(sub, first)
            agg_cols.append((ctx.compile(rw).alias(tmp), tmp,
                             self._mentions_udaf(rw)))
            row_casts.extend(self._agg_arg_casts(rw))

        # Cast discards in the fused plan ride the aggregation input,
        # where the rows still exist per-input-row: group-KEY casts +
        # casts inside aggregate ARGUMENTS (SUM((int)x)) — both
        # compiled once in a throwaway probe context. Post-agg casts
        # probe in _project_fused, one row per group.
        child_df = self._probe_keys(child_df, keys)
        child_df = self._probe_keys(child_df, row_casts)
        agg_df = self._grouped_agg(group, child_df, ctx, keys, agg_cols)
        result = self._project_fused(agg_df, outs, key_names)
        if getattr(group, "partitioner", None):
            key_cols = self._partitioner_key_cols(outs, key_names,
                                                  result.columns)
            if key_cols is not None:
                placed = self._apply_partitioner(group, result, key_cols)
                if placed is not None:
                    result = placed
            else:
                import warnings
                warnings.warn(
                    "PARTITION BY: the full group key is not projected by "
                    "the FOREACH generators; custom placement skipped")
        return result

    @staticmethod
    def _partitioner_key_cols(outs, key_names: list[str],
                              result_columns) -> list[str] | None:
        """Output columns carrying the group key for custom placement, in
        DECLARED key order (the getPartition contract — projection order
        must not leak into the key shape). A whole-`group` projection is
        the key itself (struct fields already in declared order); per-
        field derefs qualify only when together they cover every declared
        key. Returns None when the key cannot be reconstructed."""
        field_pos: dict[int, int] = {}        # declared key idx → out idx
        for i, (kind, ref, _alias) in enumerate(outs):
            if kind != "group":
                continue
            if isinstance(ref, E.Col):         # whole `group`
                return [result_columns[i]]
            fld = ref.field
            if isinstance(fld, int):    # on one key: a field of the key
                idx = fld if len(key_names) > 1 else None
            else:
                idx = key_names.index(fld) if fld in key_names else None
            if idx is not None and idx not in field_pos:
                field_pos[idx] = i
        if len(field_pos) != len(key_names):
            return None
        return [result_columns[field_pos[i]] for i in range(len(key_names))]

    _EAGER_AGGS = {"SUM", "COUNT", "COUNT_STAR", "MIN", "MAX", "AVG"}
    _EAGER_FINAL = {"SUM": "SUM", "COUNT": "SUM", "COUNT_STAR": "SUM",
                    "MIN": "MIN", "MAX": "MAX"}

    def _try_eager_agg(self, group: L.Group, gens: list[E.Expr]):
        """Eager aggregation (Yan & Larson, VLDB'95) — an optimization
        Catalyst does NOT perform: for FOREACH (GROUP (JOIN …) BY k)
        GENERATE … AGG(fact.field) …, pre-aggregate the fact side by its
        join key BEFORE the join, then finalize after. The exchange then
        carries one partial row per join key instead of every fact row —
        the reference's combiner idea extended through the join
        (pig:…/mapReduceLayer/CombinerOptimizer.java is the per-group
        analogue). Legal for SUM/COUNT/COUNT_STAR/MIN/MAX under INNER
        joins: join multiplicity scales partial sums exactly as it scales
        raw rows, and min/max are multiplicity-invariant.

        The aggregates may sit anywhere in a generator — under unary
        minus, a BINCOND, a CASE branch or a scalar function — and each
        one is rewritten onto its partial column wherever it sits; one
        off-shape aggregate anywhere keeps the whole FOREACH on the
        normal path.

        Returns (joined-with-partials DataFrame, rewritten generators) or
        None when the shape doesn't apply (the normal fusion path runs).
        """
        # -- collect the aggregates and their field references ------------
        def sig_of(e) -> tuple[str, str | None] | None:
            """(function, field) of an aggregate this pass pre-aggregates:
            COUNT_STAR() or AGG(bag.field) over _EAGER_AGGS."""
            if not isinstance(e, E.Func):
                return None
            name = e.name.upper()
            if name == "COUNT_STAR" and not e.args:
                return name, None
            if name in self._EAGER_AGGS and len(e.args) == 1 and \
                    isinstance(e.args[0], E.Deref) and \
                    isinstance(e.args[0].field, str):
                return name, e.args[0].field
            return None                       # VAR/UDAF/COUNT(bag)/…

        aggs: list[tuple[str, str | None]] = []   # (fn, field)

        def walk(e):
            if not self._is_agg_call(e):
                return all(walk(c) for c in E.children(e))
            sig = sig_of(e)
            if sig is not None:
                aggs.append(sig)
            return sig is not None

        for g in gens:
            if not walk(g.child if isinstance(g, E.Aliased) else g):
                return None
        fields = {f for _, f in aggs if f is not None}
        if not fields:
            return None                       # nothing pins a fact side
        key_refs = {n.name for k in group.keys for n in E.nodes(k)
                    if isinstance(n, E.Col)}

        # -- locate the fact input on the inner-join spine ----------------
        def cols_of(node):
            return set(self._compile(node).columns)

        def find(node, above_sibling_cols):
            """Descend binary inner joins; returns (ancestors, target,
            target_keys) — ancestors = [(join_node, side_of_target)] from
            this level down."""
            if not isinstance(node, L.Join) or len(node.inputs) != 2 or \
                    node.how != "inner" or \
                    self._consumers.get(node._id, 0) > 1:
                return None
            a, b = node.inputs
            acols, bcols = cols_of(a), cols_of(b)
            if acols & bcols:
                return None                   # collision renames: keep simple
            for side, tgt, tcols, sib in ((1, b, bcols, acols),
                                          (0, a, acols, bcols)):
                if not fields <= tcols:
                    continue
                if key_refs & tcols:
                    return None               # group key needs fact columns
                if above_sibling_cols & tcols:
                    return None               # upper join keys touch fact
                tkeys = node.keys[side]
                if not all(isinstance(k, E.Col) for k in tkeys):
                    return None
                # sibling-side keys at this level must avoid fact columns
                sib_refs = {n.name for k in node.keys[1 - side]
                            for n in E.nodes(k) if isinstance(n, E.Col)}
                if sib_refs & tcols:
                    return None
                if side == 0 and isinstance(tgt, L.Join):
                    deeper = find(tgt, above_sibling_cols | {
                        n.name for k in node.keys[0]
                        for n in E.nodes(k) if isinstance(n, E.Col)})
                    if deeper is not None:
                        anc, t, tk = deeper
                        return ([(node, 0)] + anc, t, tk)
                return ([(node, side)], tgt, tkeys)
            return None

        found = find(group.child, set())
        if found is None:
            return None
        ancestors, target, tkeys = found

        # -- pre-aggregate the fact side by its join key ------------------
        tdf = self._compile(target)
        key_names = [k.name for k in tkeys]
        if not set(key_names) <= set(tdf.columns):
            return None
        partial_of: dict[tuple, str] = {}
        partials = []

        def partial(sig, make):
            if sig not in partial_of:
                pname = f"__ea_{len(partial_of)}"
                partial_of[sig] = pname
                partials.append(make().alias(pname))
            return partial_of[sig]

        for fname, field in aggs:
            if fname == "SUM":
                partial((fname, field), lambda: F.sum(field))
            elif fname == "COUNT":
                partial((fname, field), lambda: F.count(field))
            elif fname == "COUNT_STAR":
                partial((fname, field), lambda: F.count(F.lit(1)))
            elif fname == "MIN":
                partial((fname, field), lambda: F.min(field))
            elif fname == "MAX":
                partial((fname, field), lambda: F.max(field))
            else:   # AVG decomposes to sum+count partials
                partial(("SUM", field), lambda: F.sum(field))
                partial(("COUNT", field), lambda: F.count(field))
        pre = tdf.groupBy(*[F.col(k) for k in key_names]).agg(*partials)

        # -- rebuild the join chain with the fact side swapped ------------
        new_node = L.InMemory(pre)
        new_node.alias = getattr(target, "alias", None)
        for node, side in reversed(ancestors):
            inputs = list(node.inputs)
            inputs[side] = new_node
            nj = L.Join(inputs, [list(ks) for ks in node.keys],
                        node.input_names, node.how, node.strategy,
                        node.parallel)
            nj.alias = getattr(node, "alias", None)
            new_node = nj

        # -- rewrite generators onto the partial columns ------------------
        def rewrite(e):
            sig = sig_of(e)
            if sig is None:
                return None
            name = sig[0]
            if name == "AVG":
                # AVG = SUM(partial sums) / SUM(partial counts); the
                # double cast defeats Pig's truncating integer '/' when
                # the field is integral (AVG returns double for int/long
                # inputs — SURVEY.md §2.4)
                ssum = E.Cast("double", E.Func(
                    "SUM", [E.Col(partial_of[("SUM", sig[1])])]))
                scnt = E.Func("SUM", [E.Col(partial_of[("COUNT", sig[1])])])
                return E.BinOp("/", ssum, scnt)
            if sig in partial_of:
                return E.Func(self._EAGER_FINAL[name],
                              [E.Col(partial_of[sig])])
            return None

        return self._compile(new_node), [E.transform(g, rewrite)
                                         for g in gens]

    def _grouped_agg(self, group: L.Group, child_df: DataFrame,
                     ctx: ExprCompiler, keys: list[E.Expr],
                     agg_cols: list[tuple]) -> DataFrame:
        """The GROUP spine: the only place a GROUP mode (all/by/cube/
        rollup/gsets) becomes a Spark aggregation. ``agg_cols`` holds
        (column, name, is_udaf) triples — fused partial aggregates, or
        the materialized bag alone (_c_group).

        One groupBy().agg() — unless the generators mix grouped-agg
        pandas UDAFs with JVM aggregates, which Spark forbids in a single
        Aggregate (INVALID_PANDAS_UDF_PLACEMENT). Then: two aggregations
        over the same child, null-safe-joined on the keys. Both sides hash-
        partition by the same keys, so Catalyst reuses the exchange and the
        join is co-partitioned — no extra shuffle of the input."""
        if group.mode == "gsets":
            # groupingSets matches set members to grouping columns by
            # expression equality — aliased copies don't match (all-null
            # keys), so group on raw expressions and rename afterward.
            if any(u for _, _, u in agg_cols):
                raise NotImplementedError(
                    "custom aggregate (register_udaf) cannot be combined "
                    "with mixed CUBE/ROLLUP grouping sets")
            raw = [ctx.compile(k) for k in keys]
            sets = [[raw[i] for i in s] for s in group.gsets]
            out = child_df.groupingSets(sets, *raw) \
                          .agg(*[c for c, _, _ in agg_cols])
            names = [self._key_name(k, i) for i, k in enumerate(keys)]
            for old, new in zip(out.columns[:len(names)], names):
                if old != new:
                    out = out.withColumnRenamed(old, new)
            return out

        def grouped():
            if group.mode == "all":
                return child_df.groupBy()
            if group.mode == "cube":
                return child_df.cube(*self._group_key_cols(ctx, keys))
            if group.mode == "rollup":
                return child_df.rollup(*self._group_key_cols(ctx, keys))
            return child_df.groupBy(*self._group_key_cols(ctx, keys))

        native = [(c, n) for c, n, u in agg_cols if not u]
        pandas_ = [(c, n) for c, n, u in agg_cols if u]
        if not native or not pandas_:
            return grouped().agg(*[c for c, _, _ in agg_cols])
        if group.mode in ("cube", "rollup", "gsets"):
            raise NotImplementedError(
                "custom aggregate (register_udaf) cannot be combined with "
                "builtin aggregates under CUBE/ROLLUP — grouping-set null "
                "rows are ambiguous join keys across the split aggregation")
        if group.mode == "all":
            return (child_df.groupBy().agg(*[c for c, _ in native])
                    .crossJoin(child_df.groupBy()
                               .agg(*[c for c, _ in pandas_])))
        # Each side plans independently: the native side keeps map-side
        # partial aggregation (tiny shuffle), the pandas side shuffles only
        # its pruned columns. The input is scanned twice, but each scan is
        # column-pruned — together ≈ one unpruned scan. (A shared
        # repartition would merge the scans but forfeit the combine and
        # shuffle raw rows twice — measured worse.) The reference charges
        # non-Algebraic UDFs a comparable toll: no combiner, full bags to
        # the reducer (pig:…/mapReduceLayer/CombinerOptimizer.java).
        a = grouped().agg(*[c for c, _ in native])
        b = grouped().agg(*[c for c, _ in pandas_])
        knames = a.columns[:len(keys)]
        cond = _null_safe_eq([a[k] for k in knames], [b[k] for k in knames])
        return a.join(b, cond).select(
            *[a[k] for k in knames],
            *[a[n] for _, n in native], *[b[n] for _, n in pandas_])

    def _mentions_udaf(self, e: E.Expr) -> bool:
        return any(isinstance(n, E.Func) and n.name.upper() in self.udafs
                   for n in E.nodes(e))

    @staticmethod
    def _key_ref(field: str | int, names: list[str],
                 fields: list[str] | None) -> E.Expr:
        """group.<field> as an expression over the aggregated frame's
        key columns ``names``. A field named like a key (``fields``,
        default ``names``) is that key, and so is a position among
        several keys; on a single key any other field, named or
        positional, is a field of the key itself (a struct-typed key),
        dereferenced as the bag path dereferences it."""
        fields = fields or names
        if isinstance(field, str) and field in fields:
            return E.Col(names[fields.index(field)])
        if len(names) == 1:
            return E.Deref(E.Col(names[0]), field)
        if isinstance(field, int):
            return E.Col(names[field])
        return E.Col(field)                  # Spark reports it unresolved

    def _compile_group_ref(self, df: DataFrame, ctx: ExprCompiler,
                           e: E.Expr, names: list[str], alias: str,
                           fields: list[str] | None = None) -> Column:
        """Compile a `group` reference over the key columns ``names`` of
        the aggregated frame ``df`` (GROUP ALL → the literal 'all');
        ``fields`` names the key fields when the columns are named
        otherwise. A field of a key compiles in ``ctx``."""
        if isinstance(e, E.Col):
            if not names:
                return F.lit("all").alias(alias)
            return _group_col(df, names, fields).alias(alias)
        ref = self._key_ref(e.field, names, fields)
        c = df[ref.name] if isinstance(ref, E.Col) else ctx.compile(ref)
        return c.alias(alias)

    def _is_key_scalar(self, e: E.Expr, keys: list[E.Expr],
                       extra: frozenset | set = frozenset()) -> bool:
        """True for a scalar expression over group-KEY references,
        literals, and scalar functions only — (chararray)group,
        group.a + 1, CONCAT(group.a, '-') — which evaluates post-agg
        from the key columns. Without this, one cast on the group key
        de-fuses the whole FOREACH into collect_list materialization:
        the worst possible trade for the commonest key idiom. A
        whole-`group` ref qualifies only under zero keys (GROUP ALL →
        'all') or a single key; a multi-key struct rebuild is left to
        the unfused path. Every node counts, CASE conditions and values
        included: a CASE over an aggregate is not a key scalar (the
        fused path splits its aggregates out instead)."""
        def ok(n: E.Expr) -> bool:
            if isinstance(n, E.Col):
                if n.name in extra:       # split-out aggregate temp col
                    return True
                return n.name == GROUP_COL and len(keys) <= 1
            if isinstance(n, E.Deref):
                if not (isinstance(n.child, E.Col)
                        and n.child.name == GROUP_COL):
                    return False
                # a position among several keys must be in range
                # (group.$5 with 2 keys falls back to the unfused path's
                # own error); on one key it is a field of the key
                return not isinstance(n.field, int) or len(keys) == 1 \
                    or n.field < len(keys)
            if isinstance(n, (E.Lambda, E.Star)) or self._is_agg_call(n) \
                    or (isinstance(n, E.Func) and n.name.upper() in BAG_HOFS):
                return False
            return all(ok(c) for c in E.children(n))

        return ok(e)

    def _rewrite_key_refs(self, e: E.Expr, names: list[str],
                          fields: list[str] | None = None) -> E.Expr:
        """Rewrite `group` references in a post-agg remainder to the
        aggregated frame's key columns ``names`` (GROUP ALL → the
        literal 'all'; fields resolve as in _key_ref)."""
        def key_col(n: E.Expr) -> E.Expr | None:
            if isinstance(n, E.Col) and n.name == GROUP_COL:
                return E.Col(names[0]) if names else E.Lit("all")
            if isinstance(n, E.Deref) and _is_group_ref(n):
                return self._key_ref(n.field, names, fields)
            return None

        return E.transform(e, key_col)

    _DISTINCT_FUSABLE = {"COUNT": "COUNT_DISTINCT", "SUM": "SUM_DISTINCT"}

    def _normalize_distinct_agg(self, e: E.Expr,
                                first_col: str | None = None) -> E.Expr:
        """Pig's nested-DISTINCT idiom — FOREACH (GROUP x BY k) { d =
        DISTINCT x.f; GENERATE COUNT(d) } (PigMix L4/L15) — arrives as
        AGG(DISTINCT_BAG(bag.f)). Rewrite to the distinct-aggregate form
        (COUNT_DISTINCT/SUM_DISTINCT) so it fuses into groupBy().agg()
        and gets Catalyst's expand + two-phase partial aggregation instead
        of materializing and deduplicating per-group bags — the same
        motivation as the reference's CombinerOptimizer (SURVEY.md §4.3).
        Lambda bodies are left alone: an aggregate there runs per bag
        element, not per group."""
        def fuse(n: E.Expr) -> E.Expr | None:
            if isinstance(n, E.Lambda):
                return n
            if (isinstance(n, E.Func)
                    and n.name.upper() in self._DISTINCT_FUSABLE
                    and len(n.args) == 1 and isinstance(n.args[0], E.Func)
                    and n.args[0].name.upper() == "DISTINCT_BAG"
                    and len(n.args[0].args) == 1
                    and isinstance(n.args[0].args[0], (E.Deref, E.Col))):
                return E.Func(self._DISTINCT_FUSABLE[n.name.upper()],
                              [n.args[0].args[0]])
            return self._normalize_filter_agg(n, first_col)

        return E.transform(e, fuse)

    _FILTER_FUSABLE = {"COUNT", "COUNT_STAR", "SUM", "AVG", "MIN", "MAX"}

    def _normalize_filter_agg(self, e: E.Expr,
                              first_col: str | None = None) -> E.Expr | None:
        """The inner-FILTER aggregate idiom — FOREACH (GROUP x BY k) { f =
        FILTER x BY cond; GENERATE SUM(f.v) } — arrives as
        AGG(FILTER_BAG(bag, λ)[.field]). Rewrite to AGG(when(cond, v)):
        the filter fuses into the aggregate (SURVEY.md §2.3 mapping #2) so
        the whole generator compiles to groupBy().agg() with map-side
        partial aggregation — no bag ever materializes. Returns None when
        the pattern doesn't apply (caller falls through)."""
        if not (isinstance(e, E.Func) and e.name.upper() in
                self._FILTER_FUSABLE and len(e.args) == 1):
            return None
        a, fb, field = e.args[0], None, None
        if isinstance(a, E.Func) and a.name.upper() == "FILTER_BAG":
            fb = a
        elif isinstance(a, E.Deref) and isinstance(a.child, E.Func) \
                and a.child.name.upper() == "FILTER_BAG" \
                and isinstance(a.field, str):
            fb, field = a.child, a.field
        if fb is None or len(fb.args) != 2 \
                or not isinstance(fb.args[0], E.Col) \
                or not isinstance(fb.args[1], E.Lambda) \
                or len(fb.args[1].params) != 1:
            return None
        if field is None and e.name.upper() not in ("COUNT", "COUNT_STAR"):
            return None                      # SUM(bag) etc. needs a field
        cond = self._delambda(fb.args[1].body, fb.args[1].params[0])
        if cond is None:
            return None
        if e.name.upper() == "COUNT_STAR":
            # COUNT_STAR(filtered bag) counts EVERY tuple passing the
            # filter (nulls included) → COUNT of when(cond, 1): rows
            # failing the filter become null and drop out of the count
            return E.Func("COUNT", [E.BinCond(cond, E.Lit(1), E.Lit(None))])
        # bare COUNT(filtered bag): Pig counts tuples whose FIRST field is
        # non-null, so count the first column under the condition — not a
        # literal 1 (which would count null-first-field rows too)
        val = (E.Col(first_col) if field is None and first_col is not None
               else E.Lit(1) if field is None else E.Col(field))
        return E.Func(e.name, [E.BinCond(cond, val, E.Lit(None))])

    def _delambda(self, e: E.Expr, param: str) -> E.Expr | None:
        """Rewrite a lambda body into a row-level expression: t.f → Col(f).
        Returns None if the body uses the tuple var other than via a named
        field deref (positional/whole-tuple uses keep the bag path)."""
        def field_ref(n: E.Expr) -> E.Expr | None:
            if isinstance(n, E.Deref) and isinstance(n.child, E.LambdaVar) \
                    and n.child.name == param and isinstance(n.field, str):
                return E.Col(n.field)
            return None

        out = E.transform(e, field_ref)
        if any(isinstance(n, (E.LambdaVar, E.Lambda)) for n in E.nodes(out)):
            return None
        return out

    def _percentile_fusion_map(self, gens: list[E.Expr],
                               first_col: str | None) -> dict:
        """repr(child-expr) → sorted distinct percentage literals, for
        every PERCENTILE input column that appears with >= 2 distinct
        percentages across the FOREACH's generators (keyed on the
        post-bag-ref-rewrite form — the form the fused agg compiles).

        ExprCompiler then compiles each such PERCENTILE(c, p) as
        element_at(percentile(c, array(ps)), idx): the percentile
        aggregates are IDENTICAL expressions across generators, so
        Catalyst deduplicates them into ONE sort-buffer per column where
        the naive compile buffers every value of the column once per
        requested percentage (exact percentile is a holistic aggregate —
        its buffer is the whole column). Spark's Percentile evaluates
        the array form by interpolating each point from the same sorted
        counts map with the same arithmetic as the scalar form, so the
        produced doubles are identical."""
        groups: dict[str, set] = {}
        for g in gens:
            inner = g.child if isinstance(g, E.Aliased) else g
            try:
                inner = self._normalize_distinct_agg(inner, first_col)
                rw = self._rewrite_bag_refs(inner, first_col)
            except Exception:
                continue
            for node in E.nodes(rw):
                if isinstance(node, E.Func) \
                        and node.name.upper() == "PERCENTILE" \
                        and len(node.args) == 2 \
                        and isinstance(node.args[1], E.Lit) \
                        and isinstance(node.args[1].value, (int, float)) \
                        and not isinstance(node.args[1].value, bool):
                    groups.setdefault(repr(node.args[0]), set()) \
                          .add(float(node.args[1].value))
        return {k: sorted(v) for k, v in groups.items() if len(v) >= 2}

    def _rewrite_bag_refs(self, e: E.Expr,
                          first_col: str | None = None) -> E.Expr:
        """Inside a fused aggregate, `bag.field` / `rel.field` refs become
        direct column refs on the pre-group child. COUNT(bag) counts tuples
        whose FIRST field is non-null (pig:src/org/apache/pig/builtin/
        COUNT.java) → count(first_col); COUNT_STAR(bag) counts all.
        Lambda bodies are left alone (their derefs read the bound
        element, not the pre-group row)."""
        def unbag(n: E.Expr) -> E.Expr | None:
            if isinstance(n, E.Lambda):
                return n
            if isinstance(n, E.Deref):
                return E.Col(n.field) if isinstance(n.field, str) else n
            if isinstance(n, E.Func) and len(n.args) == 1 \
                    and n.name.upper() in ("COUNT", "COUNT_STAR") \
                    and isinstance(n.args[0], E.Col):
                if n.name.upper() == "COUNT" and first_col is not None:
                    return E.Func("COUNT", [E.Col(first_col)])
                return E.Func("COUNT_STAR", [])
            return None

        return E.transform(e, unbag)

    def _c_group(self, node: L.Group) -> DataFrame:
        """Unfused GROUP: the bag escapes → materialize (group, bag).

        collect_list(struct(*)) is the reference's bag, and it is just
        one more aggregate on the GROUP spine (_grouped_agg), the same
        one the fused path uses; this is the slow path by design
        (SURVEY.md §4.3) — the fusion above avoids it whenever the
        consumer is aggregate-only.
        """
        df = self._compile(node.child)
        ctx = self._ctx(df)
        bag_alias = getattr(node, "bag_alias", "bag")
        bag = F.collect_list(F.struct(*[F.col(c) for c in df.columns])) \
               .alias(bag_alias)
        keys = self._expand_star_keys(df, node.keys)
        df = self._probe_keys(df, keys)     # group-key cast discards
        grouped = self._grouped_agg(node, df, ctx, keys,
                                    [(bag, bag_alias, False)])
        names = [self._key_name(k, i) for i, k in enumerate(keys)]
        group = _group_col(grouped, names) if names else F.lit("all")
        out = grouped.select(group.alias(GROUP_COL), F.col(bag_alias))
        if node.mode == "all":
            return out
        placed = self._apply_partitioner(node, out, [GROUP_COL])
        if placed is not None:
            return placed
        if node.parallel:
            out = out.repartition(node.parallel, GROUP_COL)
        return out

    def _apply_partitioner(self, node, df: DataFrame,
                           key_cols: list[str]) -> DataFrame | None:
        """Honor PARTITION BY <class> when a placement function is
        registered under that name (Engine.register_partitioner) — the
        group OUTPUT is placed by fn(key) % n, Pig's observable effect
        (which part-file each group lands in under STORE). Unregistered
        names keep the accepted-and-ignored behavior (Catalyst placement),
        with a warning. Returns None when not applied."""
        name = getattr(node, "partitioner", None)
        if not name:
            return None
        fn = self.partitioners.get(name)
        if fn is None:
            import warnings
            warnings.warn(
                f"PARTITION BY {name}: no placement function registered "
                "under this name (Engine.register_partitioner); using "
                "Spark's hash placement")
            return None
        from ..operators.partitioner import custom_partition
        n = node.parallel or shuffle_partitions(self.spark)
        return custom_partition(df, key_cols, n, fn)

    @staticmethod
    def _key_name(k: E.Expr, i: int) -> str:
        if isinstance(k, E.Aliased):
            return k.name
        if isinstance(k, E.Col):
            return k.name
        return f"group_{i}"

    @staticmethod
    def _cogroup_bag_refs(e: E.Expr, bag_names: list[str]) -> set | None:
        """Bag names referenced by an aggregate argument tree; None when
        the tree references anything that is NOT a bag (the only columns
        of a cogrouped relation are `group` and the bags, so a foreign
        Col means the expression needs the materialized frame)."""
        refs: set[str] = set()
        for n in E.nodes(e):
            if isinstance(n, E.Col):
                if n.name not in bag_names:
                    return None      # group (or unknown) inside an agg
                refs.add(n.name)
        return refs

    def _try_fuse_cogroup_agg(self, node: L.ForEach) -> DataFrame | None:
        """FOREACH (FILTER* (COGROUP …)) planned by _plan_fused — the
        generators and the FILTER predicates — whose every aggregate part
        reads one side: the COGROUP spine (_cogroup_sides) runs with
        each side's parts in place of its bag, so the exchanges carry
        one partial-aggregate row per key instead of collect_list'ing
        every input column of every row (the COGROUP + IsEmpty anti-join
        idiom shuffled 11-column structs to count them). A side absent
        from the outer join reads Pig's aggregate over an empty bag
        (_fill_absent), so IsEmpty(bag) — COUNT_STAR(bag) == 0 — holds
        there. Disabled under the warnings surface (the fallback bag
        path carries the cast probes)."""
        if self._warnings_on():
            return None
        preds: list[E.Expr] = []
        cur = node.child
        while isinstance(cur, L.Filter) and \
                self._consumers.get(cur._id, 0) <= 1:
            preds.insert(0, cur.predicate)
            cur = cur.child
        if not isinstance(cur, L.CoGroup) or \
                self._consumers.get(cur._id, 0) > 1:
            return None
        if getattr(cur, "partitioner", None):
            # PARTITION BY <class> is an observable placement contract
            # (which part-file each group lands in under STORE) that
            # _c_cogroup honors via _apply_partitioner — the fused
            # shape would silently drop it, so fall back to the bag
            # path.
            return None
        bag_names = cur.input_names
        if len(set(bag_names)) != len(bag_names) or GROUP_COL in bag_names:
            return None
        plan = self._plan_fused(node.generators, cur.keys[0], "__a{i}",
                                set(), preds, udafs=False)
        if plan is None:
            return None
        parts, outs, conds = plan
        sides = []
        for _, p in parts:
            refs = self._cogroup_bag_refs(p, bag_names)
            if not refs or len(refs) != 1:
                return None
            sides.append(bag_names.index(refs.pop()))

        inner = cur.inner or [False] * len(cur.inputs)

        def partials(idx: int, df: DataFrame, ctx: ExprCompiler) -> list:
            # this side's aggregates in place of its bag; a presence
            # count where an INNER flag tests it or nothing else
            # aggregates (a side must aggregate to join its keys)
            first = df.columns[0] if df.columns else None
            mine = [ctx.compile(self._rewrite_bag_refs(p, first)).alias(tmp)
                    for (tmp, p), side in zip(parts, sides) if side == idx]
            if inner[idx] or not mine:
                mine.insert(0, F.count(F.lit(1)).alias(f"__n{idx}"))
            return mine

        out, knames, fields = self._cogroup_sides(cur, partials)
        for idx, is_inner in enumerate(inner):
            if is_inner:
                out = out.filter(F.col(f"__n{idx}").isNotNull())
        out = _fill_absent(out, parts)
        if conds:
            ctx = self._ctx(out)
            out = out.filter(functools.reduce(operator.and_, (
                ctx.compile(self._rewrite_key_refs(c, knames, fields))
                for c in conds)))
        if getattr(cur, "parallel", None):
            # PARALLEL on the COGROUP sets the reduce-side partition
            # count (observable as part-file count under STORE);
            # _c_cogroup honors it with a group-keyed repartition, so
            # the fused shape must too.
            out = out.repartition(cur.parallel,
                                  *[F.col(k) for k in knames])
        return self._project_fused(out, outs, knames, fields)

    def _cogroup_sides(self, node: L.CoGroup, side_aggs) \
            -> tuple[DataFrame, list[str], list[str]]:
        """The COGROUP spine: per input, groupBy(keys).agg(<that side's
        aggregates>), then a FULL OUTER join of the sides on the keys.
        ``side_aggs(idx, df, ctx)`` gives input idx's aggregate columns
        — its bag (_c_cogroup) or its partial aggregates
        (_try_fuse_cogroup_agg). Returns the joined frame, its key
        column names (__k0, __k1, …) and the names of the `group`
        fields over them: the first input's keys as GROUP names them
        (_key_name). The key join is null-safe
        (_null_safe_eq) with the keys coalesced: a USING join would
        split the null-key group per side."""
        knames = [f"__k{i}" for i in range(len(node.keys[0]))]
        out = None
        for idx, (inp, keys) in enumerate(zip(node.inputs, node.keys)):
            df = self._compile(inp)
            ctx = self._ctx(df)
            key_cols = [ctx.compile(k).alias(n)
                        for k, n in zip(keys, knames)]
            df = self._probe_keys(df, keys)  # cogroup-key cast discards
            g = df.groupBy(*key_cols).agg(*side_aggs(idx, df, ctx))
            if out is None:
                out = g
                continue
            rk = [f"__r{idx}_{i}" for i in range(len(knames))]
            for old, new in zip(knames, rk):
                g = g.withColumnRenamed(old, new)
            out = out.join(g, on=_null_safe_eq(
                [F.col(n) for n in knames], [F.col(n) for n in rk]),
                how="full")
            for lname, rname in zip(knames, rk):
                out = out.withColumn(lname,
                                     F.coalesce(F.col(lname), F.col(rname))) \
                         .drop(rname)
        return out, knames, [self._key_name(k, i)
                             for i, k in enumerate(node.keys[0])]

    def _c_cogroup(self, node: L.CoGroup) -> DataFrame:
        """COGROUP a BY k, b BY k → (group, bag_a, bag_b): the COGROUP
        spine (_cogroup_sides) with each side's bag as its aggregate;
        absent groups get EMPTY (not null) bags; per-input INNER filters
        empties (SURVEY.md §2.1 #8)."""
        inner = node.inner or [False] * len(node.inputs)
        bag_names = node.input_names
        bag_types = []

        def bag(idx: int, df: DataFrame, ctx: ExprCompiler) -> list:
            bag_types.append(T.ArrayType(df.schema))
            return [F.collect_list(F.struct(*[F.col(c) for c in df.columns]))
                    .alias(bag_names[idx])]

        out, knames, fields = self._cogroup_sides(node, bag)
        bag_cols = [F.coalesce(F.col(bag_name),
                               F.array().cast(bag_type)).alias(bag_name)
                    for bag_name, bag_type in zip(bag_names, bag_types)]
        out = out.select(_group_col(out, knames, fields).alias(GROUP_COL),
                         *bag_cols)
        for bag_name, is_inner in zip(bag_names, inner):
            if is_inner:
                out = out.filter(F.size(F.col(bag_name)) > 0)
        placed = self._apply_partitioner(node, out, [GROUP_COL])
        if placed is not None:
            return placed
        if getattr(node, "parallel", None):
            out = out.repartition(node.parallel, GROUP_COL)
        return out

    def _c_groupapply(self, node: L.GroupApply) -> DataFrame:
        df = self._compile(node.child)
        ctx = self._ctx(df)
        keys = [ctx.compile(k) for k in node.keys]
        return df.groupBy(*keys).applyInPandas(node.func, node.out_schema)

    # ----------------------------------------------------------------- joins
    def _c_join(self, node: L.Join) -> DataFrame:
        """Equi-join; null keys never match (Spark = Pig). Strategy variants
        are hints over identical semantics (SURVEY.md §2.1 #9–14)."""
        dfs = [self._compile(i) for i in node.inputs]
        post_explodes: list[tuple[str, Any]] = []
        if node.how == "inner":
            # Pig's PushDownForEachFlatten (SURVEY.md §4.1): Catalyst has no
            # rule to reorder Generate below Join, so a FLATTEN-then-JOIN
            # script would shuffle the exploded (amplified) rows. When the
            # join keys don't touch the flattened output, defer the explode
            # to after the join: the bag crosses the exchange as one column
            # on the un-amplified row count.
            for idx in range(len(node.inputs)):
                d = self._try_defer_flatten(node, idx, dfs)
                if d is not None:
                    dfs[idx], explodes = d
                    post_explodes.extend(explodes)
        dfs = self._disambiguate(dfs, node.input_names, node.keys)
        left = dfs[0]
        lkeys = [self._ctx(left).compile(k) for k in node.keys[0]]
        # key-cast discard probes ride each join INPUT (POCast warns at
        # the local-rearrange cast). raw_left stays un-observed: the
        # merge-sparse semi-prune re-reads the left subtree, and a
        # shared observe node there would fold its accumulator twice.
        raw_left = left
        left = self._probe_keys(left, node.keys[0])
        for i in range(1, len(dfs)):
            right = self._probe_keys(dfs[i], node.keys[i])
            if node.strategy == "replicated":
                # USING 'replicated' → POFRJoin → broadcast hash join
                right = F.broadcast(right)
            elif node.strategy == "merge":
                right = right.hint("merge")
            elif node.strategy == "merge_sparse":
                # USING 'merge-sparse' (pig:…/POMergeCogroup.java sparse
                # path): Pig seeks the sorted right side via its sparse
                # index, touching only blocks whose keys occur on the
                # (few-keyed) left. Spark-first equivalent: broadcast-
                # semi-prune the right input on the left's distinct keys
                # — the sparse premise is exactly "left keys are few", so
                # the distinct-key set broadcasts — then sort-merge the
                # pruned remainder. The prune happens below the SMJ's
                # exchange+sort, so non-matching right rows never shuffle
                # or sort. Inner-join only (Pig's own restriction); other
                # hows fall back to the plain merge hint.
                if node.how == "inner":
                    # built from the un-observed left (see raw_left
                    # above); for n-way tails the running join result
                    # is the only available source — Pig's merge join
                    # is 2-way, so that branch is theoretical.
                    probe_src = raw_left if i == 1 else left
                    probe = probe_src.select(
                        *[k.alias(f"__msk{j}")
                          for j, k in enumerate(lkeys)]).distinct()
                    rk = [self._ctx(dfs[i]).compile(k)
                          for k in node.keys[i]]
                    pcond = _equi(rk, [F.col(f"__msk{j}")
                                       for j in range(len(rk))])
                    right = right.join(F.broadcast(probe), on=pcond,
                                       how="left_semi")
                right = right.hint("merge")
            elif node.strategy == "default":
                # Pig's default JOIN is a shuffled HASH join (JoinPackager
                # over the rearrange pipeline, SURVEY.md §2.1 #9). Spark's
                # default is SMJ; `spark.spork.join.defaultStrategy` lets a
                # deployment restore the hash-join physical choice
                # (shuffle_hash avoids the two per-side sorts — measurably
                # faster when shuffled partitions fit in memory, which AQE
                # guards at scale). Default 'auto' defers to Catalyst/AQE.
                hint = self._conf("spark.spork.join.defaultStrategy", "auto")
                if hint == "shuffle_hash" and \
                        self._side_broadcastable(left, right):
                    # A strategy hint OVERRIDES Catalyst's size-based
                    # broadcast selection — hinting shuffle_hash when a
                    # side fits under autoBroadcastJoinThreshold would
                    # force an exchange on BOTH sides where a broadcast
                    # join needs none. Leave the join unhinted so the
                    # small side broadcasts (and if it somehow doesn't,
                    # preferSortMergeJoin=false still yields SHJ).
                    pass
                elif hint in ("shuffle_hash", "merge", "broadcast"):
                    # Hint the LEFT side: Pig's packager materializes the
                    # earlier inputs and STREAMS the last one, so the left
                    # is the hash-build side (and in left-deep n-way joins
                    # it's also the smaller, already-reduced side).
                    left = left.hint(hint)
            rkeys = [self._ctx(dfs[i]).compile(k) for k in node.keys[i]]
            cond = _equi(lkeys, rkeys)
            how = {"semi": "left_semi", "anti": "left_anti"}.get(node.how,
                                                                 node.how)
            left = left.join(right, on=cond, how=how)
        for tmp, alias in post_explodes:
            left = self._explode_one(left, tmp, alias)
        if node.parallel:
            left = left.repartition(node.parallel)
        return left

    def _try_defer_flatten(self, node: L.Join, idx: int,
                           dfs: list[DataFrame]):
        """If input ``idx`` is a FOREACH containing FLATTEN(bag) generators
        and this input's join keys reference only the non-flattened outputs,
        return (replacement DataFrame keeping the bag column, explodes to
        apply after the join); else None.

        Legal for INNER joins only: explode(bag)⋈k ≡ (⋈k)∘explode when k is
        independent of the bag (empty/null bags drop the row on either side
        of the join identically). Outer joins differ on the null-extended
        side (a null-filled bag would drop the preserved row), so they keep
        the eager explode. Reference rule:
        pig:src/org/apache/pig/newplan/logical/rules/PushDownForEachFlatten.java.
        """
        inp = node.inputs[idx]
        if not isinstance(inp, L.ForEach) or \
                self._consumers.get(inp._id, 0) > 1:
            return None
        flats: dict[int, tuple] = {}
        non_flat: set[str] = set()
        for i, g in enumerate(inp.generators):
            alias, inner = None, g
            if isinstance(inner, E.Aliased):
                alias, inner = inner.name, inner.child
            if isinstance(inner, E.Flatten):
                flats[i] = (alias, inner.child)
            elif isinstance(inner, (E.Star, E.RangeProj)):
                return None                    # names need schema; keep eager
            else:
                non_flat.add(alias if isinstance(alias, str)
                             else self._default_name(inner, i))
        if not flats:
            return None
        for k in node.keys[idx]:
            if not {n.name for n in E.nodes(k)
                    if isinstance(n, E.Col)} <= non_flat:
                return None                    # key depends on the flatten
        child_df = self._compile(inp.child)
        ctx = self._ctx(child_df)
        other_cols = {c for j, df in enumerate(dfs) if j != idx
                      for c in df.columns}
        new_gens = list(inp.generators)
        explodes: list[tuple[str, Any]] = []
        for i, (alias, inner) in flats.items():
            try:
                dt = child_df.select(
                    ctx.compile(inner).alias("x")).schema[0].dataType
            except Exception:
                return None
            if not isinstance(dt, T.ArrayType):
                return None        # tuple/map flatten: no row fan-out to defer
            if isinstance(alias, tuple) and \
                    not isinstance(dt.elementType, T.StructType):
                return None        # STRSPLIT-style inline: no fan-out either
            # final flattened names must match the eager path bare (a
            # collision would have been alias::qualified there — bail)
            if isinstance(dt.elementType, T.StructType):
                fields = dt.elementType.fields
                if isinstance(alias, tuple):
                    names = list(alias)
                elif isinstance(alias, str) and len(fields) == 1:
                    names = [alias]
                else:
                    names = [f.name for f in fields]
            elif isinstance(alias, str):
                names = [alias]
            else:
                return None        # bare scalar-array flatten naming edge
            if other_cols & set(names):
                return None
            tmp = f"__jbf_{inp._id}_{i}"
            new_gens[i] = E.Aliased(inner, tmp)
            explodes.append((tmp, alias))
        return self._apply_generators(child_df, new_gens), explodes

    def _disambiguate(self, dfs: list[DataFrame], names: list[str],
                      keys: list[list[E.Expr]]) -> list[DataFrame]:
        """Pig join/cross output schema qualifies colliding names as
        name::col, name being the input's relation name; non-colliding
        names stay bare (Pig's resolution rule)."""
        from collections import Counter
        counts = Counter(c for df in dfs for c in df.columns)
        out = []
        for idx, df in enumerate(dfs):
            renames = {c: f"{names[idx]}::{c}" for c in df.columns
                       if counts[c] > 1}
            if renames:
                df = df.withColumnsRenamed(renames)
                # key exprs referencing the bare name must follow the rename
                keys[idx] = [E.transform(
                    k, lambda n: E.Col(renames[n.name])
                    if isinstance(n, E.Col) and n.name in renames else None)
                    for k in keys[idx]]
            out.append(df)
        return out

    def _c_cross(self, node: L.Cross) -> DataFrame:
        dfs = self._compile(node.inputs[0]), *[self._compile(i)
                                               for i in node.inputs[1:]]
        dfs = self._disambiguate(list(dfs), node.input_names,
                                 [[] for _ in node.inputs])
        out = dfs[0]
        for df in dfs[1:]:
            out = out.crossJoin(df)
        return out

    # ---------------------------------------------------------------- order
    def _c_sort(self, node: L.Sort) -> DataFrame:
        """ORDER BY: Spark SortExec = sampled range partitioning (the
        reference's WeightedRangePartitioner, built in). Pig null ordering:
        nulls smallest."""
        df = self._compile(node.child)
        ctx = self._ctx(df)
        pairs = [(k2, asc) for k, asc in node.keys
                 for k2 in self._expand_star_keys(df, [k])]
        keys = [ctx.compile(k).asc_nulls_first() if asc
                else ctx.compile(k).desc_nulls_last()
                for k, asc in pairs]
        df = self._probe_keys(df, pairs)    # sort-key cast discards
        if node.parallel:
            # Pig ORDER ... PARALLEL n = n reducers for the range sort;
            # the output stays TOTALLY ordered across partitions. A
            # round-robin repartition after orderBy would destroy that
            # (caught by the PigMix L9 golden): range-partition on the
            # sort keys, then sort within — partition ids carry the
            # global order.
            return (df.repartitionByRange(node.parallel, *keys)
                      .sortWithinPartitions(*keys))
        return df.orderBy(*keys)

    def _c_rank(self, node: L.Rank) -> DataFrame:
        df = self._compile(node.child)
        if not node.keys:
            return self._scalable_row_number(df, node.name)
        return self._scalable_rank_by(df, node)

    def _scalable_rank_by(self, df: DataFrame, node: L.Rank) -> DataFrame:
        """RANK rel BY keys [DENSE] without a global single-partition
        window (SURVEY.md §7 hard-part 3):

          rank(t)       = 1 + Σ count(k) over keys k < t.keys
          dense_rank(t) = 1 + #distinct keys < t.keys

        1. aggregate to the distinct-key table with counts (shuffle 1,
           partial agg — |keys| rows, not |rows|);
        2. range-sort the key table and prefix-sum the counts with the
           same two-pass per-partition-offset trick as bare RANK (the
           offsets collect is one row per partition);
        3. join ranks back on the keys (shuffle 2) — null-safe equality,
           because Pig ranks null keys (they sort smallest).

        Ties share a key row, hence exactly rank()/dense_rank() ties.
        """
        ctx = self._ctx(df)
        key_names = [f"__rk{i}" for i in range(len(node.keys))]
        key_cols = [ctx.compile(k).alias(n)
                    for (k, _), n in zip(node.keys, key_names)]
        df = self._probe_keys(df, node.keys)  # rank-key cast discards
        kdf = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("__cnt"))
        order = [F.col(n).asc_nulls_first() if asc
                 else F.col(n).desc_nulls_last()
                 for (_, asc), n in zip(node.keys, key_names)]
        # shared two-pass kernel (operators/_scalable.py): rank needs
        # the exclusive ROW total, dense the exclusive KEY total
        from ..operators._scalable import exclusive_prefix_sum
        cum, n_parts = exclusive_prefix_sum(
            kdf, order, {"__rank": F.col("__cnt"), "__dense": F.lit(1)})
        ranked_keys = cum.select(*key_names,
                                 (F.col("__rank") + 1).alias("__rank"),
                                 (F.col("__dense") + 1).alias("__dense"))

        out_rank = F.col("__dense") if node.dense else F.col("__rank")
        cond = _null_safe_eq([ctx.compile(k) for k, _ in node.keys],
                             [ranked_keys[n] for n in key_names])
        joined = df.join(F.broadcast(ranked_keys) if n_parts <= 1
                         else ranked_keys, on=cond)
        return joined.select(out_rank.alias(node.name), *df.columns)

    def _scalable_row_number(self, df: DataFrame, out_name: str) -> DataFrame:
        """Reference design (POCounter/PORank, SURVEY.md §2.1 #18): pass 1
        counts rows per partition (tiny driver collect — one row per
        partition); pass 2 adds prefix-sum offset to a per-partition
        running count (operators/_scalable.py prefix_sums). No global
        shuffle, no 1-partition window."""
        staged = df.withColumn("__pid", F.spark_partition_id()) \
                   .withColumn("__mid", F.monotonically_increasing_id())
        # eager localCheckpoint, not persist: pid/mid captured here must
        # be identical in the count pass and the join pass, and
        # recompute does not guarantee that; the RDD-level blocks free
        # via GC with the result's lineage instead of pinning a
        # CacheManager entry
        staged = staged.localCheckpoint(eager=True)
        from ..operators._scalable import prefix_sums
        out, _ = prefix_sums(staged, ["__mid"], {out_name: F.lit(1)})
        return out.select((F.col(out_name) + 1).alias(out_name),
                          *df.columns)

    # ---------------------------------------------------------------- set ops
    def _c_union(self, node: L.Union) -> DataFrame:
        """UNION: bag union, NO dedup. ONSCHEMA merges by name with null
        padding; positional union requires equal arity (Pig nulls the
        schema on mismatch — we synthesize the widened schema instead,
        SURVEY.md §7 hard-part 5)."""
        dfs = [self._compile(i) for i in node.inputs]
        out = dfs[0]
        for df in dfs[1:]:
            if node.onschema or set(out.columns) != set(df.columns):
                out = out.unionByName(df, allowMissingColumns=True)
            else:
                out = out.unionByName(df)
        return out

    # -------------------------------------------------------------- streaming
    def _c_streamthrough(self, node: L.StreamThrough) -> DataFrame:
        """STREAM rel THROUGH 'cmd' — PigStreaming-compatible tab-delimited
        pipe through an external executable (POStream/ExecutableManager,
        SURVEY.md §2.9). RDD pipe is the one legitimate RDD use."""
        df = self._compile(node.child)
        ncols = len(df.columns)
        tsv = df.select(F.concat_ws(
            "\t", *[F.coalesce(F.col(c).cast("string"), F.lit(""))
                    for c in df.columns]))
        lines = tsv.rdd.map(lambda r: r[0])
        if node.shipped:
            # SHIP'd commands need the task-local SparkFiles dir as cwd —
            # resolvable only on the executor, so rdd.pipe (driver-fixed
            # argv) can't express it: subprocess-per-partition with a
            # stdin feeder thread (the ExecutableManager model).
            piped = lines.mapPartitions(_pipe_with_cwd(node.command))
        else:
            piped = lines.pipe(node.command)
        schema = node.schema
        if schema is None:
            schema = T.StructType([T.StructField(f"f{i}", T.StringType())
                                   for i in range(ncols)])
        elif isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)
        split = piped.map(lambda line: line.split("\t"))
        str_schema = T.StructType([T.StructField(f.name, T.StringType())
                                   for f in schema.fields])
        out = self.spark.createDataFrame(split, str_schema)
        casts = [F.col(f.name).cast(f.dataType).alias(f.name)
                 for f in schema.fields]
        return out.select(*casts)

    # ----------------------------------------------------------------- sinks
    def _c_store(self, node: L.Store) -> DataFrame:
        from ..sources import write
        df = self._compile(node.child)
        write(df, node.path, node.fmt, node.options, node.partition_by)
        return df


def _pipe_with_cwd(command: str):
    """Partition pipe for SHIP'd STREAM commands: run the shell command
    with cwd = the task's SparkFiles root (where addFile'd scripts land on
    every executor), feeding stdin from a thread and yielding stdout
    lines. Mirrors pig:…/impl/streaming/ExecutableManager.java."""
    def run(it):
        import subprocess
        import threading

        from pyspark import SparkFiles
        proc = subprocess.Popen(
            command, shell=True, stdin=subprocess.PIPE,
            stdout=subprocess.PIPE, cwd=SparkFiles.getRootDirectory(),
            text=True)

        def feed():
            try:
                for line in it:
                    proc.stdin.write(line + "\n")
            finally:
                try:
                    proc.stdin.close()
                except Exception:
                    pass

        t = threading.Thread(target=feed, daemon=True)
        t.start()
        for out in proc.stdout:
            yield out.rstrip("\n")
        proc.stdout.close()
        t.join()
        rc = proc.wait()
        if rc != 0:
            raise RuntimeError(
                f"STREAM command exited with status {rc}: {command!r}")
    return run
