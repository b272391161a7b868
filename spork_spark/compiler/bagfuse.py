"""Bag-pipeline fusions for nested-FOREACH inner plans that would
otherwise materialize per-group bags and evaluate interpreted array-HOF
lambdas (SURVEY.md §2.3 mapping #1's slow path).

Two rewrites, both strictly pattern-gated (anything off-shape returns
None and the caller falls back to the existing compilation):

1. ``try_fuse_topk`` — the PigMix L16 idiom ``{ s = ORDER bag BY f
   DESC; t = LIMIT s n; GENERATE key, AGG(t.f) }``. The HOF compile
   re-sorts every group's FULL bag with an interpreted comparator once
   per textual occurrence of ``t`` (interpreted HOFs get no
   common-subexpression elimination). Rewritten: one row_number window
   over the group keys pre-filters each group to its top-n rows — the
   same single exchange the aggregation needs — and the generators
   aggregate the raw (now-limited) bag through the ordinary fused
   groupBy().agg() path. This is the reference's secondary-sort /
   accumulator optimization (pig:…/backend/hadoop/executionengine/
   mapReduceLayer/SecondaryKeyOptimizer.java) in Catalyst terms.

2. ``try_fuse_inner_cross`` — the inner-CROSS aggregate idiom
   ``{ a = …; b = …; c = CROSS a, b; d = FOREACH c GENERATE …;
   GENERATE key, AGG(c/d.f) }`` (Pig 0.13+, SURVEY.md §2.3). The HOF
   compile builds the flattened cross ARRAY per aggregate occurrence:
   O(|a|·|b|) interpreted lambda steps, single-threaded per group.
   Rewritten: each CROSS side becomes a row-level plan over the group
   input (inner FOREACH → projection, inner FILTER → filter), the two
   sides equi-join on the group keys (null-safe — GROUP collects null
   keys into a real group), the pair-level FOREACH becomes a
   projection on the join output, and the generators — their bag
   references rewritten onto pair-frame columns — go through the one
   fused-generator planner (PlanCompiler._plan_fused): their aggregate
   parts run as one partial aggregation over the pair frame and the
   shared post-aggregate projection evaluates the rest. Groups whose
   cross is EMPTY still emit their Pig aggregate-over-empty-bag row —
   the count aggregates 0, the rest null (plan._fill_absent, the table
   COGROUP's outer join reads too) — via a left join from the distinct
   group keys (the same contract the HOF path implements with
   size()/aggregate() over an empty array, pinned by the nested_cross
   oracle).

Both fusions bail when cast-discard warnings are enabled
(spark.spork.warnings.enabled): the rewritten plans relocate row-level
cast sites, and warning-count parity is only pinned for the existing
compilation shapes.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.builtins import BAG_HOFS
from ..plans import expressions as E
from .plan import _fill_absent, _null_safe_eq

_SIDE_HOFS = ("FILTER_BAG", "TRANSFORM_BAG", "FOREACH_BAG")


def _is_cross(e: E.Expr) -> bool:
    return isinstance(e, E.Func) and e.name.upper() == "CROSS_BAG"


# ---------------------------------------------------------------------------
# 1. ORDER + LIMIT (top-k) fusion
# ---------------------------------------------------------------------------

def try_fuse_topk(pc, group, gens, child_df: DataFrame, ctx, keys):
    """Returns (pre-filtered child_df, rewritten generators) or None.
    See module docstring for the shape and the equivalence argument:
    Pig ORDER ranks nulls smallest (asc first / desc last — exactly
    Spark's asc_nulls_first / desc_nulls_last defaults), ties beyond
    the LIMIT cut are unspecified in both formulations (bag arrival
    order vs row_number tie-break), and LIMIT n keeps exactly
    min(n, |group|) rows either way."""
    if pc._warnings_on():
        return None
    bag_name = getattr(group, "bag_alias", None)
    if not bag_name or getattr(group, "mode", "by") != "by":
        return None

    found: list[E.Func] = []

    def is_topk(e) -> bool:
        return (isinstance(e, E.Func) and e.name.upper() == "LIMIT_BAG"
                and len(e.args) == 2 and isinstance(e.args[1], E.Lit)
                and isinstance(e.args[0], E.Func)
                and e.args[0].name.upper() == "SORT_BAG"
                and len(e.args[0].args) >= 2
                and isinstance(e.args[0].args[0], E.Col)
                and e.args[0].args[0].name == bag_name
                and all(isinstance(a, E.Lit) for a in e.args[0].args[1:]))

    def scan(e) -> bool:
        """False → disqualified: a raw-bag reference (or any other bag
        pipeline) outside the one top-k chain must see every row."""
        if is_topk(e):
            found.append(e)
            return True
        if isinstance(e, E.Col) and e.name == bag_name:
            return False
        if isinstance(e, E.Func) and e.name.upper() in BAG_HOFS:
            return False
        return all(scan(c) for c in E.children(e))

    for g in gens:
        if not scan(g):
            return None
    if not found:
        return None
    sigs = {(repr([a.value for a in e.args[0].args[1:]]),
             int(e.args[1].value)) for e in found}
    if len(sigs) != 1:
        return None                          # two different limited bags
    sargs = found[0].args[0].args
    if isinstance(sargs[1].value, str):      # builder form: field [, asc]
        spec = [(sargs[1].value,
                 bool(sargs[2].value) if len(sargs) > 2 else True)]
    else:                                    # parser form: [(field, asc), …]
        spec = list(sargs[1].value)
    n = int(found[0].args[1].value)
    if n <= 0:
        return None
    if any(not isinstance(f, str) or f not in child_df.columns
           for f, _ in spec):
        return None
    try:
        key_cols = [ctx.compile(k) for k in keys]
    except Exception:
        return None
    if not key_cols:
        return None
    order = [F.col(f).asc_nulls_first() if asc
             else F.col(f).desc_nulls_last() for f, asc in spec]
    pre = child_df
    # same single-exchange rationale as _maybe_repartition_for_windows:
    # the window forces clustering on the group keys anyway; an explicit
    # repartition runs the rank once, post-exchange, at full parallelism
    # (and "range" satisfies a downstream ORDER BY key prefix).
    mode = pc._conf("spark.spork.window.repartitionFirst", "false")
    if mode == "range":
        pre = pre.repartitionByRange(*key_cols)
    elif mode == "true":
        pre = pre.repartition(*key_cols)
    rn = "__topk_rn"
    while rn in pre.columns:
        rn = "_" + rn
    w = Window.partitionBy(*key_cols).orderBy(*order)
    pre = pre.withColumn(rn, F.row_number().over(w)) \
             .where(F.col(rn) <= F.lit(n)).drop(rn)

    def subst(e):
        return E.Col(bag_name) if is_topk(e) else None

    return pre, [E.transform(g, subst) for g in gens]


# ---------------------------------------------------------------------------
# 2. Inner-CROSS aggregate fusion
# ---------------------------------------------------------------------------

def _side_fields(e: E.Expr, bag_name: str, child_cols: list[str]):
    """Element field names a CROSS side exposes, or None when the side
    is not a convertible FILTER/TRANSFORM/projection chain over the raw
    bag."""
    if isinstance(e, E.Col):
        return list(child_cols) if e.name == bag_name else None
    if isinstance(e, E.Deref) and isinstance(e.field, str):
        inner = _side_fields(e.child, bag_name, child_cols)
        if inner is None or e.field not in inner:
            return None
        return [e.field]
    if isinstance(e, E.Func):
        nm = e.name.upper()
        if nm == "FILTER_BAG" and len(e.args) == 2:
            return _side_fields(e.args[0], bag_name, child_cols)
        if nm in ("TRANSFORM_BAG", "FOREACH_BAG") and len(e.args) == 2 \
                and isinstance(e.args[1], E.Lambda) \
                and len(e.args[1].params) == 1 \
                and isinstance(e.args[1].body, E.Func) \
                and e.args[1].body.name.upper() == "TOTUPLE":
            if _side_fields(e.args[0], bag_name, child_cols) is None:
                return None
            fields = e.args[1].body.args
            if not all(isinstance(f, E.Aliased) and isinstance(f.name, str)
                       for f in fields):
                return None
            names = [f.name for f in fields]
            return names if len(set(names)) == len(names) else None
    return None


def _compile_side(pc, e: E.Expr, bag_name: str, base: DataFrame,
                  elem_cols: list[str], key_aliases: list[str]):
    """Compile a CROSS-side bag chain to (DataFrame, element fields).
    ``base`` carries the group-key columns under ``key_aliases`` plus
    the raw element columns ``elem_cols``. Lambda variables bind to a
    struct of the current element columns — the element tuple the HOF
    lambda saw, so FILTER conditions and FOREACH projections evaluate
    identically per row."""
    if isinstance(e, E.Col):                 # raw bag
        return base, list(elem_cols)
    if isinstance(e, E.Deref):               # bag projection b.f
        df, fields = _compile_side(pc, e.child, bag_name, base,
                                   elem_cols, key_aliases)
        return df.select(*key_aliases, e.field), [e.field]
    nm = e.name.upper()
    df, fields = _compile_side(pc, e.args[0], bag_name, base,
                               elem_cols, key_aliases)
    lam = e.args[1]
    sctx = pc._ctx(df)
    sctx._lambda_env = dict(sctx._lambda_env)
    sctx._lambda_env[lam.params[0]] = F.struct(
        *[F.col(f).alias(f) for f in fields])
    if nm == "FILTER_BAG":
        return df.where(sctx.compile(lam.body)), fields
    # TRANSFORM_BAG / FOREACH_BAG: TOTUPLE of aliased projections
    cols = [sctx.compile(f.child).alias(f.name) for f in lam.body.args]
    return df.select(*key_aliases, *cols), [f.name for f in lam.body.args]


def try_fuse_inner_cross(pc, group, gens):
    """Returns the compiled FOREACH(GROUP{inner CROSS}) DataFrame, or
    None when the shape doesn't match. See module docstring."""
    from ..plans import logical as L

    if pc._warnings_on():
        return None
    if not isinstance(group, L.Group) or group.mode != "by" \
            or getattr(group, "partitioner", None) \
            or getattr(group, "parallel", None):
        return None
    bag_name = getattr(group, "bag_alias", None)
    if not bag_name:
        return None

    # -- locate exactly one two-way CROSS_BAG -----------------------------
    crosses: dict[str, E.Func] = {}

    for g in gens:
        for e in E.nodes(g):
            if _is_cross(e):
                crosses[repr(e)] = e
    if len(crosses) != 1:
        return None
    cx = next(iter(crosses.values()))
    cx_key = repr(cx)
    if len(cx.args) != 4 or not isinstance(cx.args[2], E.Lit) \
            or not isinstance(cx.args[3], E.Lit):
        return None                          # n-way fold — out of scope
    ba, bb = cx.args[0], cx.args[1]
    if any(_is_cross(x) for x in (*E.nodes(ba), *E.nodes(bb))):
        return None

    child_df = pc._compile(group.child)
    ctx = pc._ctx(child_df)
    keys = pc._expand_star_keys(child_df, group.keys)
    if not keys:
        return None
    child_cols = list(child_df.columns)

    af = _side_fields(ba, bag_name, child_cols)
    bf = _side_fields(bb, bag_name, child_cols)
    if af is None or bf is None:
        return None
    an = cx.args[2].value, cx.args[3].value
    names_a = [f if f not in bf else f"{an[0]}::{f}" for f in af]
    names_b = [f if f not in af else f"{an[1]}::{f}" for f in bf]
    pair_names = names_a + names_b
    if len(set(pair_names)) != len(pair_names):
        return None

    # -- transforms of the cross (pair-level FOREACH) ---------------------
    transforms: dict[str, E.Func] = {}

    for g in gens:
        for e in E.nodes(g):
            if isinstance(e, E.Func) and e.name.upper() in (
                    "TRANSFORM_BAG", "FOREACH_BAG") and len(e.args) == 2 \
                    and repr(e.args[0]) == cx_key:
                transforms[repr(e)] = e
    tx_fields: dict[str, dict[str, str]] = {}   # tx repr → field → col
    tx_cols: dict[str, list[tuple[str, E.Expr]]] = {}
    used = set(pair_names)
    for i, (k, tx) in enumerate(sorted(transforms.items())):
        lam = tx.args[1]
        if not isinstance(lam, E.Lambda) or len(lam.params) != 1 \
                or not isinstance(lam.body, E.Func) \
                or lam.body.name.upper() != "TOTUPLE" \
                or not all(isinstance(f, E.Aliased)
                           and isinstance(f.name, str)
                           for f in lam.body.args):
            return None
        fmap, cols = {}, []
        for f in lam.body.args:
            cn = f.name if f.name not in used else f"__tx{i}_{f.name}"
            if cn in used:
                return None
            used.add(cn)
            fmap[f.name] = cn
            cols.append((cn, f.child))
        tx_fields[k] = fmap
        tx_cols[k] = cols

    # -- rewrite generators: aggregates over pair-frame columns -----------
    key_names = [pc._key_name(k, i) for i, k in enumerate(keys)]
    gk = [f"__gk{i}" for i in range(len(keys))]

    def first_field(bagexpr):
        if repr(bagexpr) == cx_key:
            return pair_names[0]
        fmap = tx_fields.get(repr(bagexpr))
        if fmap:
            return next(iter(fmap.values()))
        return None

    def rewrite_ref(e):
        """Pre-order substitution of bag references with pair-frame
        column refs; raises ValueError when off-shape."""
        if isinstance(e, E.Deref) and isinstance(e.field, str):
            if repr(e.child) == cx_key:
                if e.field not in pair_names:
                    raise ValueError
                return E.Col(e.field)
            fmap = tx_fields.get(repr(e.child))
            if fmap is not None:
                if e.field not in fmap:
                    raise ValueError
                return E.Col(fmap[e.field])
            return None
        if isinstance(e, E.Func):
            nm = e.name.upper()
            if nm in ("COUNT", "COUNT_STAR") and len(e.args) == 1:
                ff = first_field(e.args[0])
                if ff is not None:
                    return E.Func("COUNT_STAR", []) if nm == "COUNT_STAR" \
                        else E.Func("COUNT", [E.Col(ff)])
            if nm in BAG_HOFS:
                raise ValueError             # unfusable bag use
        if isinstance(e, E.Col) and e.name == bag_name:
            raise ValueError                 # raw-bag aggregate — bail
        return None

    try:
        gens = [E.transform(g, rewrite_ref) for g in gens]
    except ValueError:
        return None
    plan = pc._plan_fused(gens, keys, "__cxa_{i}", set(key_names),
                          udafs=False)
    if plan is None:
        return None
    parts, outs, _ = plan

    # -- build the plan ---------------------------------------------------
    try:
        key_cols = [ctx.compile(k).alias(n) for k, n in zip(keys, gk)]
    except Exception:
        return None
    base = child_df.select(*child_df.columns, *key_cols)
    da, a_fields = _compile_side(pc, ba, bag_name, base, child_cols, gk)
    db, b_fields = _compile_side(pc, bb, bag_name, base, child_cols, gk)
    da = da.select(*gk, *[F.col(f).alias(n)
                          for f, n in zip(a_fields, names_a)])
    gkb = [f"{n}__b" for n in gk]
    db = db.select(*[F.col(n).alias(nb) for n, nb in zip(gk, gkb)],
                   *[F.col(f).alias(n) for f, n in zip(b_fields, names_b)])
    cond = _null_safe_eq([da[ka] for ka in gk], [db[kb] for kb in gkb])
    pair = da.join(db, cond).select(*gk, *pair_names)
    for k in sorted(tx_cols):
        pctx = pc._ctx(pair)
        pctx._lambda_env = dict(pctx._lambda_env)
        pctx._lambda_env[transforms[k].args[1].params[0]] = F.struct(
            *[F.col(n).alias(n) for n in pair_names])
        pair = pair.select(
            "*", *[pctx.compile(ex).alias(cn) for cn, ex in tx_cols[k]])

    actx = pc._ctx(pair)
    aggs = [actx.compile(p).alias(tmp) for tmp, p in parts]
    agg_df = pair.groupBy(*[F.col(n) for n in gk]).agg(*aggs)

    # -- resurrect empty-cross groups (Pig's aggregates over an empty bag)
    base_keys = base.select(*gk).distinct()
    gkr = [f"{n}__r" for n in gk]
    agg_df = agg_df.select(*[F.col(n).alias(r)
                             for n, r in zip(gk, gkr)],
                           *[tmp for tmp, _ in parts])
    cond2 = _null_safe_eq([base_keys[n] for n in gk],
                          [agg_df[r] for r in gkr])
    joined = base_keys.join(agg_df, cond2, "left").select(
        *[base_keys[n] for n in gk], *[agg_df[tmp] for tmp, _ in parts])
    return pc._project_fused(_fill_absent(joined, parts), outs, gk,
                             key_names)
