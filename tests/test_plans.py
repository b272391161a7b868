"""Physical-plan assertions: the scale guarantees in README are pinned
here, not just claimed — filter pushdown reaches the scan, fused GROUP+
FOREACH gets map-side partial aggregation (never collect_list), replicated
joins broadcast, column pruning reaches ReadSchema, whole-stage codegen
covers the hot path."""

import re

import pytest

from spork_spark import Engine, col, flatten, fn, lit

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def li(eng):
    return eng.load(f"{SF}/lineitem.parquet", alias="lineitem")


def plan_of(rel) -> str:
    df = rel.df() if hasattr(rel, "df") else rel
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(rel) -> str:
    df = rel.df() if hasattr(rel, "df") else rel
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(eng, li):
    r = li.filter(col("l_quantity") > 30.0) \
          .foreach(col("l_orderkey").alias("k"))
    p = plan_of(r)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity" in p


def test_column_pruning_reaches_scan(eng, li):
    r = li.foreach(col("l_orderkey").alias("k"),
                   col("l_quantity").alias("q"))
    p = plan_of(r)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in p


def test_fused_group_agg_is_partial_hash_agg(eng, li):
    r = (li.group_by(col("l_returnflag"))
           .foreach(col("group").alias("f"),
                    fn("SUM", col("lineitem").get("l_quantity")).alias("s")))
    p = plan_of(r)
    assert "partial_sum" in p            # map-side combine
    assert "collect_list" not in p       # no bag materialization
    assert "HashAggregate" in p and "ObjectHashAggregate" not in p


def test_key_scalar_generator_keeps_fusion(eng, li):
    """A scalar expression over the group KEY ((chararray)group,
    CONCAT(group,'!')) must not de-fuse the FOREACH into collect_list
    materialization — it evaluates post-agg from the key column. At
    scale the difference is the exchange carrying one partial-agg
    triple per map-side group vs every input row as a struct
    (docs/AB_KEYEXPR_FUSION.json: 1.3x at sf0.1, plan facts pinned)."""
    from spork_spark.parser import run_script
    rels = run_script(eng, """
        s = FOREACH (GROUP a BY l_returnflag)
            GENERATE (chararray)group AS flag, CONCAT(group, '!') AS tag,
                     COUNT(a) AS n;
        m = FOREACH (GROUP a BY (l_returnflag, l_linestatus))
            GENERATE UPPER(group.l_linestatus) AS ls,
                     SUM(a.l_quantity) AS q;
    """, relations={"a": li})
    for r in (rels["s"], rels["m"]):
        p = plan_of(r)
        assert "partial_count" in p or "partial_sum" in p
        assert "collect_list" not in p
    row = rels["s"].df().orderBy("flag").collect()[0]
    assert (row.flag, row.tag) == ("A", "A!") and row.n > 0


def test_mixed_key_agg_generator_keeps_fusion(eng, li):
    """One generator mixing the group key AND aggregates
    (CONCAT((chararray)group, ':', (chararray)COUNT(x))) splits into
    agg temps + a post-agg remainder instead of de-fusing the FOREACH."""
    from spork_spark.parser import run_script
    rels = run_script(eng, """
        s = FOREACH (GROUP a BY l_returnflag)
            GENERATE CONCAT((chararray)group,
                            CONCAT(':', (chararray)COUNT(a))) AS tag,
                     SUM(a.l_quantity) AS q;
    """, relations={"a": li})
    p = plan_of(rels["s"])
    assert "partial_count" in p and "collect_list" not in p
    tags = sorted(r.tag for r in rels["s"].df().collect())
    assert all(":" in t and t.split(":")[1].isdigit() for t in tags)


def test_agg_alias_colliding_with_key_name(eng, li):
    """An aggregate (or mixed generator) ALIASED like a group key must
    not produce an ambiguous column on the aggregated frame — the agg
    computes under a safe temp and aliases back."""
    from spork_spark.parser import run_script
    rels = run_script(eng, """
        s = FOREACH (GROUP a BY l_returnflag)
            GENERATE COUNT(a) AS l_returnflag;
        m = FOREACH (GROUP a BY l_returnflag)
            GENERATE CONCAT((chararray)group,
                            (chararray)COUNT(a)) AS l_returnflag;
    """, relations={"a": li})
    assert sorted(r.l_returnflag for r in rels["s"].df().collect()) == \
        sorted(int(t.l_returnflag[1:]) for t in rels["m"].df().collect())
    assert "collect_list" not in plan_of(rels["m"])


def test_escaping_bag_materializes(eng, li):
    r = (li.group_by(col("l_returnflag"))
           .foreach(col("group").alias("f"),
                    col("lineitem").alias("bag")))
    assert "collect_list" in plan_of(r)  # bag escapes → materialize


def test_replicated_join_broadcasts(eng):
    li2 = eng.load(f"{SF}/lineitem.parquet", alias="l2")
    part = eng.load(f"{SF}/part.parquet", alias="p2")
    r = li2.join([col("l_partkey")], part, [col("p_partkey")],
                 strategy="replicated")
    p = plan_of(r)
    assert "BroadcastHashJoin" in p and "BroadcastExchange" in p


def test_order_limit_fuses_to_topk(eng, li):
    r = li.foreach(col("l_orderkey").alias("k"),
                   col("l_extendedprice").alias("p")) \
          .order_by((col("p"), False)).limit(10)
    assert "TakeOrderedAndProject" in plan_of(r)


def test_whole_stage_codegen_covers_builtins(eng):
    cust = eng.load(f"{SF}/customer.parquet", alias="c")
    r = cust.foreach(fn("UPPER", col("c_name")).alias("u"),
                     fn("SUBSTRING", col("c_name"), 0, 5).alias("s"),
                     fn("INDEXOF", col("c_name"), lit("_")).alias("i"))
    p = plan_of(r)
    assert "*(1)" in p                   # whole-stage-codegen stage marker
    assert "BatchEvalPython" not in p    # builtins never fall to Python


def test_semi_join_stays_semi(eng):
    cust = eng.load(f"{SF}/customer.parquet", alias="c3")
    orders = eng.load(f"{SF}/orders.parquet", alias="o3")
    r = cust.join([col("c_custkey")], orders, [col("o_custkey")], how="semi")
    assert "LeftSemi" in plan_of(r)


def test_multi_consumer_parent_persisted(eng, spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "a int")
    outs = eng.from_df(df).filter(col("a") >= 0).split(
        col("a") > 5, col("a") <= 5)
    p = plan_of(outs[0])
    assert "InMemoryTableScan" in p      # shared parent cached once


def test_nested_distinct_fuses_to_distinct_agg(eng):
    """PigMix L4/L15 idiom: FOREACH (GROUP x BY k) { d = DISTINCT x.f;
    GENERATE COUNT(d) / SUM(d) } must compile to fused
    count_distinct/sum_distinct aggregates (two-phase, spillable), never
    to a materialized-then-deduplicated bag."""
    from spork_spark.parser import run_script

    rels = run_script(eng, f"""
        li = LOAD '{SF}/lineitem.parquet';
        g = GROUP li BY l_returnflag;
        agg = FOREACH g {{ d = DISTINCT li.l_partkey;
                           u = DISTINCT li.l_quantity;
                           GENERATE group AS flag, COUNT(d) AS n_parts,
                                    SUM(u) AS uq, SUM(li.l_quantity) AS q; }};
    """)
    p = plan_of(rels["agg"])
    assert "collect_list" not in p and "array_distinct" not in p
    rows = {r["flag"]: r for r in rels["agg"].df().collect()}
    # sf0.001 lineitem: 200 distinct parts per flag; quantities are 1..50
    # so the per-flag distinct-quantity sum is 1275.0
    assert rows["A"]["n_parts"] == 200 and rows["A"]["uq"] == 1275.0
    assert rows["A"]["q"] > rows["A"]["uq"]


def test_inner_filter_agg_fuses(eng):
    """FOREACH (GROUP x BY k) { f = FILTER x BY cond; GENERATE COUNT(f),
    SUM(f.v) } fuses to agg(when(cond, v)) — map-side partial aggregation,
    no materialized bag (SURVEY.md §2.3 mapping #2)."""
    from spork_spark.parser import run_script

    rels = run_script(eng, f"""
        o = LOAD '{SF}/orders.parquet';
        g = GROUP o BY o_custkey;
        agg = FOREACH g {{ big = FILTER o BY o_totalprice > 150000.0;
                           GENERATE group AS custkey, COUNT(big) AS n_big,
                                    SUM(big.o_totalprice) AS big_total; }};
    """)
    p = plan_of(rels["agg"])
    assert "collect_list" not in p
    assert "partial_count" in p or "HashAggregate" in p
    row = {r["custkey"]: r for r in rels["agg"].df().collect()}[0]
    assert row["n_big"] == 9 and abs(row["big_total"] - 2715836.51) < 1e-6


def test_inner_filter_count_star_fuses(eng):
    """PigMix L7 (nested split) with COUNT_STAR legs: COUNT_STAR(filtered
    bag) must rewrite to COUNT(when(cond, 1)) and fuse — COUNT_STAR would
    otherwise count the nulls the filter introduces (or worse, fall back
    to bag materialization)."""
    from spork_spark.parser import run_script

    rels = run_script(eng, f"""
        o = LOAD '{SF}/orders.parquet';
        g = GROUP o BY o_orderstatus;
        agg = FOREACH g {{ hi = FILTER o BY o_totalprice > 150000.0;
                           lo = FILTER o BY o_totalprice < 50000.0;
                           GENERATE group AS st, COUNT_STAR(hi) AS n_hi,
                                    COUNT_STAR(lo) AS n_lo,
                                    COUNT_STAR(o) AS n; }};
    """)
    p = plan_of(rels["agg"])
    assert "collect_list" not in p and "ObjectHashAggregate" not in p
    rows = {r["st"]: r for r in rels["agg"].df().collect()}
    for r in rows.values():
        assert r["n_hi"] + r["n_lo"] <= r["n"]
        assert r["n_hi"] > 0 and r["n_lo"] > 0
    import duckdb
    exp = duckdb.sql(f"""
        SELECT o_orderstatus st,
               COUNT(*) FILTER (WHERE o_totalprice > 150000.0) n_hi,
               COUNT(*) FILTER (WHERE o_totalprice < 50000.0) n_lo,
               COUNT(*) n
        FROM '{SF}/orders.parquet' GROUP BY 1""").fetchall()
    for st, n_hi, n_lo, n in exp:
        assert (rows[st]["n_hi"], rows[st]["n_lo"], rows[st]["n"]) == \
               (n_hi, n_lo, n)


def _raw_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_asof_join_is_single_shuffle_window(spark):
    """asof_join compiles to union + ONE hash exchange + Window — no join
    operator, no per-key cross product (docs/SCALE.md claim)."""
    from spork_spark.operators import asof_join
    left = spark.createDataFrame([(1, 10, "a")], "u long, ts long, x string")
    right = spark.createDataFrame([(1, 8, 1.0)], "u long, ts long, p double")
    plan = _raw_plan(asof_join(left, right, on="ts", by="u"))
    assert "Window" in plan
    assert "Join" not in plan            # no SMJ/SHJ/BNLJ at all
    assert plan.count("Exchange hashpartitioning") == 1


def test_range_join_avoids_nested_loop(spark):
    """range_join is an equi-join on the bin key — never
    BroadcastNestedLoopJoin/CartesianProduct (Spark's native plan for an
    inequality-only join)."""
    from spork_spark.operators import range_join
    pts = spark.createDataFrame([(1, 5.0)], "id long, x double")
    ivs = spark.createDataFrame([("a", 0.0, 10.0)],
                                "label string, lo double, hi double")
    plan = _raw_plan(range_join(pts, ivs, "x", "lo", "hi", bin_width=5.0))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)


def test_decontaminate_is_broadcast_semi(spark):
    """decontaminate marks hits with a broadcast LEFT SEMI join — the
    corpus side is never shuffled for the membership probe."""
    from spork_spark.operators import decontaminate
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    bench = spark.createDataFrame([(2, "a b c d")], "doc_id long, text string")
    plan = _raw_plan(decontaminate(docs, bench, n=2, mode="flag"))
    assert "LeftSemi" in plan
    assert "BroadcastExchange" in plan


def test_to_view_sql_interop(eng, spark):
    from spork_spark import col, fn
    df = spark.createDataFrame([(1, 2.0), (1, 3.0), (2, 5.0)],
                               "k int, v double")
    (eng.from_df(df, alias="t").group_by(col("k"))
        .foreach(col("group").alias("k"),
                 fn("SUM", col("t").get("v")).alias("sv"))
        .to_view("agg_view"))
    got = sorted(map(tuple, spark.sql(
        "SELECT k, sv FROM agg_view ORDER BY k").collect()))
    assert got == [(1, 5.0), (2, 5.0)]


# -- join-before-explode (PushDownForEachFlatten, SURVEY.md §4.1) -----------

def _jbf_fixtures(eng, spark):
    left = spark.createDataFrame(
        [(1, 10, ["a", "b"]), (2, 20, []), (3, 30, ["c"]), (4, 40, None)],
        "k int, payload int, bag array<string>")
    dim = spark.createDataFrame([(1, "x"), (3, "y"), (5, "z")],
                                "k int, v string")
    return eng.from_df(left, alias="jl"), eng.from_df(dim, alias="jd")


def test_flatten_defers_below_inner_join(eng, spark):
    """FLATTEN-then-JOIN on a non-flattened key reorders to join-first:
    the explode (row amplification) runs above the join, so the shuffle
    moves un-amplified rows (pig:…/rules/PushDownForEachFlatten.java)."""
    l, d = _jbf_fixtures(eng, spark)
    r = l.foreach(col("k"), col("payload"),
                  flatten(col("bag")).alias("tok")) \
         .join([col("k")], d, [col("k")])
    got = sorted((row.tok, row.v) for row in r.df().collect())
    assert got == [("a", "x"), ("b", "x"), ("c", "y")]
    # column order matches the eager path: flattened col at its position
    assert [c.split("::")[-1] for c in r.df().columns] == \
        ["k", "payload", "tok", "k", "v"]
    plan = optimized_of(r)
    assert "Generate" in plan and "Join" in plan
    # outer operators print first: Generate above Join = explode after join
    assert plan.index("Generate") < plan.index("Join")


def test_flatten_stays_eager_when_key_is_flattened(eng, spark):
    """Join key produced by the FLATTEN ⇒ the reorder is illegal and must
    not fire; results still correct with the explode below the join."""
    l, _ = _jbf_fixtures(eng, spark)
    toks = eng.from_df(
        l.df().sparkSession.createDataFrame([("a", 1), ("c", 2)],
                                            "tok string, w int"), alias="jt")
    r = l.foreach(col("k"), flatten(col("bag")).alias("tok")) \
         .join([col("tok")], toks, [col("tok")])
    got = sorted((row.k, row.w) for row in r.df().collect())
    assert got == [(1, 1), (3, 2)]
    plan = optimized_of(r)
    assert plan.index("Join") < plan.index("Generate")


def test_flatten_stays_eager_on_outer_join(eng, spark):
    """LEFT OUTER preserves unmatched right rows with a null bag — the
    deferred explode would drop them, so outer joins keep the eager order."""
    l, d = _jbf_fixtures(eng, spark)
    r = d.join([col("k")],
               l.foreach(col("k"), flatten(col("bag")).alias("tok")),
               [col("k")], how="left")
    got = sorted((row[0], row.tok) for row in r.df().collect())
    assert got == [(1, "a"), (1, "b"), (3, "c"), (5, None)]
    plan = optimized_of(r)
    assert plan.index("Join") < plan.index("Generate")


def test_dedup_lines_is_broadcast_anti(spark):
    """The boilerplate hash set joins back as a BROADCAST anti-join — the
    corpus side never shuffles for the removal step."""
    from spork_spark.operators import dedup_lines
    df = spark.createDataFrame([(1, "a\nb"), (2, "a\nc")],
                               "doc_id long, text string")
    p = _raw_plan(dedup_lines(df))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p


def test_resample_mixture_is_map_side(spark):
    """Mixture resampling is a pure map-side explode: no Exchange in the
    plan (the weights predicate + sequence generate stay in the scan
    stage)."""
    from spork_spark.operators import resample_mixture
    df = spark.createDataFrame([(1, "en"), (2, "fr")],
                               "doc_id long, lang string")
    out = resample_mixture(df, "lang", {"en": 2.0}, key_col="doc_id")
    p = _raw_plan(out)
    assert "Exchange" not in p and "Generate" in p


def test_interval_join_no_nested_loop(spark):
    """interval_join must plan as an equi-join (hash/merge) with the time
    range as a post-join filter — never a BroadcastNestedLoopJoin."""
    from spork_spark.streaming import interval_join
    l = spark.createDataFrame([(1, "2024-01-01 00:00:00")],
                              "k long, l_ts string") \
        .selectExpr("k", "CAST(l_ts AS TIMESTAMP) l_ts")
    r = spark.createDataFrame([(1, "2024-01-01 00:01:00")],
                              "k long, r_ts string") \
        .selectExpr("k", "CAST(r_ts AS TIMESTAMP) r_ts")
    j = interval_join(l, r, "k", "l_ts", "r_ts")
    assert "NestedLoop" not in _raw_plan(j)


# -- eager aggregation (partial agg below inner joins) ----------------------

def test_eager_agg_pushes_partial_below_join(eng):
    """FOREACH (GROUP (JOIN …) BY dim_attr) GENERATE AGG(fact.field):
    the fact side pre-aggregates by its join key BEFORE the join (eager
    aggregation — a rewrite Catalyst lacks), so the exchange carries one
    partial row per key instead of every fact row."""
    orders = eng.load(f"{SF}/orders.parquet", alias="eao")
    cust = eng.load(f"{SF}/customer.parquet", alias="eac")
    j = cust.join([col("c_custkey")], orders, [col("o_custkey")])
    g = j.group_by(col("c_mktsegment"))
    r = g.foreach(col("group").alias("seg"),
                  fn("SUM", col(j.alias).get("o_totalprice")).alias("total"),
                  fn("COUNT_STAR").alias("n"))
    p = plan_of(r)
    assert "__ea_" in p                      # partials present
    # four aggregate operators: pre partial+final below the join, outer
    # partial+final above it (the non-eager plan has only two)
    assert p.count("HashAggregate") >= 4
    import duckdb
    exp = {row[0]: (row[1], row[2]) for row in duckdb.sql(f"""
        SELECT c_mktsegment, SUM(o_totalprice), COUNT(*)
        FROM '{SF}/customer.parquet' c JOIN '{SF}/orders.parquet' o
          ON c_custkey = o_custkey GROUP BY 1""").fetchall()}
    got = {row.seg: (row.total, row.n) for row in r.df().collect()}
    assert set(got) == set(exp)
    for k in got:
        assert abs(got[k][0] - exp[k][0]) < 1e-4 and got[k][1] == exp[k][1]


def test_eager_agg_skips_outer_join(eng):
    """LEFT joins null-extend the fact side — eager aggregation is
    illegal there and must not fire."""
    orders = eng.load(f"{SF}/orders.parquet", alias="eao2")
    cust = eng.load(f"{SF}/customer.parquet", alias="eac2")
    j = cust.join([col("c_custkey")], orders, [col("o_custkey")],
                  how="left")
    g = j.group_by(col("c_mktsegment"))
    r = g.foreach(col("group").alias("seg"),
                  fn("COUNT_STAR").alias("n"))
    assert "__ea_" not in plan_of(r)
    import duckdb
    exp = {row[0]: row[1] for row in duckdb.sql(f"""
        SELECT c_mktsegment, COUNT(*)
        FROM '{SF}/customer.parquet' c LEFT JOIN '{SF}/orders.parquet' o
          ON c_custkey = o_custkey GROUP BY 1""").fetchall()}
    got = {row.seg: row.n for row in r.df().collect()}
    assert got == exp


def test_rank_offsets_broadcast_not_literal(eng, spark):
    """RANK prefix-sum offsets join as a broadcast DataFrame keyed on
    __pid — O(1) expression tree at any partition count (the alternative,
    a create_map literal with one entry per partition, is a megabyte-scale
    expression at ~1e5 shuffle partitions)."""
    df = spark.createDataFrame(
        [(i % 7, float(i % 5)) for i in range(200)], "k int, v double")
    # bare RANK (row_number path)
    bare = eng.from_df(df).rank()
    p = plan_of(bare)
    assert "BroadcastHashJoin [__pid" in p or "BroadcastHashJoin [cast(__pid" in p
    assert "keys: [" not in p  # no create_map literal in the plan
    # RANK BY (distinct-key path)
    by = eng.from_df(df).rank((col("v"), True))
    p2 = plan_of(by)
    assert "BroadcastHashJoin" in p2
    assert "map(" not in p2
    # sorted-neighborhood positions: every window is per __pid
    from spork_spark.operators import sorted_neighborhood_pairs
    p3 = plan_of(sorted_neighborhood_pairs(df, "k", "v"))
    parts = re.findall(r"Window \[.*\], \[([^\]]*)\], \[", p3)
    assert parts and all(re.fullmatch(r"__pid#\d+", x) for x in parts)
    assert "BroadcastHashJoin [__pid" in p3
    assert "map(" not in p3


def test_merge_sparse_prunes_below_smj(eng, spark):
    """USING 'merge-sparse': the right input is broadcast-semi-pruned on
    the left's distinct keys BELOW the sort-merge join's exchange+sort —
    non-matching right rows never shuffle or sort (the Spark-first analog
    of POMergeCogroup's sparse-index seeks)."""
    part = eng.load(f"{SF}/part.parquet", alias="part")
    li = eng.load(f"{SF}/lineitem.parquet", alias="lineitem")
    sparse = part.filter(col("p_retailprice") > lit(1900.0))
    j = sparse.join([col("p_partkey")], li, [col("l_partkey")],
                    strategy="merge_sparse")
    p = plan_of(j)
    assert "SortMergeJoin" in p
    assert "LeftSemi" in p and "BroadcastHashJoin" in p
    # the semi prune is below the SMJ's sort of the right side
    assert p.index("BroadcastHashJoin") > p.index("SortMergeJoin")
    # equivalence to the plain inner join
    plain = sparse.join([col("p_partkey")], li, [col("l_partkey")])
    assert sorted(map(tuple, j.df().collect())) == \
        sorted(map(tuple, plain.df().collect()))


def test_distinct_skip_partial_agg_conf(eng, spark):
    """spark.spork.distinct.skipPartialAgg=true compiles DISTINCT as
    repartition-then-dedup: the exchange carries raw rows and BOTH
    aggregate passes run post-shuffle (single-row-group inputs scan as
    one task, so a map-side partial agg would run single-threaded for
    zero reduction — FLOOR_r05.json). Results identical either way."""
    from spork_spark import col
    li = eng.load("/root/testdata/sf0.001/lineitem.parquet")
    proj = li.foreach(col("l_orderkey").alias("k"),
                      col("l_partkey").alias("p"))
    spark.conf.set("spark.spork.distinct.skipPartialAgg", "true")
    try:
        d_on = proj.distinct().df()
        plan_on = d_on._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.spork.distinct.skipPartialAgg", "false")
    d_off = proj.distinct().df()
    # bypass: exactly one exchange, and no HashAggregate BELOW it
    below = plan_on.split("Exchange")[-1]     # deepest segment = map side
    assert "HashAggregate" not in below
    assert d_on.count() == d_off.count()


def test_window_repartition_first_conf(eng, spark):
    """spark.spork.window.repartitionFirst=true repartitions on the
    window PARTITION BY keys before the window: same single exchange,
    but the sort + WindowGroupLimit run once, post-shuffle, at full
    parallelism (no map-side full sort on parallelism-starved scans)."""
    from spork_spark import col
    from spork_spark.plans import expressions as E
    orders = eng.load("/root/testdata/sf0.001/orders.parquet")
    w = E.WindowFunc("rank", [], [col("o_custkey")],
                     [(col("o_totalprice"), False)])
    spark.conf.set("spark.spork.window.repartitionFirst", "true")
    try:
        ranked = orders.foreach(col("o_custkey").alias("c"),
                                E.Aliased(w, "rnk")).filter(col("rnk") <= 3)
        df_on = ranked.df()
        plan_on = df_on._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.spork.window.repartitionFirst", "false")
    df_off = orders.foreach(col("o_custkey").alias("c"),
                            E.Aliased(w, "rnk")).filter(col("rnk") <= 3).df()
    assert plan_on.count("WindowGroupLimit") <= 1     # no Partial pass
    assert df_on.count() == df_off.count()


def test_window_repartition_first_range_mode(eng, spark):
    """repartitionFirst="range": one RangePartitioning exchange feeds
    the window, and a downstream ORDER BY prefixed by the window keys
    plans as a partition-local sort — NO second exchange, so no
    range-bound sampling pass re-executing the window subplan. Output
    must be identical (including global order) to the hash mode."""
    from spork_spark import col
    from spork_spark.plans import expressions as E

    def build():
        orders = eng.load("/root/testdata/sf0.001/orders.parquet")
        w = E.WindowFunc("rank", [], [col("o_custkey")],
                         [(col("o_totalprice"), False)])
        return (orders.foreach(col("o_custkey").alias("c"),
                               col("o_orderkey").alias("o"),
                               E.Aliased(w, "rnk"))
                      .filter(col("rnk") <= 3)
                      .order_by(col("c"), col("rnk"), col("o")).df())

    spark.conf.set("spark.spork.window.repartitionFirst", "range")
    # Static shape needs AQE off here: on TINY inputs AQE coalesces the
    # range shuffle, the read loses its RangePartitioning guarantee, and
    # EnsureRequirements re-adds the final sort's exchange. At real
    # partition fill (sf1 bench) no coalescing happens and the
    # one-exchange plan survives AQE (measured: 0.50 -> 0.32 s).
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df_rng = build()
        rows_rng = [tuple(r) for r in df_rng.collect()]
        plan = df_rng._jdf.queryExecution().executedPlan().toString()
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        rows_aqe = [tuple(r) for r in build().collect()]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.spork.window.repartitionFirst", "false")
    rows_hash = [tuple(r) for r in build().collect()]
    assert plan.count("Exchange rangepartitioning") == 1
    assert "Exchange hashpartitioning" not in plan
    assert rows_rng == rows_hash and rows_rng     # exact global order
    assert rows_aqe == rows_hash                  # AQE-coalesced parity


def test_join_hint_skipped_when_side_broadcastable(eng, spark):
    """With spark.spork.join.defaultStrategy=shuffle_hash, a join whose
    small side fits under autoBroadcastJoinThreshold must NOT be hinted
    (the hint would override Catalyst's broadcast selection and force
    exchanges on both sides)."""
    from spork_spark import col
    orders = eng.load("/root/testdata/sf0.001/orders.parquet")
    cust = eng.load("/root/testdata/sf0.001/customer.parquet")
    spark.conf.set("spark.spork.join.defaultStrategy", "shuffle_hash")
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                   str(10 * 1024 * 1024))
    try:
        j = cust.join([col("c_custkey")], orders, [col("o_custkey")]).df()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        # and when nothing is broadcastable, the hint applies
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j2 = cust.join([col("c_custkey")], orders, [col("o_custkey")]).df()
        plan2 = j2._jdf.queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin" in plan2
    finally:
        spark.conf.set("spark.spork.join.defaultStrategy", "auto")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)


def test_gap_fill_two_keyed_exchanges_no_python(spark):
    """gap_fill = daily groupBy + spine equi-join + ONE keyed window —
    no Python row crossings, no cartesian (docs/SCALE.md claim)."""
    import pyspark.sql.functions as F
    from spork_spark.operators import gap_fill
    df = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00", 1.0)],
        "k string, ts string, value double") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    plan = _raw_plan(gap_fill(df, "k", "ts", "value"))
    assert "BatchEvalPython" not in plan and "CartesianProduct" not in plan
    assert "Window" in plan
    assert "HashAggregate" in plan           # map-combined daily sums


def test_group_ols_single_aggregation_no_window(spark):
    """group_ols: broadcast first-day join + ONE aggregation — no window,
    no Python, group-count-sized output."""
    import pyspark.sql.functions as F
    from spork_spark.operators import group_ols
    df = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00", 1.0)],
        "g string, ts string, value double") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    plan = _raw_plan(group_ols(df, "g", "ts", "value"))
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_equifreq_bins_window_over_distinct_only(spark):
    """The unpartitioned cumulative window must sit ABOVE the distinct-
    value aggregate (value-cardinality input), never over the raw data."""
    from spork_spark.operators import equifreq_bins
    df = spark.createDataFrame([(float(i),) for i in range(50)],
                               "value double")
    plan = _raw_plan(equifreq_bins(df, "value", 5))
    # window input flows from a HashAggregate (the distinct-value pass)
    assert plan.index("HashAggregate") < len(plan)
    w = plan.index("Window")
    assert "HashAggregate" in plan[w:], \
        "no aggregate below the window: it would scan raw rows"


def test_equifreq_bins_above_fence_no_global_window(spark):
    """Above the cardinality fence the cumulative count must take the
    range-partitioned two-pass prefix sum: every Window in the plan is
    partitioned by __pid (no single-task global window), and the
    offsets arrive as a broadcast join, not a literal map."""
    from spork_spark.operators import equifreq_bins
    df = spark.createDataFrame([(float(i),) for i in range(50)],
                               "value double")
    spark.conf.set("spark.spork.prefixSum.cardinalityFence", "3")
    try:
        plan = _raw_plan(equifreq_bins(df, "value", 5))
    finally:
        spark.conf.unset("spark.spork.prefixSum.cardinalityFence")
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "__pid" in line, f"unpartitioned window: {line}"
    assert "BroadcastHashJoin [__pid" in plan \
        or "BroadcastHashJoin [cast(__pid" in plan


def test_bigram_lm_no_self_join_on_docs(spark):
    """The bigram stream is built by arrays_zip of two slices inside one
    projection — no join of the doc table to itself, no Python."""
    from spork_spark.operators import bigram_lm_score
    df = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
    plan = _raw_plan(bigram_lm_score(df))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_embedding_covariance_partials_then_fold(spark):
    """mapInPandas Gram kernel feeds a map-combined HashAggregate — the
    corpus never reaches the exchange as vectors."""
    from spork_spark.operators import embedding_covariance
    df = spark.createDataFrame([(1, [1.0, 2.0]), (2, [3.0, 4.0])],
                               "vec_id bigint, embedding array<double>")
    plan = _raw_plan(embedding_covariance(df, "embedding", dim=2))
    assert "MapInPandas" in plan
    assert "HashAggregate" in plan
    assert plan.index("HashAggregate") < plan.index("MapInPandas"), \
        "fold must sit above the kernel (plans print top-down)"


def test_stream_upsert_base_never_shuffles(spark):
    """merge_upsert's anti-join broadcasts the batch key set; the base
    snapshot side carries no Exchange (docs/SCALE.md claim)."""
    from spork_spark.operators import merge_upsert
    base = spark.createDataFrame([(1, "a")], "id bigint, val string")
    upd = spark.createDataFrame([(1, "b")], "id bigint, val string")
    plan = _raw_plan(merge_upsert(base, upd, ["id"]))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_percentile_fusion_shares_one_buffer(eng, li):
    """Same-column PERCENTILEs fuse into ONE percentile(c, array(...))
    aggregate (exact percentile is holistic — each unfused percentage
    buffers the whole column), and the fused values are identical to
    one FOREACH per percentage (a lone PERCENTILE per column has
    nothing to share a buffer with)."""
    bag = col("lineitem")

    def q(*pcts):
        return (li.group_by(col("l_returnflag"))
                  .foreach(col("group").alias("f"),
                           *[fn("PERCENTILE", bag.get("l_extendedprice"),
                                lit(pct)).alias(f"p{i}")
                             for i, pct in enumerate(pcts)]))
    fused = q(0.5, 0.95)
    p = plan_of(fused)
    assert "[0.5,0.95]" in p              # one shared array-percentile
    assert p.count("percentile(l_extendedprice") <= 2  # partial+final only
    p50, p95 = q(0.5), q(0.95)
    assert "[0.5" not in plan_of(p50) and "0.95]" not in plan_of(p95)
    singles = [dict(map(tuple, r.df().collect())) for r in (p50, p95)]
    assert sorted(map(tuple, fused.df().collect())) == \
           sorted((f, singles[0][f], singles[1][f]) for f in singles[0])


def _cogroup_pair(eng, a, b, by, gens):
    """Run one COGROUP script twice: anti-joined with IsEmpty(tb) (the
    aggregate-only shape) and with SIZE(tb) == 0 (the same test, but
    SIZE is not an aggregate, so the bags materialize). Returns the two
    frames."""
    from spork_spark.parser import run_script
    rels_in = {"ta": eng.from_df(a, alias="ta"),
               "tb": eng.from_df(b, alias="tb")}
    out = []
    for test in ("IsEmpty(tb)", "SIZE(tb) == 0"):
        script = f"""
            cg = COGROUP ta BY {by}, tb BY {by};
            anti = FILTER cg BY {test};
            out = FOREACH anti GENERATE {gens};
        """
        out.append(run_script(eng, script, relations=rels_in)["out"].df())
    return out


def test_cogroup_agg_fusion_skips_bags(eng, spark):
    """COGROUP + IsEmpty filters + algebraic-only generators compile to
    per-side partial aggregation (no collect_list), with values — incl.
    null keys and empty-bag COUNT/SUM semantics — identical to the
    materialized-bag path."""
    a = spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (2, 1.0), (None, 7.0)], "k int, v double")
    b = spark.createDataFrame(
        [(2, "x"), (3, "y"), (None, "z")], "k int, s string")
    fused, plain = _cogroup_pair(
        eng, a, b, "k", "group AS k, COUNT_STAR(ta) AS n, SUM(ta.v) AS sv")
    assert "collect_list" not in plan_of(fused)
    assert "collect_list" in plan_of(plain)
    assert sorted(map(tuple, fused.collect()), key=str) == \
           sorted(map(tuple, plain.collect()), key=str)


def test_cogroup_agg_fusion_multi_key(eng, spark):
    """A two-key COGROUP with aggregate-only consumers takes the same
    fused path as a one-key COGROUP: no collect_list, and the rows —
    null keys in either position forming their own groups, the struct
    `group`, COUNT_STAR 0 over the empty tb bag, SUM null over only
    nulls — equal the materialized-bag twin's."""
    a = spark.createDataFrame(
        [(1, 1, 10.0), (1, 1, 5.0), (1, 2, 1.0), (2, 1, 4.0),
         (None, 1, 7.0), (None, 1, 2.0), (1, None, 3.0), (None, None, 8.0),
         (3, 3, None)],
        "k1 int, k2 int, v double")
    b = spark.createDataFrame(
        [(1, 2, "x"), (2, 1, "y"), (None, 1, "z"), (4, 4, "w")],
        "k1 int, k2 int, s string")
    fused, plain = _cogroup_pair(
        eng, a, b, "(k1, k2)",
        "group AS g, COUNT_STAR(ta) AS n, SUM(ta.v) AS sv, "
        "COUNT_STAR(tb) AS nb")
    assert "collect_list" not in plan_of(fused)
    assert "collect_list" in plan_of(plain)
    assert fused.columns == plain.columns == ["g", "n", "sv", "nb"]
    rows = sorted(map(tuple, fused.collect()), key=str)
    assert rows == sorted(map(tuple, plain.collect()), key=str)
    assert sorted(((tuple(g), n, sv, nb) for g, n, sv, nb in rows),
                  key=str) == sorted([((1, 1), 2, 15.0, 0),
                                      ((1, None), 1, 3.0, 0),
                                      ((None, None), 1, 8.0, 0),
                                      ((3, 3), 1, None, 0)], key=str)


def test_cogroup_agg_fusion_fuses_group_deref(eng, spark):
    """group.field on a struct-typed single cogroup key is a field of
    the key on the fused path too: the shape fuses (no collect_list)
    and projects the dereferenced field, as the bag path does."""
    from pyspark.sql import functions as SF
    from spork_spark.parser import run_script
    a = spark.createDataFrame(
        [(1, 10, 10.0), (1, 20, 5.0), (2, 10, 1.0)], "f1 int, f2 int, v double")
    b = spark.createDataFrame([(2, 10, "x"), (3, 30, "y")],
                              "f1 int, f2 int, s string")
    a2 = a.select(SF.struct("f1", "f2").alias("k"), "v")
    b2 = b.select(SF.struct("f1", "f2").alias("k"), "s")
    rels_in = {"ta": eng.from_df(a2, alias="ta"),
               "tb": eng.from_df(b2, alias="tb")}
    script = """
        cg = COGROUP ta BY k, tb BY k;
        anti = FILTER cg BY IsEmpty(tb);
        out = FOREACH anti GENERATE group.f1 AS kf, COUNT_STAR(ta) AS n;
    """
    df = run_script(eng, script, relations=rels_in)["out"].df()
    rows = sorted(map(tuple, df.collect()))
    assert "collect_list" not in plan_of(df)
    assert df.columns == ["kf", "n"]
    assert rows == [(1, 1), (1, 1)]  # field value per struct group


def test_fused_group_deref_on_struct_key(eng, spark):
    """group.<field> on a single struct-typed GROUP key reads that field
    of the key in the fused plan (it was read as a key column named
    <field>, which does not exist)."""
    from pyspark.sql import functions as SF
    from spork_spark.parser import run_script
    a = spark.createDataFrame(
        [(1, 10, 10.0), (1, 20, 5.0), (1, 20, 2.0), (2, 10, 1.0)],
        "f1 int, f2 int, v double")
    ta = eng.from_df(a.select(SF.struct("f1", "f2").alias("k"), "v"),
                     alias="ta")
    df = run_script(eng, """
        g = GROUP ta BY k;
        out = FOREACH g GENERATE group.f1 AS kf, group.f2 + 1 AS k2,
                                 COUNT_STAR(ta) AS n;
    """, relations={"ta": ta})["out"].df()
    assert "collect_list" not in plan_of(df)
    assert sorted(map(tuple, df.collect())) == \
        [(1, 11, 1), (1, 21, 2), (2, 11, 1)]


def test_fused_positional_group_deref_on_struct_key(eng, spark):
    """group.$i on a single struct-typed key is field i of the key on
    the fused GROUP and COGROUP paths, bare and inside a remainder, and
    the rows equal the bag path's (its twin counts with SIZE, which is
    not an aggregate); group.$1 was read as a second key."""
    from pyspark.sql import functions as SF
    from spork_spark.parser import run_script
    a = spark.createDataFrame(
        [(1, 10, 10.0), (1, 20, 5.0), (1, 20, 2.0), (2, 10, 1.0)],
        "f1 int, f2 int, v double")
    b = spark.createDataFrame([(2, 10, "x"), (3, 30, "y")],
                              "f1 int, f2 int, s string")
    rels = {"ta": eng.from_df(a.select(SF.struct("f1", "f2").alias("k"),
                                       "v"), alias="ta"),
            "tb": eng.from_df(b.select(SF.struct("f1", "f2").alias("k"),
                                       "s"), alias="tb")}
    gens = "group.$0 AS x, group.$1 AS y, group.$0 + 1 AS z, {}(ta) AS n"
    got = {}
    for agg in ("COUNT_STAR", "SIZE"):
        outs = run_script(eng, f"""
            g = GROUP ta BY k;
            go = FOREACH g GENERATE {gens.format(agg)};
            cg = COGROUP ta BY k, tb BY k;
            co = FOREACH cg GENERATE {gens.format(agg)};
        """, relations=rels)
        got[agg] = {r: outs[r].df() for r in ("go", "co")}
    for r, want in (("go", [(1, 10, 2, 1), (1, 20, 2, 2), (2, 10, 3, 1)]),
                    ("co", [(1, 10, 2, 1), (1, 20, 2, 2), (2, 10, 3, 1),
                            (3, 30, 4, 0)])):
        fused, twin = got["COUNT_STAR"][r], got["SIZE"][r]
        assert "collect_list" not in plan_of(fused)
        assert "collect_list" in plan_of(twin)
        assert sorted(map(tuple, fused.collect())) == \
            sorted(map(tuple, twin.collect())) == want


def test_cogroup_bag_hof_inside_aggregate_keeps_bag(eng, spark):
    """An aggregate over a nested-block bag operator (COUNT of a
    DISTINCT bag) on a COGROUP side is not a fusable part: the bag
    materializes and the rows are the bag path's."""
    from spork_spark.parser import run_script
    rels = {"ta": eng.from_df(spark.createDataFrame(
                [(1, 1), (2, 2)], "k int, v int"), alias="ta"),
            "tb": eng.from_df(spark.createDataFrame(
                [(1, 5), (1, 5), (1, 6)], "k int, w int"), alias="tb")}
    df = run_script(eng, """
        cg = COGROUP ta BY k, tb BY k;
        out = FOREACH cg { d = DISTINCT tb.w;
                           GENERATE group AS g, COUNT(d) AS n; };
    """, relations=rels)["out"].df()
    assert sorted(map(tuple, df.collect())) == [(1, 2), (2, 0)]


def test_absent_side_reads_empty_bag_aggregates(eng, spark):
    """A COGROUP side absent from a group and a group whose inner CROSS
    is empty read Pig's aggregates over an empty bag on both fused
    paths: COUNT_STAR, COUNT and COUNT_DISTINCT 0, SUM null."""
    from spork_spark.parser import run_script
    t = eng.from_df(spark.createDataFrame(
        [(1, 10), (1, 1), (2, 10)], "k int, v int"), alias="t")
    tb = eng.from_df(spark.createDataFrame([(1, 4)], "k int, w int"),
                     alias="tb")
    rels = run_script(eng, """
        cg = COGROUP t BY k, tb BY k;
        co = FOREACH cg GENERATE group AS k, COUNT_STAR(tb) AS ns,
                                 COUNT(tb) AS nc, SUM(tb.w) AS s,
                                 COUNT_DISTINCT(tb.w) AS nd;
        g = GROUP t BY k;
        cx = FOREACH g {
            hv0 = FOREACH t GENERATE v AS hv;
            hi = FILTER hv0 BY hv > 5;
            lv0 = FOREACH t GENERATE v AS lv;
            lo = FILTER lv0 BY lv < 2;
            c = CROSS hi, lo;
            GENERATE group AS k, COUNT_STAR(c) AS ns, COUNT(c) AS nc,
                     SUM(c.hv) AS s, COUNT_DISTINCT(c.hv) AS nd;
        };
    """, relations={"t": t, "tb": tb})
    co, cx = rels["co"].df(), rels["cx"].df()
    assert "collect_list" not in plan_of(co)
    assert "collect_list" not in plan_of(cx)
    assert sorted(map(tuple, co.collect())) == [(1, 1, 1, 4, 1),
                                                (2, 0, 0, None, 0)]
    assert sorted(map(tuple, cx.collect())) == [(1, 1, 1, 10, 1),
                                                (2, 0, 0, None, 0)]


def test_count_distinct_over_materialized_bag(eng, spark):
    """COUNT_DISTINCT(t.v) next to a bag-only builtin (SIZE) keeps the
    bag and counts its distinct non-null values, the rows of the fused
    form; it used to fail with MISSING_GROUP_BY."""
    from spork_spark.parser import run_script
    t = eng.from_df(spark.createDataFrame(
        [(1, 10), (1, 10), (1, None), (1, 20), (2, None), (3, 5)],
        "k int, v int"), alias="t")
    bag, fused = (run_script(eng, f"""
        g = GROUP t BY k;
        out = FOREACH g GENERATE group AS k, {n}(t) AS n,
                                 COUNT_DISTINCT(t.v) AS nd;
    """, relations={"t": t})["out"].df() for n in ("SIZE", "COUNT_STAR"))
    assert "collect_list" in plan_of(bag)
    assert "collect_list" not in plan_of(fused)
    assert sorted(map(tuple, bag.collect())) == \
        sorted(map(tuple, fused.collect())) == [(1, 4, 2), (2, 1, 0),
                                                (3, 1, 1)]


@pytest.mark.parametrize("filt,gens,twin_filt,twin_gens", [
    pytest.param("COUNT(tb) == 0", "group AS k",
                 "SIZE(tb) == 0", "group AS k", id="count_filter"),
    pytest.param(None, "group AS k, (IsEmpty(tb) ? 1 : 0) AS anti",
                 None, "group AS k, (SIZE(tb) == 0 ? 1 : 0) AS anti",
                 id="isempty_bincond"),
    pytest.param(None, "(chararray)group AS g, COUNT_STAR(ta) AS n",
                 None, "(chararray)group AS g, SIZE(ta) AS n",
                 id="key_cast"),
    pytest.param(None, "group AS k, SUM(ta.v) / COUNT_STAR(ta) AS m",
                 None, "group AS k, SUM(ta.v) / SIZE(ta) AS m",
                 id="agg_ratio"),
])
def test_cogroup_fused_shapes_match_bag_twin(eng, spark, filt, gens,
                                             twin_filt, twin_gens):
    """Each COGROUP shape the generator planner fuses (an aggregate
    predicate, IsEmpty under a BINCOND, a key cast, a ratio of
    aggregates) has no collect_list and returns the rows of its twin,
    which uses SIZE (not an aggregate) and so keeps the bags."""
    from spork_spark.parser import run_script
    rels = {"ta": eng.from_df(spark.createDataFrame(
                [(1, 10.0), (1, 5.0), (2, 1.0), (None, 7.0)],
                "k int, v double"), alias="ta"),
            "tb": eng.from_df(spark.createDataFrame(
                [("x", 2), ("y", 3), ("z", None)], "s string, k int"),
                alias="tb")}

    def run(f, g):
        src = "cg = COGROUP ta BY k, tb BY k;\n"
        if f:
            src += f"cg2 = FILTER cg BY {f};\n"
        src += f"out = FOREACH {'cg2' if f else 'cg'} GENERATE {g};"
        return run_script(eng, src, relations=rels)["out"].df()
    fused, twin = run(filt, gens), run(twin_filt, twin_gens)
    assert "collect_list" not in plan_of(fused)
    assert "collect_list" in plan_of(twin)
    assert sorted(map(tuple, fused.collect()), key=str) == \
        sorted(map(tuple, twin.collect()), key=str)


_A_ROWS = [(1, 10), (1, 20), (2, 5), (3, -1)]
_D_ROWS = [(1, "x"), (2, "y"), (3, "x")]
_SCALAR = "m = FOREACH (GROUP a ALL) GENERATE MAX(a.v) AS mx;\n"
_JOINED = "j = JOIN a BY k, d BY dk;\n"
_BY_NAME = "r = FOREACH (GROUP j BY name) GENERATE group, "


@pytest.mark.parametrize("script,twin,expected,eager", [
    pytest.param(
        _SCALAR + "r = FOREACH a GENERATE k, "
                  "(CASE WHEN v == m.mx THEN 1 ELSE 0 END);",
        _SCALAR + "r = FOREACH a GENERATE k, (v == m.mx ? 1 : 0);",
        [(1, 0), (1, 1), (2, 0), (3, 0)], False, id="scalar_ref_in_case"),
    pytest.param(
        "r = FOREACH (GROUP a BY k) GENERATE group, COUNT(a) AS n, "
        "(CASE WHEN SUM(a.v) > 0 THEN 1 ELSE 0 END);",
        "r = FOREACH (GROUP a BY k) GENERATE group, COUNT(a) AS n, "
        "(SUM(a.v) > 0 ? 1 : 0);",
        [(1, 2, 1), (2, 1, 1), (3, 1, 0)], False, id="case_over_agg"),
    pytest.param(_JOINED + _BY_NAME + "-SUM(j.v);",
                 _JOINED + _BY_NAME + "0 - SUM(j.v);",
                 [("x", -29), ("y", -5)], True, id="eager_under_neg"),
    pytest.param(_JOINED + _BY_NAME + "(SUM(j.v) > 0 ? SUM(j.v) : 0);",
                 _JOINED + _BY_NAME + "SUM(j.v);",
                 [("x", 29), ("y", 5)], True, id="eager_under_bincond"),
    # no twin that reaches the eager path: these are the rows the
    # materialized-bag plan computes for the same generator
    pytest.param(_JOINED + _BY_NAME +
                 "(CASE WHEN SUM(j.v) > 0 THEN 1 ELSE 0 END);",
                 None, [("x", 1), ("y", 1)], True, id="eager_under_case"),
])
def test_rewrites_reach_case_and_unary_children(eng, spark, script, twin,
                                                expected, eager):
    """Every compiler and parser rewrite walks the same children, CASE
    branches and unary operands included: scalar references inside a
    CASE bind, a CASE over an aggregate splits its aggregate out, and
    eager aggregation rewrites every aggregate it pre-aggregated, under
    unary minus, BINCOND or CASE alike. Each form returns its working
    twin's rows."""
    from spork_spark.parser import run_script
    rels = {"a": eng.from_df(spark.createDataFrame(_A_ROWS, "k int, v int"),
                             alias="a"),
            "d": eng.from_df(spark.createDataFrame(_D_ROWS,
                                                   "dk int, name string"),
                             alias="d")}

    def run(s):
        return run_script(eng, s, relations=rels)["r"].df()

    df = run(script)
    assert sorted(map(tuple, df.collect())) == expected
    if twin is not None:
        assert sorted(map(tuple, run(twin).collect())) == expected
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert ("__ea_" in analyzed) == eager


def test_multi_key_cogroup_group_fields_named_after_keys(eng, spark):
    """A multi-key COGROUP's `group` struct names its fields after the
    first input's keys, as GROUP does — on the bag path (so `group.k1`
    resolves) and on the fused aggregate path alike."""
    from spork_spark.parser import run_script
    a = spark.createDataFrame([(1, 2, 10.0), (1, 2, 5.0), (2, 3, 1.0)],
                              "k1 int, k2 int, v double")
    b = spark.createDataFrame([(1, 2, "x"), (4, 5, "y")],
                              "k1 int, k2 int, s string")
    rels_in = {"ta": eng.from_df(a, alias="ta"),
               "tb": eng.from_df(b, alias="tb")}
    rels = run_script(eng, """
        cg = COGROUP ta BY (k1, k2), tb BY (k1, k2);
        out = FOREACH cg GENERATE group.k1 AS k1, group.k2 AS k2,
                                  SIZE(ta) AS na, SIZE(tb) AS nb;
    """, relations=rels_in)
    assert rels["cg"].df().schema["group"].dataType.fieldNames() == \
        ["k1", "k2"]
    assert sorted(map(tuple, rels["out"].df().collect())) == \
        [(1, 2, 2, 1), (2, 3, 1, 0), (4, 5, 0, 1)]
    fused = run_script(eng, """
        cg = COGROUP ta BY (k1, k2), tb BY (k1, k2);
        out = FOREACH cg GENERATE group, COUNT_STAR(ta) AS n;
    """, relations=rels_in)["out"].df()
    assert "collect_list" not in plan_of(fused)
    assert fused.schema["group"].dataType.fieldNames() == ["k1", "k2"]


def test_cogroup_and_join_name_inputs_after_relations(eng, spark):
    """Bags of a COGROUP and `name::` prefixes of a JOIN come from the
    script-side relation names, also for relations seeded through
    run_script(relations=...) whose plan nodes carry other names."""
    from spork_spark.parser import run_script
    a = spark.createDataFrame([(1, 10.0), (2, 5.0)], "k int, v double")
    b = spark.createDataFrame([(1, "x")], "k int, s string")
    rels = run_script(eng, """
        cg = COGROUP ta BY k, tb BY k;
        fused = FOREACH cg GENERATE group AS k, COUNT(ta) AS na,
                                    COUNT(tb) AS nb;
        cg2 = COGROUP ta BY k, tb BY k;
        bags = FOREACH cg2 GENERATE group AS k, SIZE(ta) AS na;
        j = JOIN ta BY k, tb BY k;
    """, relations={"ta": eng.from_df(a), "tb": eng.from_df(b)})
    assert sorted(map(tuple, rels["fused"].df().collect())) == \
        [(1, 1, 1), (2, 1, 0)]
    assert sorted(map(tuple, rels["bags"].df().collect())) == \
        [(1, 1), (2, 1)]
    assert rels["j"].df().columns == ["ta::k", "v", "tb::k", "s"]
