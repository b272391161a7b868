"""Relational-operator semantics (SURVEY.md §2.1): null group keys group
together, null join keys never match, UNION keeps duplicates, FLATTEN of
empty bag drops the row, nulls-first ordering, SPLIT routing, COGROUP empty
bags, RANK forms — the reference e2e corpus's behavioral edges."""

import pytest

from spork_spark import col, fn, lit, flatten


def rows(rel):
    return [tuple(r) for r in rel.df().collect()]


def sorted_rows(rel):
    return sorted(rows(rel), key=lambda t: tuple((x is None, x) for x in t))


def test_group_null_keys_group_together(eng, students):
    rel = (eng.from_df(students).as_alias("s")
           .group_by(col("name"))
           .foreach(col("group").alias("name"), fn("COUNT_STAR").alias("n")))
    out = dict(rows(rel))
    assert out[None] == 2             # both null-name rows in ONE group
    assert out["alice"] == 2 and out["bob"] == 2


def test_join_null_keys_never_match(eng, spark):
    a = eng.from_df(spark.createDataFrame([(1, "a"), (None, "an")],
                                          "k int, va string"))
    b = eng.from_df(spark.createDataFrame([(1, "b"), (None, "bn")],
                                          "k int, vb string"))
    out = rows(a.join([col("k")], b, [col("k")]))
    assert len(out) == 1 and out[0][1] == "a"


def test_outer_join_null_fill(eng, spark):
    a = eng.from_df(spark.createDataFrame([(1,), (2,)], "k int"), alias="a")
    b = eng.from_df(spark.createDataFrame([(2, "x")], "j int, v string"),
                    alias="b")
    out = sorted_rows(a.join([col("k")], b, [col("j")], how="left"))
    assert out == [(1, None, None), (2, 2, "x")]


def test_union_keeps_duplicates(eng, spark):
    df = spark.createDataFrame([(1,), (2,)], "a int")
    r = eng.from_df(df)
    assert len(rows(r.union(r))) == 4


def test_union_onschema_pads_missing(eng, spark):
    a = eng.from_df(spark.createDataFrame([(1, "x")], "k int, s string"))
    b = eng.from_df(spark.createDataFrame([(2, 9.5)], "k int, d double"))
    df = a.union(b, onschema=True).df()
    assert set(df.columns) == {"k", "s", "d"}
    got = {tuple(r) for r in df.select("k", "s", "d").collect()}
    assert got == {(1, "x", None), (2, None, 9.5)}


def test_flatten_empty_bag_drops_row(eng, spark):
    df = spark.createDataFrame(
        [(1, [(10,), (20,)]), (2, []), (3, None)],
        "id int, bag array<struct<x:int>>")
    out = rows(eng.from_df(df).foreach(col("id").alias("id"),
                                       flatten(col("bag"))))
    assert out == [(1, 10), (1, 20)]   # rows 2 and 3 dropped (Pig explode)


def test_flatten_tuple_inlines_fields(eng, spark):
    df = spark.createDataFrame([((1, "a"),)], "t struct<x:int,y:string>")
    df2 = eng.from_df(df).foreach(flatten(col("t"))).df()
    assert df2.columns == ["x", "y"]
    assert [tuple(r) for r in df2.collect()] == [(1, "a")]


def test_flatten_map_yields_key_value(eng, spark):
    df = spark.createDataFrame([({"a": 1},)], "m map<string,int>")
    out = rows(eng.from_df(df).foreach(flatten(col("m"))))
    assert out == [("a", 1)]


def test_order_nulls_smallest(eng, students):
    out = rows(eng.from_df(students).foreach(col("age").alias("age"))
               .order_by(col("age")))
    ages = [r[0] for r in out]
    assert ages[:2] == [None, None] and ages[2:] == sorted(ages[2:])
    # DESC: nulls last
    out_d = rows(eng.from_df(students).foreach(col("age").alias("age"))
                 .order_by((col("age"), False)))
    assert [r[0] for r in out_d][-2:] == [None, None]


def test_distinct_whole_tuple(eng, students):
    assert len(rows(eng.from_df(students).distinct())) == 7  # bob dup removed


def test_limit(eng, students):
    assert len(rows(eng.from_df(students).limit(3))) == 3


def test_pluck_prefix_projection(eng, spark):
    df = spark.createDataFrame([(1, "x", 2.0)],
                               "a_id int, a_name string, b_val double")
    out = eng.from_df(df).pluck("a_")
    assert out.df().columns == ["a_id", "a_name"]
    assert rows(out) == [(1, "x")]


def test_split_routes_and_otherwise(eng, spark):
    df = spark.createDataFrame([(1,), (5,), (None,)], "a int")
    big, small, rest = eng.from_df(df).split(col("a") > 3, col("a") <= 3,
                                             otherwise=True)
    assert rows(big) == [(5,)]
    assert rows(small) == [(1,)]
    assert rows(rest) == [(None,)]     # null matches no predicate → OTHERWISE


def test_cogroup_empty_bags_and_inner(eng, spark):
    a = eng.from_df(spark.createDataFrame([(1, "x"), (3, "z")],
                                          "k int, v string"), alias="a")
    b = eng.from_df(spark.createDataFrame([(1, 10)], "k int, n int"),
                    alias="b")
    cg = a.cogroup([col("k")], (b, [col("k")]))
    out = {r["group"]: (len(r["a"]), len(r["b"])) for r in cg.df().collect()}
    assert out == {1: (1, 1), 3: (1, 0)}   # empty bag, not null


def test_group_all_single_row(eng, students):
    rel = (eng.from_df(students).as_alias("s").group_all()
           .foreach(fn("COUNT_STAR").alias("n"),
                    fn("COUNT", col("s").get("age")).alias("n_age"),
                    fn("SUM", col("s").get("age")).alias("sum_age")))
    n, n_age, sum_age = rows(rel)[0]
    assert n == 8 and n_age == 6       # COUNT skips nulls, COUNT_STAR doesn't
    assert sum_age == 157


def test_rank_bare_sequential(eng, spark):
    df = spark.createDataFrame([(chr(97 + i),) for i in range(10)],
                               "s string").repartition(3)
    out = rows(eng.from_df(df).rank())
    ranks = sorted(r[0] for r in out)
    assert ranks == list(range(1, 11))  # dense 1..N across partitions


def test_rank_by_with_ties_and_dense(eng, spark):
    df = spark.createDataFrame([("a", 10), ("b", 10), ("c", 5)],
                               "s string, v int")
    out = {r["s"]: r["rank"] for r in
           eng.from_df(df).rank((col("v"), False)).df().collect()}
    assert out == {"a": 1, "b": 1, "c": 3}
    out_d = {r["s"]: r["rank"] for r in
             eng.from_df(df).rank((col("v"), False), dense=True).df().collect()}
    assert out_d == {"a": 1, "b": 1, "c": 2}


def test_sample_fraction(eng, spark):
    df = spark.createDataFrame([(i,) for i in range(1000)], "i int")
    n = len(rows(eng.from_df(df).sample(0.1, seed=42)))
    assert 50 <= n <= 200


def test_cross_product(eng, spark):
    a = eng.from_df(spark.createDataFrame([(1,), (2,)], "a int"))
    b = eng.from_df(spark.createDataFrame([("x",), ("y",)], "b string"))
    assert len(rows(a.cross(b))) == 4


def test_assert_passes_and_fails(eng, spark):
    import pytest
    df = spark.createDataFrame([(1,), (2,)], "a int")
    eng.from_df(df).assert_(col("a") > 0, "positive")     # no raise
    with pytest.raises(AssertionError, match="positive"):
        eng.from_df(df).assert_(col("a") > 1, "positive")


def test_multi_consumer_persist_split(eng, spark):
    """SPLIT outputs share one persisted parent (MultiQueryOptimizer role)."""
    df = spark.createDataFrame([(i,) for i in range(10)], "a int")
    outs = eng.from_df(df).filter(col("a") >= 0).split(
        col("a") > 5, col("a") <= 5)
    assert len(rows(outs[0])) + len(rows(outs[1])) == 10


def test_store_and_reload_parquet(eng, spark, tmp_path):
    df = spark.createDataFrame([(1, "x")], "k int, s string")
    eng.from_df(df).store(str(tmp_path / "out"), fmt="parquet")
    back = eng.load(str(tmp_path / "out"), fmt="parquet")
    assert rows(back) == [(1, "x")]


def test_pigstorage_roundtrip(eng, spark, tmp_path):
    df = spark.createDataFrame([(1, "x"), (2, "y")], "k int, s string")
    eng.from_df(df).store(str(tmp_path / "tsv"), fmt="pigstorage")
    back = eng.load(str(tmp_path / "tsv"), fmt="pigstorage",
                    schema="k int, s string")
    assert sorted_rows(back) == [(1, "x"), (2, "y")]


def test_stream_through(eng, spark):
    df = spark.createDataFrame([("a", 1), ("b", 2)], "s string, n int")
    out = eng.from_df(df).stream_through("cat", schema="s string, n int")
    assert sorted_rows(out) == [("a", 1), ("b", 2)]


def test_scalar_of_relation_guard(eng, spark):
    """ReadScalars contract: 1 row OK, 0 rows -> null, >1 rows -> error."""
    import pyspark.sql.utils
    import pytest as _pytest
    from spork_spark import col

    base = eng.from_df(spark.createDataFrame([(1,)], "x int"), alias="base")
    one = eng.from_df(spark.createDataFrame([(10,)], "v int"), alias="one")
    r = base.cross(one.as_scalar("v")).foreach(
        (col("x") + col("v")).alias("y"))
    assert rows(r) == [(11,)]

    empty = eng.from_df(
        spark.createDataFrame([], "v int"), alias="empty")
    r0 = base.cross(empty.as_scalar("v")).foreach(col("v").alias("v"))
    assert rows(r0) == [(None,)]

    two = eng.from_df(spark.createDataFrame([(10,), (20,)], "v int"),
                      alias="two")
    with _pytest.raises(Exception, match="more than one row"):
        base.cross(two.as_scalar("v")).df().collect()


def test_bucketed_store_elides_join_exchange(eng, spark, tmp_path):
    """store_bucketed + join on the bucket key: no shuffle Exchange on
    either side of the SortMergeJoin (the 'merge' join pre-sorted-input
    case, SCALE.md)."""
    a = spark.createDataFrame([(i, f"a{i}") for i in range(100)],
                              "k int, va string")
    b = spark.createDataFrame([(i, f"b{i}") for i in range(100)],
                              "k int, vb string")
    eng.from_df(a).store_bucketed("t_buck_a", 4, ["k"], sort_cols=["k"])
    eng.from_df(b).store_bucketed("t_buck_b", 4, ["k"], sort_cols=["k"])
    ta, tb = spark.table("t_buck_a"), spark.table("t_buck_b")
    joined = ta.join(tb.hint("merge"), "k")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert joined.count() == 100
    spark.sql("DROP TABLE IF EXISTS t_buck_a")
    spark.sql("DROP TABLE IF EXISTS t_buck_b")


def test_stream_through_ship(eng, tmp_path):
    """DEFINE … SHIP('script') + STREAM THROUGH: the shipped script is
    distributed via addFile and found from the task's cwd."""
    from spork_spark.parser import run_script

    script = tmp_path / "double_price.py"
    script.write_text(
        "import sys\n"
        "for line in sys.stdin:\n"
        "    k, p = line.rstrip('\\n').split('\\t')\n"
        "    print(f'{k}\\t{float(p) * 2}')\n")
    rels = run_script(eng, f"""
        r = LOAD '/root/testdata/sf0.001/region.parquet';
        p = FOREACH r GENERATE r_regionkey, (double)r_regionkey * 10.0 AS price;
        DEFINE doubler `python3 double_price.py` SHIP('{script}');
        s = STREAM p THROUGH doubler AS (k:int, doubled:double);
        out = ORDER s BY k;
    """)
    rows = [(r["k"], r["doubled"]) for r in rels["out"].df().collect()]
    assert rows == [(i, i * 20.0) for i in range(5)]


def test_cube_bag_escape_keeps_grouping_sets(eng, spark):
    """An escaping bag under CUBE must still materialize per grouping set
    (regression: the unfused path silently compiled CUBE as plain GROUP)."""
    from spork_spark import col, fn
    df = spark.createDataFrame([("a", 1), ("a", 2), ("b", 3)],
                               "k string, v int")
    out = (eng.from_df(df, alias="t").cube(col("k"))
              .foreach(col("group").alias("k"),
                       fn("SIZE", col("t")).alias("bag_n"))
              .df().collect())
    got = sorted(((r.k, r.bag_n) for r in out),
                 key=lambda t: (t[0] or "", t[1]))
    # grouping sets: (a)=2 rows, (b)=1, and the grand-total set = 3
    assert got == [("", 3), ("a", 2), ("b", 1)] or \
        got == [(None, 3), ("a", 2), ("b", 1)]


def test_range_join_left_stable_under_nondeterministic_input(spark):
    """how='left' computes unmatched rows via a surrogate row id; the id
    assignment must be pinned (localCheckpoint) so a nondeterministic
    upstream (round-robin repartition) cannot diverge between the
    matched and anti-join branches — no drops, no duplicates."""
    from spork_spark.operators import range_join
    left = spark.createDataFrame(
        [(i, float(i % 17)) for i in range(500)],
        "lid int, point double").repartition(7)
    right = spark.createDataFrame(
        [(100, 2.0, 5.0), (200, 10.0, 12.0)],
        "rid int, lo double, hi double")
    out = range_join(left, right, "point", "lo", "hi",
                     bin_width=4.0, how="left")
    rows = out.collect()
    assert len(rows) == 500                      # exactly once per left row
    matched = [r for r in rows if r.rid is not None]
    assert {r.point for r in matched} == {2.0, 3.0, 4.0, 5.0, 10.0, 11.0,
                                          12.0}


def test_sorted_neighborhood_pairs_window(spark):
    from spork_spark.operators import sorted_neighborhood_pairs
    rows = [(1, 10), (2, 11), (3, 30), (4, 31), (5, 32)]
    df = spark.createDataFrame(rows, "id bigint, k bigint")
    got = {(r.id_a, r.id_b, r.dist) for r in
           sorted_neighborhood_pairs(df, "id", "k", window=2).collect()}
    # adjacent-only (w=2): each consecutive pair in key order
    assert got == {(1, 2, 1), (2, 3, 1), (3, 4, 1), (4, 5, 1)}
    got3 = {(r.id_a, r.id_b, r.dist) for r in
            sorted_neighborhood_pairs(df, "id", "k", window=3).collect()}
    assert (1, 3, 2) in got3 and (3, 5, 2) in got3 and len(got3) == 7


def test_sorted_neighborhood_is_partitioning_invariant(spark):
    from spork_spark.operators import sorted_neighborhood_pairs
    rows = [(i, (i * 13) % 97) for i in range(200)]
    df = spark.createDataFrame(rows, "id bigint, k bigint")
    a = {(r.id_a, r.id_b, r.dist) for r in
         sorted_neighborhood_pairs(df, "id", "k", window=4).collect()}
    b = {(r.id_a, r.id_b, r.dist) for r in
         sorted_neighborhood_pairs(df.repartition(7), "id", "k",
                                   window=4).collect()}
    assert a == b and len(a) == 199 + 198 + 197


@pytest.mark.parametrize("caller", ["rank", "rank_by",
                                    "sorted_neighborhood", "abc_classes"])
def test_prefix_sum_callers_empty_input(spark, eng, caller):
    """Empty input through every caller of the two-pass prefix sum
    (operators/_scalable.py): no rows and no error. The per-partition
    collect returns nothing, so the offsets frame is the placeholder
    row. A fence of -1 forces abc_classes onto the two-pass path (an
    empty table is at or below a fence of 0)."""
    from spork_spark.operators import abc_classes, sorted_neighborhood_pairs
    df = spark.createDataFrame([], "id bigint, k bigint, v double")
    build = {
        "rank": lambda: eng.from_df(df).rank().df(),
        "rank_by": lambda: eng.from_df(df).rank((col("v"), True)).df(),
        "sorted_neighborhood":
            lambda: sorted_neighborhood_pairs(df, "id", "k"),
        "abc_classes": lambda: abc_classes(df, "k", "v"),
    }[caller]
    spark.conf.set("spark.spork.prefixSum.cardinalityFence", "-1")
    try:
        assert build().collect() == []
    finally:
        spark.conf.unset("spark.spork.prefixSum.cardinalityFence")
