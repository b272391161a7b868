"""Expression-language semantics (SURVEY.md §1.4, §2.2): the Pig-vs-Spark
divergences the compiler must own — int division, anchored matches,
null-on-failure casts, bincond, null comparisons."""

import dataclasses

import pytest

from spork_spark import col, lit, fn, bincond
from spork_spark.plans import expressions as E


def rows(rel):
    return [tuple(r) for r in rel.df().collect()]


def test_int_division_truncates_toward_zero(eng, spark):
    df = spark.createDataFrame([(7, 2), (-7, 2), (7, -2), (1, 0)],
                               "a int, b int")
    out = rows(eng.from_df(df).foreach((col("a") / col("b")).alias("q")))
    assert out == [(3,), (-3,), (-3,), (None,)]   # Java semantics; /0 → null


def test_long_division_returns_long(eng, spark):
    df = spark.createDataFrame([(10, 4)], "a bigint, b int")
    rel = eng.from_df(df).foreach((col("a") / col("b")).alias("q"))
    assert dict(rel.df().dtypes)["q"] == "bigint"
    assert rows(rel) == [(2,)]


def test_double_division_stays_double(eng, spark):
    df = spark.createDataFrame([(7.0, 2)], "a double, b int")
    assert rows(eng.from_df(df).foreach((col("a") / col("b")).alias("q"))) \
        == [(3.5,)]


def test_mod_keeps_dividend_sign(eng, spark):
    df = spark.createDataFrame([(7, 3), (-7, 3)], "a int, b int")
    assert rows(eng.from_df(df).foreach((col("a") % col("b")).alias("m"))) \
        == [(1,), (-1,)]


def test_matches_is_full_string(eng, spark):
    df = spark.createDataFrame([("abc",), ("xabc",), ("abcx",)], "s string")
    out = rows(eng.from_df(df).filter(col("s").matches("abc")))
    assert out == [("abc",)]          # Java String.matches, not find()


def test_matches_with_wildcards(eng, spark):
    df = spark.createDataFrame([("3-MEDIUM",), ("MEDIUM-3",)], "s string")
    assert rows(eng.from_df(df).filter(col("s").matches("3-.*"))) \
        == [("3-MEDIUM",)]


def test_cast_failure_yields_null(eng, spark):
    df = spark.createDataFrame([("12",), ("x",), (None,)], "s string")
    assert rows(eng.from_df(df).foreach(col("s").cast("int").alias("i"))) \
        == [(12,), (None,), (None,)]


def test_cast_pig_type_names(eng, spark):
    df = spark.createDataFrame([(1,)], "a int")
    rel = eng.from_df(df).foreach(
        col("a").cast("long").alias("l"),
        col("a").cast("chararray").alias("s"),
        col("a").cast("double").alias("d"))
    assert dict(rel.df().dtypes) == {"l": "bigint", "s": "string",
                                     "d": "double"}


def test_bincond_and_null_predicate(eng, spark):
    df = spark.createDataFrame([(1,), (10,), (None,)], "a int")
    out = rows(eng.from_df(df).foreach(
        bincond(col("a") > 5, "big", "small").alias("b")))
    # null predicate → otherwise branch in Spark when() semantics
    assert out == [("small",), ("big",), ("small",)]


def test_filter_null_predicate_drops_row(eng, spark):
    df = spark.createDataFrame([(1,), (10,), (None,)], "a int")
    assert rows(eng.from_df(df).filter(col("a") > 5)) == [(10,)]


def test_is_null_and_comparison_with_null(eng, spark):
    df = spark.createDataFrame([(1,), (None,)], "a int")
    out = rows(eng.from_df(df).foreach(
        col("a").is_null().alias("isn"),
        (col("a") == 1).alias("eq")))
    assert out == [(False, True), (True, None)]


def test_in_list(eng, spark):
    df = spark.createDataFrame([("F",), ("P",), ("O",)], "s string")
    assert rows(eng.from_df(df).filter(col("s").isin("F", "P"))) \
        == [("F",), ("P",)]


def test_map_lookup(eng, spark):
    df = spark.createDataFrame([({"a": 1, "b": 2},)], "m map<string,int>")
    assert rows(eng.from_df(df).foreach(col("m").lookup("a").alias("v"),
                                        col("m").lookup("zz").alias("miss"))) \
        == [(1, None)]


def test_positional_reference(eng, spark):
    df = spark.createDataFrame([("x", 1)], "name string, n int")
    from spork_spark import pos
    assert rows(eng.from_df(df).foreach(pos(1).alias("second"))) == [(1,)]


def test_tuple_deref(eng, spark):
    df = spark.createDataFrame([((1, "a"),)], "t struct<x:int,y:string>")
    assert rows(eng.from_df(df).foreach(col("t").get("y").alias("y"))) \
        == [("a",)]


def test_division_by_zero_null_all_types(eng, spark):
    """x/0 -> null for int AND double (SQL semantics, matches the DuckDB
    oracle; divergence from Java-Pig's double Infinity is documented)."""
    from spork_spark import col
    src = spark.createDataFrame([(1.0, 0.0, 1, 0)],
                                "a double, b double, x int, y int")
    r = eng.from_df(src).foreach((col("a") / col("b")).alias("dd"),
                                 (col("x") / col("y")).alias("ii"),
                                 (col("a") % col("b")).alias("dm"))
    assert [tuple(x) for x in r.df().collect()] == [(None, None, None)]


def test_window_frame_rows_between(eng, spark):
    from spork_spark.plans import expressions as E
    from spork_spark import col
    df = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, 20.0), (1, 3, 30.0), (2, 1, 5.0)],
        "k int, i int, v double")
    run = E.WindowFunc("sum", [col("v")], [col("k")], [(col("i"), True)],
                       frame=("rows", None, 0))
    mov = E.WindowFunc("sum", [col("v")], [col("k")], [(col("i"), True)],
                       frame=("rows", -1, 0))
    out = (eng.from_df(df).foreach(col("k").alias("k"), col("i").alias("i"),
                                   E.Aliased(run, "run"),
                                   E.Aliased(mov, "mov"))
              .order_by(col("k"), col("i")).df().collect())
    assert [(r.run, r.mov) for r in out] == \
        [(10.0, 10.0), (30.0, 30.0), (60.0, 50.0), (5.0, 5.0)]


# Each Expr-bearing field annotation in plans/expressions.py and the value
# shape that fills it with marker nodes. A node type whose field shape is
# not listed here fails test_children_yield_every_expr_slot.
_EXPR_SLOTS = {
    "Expr": lambda m: m(),
    "Expr | None": lambda m: m(),
    "list[Expr]": lambda m: [m(), m()],
    "list[tuple[Expr, Expr]]": lambda m: [(m(), m()), (m(), m())],
    "list[tuple[Expr, bool]]": lambda m: [(m(), True), (m(), False)],
}


def _marked(cls):
    """An instance of ``cls`` whose Expr slots hold fresh marker nodes
    (returned in field order) and whose other fields hold non-Expr data,
    lists and tuples included."""
    markers = []

    def marker():
        markers.append(lit(len(markers)))
        return markers[-1]

    values = {}
    for f in dataclasses.fields(cls):
        shape = _EXPR_SLOTS.get(f.type)
        if shape is not None:
            values[f.name] = shape(marker)
        else:
            assert "Expr" not in f.type, \
                f"{cls.__name__}.{f.name}: unknown Expr slot shape {f.type}"
            values[f.name] = ["x", 1] if f.type.startswith("list") else \
                ("rows", -1, None) if f.type.startswith("tuple") else "x"
    return cls(**values), markers


_NODE_TYPES = sorted(E.Expr.__subclasses__(), key=lambda c: c.__name__)


@pytest.mark.parametrize("cls", _NODE_TYPES, ids=lambda c: c.__name__)
def test_children_yield_every_expr_slot(cls):
    """The traversal contract (plans/expressions.py): children() yields
    exactly the Exprs a node holds — directly, in lists, and inside the
    tuples of CaseWhen.branches / WindowFunc.order_by — nodes() is
    pre-order, and transform() rebuilds the node around replaced
    children, keeping its non-Expr data."""
    node, markers = _marked(cls)
    assert [id(c) for c in E.children(node)] == [id(m) for m in markers]
    assert [id(n) for n in E.nodes(node)] == \
        [id(node)] + [id(m) for m in markers]
    swapped = {id(m): lit(f"r{i}") for i, m in enumerate(markers)}
    out = E.transform(node, lambda n: swapped.get(id(n)))
    assert type(out) is cls and out is not node
    assert [c.value for c in E.children(out)] == \
        [f"r{i}" for i in range(len(markers))]
    assert repr(E.transform(node, lambda n: None)) == repr(node)
