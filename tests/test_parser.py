"""Pig Latin front-end: scripts through the full parse→lower→compile path
(the reference's e2e harness shape, SURVEY.md §5.2.3)."""

import pytest

from spork_spark.parser import PigSyntaxError, run_script

SF = "/root/testdata/sf0.001"


def rows(rel):
    return [tuple(r) for r in rel.df().collect()]


def test_load_filter_foreach_order(eng):
    rels = run_script(eng, f"""
        -- flagship shape, as a script
        li = LOAD '{SF}/lineitem.parquet';
        small = FILTER li BY l_quantity < 3.0 AND l_discount > 0.05;
        prj = FOREACH small GENERATE l_orderkey, l_quantity * 2.0 AS dq;
        srt = ORDER prj BY dq DESC, l_orderkey ASC;
        top = LIMIT srt 5;
    """)
    out = rows(rels["top"])
    assert len(out) == 5
    assert all(len(r) == 2 for r in out)
    dqs = [r[1] for r in out]
    assert dqs == sorted(dqs, reverse=True)


def test_group_generate_aggregates(eng):
    rels = run_script(eng, f"""
        li = LOAD '{SF}/lineitem.parquet';
        g = GROUP li BY l_returnflag;
        s = FOREACH g GENERATE group AS flag, COUNT(li) AS n,
                               SUM(li.l_quantity) AS qty;
    """)
    df = rels["s"].df()
    assert df.columns == ["flag", "n", "qty"]
    got = {r["flag"]: r["n"] for r in df.collect()}
    assert set(got) == {"A", "N", "R"} and sum(got.values()) == 6000
    # fused: physical plan must be a hash aggregate, not collect_list
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan


def test_join_script_with_strategy(eng):
    rels = run_script(eng, f"""
        c = LOAD '{SF}/customer.parquet';
        n = LOAD '{SF}/nation.parquet';
        j = JOIN c BY c_nationkey, n BY n_nationkey USING 'replicated';
        p = FOREACH j GENERATE c_custkey, n_name;
    """)
    assert rels["p"].df().count() == 150


def test_nested_foreach_script(eng):
    rels = run_script(eng, f"""
        o = LOAD '{SF}/orders.parquet';
        g = GROUP o BY o_custkey;
        r = FOREACH g {{
            big = FILTER o BY o_totalprice > 150000.0;
            srt = ORDER o BY o_totalprice DESC;
            top2 = LIMIT srt 2;
            GENERATE group AS custkey, COUNT(big) AS n_big,
                     SUM(top2.o_totalprice) AS t2;
        }};
    """)
    df = rels["r"].df()
    assert df.columns == ["custkey", "n_big", "t2"]
    row = df.orderBy("custkey").first()
    assert row["n_big"] >= 0 and row["t2"] is not None


def test_split_union_distinct(eng):
    rels = run_script(eng, f"""
        o = LOAD '{SF}/orders.parquet';
        SPLIT o INTO hi IF o_totalprice > 150000.0,
                     lo IF o_totalprice <= 150000.0;
        u = UNION hi, lo;
        d = DISTINCT u;
    """)
    assert rels["u"].df().count() == 1500
    assert rels["d"].df().count() == 1500


def test_expression_language(eng, spark):
    import os, tempfile
    eng.from_df(spark.createDataFrame(
        [("x1", 10, 2), ("y2", 7, 0), ("z3", -7, 2)],
        "s string, a int, b int")).store("/tmp/spork_expr_test",
                                         fmt="parquet")
    rels = run_script(eng, """
        t = LOAD '/tmp/spork_expr_test';
        e = FOREACH t GENERATE
              s, a / b AS q, a % 3 AS m,
              (a > 5 ? 'big' : 'small') AS sz,
              (chararray)a AS astr,
              UPPER(s) AS up,
              s matches 'x.' AS mx,
              CASE WHEN a > 5 THEN 'hi' ELSE 'lo' END AS c;
        f = FILTER e BY q is not null AND up in ('X1', 'Z3');
    """)
    out = {r["s"]: r for r in rels["e"].df().collect()}
    assert out["x1"]["q"] == 5 and out["y2"]["q"] is None
    assert out["z3"]["q"] == -3            # truncation toward zero
    assert out["x1"]["sz"] == "big" and out["x1"]["mx"] is True
    assert out["y2"]["mx"] is False
    assert len(rows(rels["f"])) == 2


def test_load_csv_with_schema_and_store(eng, spark, tmp_path):
    src = tmp_path / "in.tsv"
    src.write_text("1\tfoo\n2\tbar\n")
    rels = run_script(eng, f"""
        t = LOAD '{src}' USING PigStorage() AS (k:int, s:chararray);
        o = ORDER t BY k;
        STORE o INTO '{tmp_path}/out' USING PigStorage();
    """)
    assert rows(rels["o"]) == [(1, "foo"), (2, "bar")]
    back = eng.load(f"{tmp_path}/out", fmt="csv", schema="k int, s string")
    assert sorted(rows(back)) == [(1, "foo"), (2, "bar")]


def test_rank_and_sample_and_cross(eng):
    rels = run_script(eng, f"""
        n = LOAD '{SF}/nation.parquet';
        r = LOAD '{SF}/region.parquet';
        x = CROSS n, r;
        rk = RANK n BY n_name;
        sm = SAMPLE n 0.5;
    """)
    assert rels["x"].df().count() == 125
    # Pig's LORank schema rule: the field is rank_<operand alias>
    first = rels["rk"].df().orderBy("rank_n").first()
    assert first["rank_n"] == 1
    assert 0 <= rels["sm"].df().count() <= 25


def test_cube_script(eng):
    rels = run_script(eng, f"""
        li = LOAD '{SF}/lineitem.parquet';
        c = CUBE li BY CUBE(l_returnflag, l_linestatus);
        a = FOREACH c GENERATE group.l_returnflag AS f,
                               group.l_linestatus AS s,
                               COUNT(li) AS n;
    """)
    out = rows(rels["a"])
    assert len(out) == 12                   # 3×2 + 3 + 2 + 1


def test_param_substitution(eng):
    rels = run_script(eng, f"""
        %default minqty 40.0
        li = LOAD '{SF}/lineitem.parquet';
        f = FILTER li BY l_quantity >= $minqty;
    """)
    assert rels["f"].df().count() > 0
    rels2 = run_script(eng, f"""
        li = LOAD '{SF}/lineitem.parquet';
        f = FILTER li BY l_quantity >= $minqty;
    """, params={"minqty": "49.0"})
    assert rels2["f"].df().count() < rels["f"].df().count()


def test_param_values_are_text_not_re_templates():
    r"""Parameter values and macro arguments are plain text: a regex
    value like '\d+' must not crash re.sub ("bad escape") or lose its
    backslashes, and '\n' in a path must stay two characters."""
    from spork_spark.parser import preprocess, substitute_params

    out = substitute_params("f = FILTER a BY s matches '$RE';",
                            {"RE": r"\d+"})
    assert r"'\d+'" in out
    out = substitute_params("a = LOAD '$P';", {"P": r"dir\new\table.csv"})
    assert r"'dir\new\table.csv'" in out and "\n" not in out
    # macro argument carrying a regex string literal
    out = preprocess(r"""
        DEFINE sel(rel, pat) RETURNS out {
          $out = FILTER $rel BY s matches $pat;
        };
        x = sel(a, '\\d+');
    """, None)
    assert r"matches '\\d+'" in out


def test_macro_block_ignores_braces_in_strings():
    """A '}' inside a string literal in a macro body does not close the
    macro: the body is brace-matched on a string-blanked copy."""
    from spork_spark.parser import preprocess
    out = preprocess("DEFINE m(x) RETURNS y { $y = FILTER $x BY s == '}'; };"
                     "\nb = m(a);\n", None)
    assert out.split() == ["b", "=", "FILTER", "a", "BY", "s", "==", "'}';"]


def test_commented_out_macro_is_not_defined():
    """A DEFINE inside a block comment is dead text: it must not replace
    the live definition of the same macro."""
    from spork_spark.parser import preprocess
    out = preprocess("""
        DEFINE m(x) RETURNS y { $y = FILTER $x BY v > 1; };
        /* older version:
        DEFINE m(x) RETURNS y { $y = FILTER $x BY v > 0; };
        */
        b = m(a);
    """, None)
    assert "b = FILTER a BY v > 1;" in out
    assert "FILTER a BY v > 0" not in out


def test_describe_prints_pig_schema_syntax(eng):
    """DESCRIBE renders Pig's schema syntax — bags as {(…)}, Spark↔Pig
    scalar names translated — not Spark's printSchema tree."""
    rels = run_script(eng, f"""
        a = LOAD '{SF}/nation.parquet';
        g = GROUP a BY n_regionkey;
    """)
    assert rels["a"].describe() == \
        "a: {n_nationkey: int, n_name: chararray, n_regionkey: int}"
    assert rels["g"].describe() == ("g: {group: int, a: {(n_nationkey: int,"
                                    " n_name: chararray, n_regionkey: int)}}")


def test_declare_command_substitution():
    """%declare with a backticked shell command uses its stdout — the
    standard Pig idiom for dated output paths (`%declare DATE `date
    +%F``)."""
    from spork_spark.parser import substitute_params
    out = substitute_params(
        "%declare WHO `echo spork_user`\na = LOAD '/tmp/$WHO/in';", None)
    assert "/tmp/spork_user/in" in out and "`" not in out


def test_void_macro_called_as_bare_statement(eng, tmp_path):
    """DEFINE … RETURNS void macros are called as statements, not
    assignments — typical for STORE-side helpers."""
    out = tmp_path / "snap"
    run_script(eng, f"""
        DEFINE snapshot(rel, dest) RETURNS void {{
          f = FILTER $rel BY n_regionkey > 0;
          STORE f INTO $dest;
        }};
        a = LOAD '{SF}/nation.parquet';
        snapshot(a, '{out}');
    """)
    assert out.exists()


def test_macro_call_form_must_match_returns(eng, tmp_path):
    """Assigning a void macro's 'result' (or bare-calling a returning
    macro) is rejected with a clear message."""
    with pytest.raises(PigSyntaxError, match="bare statement"):
        run_script(eng, f"""
            DEFINE v(rel) RETURNS void {{ STORE $rel INTO '{tmp_path}/x'; }};
            a = LOAD '{SF}/nation.parquet';
            b = v(a);
        """)
    with pytest.raises(PigSyntaxError, match="assign"):
        run_script(eng, f"""
            DEFINE r(rel) RETURNS out {{ $out = FILTER $rel BY n_regionkey > 0; }};
            a = LOAD '{SF}/nation.parquet';
            r(a);
        """)


def test_syntax_error_reporting(eng):
    with pytest.raises(PigSyntaxError):
        run_script(eng, "x = FILTER nosuchrel BY a > 1;")
    with pytest.raises(PigSyntaxError):
        run_script(eng, "x = FROBNICATE y;")


def test_cogroup_script(eng):
    rels = run_script(eng, f"""
        c = LOAD '{SF}/customer.parquet';
        s = LOAD '{SF}/supplier.parquet';
        cg = COGROUP c BY c_nationkey, s BY s_nationkey;
        sz = FOREACH cg GENERATE group AS k, SIZE(c) AS nc, SIZE(s) AS ns;
    """)
    out = rows(rels["sz"])
    assert len(out) == 25
    assert all(len(r) == 3 for r in out)


def test_cogroup_inner_flag(eng):
    """COGROUP a BY k INNER, b BY k: groups where a's bag is empty drop."""
    rels = run_script(eng, f"""
        n = LOAD '{SF}/nation.parquet';
        nf = FILTER n BY n_regionkey <= 2;
        r = LOAD '{SF}/region.parquet';
        cg = COGROUP nf BY n_regionkey INNER, r BY r_regionkey;
        cg2 = COGROUP nf BY n_regionkey, r BY r_regionkey;
    """)
    assert rels["cg"].df().count() == 3      # regions 3,4 have empty nf bags
    assert rels["cg2"].df().count() == 5     # OUTER default keeps all groups


def test_illustrate_traces_lineage(eng, capsys):
    """ILLUSTRATE prints schema + example rows per lineage step, and flags
    steps whose example set is empty (our sample-based stand-in for the
    reference's ExampleGenerator row synthesis — divergence documented)."""
    run_script(eng, f"""
        n = LOAD '{SF}/nation.parquet';
        f = FILTER n BY n_nationkey < 0;
        g = FOREACH f GENERATE n_name;
        ILLUSTRATE g;
    """)
    out = capsys.readouterr().out
    assert "-- Load" in out and "-- Filter" in out and "-- ForEach" in out
    assert "n_nationkey:int" in out            # schema shown
    assert out.count("no example rows reach this operator") == 2


def test_range_projection(eng):
    """Project-range (Pig 0.9): name..name, $n..$m, ..name, name.., bare ..
    expand positionally against the input schema at compile time."""
    rels = run_script(eng, f"""
        n = LOAD '{SF}/nation.parquet';
        a = FOREACH n GENERATE n_nationkey .. n_regionkey;
        b = FOREACH n GENERATE $0 .. $1;
        c = FOREACH n GENERATE .. n_name;
        d = FOREACH n GENERATE n_name ..;
        e = FOREACH n GENERATE ..;
        f = FOREACH n GENERATE n_name .. n_regionkey, UPPER(n_name) AS un;
    """)
    all_cols = rels["e"].df().columns
    assert rels["a"].df().columns == all_cols[:3]
    assert rels["b"].df().columns == all_cols[:2]
    assert rels["c"].df().columns == all_cols[:2]
    assert rels["d"].df().columns == all_cols[1:]
    assert rels["f"].df().columns == all_cols[1:3] + ["un"]
    # unknown bound errors at compile time, not silently
    import pytest as _pt
    with _pt.raises(ValueError):
        run_script(eng, f"""
            n = LOAD '{SF}/nation.parquet';
            x = FOREACH n GENERATE nope .. n_name;
        """)["x"].df()


def test_multi_field_projection(eng):
    """b.(f1,f2): bag → bag of 2-field tuples; tuple → sub-tuple (Pig's
    parenthesized projection list). Compiles to transform/struct HOFs."""
    rels = run_script(eng, f"""
        n = LOAD '{SF}/nation.parquet';
        g = GROUP n BY n_regionkey;
        p = FOREACH g GENERATE group, n.(n_name, n_nationkey) AS pairs;
        t = FOREACH n GENERATE TOTUPLE(n_nationkey, n_name) AS tt;
        s = FOREACH t GENERATE tt.(n_name) AS sub;
    """)
    assert rels["p"].df().schema["pairs"].dataType.simpleString() == \
        "array<struct<n_name:string,n_nationkey:int>>"
    assert rels["s"].df().schema["sub"].dataType.simpleString() == \
        "struct<n_name:string>"
    row = rels["p"].df().filter("group = 0").collect()[0]
    assert all(len(p) == 2 for p in row.pairs) and len(row.pairs) == 5


def test_nested_schema_ddl(eng, tmp_path):
    """AS (…) accepts nested Pig types: tuple(…), bag{t:(…)}, map[t] →
    struct / array<struct> / map (SURVEY.md §1.2 mapping)."""
    f = tmp_path / "t.json"
    f.write_text('{"a":1,"t":{"p":2,"q":3.5},"bg":[{"m":7}],"mp":{"k":9}}\n')
    rels = run_script(eng, f"""
        x = LOAD '{f}' USING JsonLoader()
            AS (a:int, t:tuple(p:int,q:double), bg:bag{{tt:(m:int)}}, mp:map[int]);
    """)
    assert rels["x"].df().schema.simpleString() == \
        ("struct<a:int,t:struct<p:int,q:double>,"
         "bg:array<struct<m:int>>,mp:map<string,int>>")
    r = rels["x"].df().collect()[0]
    assert r.t.q == 3.5 and r.bg[0].m == 7 and r.mp["k"] == 9


def test_star_keys_and_const_limit(eng):
    """ORDER/GROUP BY * expand to the whole tuple (Pig's whole-tuple key);
    LIMIT/SAMPLE accept constant scalar expressions (Pig 0.10)."""
    rels = run_script(eng, f"""
        n = LOAD '{SF}/nation.parquet';
        o = ORDER n BY *;
        g = GROUP n BY *;
        c = FOREACH g GENERATE group, COUNT(n) AS cnt;
        l = LIMIT n 2*3;
        o2 = ORDER n BY n_name ..;
    """)
    first = rels["o"].df().collect()[0]
    assert first.n_nationkey == 0            # sorted by leading column
    cdf = rels["c"].df()
    assert cdf.count() == 25                 # whole-tuple key: all distinct
    assert cdf.schema["group"].dataType.typeName() == "struct"
    assert rels["l"].df().count() == 6
    assert rels["o2"].df().count() == 25
    import pytest as _pt
    with _pt.raises(Exception):
        run_script(eng, f"n = LOAD '{SF}/nation.parquet'; l = LIMIT n n_x;")


def test_define_function_alias(eng, tmp_path):
    """DEFINE alias PigStorage(',') names a loader instance; USING alias
    resolves it (SURVEY.md §2.1 #27)."""
    f = tmp_path / "t.csv"
    f.write_text("1,x\n2,y\n")
    rels = run_script(eng, f"""
        DEFINE myload PigStorage(',');
        x = LOAD '{f}' USING myload AS (a:int, b:chararray);
    """)
    assert [tuple(r) for r in rels["x"].df().orderBy("a").collect()] == \
        [(1, "x"), (2, "y")]


def test_qualified_field_refs(eng):
    """alias::field referencing after JOIN: qualified refs to bare columns
    resolve; bare refs to collided (renamed) columns resolve when
    unambiguous — Pig's name-resolution rule."""
    rels = run_script(eng, f"""
        n = LOAD '{SF}/nation.parquet';
        r = LOAD '{SF}/region.parquet';
        j = JOIN n BY n_regionkey, r BY r_regionkey;
        p = FOREACH j GENERATE n::n_name, r::r_name;
        a = LOAD '{SF}/nation.parquet';
        b = LOAD '{SF}/nation.parquet';
        j2 = JOIN a BY n_nationkey, b BY n_nationkey;
        q = FOREACH j2 GENERATE a::n_name AS an, b::n_regionkey AS brk;
    """)
    assert rels["p"].df().columns == ["n_name", "r_name"]
    assert rels["p"].df().count() == 25
    assert rels["q"].df().count() == 25


def test_inline_relational_operands(eng):
    """Pig's anonymous-relation idiom: FOREACH (GROUP x BY k) GENERATE …,
    JOIN (FILTER …) BY …, ORDER (DISTINCT …) BY … — parenthesized
    relational expressions as operands. The §4.3 fusion must still fire."""
    rels = run_script(eng, f"""
        n = LOAD '{SF}/nation.parquet';
        c = FOREACH (GROUP n BY n_regionkey) GENERATE group, COUNT(n) AS cnt;
        j = JOIN (FILTER n BY n_regionkey > 1) BY n_regionkey,
                 (LOAD '{SF}/region.parquet') BY r_regionkey;
        o = ORDER (DISTINCT n) BY n_nationkey;
    """)
    assert rels["c"].df().count() == 5
    plan = rels["c"].df()._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan and "HashAggregate" in plan
    assert rels["j"].df().count() == 15
    assert rels["o"].df().count() == 25


def test_mixed_cube_rollup(eng):
    """CUBE rel BY CUBE(a), ROLLUP(b): cross product of per-clause grouping
    sets in ONE groupingSets pass; aggregate fusion still applies."""
    rels = run_script(eng, f"""
        li = LOAD '{SF}/lineitem.parquet';
        c = CUBE li BY CUBE(l_returnflag), ROLLUP(l_linestatus);
        p = FOREACH c GENERATE group.l_returnflag AS rf,
                               group.l_linestatus AS ls, COUNT(li) AS n;
    """)
    rows = rels["p"].df().collect()
    # sets: {rf,ls},{rf},{ls},{} → 6 + 3 + 2 + 1 rows on this data
    assert len(rows) == 12
    total = [r.n for r in rows if r.rf is None and r.ls is None]
    assert total == [rels["li"].df().count()]
    plan = rels["p"].df()._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan   # fused, no bag



def test_mixed_cube_bag_escapes(eng):
    """The mixed-grouping bag can ESCAPE fusion too: DESCRIBE/nested
    consumption of `c` itself compiles (groupingSets + collect_list),
    with bag sizes matching the fused COUNT per grouping set. Until
    r10 this path raised NotImplementedError — real Pig allows any
    consumer of a CUBE relation."""
    rels = run_script(eng, f"""
        li = LOAD '{SF}/lineitem.parquet';
        c = CUBE li BY CUBE(l_returnflag), ROLLUP(l_linestatus);
        sizes = FOREACH c GENERATE group.l_returnflag AS rf,
                                   group.l_linestatus AS ls,
                                   SIZE(li) AS n;
        p = FOREACH c GENERATE group.l_returnflag AS rf,
                               group.l_linestatus AS ls, COUNT(li) AS n;
    """)
    # `sizes` consumes the bag unfused (SIZE of the bag column), `p`
    # fuses; both must agree on every grouping set
    got = {(r.rf, r.ls): r.n for r in rels["sizes"].df().collect()}
    want = {(r.rf, r.ls): r.n for r in rels["p"].df().collect()}
    assert got == want and len(got) == 12
    plan = rels["sizes"].df()._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" in plan      # genuinely the unfused bag path


def test_order_parallel_keeps_total_order(eng):
    """ORDER ... PARALLEL n sets the reducer count but the output stays
    TOTALLY ordered (Pig's range-sort contract; caught by the PigMix L9
    golden): n range partitions whose ids carry the global order, never
    a round-robin repartition after the sort."""
    rels = run_script(eng, f"""
        o = LOAD '{SF}/orders.parquet';
        p = FOREACH o GENERATE o_orderpriority, o_orderkey;
        srt = ORDER p BY o_orderpriority DESC, o_orderkey PARALLEL 4;
    """)
    df = rels["srt"].df()
    assert df.rdd.getNumPartitions() == 4
    rows = [(r.o_orderpriority, r.o_orderkey) for r in df.collect()]
    assert rows == sorted(rows, key=lambda t: (_desc_key(t[0]), t[1]))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobin" not in plan


def _desc_key(s):
    # invert string ordering for the DESC leading key
    return tuple(-ord(c) for c in s)


def test_literals_and_escapes(eng, tmp_path):
    r"""Scientific-notation integers (1e6), string escapes (\t \n \uXXXX),
    unknown escapes pass through (regex '\d+' keeps its backslash), and
    GROUP rel ALL PARALLEL parses."""
    f = tmp_path / "t.tsv"
    f.write_text("1\tx\n2\ty\n")
    rels = run_script(eng, f"""
        n = LOAD '{SF}/nation.parquet';
        sci = FILTER n BY n_nationkey < 1e6;
        x = LOAD '{f}' USING PigStorage('\\t') AS (a:int, b:chararray);
        g = GROUP n ALL PARALLEL 1;
        c = FOREACH g GENERATE COUNT(n) AS n;
        rx = FILTER n BY n_name matches 'NATION\\u005F\\d+';
    """)
    assert rels["sci"].df().count() == 25
    assert [tuple(r) for r in rels["x"].df().orderBy("a").collect()] == \
        [(1, "x"), (2, "y")]
    assert rels["c"].df().collect()[0].n == 25
    assert rels["rx"].df().count() == 25       # names are NATION_<k>


def test_flatten_aliases_and_position(eng):
    """FLATTEN(...) AS name renames a single flattened field; AS (a, b)
    renames them all (and inlines dynamic-arity STRSPLIT tuples without a
    row fan-out); flattened fields sit at the generator's position."""
    rels = run_script(eng, f"""
        d = LOAD '{SF}/nation.parquet';
        w = FOREACH d GENERATE FLATTEN(TOKENIZE(n_name)) AS tok, n_regionkey;
        s = FOREACH d GENERATE FLATTEN(STRSPLIT(n_name, '_')) AS (w1, w2),
                               n_regionkey;
        g = FOREACH (GROUP d BY n_regionkey)
            GENERATE group, FLATTEN(d.n_name) AS nm;
    """)
    assert rels["w"].df().columns == ["tok", "n_regionkey"]
    assert rels["s"].df().columns == ["w1", "w2", "n_regionkey"]
    assert rels["s"].df().count() == 25          # inline, no fan-out
    assert rels["g"].df().columns == ["group", "nm"]
    assert rels["g"].df().count() == 25          # bag fan-out preserved


def test_grunt_commands_execute_in_statement_order(eng, tmp_path):
    """SURVEY §2.1 #33: fs/sh + bare rmf/cat/mkdir/cp/mv/ls run against
    the local filesystem at parse time, in statement order — the
    `rmf out; STORE … INTO 'out'` idiom twice in a row must work."""
    import os
    from spork_spark.parser import run_script
    d = str(tmp_path)
    run_script(eng, f"""
        mkdir {d}/sub;
        sh echo hello > {d}/sub/x.txt;
        o = LOAD '/root/testdata/sf0.001/region.parquet';
        rmf {d}/out;
        STORE o INTO '{d}/out' USING parquet;
        rmf {d}/out;
        STORE o INTO '{d}/out' USING parquet;
        cp {d}/sub/x.txt {d}/y.txt;
        mv {d}/y.txt {d}/z.txt;
        fs -rm -r {d}/sub;
    """)
    assert os.path.isdir(f"{d}/out")
    assert open(f"{d}/z.txt").read().strip() == "hello"
    assert not os.path.exists(f"{d}/sub")


def test_grunt_words_still_usable_as_aliases(eng):
    """`ls = LOAD …` must stay a relation assignment, not a listing."""
    from spork_spark.parser import run_script
    rels = run_script(eng, """
        ls = LOAD '/root/testdata/sf0.001/region.parquet';
        x = FILTER ls BY r_regionkey >= 0;
    """)
    assert rels["x"].df().count() == 5


def test_grunt_rm_without_force_raises(eng, tmp_path):
    import pytest
    from spork_spark.parser import run_script
    with pytest.raises(FileNotFoundError):
        run_script(eng, f"rm {tmp_path}/nope;")
    run_script(eng, f"rmf {tmp_path}/nope;")     # force: no error


def test_grunt_sh_with_metachars_and_quoted_semicolon(eng, tmp_path):
    """Shell pipes/quotes and a ';' INSIDE a quoted argument must work —
    grunt statements are extracted before the Pig lexer runs (round-4
    review findings)."""
    import os
    from spork_spark.parser import run_script
    d = str(tmp_path)
    run_script(eng, f"""
        sh echo "a;b" | tr ';' '-' > {d}/piped.txt;
        sh touch '{d}/x;y';
        o = LOAD '/root/testdata/sf0.001/region.parquet';
    """)
    assert open(f"{d}/piped.txt").read().strip() == "a-b"
    assert os.path.exists(f"{d}/x;y")


def test_grunt_degenerate_commands_raise_syntax_errors(eng):
    from spork_spark.parser import run_script
    for bad in ("sh;", "cp onlyone;", "mv onlyone;"):
        with pytest.raises(PigSyntaxError):
            run_script(eng, bad)


def test_grunt_marker_not_spoofable_inside_foreach(eng):
    """Inner ';' in a nested FOREACH body must not be treated as a
    statement boundary by the grunt extractor."""
    from spork_spark.parser import run_script
    rels = run_script(eng, """
        o = LOAD '/root/testdata/sf0.001/orders.parquet';
        g = GROUP o BY o_custkey;
        s = FOREACH g { t = FILTER o BY o_totalprice > 0.0;
                        GENERATE group AS k, COUNT_STAR(t) AS n; };
    """)
    assert rels["s"].df().count() > 0


def test_grunt_extractor_is_identity_without_grunt_statements():
    """Scripts with no grunt commands must pass through BYTE-IDENTICAL
    (token positions feed error messages), including ';' inside strings,
    comments, and nested FOREACH braces."""
    from spork_spark.parser.pig import _extract_grunt_statements
    script = """-- a comment; with a semicolon
        a = LOAD 'p.parquet';  /* block; comment */
        b = FILTER a BY s == 'x;y';
        c = FOREACH (GROUP a BY k) { t = FILTER a BY v > 0; GENERATE group, COUNT_STAR(t); };
    """
    out, cmds = _extract_grunt_statements(script)
    assert out == script and cmds == []


def test_grunt_extractor_pulls_only_top_level_commands():
    from spork_spark.parser.pig import _extract_grunt_statements
    script = "mkdir /tmp/x;\na = LOAD 'p';\nsh echo 'a;b' ;\n"
    out, cmds = _extract_grunt_statements(script)
    assert cmds == ["mkdir /tmp/x", "sh echo 'a;b'"]
    assert "__grunt__ 0;" in out and "__grunt__ 1;" in out
    assert "a = LOAD 'p';" in out


def test_grunt_quoted_paths_with_spaces(eng, tmp_path):
    """run_grunt tokenizes with shlex: a quoted path containing spaces
    is ONE argument to cat/cp/mv/rm (round-4 advice item)."""
    import os
    from spork_spark.parser import run_script
    d = str(tmp_path)
    os.makedirs(f"{d}/my dir")
    with open(f"{d}/my dir/a b.txt", "w") as fh:
        fh.write("spaced\n")
    run_script(eng, f"""
        cp '{d}/my dir/a b.txt' '{d}/c d.txt';
        mv '{d}/c d.txt' '{d}/e f.txt';
        rmf '{d}/my dir';
    """)
    assert open(f"{d}/e f.txt").read().strip() == "spaced"
    assert not os.path.exists(f"{d}/my dir")


def test_grunt_exec_isolated_and_run_shared(eng, tmp_path):
    """GruntParser semantics: `exec` runs the nested script in a batch
    context (no alias leakage either way); `run` executes in the
    CURRENT context (aliases shared both directions); both accept
    -param / -param_file."""
    import os
    from spork_spark.parser import run_script
    d = str(tmp_path)
    with open(f"{d}/child.pig", "w") as fh:
        fh.write("""
            kid = LOAD '/root/testdata/sf0.001/region.parquet';
            lim = LIMIT kid $N;
            STORE lim INTO '$OUT' USING parquet;
        """)
    with open(f"{d}/params.txt", "w") as fh:
        fh.write(f"# comment\nOUT={d}/out_exec\n")
    # exec: isolated — 'kid'/'lim' must NOT appear in the par session
    rels = run_script(eng, f"""
        par = LOAD '/root/testdata/sf0.001/nation.parquet';
        exec -param N=3 -param_file {d}/params.txt {d}/child.pig;
    """)
    assert "kid" not in rels and "lim" not in rels and "par" in rels
    assert eng.spark.read.parquet(f"{d}/out_exec").count() == 3
    # run: shared — child aliases persist and are usable afterwards
    rels2 = run_script(eng, f"""
        par = LOAD '/root/testdata/sf0.001/nation.parquet';
        run -param N=2 -param OUT={d}/out_run {d}/child.pig;
        back = FILTER lim BY r_regionkey >= 0;
    """)
    assert "lim" in rels2 and rels2["back"].df().count() == 2
    assert os.path.isdir(f"{d}/out_run")


def test_grunt_exec_sees_no_outer_aliases(eng, tmp_path):
    """A child script referencing an par alias under `exec` must fail
    (isolation), while under `run` it works."""
    from spork_spark.parser import run_script
    d = str(tmp_path)
    with open(f"{d}/uses_outer.pig", "w") as fh:
        fh.write("x = LIMIT par 1;\n")
    with pytest.raises(PigSyntaxError):
        run_script(eng, f"""
            par = LOAD '/root/testdata/sf0.001/region.parquet';
            exec {d}/uses_outer.pig;
        """)
    rels = run_script(eng, f"""
        par = LOAD '/root/testdata/sf0.001/region.parquet';
        run {d}/uses_outer.pig;
    """)
    assert rels["x"].df().count() == 1


def test_grunt_kill_is_warned_noop(eng, capsys):
    from spork_spark.parser import run_script
    run_script(eng, "kill job_123;")
    assert "kill" in capsys.readouterr().err


def test_set_statement_dotted_key(eng):
    """SET with a dotted conf key — the common real-script idiom
    (`set mapred.job.queue.name q;` / `set spark.spork.*`). The key
    tokenizes as ident (. ident)*; st_set must consume the whole path
    (found by driving the grunt shell with
    `SET spark.spork.warnings.enabled 'true';`, which previously died
    with \"expected ;, got 'spork'\")."""
    from spork_spark.parser import run_script
    key = "spark.spork.test.dotted_set_key"
    run_script(eng, f"SET {key} 'hello';")
    assert eng.spark.conf.get(key) == "hello"
    # `set default_parallel N` maps to the Spark default shuffle
    # partition count (PigServer.setDefaultParallel's role)
    old = eng.spark.conf.get("spark.sql.shuffle.partitions")
    try:
        run_script(eng, "SET default_parallel 10;")
        assert eng.spark.conf.get("spark.sql.shuffle.partitions") == "10"
    finally:
        eng.spark.conf.set("spark.sql.shuffle.partitions", old)


def test_schema_errors_surface_at_the_defining_statement(eng):
    """Pig rejects `b = FILTER a BY no_such_col;` AT THE STATEMENT
    (grunt prompt or batch plan pass), not at first DUMP/STORE. The
    failed alias stays undefined, and the session keeps working."""
    import pytest
    from spork_spark.parser import run_script

    rel = eng.from_df(eng.spark.createDataFrame([(1,)], "x int"))
    p_rels = {}
    with pytest.raises(Exception, match="no_such_col"):
        p_rels = run_script(eng, "b = FILTER a BY no_such_col > 1;",
                            relations={"a": rel})
    assert "b" not in p_rels
    out = run_script(eng, "c = FILTER a BY x > 0;", relations={"a": rel})
    assert out["c"].df().count() == 1


def test_rank_statement_stays_lazy(eng):
    """RANK's compile runs a real job (two-pass offsets), which Pig's
    statement-time validation never does — defining a RANK must not
    trigger execution (its errors surface at first use instead)."""
    from spork_spark.parser import run_script

    rel = eng.from_df(eng.spark.createDataFrame([(1,), (2,)], "x int"))
    before = eng.spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    rels = run_script(eng, "r = RANK a BY x;", relations={"a": rel})
    after = eng.spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert len(after) == len(before)      # no job at definition
    assert [tuple(r) for r in rels["r"].df().orderBy("x").collect()] == \
        [(1, 1), (2, 2)]


def test_set_statement_dotted_value(eng):
    """SET with a dotted UNQUOTED value — real Pig accepts
    `set mapred.job.queue.name root.prod;` (the value tokenizes as
    ident (. ident)* exactly like the key)."""
    from spork_spark.parser import run_script
    key = "spark.spork.test.dotted_set_value"
    run_script(eng, f"SET {key} root.prod;")
    assert eng.spark.conf.get(key) == "root.prod"


def test_dump_prints_pig_tuple_format(eng, capsys):
    """DUMP prints Pig's TupleFormat — (v1,{(b)},[k#v]), nulls empty,
    no header, no Spark show table
    (pig:src/org/apache/pig/data/utils/TupleFormat.java)."""
    from spork_spark.parser import run_script
    rel = eng.from_df(eng.spark.createDataFrame(
        [(1, "x", None)], "a int, s string, z string"))
    run_script(eng, """
        g = GROUP t BY a;
        p = FOREACH g GENERATE group, t, TOMAP('k', group) AS m;
        DUMP t;
        DUMP p;
    """, relations={"t": rel})
    out = capsys.readouterr().out
    assert "(1,x,)" in out                 # null renders empty
    assert "(1,{(1,x,)},[k#1])" in out     # bag + map forms
    assert "+---" not in out               # not a show() table


# -- one lexer for every text pass ----------------------------------------
# Each text pass (tokenizer, parameter and macro expansion, grunt split,
# grunt prompt) reads the same lexer, so comments, string literals and
# backtick commands mean the same thing to all of them.

_MACRO_M = "DEFINE m(x) RETURNS y {\n  $y = FILTER $x BY v > 0;\n};\n"


def test_macro_call_inside_block_comment_is_dead():
    """A macro call inside a multi-line /* */ block is comment text, not
    a call site to expand (it used to raise 'expects 1 args, got 2')."""
    from spork_spark.parser import preprocess
    out = preprocess(_MACRO_M + "a = LOAD 'p';\n/*\nb = m(a, c);\n*/\n"
                     "d = m(a);\n", None)
    assert "/*\nb = m(a, c);\n*/" in out
    assert "d = FILTER a BY v > 0;" in out


def test_double_dash_inside_backtick_is_not_a_comment():
    """`--` inside a backtick command is part of the command: it neither
    hides the next grunt statement nor the '}' that ends a macro."""
    from spork_spark.parser import preprocess
    from spork_spark.parser.pig import _extract_grunt_statements
    out, cmds = _extract_grunt_statements(
        "DEFINE c `cut --fields=1`;\nrmf out;\n")
    assert cmds == ["rmf out"]
    assert out == "DEFINE c `cut --fields=1`; __grunt__ 0;\n"
    out = preprocess("DEFINE m(x) RETURNS y { DEFINE c `cut --fields=1`; "
                     "$y = STREAM $x THROUGH c; };\nb = m(a);\n", None)
    assert "b = STREAM a THROUGH c;" in out


def test_semicolon_inside_backtick_does_not_split_grunt_scan():
    from spork_spark.parser.pig import _extract_grunt_statements
    src = "DEFINE c `tr a b; rm -f x`;\na = LOAD 'p';\n"
    assert _extract_grunt_statements(src) == (src, [])


def test_macro_alias_masking_skips_string_literals():
    """Renaming a macro-internal alias `t` must not rewrite the literal
    't' (that silently changed which rows the filter keeps)."""
    from spork_spark.parser import preprocess
    out = preprocess("DEFINE m(x) RETURNS y {\n"
                     "  t = FILTER $x BY tag == 't';\n"
                     "  $y = FOREACH t GENERATE tag;\n};\n"
                     "b = m(a);\n", None)
    assert "__m1_t = FILTER a BY tag == 't';" in out
    assert "b = FOREACH __m1_t GENERATE tag;" in out


def test_macro_arguments_split_at_code_commas_only():
    from spork_spark.parser import preprocess
    out = preprocess("DEFINE m(x, s) RETURNS y {\n"
                     "  $y = FILTER $x BY tag == $s;\n};\n"
                     "b = m(a, 'x,y');\n", None)
    assert "b = FILTER a BY tag == 'x,y';" in out


def test_commented_declare_is_dead_in_batch_mode():
    """A %declare inside /* */ is comment text, in batch mode as at the
    grunt prompt: the live %default stays in force."""
    from spork_spark.parser import preprocess
    out = preprocess("%default N 1\n/*\n%declare N 5\n*/\n"
                     "b = LIMIT a $N;\n", None)
    assert "b = LIMIT a 1;" in out
    assert "%declare N 5" in out          # the comment itself is kept


def test_declare_value_stops_before_a_trailing_comment():
    """The value of `%declare N 5 -- five rows` is `5`: the comment is
    not part of it, and the whole line is removed."""
    from spork_spark.parser import preprocess
    out = preprocess("%declare N 5 -- five rows\nb = LIMIT a $N;\n"
                     "%default S 'a -- b'  /* why */\n"
                     "c = FILTER b BY s == '$S';\n", None)
    assert out.split() == "b = LIMIT a 5; c = FILTER b BY s == 'a -- b';" \
        .split()


def test_declare_followed_by_a_multiline_comment_keeps_it_whole():
    """A /* */ comment opened after a %declare's value and closed on a
    later line stays a comment: only the directive's code is removed,
    so the comment's tail does not become code and no newline is
    lost."""
    from spork_spark.parser import preprocess
    from spork_spark.parser.pig import tokenize
    src = "%declare N 5 /* start\n more */ b = LIMIT a $N;\n"
    out = preprocess(src, None)
    assert out == " /* start\n more */ b = LIMIT a 5;\n"
    assert out.count("\n") == src.count("\n")
    assert [t.text for t in tokenize(out)] == \
        [t.text for t in tokenize("b = LIMIT a 5;")]


def _literal(pieces):
    from hypothesis import strategies as st
    return st.lists(st.sampled_from(pieces), max_size=6).map("".join)


def test_lexer_passes_agree_on_statement_boundaries():
    """Property: for scripts whose literals, comments and backtick
    commands hold `; { } -- /* ' "`, the tokenizer, the grunt prompt and
    the grunt-command split see the same statements."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from spork_spark.__main__ import _statement_complete
    from spork_spark.parser.pig import _extract_grunt_statements, tokenize

    noise = [";", "{", "}", "--", "/*", '"', "a", " "]
    lit = _literal(noise + ["\\'", "\\\\", "`"])
    line = _literal(noise + ["'", "*/", "`"])
    block = _literal(noise + ["'", "`", "\n"]).filter(
        lambda t: "*/" not in t)
    tick = _literal(noise + ["'", "*/"])
    stmt = st.one_of(
        lit.map(lambda s: f"r = FILTER a BY s == '{s}';"),
        tick.map(lambda s: f"DEFINE c `{s}`;"),
        lit.map(lambda s: "r = FOREACH g { t = FILTER a BY s == "
                          f"'{s}'; GENERATE COUNT(t); }};"))
    after = st.one_of(st.just("\n"), line.map(lambda s: f" --{s}\n"),
                      block.map(lambda s: f" /*{s} */\n"))

    @settings(max_examples=300, deadline=None)
    @given(parts=st.lists(st.tuples(stmt, after), min_size=1, max_size=5))
    def check(parts):
        script, end = "", 0
        for s, tail in parts:
            end = len(script) + len(s) - 1      # this statement's ';'
            script += s + tail
        depth, ends = 0, 0
        for t in tokenize(script):
            if t.kind == "op":
                depth += {"{": 1, "}": -1}.get(t.text, 0)
                ends += t.text == ";" and depth == 0
        assert ends == len(parts)
        assert _statement_complete(script)
        assert not _statement_complete(script[:end] + script[end + 1:])
        assert _extract_grunt_statements(script) == (script, [])

    check()
