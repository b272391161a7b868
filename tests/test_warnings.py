"""Aggregated cast-failure warning counters (SURVEY.md §1.3 —
pig:src/org/apache/pig/PigWarning.java FIELD_DISCARDED_TYPE_CONVERSION_
FAILED, counted by POCast.warn() and aggregated at job end). The engine
rides them on Dataset.observe metrics behind
spark.spork.warnings.enabled; spork_spark/warnings.py."""

import pytest

from spork_spark import Engine, col


@pytest.fixture()
def warn_eng(spark):
    spark.conf.set("spark.spork.warnings.enabled", "true")
    eng = Engine(spark)  # fresh engine: isolated collector + plan cache
    yield eng
    spark.conf.set("spark.spork.warnings.enabled", "false")


def _dirty(spark):
    # 2 discards ("2x", "nope"); the null input must NOT count (Pig
    # warns on DISCARDED values, null in -> null out is not a discard)
    return spark.createDataFrame(
        [("1",), ("2x",), ("3",), (None,), ("nope",)], "s string")


def test_foreach_cast_discards_counted(spark, warn_eng):
    rel = warn_eng.from_df(_dirty(spark))
    out = rel.foreach(col("s").cast("int").alias("v"))
    assert out.df().count() == 5          # discards null, rows survive
    delta = warn_eng.warnings.harvest()
    assert delta == {"s -> int": 2}
    assert warn_eng.warnings.counts["s -> int"] == 2


def test_filter_cast_discards_counted(spark, warn_eng):
    rel = warn_eng.from_df(_dirty(spark))
    out = rel.filter(col("s").cast("int") > 1)
    assert out.df().count() == 1          # only "3"
    assert warn_eng.warnings.harvest() == {"s -> int": 2}


def test_unmaterialized_plan_stays_pending(spark, warn_eng):
    rel = warn_eng.from_df(_dirty(spark))
    rel.foreach(col("s").cast("int").alias("v")).df()  # built, never run
    assert warn_eng.warnings.harvest() == {}            # non-blocking
    assert len(warn_eng.warnings._pending) == 1


def test_flag_off_attaches_nothing(spark):
    spark.conf.set("spark.spork.warnings.enabled", "false")
    eng = Engine(spark)
    rel = eng.from_df(_dirty(spark))
    df = rel.foreach(col("s").cast("int").alias("v")).df()
    assert df.count() == 5
    assert "CollectMetrics" not in df._jdf.queryExecution().toString()
    assert eng.warnings.harvest() == {}


def test_join_key_cast_discards_counted(spark, warn_eng):
    """POCast warns at EVERY cast site, including the local-rearrange
    key cast feeding a join (pig:…/expressionOperators/POCast.java
    warn()); r9 counted only FOREACH/FILTER expression casts — a dirty
    script joining on a cast key lost the discard signal."""
    left = warn_eng.from_df(_dirty(spark))
    right = warn_eng.from_df(
        spark.createDataFrame([(1,), (3,)], "k int"))
    out = left.join([col("s").cast("int")], right, [col("k")])
    assert out.df().count() == 2          # "1" and "3" match
    assert warn_eng.warnings.harvest() == {"s -> int": 2}


def test_group_key_cast_discards_counted(spark, warn_eng, tmp_path):
    """Group-key casts count in BOTH the fused (FOREACH-aggregate) and
    unfused (bag-escapes) GROUP paths."""
    from spork_spark.parser import run_script

    rel = warn_eng.from_df(_dirty(spark))
    run_script(warn_eng, f"""
        b = GROUP a BY (int)s;
        c = FOREACH b GENERATE group, COUNT(a) AS n;
        STORE c INTO '{tmp_path}/fused';
    """, relations={"a": rel})
    assert warn_eng.warnings.counts["s -> int"] == 2    # fused path
    bag = rel.group_by(col("s").cast("int"))            # unfused path
    assert bag.df().count() == 3          # groups: 1, 3, null(merged)
    warn_eng.warnings.harvest()
    assert warn_eng.warnings.counts["s -> int"] == 4


def test_fused_agg_arg_cast_discards_counted(spark, warn_eng):
    """Casts INSIDE fused-aggregate arguments (SUM((int)s)) evaluate
    per input row — probed on the aggregation input. Casts WRAPPING an
    aggregate ((long)COUNT_STAR) are peeled and re-applied post-agg
    with their own probe (here the long cast never discards)."""
    from spork_spark.parser import run_script

    rel = warn_eng.from_df(_dirty(spark))
    rels = run_script(warn_eng, """
        b = GROUP a ALL;
        c = FOREACH b GENERATE SUM((int)s) AS t, (long)COUNT_STAR(a) AS n;
    """, relations={"a": rel})
    row = rels["c"].df().collect()[0]
    assert (row.t, row.n) == (4, 5)       # 1+3; all 5 rows counted
    assert warn_eng.warnings.harvest() == {"s -> int": 2}


def test_fused_agg_wrapping_cast_discards_counted(spark, warn_eng):
    """A cast WRAPPING a fused aggregate that actually discards
    ((int)MAX(s) where MAX returns 'nope') counts once per group —
    POCast warns at the cast site, evaluated post-combine in Pig."""
    from spork_spark.parser import run_script

    rel = warn_eng.from_df(_dirty(spark))
    rels = run_script(warn_eng, """
        b = GROUP a ALL;
        c = FOREACH b GENERATE (int)MAX(s) AS m;
    """, relations={"a": rel})
    assert rels["c"].df().collect()[0].m is None   # 'nope' -> null
    assert warn_eng.warnings.harvest() == {"m -> int": 1}


def test_mixed_key_agg_generator_cast_discards_counted(spark, warn_eng):
    """A mixed key+aggregate generator's post-agg casts count once per
    group: CONCAT(group, (chararray)(int)MIN(s)) — MIN is 'nope'-free
    here ('1'), so the int cast succeeds for group '1' and discards
    for non-numeric groups."""
    from spork_spark.parser import run_script

    rel = warn_eng.from_df(_dirty(spark))
    rels = run_script(warn_eng, """
        b = GROUP a BY s;
        c = FOREACH b GENERATE CONCAT(group, (chararray)(int)MIN(s)) AS x;
    """, relations={"a": rel})
    assert rels["c"].df().count() == 5    # groups: 1, 2x, 3, nope, null
    # discards: '2x' and 'nope' fail (int)MIN(s); '1'/'3' pass; the
    # null-key group's MIN is null (null in -> null out, no discard)
    assert warn_eng.warnings.harvest() == {"x -> int": 2}


def test_fused_agg_interior_post_cast_discards_counted(spark, warn_eng):
    """Casts in INTERIOR post-agg scalar positions —
    (int)CONCAT(MIN(s),'zz') — ride the aggregate/remainder split too,
    alongside per-input-row argument casts in the same FOREACH."""
    from spork_spark.parser import run_script

    rel = warn_eng.from_df(_dirty(spark))
    rels = run_script(warn_eng, """
        b = GROUP a ALL;
        c = FOREACH b GENERATE (int)CONCAT(MIN(s), 'zz') AS m,
                               SUM((int)s) / COUNT_STAR(a) AS r;
    """, relations={"a": rel})
    row = rels["c"].df().collect()[0]
    assert row.m is None                  # '1zz' -> int discards
    assert row.r == 0                     # 4 / 5 truncating long division
    assert warn_eng.warnings.harvest() == {"s -> int": 2, "expr -> int": 1}


def test_order_key_cast_discards_counted(spark, warn_eng):
    rel = warn_eng.from_df(_dirty(spark))
    out = rel.order_by(col("s").cast("int"))
    assert out.df().count() == 5          # rows survive, order by null-first
    assert warn_eng.warnings.harvest() == {"s -> int": 2}


def test_nondeterministic_cast_child_not_probed(spark):
    """The observe metric re-evaluates the cast child; probing a
    non-deterministic child (RANDOM, a Python UDF) would miscount
    against the projected value and re-run the UDF per row — such
    casts stay silently null-on-failure (documented POCast subset)."""
    from spork_spark.compiler.expr import ExprCompiler
    from spork_spark.plans import expressions as E

    df = spark.range(3).selectExpr("cast(id as string) s")
    ctx = ExprCompiler(df, probes=[])
    ctx.compile(E.Cast("int", E.Func("RANDOM", [])))
    assert ctx.probes == []               # nondeterministic builtin: skip
    ctx.compile(E.Cast("int", E.Col("s")))
    assert len(ctx.probes) == 1           # plain column: probed


def test_harvest_without_private_api_stays_pending(warn_eng):
    """Observation._jo / getRowOrEmpty are PySpark-private (absent
    under Spark Connect, rename-prone): a runtime without them must
    degrade to 'still pending' (no warnings), never crash harvest()."""
    class _NoJo:                          # no _jo attribute at all
        pass

    warn_eng.warnings._pending = [(_NoJo(), ["s -> int"])]
    assert warn_eng.warnings.harvest() == {}
    assert len(warn_eng.warnings._pending) == 1   # kept, not dropped


def test_run_script_reports_at_end(spark, warn_eng, tmp_path, capsys):
    """The surfacing PigParser.run gives scripts and the grunt shell:
    Pig's end-of-job aggregate warning line, printed after the STORE
    action completes."""
    from spork_spark.parser import run_script

    rel = warn_eng.from_df(_dirty(spark))
    run_script(warn_eng, f"""
        b = FOREACH a GENERATE (int)s AS v;
        STORE b INTO '{tmp_path}/out';
    """, relations={"a": rel})
    err = capsys.readouterr().err
    assert "Encountered Warning FIELD_DISCARDED_TYPE_CONVERSION_FAILED" \
        in err
    assert "2 time(s)" in err
    # a clean second run prints nothing new
    run_script(warn_eng, f"""
        c = FOREACH a GENERATE s;
        STORE c INTO '{tmp_path}/out2';
    """, relations={"a": rel})
    assert "Encountered Warning" not in capsys.readouterr().err


def test_post_agg_group_ref_casts_counted(spark, warn_eng):
    """Group-ref casts in post-agg positions count once per group —
    the keyexpr/remainder projections compile through the probing
    post-agg context (POCast parity is complete: no uncounted cast
    site remains). Three shapes: fused keyexpr ((int)group), a de-fused
    generator set ((int)group next to a bag projection), and a nested
    FOREACH block."""
    from spork_spark.parser import run_script

    rel = warn_eng.from_df(_dirty(spark))

    # fused: (int)group is a key-scalar generator, probed per group
    rels = run_script(warn_eng, """
        b = GROUP a BY s;
        c = FOREACH b GENERATE (int)group AS k, COUNT_STAR(a) AS n;
    """, relations={"a": rel})
    assert rels["c"].df().count() == 5
    # groups 1,2x,3,nope,null: '2x' and 'nope' discard; null key no warn
    assert warn_eng.warnings.harvest() == {"s -> int": 2}

    # de-fused (bag projection generator alongside): same counting
    rels = run_script(warn_eng, """
        b = GROUP a BY s;
        c = FOREACH b GENERATE (int)group AS k, a.s AS bag;
    """, relations={"a": rel})
    assert rels["c"].df().count() == 5
    assert warn_eng.warnings.harvest() == {"group -> int": 2}

    # nested FOREACH block: group-ref cast in the GENERATE
    rels = run_script(warn_eng, """
        b = GROUP a BY s;
        c = FOREACH b {
            f = FILTER a BY s IS NOT NULL;
            GENERATE (int)group AS k, COUNT_STAR(f) AS n;
        };
    """, relations={"a": rel})
    assert rels["c"].df().count() == 5
    assert warn_eng.warnings.harvest() == {"s -> int": 2}


def test_split_condition_casts_counted(spark, warn_eng):
    """SPLIT lowers to one filter per branch (OTHERWISE = none-of);
    each branch evaluates its condition's casts per input row, so a
    cast shared by N branches counts N times — matching Pig's
    per-POFilter POCast instances."""
    from spork_spark.parser import run_script

    rel = warn_eng.from_df(_dirty(spark))
    rels = run_script(warn_eng, """
        SPLIT a INTO hi IF (int)s > 1, lo OTHERWISE;
    """, relations={"a": rel})
    assert rels["hi"].df().count() == 1        # only '3'
    rels["lo"].df().count()
    # 2 discards in the hi filter + 2 in the OTHERWISE complement
    assert warn_eng.warnings.harvest() == {"s -> int": 4}


def test_set_mid_script_turns_warnings_on_for_later_statements(spark):
    """The compiler reads spark.spork.* once per statement's compile, not
    once per script: a SET between two statements takes effect at the
    next one. `b` is compiled with the flag off (no probe), `c` after
    the SET (probed)."""
    from spork_spark.parser import run_script

    spark.conf.set("spark.spork.warnings.enabled", "false")
    eng = Engine(spark)
    try:
        rels = run_script(eng, """
            b = FOREACH a GENERATE (int)s AS v;
            SET spark.spork.warnings.enabled true;
            c = FOREACH a GENERATE (double)s AS w;
        """, relations={"a": eng.from_df(_dirty(spark))})
        assert rels["b"].df().count() == 5
        assert rels["c"].df().count() == 5
        assert eng.warnings.harvest() == {"s -> double": 2}
    finally:
        spark.conf.set("spark.spork.warnings.enabled", "false")


def test_spork_confs_read_once_per_script_and_compile(spark, monkeypatch):
    """spark.spork.* keys cost a py4j round trip per read: the parser
    reads its keys once per script and the compiler once per top-level
    compile, not once per expression context or per statement."""
    from pyspark.sql.conf import RuntimeConfig

    from spork_spark.parser import run_script

    reads: dict[str, int] = {}
    get = RuntimeConfig.get

    def counting(self, key, *args, **kwargs):
        reads[key] = reads.get(key, 0) + 1
        return get(self, key, *args, **kwargs)

    spark.conf.set("spark.spork.warnings.enabled", "true")
    eng = Engine(spark)
    rel = eng.from_df(_dirty(spark))
    monkeypatch.setattr(RuntimeConfig, "get", counting)
    try:
        run_script(eng, """
            b = FOREACH a GENERATE (int)s AS v, (long)s AS l, s;
            c = FILTER b BY v > 0 AND (double)s > 0.5;
            d = GROUP c BY (int)s;
            e = FOREACH d GENERATE group, SUM(c.l) AS t, COUNT(c) AS n;
        """, relations={"a": rel})
    finally:
        spark.conf.set("spark.spork.warnings.enabled", "false")
    assert reads.get("spark.spork.validate.eager") == 1
    # one compile per statement (eager validation), 4 statements
    assert reads.get("spark.spork.warnings.enabled", 0) <= 4
