"""Script-text fuzzing (beyond the reference — SURVEY.md §5.1 notes Pig
has no randomized tests). Two properties over the TEXT layer, where the
real-user bugs of past rounds lived (comment scanning, string handling,
keyword case, statement termination):

1. metamorphic: injecting comments / whitespace / keyword-case changes
   at token boundaries of a known-good script must not change its
   result;
2. crash-class: arbitrary garbage input must fail with a parse/analysis
   error, never an internal Python error (IndexError, KeyError, ...).
"""

import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from spork_spark.parser import PigSyntaxError, run_script

SF = "/root/testdata/sf0.001"

SLOW = settings(
    max_examples=int(os.environ.get("SPORK_FUZZ_EXAMPLES", "12")),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow,
                           HealthCheck.function_scoped_fixture])

# one statement per line; string literals contain no spaces, so every
# space is a safe injection point
BASE = [
    f"li = LOAD '{SF}/lineitem.parquet';",
    "f = FILTER li BY l_quantity >= 25.0 AND l_returnflag != 'X';",
    "g = GROUP f BY l_returnflag;",
    "s = FOREACH g GENERATE group AS flag, COUNT(f) AS n,"
    " SUM(f.l_quantity) AS qty;",
    "o = ORDER s BY flag;",
]

# keywords are case-insensitive in Pig; aliases and builtin fn names are
# case-sensitive — only flip the former
KEYWORDS = {"LOAD", "FILTER", "BY", "AND", "GROUP", "FOREACH", "GENERATE",
            "AS", "ORDER"}

fillers = st.sampled_from(
    [" ", "  ", "\n", "\n\t", " /* c */ ", " /*;{'*/ ", " -- t ;{\n",
     "\n-- full line comment\n"])
case_mode = st.sampled_from(["keep", "lower", "title"])


def flip(tok: str, mode: str) -> str:
    if tok.upper() in KEYWORDS:
        return {"keep": tok, "lower": tok.lower(),
                "title": tok.title()}[mode]
    return tok


@pytest.fixture(scope="module")
def golden(eng):
    rels = run_script(eng, "\n".join(BASE))
    return sorted(map(tuple, rels["o"].collect()))


@given(data=st.data())
@SLOW
def test_comment_whitespace_case_invariance(eng, golden, data):
    """A script rewritten with random token-boundary comments, blank
    runs, and keyword-case changes parses to the same plan and returns
    the same rows."""
    out_lines = []
    for line in BASE:
        toks = line.split(" ")
        toks = [flip(t, data.draw(case_mode)) for t in toks]
        glue = [data.draw(fillers) for _ in range(len(toks) - 1)]
        buf = toks[0]
        for g, t in zip(glue, toks[1:]):
            buf += g + t
        out_lines.append(buf + data.draw(fillers))
    mutated = "\n".join(out_lines)
    rels = run_script(eng, mutated)
    assert sorted(map(tuple, rels["o"].collect())) == golden


# letters deliberately exclude anything that can spell a shell-reaching
# form (%declare needs 'declare'; grunt fs/sh need those words)
_GARBAGE = "abXY01=;'(){}.,$-/*%\n \t\"\\:<>[]#&|"


@given(txt=st.text(alphabet=_GARBAGE, max_size=80))
@settings(max_examples=int(os.environ.get("SPORK_FUZZ_EXAMPLES", "12")) * 4,
          deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_garbage_never_raises_internal_errors(eng, txt):
    """Malformed input must surface as a parse/analysis error with a
    message — never an internal Python crash class."""
    try:
        run_script(eng, txt)
    except (IndexError, KeyError, AttributeError, TypeError,
            UnboundLocalError, RecursionError) as exc:
        raise AssertionError(
            f"internal {type(exc).__name__} on input {txt!r}: {exc}")
    except Exception:
        pass        # typed engine/Spark errors are the contract


# near-valid fragments: real keywords in wrong orders hit the deep
# parser paths garbage can't reach (this fuzz found DEFINE-at-EOF
# raising IndexError instead of PigSyntaxError)
_POOL = ["LOAD", "FILTER", "GROUP", "COGROUP", "BY", "FOREACH", "GENERATE",
         "ORDER", "LIMIT", "JOIN", "UNION", "SPLIT", "INTO", "IF", "AS",
         "OTHERWISE", "CROSS", "DISTINCT", "RANK", "DEFINE", "RETURNS",
         "STORE", "DUMP", "DESCRIBE", "SAMPLE", "STREAM", "THROUGH",
         "USING", "PARALLEL", "FLATTEN", "ALL", "a", "b", "li",
         f"'{SF}/nation.parquet'", "'out'", "123", "3.14", "(", ")", "{",
         "}", ";", ",", "==", ">", "<=", "$x", "$0", "group", "COUNT",
         "SUM", "a.b", "a::b", "*", "=", "#", "[", "]", "-", "+", "/",
         "(int)", "(chararray)", "NOT", "AND", "OR", "IS", "NULL",
         "MATCHES", r"'\\d+'"]


@given(toks=st.lists(st.sampled_from(_POOL), min_size=1, max_size=14),
       assign=st.booleans(), semi=st.booleans())
@settings(max_examples=int(os.environ.get("SPORK_FUZZ_EXAMPLES", "12")) * 4,
          deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_near_valid_fragments_never_raise_internal_errors(
        eng, toks, assign, semi):
    txt = ("r = " if assign else "") + " ".join(toks) + (" ;" if semi else "")
    try:
        run_script(eng, txt)
    except (IndexError, KeyError, AttributeError, TypeError,
            UnboundLocalError, RecursionError) as exc:
        raise AssertionError(
            f"internal {type(exc).__name__} on input {txt!r}: {exc}")
    except Exception:
        pass


# expression-tree fuzz: random (often ill-typed) expressions inside
# FOREACH/FILTER/GROUP over a real table exercise the expression
# compiler's dispatch + Catalyst analysis (this found $9 on a 3-column
# schema raising raw IndexError)
_LEAF = st.sampled_from(
    ["n_nationkey", "n_name", "n_regionkey", "missing_col", "$0", "$1",
     "$9", "1", "3.14", "'abc'", "''", "null", "true", "-5", "1L"])
_FN = st.sampled_from(
    ["SUBSTRING", "ROUND", "CONCAT", "SIZE", "TOKENIZE", "TOMAP",
     "TOTUPLE", "UPPER", "TRIM", "INDEXOF", "ABS", "STRSPLIT",
     "IsEmpty", "COUNT", "SUM", "FROBNICATE"])
_BIN = st.sampled_from(["+", "-", "*", "/", "%", "==", "!=", "<", ">",
                        "AND", "OR", "MATCHES"])
_CAST = st.sampled_from(["(int)", "(long)", "(double)", "(chararray)",
                         "(map[])", "(boolean)"])


def _exprs(children):
    return st.one_of(
        st.tuples(_FN, st.lists(children, max_size=3)).map(
            lambda t: f"{t[0]}({', '.join(t[1])})"),
        st.tuples(children, _BIN, children).map(
            lambda t: f"({t[0]} {t[1]} {t[2]})"),
        st.tuples(_CAST, children).map(lambda t: t[0] + t[1]),
        st.tuples(children, children, children).map(
            lambda t: f"({t[0]} ? {t[1]} : {t[2]})"),
        children.map(lambda c: c + "#'k'"),
        children.map(lambda c: c + ".x"),
    )


expr_tree = st.recursive(_LEAF, _exprs, max_leaves=12)


@given(e=expr_tree, stmt=st.sampled_from(["FOREACH a GENERATE", "FILTER a BY",
                                          "GROUP a BY"]))
@settings(max_examples=int(os.environ.get("SPORK_FUZZ_EXAMPLES", "12")) * 4,
          deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_random_expressions_never_raise_internal_errors(eng, e, stmt):
    txt = (f"a = LOAD '{SF}/nation.parquet'; "
           f"r = {stmt} {e};")
    try:
        run_script(eng, txt)
    except (IndexError, KeyError, AttributeError, UnboundLocalError,
            RecursionError) as exc:
        raise AssertionError(
            f"internal {type(exc).__name__} on {e!r}: {exc}")
    except Exception:
        pass


def _space_split_points(s: str) -> list[int]:
    """Indices of spaces OUTSIDE string literals — positions where a
    newline (a grunt line break) may replace the space without changing
    the script. (The base text has no '--' comments, which a newline
    would terminate early.)"""
    pts, in_s, i = [], None, 0
    while i < len(s):
        c = s[i]
        if in_s:
            if c == "\\":
                i += 2
                continue
            if c == in_s:
                in_s = None
        elif c in ("'", '"'):
            in_s = c
        elif c == " ":
            pts.append(i)
        i += 1
    return pts


@given(data=st.data())
@settings(max_examples=int(os.environ.get("SPORK_FUZZ_EXAMPLES", "12")) // 2
          or 1,
          deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_grunt_line_splitting_matches_file_mode(eng, tmp_path_factory,
                                                data, golden_grunt):
    """Metamorphic: the interactive grunt accumulator must execute a
    script split at ANY legal line boundaries — including inside block
    comments and around strings containing ';' and '{' — identically
    to file mode. Targets _statement_complete, where past real bugs
    lived."""
    import duckdb
    from unittest import mock
    from spork_spark import Engine
    from spork_spark import __main__ as cli

    out = str(tmp_path_factory.mktemp("grunt_fuzz") / "out")
    txt = _grunt_base(out)
    pts = _space_split_points(txt)
    k = data.draw(st.integers(1, min(12, len(pts))))
    cuts = sorted(data.draw(
        st.lists(st.sampled_from(pts), min_size=k, max_size=k,
                 unique=True)))
    lines, prev = [], 0
    for c in cuts:
        lines.append(txt[prev:c])
        prev = c + 1
    lines.append(txt[prev:])

    feed = iter(lines)

    def fake_input(*a):
        try:
            return next(feed)
        except StopIteration:
            raise EOFError

    with mock.patch("builtins.input", fake_input), \
         mock.patch("sys.stdin",
                    type("T", (), {"isatty": lambda s: False})()):
        rc = cli.grunt(Engine(eng.spark), {})
    assert rc == 0
    got = sorted(duckdb.sql(f"SELECT * FROM '{out}/*.parquet'").fetchall())
    assert got == golden_grunt


def _grunt_base(out: str) -> str:
    return (f"li = LOAD '{SF}/lineitem.parquet'; "
            "f = FILTER li BY l_quantity >= 25.0 AND l_linestatus != 'a;b{'; "
            "/* block ; { comment */ "
            "g = GROUP f BY l_returnflag; "
            "s = FOREACH g { o = ORDER f BY l_quantity; t = LIMIT o 3; "
            "GENERATE group AS flag, COUNT(f) AS n, SUM(t.l_quantity) AS q3;"
            " }; "
            f"STORE s INTO '{out}';")


@pytest.fixture(scope="module")
def golden_grunt(eng, tmp_path_factory):
    import duckdb
    out = str(tmp_path_factory.mktemp("grunt_gold") / "out")
    run_script(eng, _grunt_base(out))
    return sorted(duckdb.sql(f"SELECT * FROM '{out}/*.parquet'").fetchall())


def test_positional_ref_out_of_bounds_is_a_clean_error(eng):
    """$9 on a 3-column schema: Pig's 'Out of bound access' error, not
    a raw IndexError — found by the expression fuzz."""
    with pytest.raises(ValueError, match="Out of bound access"):
        run_script(eng, f"a = LOAD '{SF}/nation.parquet';"
                        "r = FILTER a BY $9 == 1;")


@pytest.mark.parametrize("text", [
    pytest.param("out = FOREACH t GENERATE s.$5 AS x;", id="tuple"),
    pytest.param("out = FOREACH (GROUP t BY s) GENERATE group.$5, SIZE(t);",
                 id="group_key"),
])
def test_tuple_position_out_of_bounds_is_a_clean_error(eng, spark, text):
    """$5 on a 2-field tuple, in a FOREACH and as group.$5 of a GROUP on
    that tuple: the same 'Out of bound access' error, not a raw
    IndexError."""
    t = eng.from_df(spark.createDataFrame(
        [((1, 2), 3)], "s struct<a:int,b:int>, x int"), alias="t")
    with pytest.raises(ValueError, match=r"Out of bound access: \$5"):
        run_script(eng, text, relations={"t": t})["out"].df()


def test_truncated_define_is_a_parse_error(eng):
    """`DEFINE a;` / `DEFINE a` (EOF) must be clean PigSyntaxErrors —
    found by the near-valid fuzz as raw IndexErrors."""
    with pytest.raises(PigSyntaxError, match="DEFINE a needs"):
        run_script(eng, "DEFINE a ;")
    with pytest.raises(PigSyntaxError, match="end of script"):
        run_script(eng, "DEFINE li")
