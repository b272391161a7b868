"""Grunt shell (python -m spork_spark with no script): statement
accumulation, textual-state harvesting, and cross-run alias
persistence — the reference's interactive loop
(pig:src/org/apache/pig/tools/grunt/Grunt.java)."""

from spork_spark.__main__ import (_only_preproc, _statement_complete,
                                  _textual_state)
from spork_spark.parser import PigParser

SF = "/root/testdata/sf0.001"


def test_statement_complete_basic():
    assert _statement_complete("a = LOAD 'x';")
    assert _statement_complete("a = LOAD 'x';\n")
    assert not _statement_complete("a = LOAD 'x'")
    assert not _statement_complete("a = LOAD 'x'; b = FILTER a BY")


def test_statement_complete_strings_braces_comments():
    # ';' inside a string does not terminate
    assert not _statement_complete("a = FILTER x BY n == ';'")
    assert _statement_complete("a = FILTER x BY n == ';';")
    # open nested block holds the statement
    assert not _statement_complete("r = FOREACH g {\n  s = ORDER o BY k;")
    assert _statement_complete(
        "r = FOREACH g {\n  s = ORDER o BY k;\n  GENERATE group;\n};")
    # trailing comment after the ';' still counts as complete
    assert _statement_complete("a = LOAD 'x';  -- done")
    assert not _statement_complete("a = LOAD 'x' -- ; in a comment\n")


def test_only_preproc_lines():
    assert _only_preproc("%declare K 5\n")
    assert _only_preproc("%default A 1\n%declare B 2\n")
    assert not _only_preproc("%declare K 5\nc = FILTER a BY x < $K;")
    assert not _only_preproc("-- just a comment\n")


def test_textual_state_harvests_declares_and_macros():
    chunk = (
        "%declare CUT 10\n"
        "DEFINE m(rel) RETURNS out {\n"
        "  g = GROUP $rel BY k;\n"
        "  $out = FOREACH g { s = ORDER $rel BY v; t = LIMIT s 1;\n"
        "                     GENERATE group, MAX(t.v); };\n"
        "};\n"
        "x = m(a);\n")
    got = _textual_state(chunk)
    assert any(p.startswith("%declare CUT 10") for p in got)
    macro = [p for p in got if p.startswith("DEFINE")]
    # the nested FOREACH block must be scanned through, not cut at the
    # first '};'
    assert len(macro) == 1 and macro[0].rstrip().endswith("};")
    assert "GENERATE group, MAX(t.v)" in macro[0]
    # the trailing relational statement is NOT textual state
    assert not any("x = m(a)" in p for p in got)


def test_parser_state_persists_across_runs(eng):
    """The grunt loop's core contract: one PigParser, aliases from an
    earlier run() visible to later ones, and a failed run leaving the
    environment intact."""
    p = PigParser(eng)
    p.run(f"a = LOAD '{SF}/nation.parquet';")
    p.run("b = FILTER a BY n_nationkey < 3;")
    assert p.rels["b"].df().count() == 3
    try:
        p.run("c = FROB a;")
    except Exception:
        pass
    rels = p.run("d = FOREACH b GENERATE n_name;")
    assert "c" not in rels
    assert rels["d"].df().count() == 3


def test_statement_complete_block_comments():
    """/* */ spans are skipped like '--' lines (ADVICE r8): a trailing
    block comment does not hold the statement open, a ';' or '{' inside
    one is not significant, and an UNTERMINATED /* keeps accumulating."""
    assert _statement_complete("a = LOAD 'x'; /* done */")
    assert _statement_complete("/* lead-in */ a = LOAD 'x';")
    assert not _statement_complete("a = LOAD 'x' /* ; not a terminator */")
    # a '{' inside a block comment must not poison the brace depth
    assert _statement_complete("/* { */ a = LOAD 'x';")
    assert _statement_complete(
        "r = FOREACH g { /* { nested } comment */ GENERATE group; };")
    # unterminated block comment: keep reading lines
    assert not _statement_complete("a = LOAD 'x'; /* to be continued")
    # '/*' inside a string literal is just text
    assert _statement_complete("a = FILTER x BY s == '/*';")


def test_textual_state_ignores_comments_and_strings():
    """A macro DEFINE inside a comment or a string literal must NOT be
    harvested into the persistent prelude (ADVICE r8: a malformed
    commented macro would poison every later run in the session)."""
    commented = (
        "-- DEFINE m(rel) RETURNS out { $out = FILTER $rel BY 1 == 1; };\n"
        "/* DEFINE m2(rel) RETURNS out { $out = $rel; }; */\n"
        "-- %declare DEAD 1\n"
        "a = FILTER b BY s == 'DEFINE m3(x) RETURNS y {';\n"
        "x = LOAD 'p';\n")
    assert _textual_state(commented) == []
    # a live macro next to a commented one: only the live one harvested,
    # with its string literals intact
    mixed = (
        "-- DEFINE dead(r) RETURNS o { $o = $r; };\n"
        "DEFINE live(rel) RETURNS out {\n"
        "  $out = FILTER $rel BY tag == '{brace}';\n"
        "};\n")
    got = _textual_state(mixed)
    assert len(got) == 1 and got[0].startswith("DEFINE live")
    assert "'{brace}'" in got[0]
    assert "dead" not in got[0]


def test_grunt_eof_trailing_statement_not_silently_dropped(
        eng, tmp_path, monkeypatch, capsys):
    """Piped mode: an incomplete trailing statement (no final ';') is
    handed to the parser at EOF, not silently discarded (ADVICE r8) —
    parity with file mode, where the same text raises the same
    missing-';' parse error. Before the fix this exited 0 with the
    statement dropped."""
    from spork_spark import __main__ as cli
    out = tmp_path / "eof_store"
    lines = iter([
        f"a = LOAD '{SF}/nation.parquet';",
        f"STORE a INTO '{out}' USING PigStorage()",   # <- no ';'
    ])
    monkeypatch.setattr("builtins.input",
                        lambda *a: next(lines, None) or (_ for _ in ()).throw(EOFError()))
    monkeypatch.setattr("sys.stdin", type("T", (), {"isatty": lambda s: False})())
    assert cli.grunt(eng, {}) == 1
    err = capsys.readouterr().err
    assert "ERROR" in err and "expected ;" in err
    # pure-whitespace/comment leftovers still exit clean
    lines2 = iter(["-- just a comment", "/* and a block */"])
    monkeypatch.setattr("builtins.input",
                        lambda *a: next(lines2, None) or (_ for _ in ()).throw(EOFError()))
    assert cli.grunt(eng, {}) == 0


def test_grunt_history_and_clear(eng, monkeypatch, capsys):
    """`history` lists entered statements numbered (failing ones too,
    like GruntParser); `clear` emits an ANSI clear; both work bare."""
    from spork_spark import __main__ as cli
    lines = iter([
        f"a = LOAD '{SF}/region.parquet';",
        "b = FILTER a BY ghost > 1;",      # fails, still in history
        "history",
        "clear",
        "quit",
    ])
    monkeypatch.setattr("builtins.input",
                        lambda *a: next(lines, None) or (_ for _ in ()).throw(EOFError()))
    monkeypatch.setattr("sys.stdin", type("T", (), {"isatty": lambda s: False})())
    assert cli.grunt(eng, {}) == 0
    out = capsys.readouterr().out
    assert "1   a = LOAD" in out and "2   b = FILTER" in out
    assert "\033[2J" in out


def test_grunt_eof_trailing_error_is_nonzero(eng, monkeypatch, capsys):
    """A malformed trailing statement at EOF surfaces as exit 1 with an
    ERROR line, not a silent 0."""
    from spork_spark import __main__ as cli
    lines = iter(["zz = FROBNICATE nothing"])
    monkeypatch.setattr("builtins.input",
                        lambda *a: next(lines, None) or (_ for _ in ()).throw(EOFError()))
    monkeypatch.setattr("sys.stdin", type("T", (), {"isatty": lambda s: False})())
    assert cli.grunt(eng, {}) == 1
    assert "ERROR" in capsys.readouterr().err


def test_grunt_pwd_cd_copy_aliases_help(eng, tmp_path, capsys):
    """pwd/cd/copyToLocal/copyFromLocal/aliases/help — the remaining
    GruntParser command surface (pig:…/tools/grunt/GruntParser.java).
    cd moves the working directory that resolves relative paths (Pig's
    dfs cwd = the process cwd in local mode); the copy commands are
    plain copies with local storage, matching Pig local mode."""
    import os

    from spork_spark.parser import run_script

    (tmp_path / "src.txt").write_text("payload\n")
    old = os.getcwd()
    try:
        run_script(eng, f"""
            a = LOAD '{SF}/region.parquet';
            pwd;
            cd {tmp_path};
            pwd;
            copyToLocal src.txt dst.txt;
            copyFromLocal src.txt dst2.txt;
            cat dst.txt;
            aliases;
            help;
        """)
        out = capsys.readouterr().out
        assert old in out and str(tmp_path) in out
        assert (tmp_path / "dst.txt").read_text() == "payload\n"
        assert (tmp_path / "dst2.txt").read_text() == "payload\n"
        assert "payload" in out
        assert "aliases: [a]" in out
        assert "copyToLocal" in out          # help text
    finally:
        os.chdir(old)


def test_grunt_cd_resolves_relative_load(eng, tmp_path):
    """After `cd`, a relative LOAD path resolves against the new
    working directory — the reason Pig has cd at all."""
    import os
    import shutil

    from spork_spark.parser import run_script

    shutil.copy(f"{SF}/region.parquet", tmp_path / "r.parquet")
    old = os.getcwd()
    try:
        rels = run_script(eng, f"""
            cd {tmp_path};
            a = LOAD 'r.parquet';
        """)
        assert rels["a"].df().count() == 5
    finally:
        os.chdir(old)


def test_grunt_bare_commands_are_line_oriented(eng, monkeypatch, capsys):
    """GruntParser's shell commands execute at ENTER without a ';' —
    a bare `pwd` must not open a continuation that swallows the next
    statement (previously `help⏎quit⏎` became one corrupt statement
    and exited 1)."""
    import os

    from spork_spark import __main__ as cli
    lines = iter(["pwd", "aliases", "help", "quit"])
    monkeypatch.setattr(
        "builtins.input",
        lambda *a: next(lines, None) or (_ for _ in ()).throw(EOFError()))
    monkeypatch.setattr("sys.stdin",
                        type("T", (), {"isatty": lambda s: False})())
    assert cli.grunt(eng, {}) == 0
    out = capsys.readouterr().out
    assert os.getcwd() in out
    assert "aliases: []" in out
    assert "Commands:" in out


def test_grunt_bare_set_lists_properties(eng, monkeypatch, capsys):
    """`set` with no arguments lists session properties (GruntParser
    processSet no-arg form); `set k v` without ';' works at the prompt
    (line-oriented like the fs commands)."""
    from spork_spark import __main__ as cli
    lines = iter(["set spark.spork.test.bare barevalue", "set", "quit"])
    monkeypatch.setattr(
        "builtins.input",
        lambda *a: next(lines, None) or (_ for _ in ()).throw(EOFError()))
    monkeypatch.setattr("sys.stdin",
                        type("T", (), {"isatty": lambda s: False})())
    try:
        assert cli.grunt(eng, {}) == 0
        assert eng.spark.conf.get("spark.spork.test.bare") == "barevalue"
        assert "spark.app.name=" in capsys.readouterr().out
    finally:
        eng.spark.conf.unset("spark.spork.test.bare")


def test_backtick_command_at_the_prompt():
    """The prompt reads a backtick command as one span: `--` inside it
    is not a comment that swallows the ';', and a ';' inside an open
    one does not end the statement."""
    assert _statement_complete("DEFINE c `cut --fields=1`;")
    assert not _statement_complete("DEFINE c `tr a b;\n")
    assert _statement_complete("DEFINE c `tr a b;\nrm -f x`;\n")
    chunk = ("DEFINE m(x) RETURNS y { DEFINE c `cut --fields=1`; "
             "$y = STREAM $x THROUGH c; };\n")
    assert _textual_state(chunk) == [chunk]


def test_declare_with_trailing_comment_replays_without_it():
    """A %declare typed with a trailing `--` comment is replayed as its
    name and value only: replaying the comment would put the next
    statement's ';' inside it once $N is substituted."""
    from spork_spark.parser import preprocess
    prelude = _textual_state("%declare N 5 -- five rows\n")
    assert [p.split() for p in prelude] == [["%declare", "N", "5"]]
    out = preprocess("".join(prelude) + "b = LIMIT a $N;\n", None)
    assert out.strip() == "b = LIMIT a 5;"
