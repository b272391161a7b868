"""Pig Latin front-end: tokenizer + recursive-descent parser + lowering.

Grammar coverage mirrors the reference's surface (SURVEY.md §2.1; the
reference parses with ANTLR grammars under pig:src/org/apache/pig/parser/
QueryParser.g — we hand-roll because the statement grammar is small and
regular). Statements lower onto the Relation builder (plans/relation.py),
so everything the parser accepts gets the same compilation — fusion,
strategy hints, semantics — as programmatic use.

Supported statements:
  alias = LOAD 'path' [USING fn[('args')]] [AS (schema)];
  alias = FILTER rel BY expr;
  alias = FOREACH rel GENERATE exprs;            -- flat form
  alias = FOREACH rel { inner; GENERATE exprs }; -- nested form (inner
           FILTER/ORDER/LIMIT/DISTINCT lower to bag higher-order fns)
  alias = GROUP rel BY keys | GROUP rel ALL | COGROUP a BY k, b BY k;
  alias = JOIN a BY k [LEFT|RIGHT|FULL] [OUTER], b BY k [USING 'replicated'|'skewed'|'merge'];
  alias = CROSS a, b;  alias = UNION [ONSCHEMA] a, b;
  alias = ORDER rel BY f [ASC|DESC], …;  alias = RANK rel [BY … [DENSE]];
  alias = LIMIT rel n;  alias = DISTINCT rel;  alias = SAMPLE rel p;
  alias = CUBE rel BY CUBE(a,b) | ROLLUP(a,b);
  alias = STREAM rel THROUGH 'cmd' [AS (schema)];
  SPLIT rel INTO a IF e, b IF e [, c OTHERWISE];
  STORE rel INTO 'path' [USING fn]; DUMP rel; DESCRIBE rel; EXPLAIN rel;
  DEFINE name `cmd`|fn; REGISTER 'x'; SET k v;   -- registered/accepted
  -- comments, /* block comments */, %declare/%default + $param substitution

Expression language: field refs (name, $n, rel::col, t.f, m#'key'),
literals (int/long L/float F/double/'str'/true/false/null), arithmetic,
comparison (also eq/ne/lt/gt/lte/gte), boolean AND/OR/NOT, IN, matches,
is null, bincond ?:, CASE WHEN, casts (type), function calls, FLATTEN, *.
"""

from __future__ import annotations

import os
import re
import sys
from dataclasses import dataclass
from pathlib import Path

from ..plans import expressions as E
from ..plans.relation import Engine, Relation

# ---------------------------------------------------------------------------
# tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(r"""
    (?P<ws>\s+)
  | (?P<comment>--[^\n]*|/\*.*?\*/)
  | (?P<number>\d+\.\d+([eE][+-]?\d+)?[fF]?|\d+[eE][+-]?\d+[fF]?|\d+[lLfF]?)
  | (?P<string>'(?:[^'\\]|\\.)*')
  | (?P<backtick>`[^`]*`)
  | (?P<dqstring>"(?:[^"\\]|\\.)*")
  | (?P<open_comment>/\*.*)
  | (?P<open_quote>'(?:[^'\\]|\\.)*\\?\Z|"(?:[^"\\]|\\.)*\\?\Z|`.*)
  | (?P<dcolon>::)
  | (?P<op>==|!=|<=|>=|\#|\?|:|<|>|\+|-|\*|/|%|\(|\)|\{|\}|\[|\]|,|;|\.\.|\.|=)
  | (?P<dollar>\$\d+)
  | (?P<param>\$[A-Za-z_]\w*)
  | (?P<ident>[A-Za-z_]\w*)
  | (?P<bad>.)
""", re.VERBOSE | re.DOTALL)

_KEYWORDS = {
    "load", "store", "into", "using", "as", "filter", "by", "foreach",
    "generate", "group", "cogroup", "all", "join", "left", "right", "full",
    "outer", "inner", "cross", "order", "rank", "dense", "limit", "distinct",
    "union", "onschema", "split", "if", "otherwise", "sample", "stream",
    "through", "and", "or", "not", "in", "matches", "is", "null", "asc",
    "desc", "flatten", "dump", "describe", "explain", "illustrate",
    "define", "register",
    "set", "cube", "rollup", "true", "false", "case", "when", "then", "else",
    "end", "parallel", "any",
}


@dataclass
class Tok:
    kind: str      # number string ident kw op dollar backtick eof
    text: str
    pos: int


def tokenize(src: str) -> list[Tok]:
    """Split src into tokens with the one Pig lexer, ``_TOKEN_RE``
    (pig:src/org/apache/pig/parser/QueryLexer.g). Every text pass reads
    that lexer: this tokenizer, parameter and macro expansion, the
    grunt-command split and the grunt prompt (through ``_code_view``).
    The lexical rules:

      - ``--`` comments run to the end of the line; ``/* */`` comments do
        not nest;
      - string literals are single-quoted, with backslash escapes;
      - a backtick command runs to the next backtick, with no escapes;
      - ``"`` quotes only grunt shell arguments (``sh echo "a;b"``): the
        parser rejects it, but it spans like a string so the split cannot
        break inside it.

    The scan is total: every character falls in exactly one match. An
    unterminated ``/*``, quote or backtick span runs to the end of the
    text (groups ``open_comment``, ``open_quote``), and any other
    character is a one-character ``bad`` match. Whitespace and comments
    are dropped; a ``bad``, open or ``"`` match raises PigSyntaxError."""
    toks = []
    for m in _TOKEN_RE.finditer(src):
        kind = m.lastgroup
        if kind in ("ws", "comment"):
            continue
        if kind in ("bad", "dqstring") or kind in _OPEN:
            raise PigSyntaxError(f"bad character {src[m.start()]!r} at "
                                 f"{m.start()}")
        text = m.group()
        if kind == "ident" and text.lower() in _KEYWORDS:
            toks.append(Tok("kw", text.lower(), m.start()))
        elif kind == "dcolon":
            toks.append(Tok("op", "::", m.start()))
        else:
            toks.append(Tok(kind, text, m.start()))
    toks.append(Tok("eof", "", len(src)))
    return toks


_NOT_NEWLINE = re.compile(r"[^\n]")
_OPEN = ("open_comment", "open_quote")
_BLANKED = ("comment", "string", "backtick", "dqstring") + _OPEN


def _splice(src: str, edits) -> str:
    """src with each (start, end, text) of ``edits`` — in order, not
    overlapping — put in place of src[start:end]."""
    out, last = [], 0
    for start, end, text in edits:
        out += [src[last:start], text]
        last = end
    return "".join(out) + src[last:]


def _code_view(src: str) -> tuple[str, bool]:
    """The lexer's code view of src: a same-length copy in which
    comments are blanked and the contents of strings and backtick
    commands are blanked (delimiters kept), newlines everywhere kept.
    Textual passes match on the view and slice src with its spans, so
    nothing inside a comment or a literal can look like code. The flag
    is True when src ends inside an open span."""
    spans = [m for m in _TOKEN_RE.finditer(src) if m.lastgroup in _BLANKED]

    def blank(m: re.Match) -> tuple[int, int, str]:
        s, e = m.span()
        if m.lastgroup not in ("comment", "open_comment"):
            s, e = s + 1, e - (m.lastgroup != "open_quote")  # delimiters
        return s, e, _NOT_NEWLINE.sub(" ", src[s:e])
    return (_splice(src, map(blank, spans)),
            bool(spans) and spans[-1].lastgroup in _OPEN)


class PigSyntaxError(SyntaxError):
    pass


_ESCAPES = {"t": "\t", "n": "\n", "r": "\r", "'": "'", '"': '"',
            "\\": "\\"}


def unescape_string(s: str) -> str:
    r"""Pig string-literal escapes (Java-style: \t \n \r \' \" \\
    \uXXXX). Unknown escapes pass through unchanged, so regex literals
    like '\d+' keep their backslash."""
    out, i = [], 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            nx = s[i + 1]
            if nx in _ESCAPES:
                out.append(_ESCAPES[nx])
                i += 2
                continue
            if nx == "u" and i + 5 < len(s):
                try:
                    out.append(chr(int(s[i + 2:i + 6], 16)))
                    i += 6
                    continue
                except ValueError:
                    pass
        out.append(c)
        i += 1
    return "".join(out)


# ---------------------------------------------------------------------------
# parameter substitution (%declare/%default/-param; SURVEY.md §2.1 #30)
# ---------------------------------------------------------------------------

_DECLARE_RE = re.compile(r"^\s*%(declare|default)\s+(\w+)\s+(.+?)\s*;?\s*$",
                         re.MULTILINE)


def read_param_file(path: str) -> dict[str, str]:
    """Pig's -param_file format (pig:src/org/apache/pig/tools/parameters/
    ParamLoader): one name=value per line, '#' comments and blank lines
    skipped, values may be quoted. Shared by the CLI flag and grunt
    `exec -param_file`."""
    params: dict[str, str] = {}
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            k, _, v = line.partition("=")
            params[k.strip()] = v.strip().strip("'\"")
    return params


def _live_declares(src: str, view: str | None = None) \
        -> list[tuple[re.Match, str, int]]:
    """The %declare/%default lines of src that are code, each as its
    match on src, its value and the end of the span to remove. A line is
    kept when the code view keeps its '%' (one inside a comment or a
    literal is dead text); the value is matched on the view, so a
    trailing comment is not part of it. The span removed is the match,
    the whole line, unless a /* */ comment opened after the directive
    closes on a later line: then it stops where the directive's code
    ends, so the comment stays whole and its tail cannot become code."""
    if "%declare" not in src and "%default" not in src:
        return []
    view = _code_view(src)[0] if view is None else view
    out = []
    for m in _DECLARE_RE.finditer(src):
        if view[m.start(1) - 1] != "%":
            continue
        v = _DECLARE_RE.match(view, m.start())
        end = m.start() + len(view[m.start():m.end()].rstrip())
        if not _code_view(src[end:m.end()])[1]:
            end = m.end()
        out.append((m, src[v.start(3):v.end(3)], end))
    return out


def substitute_params(src: str, params: dict[str, str] | None) -> str:
    params = dict(params or {})
    declares = _live_declares(src)
    for m, val, _ in declares:
        kind, name = m.group(1, 2)
        if len(val) >= 2 and val[0] == "`" and val[-1] == "`":
            # Pig command substitution (pig:…/tools/parameters/
            # PreprocessorContext processShellCmd): `%declare DATE
            # `date +%F`` runs the command and uses its stdout —
            # the standard idiom for dated output paths.
            import subprocess
            val = subprocess.run(
                val[1:-1], shell=True, capture_output=True,
                text=True, check=True).stdout.strip()
        else:
            val = val.strip("'\"")
        if kind == "declare" or name not in params:
            params[name] = val
    src = _splice(src, ((m.start(), end, "") for m, _, end in declares))
    for k, v in params.items():
        # function replacement: values are TEXT, not re templates — a
        # regex value like '\d+' must neither crash ("bad escape") nor
        # have its backslashes eaten
        src = re.sub(rf"\$\{{{re.escape(k)}\}}|\${re.escape(k)}\b",
                     lambda m, v=str(v): v, src)
    return src


# ---------------------------------------------------------------------------
# macros & IMPORT (SURVEY.md §2.1 #29 — textual pre-parse expansion, the
# reference's QueryParserDriver#expandMacro model)
# ---------------------------------------------------------------------------

_IMPORT_RE = re.compile(r"^\s*IMPORT\s+'([^']+)'\s*;\s*$",
                        re.IGNORECASE | re.MULTILINE)
_MACRO_HEAD_RE = re.compile(
    r"DEFINE\s+(\w+)\s*\(([^)]*)\)\s+RETURNS\s+(\w+)\s*\{", re.IGNORECASE)
_BRACE_RE = re.compile(r"[{}]")
_COMMA_RE = re.compile(",")


def _macro_defs(view: str):
    """Yield (head match, close, end) for each DEFINE … RETURNS … {…}
    macro in the code view: close is just past the brace that closes
    its body (nested blocks, e.g. nested FOREACH, counted), end also
    past an optional ';' within the next three characters."""
    pos = 0
    while m := _MACRO_HEAD_RE.search(view, pos):
        depth = 0
        for b in _BRACE_RE.finditer(view, m.end() - 1):
            depth += 1 if b.group() == "{" else -1
            if depth == 0:
                break
        else:
            raise PigSyntaxError("unterminated macro block")
        close = pos = b.end()
        if ";" in view[close:close + 3]:
            pos = view.index(";", close) + 1
        yield m, close, pos


def expand_macros(src: str) -> str:
    """Inline IMPORTs, collect DEFINE…RETURNS macros, expand call sites.
    Macro-internal aliases are prefixed per-expansion to avoid collisions
    (Pig's alias masking). Every match runs on the code view, so
    nothing inside a comment or a literal is a head, a call or an
    alias."""
    if not re.search(r"define|import", src, re.IGNORECASE):
        return src        # no head or IMPORT possible: skip the scans
    view = _code_view(src)[0]
    imports = list(_IMPORT_RE.finditer(view))
    if imports:
        src = _splice(src, [(m.start(), m.end(),
                             Path(src[m.start(1):m.end(1)]).read_text())
                            for m in imports])
        view = _code_view(src)[0]
    defs = list(_macro_defs(view))
    if not defs:
        return src
    macros: dict[str, tuple[list[str], str, str]] = {}
    for m, close, _ in defs:
        params = [p.strip() for p in m.group(2).split(",") if p.strip()]
        macros[m.group(1).lower()] = (params, m.group(3),
                                      src[m.end():close - 1])
    src = _splice(src, ((m.start(), end, "") for m, _, end in defs))

    names = "|".join(re.escape(k) for k in macros)
    call_re = re.compile(
        r"^(\s*)(\w+)\s*=\s*(" + names + r")\s*\(([^)]*)\)\s*;",
        re.IGNORECASE | re.MULTILINE)
    # RETURNS void macros are called as bare statements — `cleanup(a);`
    # (pig:…/parser/QueryParserDriver: macro with no return alias)
    void_re = re.compile(
        r"^(\s*)()(" + names + r")\s*\(([^)]*)\)\s*;",
        re.IGNORECASE | re.MULTILINE)
    counter = [0]

    def expand(m: re.Match, src: str) -> str:
        indent = src[m.start(1):m.end(1)]
        lhs, name = m.group(2) or None, m.group(3)
        params, ret, body = macros[name.lower()]
        # arguments split at the commas of the code view: a comma
        # inside a string literal does not split
        a0, a1 = m.span(4)
        cuts = [a0 - 1] + [c.start() for c in
                           _COMMA_RE.finditer(m.string, a0, a1)] + [a1]
        args = [src[i + 1:j].strip() for i, j in zip(cuts, cuts[1:])] \
            if m.group(4).strip() else []
        if len(args) != len(params):
            raise PigSyntaxError(
                f"macro {name} expects {len(params)} args, got {len(args)}")
        if (ret.lower() == "void") != (lhs is None):
            raise PigSyntaxError(
                f"macro {name} RETURNS {ret}: "
                + ("call it as a bare statement, not an assignment"
                   if ret.lower() == "void" else
                   "assign its result to an alias"))
        counter[0] += 1
        text = body
        for p, a in zip(params, args):
            # function replacement: macro args are TEXT (often regex
            # string literals like '\d+') — never re templates
            text = re.sub(rf"\$\{{{re.escape(p)}\}}|\${re.escape(p)}\b",
                          lambda m, a=a: a, text)
        if lhs is not None:
            # the return alias is referenced as $name inside the body
            text = re.sub(rf"\${ret}\b", lambda m: lhs, text)
        # prefix macro-internal aliases to avoid clobbering outer scope;
        # only code is renamed, never a literal or a comment
        view = _code_view(text)[0]
        internal = set(re.findall(r"^\s*(\w+)\s*=", view, re.MULTILINE))
        internal.discard(lhs)
        if internal:
            alias_re = re.compile(
                r"\b(?:" + "|".join(map(re.escape, internal)) + r")\b")
            text = _splice(text, ((a.start(), a.end(),
                                   f"__m{counter[0]}_{a.group()}")
                                  for a in alias_re.finditer(view)))
        return indent + text

    prev = None
    while prev != src:
        prev = src
        for rx in (call_re, void_re):
            src = _splice(src, [(m.start(), m.end(), expand(m, src))
                                for m in rx.finditer(_code_view(src)[0])])
    return src


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------

_CMP = {"==": "==", "!=": "!=", "<": "<", "<=": "<=", ">": ">", ">=": ">="}
_CMP_WORDS = {"eq": "==", "ne": "!=", "lt": "<", "gt": ">",
              "lte": "<=", "gte": ">="}
_PIG_TYPES = {"int", "long", "float", "double", "chararray", "bytearray",
              "boolean", "datetime", "biginteger", "bigdecimal", "tuple",
              "bag", "map"}


_GRUNT_CMDS = {"fs", "sh", "rmf", "cat", "mkdir", "rm", "cp", "mv", "ls",
               "exec", "run", "kill", "pwd", "cd", "copytolocal",
               "copyfromlocal", "aliases", "help"}

_GRUNT_HEAD = re.compile(r"\s*([A-Za-z_]\w*)\b")
_STMT_MARK_RE = re.compile(r"[{};]")


def _extract_grunt_statements(src: str) -> tuple[str, list[str]]:
    """Pull grunt-command statements OUT of the script text before
    tokenization, replacing each with a `__grunt__ N;` marker. Grunt
    lines carry shell metacharacters, quotes, and paths that the Pig
    tokenizer rightly rejects — and a ';' inside a quoted sh argument
    must not end the statement. Statements end at the ';'s of the code
    view at brace depth 0 (a nested FOREACH body's inner ';' is not a
    statement boundary; one in a comment, literal or backtick command
    is not code)."""
    view, _ = _code_view(src)
    edits, cmds, start, depth = [], [], 0, 0
    for m in _STMT_MARK_RE.finditer(view):
        if m.group() != ";":
            depth = depth + 1 if m.group() == "{" else max(0, depth - 1)
            continue
        if depth:
            continue
        head = _GRUNT_HEAD.match(view, start, m.start())
        if head and head.group(1).lower() in _GRUNT_CMDS \
                and not view[head.end():m.start()].lstrip().startswith("="):
            cmds.append(src[head.start(1):m.start()].strip())
            edits.append((start, m.end(), f" __grunt__ {len(cmds) - 1};"))
        start = m.end()
    return _splice(src, edits), cmds


def _strip_scheme(p: str) -> str:
    return p[5:] if p.startswith("file:") else p


def run_grunt(cmdline: str) -> None:
    """Execute one Grunt command against the LOCAL filesystem (the
    engine's storage layer; no HDFS in the target env — SURVEY.md §2.7).
    `fs -cmd args` unwraps to the bare command; `sh …` runs a shell
    line; rm/rmf are recursive, rmf force-ignores missing paths (the
    pre-STORE idiom). Listings/cat print to stdout (console sugar, like
    DUMP)."""
    import glob as _glob
    import shlex
    import shutil
    import subprocess
    # shlex keeps quoted paths-with-spaces as one token (plain
    # str.split would fragment them and strip quotes piecewise)
    try:
        parts = shlex.split(cmdline)
    except ValueError:          # unbalanced quote — degrade gracefully
        parts = cmdline.split()
    cmd, args = parts[0].lower(), parts[1:]
    if cmd == "sh":
        if len(parts) < 2:
            raise PigSyntaxError("sh needs a command line")
        subprocess.run(cmdline.split(None, 1)[1], shell=True, check=False)
        return
    if cmd == "fs":
        if not args or not args[0].startswith("-"):
            raise PigSyntaxError(f"fs needs a -command: {cmdline!r}")
        cmd, args = args[0].lstrip("-").lower(), args[1:]
        cmd = {"rmr": "rmf", "copy": "cp"}.get(cmd, cmd)
    # copyToLocal/copyFromLocal (and fs -put/-get) are dfs↔local
    # transfers; with local storage both sides are the local fs, so they
    # are plain copies — same as Pig local mode.
    cmd = {"copytolocal": "cp", "copyfromlocal": "cp", "put": "cp",
           "get": "cp"}.get(cmd, cmd)
    # option flags (-r/-R/-p/-skipTrash…) are implied by the local
    # implementations (rm is recursive, mkdir -p); -f upgrades rm→rmf
    if cmd == "rm" and any(a in ("-f", "-force") for a in args):
        cmd = "rmf"
    args = [_strip_scheme(a.strip("'\""))
            for a in args if not a.startswith("-")]
    if cmd == "pwd":
        print(os.getcwd())
    elif cmd == "cd":
        # Pig's cd moves the dfs working directory that resolves
        # relative LOAD/STORE paths; the local-mode equivalent is the
        # process cwd. Bare `cd` goes home, like GruntParser.
        os.chdir(os.path.expanduser(args[0]) if args
                 else os.path.expanduser("~"))
    elif cmd == "ls":
        for pat in args or ["."]:
            for p in sorted(_glob.glob(pat)) or [pat]:
                print(p)
    elif cmd == "cat":
        for pat in args:
            for p in sorted(_glob.glob(pat)):
                with open(p, "r", errors="replace") as fh:
                    sys.stdout.write(fh.read())
    elif cmd == "mkdir":
        for p in args:
            os.makedirs(p, exist_ok=True)
    elif cmd in ("rm", "rmf"):
        force = cmd == "rmf"
        for pat in args:
            hits = _glob.glob(pat)
            if not hits and not force:
                raise FileNotFoundError(pat)
            for p in hits:
                if os.path.isdir(p):
                    shutil.rmtree(p, ignore_errors=force)
                else:
                    try:
                        os.remove(p)
                    except FileNotFoundError:
                        if not force:
                            raise
    elif cmd == "cp":
        if len(args) < 2:
            raise PigSyntaxError(f"cp needs SRC... DST: {cmdline!r}")
        *srcs, dst = args
        for s in srcs:
            for p in _glob.glob(s):
                if os.path.isdir(p):
                    shutil.copytree(
                        p, os.path.join(dst, os.path.basename(p))
                        if os.path.isdir(dst) else dst)
                else:
                    shutil.copy(p, dst)
    elif cmd == "mv":
        if len(args) < 2:
            raise PigSyntaxError(f"mv needs SRC... DST: {cmdline!r}")
        *srcs, dst = args
        for s in srcs:
            for p in _glob.glob(s):
                shutil.move(p, dst)
    else:
        raise PigSyntaxError(f"unsupported grunt command {cmd!r}")


class PigParser:
    """One script → executed statements against an Engine."""

    def __init__(self, engine: Engine):
        self.engine = engine
        self.rels: dict[str, Relation] = {}
        self.defines: dict[str, str] = {}
        self.toks: list[Tok] = []
        self.i = 0
        self.stored: list[tuple[str, str]] = []   # (alias, path) of STOREs
        self.dumped: list[str] = []
        # Pig's `-check` mode (pig:src/org/apache/pig/Main.java -c):
        # parse and build every statement's plan — eager validation
        # forced on, so schema/name errors surface — but execute
        # NOTHING: no store, no dump output, no fs/sh side effects.
        self.check = False
        # Pig batch semantics: STOREs queue during the parse and execute
        # together at end-of-run (MultiQueryOptimizer's batch half —
        # SURVEY.md §4.2). Each entry is (path, thunk); barriers that
        # force an early flush mirror Pig's documented multiquery
        # execution points: DUMP, exec/run, grunt fs/sh commands, and a
        # LOAD whose path overlaps a pending STORE's output.
        self._pending_stores: list[tuple[str, object]] = []
        # spark.spork.* reads, once per run(); SET and a nested
        # exec/run clear it (_conf_bool)
        self._confs: dict[str, bool] = {}

    # -- token helpers -------------------------------------------------------
    def peek(self, k: int = 0) -> Tok:
        return self.toks[min(self.i + k, len(self.toks) - 1)]

    def next(self) -> Tok:
        t = self.toks[self.i]
        if t.kind == "eof":
            # nothing legitimately consumes eof (the statement loop
            # peeks) — a next() here is always a truncated statement,
            # and must be a clean parse error, not an IndexError
            raise PigSyntaxError(f"unexpected end of script at {t.pos}")
        self.i += 1
        return t

    def accept(self, kind: str, text: str | None = None) -> Tok | None:
        t = self.peek()
        if t.kind == kind and (text is None or t.text == text):
            return self.next()
        return None

    def expect(self, kind: str, text: str | None = None) -> Tok:
        t = self.accept(kind, text)
        if t is None:
            got = self.peek()
            raise PigSyntaxError(
                f"expected {text or kind}, got {got.text!r} at {got.pos}")
        return t

    def _kw(self, *words) -> bool:
        return self.peek().kind == "kw" and self.peek().text in words

    # -- entry ----------------------------------------------------------------
    def run(self, src: str, params: dict | None = None) -> dict[str, Relation]:
        self._confs.clear()
        src = preprocess(src, params)
        src, self._grunt = _extract_grunt_statements(src)
        self.src = src
        self.toks, self.i = tokenize(src), 0
        while self.peek().kind != "eof":
            self.statement()
        # Pig batch execution point: all statements are parsed and all
        # STORE plans built (consumer counts complete, so shared
        # parents persist once) — now run the queued writes in script
        # order. Interactive grunt calls run() per statement, so a
        # store there still executes immediately. -check stops here:
        # everything is validated, nothing runs.
        if not self.check:
            self._flush_stores()
        # Pig's end-of-job aggregated warnings (PigWarning): STORE/DUMP
        # actions above completed their observe metrics; surface any
        # new cast-discard counts. No-op when the flag is off (nothing
        # was attached) or the run was clean.
        self.engine.warnings.report()
        return self.rels

    def _flush_stores(self) -> None:
        """Run queued stores in script order. Pig's default keeps
        running the REMAINING jobs when one fails and reports the
        batch result at the end (pig:…/tools/grunt/GruntParser
        executeBatch / Main.java -F, -stop_on_failure);
        spark.spork.stopOnFailure=true restores fail-fast."""
        pending, self._pending_stores = self._pending_stores, []
        if not pending:
            return
        stop = self._conf_bool("spark.spork.stopOnFailure", False)
        failures: list[tuple[str, Exception]] = []
        for path, thunk in pending:
            try:
                thunk()
            except Exception as exc:
                if stop:
                    raise
                failures.append((path, exc))
                sys.stderr.write(
                    f"ERROR: STORE into {path!r} failed: {exc} — "
                    "continuing with remaining stores "
                    "(set spark.spork.stopOnFailure=true / -F to stop)\n")
        if failures:
            raise RuntimeError(
                f"{len(failures)} of {len(pending)} stores failed: "
                + "; ".join(f"{p!r}: {type(e).__name__}"
                            for p, e in failures))

    def _conf_bool(self, key: str, default: bool) -> bool:
        if key not in self._confs:
            try:
                self._confs[key] = self.engine.spark.conf.get(
                    key, str(default).lower()) == "true"
            except Exception:
                self._confs[key] = default
        return self._confs[key]

    def _flush_if_overlaps(self, load_path: str) -> None:
        """Pig's implicit store→load dependency: a LOAD that reads a
        path a pending STORE will write must run after that store
        (pig:…/MultiQueryOptimizer store/load same-file handling).
        Globs flush on their fixed prefix; over-flushing only costs
        batching, never correctness."""
        if not self._pending_stores:
            return
        probe = load_path
        for g in "*?[{":
            i = probe.find(g)
            if i >= 0:
                probe = probe[:i]
        probe = probe.rstrip("/")
        for p, _ in self._pending_stores:
            p = p.rstrip("/")
            if (p == probe or p.startswith(probe + "/")
                    or probe.startswith(p + "/") or probe == ""
                    or (probe and p.startswith(probe))):
                self._flush_stores()
                return

    def rel(self, name: str) -> Relation:
        if name not in self.rels:
            raise PigSyntaxError(f"unknown relation {name!r}")
        return self.rels[name]

    def _rel_operand(self) -> Relation:
        """A relation operand: an alias, or an inline parenthesized
        relational expression — Pig's `FOREACH (GROUP x BY k) GENERATE …`
        idiom (anonymous intermediate relation)."""
        if self.accept("op", "("):
            t = self.next()
            if t.kind != "kw":
                raise PigSyntaxError(
                    f"expected operator keyword, got {t.text!r} at {t.pos}")
            m = getattr(self, f"op_{t.text}", None)
            if m is None:
                raise PigSyntaxError(f"unsupported operator {t.text.upper()}")
            r = m()
            self.expect("op", ")")
            return r
        return self.rel(self.expect("ident").text)

    # -- statements -------------------------------------------------------------
    def statement(self) -> None:
        t = self.peek()
        if t.kind == "kw" and t.text in ("store", "dump", "describe",
                                         "explain", "illustrate", "split",
                                         "define", "register", "set"):
            getattr(self, f"st_{t.text}")()
            return
        if t.kind == "ident" and t.text.lower() == "assert":
            self.st_assert()
            return
        if t.kind == "ident" and t.text == "__grunt__":
            self.st_grunt()
            return
        # alias = <operator …>;
        alias = self.expect("ident").text
        self.expect("op", "=")
        rel = self.operator(alias)
        rel.as_alias(alias)
        self.rels[alias] = rel
        self.expect("op", ";")
        self._eager_validate(alias, rel)

    def _eager_validate(self, alias: str, rel: Relation) -> None:
        """Pig surfaces schema/name errors at the DEFINING statement —
        grunt rejects `b = FILTER a BY no_such_col;` at the prompt, and
        batch mode builds every statement's logical plan before any job
        runs (pig:…/parser/QueryParserDriver + schema validation pass).
        Compile the new relation now: driver-side Catalyst analysis
        only, no job — combined with end-of-script store batching this
        gives Pig's batch property that an invalid statement ANYWHERE
        fails the script before any STORE writes output.

        Exempt from eager compile (stay lazy until first use):
        - RANK plans — their compile runs a real job (the two-pass
          partition-offsets collect), which Pig's statement-time
          validation never does.
        A failed statement leaves the alias undefined (Pig rejects the
        statement). Gate: spark.spork.validate.eager (default on)."""
        # -check IS the validation pass
        on = self.check or self._conf_bool("spark.spork.validate.eager", True)
        if not on or self._validation_exempt(rel.node):
            return
        try:
            rel.df()                 # analysis RPC; memoized for later use
        except Exception:
            del self.rels[alias]
            raise

    @staticmethod
    def _validation_exempt(node) -> bool:
        from ..plans import logical as L
        seen = set()
        stack = [node]
        while stack:
            n = stack.pop()
            if id(n) in seen:
                continue
            seen.add(id(n))
            if isinstance(n, L.Rank):
                return True
            stack.extend(getattr(n, "children", []))
        return False

    def operator(self, alias: str) -> Relation:
        t = self.next()
        if t.kind != "kw":
            raise PigSyntaxError(f"expected operator keyword, got {t.text!r}")
        m = getattr(self, f"op_{t.text}", None)
        if m is None:
            raise PigSyntaxError(f"unsupported operator {t.text.upper()}")
        return m()

    # LOAD 'path' [USING fn[('a')]] [AS (schema)]
    def op_load(self) -> Relation:
        path = self._string()
        fmt, options = "parquet", {}
        if self.accept("kw", "using"):
            fn_name = self.expect("ident").text
            args = self._paren_string_args()
            d = self.defines.get(fn_name)
            if isinstance(d, dict) and "fn" in d:   # DEFINE'd loader alias
                fn_name, args = d["fn"], list(d["args"])
            fmt = fn_name
            if fn_name.lower() == "pigstorage" and args:
                # PigStorage(delimiter[, options]) — strictly positional
                # (PigStorage.java constructors), so a literal '-'
                # delimiter never reads as an option string
                options["sep"] = args[0]
                # option string: '-tagFile' prepends the source file
                # name, '-tagPath' the full path (first output column);
                # '-schema' restore is automatic when a sidecar exists
                if len(args) > 1:
                    if "-tagFile" in args[1]:
                        options["tagFile"] = "true"
                    if "-tagPath" in args[1]:
                        options["tagPath"] = "true"
                fmt = "csv"
        schema = None
        if self.accept("kw", "as"):
            schema = self._schema_ddl()
        self._flush_if_overlaps(path)   # implicit store→load dependency
        return self.engine.load(path, fmt=fmt, schema=schema, **options)

    def st_store(self) -> None:
        self.expect("kw", "store")
        alias = self.expect("ident").text
        self.expect("kw", "into")
        path = self._string()
        fmt = "parquet"
        store_opts: dict = {}
        if self.accept("kw", "using"):
            fmt = self.expect("ident").text
            args = self._paren_string_args()
            d = self.defines.get(fmt)
            if isinstance(d, dict) and "fn" in d:   # DEFINE'd storer alias
                fmt, args = d["fn"], list(d["args"])
            if fmt.lower() == "pigstorage" and args:
                # PigStorage(delimiter[, options]) — strictly positional
                # (PigStorage.java constructors); '-schema' in the
                # option string writes the .pig_schema sidecar that
                # LOAD restores typed columns from
                store_opts["sep"] = args[0]
                if len(args) > 1 and "-schema" in args[1]:
                    store_opts["schema"] = True
        thunk = self.rel(alias).store_plan(path, fmt=fmt, **store_opts)
        if self.check:
            pass                # plan built + validated; nothing writes
        elif self._multiquery_on():
            self._pending_stores.append((path, thunk))
        else:
            thunk()
        self.stored.append((alias, path))
        self.expect("op", ";")

    def _multiquery_on(self) -> bool:
        """Pig's -no_multiquery switch as a conf: off → every STORE
        executes at its statement (pre-r10 behavior), on (default) →
        STOREs batch to end-of-script (Pig's default)."""
        return self._conf_bool("spark.spork.multiquery.enabled", True)

    def st_dump(self) -> None:
        self.expect("kw", "dump")
        alias = self.expect("ident").text
        if self.check:
            self.rel(alias).df()      # analysis only, no job, no output
        else:
            # Pig: DUMP is an execution barrier that disables multiquery
            # batching across it — pending stores run first, in order.
            self._flush_stores()
            self.rel(alias).dump()
        self.dumped.append(alias)
        self.expect("op", ";")

    def st_describe(self) -> None:
        self.expect("kw", "describe")
        rel = self.rel(self.expect("ident").text)
        rel.df() if self.check else rel.describe()
        self.expect("op", ";")

    def st_explain(self) -> None:
        self.expect("kw", "explain")
        rel = self.rel(self.expect("ident").text)
        rel.df() if self.check else rel.explain()
        self.expect("op", ";")

    def st_illustrate(self) -> None:
        self.expect("kw", "illustrate")
        rel = self.rel(self.expect("ident").text)
        rel.df() if self.check else rel.illustrate()
        self.expect("op", ";")

    def st_define(self) -> None:
        self.expect("kw", "define")
        name = self.expect("ident").text
        if self.peek().kind == "op" and self.peek().text == ";":
            raise PigSyntaxError(
                f"DEFINE {name} needs a function, `command`, or macro "
                f"body at {self.peek().pos}")
        t = self.next()                      # `cmd` or fn name (+ args)
        # DEFINE alias SomeFunc('args') — a named load/store/stream-func
        # instance (SURVEY.md §2.1 #27); resolved at USING sites.
        if t.kind == "ident" and self.peek().text == "(":
            args = self._paren_string_args()
            self.expect("op", ";")
            self.defines[name] = {"fn": t.text, "args": tuple(args)}
            return
        cmd, ship = t.text.strip("`"), []
        while not self.accept("op", ";"):
            t = self.next()
            # DEFINE … SHIP('a.py','b.txt'): distribute files to tasks
            # (CACHE/INPUT/OUTPUT clauses parse but are no-ops: HDFS cache
            # localization / non-stdin-stdout plumbing don't apply here)
            if t.kind == "ident" and t.text.lower() == "ship" \
                    and self.accept("op", "("):
                while not self.accept("op", ")"):
                    p = self.next()
                    if p.kind == "string":
                        ship.append(p.text[1:-1])
        self.defines[name] = (cmd, tuple(ship)) if ship else cmd

    def st_register(self) -> None:
        """REGISTER 'udfs.py' [USING jython|streaming_python] AS ns —
        the reference's scripting-UDF surface (pig:src/org/apache/pig/
        scripting/jython/JythonScriptEngine.java): execute the Python
        file, register its functions as ns.fn; an @outputSchema
        annotation (injected into the module, like Pig's pig_util)
        declares the return type. Non-.py paths (jars) parse and no-op."""
        self.expect("kw", "register")
        t = self.next()                      # path (string or ident chain)
        path = t.text[1:-1] if t.kind == "string" else t.text
        ns = None
        while not self.accept("op", ";"):
            tok = self.next()
            if tok.kind == "kw" and tok.text == "as":
                ns = self.expect("ident").text
        if path.endswith(".py"):
            self._register_python_udfs(path, ns)

    def _register_python_udfs(self, path: str, ns: str | None) -> None:
        from ..functions.udf import output_schema
        mod: dict = {"outputSchema": output_schema,
                     "output_schema": output_schema}
        with open(path) as f:
            code = compile(f.read(), path, "exec")
        exec(code, mod)                       # noqa: S102 — user UDF file
        for name, v in mod.items():
            if callable(v) and getattr(v, "__code__", None) is not None \
                    and v.__code__.co_filename == path:
                full = f"{ns}.{name}" if ns else name
                self.engine.register_udf(full, v)

    def st_grunt(self) -> None:
        """Grunt shell commands inside scripts (SURVEY.md §2.1 #33:
        pig:src/org/apache/pig/tools/grunt/GruntParser.java): fs/sh plus
        the bare aliases rmf/cat/mkdir/rm/cp/mv/ls. The raw command text
        was extracted BEFORE tokenization (_extract_grunt_statements —
        shell metacharacters and quoted ';' never reach the Pig lexer)
        and executes here, in statement order — the idiomatic
        `rmf out; STORE x INTO 'out';` works."""
        self.next()                            # __grunt__ marker
        idx = int(self.next().text)
        self.expect("op", ";")
        cmdline = self._grunt[idx]
        head = cmdline.split(None, 1)[0].lower()
        if head == "aliases":      # GruntParser printAliases
            print("aliases: [%s]" % ", ".join(sorted(self.rels)))
            return
        if head == "help":
            print("Commands: <pig latin statement>; fs <fs arguments>; "
                  "sh <shell command>; cat/cd/cp/copyFromLocal/"
                  "copyToLocal/ls/mkdir/mv/pwd/rm/rmf <path>; "
                  "exec|run [-param k=v] [-param_file f] <script>; "
                  "kill <jobid>; aliases; history [n]; clear; "
                  "describe|explain|illustrate|dump <alias>; "
                  "set <key> <value>; quit")
            return
        if self.check:
            # -check: fs/sh side effects are skipped; nested scripts
            # still get checked (exec/run propagate the flag).
            if head in ("exec", "run"):
                self._grunt_script(cmdline)
            return
        # fs/sh/exec touch the filesystem the queued STOREs will write:
        # flush first so `STORE x INTO 'out'; cat out;` reads the data.
        # (Real Pig is stricter — fs commands run during the parse and
        # such a cat fails until an `exec` — so flushing is a forgiving
        # superset: every script that works in Pig works here.)
        self._flush_stores()
        if head in ("exec", "run", "kill"):
            self._grunt_script(cmdline)
        else:
            run_grunt(cmdline)

    def _grunt_script(self, cmdline: str) -> None:
        """Grunt `exec` / `run` / `kill` (pig:src/org/apache/pig/tools/
        grunt/GruntParser.java processScript/processKill semantics):

        - `exec [-param k=v]* [-param_file f]* script.pig` runs the
          nested script in an ISOLATED batch context — aliases defined
          here are invisible inside, and nothing the script defines
          leaks back (GruntParser calls this "batch mode").
        - `run …` executes the script IN the current context: it shares
          this session's alias namespace and DEFINEs, exactly as if the
          statements had been typed inline.
        - `kill jobid` has no job tracker to talk to in this engine
          (Spark jobs are synchronous here); it warns and is a no-op.
        """
        import shlex
        try:
            toks = shlex.split(cmdline)
        except ValueError:
            toks = cmdline.split()
        cmd, rest = toks[0].lower(), toks[1:]
        if cmd == "kill":
            sys.stderr.write(
                f"grunt: kill {' '.join(rest)} ignored — no async job "
                "tracker in this engine\n")
            return
        # -param beats -param_file regardless of argument order
        # (pig:…/tools/parameters/ParameterSubstitutionPreprocessor)
        cli_params: dict[str, str] = {}
        params: dict[str, str] = {}
        script = None
        i = 0
        while i < len(rest):
            a = rest[i]
            if a in ("-param", "-p") and i + 1 < len(rest):
                k, _, v = rest[i + 1].partition("=")
                cli_params[k.strip()] = v
                i += 2
            elif a == "-param_file" and i + 1 < len(rest):
                params.update(read_param_file(_strip_scheme(rest[i + 1])))
                i += 2
            else:
                script = _strip_scheme(a)
                i += 1
        if script is None:
            raise PigSyntaxError(f"{cmd} needs a script path: {cmdline!r}")
        with open(script) as fh:
            src = fh.read()
        params.update(cli_params)
        sub = PigParser(self.engine)
        sub.check = self.check           # -check covers nested scripts too
        if cmd == "run":
            # shared-context execution: the nested parser mutates THIS
            # session's dicts in place, so its aliases/DEFINEs persist
            sub.rels = self.rels
            sub.defines = self.defines
            sub.stored = self.stored
            sub.dumped = self.dumped
        sub.run(src, params=params or None)
        self._confs.clear()             # the script may have SET keys

    def st_set(self) -> None:
        """SET key value; — keys are dotted identifiers in real scripts
        (`set mapred.job.queue.name q;`, `set spark.spork.*`), which
        tokenize as ident (. ident)* — consume the whole path."""
        self.expect("kw", "set")
        if self.peek().kind == "op" and self.peek().text == ";":
            # bare `set;` — GruntParser lists the session properties
            self.next()
            for k, v in sorted(
                    self.engine.spark.sparkContext.getConf().getAll()):
                print(f"{k}={v}")
            return
        key = self.next().text
        while self.peek().kind == "op" and self.peek().text == ".":
            self.next()
            key += "." + self.next().text
        # values are dotted identifiers too in real scripts
        # (`set mapred.job.queue.name root.prod;`) — same consumption
        val = self.next().text.strip("'")
        while self.peek().kind == "op" and self.peek().text == ".":
            self.next()
            val += "." + self.next().text
        # Pig's `set default_parallel N` is the default reducer count
        # for every shuffle without an explicit PARALLEL
        # (pig:src/org/apache/pig/PigServer.java setDefaultParallel);
        # Spark's twin is the default shuffle-partition count.
        if key.lower() == "default_parallel":
            key = "spark.sql.shuffle.partitions"
        try:
            self.engine.spark.conf.set(key, val)
        except Exception:
            pass
        self._confs.clear()
        self.expect("op", ";")

    def st_assert(self) -> None:
        """ASSERT rel BY cond [, 'msg'];  (SURVEY.md §2.1 #26)"""
        self.next()                          # 'assert' ident token
        src = self._rel_operand()
        self.expect("kw", "by")
        cond = self.expression()
        msg = "assertion failed"
        if self.accept("op", ","):
            msg = self._string()
        if self.check:
            src.filter(cond).df()     # validate the condition, no scan
        else:
            src.assert_(cond, msg)
        self.expect("op", ";")

    def st_split(self) -> None:
        self.expect("kw", "split")
        src = self._rel_operand()
        self.expect("kw", "into")
        names, conds, otherwise_name = [], [], None
        while True:
            name = self.expect("ident").text
            if self.accept("kw", "if"):
                names.append(name)
                conds.append(self.expression())
            elif self.accept("kw", "otherwise"):
                otherwise_name = name
            if not self.accept("op", ","):
                break
        outs = src.split(*conds, otherwise=otherwise_name is not None)
        for n, r in zip(names + ([otherwise_name] if otherwise_name else []),
                        outs):
            r.as_alias(n)
            self.rels[n] = r
        self.expect("op", ";")

    def op_filter(self) -> Relation:
        src = self._rel_operand()
        self.expect("kw", "by")
        cond = self.expression()
        src, (cond,), helpers = self._bind_scalars(src, [cond])
        out = src.filter(cond)
        return out.drop(*helpers) if helpers else out

    def op_distinct(self) -> Relation:
        return self._rel_operand().distinct(
            parallel=self._parallel())

    def op_limit(self) -> Relation:
        src = self._rel_operand()
        return src.limit(int(self._const_expr("LIMIT")))

    def op_sample(self) -> Relation:
        src = self._rel_operand()
        return src.sample(float(self._const_expr("SAMPLE")))

    def _const_expr(self, where: str) -> float:
        """LIMIT/SAMPLE accept constant scalar expressions (Pig 0.10) —
        folded at parse time. Non-constant expressions (e.g. a scalar of a
        relation) are rejected with a clear error."""
        e = self.expression()

        def fold(x: E.Expr):
            if isinstance(x, E.Lit) and isinstance(x.value, (int, float)):
                return x.value
            if isinstance(x, E.UnOp) and x.op == "neg":
                return -fold(x.child)
            if isinstance(x, E.BinOp):
                l, r = fold(x.left), fold(x.right)
                if x.op == "+":
                    return l + r
                if x.op == "-":
                    return l - r
                if x.op == "*":
                    return l * r
                if x.op == "/":
                    # Pig int/int is truncating integer division
                    if isinstance(l, int) and isinstance(r, int):
                        return int(l / r)
                    return l / r
                if x.op == "%":
                    return l % r
            raise PigSyntaxError(
                f"{where} expression must be a constant, got "
                f"{type(x).__name__}")
        return fold(e)

    def op_order(self) -> Relation:
        src = self._rel_operand()
        self.expect("kw", "by")
        keys = self._sort_keys()
        return src.order_by(*keys, parallel=self._parallel())

    def op_rank(self) -> Relation:
        src_name = self.expect("ident").text
        src = self.rel(src_name)
        keys, dense = [], False
        if self.accept("kw", "by"):
            keys = self._sort_keys(stop_kws=("dense",))
            if self.accept("kw", "dense"):
                dense = True
        # Pig names the rank field rank_<operand alias> (LORank schema rule)
        return src.rank(*keys, dense=dense, name=f"rank_{src_name}")

    def op_union(self) -> Relation:
        onschema = bool(self.accept("kw", "onschema"))
        first = self._rel_operand()
        others = []
        while self.accept("op", ","):
            others.append(self._rel_operand())
        return first.union(*others, onschema=onschema)

    def op_cross(self) -> Relation:
        first = self._rel_operand()
        others = []
        while self.accept("op", ","):
            others.append(self._rel_operand())
        return first.cross(*others)

    def op_group(self) -> Relation:
        src = self._rel_operand()
        if self.accept("kw", "all"):
            self._parallel()                 # PARALLEL accepted; 1 group
            return src.group_all()
        self.expect("kw", "by")
        if self._kw("cube", "rollup"):          # CUBE rel BY CUBE(a,b)[, ROLLUP(c)]
            clauses = []
            while True:
                mode = self.next().text
                self.expect("op", "(")
                dims = [self.expression()]
                while self.accept("op", ","):
                    dims.append(self.expression())
                self.expect("op", ")")
                clauses.append((mode, dims))
                if not (self.peek().text == "," and
                        self.peek(1).kind == "kw" and
                        self.peek(1).text in ("cube", "rollup")):
                    break
                self.next()                      # consume ','
            if len(clauses) == 1:
                mode, dims = clauses[0]
                return src.cube(*dims) if mode == "cube" \
                    else src.rollup(*dims)
            # mixed clauses → grouping sets: cross product of per-clause
            # sets (CUBE = all subsets, ROLLUP = prefixes — the reference's
            # CubeDimensions/RollupDimensions expansion, SURVEY.md §2.1 #25)
            import itertools
            all_dims, per_clause = [], []
            for mode, dims in clauses:
                idxs = list(range(len(all_dims), len(all_dims) + len(dims)))
                all_dims.extend(dims)
                if mode == "cube":
                    sets = [list(c) for r in range(len(idxs), -1, -1)
                            for c in itertools.combinations(idxs, r)]
                else:
                    sets = [idxs[:k] for k in range(len(idxs), -1, -1)]
                per_clause.append(sets)
            gsets = [sorted(x for part in combo for x in part)
                     for combo in itertools.product(*per_clause)]
            return src.grouping_sets(all_dims, gsets)
        keys = self._key_list()
        # per-input INNER/OUTER flag (COGROUP a BY k INNER, …): INNER drops
        # groups where that input's bag is empty (SURVEY.md §2.1 #8)
        inner = [bool(self.accept("kw", "inner"))]
        if not inner[0]:
            self.accept("kw", "outer")
        # additional COGROUP-style inputs
        others = []
        while self.accept("op", ","):
            r2 = self._rel_operand()
            self.expect("kw", "by")
            others.append((r2, self._key_list()))
            inner.append(bool(self.accept("kw", "inner")))
            if not inner[-1]:
                self.accept("kw", "outer")
        # USING 'collected' (map-side group when loader guarantees
        # collocation) is a perf-only variant → plain groupBy. PARTITION BY
        # names a placement function: honored when registered via
        # Engine.register_partitioner, else accepted-and-ignored with a
        # warning (Catalyst owns placement — SURVEY.md §2.1 clause notes).
        if self.accept("kw", "using"):
            self._string()
        partitioner = None
        if self.peek().kind == "ident" and \
                self.peek().text.lower() == "partition":
            self.next()
            self.expect("kw", "by")
            if self.peek().kind == "string":
                # quoted form for names the lexer can't carry as dotted
                # idents (Hadoop inner classes: 'com.x.Outer$Inner')
                partitioner = self._string()
            else:
                parts = [self.next().text]   # dotted class name
                while self.accept("op", "."):
                    parts.append(self.next().text)
                partitioner = ".".join(parts)
        if others:
            cg = src.cogroup(keys, *others, inner=inner)
            cg.node.parallel = self._parallel()
            if partitioner:
                cg.node.partitioner = partitioner
            return cg
        return src.group_by(*keys, parallel=self._parallel(),
                            partitioner=partitioner)

    op_cogroup = op_group
    op_cube = op_group  # CUBE rel BY CUBE(...) parses via group path

    def op_join(self) -> Relation:
        left = self._rel_operand()
        self.expect("kw", "by")
        lkeys = self._key_list()
        how = "inner"
        if self._kw("left", "right", "full"):
            how = self.next().text
            self.accept("kw", "outer")
        self.expect("op", ",")
        others = []                      # n-way: JOIN a BY k, b BY k, c BY k
        while True:
            r = self._rel_operand()
            self.expect("kw", "by")
            others.append((r, self._key_list()))
            if not self.accept("op", ","):
                break
        strategy = "default"
        if self.accept("kw", "using"):
            strategy = self._string().strip("'")
            strategy = {"replicated": "replicated", "repl": "replicated",
                        "skewed": "skewed", "merge": "merge",
                        "merge-sparse": "merge_sparse"}.get(strategy,
                                                            "default")
        parallel = self._parallel()
        out = left
        keys = lkeys
        for i, (r, rkeys) in enumerate(others):
            last = i == len(others) - 1
            # outer is 2-way only in Pig; extra inputs chain as inner
            out = out.join(keys, r, rkeys, how=how, strategy=strategy,
                           parallel=parallel if last else None)
            how = "inner"
            keys = rkeys
        return out

    def op_stream(self) -> Relation:
        src = self._rel_operand()
        self.expect("kw", "through")
        t = self.next()
        cmd = t.text.strip("`'")
        cmd = self.defines.get(cmd, cmd)
        ship: tuple = ()
        if isinstance(cmd, dict):
            raise PigSyntaxError(
                "STREAM THROUGH requires a command DEFINE (`cmd`), "
                "not a function DEFINE")
        if isinstance(cmd, tuple):           # DEFINE'd with SHIP(...)
            cmd, ship = cmd
        schema = None
        if self.accept("kw", "as"):
            schema = self._schema_ddl()
        return src.stream_through(cmd, schema=schema, ship=ship)

    # FOREACH rel GENERATE … | FOREACH rel { inner; GENERATE … }
    def op_foreach(self) -> Relation:
        src = self._rel_operand()
        if self.accept("op", "{"):
            return self._nested_foreach(src)
        self.expect("kw", "generate")
        gens = [self._generator()]
        while self.accept("op", ","):
            gens.append(self._generator())
        src, gens, _ = self._bind_scalars(src, gens)
        return src.foreach(*gens)

    def _bind_scalars(self, src: Relation, exprs: list[E.Expr]) \
            -> tuple[Relation, list[E.Expr], list[str]]:
        """Scalar-of-relation references (SURVEY.md §2.2): `rel.field`
        inside an expression, where `rel` names another relation, reads
        that relation's single value (pig:src/org/apache/pig/impl/builtin/
        ReadScalars.java contract: >1 row errors, 0 rows is null). Each
        distinct reference becomes a cross with the guarded 1-row scalar
        — a broadcast-size side at any scale — and the deref rewrites to
        the crossed column. Column names shadow relation names."""
        try:
            src_cols = set(src.df().columns)
        except Exception:
            src_cols = set()
        found: dict[tuple[str, str], str] = {}

        def rewrite(e: E.Expr) -> E.Expr | None:
            if (isinstance(e, E.Deref) and isinstance(e.child, E.Col)
                    and isinstance(e.field, str)
                    and e.child.name in self.rels
                    and e.child.name not in src_cols):
                key = (e.child.name, e.field)
                if key not in found:
                    found[key] = f"__sc_{e.child.name}_{e.field}"
                return E.Col(found[key])
            return None

        new = [E.transform(x, rewrite) for x in exprs]
        for (rel_nm, field), uniq in found.items():
            scalar = (self.rels[rel_nm].as_scalar(field)
                      .foreach(E.Aliased(E.Col(field), uniq)))
            src = src.cross(scalar)
        return src, new, list(found.values())

    def _maybe_range(self) -> E.RangeProj | None:
        """Project-range generator: ``a .. c``, ``$0 .. $3``, ``.. b``,
        ``a ..``, bare ``..`` (Pig 0.9 project-range syntax). Only fires
        when the lookahead actually contains ``..`` — otherwise the normal
        expression parser runs."""
        def bound_tok(k: int) -> tuple[int, str | int] | None:
            t = self.peek(k)
            if t.kind == "dollar":
                return k + 1, int(t.text[1:])
            if t.kind == "ident":
                return k + 1, t.text
            return None

        start: str | int | None = None
        k = 0
        b = bound_tok(0)
        if b is not None:
            k, start = b
        if not (self.peek(k).kind == "op" and self.peek(k).text == ".."):
            return None
        for _ in range(k + 1):
            self.next()
        end: str | int | None = None
        b = bound_tok(0)
        if b is not None:
            self.next()
            end = b[1]
        if start is None and end is None:
            return E.RangeProj(0, None)      # bare '..' ≡ '*'
        return E.RangeProj(start, end)

    def _generator(self) -> E.Expr:
        rng = self._maybe_range()
        e = rng if rng is not None else self.expression()
        if self.accept("kw", "as"):
            if self.accept("op", "("):       # AS (name[:type], …) on FLATTEN
                names = [self.expect("ident").text]
                if self.accept("op", ":"):
                    self.next()
                while self.accept("op", ","):
                    names.append(self.expect("ident").text)
                    if self.accept("op", ":"):
                        self.next()
                self.expect("op", ")")
                return E.Aliased(e, names[0] if len(names) == 1
                                 else tuple(names))
            name = self.expect("ident").text
            if self.accept("op", ":"):
                self.next()                   # type annotation — informative
            return E.Aliased(e, name)
        return e

    def _nested_foreach(self, src: Relation) -> Relation:
        """Inner pipeline lowering (SURVEY.md §2.3): each inner statement
        rewrites a bag expression; GENERATE sees inner aliases as bags."""
        bag_env: dict[str, E.Expr] = {src.alias: E.Col(src.alias)}
        # the grouped relation's bag column is named after its input
        from ..plans import logical as L
        if isinstance(src.node, L.Group):
            bag_env[src.node.bag_alias] = E.Col(src.node.bag_alias)
        elif isinstance(src.node, L.CoGroup):
            # COGROUP output carries one bag per input, named after the
            # input relation (compiler bag_name rule) — all addressable
            # from the inner block (FOREACH cg { x = CROSS a, b; … })
            for nm in src.node.input_names:
                bag_env[nm] = E.Col(nm)

        def lower_inner_expr(e: E.Expr, var: E.LambdaVar) -> E.Expr:
            """Inner expressions reference bag-tuple fields by name →
            rebind Col/Pos onto the lambda variable."""
            def rebind(n: E.Expr) -> E.Expr | None:
                if isinstance(n, E.Col):
                    return E.Deref(var, n.name)
                if isinstance(n, E.Pos):
                    return E.Deref(var, n.index)
                return None
            return E.transform(e, rebind)

        def inner_bag_ref() -> tuple[str, E.Expr]:
            """A bag reference inside the block: a prior inner alias or the
            grouped relation, optionally projected (`li.l_partkey` — Pig's
            bag projection, a bag of 1-field tuples; the L4 nested-DISTINCT
            idiom depends on it). Returns (alias, bag expression)."""
            nm = self.expect("ident").text
            if nm not in bag_env:
                raise PigSyntaxError(f"unknown inner relation {nm!r}")
            bag = bag_env[nm]
            while self.accept("op", "."):
                bag = E.Deref(bag, self.expect("ident").text)
            return nm, bag

        while not self._kw("generate"):
            name = self.expect("ident").text
            self.expect("op", "=")
            kw = self.next()
            if kw.text == "filter":
                _, bag = inner_bag_ref()
                self.expect("kw", "by")
                cond = self.expression()
                var = E.LambdaVar("t")
                bag_env[name] = E.Func("FILTER_BAG", [
                    bag, E.Lambda(["t"], lower_inner_expr(cond, var))])
            elif kw.text == "order":
                _, bag = inner_bag_ref()
                self.expect("kw", "by")
                keys = []
                while True:
                    field = self.expect("ident").text
                    asc = True
                    if self._kw("asc", "desc"):
                        asc = self.next().text == "asc"
                    keys.append((field, asc))
                    if not self.accept("op", ","):
                        break
                bag_env[name] = E.Func("SORT_BAG", [bag, E.Lit(keys)])
            elif kw.text == "limit":
                _, bag = inner_bag_ref()
                n = int(self.expect("number").text.rstrip("lL"))
                bag_env[name] = E.Func("LIMIT_BAG", [bag, E.Lit(n)])
            elif kw.text == "distinct":
                _, bag = inner_bag_ref()
                bag_env[name] = E.Func("DISTINCT_BAG", [bag])
            elif kw.text == "cross":
                # inner CROSS (Pig 0.13+): n-way per-group cartesian,
                # folded pairwise into CROSS_BAG array expressions
                nm, bag = inner_bag_ref()
                self.expect("op", ",")
                nm2, bag2 = inner_bag_ref()
                acc = E.Func("CROSS_BAG", [bag, bag2, E.Lit(nm), E.Lit(nm2)])
                while self.accept("op", ","):
                    nmx, bagx = inner_bag_ref()
                    acc = E.Func("CROSS_BAG", [acc, bagx,
                                               E.Lit(name), E.Lit(nmx)])
                bag_env[name] = acc
            elif kw.text == "foreach":
                # inner FOREACH: per-tuple projection over a bag →
                # transform(bag, t -> struct(...)); result is a bag of
                # tuples like every other inner alias
                _, bag = inner_bag_ref()
                self.expect("kw", "generate")
                gens = [self._generator()]
                while self.accept("op", ","):
                    gens.append(self._generator())
                var = E.LambdaVar("t")
                fields = []
                for g in gens:
                    if isinstance(g, E.Aliased):
                        fields.append(E.Aliased(
                            lower_inner_expr(g.child, var), g.name))
                    elif isinstance(g, E.Col):
                        fields.append(E.Aliased(
                            lower_inner_expr(g, var), g.name))
                    else:
                        fields.append(lower_inner_expr(g, var))
                bag_env[name] = E.Func("TRANSFORM_BAG", [
                    bag, E.Lambda(["t"], E.Func("TOTUPLE", fields))])
            elif kw.text in bag_env:
                # bare bag-projection alias (the PigMix L4 idiom:
                # `aleph = B.action;` — no operator keyword, just a
                # projected bag reference bound to an inner name)
                bag = bag_env[kw.text]
                while self.accept("op", "."):
                    bag = E.Deref(bag, self.expect("ident").text)
                bag_env[name] = bag
            else:
                raise PigSyntaxError(
                    f"unsupported inner operator {kw.text.upper()}")
            self.expect("op", ";")
        self.expect("kw", "generate")

        def subst_bags(e: E.Expr) -> E.Expr:
            return E.transform(e, lambda n: bag_env.get(n.name)
                               if isinstance(n, E.Col) else None)

        def lower_gen(g: E.Expr) -> E.Expr:
            # a bare inner alias keeps its name: GENERATE group, c;
            if isinstance(g, E.Col) and g.name in bag_env \
                    and g.name != src.alias:
                return E.Aliased(subst_bags(g), g.name)
            return subst_bags(g)

        gens = [lower_gen(self._generator())]
        while self.accept("op", ","):
            gens.append(lower_gen(self._generator()))
        self.accept("op", ";")               # GENERATE …; } — ; is optional
        self.expect("op", "}")
        return src.foreach(*gens)

    # -- clause helpers -----------------------------------------------------
    def _parallel(self) -> int | None:
        if self.accept("kw", "parallel"):
            return int(self.expect("number").text)
        return None

    def _key_expr(self) -> E.Expr:
        rng = self._maybe_range()
        return rng if rng is not None else self.expression()

    def _key_list(self) -> list[E.Expr]:
        # `(` opens either a key TUPLE — `BY (k1, k2)` — or a CAST on a
        # single key — `BY (int)s`, legal Pig (POCast at the local
        # rearrange). Disambiguate with _unary's exact cast lookahead.
        is_cast = (self.peek().kind == "op" and self.peek().text == "("
                   and self.peek(1).kind == "ident"
                   and self.peek(1).text.lower() in _PIG_TYPES
                   and self.peek(2).kind == "op"
                   and self.peek(2).text == ")")
        if not is_cast and self.accept("op", "("):
            keys = [self._key_expr()]
            while self.accept("op", ","):
                keys.append(self._key_expr())
            self.expect("op", ")")
            return keys
        return [self._key_expr()]

    def _sort_keys(self, stop_kws=()) -> list[tuple[E.Expr, bool]]:
        keys = []
        while True:
            e = self._key_expr()
            asc = True
            if self._kw("asc", "desc"):
                asc = self.next().text == "asc"
            keys.append((e, asc))
            if not self.accept("op", ","):
                break
            if self.peek().kind == "kw" and self.peek().text in stop_kws:
                break
        return keys

    def _string(self) -> str:
        return unescape_string(self.expect("string").text[1:-1])

    def _paren_string_args(self) -> list[str]:
        args = []
        if self.accept("op", "("):
            while not self.accept("op", ")"):
                t = self.next()
                if t.kind == "string":
                    args.append(t.text[1:-1])
                elif t.kind != "op":
                    args.append(t.text)
        return args

    _DDL_SCALARS = {"int": "int", "long": "bigint", "float": "float",
                    "double": "double", "chararray": "string",
                    "bytearray": "binary", "boolean": "boolean",
                    "datetime": "timestamp", "biginteger": "decimal(38,0)",
                    "bigdecimal": "decimal(38,18)"}

    def _schema_ddl(self) -> str:
        """AS (a:int, b:chararray, t:tuple(…), bg:bag{…}, m:map[…]) → Spark
        DDL string. Untyped fields default to string (the
        bytearray→StringType strategy, §1.3); nested Pig types map to
        struct/array<struct>/map (SURVEY.md §1.2)."""
        self.expect("op", "(")
        fields = []
        while True:
            name = self.expect("ident").text
            spark_t = "string"
            if self.accept("op", ":"):
                spark_t = self._ddl_type()
            fields.append(f"{name} {spark_t}")
            if not self.accept("op", ","):
                break
        self.expect("op", ")")
        return ", ".join(fields)

    def _ddl_type(self) -> str:
        """One Pig type in a schema DDL, possibly nested:
        tuple(a:int, …) | (a:int, …) → struct<…>;
        bag{alias:(…)} | {(…)} → array<struct<…>>;  map[t] | [t] → map."""
        t = self.peek()
        if t.kind == "ident" and t.text.lower() == "tuple":
            self.next()
            return self._ddl_struct()
        if t.kind == "op" and t.text == "(":
            return self._ddl_struct()
        if t.kind == "ident" and t.text.lower() == "bag":
            self.next()
            return self._ddl_bag()
        if t.kind == "op" and t.text == "{":
            return self._ddl_bag()
        if t.kind == "ident" and t.text.lower() == "map":
            self.next()
            return self._ddl_map()
        if t.kind == "op" and t.text == "[":
            return self._ddl_map()
        return self._DDL_SCALARS.get(self.next().text.lower(), "string")

    def _ddl_struct(self) -> str:
        self.expect("op", "(")
        parts = []
        while True:
            name = self.expect("ident").text
            spark_t = "string"
            if self.accept("op", ":"):
                spark_t = self._ddl_type()
            parts.append(f"{name}:{spark_t}")
            if not self.accept("op", ","):
                break
        self.expect("op", ")")
        return f"struct<{','.join(parts)}>"

    def _ddl_bag(self) -> str:
        self.expect("op", "{")
        if self.accept("op", "}"):           # bag{} — untyped tuples
            return "array<string>"
        if self.peek().kind == "ident" and self.peek(1).text == ":":
            self.next()                      # inner tuple alias (t:)
            self.next()
        inner = self._ddl_type()             # tuple(...) or (...)
        self.expect("op", "}")
        return f"array<{inner}>"

    def _ddl_map(self) -> str:
        self.expect("op", "[")
        if self.accept("op", "]"):           # map[] — untyped values
            return "map<string,string>"
        val = self._ddl_type()
        self.expect("op", "]")
        return f"map<string,{val}>"

    # -- expressions (precedence climbing) ------------------------------------
    def expression(self) -> E.Expr:
        return self._ternary()

    def _ternary(self) -> E.Expr:
        cond = self._or()
        if self.accept("op", "?"):
            a = self._ternary()
            self.expect("op", ":")
            b = self._ternary()
            return E.BinCond(cond, a, b)
        return cond

    def _or(self) -> E.Expr:
        e = self._and()
        while self.accept("kw", "or"):
            e = E.BinOp("or", e, self._and())
        return e

    def _and(self) -> E.Expr:
        e = self._not()
        while self.accept("kw", "and"):
            e = E.BinOp("and", e, self._not())
        return e

    def _not(self) -> E.Expr:
        if self.accept("kw", "not"):
            return E.UnOp("not", self._not())
        return self._comparison()

    def _comparison(self) -> E.Expr:
        e = self._additive()
        t = self.peek()
        if t.kind == "op" and t.text in _CMP:
            self.next()
            return E.BinOp(_CMP[t.text], e, self._additive())
        if t.kind == "ident" and t.text.lower() in _CMP_WORDS:
            self.next()
            return E.BinOp(_CMP_WORDS[t.text.lower()], e, self._additive())
        if self.accept("kw", "matches"):
            rx = self._string()
            return E.Matches(e, rx)
        if self.accept("kw", "in"):
            self.expect("op", "(")
            vals = [self.expression()]
            while self.accept("op", ","):
                vals.append(self.expression())
            self.expect("op", ")")
            return E.InList(e, vals)
        if self.accept("kw", "is"):
            neg = bool(self.accept("kw", "not"))
            self.expect("kw", "null")
            return E.UnOp("isnotnull" if neg else "isnull", e)
        return e

    def _additive(self) -> E.Expr:
        e = self._multiplicative()
        while True:
            t = self.peek()
            if t.kind == "op" and t.text in ("+", "-"):
                self.next()
                e = E.BinOp(t.text, e, self._multiplicative())
            else:
                return e

    def _multiplicative(self) -> E.Expr:
        e = self._unary()
        while True:
            t = self.peek()
            if t.kind == "op" and t.text in ("*", "/", "%"):
                self.next()
                e = E.BinOp(t.text, e, self._unary())
            else:
                return e

    def _unary(self) -> E.Expr:
        if self.accept("op", "-"):
            return E.UnOp("neg", self._unary())
        # cast: (type) expr
        if self.peek().kind == "op" and self.peek().text == "(" and \
                self.peek(1).kind == "ident" and \
                self.peek(1).text.lower() in _PIG_TYPES and \
                self.peek(2).kind == "op" and self.peek(2).text == ")":
            self.next()
            pig_t = self.next().text.lower()
            self.next()
            return E.Cast(pig_t, self._unary())
        return self._postfix()

    def _postfix(self) -> E.Expr:
        e = self._primary()
        while True:
            if self.accept("op", "."):
                if self.accept("op", "("):   # multi-field: b.(f1, f2)
                    fields = [self._deref_field()]
                    while self.accept("op", ","):
                        fields.append(self._deref_field())
                    self.expect("op", ")")
                    e = E.DerefMulti(e, fields)
                    continue
                t = self.next()
                if t.kind == "dollar":
                    e = E.Deref(e, int(t.text[1:]))
                else:
                    # field may be a join-qualified name: j.qa::v
                    name = t.text
                    while self.accept("op", "::"):
                        name += "::" + self.next().text
                    e = E.Deref(e, name)
            elif self.accept("op", "#"):
                e = E.MapLookup(e, self._string())
            else:
                return e

    def _deref_field(self) -> str | int:
        t = self.next()
        if t.kind == "dollar":
            return int(t.text[1:])
        if t.kind in ("ident", "kw"):
            name = t.text
            while self.accept("op", "::"):
                name += "::" + self.next().text
            return name
        raise PigSyntaxError(f"expected field name, got {t.text!r} at {t.pos}")

    def _primary(self) -> E.Expr:
        t = self.next()
        if t.kind == "number":
            return E.Lit(self._number(t.text))
        if t.kind == "string":
            return E.Lit(unescape_string(t.text[1:-1]))
        if t.kind == "dollar":
            return E.Pos(int(t.text[1:]))
        if t.kind == "op" and t.text == "*":
            return E.Star()
        if t.kind == "op" and t.text == "(":
            e = self.expression()
            self.expect("op", ")")
            return e
        if t.kind == "kw":
            if t.text == "null":
                return E.Lit(None)
            if t.text in ("true", "false"):
                return E.Lit(t.text == "true")
            if t.text == "flatten":
                self.expect("op", "(")
                e = self.expression()
                self.expect("op", ")")
                return E.Flatten(e)
            if t.text == "group":
                return self._qualified(E.Col("group"))
            if t.text == "case":
                return self._case_when()
            if t.text == "distinct":
                # nested-foreach inline DISTINCT(bag) sugar
                self.expect("op", "(")
                e = self.expression()
                self.expect("op", ")")
                return E.Func("DISTINCT_BAG", [e])
        if t.kind == "ident":
            # function call?
            if self.peek().kind == "op" and self.peek().text == "(":
                self.next()
                args = []
                if not (self.peek().kind == "op" and self.peek().text == ")"):
                    args.append(self.expression())
                    while self.accept("op", ","):
                        args.append(self.expression())
                self.expect("op", ")")
                return E.Func(t.text.upper(), args)
            # namespaced UDF call: ns.fn(args) for a REGISTER'd module —
            # only when the dotted name is actually registered (otherwise
            # dots mean field dereference)
            if (self.peek().kind == "op" and self.peek().text == "."
                    and self.peek(1).kind == "ident"
                    and self.peek(2).kind == "op"
                    and self.peek(2).text == "("
                    and f"{t.text}.{self.peek(1).text}".upper()
                    in self.engine.udfs):
                self.next()
                fn_name = self.next().text
                self.next()                  # consume "("
                args = []
                if not (self.peek().kind == "op" and self.peek().text == ")"):
                    args.append(self.expression())
                    while self.accept("op", ","):
                        args.append(self.expression())
                self.expect("op", ")")
                return E.Func(f"{t.text}.{fn_name}".upper(), args)
            return self._qualified(E.Col(t.text))
        raise PigSyntaxError(f"unexpected token {t.text!r} at {t.pos}")

    def _qualified(self, base: E.Col) -> E.Expr:
        """rel::col qualified names fold into one column name."""
        name = base.name
        while self.peek().kind == "op" and self.peek().text == "::":
            self.next()
            name += "::" + self.next().text
        return E.Col(name)

    def _case_when(self) -> E.Expr:
        """CASE [expr] WHEN v THEN r … [ELSE e] END"""
        subject = None
        if not self._kw("when"):
            subject = self.expression()
        branches = []
        while self.accept("kw", "when"):
            w = self.expression()
            self.expect("kw", "then")
            r = self.expression()
            cond = E.BinOp("==", subject, w) if subject is not None else w
            branches.append((cond, r))
        otherwise = None
        if self.accept("kw", "else"):
            otherwise = self.expression()
        self.expect("kw", "end")
        return E.CaseWhen(branches, otherwise)

    @staticmethod
    def _number(text: str):
        if text[-1] in "lL":
            return int(text[:-1])
        if text[-1] in "fF":
            return float(text[:-1])
        if "." in text or "e" in text or "E" in text:
            return float(text)
        return int(text)


def preprocess(script: str, params: dict | None = None) -> str:
    """Parameter substitution + IMPORT/macro expansion — the exact text
    the parser executes. This is Pig's -dryrun output
    (<script>.substituted; pig:src/org/apache/pig/Main.java -r)."""
    return expand_macros(substitute_params(script, params))


def check_script(engine: Engine, script: str,
                 params: dict | None = None) -> dict[str, Relation]:
    """Pig's -check: parse the script and build/analyze every
    statement's plan (schema and name errors raise) without executing
    anything — no store writes, no dump output, no fs/sh side effects.
    LOAD inputs must be readable (schemas come from file footers when
    no AS clause is given), but no Spark job runs."""
    p = PigParser(engine)
    p.check = True
    return p.run(script, params)


def run_script(engine: Engine, script: str,
               params: dict | None = None,
               relations: dict[str, Relation] | None = None
               ) -> dict[str, Relation]:
    """Execute a Pig Latin script; returns {alias: Relation} (lazy — STORE/
    DUMP statements have already run their actions, like PigServer).

    ``relations`` seeds the alias environment with pre-built Relations —
    the PigUnit/mock.Storage role (pig:src/org/apache/pig/pigunit/
    PigTest.java): inject in-memory inputs, run a script over them."""
    p = PigParser(engine)
    if relations:
        # the script knows each relation by its dict key: seed an
        # aliased COPY (same plan node) so Pig's bag naming (GROUP x →
        # bag column named after x) and the column-shadows-relation
        # scalar rule see the script-side name — without mutating the
        # caller's Relation, which may be shared
        p.rels.update({name: Relation(rel.engine, rel.node, name)
                       for name, rel in relations.items()})
    return p.run(script, params)
