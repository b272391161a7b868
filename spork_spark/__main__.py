"""CLI entry point (SURVEY.md §3.1 entry point 1, both modes):

  python -m spork_spark script.pig [-p name=value]...   # `pig script.pig`
  python -m spork_spark                                 # `pig` -> grunt>

The interactive shell is the reference's Grunt loop (pig:src/org/apache/
pig/tools/grunt/Grunt.java): statements accumulate until a terminating
';' outside strings/braces, execute against a persistent alias
environment, and errors return to the prompt instead of exiting.
"""

from __future__ import annotations

import argparse
import sys

from .parser.pig import _code_view, _live_declares, _macro_defs


def _statement_complete(buf: str) -> bool:
    """True when the buffer holds >= 1 complete statement: no open
    string, backtick command or block comment, every {...} block
    closed, and the last code character is ';'."""
    view, open_span = _code_view(buf)
    return not open_span and view.count("{") <= view.count("}") \
        and view.rstrip().endswith(";")


def _only_preproc(buf: str) -> bool:
    """%declare/%default are LINE-terminated (no ';' required)."""
    view, open_span = _code_view(buf)
    lines = [ln.strip() for ln in view.splitlines() if ln.strip()]
    return not open_span and bool(lines) \
        and all(ln.startswith("%") for ln in lines)


def _textual_state(chunk: str) -> list[str]:
    """Extract the pieces of a chunk that exist only as TEXT — macro
    DEFINEs (brace-scanned, nested blocks included) and
    %declare/%default lines — so they can be replayed before later
    statements (macro expansion and param substitution are pure text
    passes; replaying them is idempotent). Both are found on the code
    view with the finders preprocessing uses, so a commented-out or
    quoted DEFINE or %declare is NOT harvested. A macro is replayed as
    a slice of the chunk, so its body keeps its literals; a %declare as
    its name and value, without a trailing comment."""
    view, _ = _code_view(chunk)
    return [f"%{m[1]} {m[2]} {val}\n"
            for m, val, _ in _live_declares(chunk, view)] \
        + [chunk[m.start():end] + "\n" for m, _, end in _macro_defs(view)]


def grunt(engine, params: dict) -> int:
    """Interactive Grunt loop over ONE persistent PigParser: aliases,
    UDF DEFINEs, and set/register state carry across statements.
    Textual state (macros, %declare/%default) is harvested from each
    SUCCESSFUL chunk into a prelude that is re-prepended to later
    runs; failed chunks leave the session untouched."""
    from .parser import PigParser

    p = PigParser(engine)
    prelude: list[str] = []
    history: list[str] = []        # executed statements, for `history`
    interactive = sys.stdin.isatty()
    if interactive:
        print("spork_spark grunt shell — end statements with ';', "
              "'quit;' to exit")
    buf = ""
    while True:
        try:
            line = input("grunt> " if not buf.strip() else "    >> ") \
                if interactive else input()
        except EOFError:
            # A piped session may end without the final ';' — silently
            # dropping the trailing statement (and exiting 0) would
            # diverge from file mode, which parses whatever is there.
            if not _code_view(buf)[0].strip():
                return 0
            try:
                p.run("".join(prelude) + buf, params)
            except Exception as exc:
                print(f"ERROR: {exc}", file=sys.stderr)
                return 1
            return 0
        if not buf.strip():
            bare = line.strip().rstrip(";").lower()
            if bare in ("quit", "exit"):
                return 0
            if bare == "history":      # GruntParser processHistory
                for i, h in enumerate(history, 1):
                    print(f"{i}   {h}")
                continue
            if bare == "clear":        # GruntParser processClear
                print("\033[2J\033[H", end="")
                continue
            # GruntParser's shell commands are LINE-oriented: `pwd`
            # (no ';') executes at enter, it does not open a
            # continuation that would swallow the next statement
            head = line.strip().split(None, 1)[0].lower() \
                if line.strip() else ""
            from .parser.pig import _GRUNT_CMDS
            if (head in _GRUNT_CMDS or head == "set") \
                    and not line.rstrip().endswith(";"):
                line = line.rstrip() + ";"
        buf += line + "\n"
        if not (_statement_complete(buf) or _only_preproc(buf)):
            continue
        chunk, buf = buf, ""
        history.append(chunk.strip())  # Pig records what was typed,
        try:                           # including failing statements
            p.run("".join(prelude) + chunk, params)
        except Exception as exc:  # grunt survives bad statements
            print(f"ERROR: {exc}", file=sys.stderr)
            continue
        prelude.extend(_textual_state(chunk))
    return 0


def main(argv: list[str] | None = None) -> int:
    """Mirrors the reference launcher's flag surface (pig:src/org/apache/
    pig/Main.java): -param/-param_file, -e(xecute), -c(heck), -r(dryrun),
    -M(no_multiquery), -F(stop_on_failure), -P(propertyFile),
    -x(exectype), -w(arning), -version, -l(ogfile), -v(erbose),
    -d(ebug), -b(rief), -4(log4jconf), -t(optimizer_off) — plus this
    engine's --master/--explain."""
    ap = argparse.ArgumentParser(
        prog="spork_spark",
        description="Run a Pig Latin script on the PySpark-native engine "
                    "(no script -> interactive grunt shell)")
    ap.add_argument("script", nargs="?", default=None,
                    help="path to .pig script ('-' for stdin); omit for "
                         "the interactive grunt shell")
    ap.add_argument("-p", "-param", "--param", action="append", default=[],
                    metavar="NAME=VALUE", help="parameter substitution "
                    "(overrides -param_file values of the same name)")
    ap.add_argument("-param_file", "--param_file", action="append",
                    default=[], metavar="FILE",
                    help="file of NAME=VALUE lines ('#' comments allowed)")
    ap.add_argument("-e", "-execute", "--execute", default=None,
                    metavar="CMDS", help="execute the given statement(s) "
                    "and exit (instead of a script file)")
    ap.add_argument("-c", "-check", "--check", action="store_true",
                    help="syntax/plan check only: validate every "
                    "statement, execute nothing")
    ap.add_argument("-r", "-dryrun", "--dryrun", action="store_true",
                    help="write <script>.substituted (parameters "
                    "substituted, macros expanded) without running")
    ap.add_argument("-M", "-no_multiquery", "--no_multiquery",
                    action="store_true",
                    help="execute every STORE at its statement instead "
                    "of batching to end-of-script")
    ap.add_argument("-F", "-stop_on_failure", "--stop_on_failure",
                    action="store_true",
                    help="abort at the first failed STORE instead of "
                    "running the remaining ones (Pig -F)")
    ap.add_argument("-P", "-propertyFile", "--property_file",
                    action="append", default=[], metavar="FILE",
                    help="key=value property file applied to the Spark "
                    "session conf (Pig -P)")
    ap.add_argument("-x", "-exectype", "--exectype", default=None,
                    metavar="TYPE",
                    help="execution mode (Pig -x): 'local' runs "
                    "local[*]; other modes (mapreduce/tez/spark) run on "
                    "the session's Spark master — the only runtime here")
    ap.add_argument("-w", "-warning", "--warning", action="store_true",
                    help="aggregate warnings (Pig -w): count cast "
                    "discards per type and print the totals at the end "
                    "of the run")
    ap.add_argument("-version", "--version", action="store_true",
                    dest="show_version", help="print version and exit")
    ap.add_argument("-l", "-logfile", "--logfile", default=None,
                    metavar="FILE", help="append ERROR lines to FILE as "
                    "well as stderr (Pig -l)")
    ap.add_argument("-v", "-verbose", "--verbose", action="store_true",
                    help="verbose logging (Spark log level INFO)")
    ap.add_argument("-d", "-debug", "--debug", default=None,
                    metavar="LEVEL", help="log level (DEBUG/INFO/WARN/"
                    "ERROR — Pig -d)")
    ap.add_argument("-b", "-brief", "--brief", action="store_true",
                    help="brief logging (Spark log level ERROR)")
    ap.add_argument("-4", "-log4jconf", "--log4jconf", default=None,
                    metavar="FILE", help="accepted for launcher "
                    "compatibility; logging is configured via -v/-b/-d")
    ap.add_argument("-t", "-optimizer_off", "--optimizer_off",
                    action="append", default=[], metavar="RULE",
                    help="disable an optimizer rule (Pig -t): "
                    "MultiQueryOptimizer maps to -M; other rules are "
                    "Catalyst's and cannot be disabled individually")
    ap.add_argument("--master", default=None, help="Spark master override")
    ap.add_argument("--explain", action="store_true",
                    help="print the physical plan of every defined alias")
    args = ap.parse_args(argv)

    if args.show_version:
        from . import __version__
        print(f"spork_spark version {__version__} "
              "(Pig Latin on PySpark)")
        return 0
    if args.exectype and args.exectype.lower() == "local" \
            and args.master is None:
        args.master = "local[*]"
    for rule in args.optimizer_off:
        if rule == "MultiQueryOptimizer":
            args.no_multiquery = True
        else:
            print(f"WARN: -t {rule}: not a rule of this engine "
                  "(Catalyst optimizes the plan); ignored",
                  file=sys.stderr)

    if args.execute is not None and args.script is not None:
        ap.error("give either a script file or -e CMDS, not both")

    from .parser import preprocess, read_param_file

    params: dict[str, str] = {}
    for f in args.param_file:
        params.update(read_param_file(f))
    params.update(dict(p.split("=", 1) for p in args.param))

    def read_source() -> str:
        if args.execute is not None:
            return args.execute
        if args.script == "-":
            return sys.stdin.read()
        return open(args.script).read()

    if args.dryrun:
        # pure text pass — no SparkSession needed
        if args.execute is None and args.script not in (None, "-"):
            out_path = args.script + ".substituted"
            with open(out_path, "w") as fh:
                fh.write(preprocess(read_source(), params))
            print(f"dry run completed; substituted script at {out_path}")
        else:
            sys.stdout.write(preprocess(read_source(), params))
        return 0

    from . import Engine, get_spark
    from .parser import check_script, run_script

    spark = get_spark(app_name=f"spork:{args.script or 'grunt'}",
                      master=args.master)
    level = "WARN"
    if args.verbose:
        level = "INFO"
    if args.brief:
        level = "ERROR"
    if args.debug:
        level = args.debug.upper()
    spark.sparkContext.setLogLevel(level)
    if args.warning:
        spark.conf.set("spark.spork.warnings.enabled", "true")
    if args.no_multiquery:
        spark.conf.set("spark.spork.multiquery.enabled", "false")
    if args.stop_on_failure:
        spark.conf.set("spark.spork.stopOnFailure", "true")
    for f in args.property_file:
        for k, v in read_param_file(f).items():
            try:
                spark.conf.set(k, v)
            except Exception as exc:       # static confs can't be set late
                print(f"WARN: property {k!r} ignored: {exc}",
                      file=sys.stderr)
    engine = Engine(spark)

    def log_error(msg: str) -> None:
        print(msg, file=sys.stderr)
        if args.logfile:                   # Pig -l: errors also to file
            try:
                with open(args.logfile, "a") as fh:
                    fh.write(msg + "\n")
            except OSError as exc:
                print(f"WARN: cannot write logfile: {exc}",
                      file=sys.stderr)

    if args.check:
        if args.script is None and args.execute is None:
            ap.error("-c/--check needs a script file or -e CMDS")
        try:
            check_script(engine, read_source(), params=params)
        except Exception as exc:
            log_error(f"ERROR: {exc}")
            return 1
        print(f"{args.script or '-e command'}: syntax OK")
        return 0

    if args.script is None and args.execute is None:
        return grunt(engine, params)

    try:
        rels = run_script(engine, read_source(), params=params)
    except Exception as exc:
        # batch mode fails with Pig's clean ERROR line + exit 2
        # (pig:src/org/apache/pig/Main.java ReturnCode.PIG_EXCEPTION),
        # not a Python traceback
        log_error(f"ERROR: {exc}")
        return 2
    if args.explain:
        for name, rel in rels.items():
            print(f"-- {name} " + "-" * 50)
            rel.explain()
    return 0


if __name__ == "__main__":
    sys.exit(main())
