"""Dump .explain('formatted') for named registry queries to
plans/<round>/<query>_<tag>.txt (the optimization-round evidence files).

A name written ``golden/<stem>`` runs the golden script
tests/golden/<stem>.pig at the golden harness's scale factor and dumps
its ``out`` alias to plans/<round>/golden/<stem>_<tag>.txt.

Per-run numbering is stripped so that two dumps of the same
plan are byte-identical and a before/after pair diffs to its real
changes only: expression ids (`#123L`), exchange `plan_id=` tags,
lambda variable counters (`x_12`), JVM object hashes (`@1a2b3c`) and
RDD ids (`MapPartitionsRDD[126]`, which checkpoint-staged scans print).

Usage: python tools/dump_plans.py before q1,golden/case_when,... [--round r10]
       [--default-session]

The session pins bench.py's LATENCY_PROFILE (shuffle partitions
included), so dumps compare across engine sizing changes;
``--default-session`` dumps on the engine's own sizing instead.
"""
import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_VOLATILE = [
    (re.compile(r"#\d+L?"), ""),
    (re.compile(r",? ?\[plan_id=\d+\]"), ""),
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1"),
    (re.compile(r"(?<=[\w$])@[0-9a-f]+\b"), ""),
    (re.compile(r"(?<=RDD)\[\d+\]"), ""),
]


def normalize(plan: str) -> str:
    for pat, rep in _VOLATILE:
        plan = pat.sub(rep, plan)
    return plan


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2].split(",")
    rnd = "r10"
    if "--round" in sys.argv:
        rnd = sys.argv[sys.argv.index("--round") + 1]
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    default = "--default-session" in sys.argv
    if default:
        # the engine's own sizing, as perfbench/run.py builds its session:
        # no pinned profile and no sizing override from the environment
        for var in ("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_SHUFFLE"):
            os.environ.pop(var, None)
    import bench
    import __spark_entry__ as m
    from spork_spark import Engine, get_spark
    from spork_spark.parser import run_script
    from tests.test_golden_scripts import GOLDEN_DIR, SF
    conf = {"spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false"}
    spark = get_spark(master="local[4]", extra_conf=(
        conf if default else {**bench.LATENCY_PROFILE, **conf}))
    spark.sparkContext.setLogLevel("ERROR")
    qs = m.queries()
    eng = Engine(spark)
    for name in names:
        if name.startswith("golden/"):
            src = (GOLDEN_DIR / f"{name[len('golden/'):]}.pig").read_text()
            df = run_script(eng, src, params={"sf": SF})["out"].df()
        else:
            df = qs[name](spark, sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = f"plans/{rnd}/{name}_{tag}.txt"
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(normalize(buf.getvalue()))
        print("wrote", path)


if __name__ == "__main__":
    main()
