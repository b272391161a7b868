"""The benchmark's three workloads.

Each workload is a list of *items* (one Pig script or one registry
query); a *pass* runs every item once. ``run`` is the timed part of one
item: it calls the engine's public API only and wraps each layer call in
a tracer span (the parser's spans are opened by the tracer itself,
around the calls ``run_script`` makes). ``keep`` and ``check`` are the
correctness side and run outside every timed span.
"""

from __future__ import annotations

import importlib.util
import os
import pathlib
import shutil
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
GOLDEN = ROOT / "tests" / "golden"


def _load_tool(name: str):
    """Import ``tools/<name>.py`` with an argv of its own, so module-level
    argument parsing in the tool never sees the benchmark's flags."""
    spec = importlib.util.spec_from_file_location(
        f"perfbench_{name}", ROOT / "tools" / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    argv = sys.argv
    sys.argv = [spec.origin]
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.argv = argv
    return mod


def duck_connect(sf: str, tables: list[str]):
    import duckdb

    con = duckdb.connect(config={"threads": 4})
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    return con


def _header(stem: str) -> list[str]:
    first = (GOLDEN / f"{stem}.expected.tsv").read_text().split("\n", 1)[0]
    return first.split("\t")


def _release(eng, tr, span: str = "caching") -> None:
    with tr.span(span) as rec:
        if tr.enabled:
            from spork_spark.caching import tracked_count
            rec["persists"] = tracked_count(eng.spark)
        eng.release_cache()


class _Scripts:
    """Golden Pig scripts, read once; ``$sf`` points at the fixtures."""

    def __init__(self, sf: str, stems: list[str]):
        self.sf = sf
        self.items = stems
        self.src = {s: (GOLDEN / f"{s}.pig").read_text() for s in stems}
        self.params = {"sf": sf}


class GruntCheck(_Scripts):
    """Pig ``-check`` over every golden script: parse, lower, compile and
    Catalyst analysis; no Spark action but construction-time jobs."""

    name = "grunt_check"
    warmup = "analytics_mix"
    warm_passes = 1
    nominal_pass_s = 6

    def __init__(self, sf: str):
        super().__init__(sf, sorted(p.stem for p in GOLDEN.glob("*.pig")))

    def run(self, eng, stem: str, tag: str, tr):
        from spork_spark.parser import check_script

        with tr.span("frontend", group=f"{tag}:frontend"):
            rels = check_script(eng, self.src[stem], params=self.params)
        _release(eng, tr)
        return rels

    def keep(self, rec: dict, rels) -> None:
        rec["columns"] = rels["out"].df().columns

    def check(self, recs: list[dict]) -> None:
        for rec in recs:
            want = _header(rec["item"])
            if rec["columns"] != want:
                rec["error"] = f"columns {rec['columns']} != {want}"


class PigBatch(_Scripts):
    """PigMix ports, text to STORE: ``run_script`` builds the plan, then
    a ``STORE out`` statement writes parquet."""

    name = "pig_batch"
    warmup = "pigmix_l09"
    warm_passes = 2
    nominal_pass_s = 6
    # L12 is left out because its own STOREs write outside the checkout;
    # L4, L15, L16 (more aggregate variants) and L17 (wide group keys) to
    # keep a run short enough for its cold starts
    SCRIPTS = ["pigmix_l01", "pigmix_l02", "pigmix_l03", "pigmix_l05",
               "pigmix_l06", "pigmix_l07", "pigmix_l08", "pigmix_l09",
               "pigmix_l10", "pigmix_l11", "pigmix_l13", "pigmix_l14"]

    def __init__(self, sf: str, store_dir: str):
        super().__init__(sf, self.SCRIPTS)
        self.store_dir = store_dir
        self.gold = _load_tool("gen_pigmix_goldens")

    def run(self, eng, stem: str, tag: str, tr):
        from spork_spark.parser import run_script

        with tr.span("frontend", group=f"{tag}:frontend"):
            rels = run_script(eng, self.src[stem], params=self.params)
        out = os.path.join(self.store_dir, tag.replace("/", "_"))
        with tr.span("exec", group=f"{tag}:exec"):
            run_script(eng, f"STORE out INTO '{out}';", relations=rels)
        _release(eng, tr)
        return out

    def keep(self, rec: dict, out: str) -> None:
        rec["out_dir"] = out

    def _fmt_rows(self, rows) -> list[list[str]]:
        # the golden harness's cell formatting, order-insensitive as in
        # the tool's --check mode
        return sorted([self.gold._fmt_cell(v) for v in row] for row in rows)

    def check(self, recs: list[dict]) -> None:
        con = duck_connect(self.sf, self.gold.TABLES)
        want: dict[str, list] = {}
        try:
            for rec in recs:
                stem, out = rec["item"], rec["out_dir"]
                parts = sorted(p for p in os.listdir(out)
                               if p.endswith(".parquet"))
                rec["files_written"] = len(parts)
                rec["bytes_written"] = sum(
                    os.path.getsize(os.path.join(out, p)) for p in parts)
                got = con.sql(f"SELECT * FROM '{out}/*.parquet'")
                rows = got.fetchall()
                rec["rows_written"] = len(rows)
                if stem not in want:
                    want[stem] = self._fmt_rows(
                        con.sql(self.gold.ORACLES[stem]).fetchall())
                if got.columns != _header(stem):
                    rec["error"] = f"columns {got.columns} != {_header(stem)}"
                elif self._fmt_rows(rows) != want[stem]:
                    rec["error"] = "stored rows differ from the DuckDB replay"
                shutil.rmtree(out)
        finally:
            con.close()


class Operators:
    """Registry queries built on the extension operators: a dedup.py
    kernel (duplicate_spans) and the single-partition-window queries,
    each built by its Python function and executed through the ``noop``
    sink.

    The first run of each query in a run collects instead of writing to
    ``noop`` (that is the first, untimed warm-up pass), and ``check``
    compares its rows with the query's oracle. Every other run writes to
    ``noop`` under an ``observe`` row count, which ``check`` compares
    with the oracle's row count."""

    name = "operators"
    warmup = "growth"
    warm_passes = 2
    nominal_pass_s = 5
    # connected_components (3.4 s, half a pass) and rfm, the slowest
    # window query, are left out to keep a run short enough for its cold
    # starts; four other window queries remain
    QUERIES = ["dedup_spans", "pareto", "equifreq_bins", "abc_suppliers",
               "growth"]

    def __init__(self, sf: str):
        import __spark_entry__ as entry

        self.sf = sf
        self.items = sorted(self.QUERIES)
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.cmp = _load_tool("check_oracle")
        self.collected: dict[str, tuple] = {}

    def run(self, eng, name: str, tag: str, tr):
        from pyspark.sql import Observation, functions as F

        with tr.span("operators.build", group=f"{tag}:build"):
            df = self.queries[name](eng.spark, self.sf)
        with tr.span("exec", group=f"{tag}:exec"):
            if name in self.collected or tag.startswith("warmup"):
                rows = Observation()
                (df.observe(rows, F.count(F.lit(1)).alias("n"))
                   .write.format("noop").mode("overwrite").save())
            else:
                self.collected[name] = (df.collect(), df.columns, df.schema)
                rows = None
        _release(eng, tr)
        return rows

    def keep(self, rec: dict, rows) -> None:
        rec["rows"] = (len(self.collected[rec["item"]][0]) if rows is None
                       else rows.get["n"])

    def check(self, recs: list[dict]) -> None:
        """Compare each query's collected rows with its oracle the way
        tools/check_oracle.py does; a mismatch fails every run of it."""
        con = duck_connect(self.sf, self.cmp.TABLES)
        errors, want_rows = {}, {}
        try:
            for name, (rows, cols, schema) in self.collected.items():
                tbl = con.sql(self.oracles[name]).arrow()
                duck = list(zip(*(c.to_pylist() for c in tbl.columns)))
                want_rows[name] = len(duck)
                problems = self.cmp.type_mismatches(schema, tbl.schema)
                if sorted(cols) != sorted(tbl.schema.names):
                    problems.append(f"cols {cols} vs {tbl.schema.names}")
                elif (self.cmp.norm_rows(rows, cols)
                      != self.cmp.norm_rows(duck, tbl.schema.names)):
                    problems.append("values differ from the oracle")
                if problems:
                    errors[name] = "; ".join(problems)
        finally:
            con.close()
        for rec in recs:
            if rec["item"] in errors:
                rec["error"] = errors[rec["item"]]
            elif rec["item"] not in self.collected:
                rec["error"] = "never collected, so never checked"
            elif rec["rows"] != want_rows[rec["item"]]:
                rec["error"] = (f"{rec['rows']} rows, the oracle has "
                                f"{want_rows[rec['item']]}")


def make(name: str, sf: str, work_dir: str):
    if name == "grunt_check":
        return GruntCheck(sf)
    if name == "pig_batch":
        return PigBatch(sf, os.path.join(work_dir, "store"))
    if name == "operators":
        return Operators(sf)
    raise ValueError(name)
