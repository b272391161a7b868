"""End-to-end benchmark of the Pig-Latin engine, with per-layer attribution.

Usage (from the repository root):

    python3 perfbench/run.py --workload {grunt_check,pig_batch,operators}
        --seed N --seconds S --trace {0,1}
    python3 perfbench/run.py --workload all ...   # every workload in turn

``setup_s`` is the median of two cold starts, each in a process of its
own: importing the engine, launching the JVM, starting a single-process
``local[4]`` session and running one fixed warm-up item. One is made by
a short-lived child process; the other is the run's own start. That
session then runs passes over the workload's items, in an order
shuffled by ``--seed``: untimed warm-up passes, then as many timed
passes as fit ``--seconds`` at the workload's nominal pass time.
``pass_s`` is the median pass wall time; ``item_p50_ms`` and
``item_p90_ms`` are quantiles over the items of each item's median
latency. Outputs are checked against an independent DuckDB replay, and
the last line printed is one JSON object.

``--trace 0`` times passes and items only and reports the end-to-end
metrics. ``--trace 1`` interleaves untraced and traced passes; traced
passes record a span per item and per layer call, count py4j round trips
and attribute Spark jobs per span, read the Catalyst phase times of
every query that ran, and the run reports per-layer self times and
counts (medians of per-pass sums), the tracing overhead, and writes the
spans to ``.perfbench/trace-<workload>-<seed>.json``.

All inputs, temporary files and outputs stay inside the checkout: the
fixtures are ``perfbench/data/sf0.01`` and scratch space is
``.perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

from tracing import NullTracer, Tracer

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
SF = str(HERE / "data" / "sf0.01")
WORKLOADS = ["grunt_check", "pig_batch", "operators"]
# cold starts per run: each takes 9-15 s on a 4-core machine, and a third
# would leave a run too little time to measure within its time budget
SETUPS = 2

# The engine's default session, except that nothing binds a port, draws
# progress bars or leaves the checkout.
SESSION_CONF = {
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}

# (name, unit) of every metric, in BENCHMARK.json order.
END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("item_p50_ms", "ms"),
              ("item_p90_ms", "ms")]
PER_LAYER = [
    ("parser.preprocess_ms", "ms"), ("parser.tokenize_ms", "ms"),
    ("frontend.s", "s"), ("frontend.py4j_roundtrips", "count"),
    ("frontend.py4j_wait_s", "s"), ("frontend.jobs", "count"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("sources.rows_written", "count"), ("sources.bytes_written", "bytes"),
    ("sources.files_written", "count"),
    ("caching.s", "s"), ("caching.persists", "count"),
    ("operators.build_s", "s"), ("operators.build_jobs", "count"),
    ("operators.exec_s", "s"), ("operators.exec_jobs", "count"),
    ("unattributed_s", "s"), ("trace.pass_s", "s"),
    ("trace.untraced_pass_s", "s"), ("trace.overhead_s", "s"),
    ("memory.peak_rss_mb", "MB"),
]


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # one set-up sample in a process of its own; prints its time
    ap.add_argument("--cold-start", action="store_true",
                    help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    return args


def confine_to_checkout() -> None:
    """Point every temp and spill directory of this process, the JVM and
    DuckDB into .perfbench/, before pyspark is imported."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    # -XX:-UsePerfData: no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the engine's own sizing overrides would make runs environment-dependent
    for var in ("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_CPUS",
                "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(var, None)


def start_session():
    from spork_spark import Engine, get_spark

    spark = get_spark(app_name="perfbench", master="local[4]",
                      extra_conf=SESSION_CONF)
    spark.sparkContext.setLogLevel("ERROR")
    return Engine(spark)


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def run_item(wl, eng, item: str, tag: str, tr, recs: list) -> float:
    """Run one item; return its wall time. The record keeps what the
    correctness check needs, taken after the clock stopped."""
    rec = {"item": item, "tag": tag}
    t0 = time.perf_counter()
    try:
        with tr.item(tag):
            result = wl.run(eng, item, tag, tr)
    except Exception:
        wall = time.perf_counter() - t0
        rec["error"] = traceback.format_exc(limit=3)
        eng.release_cache()
    else:
        wall = time.perf_counter() - t0
        wl.keep(rec, result)
    tr.end_item()
    rec["wall"] = wall
    recs.append(rec)
    return wall


def layer_metrics(tracer, passes: list[dict], wl_name: str,
                  peak_rss_mb: float) -> tuple[dict, float]:
    """Median over traced passes of each per-layer sum, and the largest
    gap between an item's summed self times and its wall time as
    run_item's own clock read it."""
    selfs = tracer.self_times()
    residual = 0.0
    by_tag: dict[str, list[dict]] = {}
    for s in tracer.spans:
        by_tag.setdefault(s["item"], []).append(s)

    def one_pass(p: dict) -> dict:
        nonlocal residual
        m = {name: 0.0 for name, _ in PER_LAYER}
        for rec in p["recs"]:
            for k in ("rows_written", "bytes_written", "files_written"):
                m[f"sources.{k}"] += rec.get(k, 0)
            spans = by_tag[rec["tag"]]
            residual = max(residual, abs(
                rec["wall"] - sum(selfs[s["id"]] for s in spans)))
            for s in spans:
                name, self_s = s["name"], selfs[s["id"]]
                if name == "item":
                    m["unattributed_s"] += self_s
                    for k, v in s["phases"].items():
                        m[f"catalyst.{k}_ms"] += v
                elif name.startswith("parser."):
                    m[f"{name}_ms"] += self_s * 1000
                elif name in ("frontend", "exec", "caching"):
                    m[f"{name}.s"] += self_s
                elif name == "operators.build":
                    m["operators.build_s"] += self_s
                    m["operators.build_jobs"] += s["jobs"]
                if name == "frontend":
                    m["frontend.py4j_roundtrips"] += s["py4j_roundtrips"]
                    m["frontend.py4j_wait_s"] += s["py4j_wait_s"]
                    m["frontend.jobs"] += s["jobs"]
                elif name == "exec":
                    for k in ("jobs", "stages", "tasks"):
                        m[f"exec.{k}"] += s[k]
                    if wl_name == "operators":
                        m["operators.exec_s"] += self_s
                        m["operators.exec_jobs"] += s["jobs"]
                elif name == "caching":
                    m["caching.persists"] += s["persists"]
        return m

    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["warm"] and not p["traced"]]
    per_pass = [one_pass(p) for p in traced]
    out = {name: statistics.median(m[name] for m in per_pass)
           for name, _ in PER_LAYER}
    out["trace.pass_s"] = statistics.median(p["wall"] for p in traced)
    out["trace.untraced_pass_s"] = statistics.median(p["wall"] for p in untraced)
    out["trace.overhead_s"] = out["trace.pass_s"] - out["trace.untraced_pass_s"]
    out["memory.peak_rss_mb"] = peak_rss_mb
    return out, residual


def run_passes(wl, eng, rng, args, tracer, passes: list) -> None:
    """Warm-up passes prime the JIT and the engine's lazy state: they run
    and are checked like the others, but are left out of every timing. A
    fixed number of timed passes follows, as many as fit --seconds at the
    workload's nominal pass time (at least two): a count that followed
    the clock would let a faster commit run more, warmer passes.

    Traced runs warm up once more and make at least four timed passes,
    ordered untraced, traced, traced, untraced: passes keep getting
    faster for a while as the JIT warms, and that order keeps most of the
    drift out of the tracing overhead."""
    null = NullTracer()

    def run_pass(warm: bool, traced: bool) -> None:
        order = list(wl.items)
        rng.shuffle(order)
        tr = tracer if traced else null
        p = {"warm": warm, "traced": traced, "recs": [], "lat": []}
        tr.begin_pass()
        t0 = time.perf_counter()
        for item in order:
            tag = f"p{len(passes)}/{item}"
            p["lat"].append(run_item(wl, eng, item, tag, tr, p["recs"]))
        p["wall"] = time.perf_counter() - t0
        tr.end_pass()
        passes.append(p)

    for _ in range(wl.warm_passes + (1 if args.trace else 0)):
        run_pass(warm=True, traced=False)
    timed = max(4 if args.trace else 2, args.seconds // wl.nominal_pass_s)
    for i in range(timed):
        run_pass(warm=False, traced=bool(args.trace) and i % 4 in (1, 2))


def cold_start(args):
    """One set-up sample: import the engine, launch the JVM, start the
    session and run the warm-up item. Returns the workload, the engine
    and the seconds it took."""
    t0 = time.perf_counter()
    confine_to_checkout()
    sys.path.insert(0, str(ROOT))
    import spork_spark  # noqa: F401  (fail early when the engine is absent)
    import __spark_entry__  # noqa: F401
    from workloads import make

    wl = make(args.workload, SF, str(WORK))
    eng = start_session()
    try:
        wl.run(eng, wl.warmup, f"warmup/{os.getpid()}", NullTracer())
    except BaseException:
        stop_session(eng.spark)
        raise
    return wl, eng, time.perf_counter() - t0


def cold_start_child(args) -> int:
    try:
        _, eng, seconds = cold_start(args)
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    stop_session(eng.spark)
    print(json.dumps({"setup_s": seconds}))
    return 0


def cold_starts_in_children(args, n: int) -> list[float] | None:
    """n set-up samples, one child process after another; None if one
    fails."""
    cmd = [sys.executable, __file__, "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", "0", "--cold-start"]
    samples = []
    for _ in range(n):
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                              timeout=150)
        if proc.returncode != 0:
            return None
        samples.append(json.loads(proc.stdout.strip().splitlines()[-1])
                       ["setup_s"])
    return samples


def run_workload(args) -> int:
    store = WORK / "store"
    shutil.rmtree(store, ignore_errors=True)
    # a traced run reports no setup_s, so it makes only its own start
    setups = [] if args.trace else cold_starts_in_children(args, SETUPS - 1)
    if setups is None:
        print("perfbench: a set-up sample failed", file=sys.stderr)
        return 2
    try:
        wl, eng, seconds = cold_start(args)
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    setups.append(seconds)

    passes, tracer = [], None
    try:
        if args.trace:
            tracer = Tracer(eng.spark)
        run_passes(wl, eng, random.Random(args.seed), args, tracer, passes)
        jvm = eng.spark.sparkContext._jvm.java.lang.ProcessHandle.current()
        peak_rss = vm_hwm_mb("self") + vm_hwm_mb(jvm.pid())
    finally:
        if tracer:
            tracer.close()
        stop_session(eng.spark)
    recs = [r for p in passes for r in p["recs"]]
    wl.check([r for r in recs if "error" not in r])
    shutil.rmtree(store, ignore_errors=True)

    failed = [r for r in recs if "error" in r]
    for r in failed[:5]:
        print(f"FAILED {r['tag']}: {r['error'].strip()}")
    untraced = [p for p in passes if not p["warm"] and not p["traced"]]
    print(f"{args.workload}: {len(passes)} passes of {len(wl.items)} items, "
          f"{len(untraced)} timed untraced; failed_frac "
          f"{len(failed) / len(recs):.4f} ({len(failed)}/{len(recs)}); pass walls "
          + " ".join(f"{p['wall']:.2f}" for p in passes))
    if args.trace:
        values, residual = layer_metrics(tracer, passes, args.workload,
                                         peak_rss)
        units = PER_LAYER
        out = WORK / f"trace-{args.workload}-{args.seed}.json"
        out.write_text(json.dumps(tracer.spans))
        print(f"trace: {len(tracer.spans)} spans written to "
              f"{out.relative_to(ROOT)}; largest gap between an item's "
              f"self times and its wall time {residual * 1000:.3f} ms")
    else:
        # an item's latency is its median over the timed passes, so one
        # pass slowed by a noisy neighbour does not move the quantiles
        by_item: dict[str, list[float]] = {}
        for p in untraced:
            for rec in p["recs"]:
                by_item.setdefault(rec["item"], []).append(rec["wall"] * 1000)
        lat = {i: statistics.median(v) for i, v in by_item.items()}
        values = {
            "setup_s": statistics.median(setups),
            "pass_s": statistics.median(p["wall"] for p in untraced),
            "item_p50_ms": statistics.median(lat.values()),
            "item_p90_ms": statistics.quantiles(lat.values(), n=10)[8],
        }
        units = END_TO_END
        print("item latencies (median ms of " f"{len(untraced)} passes): "
              + ", ".join(f"{i} {lat[i]:.0f}"
                          for i in sorted(lat, key=lat.get, reverse=True)))
        print(f"setup_s: median of {SETUPS} cold starts "
              f"({', '.join(f'{s:.2f}' for s in setups)})")
    metrics = {}
    for name, unit in units:
        metrics[name] = {"value": values[name], "unit": unit}
        print(f"  {name:28s} {values[name]:14.4f} {unit}")
    print(json.dumps({"correct": not failed, "attempted": len(recs),
                      "failed": len(failed), "metrics": metrics}))
    return 0


def stop_session(spark) -> None:
    """Stop Spark and the gateway JVM this process launched, and wait
    for the JVM to exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run_all(args) -> int:
    """Every workload in its own process; one combined result line."""
    metrics, attempted, failed = {}, 0, 0
    for name in WORKLOADS:
        cmd = [sys.executable, __file__, "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if proc.returncode != 0 or not lines:
            print(f"perfbench: workload {name} exited {proc.returncode}",
                  file=sys.stderr)
            return proc.returncode or 1
        res = json.loads(lines[-1])
        attempted += res["attempted"]
        failed += res["failed"]
        metrics.update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.cold_start:
        return cold_start_child(args)
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
