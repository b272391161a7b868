"""SparkSession factory with Pig-compatible semantics.

The reference engine (sigmoidanalytics/spork = Apache Pig's Spark backend,
see SURVEY.md §0) has null-on-error cast semantics: a failed cast produces
``null`` plus a warning counter, never an exception
(pig:src/org/apache/pig/backend/hadoop/executionengine/physicalLayer/
expressionOperators/POCast.java). PySpark 4.x defaults to ANSI mode, which
*throws* on bad casts / overflow — so the engine session turns ANSI off and
compiles Pig casts to ``try_cast`` equivalents (SURVEY.md §1.3).

Scale posture (100 TB design):
- Shuffle partitions sized to the session's cores (``defaultParallelism``:
  N on ``local[N]``, the executor cores on a cluster), raised by the
  input's bytes when the input directory is known (``autosize_conf``).
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting
  (replaces the reference's SkewedPartitioner machinery, SURVEY.md §4.2).
- Broadcast threshold tuned so small dims (region/nation/supplier at any
  realistic SF) broadcast; Pig's ``USING 'replicated'`` maps to an explicit
  broadcast hint regardless of threshold.
- Arrow enabled for the Pandas-UDF extension operators.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

# On a real cluster the caller passes its own master/conf; the semantic
# confs below are the ones the engine's results depend on.
_SEMANTIC_CONF = {
    # Pig semantics: bad cast -> null, int overflow wraps (Java semantics).
    "spark.sql.ansi.enabled": "false",
    # Session timezone: Pig datetimes are instant-based (Joda ms + TZ).
    "spark.sql.session.timeZone": "UTC",
    # Nanosecond-precision parquet timestamps read as long (sources.read
    # downcasts ns→µs TIMESTAMP_NTZ itself); set here once rather than
    # mutated per-read — it is a session-global knob.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

_DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"
# The debugging conf is static, fixed for the JVM a Python process
# drives, so configure_session reads it once per process.
_debugging_checked = False

_SCALE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Static auto-broadcast OFF, AQE runtime conversion ON (10 MB).
    # The static threshold decides from pre-filter file-size estimates —
    # at 100 TB that is exactly how a "small" side turns out to be tens of
    # GB post-scan and OOMs the build. AQE's conversion uses the EXACT
    # shuffle bytes observed at runtime, so small dims (region/nation,
    # a filtered supplier) still become broadcast joins, with no estimate
    # risk. Measured at sf0.1 this is also faster: the static planner
    # chose to broadcast the column-pruned 600k-row lineitem (fits 10 MB)
    # and paid ~0.2 s building the hash relation; the runtime plan joins
    # it by shuffle. Pig 'replicated' joins get an explicit broadcast()
    # hint regardless of either threshold.
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Long-lived driver hygiene: the status store retains per-execution /
    # per-job/stage metadata forever at the defaults (1000 executions,
    # 1000 jobs); a driver serving tens of thousands of queries (a soak
    # run here; a resident service at 100 TB) accumulates heap until it
    # OOMs. Bound the retention — the UI only needs recent history.
    "spark.sql.ui.retainedExecutions": "100",
    "spark.ui.retainedJobs": "200",
    "spark.ui.retainedStages": "200",
    "spark.ui.retainedTasks": "2000",
    # Same resident-driver hygiene for STORAGE: localCheckpoint blocks
    # (graph/rollup/asof lineage truncation) free through the
    # ContextCleaner, which only learns an RDD is dead from a JVM GC —
    # and a mostly-idle large-heap driver can go very long between full
    # GCs, stranding checkpoint blocks (tools/soak.py measures this
    # directly). Spark's own knob for exactly this: periodic GC every
    # 10 min instead of the 30 min default.
    "spark.cleaner.periodicGC.interval": "10min",
    # Janino-compiled classes are cached per JVM, keyed by generated
    # source, and the default 100 entries thrash on a warm session:
    # counted with CodegenMetrics on local[4], one pass of the 12 PigMix
    # scripts compiles 127 distinct classes and the five benchmark
    # operator queries 101, so at the default every warm pass
    # recompiled ~100 of them. All 47 golden scripts run to completion
    # compile 524. Guava splits maximumSize over its (4) segments, so
    # one segment can evict before the total is reached: 2500 is over
    # 4x the largest count, and a resident session that runs all of
    # them keeps every class.
    "spark.sql.codegen.cache.maxEntries": "2500",
    # PySpark 4.x wraps every functions.*/Column call to record its
    # Python call site for AnalysisException context: each wrapped call
    # adds a conf read, a JVM reflection and a PySparkCurrentOrigin
    # set/clear, about 3,600 of the 5,700 py4j round trips of one
    # pass of the 12 PigMix scripts. The call site it records is the
    # compiler's, which means nothing to a Pig user; errors already name
    # the script statement. A static conf, fixed when the first session
    # of the JVM is built (PySpark also caches it in a module global,
    # pyspark/errors/utils.py is_debugging_enabled).
    _DEBUGGING: "false",
}


def _input_bytes(data_dir: str) -> int:
    """Bytes of the largest table under ``data_dir`` (file or directory
    table) — the number that sizes the biggest scan/shuffle."""
    best = 0
    try:
        for name in os.listdir(data_dir):
            p = os.path.join(data_dir, name)
            if os.path.isdir(p):
                # Recurse: a Hive-partitioned table is table/part=x/file;
                # counting only the top-level entries would measure a few
                # KB of directory inodes and silently undersize the
                # session — the exact failure mode autosizing prevents.
                sz = 0
                for root, dirs, files in os.walk(p):
                    dirs[:] = [d for d in dirs if not d.startswith("_")]
                    sz += sum(os.path.getsize(os.path.join(root, f))
                              for f in files if not f.startswith("_"))
            else:
                sz = os.path.getsize(p)
            best = max(best, sz)
    except OSError:
        return 0
    return best


def autosize_conf(input_bytes: int, cores: int | None = None) -> dict:
    """Derive data-dependent session sizing from the largest input's bytes
    (SCALE_r03.json finding 5: the sf0.1 profile applied 10x data left
    `distinct` at 1.70 s; input-derived sizing brought it to 0.86 s).

    - ``shuffle.partitions``: ~3 MB of scan input per shuffle partition,
      floored at the core count and capped at 2048. AQE coalesces only
      the reduce-side reads at runtime; every map task still writes one
      shuffle block per partition, every ORDER BY samples one range
      bound per partition, and an explicit ``repartition(n)`` taken from
      this conf runs n tasks. So the count starts at the cores and grows
      only with the input.
    - ``files.maxPartitionBytes``: split scans so the map side has >=2
      tasks per core (the sf1 fixture is 16 x 11 MB files; the default
      128 MB splits would cap the scan at 16 of 32 cores).
    At 100 TB the same rule lands near the cap and AQE takes over.
    ``cores`` defaults to this machine's CPU count.
    """
    if input_bytes <= 0:
        return {}
    cores = cores or os.cpu_count()
    parts = max(cores, min(2048, input_bytes // (3 * 1024 * 1024) or 1))
    split = max(4 * 1024 * 1024,
                min(128 * 1024 * 1024, input_bytes // (2 * cores) or 1))
    return {
        "spark.sql.shuffle.partitions": str(parts),
        "spark.sql.files.maxPartitionBytes": str(split),
    }


def _sizing_conf(spark: SparkSession, data_dir: str | None) -> dict:
    """The engine's partition sizing for ``spark``: $SPARK_GRAFT_SHUFFLE
    when set; else one shuffle partition per core of the session
    (``defaultParallelism``), raised by ``autosize_conf`` when the input
    directory is known."""
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE")
    if shuffle:
        return {"spark.sql.shuffle.partitions": shuffle}
    cores = spark.sparkContext.defaultParallelism
    auto = autosize_conf(_input_bytes(data_dir), cores) if data_dir else {}
    return {"spark.sql.shuffle.partitions": str(cores), **auto}


def shuffle_partitions(spark: SparkSession) -> int:
    """The session's shuffle-partition count, for operators that size an
    explicit ``repartition(n)``; ``get_spark`` (or ``SET default_parallel``)
    sets it."""
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def get_spark(app_name: str = "spork-spark", master: str | None = None,
              extra_conf: dict | None = None,
              data_dir: str | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Master resolution: explicit arg > $SPARK_GRAFT_CPUS (local[N]) >
    existing session > local[*].

    Shuffle partitions default to the session's cores; if ``data_dir``
    (or $SPARK_GRAFT_SF_DIR) names the input directory, the partition
    count and scan split size are derived from the largest table's bytes
    (see ``autosize_conf``). $SPARK_GRAFT_SHUFFLE replaces that rule, and
    explicit ``extra_conf`` wins over both.
    """
    extra_conf = extra_conf or {}
    builder = SparkSession.builder.appName(app_name)
    # local-mode JVMs default to a 1g heap regardless of machine size —
    # fine at the correctness-gate scale, but 32 concurrent tasks'
    # shuffle/join buffers overrun it at sf1+. Create-time-only conf, so
    # it is a no-op when attaching to an existing session; explicit
    # extra_conf / $SPARK_GRAFT_DRIVER_MEM stay authoritative.
    if "spark.driver.memory" not in extra_conf:
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        if cpus:
            master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    for k, v in {**_SEMANTIC_CONF, **_SCALE_CONF, **extra_conf}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Semantic confs are runtime-settable; enforce them even on a session we
    # didn't create (e.g. the driver's) so cast/null behavior is Pig's.
    for k, v in _SEMANTIC_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    # Sizing confs are runtime-settable and need the live context's core
    # count, so they are set on the built session; on a reused one a
    # long-lived driver pointed at new data resizes without restart.
    # Explicit extra_conf keys stay authoritative.
    data_dir = data_dir or os.environ.get("SPARK_GRAFT_SF_DIR")
    for k, v in _sizing_conf(spark, data_dir).items():
        if k not in extra_conf:
            spark.conf.set(k, v)
    return spark


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's semantic confs to an externally-created session.

    Two things only ``get_spark`` can do stay as the session's builder
    left them:
    - ``spark.python.sql.dataFrameDebugging.enabled`` is static, fixed
      when the JVM's first session was built. With it on, PySpark
      records a Python call site for every Column call, about 3,600 extra
      py4j round trips per pass of the 12 PigMix scripts; one warning
      per process says so.
    - The engine's partition sizing (``_sizing_conf``) is not applied:
      the session's owner chose its ``spark.sql.shuffle.partitions``.
    """
    global _debugging_checked
    for k, v in _SEMANTIC_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    if _debugging_checked:
        return spark
    _debugging_checked = True
    if spark.conf.get(_DEBUGGING, "true").lower() == "true":
        logging.getLogger(__name__).warning(
            "%s is on in this session and is static, so it cannot be "
            "turned off here: every Column call records its Python call "
            "site, several py4j round trips each. Build the session "
            "with it false (get_spark does).", _DEBUGGING)
    return spark
