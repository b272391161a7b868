"""Session auto-sizing (SCALE_r03.json finding 5, promoted from bench.py
into the engine default): shuffle-partition upper bound and scan split
size derive from the largest input's bytes; AQE coalesces down."""

import os

import pytest

from spork_spark.session import _input_bytes, autosize_conf, get_spark

SF1 = os.path.join(os.path.dirname(os.path.dirname(__file__)), "testdata_sf1")


def _sf1() -> str:
    """Self-provision the gitignored sf1 fixture instead of silently
    skipping on a fresh boot (round-8 verdict item 6; ~2 min once)."""
    import sys
    sys.path.insert(0, os.path.join(os.path.dirname(SF1), "tools"))
    from make_scale import ensure_sf1
    return ensure_sf1(SF1)


def test_autosize_small_input_floors_at_cores():
    # sf0.1-sized input (~15 MB): upper bound floors at the core count;
    # AQE coalesces the actual count down at runtime.
    conf = autosize_conf(15 * 1024 * 1024, cores=32)
    assert conf["spark.sql.shuffle.partitions"] == "32"
    # scan splits floor at 4 MB (never slice a small file to confetti)
    assert conf["spark.sql.files.maxPartitionBytes"] == str(4 * 1024 * 1024)


def test_autosize_sf1_shape():
    # sf1 fixture shape (~176 MB lineitem over 16 files): ~58 partitions
    # (> the 8 that left `distinct` at 1.70 s) and small enough scan
    # splits that the 16-file layout feeds all 32 cores (the default
    # 128 MB splits would cap the scan at 16 tasks).
    b = 176 * 1024 * 1024
    conf = autosize_conf(b, cores=32)
    parts = int(conf["spark.sql.shuffle.partitions"])
    split = int(conf["spark.sql.files.maxPartitionBytes"])
    assert 48 <= parts <= 64
    assert split <= 6 * 1024 * 1024
    assert b // split >= 32


def test_autosize_capped_and_empty():
    assert int(autosize_conf(10 ** 15, cores=32)
               ["spark.sql.shuffle.partitions"]) == 2048
    assert autosize_conf(0) == {}


def test_input_bytes_picks_largest_table():
    _sf1()
    b = _input_bytes(SF1)
    line = os.path.join(SF1, "lineitem.parquet")
    expect = (sum(os.path.getsize(os.path.join(line, f))
                  for f in os.listdir(line) if not f.startswith("_"))
              if os.path.isdir(line) else os.path.getsize(line))
    assert b == expect > 0


def test_get_spark_applies_autosize_at_runtime(spark):
    _sf1()
    if "SPARK_GRAFT_SHUFFLE" in os.environ:
        pytest.skip("explicit override active")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        s = get_spark(data_dir=SF1)
        expect = autosize_conf(_input_bytes(SF1),
                               s.sparkContext.defaultParallelism)
        assert (s.conf.get("spark.sql.shuffle.partitions")
                == expect["spark.sql.shuffle.partitions"])
        assert (s.conf.get("spark.sql.files.maxPartitionBytes")
                == expect["spark.sql.files.maxPartitionBytes"])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
        spark.conf.unset("spark.sql.files.maxPartitionBytes")


@pytest.fixture
def sizing(spark, monkeypatch):
    """The shared session with no sizing override in the environment;
    its partition sizing is restored afterwards."""
    for var in ("SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_SF_DIR"):
        monkeypatch.delenv(var, raising=False)
    keys = ("spark.sql.shuffle.partitions",
            "spark.sql.files.maxPartitionBytes")
    before = {k: spark.conf.get(k) for k in keys}
    yield spark
    for k, v in before.items():
        spark.conf.set(k, v)


def test_get_spark_sizes_shuffle_to_session_cores(sizing):
    """No override: one shuffle partition per core of the session."""
    s = get_spark()
    assert (s.conf.get("spark.sql.shuffle.partitions")
            == str(s.sparkContext.defaultParallelism))


def test_get_spark_explicit_shuffle_wins(sizing, monkeypatch, tmp_path):
    """$SPARK_GRAFT_SHUFFLE replaces the core rule and the data_dir
    autosize; explicit extra_conf wins over it."""
    (tmp_path / "t.parquet").write_bytes(b"x" * 1024)
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", "7")
    s = get_spark(data_dir=str(tmp_path))
    assert s.conf.get("spark.sql.shuffle.partitions") == "7"
    s = get_spark(extra_conf={"spark.sql.shuffle.partitions": "5"})
    assert s.conf.get("spark.sql.shuffle.partitions") == "5"


def test_get_spark_data_dir_autosize_floors_at_session_cores(sizing,
                                                             tmp_path):
    """A small input directory leaves the count at the session's cores;
    a large one raises it by bytes."""
    (tmp_path / "t.parquet").write_bytes(b"x" * 1024)
    s = get_spark(data_dir=str(tmp_path))
    cores = s.sparkContext.defaultParallelism
    assert s.conf.get("spark.sql.shuffle.partitions") == str(cores)
    with open(tmp_path / "t.parquet", "r+b") as f:     # sparse
        f.truncate(cores * 6 * 1024 * 1024)
    s = get_spark(data_dir=str(tmp_path))
    assert s.conf.get("spark.sql.shuffle.partitions") == str(2 * cores)


def test_configure_session_warns_once_on_debugging(monkeypatch, caplog):
    """A session built elsewhere with DataFrame debugging on (a static
    conf configure_session cannot change) gets one warning per process,
    however many times it is configured."""
    from spork_spark import session

    class Conf(dict):
        def set(self, k, v):
            self[k] = v

    class Session:
        conf = Conf({session._DEBUGGING: "true"})

    monkeypatch.setattr(session, "_debugging_checked", False)
    with caplog.at_level("WARNING", logger="spork_spark.session"):
        session.configure_session(Session())
        session.configure_session(Session())
    hits = [r for r in caplog.records if session._DEBUGGING in r.getMessage()]
    assert len(hits) == 1
    assert Session.conf["spark.sql.ansi.enabled"] == "false"


def test_input_bytes_recurses_into_partitioned_tables(tmp_path):
    """A Hive-partitioned table (table/part=x/file) must be measured by
    its FILE bytes, not its directory inodes — otherwise autosizing
    reproduces the static-undersizing failure it exists to prevent
    (round-4 review finding)."""
    t = tmp_path / "events.parquet"
    for part in ("day=1", "day=2"):
        d = t / part
        d.mkdir(parents=True)
        (d / "part-0.parquet").write_bytes(b"x" * 10_000)
        (d / "_metadata").write_bytes(b"y" * 5_000)     # excluded
    (tmp_path / "_SUCCESS").write_bytes(b"")
    assert _input_bytes(str(tmp_path)) == 20_000


def test_session_drops_python_call_site_capture(spark):
    """PySpark's DataFrame debugging records the Python call site of
    every functions.*/Column call, several py4j round trips each; the
    engine session is built with it off (a static conf), and
    configure_session leaves it so. The codegen cache is built large
    enough to hold a warm pass."""
    from spork_spark.session import configure_session

    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(key) == "false"      # the get_spark() session
    assert configure_session(spark).conf.get(key) == "false"
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 2500


def test_warm_pigmix_pass_compiles_no_new_classes(eng):
    """The Janino class cache holds a whole pass of the benchmark's
    PigMix scripts: run at the golden-script scale, a second pass
    compiles next to nothing (the 100-entry default recompiles ~100
    classes on every pass)."""
    from perfbench.workloads import PigBatch
    from tests.test_golden_scripts import GOLDEN_DIR, run_golden

    metrics = eng.spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = metrics.METRIC_COMPILATION_TIME().getCount
    scripts = [GOLDEN_DIR / f"{s}.pig" for s in PigBatch.SCRIPTS]
    for s in scripts:
        run_golden(eng, s)
    before = compiled()
    for s in scripts:
        run_golden(eng, s)
    assert compiled() - before <= 5
