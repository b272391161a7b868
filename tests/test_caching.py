"""Cache-lifecycle tests: engine-managed persists must be releasable
(no CacheManager pinning in a long-lived driver — the leak class
tools/soak.py guards), and RANK staging must not create CacheManager
entries at all (it localCheckpoints, which frees via GC)."""

from spork_spark import Engine, col, lit
from spork_spark.caching import release_cached, tracked_count

SF = "/root/testdata/sf0.001"


def cache_manager_empty(spark) -> bool:
    # CacheManager entries (Dataset.persist) — the strongly-held class
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_split_persist_is_tracked_and_releasable(spark):
    eng = Engine(spark)
    release_cached(spark)
    spark.catalog.clearCache()
    orders = eng.load(f"{SF}/orders.parquet", alias="orders")
    # split off a derived parent — raw Load nodes are deliberately not
    # persisted (re-scanning parquet beats caching the scan)
    open_orders = orders.filter(col("o_orderstatus") == lit("O"))
    hi, lo = open_orders.split(col("o_totalprice") > lit(100000.0),
                               col("o_totalprice") <= lit(100000.0))
    n_hi, n_lo = hi.df().count(), lo.df().count()
    assert n_hi > 0 and n_lo > 0
    # the shared parent was persisted on the engine's behalf and tracked
    assert tracked_count(spark) >= 1
    assert not cache_manager_empty(spark)
    released = eng.release_cache()
    assert released >= 1
    assert tracked_count(spark) == 0
    assert cache_manager_empty(spark)
    # consumers still recompute correctly after release
    assert hi.df().count() == n_hi


def test_rank_by_leaves_no_cachemanager_entry(spark):
    eng = Engine(spark)
    release_cached(spark)
    spark.catalog.clearCache()
    orders = eng.load(f"{SF}/orders.parquet", alias="orders")
    r = orders.rank((col("o_totalprice"), False))
    out = r.df()
    assert out.count() > 0
    # RANK stages via localCheckpoint (RDD-level, GC-freed), never via
    # Dataset.persist — the CacheManager must stay empty
    assert cache_manager_empty(spark)
    # sorted_neighborhood_pairs stages through the same prefix-sum kernel
    from spork_spark.operators import sorted_neighborhood_pairs
    pairs = sorted_neighborhood_pairs(orders.df(), "o_orderkey",
                                      "o_totalprice")
    assert pairs.count() > 0
    assert cache_manager_empty(spark)


def test_bare_rank_row_number_no_cachemanager_entry(spark):
    eng = Engine(spark)
    release_cached(spark)
    spark.catalog.clearCache()
    nation = eng.load(f"{SF}/nation.parquet", alias="nation")
    out = nation.rank().df()
    rows = out.count()
    assert rows == 25
    assert cache_manager_empty(spark)
    # ranks are a permutation of 1..n
    vals = sorted(x[0] for x in out.select(out.columns[0]).collect())
    assert vals == list(range(1, rows + 1))
