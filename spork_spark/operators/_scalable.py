"""Two-pass exclusive prefix sum — the engine's one implementation of
the POCounter/PORank rank design (reference analog
pig:src/org/apache/pig/backend/hadoop/executionengine/physicalLayer/
relationalOperators/POCounter.java + PORank.java). Every ordered
cumulative in the engine runs through it: bare RANK's row numbers and
RANK BY's rank/dense offsets (compiler/plan.py), sorted-neighborhood
positions (operators/dedup.py), the fenced cumulative sums of
abc_classes, equifreq_bins and rfm_segments, and shard_plan's token
prefix (operators/layout.py).

Pass 1 collects ONE row per partition of a frame whose partitions are
already in global order (the per-partition sums — bounded driver
traffic at any data size); pass 2 adds each partition's exclusive
offset to a per-partition running sum. No single-task global window,
no billion-row broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Above this many rows, ordered-cumulative operators switch from the
#: single-task global window + broadcast map to the range-partitioned
#: two-pass prefix sum. 100k rows is comfortably inside one window
#: task AND one broadcast; overridable per-session for tests and
#: tuning via ``spark.spork.prefixSum.cardinalityFence``.
DEFAULT_CARDINALITY_FENCE = 100_000


def cardinality_fence(spark) -> int:
    try:
        return int(spark.conf.get("spark.spork.prefixSum.cardinalityFence",
                                  str(DEFAULT_CARDINALITY_FENCE)))
    except Exception:
        return DEFAULT_CARDINALITY_FENCE


def prefix_sums(staged: DataFrame, within: list, sums: dict
                ) -> "tuple[DataFrame, int]":
    """For each ``name -> value Column`` in ``sums``, add ``name`` = the
    sum of that value over all rows STRICTLY before the current row
    (exclusive prefix; the first row gets 0), where rows run in
    partition order, then ``within`` order inside a partition.

    ``staged`` must hold its partitions in global order with the
    partition id pinned in ``__pid`` (spark_partition_id over an eager
    localCheckpoint — recompute does not guarantee identical ids, and a
    recomputed range exchange can re-sample different bounds). Driver
    traffic is one row per partition at any data size; offsets travel
    back as a broadcast-joinable DataFrame keyed on ``__pid``, never a
    create_map literal (O(1) expression tree at ~1e5 partitions).
    Returns (frame without ``__pid``, n_partitions).
    """
    offs_names = [f"__off{i}" for i in range(len(sums))]
    values = list(sums.values())
    rows = staged.groupBy("__pid").agg(
        *[F.sum(v).alias(o) for v, o in zip(values, offs_names)]).collect()
    offs, acc = [], [0] * len(values)
    for r in sorted(rows, key=lambda r: r["__pid"]):
        offs.append((r["__pid"], *acc))
        acc = [a + (r[o] or 0) for a, o in zip(acc, offs_names)]
    schema = "__pid int, " + ", ".join(f"{o} long" for o in offs_names)
    offdf = staged.sparkSession.createDataFrame(
        offs or [(0,) + (0,) * len(values)], schema)
    w = (Window.partitionBy("__pid").orderBy(*within)
               .rowsBetween(Window.unboundedPreceding, -1))
    out = staged.join(F.broadcast(offdf), on="__pid", how="left")
    out = out.withColumns({
        name: (F.coalesce(F.sum(v).over(w), F.lit(0))
               + F.coalesce(F.col(o), F.lit(0))).cast("long")
        for (name, v), o in zip(sums.items(), offs_names)})
    return out.drop("__pid", *offs_names), len(rows)


def exclusive_prefix_sum(df: DataFrame, order: list, sums: dict,
                         n_rows: int | None = None
                         ) -> "tuple[DataFrame, int]":
    """Add, for each ``name -> value Column`` in ``sums``, ``name`` =
    the sum of that value over all rows STRICTLY before the current row
    in ``order`` (exclusive prefix; first row gets 0). ``order`` must
    be a total order (include a tiebreak column) or the prefix is
    nondeterministic at partition boundaries.

    The cardinality fence: a caller that already knows its row count
    passes it as ``n_rows``; at or below cardinality_fence() the sums
    come from one global window (one task over a small table).
    Otherwise — or when the count is unknown — one range sort on
    ``order``, pinned by an eager localCheckpoint, feeds prefix_sums.
    Returns (frame, n_partitions); the global window counts as one
    partition.
    """
    if n_rows is not None and n_rows <= cardinality_fence(df.sparkSession):
        w = (Window.orderBy(*order)
                   .rowsBetween(Window.unboundedPreceding, -1))
        return df.withColumns({
            name: F.coalesce(F.sum(v).over(w), F.lit(0))
            for name, v in sums.items()}), 1
    staged = (df.orderBy(*order)
                .withColumn("__pid", F.spark_partition_id())
                .localCheckpoint(eager=True))
    return prefix_sums(staged, order, sums)
