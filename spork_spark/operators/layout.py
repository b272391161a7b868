"""Data-layout operators: Z-order (Morton) clustering for multi-column
data skipping.

At 100 TB the cheapest query is the one that never reads the file:
parquet row-group min/max stats prune scans, but only if the data is
clustered on the filter columns. A plain sort clusters ONE column;
Z-ordering interleaves the bits of several columns so that every
filtered column keeps locality, which is why lakehouse table formats
(Delta OPTIMIZE ZORDER BY, Iceberg sort orders) use it for layout
maintenance.

Spark-first: the z-key is pure integer Column arithmetic (shift/and/or
— whole-stage codegen), the per-column min/max normalization stays in
the plan as a 1-row broadcast (no driver collect), and the rewrite is
repartitionByRange(z) + sortWithinPartitions(z) — the exact shuffle a
global sort pays, buying bounded z-ranges (and so bounded min/max
boxes) per output file.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def zorder_key(df: DataFrame, cols: list[str], bits: int = 8,
               out_col: str = "__z") -> DataFrame:
    """Append a Morton (Z-order) key interleaving `bits` bits of each
    column in `cols` (numeric; nulls sort first as scaled value 0).

    Columns are min-max scaled to [0, 2^bits) with a 1-row stats
    subquery broadcast into the plan — integer floor arithmetic, so
    the key is deterministic and SQL-reproducible. Total key width
    bits*len(cols) must fit a signed 64-bit long.
    """
    if not cols:
        raise ValueError("zorder_key needs at least one column")
    if bits * len(cols) > 62:
        raise ValueError("bits * len(cols) must be <= 62")
    m = (1 << bits) - 1
    aggs = []
    for c in cols:
        aggs += [F.min(F.col(c)).alias(f"__mn_{c}"),
                 F.max(F.col(c)).alias(f"__mx_{c}")]
    stats = df.groupBy().agg(*aggs)
    j = df.crossJoin(F.broadcast(stats))
    scaled = {}
    for c in cols:
        lo, hi = F.col(f"__mn_{c}"), F.col(f"__mx_{c}")
        span = (hi - lo).cast("long")
        x = (F.coalesce(F.col(c), lo) - lo).cast("long")
        # Scale in DOUBLE: a long x*m wraps int64 once span exceeds
        # ~2^55 (snowflake-style 64-bit IDs) and silently corrupts the
        # Morton key; double floor matches the oracle's `* m.0 /` and
        # stays monotonic across the full 64-bit range.
        scaled[c] = F.when(
            span > 0,
            F.floor(x.cast("double") * m / span.cast("double"))
             .cast("long")) \
             .otherwise(F.lit(0))
    parts = []
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(scaled[c], b).bitwiseAND(F.lit(1))
            parts.append(F.shiftleft(bit, b * len(cols) + i))
    z = reduce(lambda a, x: a.bitwiseOR(x), parts)
    return j.withColumn(out_col, z.cast("long")) \
            .drop(*[f"__mn_{c}" for c in cols]) \
            .drop(*[f"__mx_{c}" for c in cols])


def zorder_by(df: DataFrame, cols: list[str], bits: int = 8,
              num_partitions: int | None = None) -> DataFrame:
    """Rewrite df into Z-order: range-partition + sort on the Morton
    key, then drop it. Write the result with STORE and every output
    file covers a bounded z-range — bounded min/max boxes on ALL of
    `cols`, so filters on any of them prune files. Same single shuffle
    a global sort costs."""
    keyed = zorder_key(df, cols, bits=bits)
    if num_partitions:
        keyed = keyed.repartitionByRange(num_partitions, F.col("__z"))
    else:
        keyed = keyed.repartitionByRange(F.col("__z"))
    return keyed.sortWithinPartitions("__z").drop("__z")


def compaction_plan(inventory: DataFrame, size_col: str,
                    target_bytes: int,
                    order_cols: list[str] | None = None,
                    out_col: str = "compaction_group") -> DataFrame:
    """Group small files into target-size compaction jobs (the OPTIMIZE /
    bin-packing step every lakehouse table needs: a streaming sink or
    per-partition writer leaves thousands of KB-scale files whose
    per-file open/footer cost dominates scans at 100 TB).

    `inventory` is a FILE inventory — one row per file (path, size,
    min/max key, ...), i.e. metadata at ~1e5–1e6 rows even for a 100 TB
    table, NOT data. That is why the single global window below is the
    right call: every real compactor (Delta OPTIMIZE, Iceberg
    rewrite_data_files) plans over the file listing centrally; the
    DATA movement happens later, one distributed job per group.

    Deterministic next-fit by running total: files are laid out in
    `order_cols` order (sort-key order keeps key-adjacent files in one
    group, preserving clustering through compaction) and file i joins
    group `floor(exclusive_prefix_sum(size) / target_bytes)`. Exact
    integer arithmetic — an oracle replays it with one window function.
    Files at or above `target_bytes` occupy their prefix range alone and
    never merge with a neighbor that would not also fit.
    """
    if target_bytes <= 0:
        raise ValueError("target_bytes must be positive")
    order_cols = order_cols or [size_col]
    w = (Window.orderBy(*[F.col(c) for c in order_cols])
               .rowsBetween(Window.unboundedPreceding, -1))
    prefix = F.coalesce(F.sum(F.col(size_col).cast("long")).over(w),
                        F.lit(0).cast("long"))
    return (inventory
            .withColumn(out_col,
                        F.floor(prefix / F.lit(target_bytes))
                         .cast("long")))


def shard_plan(df: DataFrame, id_col: str, count_col: str,
               tokens_per_shard: int, seed: int = 42,
               out_col: str = "shard_id") -> DataFrame:
    """Deterministic training-export shard assignment: rows are laid
    out in a reproducible pseudo-random order — md5("{seed}:{id}"),
    the engine-portable shuffle — and cut into shards of
    ``tokens_per_shard`` by exact next-fit (floor of the exclusive
    running ``count_col`` total over the budget): compaction_plan's
    layout rule applied to the webdataset/TFRecord export step every
    training run starts with.

    Why a HASH order and not sample()/rand(): the shuffle must be
    replayable (resume a failed export, regenerate one lost shard,
    audit which shard holds a document) and identical on any engine;
    md5 of the key gives all three, and changing ``seed`` is a fresh
    epoch permutation.

    Scale shape: goes STRAIGHT to the range-partitioned two-pass
    exclusive prefix sum (operators/_scalable.py) — no cardinality
    fence, because the input is the corpus itself, so the single-task
    global-window path is never safe here. One range shuffle on the
    shuffle key plus one row-per-partition driver collect at any data
    size; shard ids then come from pure Column arithmetic. Downstream,
    each shard is written by an independent job (partitionBy on
    ``out_col``), so a lost shard regenerates alone.

    Next-fit semantics (identical to compaction_plan): a document is
    never split (sequence packing is pack_sequences' job), shards can
    exceed the budget by at most one document's tail, and a document
    at or above the budget occupies its shard range alone. A
    consequence of the floor-based cut: a document whose token mass
    spans multiple budget multiples CONSUMES the intermediate shard
    ids without emitting them, so shard ids may have gaps — manifest
    readers and partitionBy writers must not assume dense ids.
    """
    if tokens_per_shard <= 0:
        raise ValueError("tokens_per_shard must be positive")
    out = _ordered_token_prefix(df, id_col, count_col, seed)
    return (out.withColumn(out_col,
                           F.floor(F.col("__pre")
                                   / F.lit(tokens_per_shard))
                            .cast("long"))
               .drop("__k", "__n", "__pre"))


def _ordered_token_prefix(df: DataFrame, id_col: str, count_col: str,
                          seed: int) -> DataFrame:
    """Exclusive running token total in md5(seed:id) shuffle order —
    shard_plan's core, shared with the incremental append path."""
    from ._scalable import exclusive_prefix_sum
    staged = (df.withColumn("__k", F.md5(F.concat(
                  F.lit(f"{seed}:"), F.col(id_col).cast("string"))))
                .withColumn("__n", F.col(count_col).cast("long")))
    out, _ = exclusive_prefix_sum(staged, ["__k", id_col],
                                  {"__pre": F.col("__n")})
    return out


def shard_plan_incremental(batch: DataFrame, manifest: DataFrame,
                           id_col: str, count_col: str,
                           tokens_per_shard: int, seed: int = 42,
                           out_col: str = "shard_id") -> DataFrame:
    """Append-only extension of shard_plan: assign a NEW batch of
    documents to shards without touching anything already exported —
    the dedup_incremental contract (new-vs-history, history never
    recomputed) applied to the export step.

    The running token total CONTINUES from the shipped manifest
    (base = Σ manifest.n_tokens), so shipped shards are immutable by
    construction and the last, possibly part-filled shard tops up
    first — next-fit, continued. The batch orders by the same
    md5(seed:id) key, so re-running the same batch replays the
    identical assignment.

    Deliberately NOT equal to re-running shard_plan on the union: a
    full re-plan interleaves old and new ids in one global order,
    i.e. reshuffles shards that already shipped. It IS exactly
    shard_plan over the old-then-batch concatenated order (pinned by
    test), and degrades to plain shard_plan on an empty manifest.

    Scale: the batch pays one range shuffle + a row-per-partition
    collect (∝ batch size); history costs ONE manifest aggregate
    broadcast as a single row — shard-count-sized, never
    corpus-sized.
    """
    if tokens_per_shard <= 0:
        raise ValueError("tokens_per_shard must be positive")
    base = manifest.agg(
        F.coalesce(F.sum(F.col("n_tokens").cast("long")), F.lit(0))
         .cast("long").alias("__base"))
    out = (_ordered_token_prefix(batch, id_col, count_col, seed)
           .crossJoin(F.broadcast(base)))
    return (out.withColumn(out_col,
                           F.floor((F.col("__pre") + F.col("__base"))
                                   / F.lit(tokens_per_shard))
                            .cast("long"))
               .drop("__k", "__n", "__pre", "__base"))
