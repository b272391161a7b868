"""Distribution statistics for corpus QA: chi-squared association between
two categorical columns, and fixed-range histograms — the "is my mixture
drifting / are these strata independent" checks a 100 TB ingest runs per
batch (extension beyond the reference surface; SURVEY.md §2.11 family,
next to profile_columns and group_outliers).

Both are EXACT-integer formulations so the oracle reproduces them
bit-for-bit: chi2 multiplies the textbook (O-E)^2/E out to a ratio of
integers before a single scaled integer division; the histogram buckets
cent-quantized values with integer division against an integer width.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def chi2_contingency(df: DataFrame, col_a: str, col_b: str,
                     scale: int = 10 ** 6) -> DataFrame:
    """Per-cell chi-squared contribution for the (col_a, col_b)
    contingency table, in exact integer arithmetic.

    The textbook cell term (n_ab - E)^2 / E with E = n_a*n_b/N
    multiplies out to  (N*n_ab - n_a*n_b)^2 / (N * n_a * n_b)  — a
    ratio of exact integers; ``contrib_e6`` is that ratio scaled by
    ``scale`` under integer division (decimal(38,0) guards the square),
    so SUM(contrib_e6)/scale approximates the chi2 statistic with
    deterministic, engine-portable truncation per cell. Zero cells of
    the observed-margin cross product are included (they contribute
    n_a*n_b^2... term with n_ab=0), as the statistic requires.

    Shape: two margin groupBys + one cell groupBy over the data (each
    map-side combined), then a margins-only cross join (|A| x |B| rows
    — category-count sized, NOT data sized) left-joined to the cells.
    Null categories are excluded (a null level is a data-quality issue
    to fix upstream, not a category).
    """
    d = df.where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull()) \
          .select(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
    cells = d.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_ab"))
    ma = d.groupBy("a").agg(F.count(F.lit(1)).alias("n_a"))
    mb = d.groupBy("b").agg(F.count(F.lit(1)).alias("n_b"))
    n = d.groupBy().agg(F.count(F.lit(1)).alias("n_total"))

    def d38(c):
        return c.cast("decimal(38,0)")

    grid = (ma.crossJoin(mb).crossJoin(F.broadcast(n))
              .join(cells, on=["a", "b"], how="left")
              .withColumn("n_ab", F.coalesce(F.col("n_ab"), F.lit(0))
                          .cast("long")))
    num = (d38(F.col("n_total")) * d38(F.col("n_ab"))
           - d38(F.col("n_a")) * d38(F.col("n_b")))
    den = d38(F.col("n_total")) * d38(F.col("n_a")) * d38(F.col("n_b"))
    # integral `div` keeps the scaled ratio in exact integers end-to-end
    # (decimal/decimal true division would round at engine-specific
    # result scales); both operands are non-negative, so div == floor
    # on both engines and the result fits a long (<= scale * N).
    return (grid.withColumn("__num2",
                            (num * num
                             * F.lit(scale).cast("decimal(38,0)"))
                            .cast("decimal(38,0)"))
                .withColumn("__den", den)
                .withColumn("contrib_e6",
                            F.expr("__num2 div __den").cast("long"))
            .select(F.col("a").alias(col_a), F.col("b").alias(col_b),
                    "n_ab", "n_a", "n_b", "contrib_e6"))


def equifreq_bins(df: DataFrame, value_col: str, n_bins: int = 10,
                  scale: int = 100) -> DataFrame:
    """Equal-frequency (quantile) feature bins as a FUNCTION OF VALUE.

    ntile() splits tied values across bins by row order — fine for a
    chart, wrong for ML feature binning, where the value→bin map must
    be deterministic so train- and serve-time encode identically. This
    instead bins each DISTINCT cent-quantized value by its cumulative
    count: bin(v) = (rows_below_v * n_bins) div total — every
    occurrence of a value lands in one bin, boundaries sit as close to
    equal frequency as ties permit, and the arithmetic is exact
    integers both engines truncate identically.

    Shape: ONE map-side-combined groupBy over the data (the only pass
    that sees every row), then a cumulative sum over the DISTINCT
    values only, through the engine's prefix-sum kernel
    (_scalable.exclusive_prefix_sum) with the distinct count as its
    cardinality fence (spark.spork.prefixSum.cardinalityFence, default
    100k) — the same fence abc_classes and rfm_segments pass.
    Cent-quantized scores have bounded cardinality (~10⁴ for a [0,100]
    metric) and stay on the cheap single-window path; an UNBOUNDED
    value column (prices, latencies — 10⁸+ distinct cent values at
    100 TB) crosses the fence and takes the range-partitioned two-pass
    path, so no single task ever holds the full distinct-value set. Output is (bin, lo_cents, hi_cents,
    n_values, cnt) — n_bins rows (fewer when a heavy tie swallows
    neighbours).
    """
    from spork_spark.operators._scalable import exclusive_prefix_sum
    v = F.floor(F.col(value_col).cast("double") * scale + 0.5) \
         .cast("long")
    dist = (df.where(F.col(value_col).isNotNull())
              .groupBy(v.alias("v")).agg(F.count(F.lit(1)).alias("c")))
    total = dist.groupBy().agg(F.sum("c").alias("__tot"))
    # Persist around the fence count so choosing the path costs one
    # cached pass of the distinct-value table, not a recomputation of
    # the data-sized groupBy (the abc_classes discipline; the
    # above-fence branch localCheckpoints off the cache inside
    # exclusive_prefix_sum, leaving no blocks pinned after return).
    dist = dist.persist()
    try:
        cum, _ = exclusive_prefix_sum(dist, [F.col("v")], {"cum": F.col("c")},
                                      n_rows=dist.count())
    finally:
        dist.unpersist()
    binned = (cum.crossJoin(F.broadcast(total))
                 .withColumn("bin", F.expr(
                     f"(cum * {n_bins}) div __tot").cast("long")))
    return (binned.groupBy("bin")
                  .agg(F.min("v").alias("lo_cents"),
                       F.max("v").alias("hi_cents"),
                       F.count(F.lit(1)).alias("n_values"),
                       F.sum("c").alias("cnt"))
                  .select("bin", "lo_cents", "hi_cents", "n_values",
                          "cnt"))


def histogram(df: DataFrame, group_col: str, value_col: str,
              lo: int = 0, hi: int = 100, n_buckets: int = 20,
              scale: int = 100) -> DataFrame:
    """Fixed-range equi-width histogram of ``value_col`` per group, in
    exact integer arithmetic: values quantize to v = floor(x*scale+0.5)
    and bucket = clamp((v - lo*scale) div w, 0, n-1) with integer width
    w = (hi-lo)*scale/n_buckets (must divide evenly — raises otherwise).
    Out-of-range values clamp into the edge buckets, so counts always
    total the row count. One map-side-combined groupBy; output is
    (group, bucket, bucket_lo, bucket_hi, cnt) — bucket-count sized.
    """
    span_c = (hi - lo) * scale
    if span_c % n_buckets:
        raise ValueError(f"(hi-lo)*scale={span_c} not divisible by "
                         f"n_buckets={n_buckets}")
    w = span_c // n_buckets
    v = F.floor(F.col(value_col).cast("double") * scale + 0.5) \
         .cast("long")
    # floor((v - lo)/w) is exact in double arithmetic whenever the true
    # ratio is integral (integers <= 2^53 are representable), so the
    # bucket boundary never drifts between engines; negatives floor to
    # -1 and clamp up to the edge bucket.
    bucket = F.least(F.greatest(
        F.floor((v - F.lit(lo * scale)) / F.lit(w)), F.lit(0)),
        F.lit(n_buckets - 1)).cast("long")
    return (df.where(F.col(value_col).isNotNull())
              .groupBy(F.col(group_col), bucket.alias("bucket"))
              .agg(F.count(F.lit(1)).alias("cnt"))
              .withColumn("bucket_lo",
                          (F.lit(lo) + F.col("bucket")
                           * F.lit(w / scale)).cast("double"))
              .withColumn("bucket_hi",
                          (F.lit(lo) + (F.col("bucket") + 1)
                           * F.lit(w / scale)).cast("double"))
              .select(group_col, "bucket", "bucket_lo", "bucket_hi",
                      "cnt"))


def group_mode(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Most frequent value per group with a DETERMINISTIC tiebreak (the
    smallest value among the tied counts) — the MODE aggregate neither
    Pig nor Spark ships, done in two map-side-combined groupBys and a
    window-free argmax.

    (group, value) counts reduce first; the per-group winner is then
    MAX(struct(cnt, rk)) where rk orders ties toward the SMALLEST value
    — for longs via bitwise negation (~v is order-reversing and
    lossless), for other types via a dense rank substitute: the struct
    carries (cnt, neg_marker, value)… implementation detail: longs get
    the exact ~v trick; other orderable types fall back to MIN(value)
    among rows that tie the max count (one extra bounded join).
    Output: (group, mode, cnt). Null values are excluded (a null mode
    is a data-quality signal, not a mode).
    """
    counts = (df.where(F.col(value_col).isNotNull())
                .groupBy(F.col(group_col).alias("__g"),
                         F.col(value_col).alias("__v"))
                .agg(F.count(F.lit(1)).alias("__c")))
    vt = dict(counts.dtypes)["__v"]
    if vt in ("bigint", "int", "smallint", "tinyint"):
        # ~v reverses order losslessly: max(struct(c, ~v)) == argmax by
        # (count, smallest value)
        best = (counts.groupBy("__g")
                      .agg(F.max(F.struct(
                          F.col("__c"),
                          F.bitwise_not(F.col("__v").cast("long"))
                           .alias("__nv"))).alias("__b"))
                      .select(F.col("__g").alias(group_col),
                              F.bitwise_not(F.col("__b.__nv"))
                               .cast(vt).alias("mode"),
                              F.col("__b.__c").alias("cnt")))
        return best
    top = (counts.groupBy("__g").agg(F.max("__c").alias("cnt"))
                 .withColumnRenamed("__g", "__tg"))
    return (counts.join(top, (F.col("__g") == F.col("__tg"))
                        & (F.col("__c") == F.col("cnt")))
                  .groupBy(F.col("__g").alias(group_col), F.col("cnt"))
                  .agg(F.min("__v").alias("mode"))
                  .select(group_col, "mode", "cnt"))


def group_mad(df: DataFrame, group_col: str, value_col: str,
              scale: int = 100) -> DataFrame:
    """Median and median-absolute-deviation per group — the robust
    location/scale pair (outlier detection that, unlike mean/stddev,
    a few extreme values cannot drag).

    Exact WITHOUT rounding: values cent-quantize to longs, and the
    linearly-interpolated median of integers is an exact binary double
    (a half at worst), as is the MAD of the resulting half-integral
    absolute deviations (a quarter at worst) — both engines compute
    the identical bits, no round() hedge needed.

    Two aggregation passes (medians are holistic — one pass cannot
    produce them): per-group median, broadcast back, median of
    absolute deviations. Spark's percentile aggregate sorts within
    each group — the per-group memory bound of every exact median;
    use sketch_quantiles for the approximate one-pass path at extreme
    group sizes. Output: (group, n, median_cents, mad_cents).
    """
    cents = F.floor(F.col(value_col).cast("double") * scale + 0.5) \
             .cast("long")
    base = (df.where(F.col(value_col).isNotNull())
              .select(F.col(group_col).alias("__g"),
                      cents.alias("__v")))
    med = base.groupBy("__g").agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile(F.col("__v"), F.lit(0.5)).alias("median_cents"))
    dev = (base.join(F.broadcast(med), on="__g")
               .withColumn("__d", F.abs(F.col("__v")
                                        - F.col("median_cents"))))
    return (dev.groupBy(F.col("__g").alias(group_col))
               .agg(F.first("n").alias("n"),
                    F.first("median_cents").alias("median_cents"),
                    F.percentile(F.col("__d"), F.lit(0.5))
                     .alias("mad_cents")))


def group_gini(df: DataFrame, group_col: str, value_col: str,
               scale: int = 100, out_scale: int = 10 ** 6) -> DataFrame:
    """Gini coefficient of ``value_col`` per group — the concentration /
    inequality audit (is 1% of sources contributing 90% of the tokens?
    is revenue concentration drifting?), in exact integer arithmetic.

    For the group's values sorted ascending (ties broken by value —
    rank assignment within equal values cancels out of the formula):

        G = (2·Σ i·y_(i) − (n+1)·Σ y) / (n·Σ y)

    Every term is an exact decimal(38,0) integer over cent-quantized
    non-negative values; ``gini_e6`` is the scaled sign-free integer
    division (numerator ≥ 0 for non-negative data). Negative values are
    rejected (Gini is undefined there). Output: (group, n, sum_cents,
    gini_e6); single-value or all-zero groups return null.

    Shape: ONE keyed window (row_number over the group's sort — the
    exact-rank pass every exact Gini needs) + ONE map-side-combined
    aggregation. Rank ties on equal values are broken arbitrarily by
    the engine, but Σ i·y_(i) over a tie block is invariant to the
    order within it (same y), so the result is deterministic anyway.
    """
    cents = F.floor(F.col(value_col).cast("double") * scale + 0.5) \
             .cast("long")
    base = (df.where(F.col(value_col).isNotNull())
              .select(F.col(group_col).alias("__g"),
                      cents.alias("__y")))
    if base.where(F.col("__y") < 0).head(1):
        raise ValueError("group_gini requires non-negative values")
    w = Window.partitionBy("__g").orderBy("__y")
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    ranked = base.withColumn("__i", F.row_number().over(w))
    sums = ranked.groupBy("__g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d38(F.col("__y"))).alias("__sy"),
        F.sum(d38(F.col("__i")) * d38(F.col("__y"))).alias("__siy"))
    num = (F.lit(2).cast("decimal(38,0)") * F.col("__siy")
           - (d38(F.col("n")) + 1) * F.col("__sy")).cast("decimal(38,0)")
    den = (d38(F.col("n")) * F.col("__sy")).cast("decimal(38,0)")
    return (sums.withColumn("__num", num).withColumn("__den", den)
                .select(F.col("__g").alias(group_col), "n",
                        F.col("__sy").cast("long").alias("sum_cents"),
                        F.when((F.col("n") <= 1) | (F.col("__den") == 0),
                               F.lit(None).cast("long"))
                         .otherwise(F.expr(
                             f"(__num * {out_scale}) div __den")
                             .cast("long"))
                         .alias("gini_e6")))


def abc_classes(df: DataFrame, key_col: str, value_col: str,
                a_ppm: int = 800000, b_ppm: int = 950000,
                scale: int = 100) -> DataFrame:
    """ABC / Pareto-class assignment: keys sorted by total value
    descending; class A = keys covering the first ``a_ppm`` (default
    80%) of cumulative value, B through ``b_ppm`` (95%), C the tail —
    the inventory/priority triage (which suppliers, parts, or corpus
    sources carry the value) next to group_gini's scalar answer.

    Exact integers: per-key cent totals, an EXCLUSIVE-prefix cumulative
    sum over the keys ordered by (total desc, key asc) — the key
    tiebreak makes the boundary deterministic — and class thresholds
    compared as cum_before·10⁶ < ppm·grand_total in pure integer
    arithmetic (no division at all). A key straddling a boundary counts
    toward the class its FIRST cent falls in (the exclusive prefix).

    Shape: ONE map-side-combined groupBy over the data; the cumulative
    sum runs over KEY-cardinality rows through the engine's prefix-sum
    kernel (_scalable.exclusive_prefix_sum — the POCounter/PORank
    design), with the counted key cardinality as its fence
    (spark.spork.prefixSum.cardinalityFence, default 100k): below it,
    one global window task over the small key table; above it
    (billions of keys), the range-partitioned two-pass path on the same
    (total desc, key) sort, so no single task ever sees the full key
    set. Output: (key, total_cents, cum_before_cents, abc_class).
    """
    from spork_spark.operators._scalable import exclusive_prefix_sum
    cents = F.floor(F.col(value_col).cast("double") * scale + 0.5) \
             .cast("long")
    totals = (df.where(F.col(value_col).isNotNull()
                       & F.col(key_col).isNotNull())
                .groupBy(F.col(key_col).alias("__k"))
                .agg(F.sum(cents).alias("total_cents")))
    order = [F.col("total_cents").desc(), F.col("__k")]
    grand = totals.groupBy().agg(F.sum("total_cents").alias("__g"))
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    # Persist around the fence count so choosing the path costs one
    # cached pass, not an extra recomputation of the event groupBy; the
    # above-fence branch localCheckpoints off the cache inside
    # exclusive_prefix_sum, so nothing stays pinned after return (the
    # funnel discipline — zero cached blocks left behind).
    totals = totals.persist()
    try:
        cum, _ = exclusive_prefix_sum(
            totals, order, {"cum_before_cents": F.col("total_cents")},
            n_rows=totals.count())
    finally:
        totals.unpersist()
    ranked = cum.crossJoin(F.broadcast(grand))
    cmp_a = d38(F.col("cum_before_cents")) * 1000000 \
        < d38(F.col("__g")) * a_ppm
    cmp_b = d38(F.col("cum_before_cents")) * 1000000 \
        < d38(F.col("__g")) * b_ppm
    return (ranked.withColumn("abc_class",
                              F.when(cmp_a, "A").when(cmp_b, "B")
                               .otherwise("C"))
                  .select(F.col("__k").alias(key_col), "total_cents",
                          "cum_before_cents", "abc_class"))
