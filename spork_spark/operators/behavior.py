"""Behavioral / temporal analytics over event logs: ordered-funnel
conversion and SCD2 history construction. Both are single-key-shuffle
designs that hold at 100 TB event volumes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def funnel(df: DataFrame, user_col: str, ts_col: str, type_col: str,
           steps: list[str]) -> DataFrame:
    """Ordered funnel: how many users completed step k strictly AFTER
    completing step k-1 (classic conversion funnel; each user counts at
    the deepest prefix they reached, timestamps must strictly increase
    step-over-step).

    Shape: ONE aggregation per step over only that step's events
    (filter pushed to the scan), chained through per-user first-
    completion times. Every stage shuffles at most one row per
    qualifying user, and the event table itself is scanned once per
    step with a pushed type filter — there is no per-user sort and no
    Python. Conversion tables are tiny (one row per user), so at scale
    the step joins are AQE-broadcastable; the big table never holds
    state.

    Output: step_idx (1-based), step, n_users — n_users monotonically
    non-increasing down the funnel.
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    reached = None       # per-user first completion time of current step
    prev = None          # previous level's persisted table
    counts: list[tuple[int, str, int]] = []
    for i, step in enumerate(steps):
        ev = df.where(F.col(type_col) == F.lit(step)) \
               .select(F.col(user_col).alias("__u"),
                       F.col(ts_col).alias("__ts"))
        if reached is None:
            reached = ev.groupBy("__u").agg(F.min("__ts").alias("__t"))
        else:
            reached = (ev.join(reached, on="__u")
                         .where(F.col("__ts") > F.col("__t"))
                         .groupBy("__u")
                         .agg(F.min("__ts").alias("__t")))
        # each per-user table feeds BOTH its own count and the next
        # step's join; persist so the chain is computed once (tables
        # are one row per qualifying user — small — and spill-safe).
        # The count action below materializes THIS level's cache, after
        # which the previous level has no remaining consumer and is
        # unpersisted immediately — a long-lived session running many
        # funnels leaves zero cached blocks behind.
        reached = reached.persist()
        n = reached.count()      # == n_users (one row per user)
        if prev is not None:
            prev.unpersist()
        prev = reached
        counts.append((i + 1, step, n))
    prev.unpersist()
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("step_idx", T.IntegerType(), False),
        T.StructField("step", T.StringType(), False),
        T.StructField("n_users", T.LongType(), False)])
    return df.sparkSession.createDataFrame(counts, schema)


def cohort_retention(df: DataFrame, user_col: str,
                     ts_col: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity date
    (cohort), counted on each later activity date as a day offset.

    Shape: the event log first collapses to DISTINCT (user, day) —
    activity days, a tiny fraction of raw events and the only thing
    retention needs, so everything downstream is sized by active-days
    not events. First-day per user is one map-side-combined MIN; the
    join back is keyed on user (AQE-broadcastable when the user table
    fits); counts are plain count(*) because the (user, day) dedup
    already guarantees one row per user per cell.

    Output: cohort (date), day_offset (int, 0 = cohort day), n_users.
    """
    d = (df.select(F.col(user_col).alias("__u"),
                   F.to_date(F.col(ts_col)).alias("__d"))
           .dropDuplicates(["__u", "__d"]))
    first = d.groupBy("__u").agg(F.min("__d").alias("cohort"))
    return (d.join(first, on="__u")
             .groupBy(F.col("cohort"),
                      F.datediff(F.col("__d"), F.col("cohort"))
                       .alias("day_offset"))
             .agg(F.count(F.lit(1)).cast("long").alias("n_users")))


def sessionize(df: DataFrame, user_col: str, ts_col: str,
               gap_seconds: int = 1800,
               tiebreak_col: str | None = None) -> DataFrame:
    """Gap-based sessionization: assign each event a per-user session
    ordinal; a new session starts when the gap since the user's
    previous event exceeds ``gap_seconds``. The standard event-log
    primitive behind funnels/retention when fixed time buckets are too
    coarse.

    Shape: ONE keyed window (exchange on user) computes both the
    session-break flag (lag) and its running sum (the session ordinal)
    — the two window passes share the same partitioning and sort, so
    Spark plans a single exchange + a single sort. Gap arithmetic is
    integer microseconds (exact, SQL-reproducible); ties on (user, ts)
    break on ``tiebreak_col`` for a deterministic ordinal.

    Output: input columns + ``session_seq`` (1-based per user).
    100 TB posture: state is one row per event within the window sort —
    spillable; no Python; session count never materializes driver-side.
    """
    order = [F.col(ts_col)]
    if tiebreak_col:
        order.append(F.col(tiebreak_col))
    w = Window.partitionBy(user_col).orderBy(*order)
    us = F.expr(f"unix_micros(cast({ts_col} as timestamp))")
    prev = F.lag(us).over(w)
    new_s = F.when(prev.isNull()
                   | ((us - prev) > gap_seconds * 1_000_000), 1)              .otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn("session_seq",
                         F.sum(new_s).over(run).cast("long"))


def scd2_from_log(df: DataFrame, key_col: str, ts_col: str,
                  attr_cols: list[str]) -> DataFrame:
    """Build a type-2 slowly-changing-dimension history from a change
    log: one row per (key, run of identical attribute values), with
    valid_from = first ts of the run and valid_to = start of the next
    run (null while current). Consecutive rows with unchanged
    attributes collapse into one interval.

    Shape: one keyed window (single shuffle on the key) does change
    detection via lag(), a second pass closes intervals via lead() over
    the surviving change rows — both windows share the same
    partitioning, so Spark plans ONE exchange. No Python, no self-join.

    Ties on (key, ts) are broken by the attribute tuple to keep the
    history deterministic under concurrent same-timestamp changes.
    """
    if not attr_cols:
        raise ValueError("scd2_from_log needs at least one attribute")
    order = [F.col(ts_col)] + [F.col(a) for a in attr_cols]
    w = Window.partitionBy(key_col).orderBy(*order)
    changed = None
    for a in attr_cols:
        neq = ~(F.col(a).eqNullSafe(F.lag(F.col(a)).over(w)))
        changed = neq if changed is None else (changed | neq)
    first = F.lag(F.col(ts_col)).over(w).isNull()
    runs = (df.withColumn("__chg", first | changed)
              .where(F.col("__chg"))
              .select(F.col(key_col), *[F.col(a) for a in attr_cols],
                      F.col(ts_col).alias("valid_from")))
    w2 = Window.partitionBy(key_col).orderBy(
        F.col("valid_from"), *[F.col(a) for a in attr_cols])
    return runs.withColumn("valid_to",
                           F.lead(F.col("valid_from")).over(w2))


def transition_matrix(df: DataFrame, user_col: str, ts_col: str,
                      state_col: str,
                      tiebreak_col: str | None = None) -> DataFrame:
    """First-order Markov transition counts over per-user event
    sequences: for each observed (prev_state → state) step, the count
    and the row-normalized probability — the behavioral-model /
    next-event-prediction staple next to funnel and sessionize.

    Probability is carried as ``prob_e6`` = cnt * 1e6 div
    row_total(prev_state) — exact integer division, so the matrix is
    deterministic and SQL-reproducible (a double ratio would be, too,
    but the integer form survives any summation order).

    Shape: ONE keyed window (lag over user, ordered by ts with a
    deterministic tiebreak) + one map-combined groupBy on the pair +
    a broadcast join of the prev-state row totals. First events per
    user have no predecessor and are excluded (no NULL pseudo-state).
    """
    order = [F.col(ts_col)]
    if tiebreak_col:
        order.append(F.col(tiebreak_col))
    w = Window.partitionBy(user_col).orderBy(*order)
    steps = (df.withColumn("__prev", F.lag(state_col).over(w))
               .where(F.col("__prev").isNotNull())
               .groupBy(F.col("__prev").alias("from_state"),
                        F.col(state_col).alias("to_state"))
               .agg(F.count(F.lit(1)).alias("cnt")))
    totals = steps.groupBy("from_state") \
                  .agg(F.sum("cnt").alias("__tot"))
    return (steps.join(F.broadcast(totals), on="from_state")
                 .withColumn("prob_e6",
                             F.expr("cnt * 1000000 div __tot")
                             .cast("long"))
                 .select("from_state", "to_state", "cnt", "prob_e6"))


def growth_accounting(df: DataFrame, user_col: str = "user_id",
                      ts_col: str = "ts") -> DataFrame:
    """Daily growth accounting: active users, NEW users (first ever
    seen that day), returning users, and the cumulative unique count —
    the DAU/new/retained decomposition every product and corpus-growth
    dashboard starts from.

    Exact integers throughout: first-seen day per user is one
    map-side-combined MIN groupBy; daily actives one distinct-(user,
    day) count; new = actives whose first-seen equals the day; the
    cumulative uniques fold new over an unpartitioned window whose
    input is DAY-cardinality (the equifreq_bins argument: bounded rows
    at any data scale). Output: (day, n_active, n_new, n_returning,
    cum_users).
    """
    day = F.date_trunc("day", F.col(ts_col)).cast("date")
    base = (df.where(F.col(ts_col).isNotNull()
                     & F.col(user_col).isNotNull())
              .select(F.col(user_col).alias("__u"), day.alias("day"))
              .dropDuplicates(["__u", "day"]))
    first = base.groupBy("__u").agg(F.min("day").alias("__d0"))
    daily = (base.join(first, on="__u")
                 .groupBy("day")
                 .agg(F.count(F.lit(1)).alias("n_active"),
                      F.sum(F.when(F.col("__d0") == F.col("day"), 1)
                             .otherwise(0)).cast("long").alias("n_new")))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (daily.withColumn("n_returning",
                             F.col("n_active") - F.col("n_new"))
                 .withColumn("cum_users", F.sum("n_new").over(w))
                 .select("day", "n_active", "n_new", "n_returning",
                         "cum_users"))


def rfm_segments(df: DataFrame, user_col: str = "user_id",
                 ts_col: str = "ts", value_col: str = "value",
                 n_bins: int = 5, scale: int = 100) -> DataFrame:
    """RFM segmentation: per-user Recency (days since last activity,
    relative to the corpus max day), Frequency (events), Monetary
    (cent total), each scored into ``n_bins`` quantile classes with the
    VALUE-DETERMINISTIC bin rule (equifreq_bins: distinct metric values
    bin by cumulative count, so equal metrics always score equally —
    ntile would split them arbitrarily). Scores run 1..n_bins with
    n_bins best (recent / frequent / high-value); ``segment`` is the
    concatenated "RFM" code marketing tooling expects.

    Shape: ONE per-user aggregation over the events (map-side
    combined), then per metric a distinct-value cumulative score map
    joined back to the user table. Recency cardinality is bounded
    (days), but frequency/monetary distinct-value cardinality
    approaches USER cardinality (~1e9 at 100 TB), so each map is built
    by the engine's prefix-sum kernel (_scalable.exclusive_prefix_sum —
    the POCounter/PORank design) with the counted distinct-value
    cardinality as its fence (spark.spork.prefixSum.cardinalityFence,
    default 100k): below it, a single window + broadcast-joined map
    (cheap, one task over a small table); above it, the
    range-partitioned two-pass path with an UN-hinted join so Spark may
    pick SMJ. The join hint follows the same counted cardinality, not
    the kernel's partition count, which AQE can coalesce to one on a
    small table. Exact integers end to end; both paths produce
    identical scores (the bin rule depends only on the exclusive
    cumulative count).
    """
    from spork_spark.operators._scalable import (cardinality_fence,
                                                 exclusive_prefix_sum)
    day = F.date_trunc("day", F.col(ts_col)).cast("date")
    cents = F.floor(F.col(value_col).cast("double") * scale + 0.5) \
             .cast("long")
    base = (df.where(F.col(ts_col).isNotNull()
                     & F.col(user_col).isNotNull())
              .select(F.col(user_col).alias("__u"), day.alias("__d"),
                      F.coalesce(cents, F.lit(0)).alias("__c")))
    users = base.groupBy("__u").agg(
        F.max("__d").alias("__last"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum("__c").alias("monetary_cents"))
    mx = users.groupBy().agg(F.max("__last").alias("__mx"))
    users = (users.crossJoin(F.broadcast(mx))
                  .withColumn("recency_days",
                              F.datediff("__mx", "__last").cast("long"))
                  .drop("__mx", "__last"))

    fence = cardinality_fence(df.sparkSession)
    # The fence needs each metric's distinct-value count BEFORE the
    # plan is chosen. Persist the per-user table (it feeds three score
    # maps, the fence counts, and the final joins) and take all three
    # counts in ONE aggregation job, so choosing the path costs one
    # pass over users, not three recomputations of the event groupBy.
    users = users.persist()
    cards = users.agg(*[F.countDistinct(m).alias(m)
                        for m in ("recency_days", "frequency",
                                  "monetary_cents")]).collect()[0]

    def score(metric: str, ascending_is_good: bool):
        """((metric value -> 1..n_bins score) map, is_small) —
        value-deterministic: bin by cumulative count over distinct
        values, oriented so n_bins is always the GOOD end. is_small
        picks broadcast vs SMJ for the join back to users."""
        dist = users.groupBy(F.col(metric).alias("__v")) \
                    .agg(F.count(F.lit(1)).alias("__c"))
        order = F.col("__v").asc() if ascending_is_good \
            else F.col("__v").desc()
        cum, _ = exclusive_prefix_sum(dist, [order], {"__cum": F.col("__c")},
                                      n_rows=cards[metric])
        tot = dist.groupBy().agg(F.sum("__c").alias("__t"))
        return (cum.crossJoin(F.broadcast(tot))
                   .select(F.col("__v").alias(metric),
                           (F.expr(f"(__cum * {n_bins}) div __t") + 1)
                           .cast("int").alias(f"{metric}_score")),
                cards[metric] <= fence)

    out = users
    for metric, asc in (("recency_days", False),
                        ("frequency", True),
                        ("monetary_cents", True)):
        smap, small = score(metric, asc)
        out = out.join(F.broadcast(smap) if small else smap, on=metric)
    # The cache has served every eager consumer by now (the fence
    # counts; above-fence score maps localCheckpoint off it inside
    # exclusive_prefix_sum). Unpersist so a long-lived session running
    # many rfm calls leaves zero cached blocks (the funnel discipline);
    # the returned lazy plan recomputes users at action time exactly as
    # before this optimization.
    users.unpersist()
    return (out.withColumn("segment",
                           F.concat_ws("", "recency_days_score",
                                       "frequency_score",
                                       "monetary_cents_score"))
               .select(F.col("__u").alias(user_col), "recency_days",
                       "frequency", "monetary_cents",
                       "recency_days_score", "frequency_score",
                       "monetary_cents_score", "segment"))


def conversion_times(df: DataFrame, user_col: str, ts_col: str,
                     event_col: str, from_event: str,
                     to_event: str) -> DataFrame:
    """Time-to-convert distribution: for every user, the delay from
    their FIRST ``from_event`` to their first ``to_event`` AT OR AFTER
    it, summarized as exact-integer percentiles — the "how long from
    signup to purchase" question funnels count but don't time.

    Exact end-to-end: timestamps become integer microseconds, each
    user's delay is an integer difference, and the p50/p90 interpolated
    percentiles of integers are exact binary doubles (the group_mad
    argument) — no rounding hedge. Users who never convert are counted
    (n_started vs n_converted) but excluded from the delay percentiles.

    Shape: ONE per-user aggregation computes first-A and first-B-≥-A
    together (conditional MIN aggregates — no window, no join between
    the two event streams), then one global aggregate over USER-
    cardinality rows. Output: 1 row (n_started, n_converted, p50_s,
    p90_s) with delays in seconds (micros div 1e6, truncating).
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = (df.where(F.col(ts_col).isNotNull()
                     & F.col(event_col).isin(from_event, to_event))
              .select(F.col(user_col).alias("__u"),
                      F.col(event_col).alias("__e"), us.alias("__t")))
    per_user = (base.groupBy("__u")
                    .agg(F.min(F.when(F.col("__e") == from_event,
                                      F.col("__t"))).alias("__a")))
    with_b = (base.where(F.col("__e") == to_event)
                  .join(per_user, on="__u")
                  .where(F.col("__t") >= F.col("__a"))
                  .groupBy("__u")
                  .agg(F.min("__t").alias("__b")))
    users = (per_user.where(F.col("__a").isNotNull())
                     .join(with_b, on="__u", how="left")
                     .withColumn("__delay",
                                 F.expr("(__b - __a) div 1000000")
                                  .cast("long")))
    return users.agg(
        F.count(F.lit(1)).alias("n_started"),
        F.count("__delay").alias("n_converted"),
        F.percentile(F.col("__delay"), F.lit(0.5)).alias("p50_s"),
        F.percentile(F.col("__delay"), F.lit(0.9)).alias("p90_s"))
