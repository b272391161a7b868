"""Corpus-curation operators for web-scale training-data pipelines,
beyond the reference surface (SURVEY.md §2.11 extension mandate): domain
caps, blocklist filtering, a hashed-n-gram linear quality classifier,
corpus statistics, deterministic k-means clustering, and SemDeDup-style
semantic deduplication.

Design rules shared by every operator here:
- native Column expressions / single-key shuffles only — no Python, no
  collect of data rows (k-means collects k centroid rows per round, the
  same bounded pattern as IVF's seed collect);
- engine-portable determinism: hashes are md5-prefix arithmetic, weights
  and distances are INTEGER (quantized) so a DuckDB oracle reproduces
  results exactly — no cross-engine float-summation drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import shuffle_partitions
from .text import tokens, word_ngrams


# ------------------------------------------------------------- domain ops

def per_source_cap(df: DataFrame, source_col: str = "source",
                   cap: int = 100, id_col: str = "doc_id",
                   priority_col: str | None = None) -> DataFrame:
    """Per-domain document cap (the Common-Crawl-pipeline guard against a
    single site flooding the corpus): keep at most ``cap`` documents per
    source, preferring larger ``priority_col`` (ties and default order:
    smallest id — deterministic, rerunnable).

    Scale shape: one hash shuffle on the source key; Spark compiles the
    rank-filter to WindowGroupLimit, which drops rows past the cap
    BEFORE the shuffle's sort buffer grows (partial top-k per map task),
    so a mega-domain costs O(cap) memory per task, not O(domain size).
    """
    order = [F.col(priority_col).desc(), F.col(id_col).asc()] \
        if priority_col else [F.col(id_col).asc()]
    w = Window.partitionBy(source_col).orderBy(*order)
    return (df.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") <= cap).drop("__rn"))


def blocklist_filter(df: DataFrame, blocklist: DataFrame | list,
                     source_col: str = "source") -> DataFrame:
    """Drop documents whose source appears on a blocklist. A list argument
    becomes a one-column DataFrame; either way the blocklist side is
    broadcast and the filter is a BroadcastHashJoin LeftAnti — the corpus
    never shuffles (blocklists are thousands of rows; corpora are
    billions)."""
    if isinstance(blocklist, (list, tuple)):
        spark = df.sparkSession
        blocklist = spark.createDataFrame(
            [(s,) for s in blocklist], f"{source_col} string")
    bl = F.broadcast(blocklist.select(source_col).distinct())
    return df.join(bl, on=source_col, how="left_anti")


# ------------------------------------- hashed-n-gram linear quality scorer

def _md5_bucket16(col: "F.Column") -> "F.Column":
    """First 16 bits of md5 as an integer — engine-portable (DuckDB
    oracles rebuild it from the hex prefix with ascii arithmetic)."""
    return F.conv(F.substring(F.md5(col), 1, 4), 16, 10).cast("long")


def classifier_score(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", n: int = 2,
                     modulus: int = 997) -> DataFrame:
    """fastText-shaped linear quality classifier over hashed word
    n-grams: every (non-distinct) n-gram hashes to a 16-bit bucket whose
    weight is the INTEGER ``bucket % modulus - modulus//2`` — i.e. the
    weight table is derived from the hash itself. A trained model swaps
    in a real weight array without changing the plan; what this pins is
    the production shape: tokenizer → n-grams → hashing trick → linear
    sum, entirely in native HOFs with NO shuffle and NO Python (the
    standard quality-classifier pass over a 100 TB corpus is embarrassingly
    parallel and this compiles to exactly that).

    Integer weights make the score an exact BIGINT — deterministic under
    any execution order and reproducible by a SQL oracle (float weight
    sums would drift by summation order across engines).

    Output: id, n_grams, score_int, keep (score_int > 0).
    """
    # Stage the gram array and the score as real projection steps so each
    # is evaluated ONCE per row: inlining `grams` into n_grams + the
    # score fold (and `score` into score_int + keep) re-runs the whole
    # tokenize→slice→md5 chain per textual occurrence — interpreted HOF
    # expressions get no common-subexpression elimination, and Catalyst's
    # CollapseProject keeps the stages apart exactly because the aliased
    # expressions are non-cheap and referenced more than once.
    grams = word_ngrams(text_col, n, distinct=False)
    staged = df.select(F.col(id_col), grams.alias("__grams"))
    weights = F.transform(
        F.col("__grams"), lambda g: _md5_bucket16(g) % modulus - modulus // 2)
    score = F.aggregate(weights, F.lit(0).cast("long"),
                        lambda acc, x: acc + x)
    scored = staged.select(
        F.col(id_col),
        F.size(F.col("__grams")).alias("n_grams"),
        score.alias("score_int"))
    return scored.select(
        F.col(id_col),
        F.col("n_grams"),
        F.col("score_int"),
        (F.col("score_int") > 0).alias("keep"))


def ngram_logcount_score(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", n: int = 2,
                         broadcast_counts: bool = False) -> DataFrame:
    """Corpus-LM statistical quality signal — the KenLM-perplexity-filter
    shape without a float LM: build the corpus n-gram count table, then
    score each document by Σ floor(log2(corpus_count(g))) over its
    n-grams (with multiplicity). Documents made of common n-grams score
    high; gibberish and noise built from rare n-grams score low.
    floor(log2) of an integer count is exact in IEEE double on both
    engines, so the score is a deterministic BIGINT (a float log-prob
    LM would drift by summation order; a trained KenLM swaps in as a
    real count/backoff table without changing the plan).

    Scale shape: explode to (doc, gram) — map-side fan-out; one shuffle
    to count grams (partial agg collapses each map task to its local
    vocab first); one equi-join of doc-grams to the count table (the
    hot-key skew of very common grams sits on the PROBE side of a hash
    join whose build side has one row per gram — AQE skew-join covers
    the exchange; pass broadcast_counts=True when the vocab fits, e.g.
    char-level or capped vocabs, and the join needs no shuffle at all);
    one final per-doc aggregation.

    Output: id, n_grams, logcount_sum (both exact BIGINTs).
    """
    from .dedup import _spread
    grams = _spread(df).select(
        F.col(id_col),
        F.explode(word_ngrams(text_col, n, distinct=False))
         .alias("__gram"))
    counts = grams.groupBy("__gram").agg(
        F.count(F.lit(1)).alias("__cnt"))
    if broadcast_counts:
        counts = F.broadcast(counts)
    scored = grams.join(counts, on="__gram")
    return (scored.groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("int").alias("n_grams"),
                 F.sum(F.floor(F.log2("__cnt")).cast("long"))
                  .alias("logcount_sum")))


# ------------------------------------------------------------ corpus stats

def corpus_stats(df: DataFrame, strata: tuple = ("lang", "source"),
                 text_col: str = "text") -> DataFrame:
    """One-pass per-stratum corpus report — the dataset-card numbers every
    training-data release publishes: document count, total/average
    characters, total whitespace tokens, and the short-document fraction.
    Single partial+final HashAggregate (map-side combine); no second pass,
    no Python."""
    ln = F.length(F.col(text_col))
    # Null text must contribute NULL (SUM-skipped), not the -1 that
    # F.size(null) returns under the engine's non-ANSI legacy-sizeOfNull
    # conf — the oracle's SUM(len(...)) NULL-skips.
    nt = F.when(F.col(text_col).isNull(), F.lit(None).cast("int")) \
          .otherwise(F.size(tokens(text_col)))
    return (df.groupBy(*strata)
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.sum(ln.cast("long")).alias("total_chars"),
                   F.floor(F.avg(ln) * 100 + F.lit(0.5)).cast("long")
                    .alias("avg_chars_x100"),
                   F.sum(nt.cast("long")).alias("total_tokens"),
                   F.sum(F.when(ln < 100, 1).otherwise(0)).cast("long")
                    .alias("n_short")))


# ------------------------------------- deterministic k-means + SemDeDup

def group_outliers(df: DataFrame, group_col: str, value_col: str,
                   z_num: int = 3, z_den: int = 1,
                   scale: int = 100) -> DataFrame:
    """Per-group z-score outliers in EXACT integer arithmetic: flag
    rows where (x - mu)^2 > z^2 * sigma^2 against the group's
    population stats — the distribution-based quality screen (price
    anomalies, metric spikes) a pipeline runs per source/stratum.

    Exactness: values quantize to integers v = floor(x*scale + 0.5);
    with S = sum(v), Q = sum(v^2), n = count, the test multiplies out
    to  z_den^2 * n_sq_dev > z_num^2 * n_var  where
    n_sq_dev = (n*v - S)^2 and n_var = n*Q - S^2 — all integer terms
    (decimal(38,0) guards the squares), so the flag is deterministic
    and SQL-oracle-reproducible; z = z_num/z_den supports fractional
    thresholds without floats.

    Shape: one map-side-combined groupBy for (n, S, Q) per group, one
    equi-join back (group count is small — broadcastable), narrow
    filter. No window, no second shuffle of the data.
    """
    v = F.floor(F.col(value_col).cast("double") * scale + 0.5)          .cast("long")
    d = df.where(F.col(value_col).isNotNull()).withColumn("__v", v)
    stats = d.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__v").alias("__s"),
        F.sum(F.col("__v") * F.col("__v")).alias("__q"))

    def d38(c):
        return c.cast("decimal(38,0)")

    j = d.join(F.broadcast(stats), on=group_col)
    n_sq_dev = (d38(F.col("__n") * F.col("__v") - F.col("__s"))
                * d38(F.col("__n") * F.col("__v") - F.col("__s")))
    n_var = d38(F.col("__n")) * d38(F.col("__q"))         - d38(F.col("__s")) * d38(F.col("__s"))
    test = (F.lit(z_den * z_den).cast("decimal(38,0)") * n_sq_dev
            > F.lit(z_num * z_num).cast("decimal(38,0)") * n_var)
    return j.where(test).drop("__v", "__n", "__s", "__q")


def weighted_sample(df: DataFrame, weight_col, k: int,
                    id_col: str = "doc_id", seed: int = 42,
                    key_round: int = 6) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis-
    Spirakis A-ES, Inf.Proc.Lett. 2006): each row draws key =
    ln(u)/w from a seeded uniform u and the k LARGEST keys win —
    inclusion probability proportional to weight, one pass, no
    replacement bookkeeping. The mixture-resampling sibling for "pick
    k docs biased by quality/length" curation steps.

    u is md5-derived from (seed, id) — reproducible across engines and
    runs (no RNG state); keys are rounded to ``key_round`` digits
    BEFORE ranking (libm ln differs across engines only in the last
    ulp; rounding makes rank boundaries engine-portable), ties break on
    id. Rows with null/non-positive weight are excluded (their
    inclusion probability is 0).

    Scale shape: narrow map to compute keys + TakeOrderedAndProject
    (per-partition top-k, k x partitions driver merge) — no global
    sort, no shuffle of the corpus.
    """
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    w = w.cast("double")
    h = F.conv(F.substring(F.md5(F.concat(
            F.lit(f"{seed}:"), F.col(id_col).cast("string"))), 1, 8),
        16, 10).cast("double")
    u = (h + F.lit(1.0)) / F.lit(4294967296.0)     # (0, 1]
    key = F.round(F.log(u) / w, key_round)
    return (df.where(w.isNotNull() & (w > 0))
              .withColumn("sample_key", key)
              .orderBy(F.col("sample_key").desc(), F.col(id_col))
              .limit(k))


def profile_columns(df: DataFrame, cols: list[str] | None = None,
                    exact_distinct: bool = True) -> DataFrame:
    """Column-level data profile (the Deequ/dbt-style quality gate a
    100 TB ingest runs before training): one row per column with row /
    null / distinct counts, numeric min/max, string/timestamp min/max,
    and mean string length.

    Shape: ONE aggregate pass over the table — every metric for every
    column lives in a single groupBy().agg() (Catalyst compiles the
    multi-column exact distincts into one Expand + partial-agg plan:
    k passes over rows in one stage, not k table scans), then the
    single result row explodes into k per-column rows. No Python, no
    driver-side iteration. ``exact_distinct=False`` swaps in
    approx_count_distinct (HLL) — the 100 TB default when exactness
    isn't contractual; exact stays the oracle-checkable default here.

    min_num/max_num are populated for numeric columns, min_str/max_str
    for string and timestamp columns (cast to string), avg_len for
    strings — one stable wide schema, nulls where a metric does not
    apply.
    """
    from pyspark.sql import types as T
    from .dedup import _spread
    cols = cols or df.columns
    # _spread: the multi-distinct Expand multiplies every row k+1 ways
    # before the partial aggregate — inside a single-task scan partition
    # that whole fan-out runs on one core; identity at real scale.
    df = _spread(df.select(*cols))
    n_distinct = (F.countDistinct if exact_distinct
                  else F.approx_count_distinct)
    aggs = [F.count(F.lit(1)).alias("__rows")]
    per_col = []
    for c in cols:
        dt = df.schema[c].dataType
        col = F.col(c)
        is_num = isinstance(dt, T.NumericType)
        is_str = isinstance(dt, T.StringType)
        is_ts = isinstance(dt, (T.TimestampType, T.TimestampNTZType,
                                T.DateType))
        aggs += [
            F.count(F.when(col.isNull(), 1)).alias(f"__nn_{c}"),
            n_distinct(col).alias(f"__nd_{c}"),
            (F.min(col.cast("double")) if is_num
             else F.lit(None).cast("double")).alias(f"__mn_{c}"),
            (F.max(col.cast("double")) if is_num
             else F.lit(None).cast("double")).alias(f"__mx_{c}"),
            (F.min(col.cast("string")) if (is_str or is_ts)
             else F.lit(None).cast("string")).alias(f"__ms_{c}"),
            (F.max(col.cast("string")) if (is_str or is_ts)
             else F.lit(None).cast("string")).alias(f"__xs_{c}"),
            (F.round(F.avg(F.length(col)), 6) if is_str
             else F.lit(None).cast("double")).alias(f"__al_{c}"),
        ]
        per_col.append((c, dt.simpleString()))
    one = df.groupBy().agg(*aggs)
    structs = [
        F.struct(F.lit(c).alias("column"), F.lit(t).alias("dtype"),
                 F.col("__rows").alias("n_rows"),
                 F.col(f"__nn_{c}").cast("long").alias("n_nulls"),
                 F.col(f"__nd_{c}").cast("long").alias("n_distinct"),
                 F.col(f"__mn_{c}").alias("min_num"),
                 F.col(f"__mx_{c}").alias("max_num"),
                 F.col(f"__ms_{c}").alias("min_str"),
                 F.col(f"__xs_{c}").alias("max_str"),
                 F.col(f"__al_{c}").alias("avg_len"))
        for c, t in per_col]
    return (one.select(F.explode(F.array(*structs)).alias("p"))
               .select("p.*"))


def _quantize_vec(vec_col, scale: int) -> "F.Column":
    """float vector → integer vector via portable half-up rounding
    (floor(x*scale + 0.5) — same idiom as quantize_embeddings)."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.transform(
        c, lambda x: F.floor(x.cast("double") * scale + 0.5).cast("long"))


def _sq_dist(a, b) -> "F.Column":
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0).cast("long"), lambda acc, x: acc + x)


def kmeans_quantized(df: DataFrame, k: int = 8, n_iter: int = 2,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     scale: int = 1000,
                     assignment: str = "auto") -> DataFrame:
    _, out = kmeans_train(df, k=k, n_iter=n_iter, id_col=id_col,
                          vec_col=vec_col, scale=scale,
                          assignment=assignment)
    return out


def kmeans_train(df: DataFrame, k: int = 8, n_iter: int = 2,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 scale: int = 1000, assignment: str = "auto"
                 ) -> tuple[list[tuple[int, list[int]]], DataFrame]:
    """Deterministic Lloyd's k-means over integer-quantized vectors →
    (trained centroids, (id, cluster) assignment). ``kmeans_quantized``
    is the assignment-only view; the centroid list (cid, quantized
    codes) is the codebook the final assignment used — e.g. the trained
    coarse quantizer for IVF (operators/similarity.py ivf_topk_trained).
    Seeds are the vectors of the ``k`` smallest ids;
    distances are exact integer squared-L2 over floor(x*scale+0.5)
    codes; centroid updates are per-dimension floor(sum/count). Every
    step is integer arithmetic → bit-identical results on any cluster
    size, any execution order, and in a SQL oracle. Empty clusters drop
    out (standard Lloyd's degeneracy — deterministic here).

    Assignment (both exact, same results — pinned by test):
    - 'expr': codegen'd Column expression with the centroids inlined as
      literals. No Python, but the expression tree is O(k·dim) — right
      for small codebooks (the RANK create_map lesson: literal trees
      don't scale past ~10⁵ entries).
    - 'pandas': Arrow-batched mapInPandas kernel against a BROADCAST
      numpy centroid matrix — one vectorized (batch × k × dim) int64
      argmin per batch. The scale path for large k·dim (k=1000·d=1024
      is a 1M-entry literal tree for 'expr' but one 8 MB broadcast
      here).
    - 'auto': 'expr' when k·dim ≤ 16384 else 'pandas'.

    Scale shape per round: assignment is a narrow map either way; one
    hash shuffle for the centroid update's partial aggregation (k·dim
    partial sums, NOT the corpus — map-side combine collapses each
    partition to ≤k rows); one bounded k-row driver collect (the IVF
    seed-collect pattern). The corpus-sized quantized projection is
    persisted across rounds."""
    q = df.select(F.col(id_col),
                  _quantize_vec(vec_col, scale).alias("__q")).persist()
    seeds = q.orderBy(id_col).limit(k).collect()
    cents = [(i, [int(v) for v in r["__q"]]) for i, r in enumerate(seeds)]
    if not cents:                       # empty input → empty assignment
        q.unpersist()
        return [], df.sparkSession.createDataFrame(
            [], f"{id_col} long, cluster long")
    dim = len(cents[0][1])
    mode = assignment
    if mode == "auto":
        mode = "expr" if k * dim <= 16384 else "pandas"

    def assign_expr(df_q, cent_list):
        scored = F.array(*[
            F.struct(
                _sq_dist(F.col("__q"),
                         F.array([F.lit(v) for v in cvec])).alias("d"),
                F.lit(cid).cast("long").alias("cid"))
            for cid, cvec in cent_list])
        # struct ordering = (distance, cid): deterministic tie-break
        return df_q.withColumn("__c", F.array_sort(scored)[0]["cid"])

    def assign_pandas(df_q, cent_list):
        from pyspark.sql import types as T
        sc = df_q.sparkSession.sparkContext
        bc = sc.broadcast((
            [cid for cid, _ in cent_list],
            [cvec for _, cvec in cent_list]))
        out_schema = T.StructType(df_q.schema.fields
                                  + [T.StructField("__c", T.LongType())])

        def kernel(batches):
            import numpy as np
            import pandas as pd
            cids, cmat = bc.value
            cids = np.asarray(cids, dtype=np.int64)
            cmat = np.asarray(cmat, dtype=np.int64)       # (k, dim)
            for pdf in batches:
                x = np.asarray(pdf["__q"].tolist(),
                               dtype=np.int64)            # (b, dim)
                # (b, k) exact int64 squared-L2; ties break to the
                # SMALLEST cid because cent_list is cid-sorted
                d = ((x[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
                pdf = pdf.copy()
                pdf["__c"] = cids[np.argmin(d, axis=1)]
                yield pdf

        return df_q.mapInPandas(kernel, out_schema)

    assign = assign_expr if mode == "expr" else assign_pandas
    rounds = max(n_iter, 1)
    assigned = None
    for it in range(rounds):
        assigned = assign(q, cents)
        if it == rounds - 1:
            # The output is the LAST assignment; a final centroid update
            # would be discarded — skipping it saves one corpus-wide
            # groupBy shuffle + k-row collect per call.
            break
        upd = (assigned.groupBy("__c")
               .agg(F.count(F.lit(1)).alias("__n"),
                    *[F.sum(F.col("__q")[i]).alias(f"__s{i}")
                      for i in range(dim)])
               .collect())
        # Python // is floor division, matching the oracle's
        # FLOOR(CAST(sum AS DOUBLE)/n) for these magnitudes (< 2^40,
        # exact in double).
        cents = sorted(
            (int(r["__c"]),
             [int(r[f"__s{i}"]) // int(r["__n"]) for i in range(dim)])
            for r in upd)
    # Materialize the (id, cluster) result BEFORE unpersisting q — the
    # returned DataFrame is lazy, so an eager localCheckpoint is what
    # makes the persist actually pay off for callers (semantic_dedup
    # references the assignment three times; without this the whole
    # assign pipeline would recompute per reference against an
    # unpersisted q). Also truncates the n_iter-deep lineage.
    out = (assigned.select(F.col(id_col), F.col("__c").alias("cluster"))
           .localCheckpoint(eager=True))
    q.unpersist()
    return cents, out


def semantic_dedup(df: DataFrame, threshold: float = 0.7, k: int = 8,
                   n_iter: int = 2, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   scale: int = 1000) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding space, then
    drop any item whose cosine similarity to an EARLIER item (smaller
    id) in the same cluster meets the threshold — keeping one
    representative per semantic duplicate group without an all-pairs
    corpus join.

    The pair space is quadratic only WITHIN a cluster (the whole point
    of clustering first); the intra-cluster self-join is an equi-join on
    the cluster id. The cosine test is exact integer arithmetic on
    quantized codes: cos(a,b) ≥ τ  ⟺  dot > 0 ∧ dot² ≥ τ²·|a|²·|b|²
    (compared as integers scaled by 1e6), so results are deterministic
    and SQL-oracle-reproducible. Returns the surviving rows of ``df``.
    """
    clusters = kmeans_quantized(df, k=k, n_iter=n_iter, id_col=id_col,
                                vec_col=vec_col, scale=scale)
    # per-vector squared norm computed ONCE here — the pair loop used
    # to re-evaluate the norm HOF on both sides of every pair (2/3 of
    # its interpreted-lambda work was recomputing per-vector constants)
    nsq = F.aggregate(F.transform("__q", lambda x: x * x),
                      F.lit(0).cast("long"), lambda acc, x: acc + x)
    from .dedup import _sorted_pairs, _spread
    q = (_spread(df.select(F.col(id_col),
                           _quantize_vec(vec_col, scale).alias("__q")))
           .join(clusters, on=id_col)
           .withColumn("__nsq", nsq))
    # Intra-cluster pairs via grouped expansion, not a cluster
    # self-equi-join: the join's two alias-renamed sides each re-execute
    # the quantize + assignment subplan and shuffle it twice
    # (ReuseExchange cannot fire across renamed projections); grouping
    # by cluster runs it ONCE through a single exchange, and the native
    # (i < j) expansion — posexplode anchor + explode(slice) over the
    # id-sorted member list — emits exactly the ordered pairs the
    # __ida < __idb filter kept. Group payload is cluster-bounded, the
    # operator's standing premise.
    buckets = (q.groupBy("cluster")
                .agg(F.sort_array(F.collect_list(
                    F.struct(F.col(id_col).alias("__id"), F.col("__q"),
                             F.col("__nsq")))).alias("__ps"))
                .where(F.size("__ps") >= 2))
    mpairs = _sorted_pairs(buckets, "__ps", "__a", "__b")
    dot = F.aggregate(F.zip_with(F.col("__a.__q"), F.col("__b.__q"),
                                 lambda x, y: x * y),
                      F.lit(0).cast("long"), lambda acc, x: acc + x)
    t2 = int(round(threshold * threshold * 10 ** 6))

    # dot² · 1e6 can exceed int64 (dot ≤ dim·scale² ≈ 6.4e7 at 64 dims
    # → dot² ≈ 4e15 → ·1e6 ≈ 4e21): compare in decimal(38,0) — still
    # exact integer arithmetic (DuckDB's side runs in HUGEINT).
    def d128(c):
        return c.cast("decimal(38,0)")

    dup_ids = (mpairs
               .withColumn("__dot", dot)
               .filter((F.col("__dot") > 0) &
                       (d128(F.col("__dot")) * d128(F.col("__dot"))
                        * F.lit(10 ** 6).cast("decimal(38,0)")
                        >= F.lit(t2).cast("decimal(38,0)")
                        * d128(F.col("__a.__nsq"))
                        * d128(F.col("__b.__nsq"))))
               .select(F.col("__b.__id").alias(id_col)).distinct())
    return df.join(dup_ids, on=id_col, how="left_anti")


def winsorize(df: DataFrame, group_col: str, value_col: str,
              p_lo: float = 0.05, p_hi: float = 0.95,
              round_digits: int = 6) -> DataFrame:
    """Per-group percentile clipping (winsorization): replace values
    below the group's p_lo quantile / above its p_hi quantile with the
    quantile itself — the tail-taming sibling of group_outliers (which
    FLAGS; this REPAIRS), standard before computing per-stratum means
    at corpus scale.

    Quantiles use Spark's exact linear-interpolation `percentile`
    (same definition as DuckDB quantile_cont — parity already pinned by
    the `percentiles` query) and are ROUNDED to ``round_digits`` before
    clipping, so the clip boundary is an engine-portable constant and
    the output is oracle-reproducible; raw values pass through
    bit-unchanged when inside the bounds. Nulls pass through as null.

    Shape: one map-side-combined groupBy computes (lo, hi) per group
    (group-count sized — broadcastable), one broadcast join back, then
    a narrow least/greatest map. The corpus itself never shuffles.
    """
    v = F.col(value_col)
    stats = (df.where(v.isNotNull())
               .groupBy(group_col)
               .agg(F.round(F.expr(f"percentile({value_col}, {p_lo})"),
                            round_digits).alias("__lo"),
                    F.round(F.expr(f"percentile({value_col}, {p_hi})"),
                            round_digits).alias("__hi")))
    # least/greatest SKIP nulls in Spark: unguarded, a null value would
    # come back as the lower bound, and an all-null group's null bounds
    # already pass values through — so only the v-null case needs a gate
    return (df.join(F.broadcast(stats), on=group_col, how="left")
              .withColumn(f"{value_col}_w",
                          F.when(v.isNotNull(),
                                 F.least(F.greatest(v, F.col("__lo")),
                                         F.col("__hi"))))
              .drop("__lo", "__hi"))


def pareto_frontier(df: DataFrame, dims: dict[str, str],
                    group_col: str | None = None,
                    fan_in: int = 4) -> DataFrame:
    """Pareto-optimal rows (the skyline) over ``dims``, a mapping of
    column → 'max' | 'min' — the multi-objective selection a curation
    pipeline runs when no single quality score exists (e.g. maximize
    fluency AND dedup distance while minimizing toxicity): a row
    survives iff NO other row is at-least-as-good on every dimension
    and strictly better on one. Duplicated frontier points all survive
    (neither dominates the other) — deterministic, no tiebreak needed.

    Scale shape (Börzsönyi SIGMOD'01 block-nested-loop, distributed):
    stage 1 computes the LOCAL frontier of every partition with a
    pandas kernel (sort by the first dimension, incremental dominance
    scan — each partition's output is its own skyline, usually tiny);
    stage 2 TREE-MERGES the local frontiers: repartition the pruned
    survivors onto ``fan_in``× fewer tasks, re-prune, and repeat until
    one partition remains — log_fan_in(P) rounds for P the session's
    shuffle partitions, so no single task ever concatenates more than
    ``fan_in`` already-pruned frontiers
    (the old coalesce(1) gather put the UNION of all local frontiers —
    potentially input-sized for anti-correlated dims — in one Python
    task; worse, a shuffle-free coalesce(1) also collapses the stage-1
    pass itself to one task). The repartitions shuffle only surviving
    frontier rows, so each round moves less data than the last.
    Correct because dominance is transitive: a globally dominated row
    is dominated by some row of its own partition's frontier, so local
    pruning never drops a global survivor, at any merge order. Worst
    case (mutually incomparable data, e.g. perfectly anti-correlated
    dims) prunes nothing and the final task still sees ~input/fan_in
    rows — the documented quadratic fence, same family as the
    brute-force ANN baseline; real quality dims prune heavily.
    The kernel compares float64 images of the dims (numeric columns
    only; exact for integers/decimals up to 15 significant digits —
    the conversion is monotone, so dominance is preserved; wider
    decimals could collide). The scan is safe in descending-lex order:
    a later row is lex-≤ every kept row, so its first differing dim is
    strictly smaller and it can never dominate one already kept.

    ``group_col``: an independent frontier per group. Stage 1 prunes
    per (partition, group); stage 2 hash-partitions on the group and
    finishes each group exactly — parallel across groups, so the
    single-task gather only happens in the global (ungrouped) case.
    """
    import pandas as pd

    for c, d in dims.items():
        if d not in ("max", "min"):
            raise ValueError(f"dims[{c!r}] must be 'max' or 'min'")
    if group_col in dims:
        raise ValueError("group_col cannot also be a dimension")
    cols = list(dims)
    signs = [1.0 if dims[c] == "max" else -1.0 for c in cols]

    def scan(pdf):
        import numpy as np
        X = pdf[cols].to_numpy(dtype=np.float64) * np.asarray(signs)
        order = np.lexsort(tuple(X[:, k] for k in range(X.shape[1])))[::-1]
        kept_idx: list[int] = []
        K = np.empty((0, X.shape[1]))
        for i in order:
            x = X[i]
            if len(kept_idx):
                ge = (K >= x).all(axis=1)
                gt = (K > x).any(axis=1)
                if (ge & gt).any():
                    continue
            kept_idx.append(i)
            K = np.vstack([K, x])
        return pdf.iloc[sorted(kept_idx)]

    def local_frontier(batches):
        parts = [b for b in batches if len(b)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        if group_col is None:
            yield scan(pdf)
        else:
            yield pd.concat([scan(g) for _, g in
                             pdf.groupby(group_col, dropna=False,
                                         sort=False)])

    if fan_in < 2:
        raise ValueError("fan_in must be >= 2")
    schema = df.schema
    local = df.mapInPandas(local_frontier, schema=schema)
    if group_col is not None:
        return local.repartition(group_col) \
                    .mapInPandas(local_frontier, schema=schema)
    # Global skyline: tree-merge with shuffling repartitions.
    # repartition (not coalesce) is deliberate — a narrow coalesce(n)
    # would pull the UPSTREAM prune pass into the same n tasks,
    # serializing stage 1; the shuffle boundary keeps every prune
    # round at its own parallelism and only frontier rows travel.
    n = shuffle_partitions(df.sparkSession)
    out = local
    while n > 1:
        n = max(1, n // fan_in)
        out = out.repartition(n).mapInPandas(local_frontier,
                                             schema=schema)
    return out
