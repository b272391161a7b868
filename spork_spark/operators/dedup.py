"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference surface (BASELINE.json north star): exact dedup,
MinHash+LSH near-dup, SimHash, and n-gram Jaccard verification. All are
compositions of native DataFrame ops — shuffles only on keys/buckets, no
driver-side materialization, no Python row loops — so they hold at 100 TB:

- exact_dedup: one hash-groupBy shuffle on the digest (not the full text).
- minhash_lsh: shingle→minhash→band → explode(bands) → groupBy(band-bucket)
  → within-bucket pairing. The only quadratic work happens inside a bucket,
  which LSH keeps tiny; everything else is linear and shuffle-bounded.
- simhash: linear; near-dup candidates pair on band substrings of the
  64-bit signature (hamming-adjacent docs share a band w.h.p.).

MinHash uses the standard (a*x+b) mod p universal family over xxhash64
shingle hashes — same construction as Spark MLlib's MinHashLSH
(mllib/feature/MinHashLSH.scala) but kept in pure DataFrame expressions so
whole-stage codegen applies and no ML Vector conversion is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import shuffle_partitions

MERSENNE_PRIME = (1 << 61) - 1


def exact_dedup(df: DataFrame, cols: list[str] | None = None,
                keep: str = "min", tiebreak: str | None = None) -> DataFrame:
    """Exact dedup on `cols` (default: all columns).

    keep='any' → dropDuplicates (one shuffle, non-deterministic survivor);
    keep='min'/'max' with `tiebreak` → deterministic survivor via min/max of
    the tiebreak column per key — aggregation, not a window, so it gets
    partial (map-side) aggregation for free.
    """
    cols = cols or df.columns
    if keep == "any" or tiebreak is None:
        return df.dropDuplicates(cols)
    aggfn = F.min if keep == "min" else F.max
    others = [c for c in df.columns if c not in cols]
    if not others:
        return df.dropDuplicates(cols)
    surv = df.groupBy(*cols).agg(aggfn(F.col(tiebreak)).alias(tiebreak))
    rest = [c for c in others if c != tiebreak]
    if not rest:
        return surv.select(*df.columns)
    return surv.join(df, on=cols + [tiebreak], how="inner") \
               .dropDuplicates(cols).select(*df.columns)


def shingles(text_col, n: int = 5) -> "F.Column":
    """Character n-gram shingle set of a text column (native expressions:
    sequence→transform→substring; dedup via array_distinct)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    idx = F.sequence(F.lit(1), F.greatest(F.length(c) - (n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.substring(c, i, n)))


def _shingle_instances(df: DataFrame, id_col: str, text_col: str,
                       n: int, carry: tuple = ()) -> DataFrame:
    """(id, __s, *carry) shingle INSTANCES — one row per character
    n-gram occurrence, duplicates kept, with the ``carry`` columns
    riding along unchanged. Generator explode over a sequence of
    start positions plus a native substring, so the whole pipeline
    stays inside WholeStageCodegen (the `shingles()` array route builds
    each doc's array through interpreted higher-order-function lambdas
    — measured 2× slower per pass at sf0.1 even before its
    array_distinct). Consumers that need SET semantics dedup downstream
    (min/collect_set are idempotent, so most need nothing)."""
    c = F.col(text_col)
    return (df.select(F.col(id_col), text_col, *carry)
              .select(F.col(id_col),
                      F.explode(F.sequence(
                          F.lit(1),
                          F.greatest(F.length(c) - (n - 1), F.lit(1))))
                       .alias("__i"),
                      c.alias("__t"), *carry)
              .select(F.col(id_col),
                      F.expr(f"substring(__t, __i, {int(n)})").alias("__s"),
                      *carry))


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's default parallelism when
    the input arrives in FEWER partitions — single-row-group parquet
    scans read as ONE task, which serializes the shingling/hashing
    kernels these operators run in their first stage. A narrow text
    table shuffles in milliseconds; with an already-parallel input
    (every real 100 TB scan) this is the identity, so no blanket
    shuffle is added at scale. Row placement does not affect results:
    every consumer below aggregates order-insensitively (min/collect_set
    /distinct).

    CALLER CONTRACT: pass scan-shaped inputs only (scan/filter/project).
    The partition probe converts the plan to an RDD, and under AQE that
    EXECUTES every shuffle stage in the input subtree at construction
    time — a join- or aggregate-bearing input runs real jobs before the
    query is ever collected. Operators spread once at their public
    entry and thread the already-spread frame downward (spread=False
    params) instead of probing derived frames."""
    try:
        spark = df.sparkSession
        target = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < min(target, 64):
            return df.repartition(min(target, 64))
    except Exception:
        pass
    return df


def _minhash_coeffs(num_hashes: int, seed: int) -> list:
    """The (a_j, b_j) universal-hash coefficients of the xxhash64 MinHash
    family — shared by minhash_signature and the banding kernel, so the
    column and aggregate signatures stay value-identical."""
    import random
    rnd = random.Random(seed)
    return [(rnd.randrange(1, MERSENNE_PRIME),
             rnd.randrange(0, MERSENNE_PRIME)) for _ in range(num_hashes)]


def minhash_signature(shingle_col, num_hashes: int = 64,
                      seed: int = 42) -> "F.Column":
    """num_hashes-wide MinHash signature: sig[j] = min over shingles of
    ((a_j * h(s) + b_j) mod p), h = xxhash64. Pure Column expressions."""
    coeffs = _minhash_coeffs(num_hashes, seed)
    hashed = F.transform(shingle_col, lambda s: F.xxhash64(s))
    # Long arithmetic with wrap-around multiply (Java overflow semantics):
    # not a textbook universal family, but uniform enough for LSH banding
    # and ~10× faster than decimal(38,0) arithmetic, which falls out of
    # whole-stage codegen. pmod keeps values in [0, p).
    sig = [
        F.array_min(F.transform(
            hashed, lambda h: F.pmod(h * a + b, F.lit(MERSENNE_PRIME))))
        .alias(f"mh_{j}")
        for j, (a, b) in enumerate(coeffs)
    ]
    return F.array(*sig)


def _exact_text_groups(df: DataFrame, id_col: str, text_col: str):
    """Group ids by EXACT text equality — the pre-collapse every pair
    generator here shares. Null texts are excluded (they never shingle,
    so the direct pipelines never pair them). The grouping key is
    (md5(text), length) — the raw text never travels on the shuffle.
    Returns (members, uniq): members = (id, __gid = min id of the
    group, __gn = group size); uniq = (id, text) of one representative
    per distinct text."""
    nn = df.where(F.col(text_col).isNotNull())
    tkey = [F.md5(F.col(text_col)).alias("__tk"),
            F.length(text_col).alias("__tl")]
    members = nn.select(F.col(id_col), *tkey)
    groups = members.groupBy("__tk", "__tl").agg(
        F.min(id_col).alias("__gid"),
        F.count(F.lit(1)).alias("__gn"))
    members = (members.join(groups, on=["__tk", "__tl"])
                      .select(id_col, "__gid", "__gn"))
    reps = members.where(F.col(id_col) == F.col("__gid")).select(id_col)
    uniq = nn.select(F.col(id_col), F.col(text_col)).join(reps, on=id_col)
    return members, uniq


def _group_members(members: DataFrame, id_col: str) -> DataFrame:
    """(__gid, __ids) — the sorted member-id array of every exact-dup
    group, as ONE id-keyed aggregate. Every within-group/expansion
    consumer (within pairs, both expansion sides, containment's
    directed expansion) derives from this single exchange, so
    ReuseExchange computes the members subplan once. The previous
    per-consumer projections of `members` (a join of the scan with the
    md5-group aggregate) re-executed that subplan once per broadcast
    build — measured as ~6 extra 32-task kernel stages per pair-mining
    query at sf0.1 (job trace, OPTIMIZATION_r10.md wave 6). Array sizes
    are exact-dup group sizes — the quantity the collapse exists to
    keep small."""
    return (members.groupBy("__gid")
                   .agg(F.sort_array(F.collect_list(F.col(id_col)))
                        .alias("__ids")))


def _sorted_pairs(df: DataFrame, arr: str, a: str, b: str,
                  carry: tuple = ()) -> DataFrame:
    """(*carry, a, b) for every position pair i < j of the array column
    ``arr``: element i lands in ``a``, element j in ``b``. Over a sorted,
    duplicate-free array this is exactly the (a < b) pair set a
    self-join with an a < b filter keeps. Every bucket and posting-list
    pair generator here expands in place instead of self-joining: the
    join's two alias-renamed sides each re-execute the bucket subplan
    (ReuseExchange does not fire across renamed projections).

    Native posexplode anchor + explode(slice(arr, i + 2, ...)) rather
    than interpreted transform/flatten struct building: both generators
    run inside whole-stage codegen. The anchor's position column is
    named ``__i``."""
    pe = df.select(*carry, F.posexplode(arr).alias("__i", a), F.col(arr))
    return pe.select(
        *carry, a,
        F.explode(F.slice(F.col(arr), F.col("__i") + 2,
                          F.greatest(F.size(arr) - F.col("__i") - 1,
                                     F.lit(0)))).alias(b))


def _within_group_pairs(members: DataFrame, id_col: str) -> DataFrame:
    """(id_a < id_b, __gid) — every pair inside an exact-dup group.
    Quadratic in group size, which is exactly the OUTPUT size (those
    pairs are all true duplicates), so it cannot be avoided, only kept
    off the candidate path. Native (i < j) expansion over the sorted
    member array (ids unique per group) replaces the members self-join,
    whose two alias-renamed sides each re-executed the members
    subplan."""
    wm = _group_members(members, id_col).where(F.size("__ids") >= 2)
    return _sorted_pairs(wm, "__ids", "id_a", "id_b", carry=("__gid",))


def _expand_rep_pairs(rep_pairs: DataFrame, members: DataFrame,
                      id_col: str, payload: list) -> DataFrame:
    """Expand representative-level pairs to member-level pairs, carrying
    ``payload`` columns unchanged (similarity depends only on the texts,
    which are identical within a group). Member ids can interleave
    across groups, so the output pair is re-oriented (least, greatest).

    Joins attach the two member ARRAYS first and explode after (guide
    §3.3: join on the un-exploded key, explode after) — both join
    sides are projections of the one _group_members aggregate, so its
    exchange is built once however Spark sides the joins."""
    gm = _group_members(members, id_col)
    ga = gm.select(F.col("__gid").alias("id_a"),
                   F.col("__ids").alias("__ias"))
    gb = gm.select(F.col("__gid").alias("id_b"),
                   F.col("__ids").alias("__ibs"))
    return (rep_pairs.join(ga, on="id_a").join(gb, on="id_b")
            .select(F.explode("__ias").alias("__ia"), "__ibs", *payload)
            .select(F.col("__ia"), F.explode("__ibs").alias("__ib"),
                    *payload)
            .select(F.least("__ia", "__ib").alias("id_a"),
                    F.greatest("__ia", "__ib").alias("id_b"),
                    *payload))


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      shingle_n: int = 5, num_hashes: int = 64,
                      bands: int = 16, threshold: float = 0.7,
                      seed: int = 42, hash_fn: str = "xxhash64",
                      collapse_exact: bool = True,
                      _pre_spread: bool = False) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard ≥ threshold).

    Pipeline (all shuffle-bounded):
      0. collapse exact-duplicate texts to one representative each (the
         min id per text) — see below
      1. per doc: shingles → minhash signature → `bands` band-hashes
      2. explode band-hashes → groupBy (band, hash) bucket
      3. pair ids within bucket (collect_set per bucket is bounded by LSH
         bucket size), distinct pairs
      4. verify candidate pairs with exact jaccard over shingle sets
      5. expand representative-level pairs back to member-level pairs

    ``collapse_exact`` (default on — the production posture; every
    large-corpus dedup pipeline exact-dedups before MinHash): identical
    texts have identical signatures, so every band puts an exact-dup
    group's m members in the same bucket and the candidate join goes
    quadratic in m — measured at sf1 (50k docs, 10× exact-dup mass):
    23.9M candidates, 353 s of jaccard verification. Running LSH on the
    DISTINCT texts and expanding afterwards is provably output-identical
    (jaccard is a function of the texts alone): within-group pairs are
    jaccard 1.0 by definition, and a member pair (a∈A, b∈B) collides in
    a band iff its representatives do. Measured: 278 s → ~16 s at sf1,
    same 250,600 pairs. Grouping key is (md5(text), length) — never the
    raw text on the shuffle.

    hash_fn='xxhash64' (default): fastest — one JVM xxhash64 per shingle +
    num_hashes long multiplies. hash_fn='md5': the j-th permutation is
    min(md5(j || ':' || shingle)) compared as a hex STRING — slower, but
    md5 is byte-identical across engines, so the whole pipeline (including
    which candidate pairs LSH surfaces) is reproducible in ANSI SQL and
    exact-oracle-checkable. Same architecture either way: codegen'd
    min() HashAggregates, narrow banding rows, post-hoc jaccard verify.
    """
    if collapse_exact:
        # spread ONCE on the scan-shaped input (see _spread's caller
        # contract); everything derived below — members, uniq, the
        # recursive non-collapse call — inherits the parallelism
        # through the grouping joins, so no derived frame is probed.
        members, uniq = _exact_text_groups(
            _spread(df.select(id_col, text_col)), id_col, text_col)
        rep_pairs = minhash_lsh_pairs(
            uniq, id_col, text_col, shingle_n=shingle_n,
            num_hashes=num_hashes, bands=bands, threshold=threshold,
            seed=seed, hash_fn=hash_fn, collapse_exact=False,
            _pre_spread=True)
        # within-group: all member pairs, jaccard exactly 1.0
        within = (_within_group_pairs(members, id_col)
                  .select("id_a", "id_b", F.lit(1.0).alias("jaccard"))
                  .where(F.lit(1.0) >= F.lit(threshold)))
        cross = _expand_rep_pairs(rep_pairs, members, id_col,
                                  ["jaccard"])
        return within.unionByName(cross)
    banded, shing = _banding_with_sets(
        df, id_col, text_col, shingle_n=shingle_n, num_hashes=num_hashes,
        bands=bands, seed=seed, hash_fn=hash_fn, spread=not _pre_spread)
    pairs = _bucket_pairs(banded, id_col)
    return _jaccard_verify(pairs, shing, id_col, threshold)


def _banding_with_sets(df: DataFrame, id_col: str, text_col: str,
                       shingle_n: int, num_hashes: int, bands: int,
                       seed: int, hash_fn: str,
                       spread: bool = True):
    """(banded, sets) — the one shingle/MinHash kernel: LSH banding rows
    (id, __band, __bh) AND per-doc distinct-shingle surrogate sets
    (id, __sh). minhash_banding is its banding projection and
    lsh_pairs_incremental verifies against its sets, so the full and
    the stored-index LSH paths share the hash expressions, band keys
    and vocabulary rank by construction, not by copy.

    Both outputs are projections of one groupBy(id) aggregate, but the
    optimizer prunes each consumer to its OWN id-keyed aggregate: the
    banding side aggregates the num_hashes min()s (a SortAggregate in
    md5 mode — binary buffers), the verify side a separate
    ObjectHashAggregate of collect_set(__sid). What the two sides
    really share is the distinct-vocabulary (__s) exchange: the hash
    projection reads it, and the rank window reads it back as a
    ReusedExchange (pinned by test).

    The explode keeps shingle INSTANCES: min() and collect_set are
    idempotent, so a per-doc array_distinct buys nothing. md5 mode's
    min() runs over the 16-byte UNHEXed digest, not the 32-char hex
    string: lowercase fixed-width hex sorts exactly like its bytes, so
    min(unhex(h)) == unhex(min(h)) and the signatures converted back
    with lower(hex(...)) are byte-identical, while every min buffer
    compares/copies half the bytes (measured ~2x on the banding
    aggregate at sf0.1).

    Each DISTINCT shingle is hashed once and re-attached, instead of
    evaluating num_hashes hash expressions per (doc, shingle) row:
    sig[j] is a function of the shingle VALUES, so the minimum over
    join-attached hashes is identical, and vocabularies are tiny next
    to instance rows (sf0.1: 2 041 distinct vs 1.0M rows). The vocab
    side is BROADCAST — a character n-gram vocabulary is
    charset-bounded and the partial distinct collapses it before
    anything moves — so instance rows never shuffle for this join and
    the per-doc aggregation runs map-side-partial in the scan stage
    (the sort-merge shape measured 10.9 s → 2.4 s at sf0.1).

    The sets carry LONG surrogate ids, not shingle strings: a
    deterministic rank (row_number ordered by shingle — injective and
    stable across re-executions, so the two verify sides agree even
    without a shared exchange). Verify consumers take only
    intersection/union SIZES, which an injective map preserves, while
    their exchanges and array_intersect/array_union move 8-byte longs
    (measured −1.2 s on the minhash verify at sf0.1).

    Null-shingle instances are dropped by the inner vocab join, so
    null-text docs have no row in either output; null-id docs are
    filtered above the aggregate (collect_set over ids already dropped
    them from every bucket, so they never paired; the explicit filter
    also ABSORBS the isnotnull predicates the verify joins would
    otherwise push per consumer, de-canonicalizing the shared
    subplan)."""
    rows_per_band = num_hashes // bands
    exploded = _shingle_instances(_spread(df) if spread else df,
                                  id_col, text_col, shingle_n)
    if hash_fn == "md5":
        hexprs = [F.unhex(F.md5(F.concat(F.lit(f"{j}:"), F.col("__s"))))
                  .alias(f"__h{j}") for j in range(num_hashes)]
    else:
        coeffs = _minhash_coeffs(num_hashes, seed)
        h = F.xxhash64(F.col("__s"))
        hexprs = [F.pmod(h * a + b, F.lit(MERSENNE_PRIME))
                  .alias(f"__h{j}") for j, (a, b) in enumerate(coeffs)]
    vocab = (exploded.where(F.col("__s").isNotNull())
             .select("__s").distinct()
             .select(F.col("__s"), *hexprs,
                     F.row_number().over(Window.orderBy("__s"))
                      .cast("long").alias("__sid")))
    joined = exploded.join(F.broadcast(vocab), on="__s")
    comb = (joined.groupBy(id_col)
            .agg(*[F.min(F.col(f"__h{j}")).alias(f"__mh{j}")
                   for j in range(num_hashes)],
                 F.collect_set("__sid").alias("__shs"))
            .where(F.col(id_col).isNotNull()))
    sig_elem = (lambda j: F.lower(F.hex(F.col(f"__mh{j}")))) \
        if hash_fn == "md5" else (lambda j: F.col(f"__mh{j}"))
    sig = (comb.select(id_col,
                       F.array(*[sig_elem(j) for j in range(num_hashes)])
                       .alias("__sig")))
    if hash_fn == "md5":
        band_key = lambda b: F.md5(F.concat_ws("|", F.slice(  # noqa: E731
            F.col("__sig"), b * rows_per_band + 1, rows_per_band)))
    else:
        band_key = lambda b: F.xxhash64(F.slice(  # noqa: E731
            F.col("__sig"), b * rows_per_band + 1, rows_per_band)
            .cast("string"))
    banded = sig.select(
        id_col,
        F.posexplode(F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            band_key)).alias("__band", "__bh"))
    sets = comb.select(F.col(id_col),
                       F.col("__shs").cast("array<long>").alias("__sh"))
    return banded, sets


def _bucket_pairs(banded: DataFrame, id_col: str) -> DataFrame:
    """Distinct (id_a < id_b) candidate pairs from (id, __band, __bh)
    banding rows. Grouping each bucket and expanding its sorted id set
    in place replaces the banding self-join: the join re-executed the
    whole signature subplan on BOTH sides (alias-renamed projections
    defeat ReuseExchange) and shuffled it twice; this shape executes the
    banding once through a single exchange. The in-bucket expansion is
    b² per bucket — the same candidate count the join produced, and
    bounded by the LSH bucket-size premise."""
    buckets = (banded.groupBy("__band", "__bh")
                     .agg(F.sort_array(F.collect_set(F.col(id_col)))
                          .alias("__ids"))
                     .where(F.size("__ids") >= 2))
    return (_sorted_pairs(buckets, "__ids", "id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"]))


def minhash_banding(df: DataFrame, id_col: str, text_col: str,
                    shingle_n: int = 5, num_hashes: int = 64,
                    bands: int = 16, seed: int = 42,
                    hash_fn: str = "xxhash64",
                    spread: bool = True) -> DataFrame:
    """(id, __band, __bh) LSH banding rows for every doc — the STORED
    near-dup INDEX of a corpus: band-hash buckets are the only state the
    candidate join needs, so persisting this narrow table (3 columns,
    `bands` rows per doc) lets later ingest batches dedup against the
    full history WITHOUT recomputing it (lsh_pairs_incremental).

    Signature via explode + num_hashes min() aggregates — identical
    values to minhash_signature (same coefficients, same long
    arithmetic) but inside codegen'd HashAggregate with map-side partial
    aggregation, instead of interpreted per-element higher-order
    functions (HOF lambdas don't participate in whole-stage codegen;
    measured 10×+ faster at 5k docs). Banding rows stay NARROW — the
    bucket self-join is quadratic in bucket size, and a dup-heavy corpus
    makes buckets big, so candidate rows must not carry shingle arrays.

    This is the banding projection of _banding_with_sets. Null-id docs
    emit no index rows (the kernel filters them out, and
    lsh_pairs_incremental drops null ids anyway, so no pair changes);
    null-text docs never did.
    """
    return _banding_with_sets(df, id_col, text_col, shingle_n, num_hashes,
                              bands, seed, hash_fn, spread=spread)[0]


def _jaccard_verify(pairs: DataFrame, shing: DataFrame, id_col: str,
                    threshold: float) -> DataFrame:
    """Exact-jaccard verification of candidate (id_a, id_b) pairs against
    a (id, __sh) shingle-set table: two narrow hash joins re-attach the
    sets once per surviving candidate."""
    cand = (pairs
            .join(shing.select(F.col(id_col).alias("id_a"),
                               F.col("__sh").alias("sh_a")), on="id_a")
            .join(shing.select(F.col(id_col).alias("id_b"),
                               F.col("__sh").alias("sh_b")), on="id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (cand.withColumn("jaccard", inter / union)
                .filter(F.col("jaccard") >= threshold)
                .select("id_a", "id_b",
                        F.round("jaccard", 4).alias("jaccard")))


def lsh_pairs_incremental(index: DataFrame, corpus: DataFrame,
                          new_docs: DataFrame, id_col: str, text_col: str,
                          shingle_n: int = 5, num_hashes: int = 64,
                          bands: int = 16, threshold: float = 0.7,
                          seed: int = 42,
                          hash_fn: str = "xxhash64") -> DataFrame:
    """Near-dup pairs TOUCHING an ingest batch, against a stored index.

    The daily-refresh shape at 100 TB: re-running minhash_lsh_pairs on
    old ∪ new re-shingles and re-pairs the entire history for every
    batch. Instead, `index` = minhash_banding(historical corpus), stored
    once and appended per batch; this call

      1. computes banding rows for `new_docs` only (cost ∝ batch);
      2. candidate-joins them against index ∪ new banding — every pair
         involves ≥1 new doc by construction, old-old pairs never form;
      3. exact-jaccard-verifies survivors, re-shingling ONLY the docs a
         candidate touches (a semi-join prunes the historical `corpus`
         to candidate ids before shingling — point lookups, not a scan).

    Output is exactly `minhash_lsh_pairs(old ∪ new)` filtered to pairs
    touching a new id (pinned by test), with id_a < id_b; feed it to
    cc_incremental to maintain the duplicate clusters themselves.
    `corpus` must be the docs the index was built over; `new_docs` ids
    must be disjoint from it.
    """
    new_band = minhash_banding(new_docs, id_col, text_col,
                               shingle_n=shingle_n, num_hashes=num_hashes,
                               bands=bands, seed=seed, hash_fn=hash_fn)
    # ONE bucket aggregate replaces the band-keyed equi-join (r11,
    # guide §2.4): the join shape executed the new-batch banding kernel
    # on BOTH sides (left probe + right union branch) and shuffled the
    # banding rows twice; grouping each (band, bh) bucket once and
    # expanding new-touching (a < b) member pairs in place runs the
    # kernel once through a single exchange — and `touched` reads the
    # SAME bucket aggregate instead of re-executing the whole pair
    # subplan for its broadcast build (the r10 verdict's "2 executions
    # by design", now 1). The id-not-null filter reproduces the join's
    # null-key semantics (null ids never matched) and absorbs the
    # isnotnull predicates downstream joins would otherwise push
    # per-consumer, de-canonicalizing the shared exchange.
    all_band = (index.select(id_col, "__band", "__bh")
                .withColumn("__new", F.lit(False))
                .unionByName(new_band.withColumn("__new", F.lit(True)))
                .where(F.col(id_col).isNotNull()))
    buckets = (all_band.groupBy("__band", "__bh")
               .agg(F.sort_array(F.collect_set(
                        F.struct(F.col(id_col).alias("__id"),
                                 F.col("__new")))).alias("__ms"),
                    F.max("__new").alias("__any"))
               .where((F.size("__ms") >= 2) & F.col("__any")))
    # ids are unique per bucket (one row per (id, band); index and new
    # ids disjoint by contract), so the sorted (i < j) expansion
    # filtered to pairs touching a new id emits exactly the join's
    # (least, greatest) pair set: (a, b) paired iff some bucket holds
    # both and at least one side is new.
    mp = _sorted_pairs(buckets, "__ms", "__a", "__b")
    pairs = (mp.where(F.col("__a.__new") | F.col("__b.__new"))
               .select(F.col("__a.__id").alias("id_a"),
                       F.col("__b.__id").alias("id_b"))
               .dropDuplicates(["id_a", "id_b"]))
    # Touched ids straight off the qualifying buckets: every member of
    # a bucket with >= 2 distinct ids and >= 1 new id forms at least
    # one pair with a new id (ids disjoint between index and batch), so
    # this is EXACTLY the set of ids appearing in `pairs` — without
    # executing the pair expansion a second time for the broadcast
    # build. Broadcast is bounded: |touched| <= 2 x candidate pairs,
    # the quantity the LSH banding premise keeps small — and it turns
    # the history-side semi-join into a map-side filter (no shuffle of
    # the corpus), which IS the incremental contract's point-lookup
    # shape at 100 TB.
    touched = (buckets.select(F.explode("__ms").alias("__m"))
                      .select(F.col("__m.__id").alias(id_col))
                      .distinct())
    docs = corpus.select(id_col, text_col) \
                 .unionByName(new_docs.select(id_col, text_col))
    _, shing = _banding_with_sets(
        docs.join(F.broadcast(touched), on=id_col, how="left_semi"),
        id_col, text_col, shingle_n, num_hashes, bands, seed, hash_fn,
        spread=False)
    return _jaccard_verify(pairs, shing, id_col, threshold)


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3, threshold: float = 0.5,
                        block_col: str | list[str] | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs. Quadratic within a block —
    pass block_col (one or more columns, e.g. [language, source]) to bound
    the self-join; without it this is a full cross-pair comparison (test
    scale only). At 100 TB the block product must keep per-block cardinality
    ~1e4; the sub-quadratic path is minhash_lsh_pairs."""
    if isinstance(block_col, str):
        block_col = [block_col]
    base = _spread(df).select(F.col(id_col),
                              shingles(text_col, n).alias("__sh"),
                              *[F.col(c) for c in (block_col or [])])
    on = list(block_col) if block_col else None
    a = base.select(*(on or []), F.col(id_col).alias("id_a"),
                    F.col("__sh").alias("sh_a"),
                    F.size("__sh").alias("__sza"))
    b = base.select(*(on or []), F.col(id_col).alias("id_b"),
                    F.col("__sh").alias("sh_b"),
                    F.size("__sh").alias("__szb"))
    j = a.join(b, on=on) if on else a.crossJoin(b)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    # |union| from the per-side DISTINCT set sizes (shingles() is
    # array_distinct): |a ∪ b| = |a| + |b| − |a ∩ b| — halves the
    # per-pair array work vs a second array_union hash pass. size(null)
    # = −1, so the null-shingle case keeps the old size(array_union)
    # = −1 result (and jaccard −1/−1 = 1.0) via the explicit guard.
    union = F.when((F.col("__sza") < 0) | (F.col("__szb") < 0),
                   F.lit(-1)) \
             .otherwise(F.col("__sza") + F.col("__szb") - inter)
    return (j.filter(F.col("id_a") < F.col("id_b"))
             .withColumn("jaccard", inter / union)
             .filter(F.col("jaccard") >= threshold)
             .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard")))


def containment_pairs(df: DataFrame, id_col: str, text_col: str,
                      n: int = 3, threshold: float = 0.8,
                      max_df: int | None = 50,
                      max_df_frac: float | None = None,
                      max_df_floor: int = 50) -> DataFrame:
    """DIRECTED containment near-dup pairs: (id_a, id_b, containment)
    with containment(a→b) = |S(a) ∩ S(b)| / |S(a)| over character
    n-gram shingle sets — the asymmetric complement of Jaccard. A short
    document quoted wholesale inside a long one scores ~1.0 here while
    its Jaccard ≈ |a|/|b| can be arbitrarily small: wire stories
    embedded in pages, license blocks, quoted posts — the duplication
    class every Jaccard-thresholded pass structurally misses.

    Scale shape — inverted index, never all-pairs: distinct
    (id, shingle) rows carry a windowed document frequency; per-shingle
    posting lists (cost Σ df² over the kept vocabulary — the
    pmi_pairs/item_cooccurrence contract) collapse by identical-list
    multiplicity, then one weighted (a, b) sum counts shared shingles
    exactly.

    ``max_df`` is the join's cost ceiling AND part of the semantics:
    shingles appearing in more than ``max_df`` documents (counting
    exact duplicates) are dropped from BOTH the intersection and the
    denominator — containment is defined over the informative-shingle
    space (boilerplate n-grams should not certify quotation), which
    keeps the definition deterministic and oracle-replayable rather
    than an approximation of an uncapped number. df is weighted by
    exact-duplicate multiplicity so the capped vocabulary is identical
    with and without the collapse below.

    Exact duplicates pre-collapse through the shared
    _exact_text_groups machinery (minhash_lsh_pairs' rationale: an
    m-doc identical group floods every shared shingle's posting list);
    shared counts and sizes are functions of the texts alone, so
    representative-level results expand to members unchanged —
    parity with the direct path is pinned in tests. Null texts never
    shingle and never pair.

    ``max_df_frac`` makes the cap CORPUS-RELATIVE *inside the plan*:
    cap = greatest(``max_df_floor``, floor(frac * non-null docs)),
    computed as a 1-row count aggregate broadcast into the df filter —
    no eager action at query-construction time, so a caller who never
    materializes the result pays nothing (an absolute cap does not
    transfer across corpus sizes: a shared shingle's df grows linearly
    with the corpus, so a fixed cap that keeps structure at 500 docs
    blacks it out at 5,000). When set, ``max_df`` is ignored.
    """
    # spread once on the scan-shaped input (see _spread's caller
    # contract); members/uniq and the cap count inherit the parallelism
    df = _spread(df.select(id_col, text_col))
    members, _uniq = _exact_text_groups(df, id_col, text_col)
    gsz = members.where(F.col(id_col) == F.col("__gid")) \
                 .select(F.col(id_col), F.col("__gn"))
    # Vocabulary in ONE shingle-keyed aggregate (r11, guide §2.4/§2.2):
    # the previous chain ran THREE instance-scale shuffles — a
    # dropDuplicates on (id, shingle), a per-instance join attaching the
    # group size, and a duplicate-weighted-df window over the shingle —
    # before the posting-list groupBy. Now the group size rides along
    # from a PRE-explode join against the distinct texts (one row per
    # text, replacing uniq's reps join — no instance-scale join at
    # all), collect_set dedups (id, gn) pairs exactly like the old
    # dropDuplicates, and the weighted df is a HOF sum over the
    # vocabulary-sized rows (12.7k rows at sf0.1 — interpreted lambdas
    # are irrelevant there). One explicit npart repartition keys the
    # aggregate so the heavy exchange runs at full parallelism rather
    # than a latency-tuned spark.sql.shuffle.partitions.
    nn = df.where(F.col(text_col).isNotNull())
    uniq_gn = nn.select(F.col(id_col), F.col(text_col)).join(gsz, on=id_col)
    inst = _shingle_instances(uniq_gn, id_col, text_col, n, carry=("__gn",))
    spark = df.sparkSession
    npart = max(spark.sparkContext.defaultParallelism,
                shuffle_partitions(spark))
    vocab = (inst.repartition(npart, "__s")
                 .groupBy("__s")
                 .agg(F.collect_set(
                     F.struct(F.col(id_col).alias("__id"),
                              F.col("__gn"))).alias("__set")))
    dfw = F.aggregate("__set", F.lit(0).cast("long"),
                      lambda acc, x: acc + x["__gn"])
    keptv = vocab.withColumn("__df", dfw)
    if max_df_frac is not None:
        # 1-row lazy cap: greatest(floor, floor(frac * N)) over non-null
        # texts, duplicate-inclusive — identical to the eager
        # max(floor, N // (1/frac)) a caller would precompute, but the
        # count runs inside the job (broadcast of one row, AQE turns the
        # crossJoin into a BroadcastNestedLoopJoin of a scalar).
        cap = (df.where(F.col(text_col).isNotNull())
                 .agg(F.greatest(
                     F.lit(int(max_df_floor)).cast("long"),
                     F.floor(F.count(F.lit(1)) * F.lit(float(max_df_frac)))
                 ).alias("__cap")))
        keptv = keptv.crossJoin(F.broadcast(cap)) \
                     .where(F.col("__df") <= F.col("__cap")).drop("__cap")
    elif max_df is not None:
        keptv = keptv.where(F.col("__df") <= F.lit(int(max_df)))
    # Sorted posting list per kept shingle, feeding both per-doc sizes
    # and pair counting. The explicit repartition is the reuse point:
    # both consumers' plans start at this identical exchange, so
    # ReuseExchange computes the vocabulary subplan once. Vocabulary-
    # sized rows with df-capped lists — a cheap exchange.
    lists = (keptv.select(
                 "__s",
                 F.sort_array(F.transform("__set", lambda x: x["__id"]))
                  .alias("__ids"))
                  .repartition(npart, "__s"))
    sizes = (lists.select(F.explode("__ids").alias(id_col))
                  .groupBy(id_col).agg(F.count(F.lit(1)).alias("__sz")))
    # Shared-shingle counts: consecutive shingles of a shared passage
    # co-occur in exactly the same documents, so identical posting
    # lists collapse to one row with a multiplicity weight before pair
    # expansion (measured 132.5M → 74.2M pair instances at sf0.1).
    # Expansion then ships ONE row per (list, anchor) — the anchor and
    # its ordered-partner slice — partitioned by id_a alone, so the
    # per-(id_a, id_b) sum aggregates after the exchange with no second
    # shuffle (hash(id_a) clusters every (id_a, *) key) and the
    # exchange carries array payloads instead of one row per pair
    # instance (measured 24.0 → 9.6 s for this stage at sf0.1). Ids are
    # unique per list and sorted, so slice(i+2 ...) emits exactly the
    # (id_a < id_b) pairs, and Σ weights per pair = the exact shared
    # kept-shingle count.
    wl = (lists.where(F.size("__ids") >= 2)
               .groupBy("__ids").agg(F.count(F.lit(1)).alias("__w")))
    pe = wl.select(F.posexplode("__ids").alias("__i", "id_a"),
                   F.col("__ids"), F.col("__w"))
    anchors = (pe.select(
                   "id_a", "__w",
                   F.slice(F.col("__ids"), F.col("__i") + 2,
                           F.greatest(F.size("__ids") - F.col("__i") - 1,
                                      F.lit(0))).alias("__ptn"))
                 .where(F.size("__ptn") >= 1))
    shared = (anchors.repartition(npart, "id_a")
                     .select("id_a", F.explode("__ptn").alias("id_b"),
                             "__w")
                     .groupBy("id_a", "id_b")
                     .agg(F.sum("__w").alias("__c")))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("__sz").alias("__sa"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("__sz").alias("__sb"))
    rp = shared.join(sa, on="id_a").join(sb, on="id_b")
    # BOTH directed ratios from one Generate over each undirected pair
    # row, not a fwd∪rev two-branch union: the union branches are two
    # consumers of rp, and everything in rp above its nearest exchange
    # — the Σdf² pair-instance expansion + aggregation, the operator's
    # dominant stage — re-executes once per branch (§2.4: the same
    # renamed-consumer trap as the verify joins). Same rows, one pass.
    both = rp.select(F.explode(F.array(
        F.struct(F.col("id_a").alias("a"), F.col("id_b").alias("b"),
                 (F.col("__c") / F.col("__sa")).alias("ct")),
        F.struct(F.col("id_b").alias("a"), F.col("id_a").alias("b"),
                 (F.col("__c") / F.col("__sb")).alias("ct"))))
        .alias("__p"))
    rep_pairs = (both.select(F.col("__p.a").alias("id_a"),
                             F.col("__p.b").alias("id_b"),
                             F.col("__p.ct").alias("__ct"))
                     .where(F.col("__ct") >= F.lit(threshold)))
    # directed expansion — _expand_rep_pairs reorients to (least,
    # greatest), which would erase the containment direction; same
    # _group_members array-attach + explode-after-join shape, keeping
    # (a → b) orientation
    gm = _group_members(members, id_col)
    ga = gm.select(F.col("__gid").alias("id_a"),
                   F.col("__ids").alias("__ias"))
    gb = gm.select(F.col("__gid").alias("id_b"),
                   F.col("__ids").alias("__ibs"))
    cross = (rep_pairs.join(ga, on="id_a").join(gb, on="id_b")
             .select(F.explode("__ias").alias("__ia"), "__ibs", "__ct")
             .select(F.col("__ia").alias("id_a"),
                     F.explode("__ibs").alias("id_b"), "__ct"))
    # exact duplicates contain each other fully — but only while their
    # kept-shingle set is nonempty (a group whose every shingle
    # exceeds max_df has an undefined ratio and emits nothing, same
    # as the direct path)
    within = (_within_group_pairs(members, id_col)
              .join(sizes.select(F.col(id_col).alias("__gid")), on="__gid")
              .select("id_a", "id_b"))
    within = (within.unionByName(
                  within.select(F.col("id_b").alias("id_a"),
                                F.col("id_a").alias("id_b")))
              .select("id_a", "id_b",
                      F.lit(1.0).alias("__ct"))
              .where(F.lit(1.0) >= F.lit(threshold)))
    return (cross.unionByName(within)
            .select("id_a", "id_b",
                    F.round("__ct", 4).alias("containment")))


def simhash(df: DataFrame, id_col: str, text_col: str,
            shingle_n: int = 4, hash_fn: str = "xxhash64") -> DataFrame:
    """64-bit SimHash per document, fully vectorized:

    For each bit position b, the signature bit is 1 iff
    sum over shingles of sign(bit b of hash(shingle)) > 0.

    hash_fn='xxhash64' (default): bits come from xxhash64; signature is a
    long; computed with one transform/aggregate pipeline per doc — linear
    work, no UDFs, no shuffle (narrow transformation).

    hash_fn='md5': bits come from the 16 hex nibbles of md5(shingle);
    signature is the 16-hex-char string. md5 is byte-identical across
    engines, so this variant is exact-oracle-checkable in ANSI SQL. It is
    also the better scale shape: explode + 64 codegen'd sum() aggregates
    (map-side partial agg) instead of interpreted per-element HOF lambdas.
    """
    if hash_fn == "md5":
        return _simhash_md5(df, id_col, text_col, shingle_n)
    hashed = F.transform(shingles(text_col, shingle_n),
                         lambda s: F.xxhash64(s))
    # Per bit position: majority vote over shingle-hash bits. shiftright
    # needs a literal bit count, so the 64 positions unroll in Python —
    # still one narrow projection, whole-stage codegen'd.
    def _voter(b: int):
        def merge(acc, h):
            return acc + F.when(
                F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1,
                F.lit(1)).otherwise(F.lit(-1))
        return merge

    sig = F.lit(0).cast("long")
    for b in range(64):
        vote = F.aggregate(hashed, F.lit(0), _voter(b))
        sig = sig + F.when(vote > 0,
                           F.shiftleft(F.lit(1).cast("long"), b)) \
                     .otherwise(F.lit(0).cast("long"))
    return df.select(F.col(id_col), sig.alias("simhash"))


def _simhash_md5(df: DataFrame, id_col: str, text_col: str,
                 shingle_n: int) -> DataFrame:
    """Portable SimHash: bit b of a shingle is bit (3 - b%4) of hex nibble
    b//4 of md5(shingle). Majority vote per bit via 64 sum() aggregates
    over the per-doc DISTINCT shingle set; nibbles reassemble to a hex
    string.

    The 64 nibble-extraction expressions (md5 + substring + conv +
    shift per bit) are a function of the shingle VALUE alone, so they
    evaluate once per DISTINCT shingle and re-attach by broadcast join
    (the minhash_banding vocab trick: a character n-gram vocabulary is
    charset-bounded — sf0.1: 2 041 distinct vs ~1.0M instance rows →
    ~500× fewer md5/conv evaluations). Unlike minhash's min(), the ±1
    vote sum is NOT duplicate-idempotent, so instances dedup per
    (id, shingle) first — a narrow two-column exchange whose map-side
    partial aggregation collapses in-doc repeats before anything
    moves."""
    exploded = (_shingle_instances(_spread(df), id_col, text_col,
                                   shingle_n)
                .dropDuplicates([id_col, "__s"]))
    m = F.md5(F.col("__s"))
    bitcols = []
    for b in range(64):
        nib = F.conv(F.substring(m, b // 4 + 1, 1), 16, 10).cast("int")
        bit = F.shiftright(nib, 3 - b % 4).bitwiseAND(F.lit(1))
        bitcols.append(F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1))
                        .alias(f"__b{b}"))
    hv = exploded.select("__s").distinct().select(F.col("__s"), *bitcols)
    # null-SAFE equality: a null-text doc shingles to a single null
    # instance, whose md5 is null and whose 64 votes are all -1 — the
    # exact signature the inline expressions produced; a plain equi-join
    # would silently drop the doc instead. EqualNullSafe is a valid
    # hash-join key, so this stays a BroadcastHashJoin.
    e, h = exploded.alias("__simh_e"), F.broadcast(hv.alias("__simh_h"))
    joined = (e.join(h, on=F.col("__simh_e.__s")
                          .eqNullSafe(F.col("__simh_h.__s")))
               .select(F.col("__simh_e." + id_col).alias(id_col),
                       *[F.col(f"__simh_h.__b{b}") for b in range(64)]))
    aggs = [F.sum(F.col(f"__b{b}")).alias(f"__v{b}") for b in range(64)]
    votes = joined.groupBy(id_col).agg(*aggs)
    hexdigits = F.array(*[F.lit(c) for c in "0123456789abcdef"])
    chars = []
    for p in range(16):
        nv = None
        for k in range(4):
            term = F.when(F.col(f"__v{4 * p + k}") > 0,
                          F.lit(1 << (3 - k))).otherwise(F.lit(0))
            nv = term if nv is None else nv + term
        chars.append(F.element_at(hexdigits, nv + 1))
    return votes.select(F.col(id_col), F.concat(*chars).alias("simhash"))


def embedding_dedup_pairs(df: DataFrame, id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          threshold: float = 0.9,
                          method: str = "exact",
                          n_planes: int = 10, bands: int = 6,
                          seed: int = 42) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b) with
    cosine(vec_a, vec_b) >= threshold and id_a < id_b.

    method='exact': all-pairs self-join — O(n²) compare but each compare is
    a codegen'd zip_with/aggregate in double precision; correct at any
    threshold. This is the oracle-checkable path; use it per-bucket, not
    globally, at scale.

    method='lsh': signed-random-projection pre-bucketing (the 100 TB path) —
    pairs are generated only within SRP hash-bucket collisions across
    `bands` independent tables, then exact-cosine verified. Collision
    probability for angle θ is (1-θ/π)^n_planes per band; recall rises with
    bands at linear extra cost. Same output schema; approximate recall.
    """
    from .similarity import _dot, _hyperplanes, _norm, _srp_bucket

    # Normalize once per row (n normalizations), so every pair compare is
    # a single dot product instead of dot + two norms — 3× less work in
    # the O(n²)/per-bucket hot loop; cosine(a,b) == dot(â, b̂).
    raw = F.col(vec_col).cast("array<double>")
    base = df.select(
        F.col(id_col),
        F.transform(raw, lambda x: x / _norm(raw)).alias("__v"))
    if method == "exact":
        # _spread the STREAM side: the broadcast-NL cross join runs one
        # task per left partition, so a single-row-group scan runs the
        # whole O(n²) interpreted dot-product kernel on one core.
        a = _spread(base).select(F.col(id_col).alias("id_a"),
                                 F.col("__v").alias("__va"))
        b = base.select(F.col(id_col).alias("id_b"),
                        F.col("__v").alias("__vb"))
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    else:
        dim = len(df.select(vec_col).first()[0])
        tables = [_hyperplanes(dim, n_planes, seed + 101 * t)
                  for t in range(bands)]
        bucketed = base
        for t, planes in enumerate(tables):
            bucketed = bucketed.withColumn(
                f"__b{t}", _srp_bucket(F.col("__v"), planes))
        cand = None
        for t in range(bands):
            left = bucketed.select(F.col(id_col).alias("id_a"),
                                   F.col("__v").alias("__va"),
                                   F.col(f"__b{t}").alias("__bk"))
            right = bucketed.select(F.col(id_col).alias("id_b"),
                                    F.col("__v").alias("__vb"),
                                    F.col(f"__b{t}").alias("__bk"))
            p = left.join(right, on="__bk") \
                    .filter(F.col("id_a") < F.col("id_b")) \
                    .select("id_a", "id_b", "__va", "__vb")
            cand = p if cand is None else cand.unionByName(p)
        pairs = cand.dropDuplicates(["id_a", "id_b"])
    return (pairs
            .withColumn("__cos", _dot(F.col("__va"), F.col("__vb")))
            .filter(F.col("__cos") >= F.lit(float(threshold)))
            .select("id_a", "id_b"))


def duplicate_spans(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", span_len: int = 50,
                    anchor_gram: int = 8, threshold_pct: int = 20
                    ) -> DataFrame:
    """ExactSubstr-style duplicate-span detection (the Lee et al. 2021
    "Deduplicating Training Data Makes Language Models Better" pass),
    re-expressed for Spark via content-defined anchoring (winnowing/MOSS
    family) instead of a suffix array:

    - Candidate positions are CONTENT-DEFINED: p is an anchor iff the
      first md5 nibble of the `anchor_gram`-char gram at p is '0'
      (P=1/16, so anchors land every ~16 chars in expectation). Because
      the rule depends only on the characters, two documents sharing a
      long verbatim region pick the SAME anchors inside it — no stride
      phase alignment problem, unlike fixed-stride sampling.
    - Each anchor emits the md5 of the `span_len`-char span starting
      there (spans that would run past the end are skipped); per-doc
      spans are deduplicated before the explode.
    - One shuffle on span hash counts distinct docs per span; spans seen
      in >1 doc are duplicated spans. Per doc: n_spans (anchored spans
      sampled), n_dup_spans (of those, shared with another doc), and
      keep iff n_dup_spans*100 <= threshold_pct*n_spans (exact integer
      test; docs too short to anchor any span are kept).

    100 TB posture: the suffix-array original is a single-node
    construction; this formulation is linear — per-row native md5/HOF
    expressions (whole-stage codegen), explode amplification bounded by
    len/16 rows of 32-byte hashes (not text), and the only exchanges are
    the span-hash groupBy plus two map-side-combined per-doc aggs. The
    long tail of unique spans never leaves its mapper un-combined.
    """
    c = F.col(text_col)
    n_pos = F.length(c) - F.lit(span_len - 1)
    pos = F.when(n_pos >= 1, F.sequence(F.lit(1), n_pos)) \
           .otherwise(F.array().cast("array<int>"))
    anchors = F.filter(pos, lambda p: F.substring(
        F.md5(c.substr(p, F.lit(anchor_gram)).cast("binary")), 1, 1)
        == F.lit("0"))
    spans = F.array_distinct(F.transform(
        anchors, lambda p: F.md5(c.substr(p, F.lit(span_len))
                                 .cast("binary"))))
    from pyspark.sql.window import Window
    # _spread: the anchor scan (one md5 per candidate position — by far
    # the operator's most expensive kernel) otherwise runs inside the
    # single-task scan partition of a single-row-group input.
    ex = (_spread(df.where(c.isNotNull()).select(id_col, text_col))
            .select(F.col(id_col).alias("__id"),
                    F.explode(spans).alias("__h")))
    # spans are distinct per doc, so count(*) per span hash = #docs holding
    # it; the window shares the one span-hash exchange with nothing else and
    # keeps the whole operator to a SINGLE pass over text (the anchor md5
    # scan is the expensive part — don't recompute it per output column)
    per = ex.withColumn(
        "__nd", F.count("*").over(Window.partitionBy("__h")))
    stats = (per.groupBy("__id")
                .agg(F.count("*").alias("n_spans"),
                     F.sum(F.when(F.col("__nd") > 1, 1)
                            .otherwise(0)).alias("n_dup_spans"))
                .withColumnRenamed("__id", id_col))
    out = (df.select(F.col(id_col))
             .join(stats, on=id_col, how="left")
             .na.fill({"n_spans": 0, "n_dup_spans": 0}))
    return out.select(
        F.col(id_col),
        F.col("n_spans").cast("long").alias("n_spans"),
        F.col("n_dup_spans").cast("long").alias("n_dup_spans"),
        (F.col("n_dup_spans") * 100
         <= F.lit(int(threshold_pct)) * F.col("n_spans")).alias("keep"))


def set_similarity_pairs(df: DataFrame, id_col: str, text_col: str,
                         shingle_n: int = 5,
                         threshold: float = 0.6,
                         collapse_exact: bool = True) -> DataFrame:
    """EXACT Jaccard set-similarity self-join via prefix filtering (the
    AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al.
    WWW'08): every pair with Jaccard(shingles_a, shingles_b) >=
    threshold, with no all-pairs comparison and no approximation.

    This completes the similarity-join spectrum next to
    minhash_lsh_pairs (approximate, scalable) and ngram_jaccard_pairs
    (exact, blocked-quadratic): exact AND sub-quadratic.

    How: tokens get a global rarity order (document frequency asc, then
    token); each set, sorted in that order, exposes only its PREFIX of
    size |s| - ceil(t*|s|) + 1. Two sets with J >= t MUST share a
    prefix token (if they shared none, the overlap is confined to the
    two suffixes, too small to reach t) — so an equi-join on prefix
    tokens is a complete candidate generator, and rare-first ordering
    makes prefix buckets the SMALLEST ones. A length filter
    (t*|a| <= |b|) prunes further; the exact intersection verifies.

    Verification uses integer ppm arithmetic (inter*1e6 >= ppm*union) —
    no float threshold boundary. Output: id_a < id_b, inter, uni
    (exact set sizes, SQL-reproducible).

    Candidates are further pruned by the PPJoin POSITIONAL filter
    before any array is touched: a pair first meeting at prefix
    positions (pa, pb) can overlap at most 1 + min(na-pa-1, nb-pb-1),
    which must reach the Jaccard-equivalent overlap floor
    alpha = ceil(t*(na+nb)/(1+t)) — computed in exact integer
    arithmetic, so the prune can never drop a true pair.

    100 TB posture: linear explode of prefixes (the ~(1-t) rarest
    fraction of each set), one equi-join shuffle whose buckets are
    rare-token document lists, verification only on candidates with
    the two set arrays joined back by id. The df-ordering pass is one
    groupBy over tokens — map-side combined. CAVEAT: prefix filtering
    presumes a selective token distribution; on low-entropy corpora
    pick shingle_n long enough that document frequencies are small
    (the registered query uses 12-gram shingles for exactly this
    reason), or use minhash_lsh_pairs.

    ``collapse_exact`` (default on): identical texts share their whole
    prefix, so an exact-dup group of m docs floods the prefix buckets
    with m² candidates AND inflates every shared token's document
    frequency (pushing it rarer docs' prefixes too). Like
    minhash_lsh_pairs, the join runs on the DISTINCT texts and expands
    afterwards — provably identical output (within-group pairs have
    inter = uni = |shingle set| by definition).
    """
    if collapse_exact:
        # spread once on the scan-shaped input (see _spread's caller
        # contract); uniq inherits the parallelism
        members, uniq = _exact_text_groups(
            _spread(df.select(id_col, text_col)), id_col, text_col)
        cand, base, ppm = set_similarity_candidates(
            uniq, id_col, text_col, shingle_n=shingle_n,
            threshold=threshold, spread=False)
        rep_pairs = _setsim_verify(cand, base, ppm)
        # within-group set size straight off the candidate base's
        # id-keyed aggregate (its __n IS |distinct shingle set|) —
        # the old separate shingles()-size pass re-ran the shingle
        # kernel over every representative a second time
        sz = base.select(F.col("__id").alias("__gid"),
                         F.col("__n").alias("__sz"))
        within = (_within_group_pairs(members, id_col)
                  .join(sz, on="__gid")
                  .select("id_a", "id_b",
                          F.col("__sz").cast("long").alias("inter"),
                          F.col("__sz").cast("long").alias("uni"))
                  .where(F.lit(1_000_000) >= F.lit(ppm)))
        cross = _expand_rep_pairs(rep_pairs, members, id_col,
                                  ["inter", "uni"])
        return within.unionByName(cross)
    cand, base, ppm = set_similarity_candidates(
        df, id_col, text_col, shingle_n=shingle_n, threshold=threshold)
    return _setsim_verify(cand, base, ppm)


def _setsim_verify(cand: DataFrame, base: DataFrame, ppm: int) -> DataFrame:
    """Exact-intersection verification of prefix-filter candidates."""
    sets = base.select("__id", "__sh")
    verified = (cand
                .join(sets.select(F.col("__id").alias("id_a"),
                                  F.col("__sh").alias("sa")), on="id_a")
                .join(sets.select(F.col("__id").alias("id_b"),
                                  F.col("__sh").alias("sb")), on="id_b")
                .withColumn("inter",
                            F.size(F.array_intersect("sa", "sb")))
                .withColumn("uni", F.size("sa") + F.size("sb")
                            - F.col("inter"))
                .where(F.col("inter") * 1_000_000
                       >= F.lit(ppm) * F.col("uni")))
    return verified.select("id_a", "id_b",
                           F.col("inter").cast("long").alias("inter"),
                           F.col("uni").cast("long").alias("uni"))


def set_similarity_candidates(df: DataFrame, id_col: str, text_col: str,
                              shingle_n: int = 5,
                              threshold: float = 0.6,
                              spread: bool = True):
    """Candidate-generation stage of set_similarity_pairs (factored out
    so scale measurements can count candidates BEFORE verification —
    the number that proves the prefix filter stays sub-quadratic).
    Returns (candidate pairs DF, shingled base DF, integer-ppm
    threshold)."""
    ppm = int(round(threshold * 1_000_000))
    # One pass from shingle INSTANCES to per-doc rarity-sorted token
    # arrays, everything behind shared exchanges. The old shape built a
    # per-doc array with interpreted HOFs (sequence→transform→
    # array_distinct) in a PROJECTION — so every consumer (token
    # explode, the dfreq join's both sides, the __n join, the two
    # verification sides) re-executed that kernel; measured ~6
    # executions per query at sf0.1. Now: codegen explode (§4.1 —
    # built-ins over HOF lambdas), ONE token-keyed aggregate that
    # yields the distinct posting list AND its length (= document
    # frequency, identical to the old distinct-per-doc count), then ONE
    # id-keyed aggregate that yields the (dfc, token)-sorted array —
    # which downstream serves as prefix source, set size AND
    # verification set (array_intersect is order-insensitive), so no
    # consumer recomputes anything above its nearest exchange.
    nn = (df.where(F.col(text_col).isNotNull())
            .select(F.col(id_col).alias("__id"),
                    F.col(text_col).alias("__stxt")))
    if spread:
        nn = _spread(nn)
    inst = _shingle_instances(nn, "__id", "__stxt", shingle_n)
    # Tokens leave the token-keyed aggregate as LONG surrogate keys, not
    # strings: key = dfc * 2^32 + row_number within the dfc partition
    # ordered by token. The packing is injective (rn < 2^32 per dfc
    # class, dfc < 2^31 as an int) and orders IDENTICALLY to the
    # (dfc, token) rarity order the prefix filter sorts by — so prefix
    # contents, candidate meetings and intersection counts are provably
    # unchanged — while every downstream exchange (prefix rows, bucket
    # lists, per-doc arrays, both verify sides) moves 8-byte longs
    # instead of n-char strings and array_intersect hashes longs. The
    # ranking window partitions by dfc (no global pass; the dfc=1 class
    # is the biggest one — per-row work there is a row_number tick, and
    # the packing leaves 2^32 headroom per class).
    agg = inst.groupBy("__s").agg(F.collect_set("__id").alias("__docs"))
    rank_w = Window.partitionBy("__dfc").orderBy("__s")
    # the key projection and the posting explode live in SEPARATE
    # selects: a Project holding both a window expression and a
    # generator explodes FIRST, handing every posting row its own
    # row_number (one key per instance — no buckets ever meet)
    keyed = (agg.select(F.size("__docs").cast("long").alias("__dfc"),
                        F.col("__s"), F.col("__docs"))
                .select((F.shiftleft(F.col("__dfc"), 32)
                         + F.row_number().over(rank_w)).alias("__t"),
                        F.col("__docs")))
    posts = keyed.select("__t", F.explode("__docs").alias("__id"))
    ranked = (posts.groupBy("__id")
                   .agg(F.array_sort(F.collect_list("__t"))
                       .alias("__arr")))
    base = ranked.select(F.col("__id"),
                         F.col("__arr").alias("__sh"),
                         F.size("__arr").alias("__n"))
    # prefix length: |s| - ceil(t*|s|) + 1, in exact integer arithmetic
    pref = (ranked
            .withColumn("__n", F.size("__arr"))
            .withColumn("__plen",
                        F.col("__n") - F.ceil(F.col("__n")
                                              * F.lit(threshold))
                        .cast("int") + 1)
            .select("__id", "__n",
                    F.slice(F.col("__arr"),
                            F.lit(1), F.col("__plen")).alias("__pref")))
    # Candidate pairs via grouped posting-list expansion, not a prefix
    # self-equi-join: the join's two alias-renamed sides each re-execute
    # the whole explode→dfreq→collect→sort prefix subplan (ReuseExchange
    # does not fire across renamed projections) and shuffle it twice;
    # grouping the prefix rows by token runs the subplan ONCE through a
    # single exchange (same shape as containment_pairs/_bucket_pairs).
    # Each bucket's (id, n, p) rows sort by id (unique per bucket — a
    # set exposes a prefix token once), so the native (i < j) expansion
    # — posexplode anchor + explode(slice) — emits exactly the ordered
    # pairs the join's id_a < id_b filter kept, and the PPJoin
    # positional/length filters apply per meeting, identically.
    prows = pref.select("__id", "__n",
                        F.posexplode("__pref").alias("__p", "__t"))
    buckets = (prows.groupBy("__t")
                    .agg(F.sort_array(F.collect_list(
                        F.struct("__id", "__n", "__p"))).alias("__ps"))
                    .where(F.size("__ps") >= 2))
    mpairs = _sorted_pairs(buckets, "__ps", "__a", "__b")
    na, nb = F.col("__a.__n"), F.col("__b.__n")
    pa, pb = F.col("__a.__p"), F.col("__b.__p")
    # overlap floor for J>=t: alpha = ceil(t*(na+nb)/(1+t)), exact
    # integer ceil via (num + den - 1) div den
    num = F.lit(ppm) * (na + nb) + F.lit(1_000_000 + ppm - 1)
    alpha = (num / F.lit(1_000_000 + ppm)).cast("long")
    ubound = 1 + F.least(na - pa - 1, nb - pb - 1)
    cand = (mpairs
            .where((nb * 1_000_000 >= ppm * na)
                   & (na * 1_000_000 >= ppm * nb)
                   & (ubound >= alpha))
            .select(F.col("__a.__id").alias("id_a"),
                    F.col("__b.__id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"]))
    return cand, base, ppm


def edit_distance_pairs(df: DataFrame, id_col: str,
                        str_col: str) -> DataFrame:
    """All row pairs whose strings are within Levenshtein distance 1,
    via FastSS deletion-neighborhood blocking (Bocek et al. 2007):

    Each string emits itself plus every single-character deletion
    (native sequence→transform HOFs — ~len+1 variants per row). Two
    strings at edit distance <=1 ALWAYS share a variant (substitution
    at i: both delete position i; insertion/deletion: the shorter
    string is a variant of the longer and of itself), so an equi-join
    on the variant is a complete candidate generator — no quadratic
    all-pairs comparison. Candidates are then verified with the exact
    levenshtein() (JVM-side), killing false positives (two different
    deletions can collide at distance 2).

    100 TB posture: linear explode (~len variants of <=len bytes), one
    equi-join shuffle on the variant string; bucket sizes are the
    number of strings sharing a deletion — alphabet-bounded for ID-like
    keys. Same blocked-join discipline as MinHash banding: quadratic
    work only inside a bucket. Output: (id_a, id_b), id_a < id_b,
    deduplicated.
    """
    s = F.col(str_col)
    idx = F.sequence(F.lit(1), F.length(s))
    dels = F.transform(
        idx, lambda i: F.concat(s.substr(F.lit(1), i - 1),
                                s.substr(i + 1, F.length(s))))
    variants = F.array_distinct(F.concat(F.array(s), dels))
    # _spread: the deletion-variant kernel (len interpreted
    # substr/concat lambdas per row) otherwise runs inside the
    # single-task scan partition of a single-row-group input.
    ex = (_spread(df.where(s.isNotNull()).select(id_col, str_col))
            .select(F.col(id_col).alias("__id"), s.alias("__s"),
                    F.explode(variants).alias("__v")))
    # Candidates via grouped posting-list expansion, not a variant
    # self-equi-join: the join's two alias-renamed sides each re-execute
    # the variant kernel and shuffle the exploded rows twice
    # (ReuseExchange cannot fire across renamed projections); grouping
    # by variant runs the kernel ONCE through a single exchange, and the
    # native (i < j) expansion — posexplode anchor + explode(slice) —
    # emits exactly the ordered pairs the join's id_a < id_b filter
    # kept (ids are unique per bucket: variants are array_distinct per
    # row). Same levenshtein verify per meeting; dropDuplicates
    # collapses multi-variant meetings identically.
    buckets = (ex.groupBy("__v")
                 .agg(F.sort_array(F.collect_list(
                     F.struct(F.col("__id"), F.col("__s")))).alias("__ps"))
                 .where(F.size("__ps") >= 2))
    mpairs = _sorted_pairs(buckets, "__ps", "__a", "__b")
    return (mpairs
            .where(F.col("__a.__id") < F.col("__b.__id"))
            .where(F.levenshtein(F.col("__a.__s"), F.col("__b.__s")) <= 1)
            .select(F.col("__a.__id").alias("id_a"),
                    F.col("__b.__id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"]))


def near_dedup(df: DataFrame, id_col: str, text_col: str,
               shingle_n: int = 5, num_hashes: int = 64, bands: int = 16,
               threshold: float = 0.7, seed: int = 42,
               hash_fn: str = "xxhash64", keep: str = "min_id",
               cc_stats: dict | None = None) -> DataFrame:
    """END-TO-END near-duplicate removal: LSH candidate pairs →
    connected components (duplicate clusters) → keep ONE doc per cluster,
    drop the rest. keep='min_id' (default, deterministic and
    oracle-friendly) or keep='longest' (prefer the most complete copy —
    the usual production choice; ties break on min id).

    Pair-level dedup alone is wrong for clusters (A≈B, B≈C must drop both
    B and C even if A≉C directly); the component step closes that
    transitivity. All stages are shuffle-bounded: LSH banding (linear),
    O(log diameter) component iterations (two key-shuffles each), one
    anti-join to drop losers. Returns df minus non-canonical duplicates,
    original schema. ``cc_stats``: forwarded to connected_components'
    ``stats`` hook (records iterations/convergence for scale evidence)."""
    from .graph import connected_components
    if keep not in ("min_id", "longest"):
        raise ValueError("near_dedup supports keep='min_id'|'longest'")
    pairs = minhash_lsh_pairs(df, id_col, text_col, shingle_n=shingle_n,
                              num_hashes=num_hashes, bands=bands,
                              threshold=threshold, seed=seed,
                              hash_fn=hash_fn)
    comp = connected_components(pairs, "id_a", "id_b", stats=cc_stats)
    if keep == "min_id":
        losers = comp.filter(F.col("node") != F.col("comp")) \
                     .select(F.col("node").alias(id_col))
        return df.join(losers, on=id_col, how="left_anti")
    # keep='longest': per component, the longest text wins (min id on
    # ties). One keyed window over cluster members only — the clustered
    # subset is tiny relative to the corpus, so the extra shuffle is
    # bounded by the duplicate volume.
    from pyspark.sql.window import Window
    members = df.join(comp.withColumnRenamed("node", id_col), on=id_col)
    w = Window.partitionBy("comp").orderBy(
        F.length(F.col(text_col)).desc(), F.col(id_col))
    losers = (members.withColumn("__rn", F.row_number().over(w))
                     .filter(F.col("__rn") > 1)
                     .select(F.col(id_col)))
    return df.join(losers, on=id_col, how="left_anti")


def sorted_neighborhood_pairs(df: DataFrame, id_col: str, key_col: str,
                              window: int = 3) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo, SIGMOD'95):
    sort records by a blocking key and emit every pair within ``window``
    positions — the classic record-linkage candidate generator for keys
    where similar records sort near each other (names, lengths,
    normalized addresses). Complements the content-blocked generators
    here (LSH bands, FastSS deletions, PPJoin prefixes) with an
    order-based one; like them it produces CANDIDATES — verify with an
    exact similarity downstream.

    Scale shape (no 1-partition global window): global positions come
    from the engine's two-pass prefix sum (operators/_scalable.py
    exclusive_prefix_sum — the reference's POCounter/PORank design: ONE
    range sort on (key, id), per-partition counts, one row per
    partition at the driver, offsets broadcast back). Neighbors then
    join on position equality (rn + k == rn), k in 1..window-1 — an
    equi-join, never a range scan. Ties on key order deterministically
    by id. The returned frame is lazy; only the range sort runs (and
    is checkpointed) at call time.

    Output: (id_a, id_b, key_a, key_b, dist) with dist = rank distance
    (1 = adjacent), id_a the earlier row in sort order.
    """
    if window < 2:
        raise ValueError("window must be >= 2 (w-1 neighbors per row)")
    from spork_spark.operators._scalable import exclusive_prefix_sum
    base = (df.select(F.col(id_col).alias("__id"),
                      F.col(key_col).alias("__key"))
              .where(F.col(key_col).isNotNull()))
    rn, _ = exclusive_prefix_sum(base, [F.col("__key"), F.col("__id")],
                                 {"__rn": F.lit(1)})
    ks = F.explode(F.array(*[F.lit(k) for k in range(1, window)]))
    left = rn.select(F.col("__id").alias("id_a"),
                     F.col("__key").alias("key_a"),
                     F.col("__rn").alias("__rn_a"),
                     ks.alias("dist")) \
             .withColumn("__rn", F.col("__rn_a") + F.col("dist"))
    right = rn.select(F.col("__id").alias("id_b"),
                      F.col("__key").alias("key_b"), "__rn")
    return (left.join(right, on="__rn")
                .select("id_a", "id_b", "key_a", "key_b",
                        F.col("dist").cast("int").alias("dist")))
