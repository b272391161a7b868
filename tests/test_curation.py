"""Curation-operator tests (operators/curation.py): plan shapes for the
scale claims, behavioral edges, and determinism of the integer k-means /
SemDeDup path."""

import pytest
from pyspark.sql import functions as F

from spork_spark.operators import (blocklist_filter, classifier_score,
                                   corpus_stats, kmeans_quantized,
                                   per_source_cap, semantic_dedup)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_per_source_cap_limits_and_pushes_down(docs):
    out = per_source_cap(docs, cap=3, priority_col="n_chars")
    counts = out.groupBy("source").count().collect()
    assert all(r["count"] <= 3 for r in counts)
    # the cap runs as a partial top-k BELOW the shuffle (WindowGroupLimit)
    assert "WindowGroupLimit" in plan_of(out)
    # deterministic priority: the kept docs per source are the longest
    one = out.filter(F.col("source") == "src0") \
             .orderBy(F.desc("n_chars")).collect()
    top = docs.filter(F.col("source") == "src0") \
              .orderBy(F.desc("n_chars"), F.asc("doc_id")).take(3)
    assert sorted(r["doc_id"] for r in one) == sorted(r["doc_id"]
                                                      for r in top)


def test_blocklist_filter_is_broadcast_anti(docs):
    out = blocklist_filter(docs, ["src0", "src1"])
    p = plan_of(out)
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert out.filter(F.col("source").isin("src0", "src1")).count() == 0
    kept = out.count()
    blocked = docs.filter(F.col("source").isin("src0", "src1")).count()
    assert kept == docs.count() - blocked


def test_classifier_score_is_shuffle_free(spark, docs):
    out = classifier_score(docs)
    assert "Exchange" not in plan_of(out)   # pure map — no shuffle
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == docs.count()
    # short/empty text: no bigram, score 0, not kept
    tiny = spark.createDataFrame([(1, "word"), (2, "")],
                                 "doc_id long, text string")
    got = {r["doc_id"]: r for r in classifier_score(tiny).collect()}
    assert got[1]["n_grams"] == 0 and got[1]["score_int"] == 0
    assert got[2]["n_grams"] == 0 and not got[2]["keep"]


def test_classifier_score_counts_multiplicity(spark):
    # "a b a b" has bigrams [a b, b a, a b] — multiplicity preserved
    df = spark.createDataFrame([(1, "a b a b")], "doc_id long, text string")
    assert classifier_score(df).collect()[0]["n_grams"] == 3


def test_corpus_stats_shape(docs):
    out = corpus_stats(docs)
    r = {(x["lang"], x["source"]): x for x in out.collect()}
    total = sum(x["n_docs"] for x in r.values())
    assert total == docs.count()
    any_row = next(iter(r.values()))
    assert any_row["total_chars"] > 0 and any_row["avg_chars_x100"] > 0


def test_kmeans_assigns_nearest_and_is_deterministic(emb):
    a = kmeans_quantized(emb, k=4, n_iter=2).collect()
    b = kmeans_quantized(emb, k=4, n_iter=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert {r["cluster"] for r in a} <= {0, 1, 2, 3}
    assert len(a) == emb.count()


def test_kmeans_final_assignment_is_argmin(emb):
    """Re-derive round-2 centroids in Python from the round-1 assignment
    and verify every point sits with its nearest centroid."""
    import math
    rows = emb.select("vec_id", "embedding").collect()
    # same floor(x*1000+0.5) quantization rule as the operator
    q = {r["vec_id"]: [int(math.floor(float(x) * 1000 + 0.5))
                       for x in r["embedding"]] for r in rows}

    def dist(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    ids = sorted(q)
    cents = {i: q[ids[i]] for i in range(4)}
    for _ in range(2):
        assign = {v: min(cents, key=lambda c: (dist(q[v], cents[c]), c))
                  for v in q}
        new = {}
        for c in set(assign.values()):
            members = [q[v] for v in q if assign[v] == c]
            n = len(members)
            new[c] = [math.floor(sum(col) / n)
                      for col in zip(*members)]
        cents = new
    got = {r["vec_id"]: r["cluster"]
           for r in kmeans_quantized(emb, k=4, n_iter=2).collect()}
    assert got == assign


def test_semantic_dedup_drops_exact_duplicate(spark):
    rows = [(0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0, 0.0]),
            (2, [1.0, 0.0, 0.0, 0.0]),     # duplicate of 0 → dropped
            (3, [0.0, 0.0, 1.0, 0.0]),
            (4, [-1.0, 0.0, 0.0, 0.0])]    # anti-parallel: dot<0 → kept
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = sorted(r["vec_id"] for r in
                  semantic_dedup(df, threshold=0.9, k=2, n_iter=1)
                  .collect())
    assert 2 not in kept
    assert set(kept) >= {0, 1, 3, 4}


def test_ngram_logcount_score_values(spark):
    """Hand-checked: 'a b a b' ×2 docs → bigrams 'a b'(×4 total), 'b a'(×2).
    floor(log2(4))=2, floor(log2(2))=1 → each doc: 2+1+2 = 5."""
    from spork_spark.operators import ngram_logcount_score
    df = spark.createDataFrame([(1, "a b a b"), (2, "a b a b"), (3, "x")],
                               "doc_id long, text string")
    got = {r["doc_id"]: (r["n_grams"], r["logcount_sum"])
           for r in ngram_logcount_score(df).collect()}
    assert got == {1: (3, 5), 2: (3, 5)}   # doc 3 has no bigram → no row


def test_ngram_logcount_broadcast_variant(spark, docs):
    from spork_spark.operators import ngram_logcount_score
    a = ngram_logcount_score(docs).collect()
    b = ngram_logcount_score(docs, broadcast_counts=True).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    p = plan_of(ngram_logcount_score(docs, broadcast_counts=True))
    assert "BroadcastHashJoin" in p


def test_semantic_dedup_is_equi_join_on_cluster(emb):
    """The intra-cluster pair space must stay cluster-bounded — never a
    nested-loop/cartesian over the corpus. Since r10 the pairs come from
    grouped posting-list expansion (ONE cluster-keyed aggregate + native
    posexplode/slice generators) instead of a cluster self-equi-join
    that re-executed the quantize+assign subplan on both renamed sides;
    pin that shape: no join of any kind in the pair path, and the
    expansion generators present."""
    out = semantic_dedup(emb, threshold=0.45, k=4, n_iter=2)
    p = plan_of(out)
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin [cluster" not in p
    assert "ShuffledHashJoin [cluster" not in p
    assert "posexplode" in p and "slice" in p
    # the one surviving join is the final LeftAnti dropping dup ids
    assert "LeftAnti" in p


def test_kmeans_pandas_assignment_matches_expr(emb):
    """The Arrow-batched kernel (scale path for large k·dim) and the
    literal-expression assignment are the same exact integer argmin —
    identical clusters, including ties (both break to smallest cid)."""
    a = kmeans_quantized(emb, k=4, n_iter=2, assignment="expr").collect()
    b = kmeans_quantized(emb, k=4, n_iter=2, assignment="pandas").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_curation_ops_edge_inputs(spark):
    """Null text scores (0, 0, false); empty corpora don't crash k-means
    or SemDeDup (bad/empty inputs are data at 100 TB)."""
    from spork_spark.operators import ngram_logcount_score
    df = spark.createDataFrame([(1, None), (2, "a b c")],
                               "doc_id long, text string")
    got = {r["doc_id"]: (r["n_grams"], r["score_int"], r["keep"])
           for r in classifier_score(df).collect()}
    assert got[1] == (0, 0, False)
    assert ngram_logcount_score(df).count() == 1    # null-text doc drops
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert kmeans_quantized(empty, k=2, n_iter=1).count() == 0
    assert semantic_dedup(empty, k=2, n_iter=1).count() == 0


def test_corpus_stats_null_text_is_sum_skipped(spark):
    """Null text must contribute NULL (SUM-skipped) to total_tokens, not
    the -1 that F.size(null) yields under the engine's legacy-sizeOfNull
    conf — the DuckDB oracle NULL-skips (round-4 review finding)."""
    df = spark.createDataFrame(
        [(1, None, "en", "s"), (2, "a b c", "en", "s")],
        "doc_id long, text string, lang string, source string")
    r = corpus_stats(df).collect()[0]
    assert r["n_docs"] == 2
    assert r["total_tokens"] == 3          # was 2 (3 + (-1)) pre-fix
    assert r["total_chars"] == 5


def test_kmeans_skips_discarded_final_update(emb, monkeypatch):
    """The centroid update after the LAST assignment is discarded — the
    implementation must not pay its corpus-wide aggregation (one fewer
    Spark job per call). Detect via collect-call counting."""
    cls = type(emb)            # the CLASSIC DataFrame subclass --
    calls = {"n": 0}           # patching the pyspark.sql base would
    orig = cls.collect         # miss its override

    def counting(self):
        calls["n"] += 1
        return orig(self)

    monkeypatch.setattr(cls, "collect", counting)
    kmeans_quantized(emb, k=3, n_iter=2).count()
    # seeds collect (1) + one update collect for round 0 only (1);
    # round 1's update is skipped.
    assert calls["n"] == 2


def test_bm25_matches_reference_formula(spark):
    """Hand-computed Okapi BM25 on a 3-doc corpus (k1=1.2, b=0.75)."""
    import math
    from spork_spark.operators import bm25_scores
    df = spark.createDataFrame(
        [(1, "data data model"), (2, "model"), (3, "other words here")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["bm25"], r["n_terms"])
           for r in bm25_scores(df, ["data", "model"]).collect()}
    n, total_dl = 3, 7

    def score(tf, df_t, dl):
        idf = math.log(1 + (n - df_t + 0.5) / (df_t + 0.5))
        return idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl * n / total_dl))

    exp1 = round(score(2, 1, 3) + score(1, 2, 3), 6)
    exp2 = round(score(1, 2, 1), 6)
    assert got[1] == (exp1, 2)
    assert got[2] == (exp2, 1)
    assert 3 not in got                      # no query terms -> no row


def test_profile_columns_metrics(spark):
    from spork_spark.operators import profile_columns
    df = spark.createDataFrame(
        [(1, "ab", 2.0), (2, None, None), (2, "c", 8.0)],
        "k bigint, s string, v double")
    p = {r.column: r for r in profile_columns(df).collect()}
    assert p["k"].n_rows == 3 and p["k"].n_nulls == 0
    assert p["k"].n_distinct == 2
    assert p["k"].min_num == 1.0 and p["k"].max_num == 2.0
    assert p["s"].n_nulls == 1 and p["s"].n_distinct == 2
    assert p["s"].min_str == "ab" and p["s"].max_str == "c"
    assert abs(p["s"].avg_len - 1.5) < 1e-9
    assert p["v"].max_num == 8.0 and p["v"].min_str is None


def test_profile_columns_single_pass_plan(spark):
    """All metrics for all columns must come from ONE aggregate over
    the table: a single scan in the plan."""
    from spork_spark.operators import profile_columns
    df = spark.range(10).selectExpr("id", "cast(id as string) s")
    plan = profile_columns(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Scan ") + plan.count("Range (") <= 1


def test_weighted_sample_deterministic_and_biased(spark):
    from spork_spark.operators import weighted_sample
    from pyspark.sql import functions as F
    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 100, 1000.0).otherwise(1.0).alias("w"))
    a = [r.doc_id for r in
         weighted_sample(df, "w", 50, id_col="doc_id").collect()]
    b = [r.doc_id for r in
         weighted_sample(df.repartition(7), "w", 50,
                         id_col="doc_id").collect()]
    assert a == b                            # deterministic
    heavy = sum(1 for x in a if x < 100)
    assert heavy > 25     # 100 heavy rows (x1000) dominate the draw


def test_weighted_sample_excludes_nonpositive_weights(spark):
    from spork_spark.operators import weighted_sample
    df = spark.createDataFrame(
        [(1, 5.0), (2, 0.0), (3, -1.0), (4, None)],
        "doc_id bigint, w double")
    got = [r.doc_id for r in
           weighted_sample(df, "w", 10, id_col="doc_id").collect()]
    assert got == [1]


def test_group_outliers_flags_exact_boundary(spark):
    from spork_spark.operators import group_outliers
    # group g: values 0.0 x8 and 8.0 x2 -> mu=1.6, sigma^2=10.24,
    # sigma=3.2; z=2 -> threshold |x-mu| > 6.4: 8.0 deviates 6.4
    # EXACTLY -> NOT an outlier (strict >); z=1 -> 8.0 deviates > 3.2
    rows = [("g", 0.0)] * 8 + [("g", 8.0)] * 2
    df = spark.createDataFrame(rows, "t string, v double")
    assert group_outliers(df, "t", "v", z_num=2).count() == 0
    assert group_outliers(df, "t", "v", z_num=1).count() == 2


def test_winsorize_clips_to_group_quantiles(spark):
    from spork_spark.operators import winsorize
    # group g: 0..10 -> p10=1.0, p90=9.0 under linear interpolation
    rows = [("g", float(i)) for i in range(11)]
    df = spark.createDataFrame(rows, "t string, v double")
    out = sorted(r.v_w for r in
                 winsorize(df, "t", "v", p_lo=0.1, p_hi=0.9).collect())
    assert out[0] == 1.0 and out[1] == 1.0       # 0 clipped up
    assert out[-1] == 9.0 and out[-2] == 9.0     # 10 clipped down
    assert out[5] == 5.0                         # interior untouched


def test_winsorize_nulls_and_allnull_groups_pass_through(spark):
    from spork_spark.operators import winsorize
    rows = [("a", 1.0), ("a", None), ("b", None)]
    df = spark.createDataFrame(rows, "t string, v double")
    got = {(r.t, r.v): r.v_w for r in winsorize(df, "t", "v").collect()}
    assert got[("a", 1.0)] == 1.0
    assert got[("a", None)] is None and got[("b", None)] is None


def test_pareto_frontier_basic(spark):
    from spork_spark.operators import pareto_frontier
    df = spark.createDataFrame(
        [(1, 5.0, 1.0), (2, 3.0, 3.0), (3, 1.0, 5.0),
         (4, 2.0, 2.0),             # dominated by row 2
         (5, 5.0, 1.0),             # duplicate of row 1: both survive
         (6, 4.0, 0.5)],            # frontier (max q, min cost? no: both max)
        "id bigint, q double, r double")
    out = pareto_frontier(df, {"q": "max", "r": "max"})
    assert {r.id for r in out.collect()} == {1, 2, 3, 5}


def test_pareto_frontier_min_orientation(spark):
    from spork_spark.operators import pareto_frontier
    df = spark.createDataFrame(
        [(1, 1.0, 9.0), (2, 2.0, 2.0), (3, 9.0, 1.0), (4, 5.0, 5.0)],
        "id bigint, cost double, err double")
    out = pareto_frontier(df, {"cost": "min", "err": "min"})
    assert {r.id for r in out.collect()} == {1, 2, 3}


def test_pareto_frontier_tree_merge_no_coalesce1(spark):
    """The global merge is an iterated fan-in tree, never a narrow
    coalesce(1): the plan carries shuffling round-robin repartitions
    (so stage 1 keeps its parallelism) and no Coalesce node, and the
    fan_in knob changes the round count, not the answer."""
    from spork_spark.operators import pareto_frontier
    import random
    rng = random.Random(11)
    rows = [(i, rng.uniform(0, 1), rng.uniform(0, 1)) for i in range(200)]
    df = spark.createDataFrame(rows, "id bigint, a double, b double") \
              .repartition(16)
    dims = {"a": "max", "b": "max"}
    out = pareto_frontier(df, dims)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Coalesce" not in plan
    assert "RoundRobinPartitioning" in plan
    base = {r.id for r in out.collect()}
    assert base == {r.id for r in pareto_frontier(df, dims, fan_in=2)
                    .collect()}
    assert base == {r.id for r in pareto_frontier(df, dims, fan_in=64)
                    .collect()}


def test_pareto_frontier_partition_invariant(spark):
    from spork_spark.operators import pareto_frontier
    import random
    rng = random.Random(3)
    rows = [(i, rng.uniform(0, 1), rng.uniform(0, 1), rng.uniform(0, 1))
            for i in range(300)]
    df = spark.createDataFrame(rows, "id bigint, a double, b double, c double")
    dims = {"a": "max", "b": "max", "c": "min"}
    one = {r.id for r in pareto_frontier(df.repartition(1), dims).collect()}
    many = {r.id for r in pareto_frontier(df.repartition(13), dims).collect()}
    assert one == many
    # brute-force reference
    def dominated(x, ys):
        xv = (x[1], x[2], -x[3])
        for y in ys:
            yv = (y[1], y[2], -y[3])
            if all(a >= b for a, b in zip(yv, xv)) and yv != xv:
                if any(a > b for a, b in zip(yv, xv)):
                    return True
        return False
    ref = {r[0] for r in rows if not dominated(r, rows)}
    assert one == ref


def test_pareto_frontier_per_group(spark):
    from spork_spark.operators import pareto_frontier
    rows = [("g1", 1, 5.0, 5.0), ("g1", 2, 1.0, 1.0),   # 2 dominated in g1
            ("g2", 3, 1.0, 1.0), ("g2", 4, 0.5, 0.5)]   # 3 wins in g2
    df = spark.createDataFrame(rows, "g string, id bigint, a double, b double")
    out = pareto_frontier(df.repartition(5),
                          {"a": "max", "b": "max"}, group_col="g")
    assert {r.id for r in out.collect()} == {1, 3}
    # same rows grouped == per-group application of the global operator
    for g in ("g1", "g2"):
        import pyspark.sql.functions as F
        solo = pareto_frontier(df.filter(F.col("g") == g),
                               {"a": "max", "b": "max"})
        grouped = {r.id for r in out.filter(F.col("g") == g).collect()}
        assert {r.id for r in solo.collect()} == grouped


def test_pareto_frontier_merge_rounds_follow_shuffle_partitions(spark):
    """The tree merge takes its round count from the session's shuffle
    partitions: on a 4-partition session one merge round (fan-in 4)
    follows the local pass, so the plan has exactly 2 MapInPandas, and
    the rows are the brute-force skyline."""
    from spork_spark.operators import pareto_frontier
    import random
    rng = random.Random(5)
    rows = [(i, rng.uniform(0, 1), rng.uniform(0, 1)) for i in range(120)]
    df = spark.createDataFrame(rows, "id bigint, a double, b double")
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, "4")
    try:
        out = pareto_frontier(df, {"a": "max", "b": "max"})
        plan = out._jdf.queryExecution().executedPlan().toString()
        got = {r.id for r in out.collect()}
    finally:
        spark.conf.set(key, before)
    assert plan.count("MapInPandas") == 2
    ref = {x[0] for x in rows
           if not any(y[1] >= x[1] and y[2] >= x[2] and y[1:] != x[1:]
                      for y in rows)}
    assert got == ref
