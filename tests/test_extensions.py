"""Extension operators: dedup, similarity search, text analysis,
multimodal plumbing (SURVEY.md §2.11)."""

import pytest
from pyspark.sql import functions as F

from spork_spark.operators import (
    attach_binary_meta, brute_force_topk, decode_images, detect_language,
    exact_dedup, extract_features, fingerprint, lsh_topk, minhash_lsh_pairs,
    ngram_jaccard_pairs, quality_score, sample_frames, simhash, tf_idf,
    token_count)


@pytest.fixture(scope="module")
def docs(spark):
    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away into the deep green forest tonight")
    rows = [
        (0, base, "src0"),
        (1, base, "src0"),                       # exact dup of 0
        (2, base.replace("quick", "swift"), "src0"),   # near dup of 0
        (3, "completely different text about databases and spark engines "
            "processing large volumes of data", "src1"),
        (4, "el perro corre por el parque y la casa es grande", "src1"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string, src string")


def test_exact_dedup_deterministic_survivor(docs):
    out = exact_dedup(docs, ["text"], keep="min", tiebreak="doc_id")
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [0, 2, 3, 4]              # doc 1 deduped, min id kept


def test_minhash_lsh_finds_near_dups(docs):
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1) in got                    # exact dup always collides
    assert (0, 2) in got or (1, 2) in got   # near dup found
    assert all(3 not in p and 4 not in p for p in got)


def test_minhash_collapse_exact_output_identical(spark):
    """The exact-dup pre-collapse (LSH on distinct texts + member
    expansion) must return the SAME pair set and jaccards as the direct
    pipeline on a dup-heavy corpus — within-group pairs at 1.0, cross-
    group pairs at the rep pair's jaccard, interleaved ids re-oriented."""
    base = ["the quick brown fox jumps over the lazy dog again and again",
            "the quick brown fox jumps over the lazy cat again and again",
            "completely unrelated text about spark physical plans and io"]
    rows = []
    # interleave member ids across groups so least/greatest matters
    for i in range(12):
        rows.append((i, base[i % 3]))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    kw = dict(shingle_n=5, num_hashes=32, bands=8, threshold=0.5)
    fast = {(r.id_a, r.id_b): r.jaccard for r in
            minhash_lsh_pairs(df, "doc_id", "text", **kw).collect()}
    slow = {(r.id_a, r.id_b): r.jaccard for r in
            minhash_lsh_pairs(df, "doc_id", "text", collapse_exact=False,
                              **kw).collect()}
    assert fast == slow and len(fast) > 10
    assert fast[(0, 3)] == 1.0              # same-group pair


def test_minhash_collapse_ignores_null_texts(spark):
    """Null texts never shingle, so the direct pipeline never pairs
    them; the collapse path must not invent jaccard-1.0 pairs for the
    null group."""
    rows = [(0, "shared text body for the pair"),
            (1, "shared text body for the pair"),
            (2, None), (3, None)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {(r.id_a, r.id_b) for r in
           minhash_lsh_pairs(df, "doc_id", "text", threshold=0.5,
                             num_hashes=16, bands=4).collect()}
    assert got == {(0, 1)}


def test_setsim_collapse_exact_output_identical(spark):
    """set_similarity_pairs' exact-dup pre-collapse must reproduce the
    direct PPJoin output exactly — including the (inter, uni) set sizes
    on within-group (identical-text) pairs."""
    from spork_spark.operators.dedup import set_similarity_pairs
    base = ["aaaa bbbb cccc dddd eeee ffff gggg hhhh",
            "aaaa bbbb cccc dddd eeee ffff gggg zzzz",
            "totally different words qqqq wwww rrrr tttt yyyy"]
    rows = [(i, base[i % 3]) for i in range(9)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    kw = dict(shingle_n=4, threshold=0.5)
    fast = {(r.id_a, r.id_b): (r.inter, r.uni) for r in
            set_similarity_pairs(df, "doc_id", "text", **kw).collect()}
    slow = {(r.id_a, r.id_b): (r.inter, r.uni) for r in
            set_similarity_pairs(df, "doc_id", "text",
                                 collapse_exact=False, **kw).collect()}
    assert fast == slow and len(fast) >= 9
    assert fast[(0, 3)][0] == fast[(0, 3)][1]   # identical texts: inter == uni


def test_ngram_jaccard_exact(docs):
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.9)
    exact = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert exact[(0, 1)] == 1.0


def test_simhash_near_dups_close(docs):
    sigs = {r.doc_id: r.simhash for r in
            simhash(docs, "doc_id", "text").collect()}
    assert sigs[0] == sigs[1]
    ham_near = bin(sigs[0] ^ sigs[2]).count("1")
    ham_far = bin(sigs[0] ^ sigs[3]).count("1")
    assert ham_near < ham_far


def test_duplicate_spans_matches_python_replay(spark):
    """duplicate_spans (ExactSubstr via content-defined anchoring) must
    agree with a literal Python replay of the same anchor rule, and the
    copied-paragraph doc must be flagged while unique docs are kept."""
    import hashlib
    from spork_spark.operators.dedup import duplicate_spans
    para = ("spark shuffles hash partitions across the cluster while "
            "catalyst prunes columns and pushes filters into the scan "
            "so the exchange carries only what the query needs to run")
    rows = [
        (0, para + " alpha variant with its own unique closing words"),
        (1, para + " beta variant that also shares the long region"),
        (2, "entirely unrelated short text with no long overlap at all "
            "spanning some other topic entirely on its own terms here"),
        (3, "tiny"),                         # shorter than span_len
        (4, None),                           # null text
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: (r.n_spans, r.n_dup_spans, r.keep)
           for r in duplicate_spans(df, "doc_id", "text", span_len=50,
                                    anchor_gram=8).collect()}

    def spans(text):
        out = set()
        for p in range(len(text) - 49):
            gram = text[p:p + 8]
            if hashlib.md5(gram.encode()).hexdigest()[0] == "0":
                out.add(hashlib.md5(text[p:p + 50].encode()).hexdigest())
        return out

    all_spans = {i: spans(t) if t else set() for i, t in rows}
    for i, sp in all_spans.items():
        dup = {h for h in sp
               if any(h in o for j, o in all_spans.items() if j != i)}
        assert got[i] == (len(sp), len(dup),
                          len(dup) * 100 <= 20 * len(sp)), i
    # the shared >=50-char region must actually anchor and be caught
    assert got[0][1] > 0 and got[1][1] > 0
    assert got[2] == (got[2][0], 0, True)
    assert got[3] == (0, 0, True) and got[4] == (0, 0, True)


def test_brute_force_topk_self_similarity(spark):
    import random
    rnd = random.Random(7)
    vecs = [(i, [rnd.gauss(0, 1) for _ in range(16)]) for i in range(20)]
    # vec 19 = vec 0 scaled → cosine 1.0
    vecs[19] = (19, [2 * x for x in vecs[0][1]])
    df = spark.createDataFrame(vecs, "vec_id bigint, embedding array<float>")
    out = brute_force_topk(df, df.filter(F.col("vec_id") == 0), k=3,
                           vec_col="embedding")
    top = [r.vec_id for r in out.orderBy("rank").collect()]
    assert top[0] == 19
    assert [r["rank"] for r in out.orderBy("rank").collect()] == [1, 2, 3]


def test_lsh_topk_recalls_identical_vector(spark):
    import random
    rnd = random.Random(11)
    vecs = [(i, [rnd.gauss(0, 1) for _ in range(16)]) for i in range(50)]
    vecs[49] = (49, list(vecs[0][1]))
    df = spark.createDataFrame(vecs, "vec_id bigint, embedding array<float>")
    out = lsh_topk(df, df.filter(F.col("vec_id") == 0), k=5, dim=16,
                   n_planes=6, bands=4)
    assert 49 in [r.vec_id for r in out.collect()]   # identical vec collides


def test_language_detection(docs):
    out = {r.doc_id: r.lang_pred for r in
           detect_language(docs).select("doc_id", "lang_pred").collect()}
    assert out[0] == "en" and out[4] == "es"


def test_quality_score_features(docs):
    row = quality_score(docs).filter(F.col("doc_id") == 0).collect()[0]
    assert row.n_tokens == 19
    assert 0 < row.stopword_ratio < 1
    assert row.alpha_ratio > 0.7           # mostly letters
    assert row.quality > 0.3


def test_quality_short_doc_zero(spark):
    df = spark.createDataFrame([(9, "ok", "s")],
                               "doc_id bigint, text string, src string")
    assert quality_score(df).collect()[0].quality == 0.0


def test_token_count(spark):
    df = spark.createDataFrame([("a b  c",), ("",)], "text string")
    out = [r[0] for r in df.select(token_count("text")).collect()]
    assert out == [3, 0]


def test_fingerprint_stability_and_locality(docs):
    fp = {r.doc_id: r for r in fingerprint(docs, "doc_id").collect()}
    assert fp[0].content_fp == fp[1].content_fp     # exact dup
    assert fp[0].content_fp != fp[2].content_fp     # edit changes md5
    # rolling min/max: near-dup shares at least one window extreme
    assert (fp[0].rolling_fp_min == fp[2].rolling_fp_min or
            fp[0].rolling_fp_max == fp[2].rolling_fp_max)


def test_tf_idf(docs):
    out = tf_idf(docs, "doc_id", min_df=2)
    rows = {(r.doc_id, r.token): r for r in out.collect()}
    assert rows[(0, "the")].tf == 3
    assert rows[(0, "the")].df == 3                  # docs 0,1,2


@pytest.fixture(scope="module")
def blobs(spark):
    rows = [(1, b"\x89PNG\r\n" + b"x" * 9000),
            (2, b"\xff\xd8\xff\xe0" + b"y" * 5000),
            (3, b"zz")]
    return spark.createDataFrame(rows, "item_id bigint, payload binary")


def test_binary_meta_sniffing(blobs):
    out = {r.item_id: r.meta for r in
           attach_binary_meta(blobs, "payload").collect()}
    assert out[1].format == "png" and out[1].n_bytes == 9006
    assert out[2].format == "jpeg"
    assert out[3].format == "unknown"


def test_decode_images_batch_shape(blobs):
    out = decode_images(blobs, "payload", "item_id")
    rows = {r.item_id: r for r in out.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1].n_bytes == 9006
    assert rows[1].width >= 16 and rows[1].height >= 16
    assert dict(out.dtypes) == {"item_id": "bigint", "width": "int",
                                "height": "int", "format": "string",
                                "n_bytes": "bigint"}


# ---------------------------------------------------------------------------
# real codecs: PNM raster, header dims, WAV PCM
# ---------------------------------------------------------------------------

def _pgm(w, h, pixels):
    return f"P5\n{w} {h}\n255\n".encode() + bytes(pixels)


def _ppm(w, h, pixels):
    return f"P6\n{w} {h}\n255\n".encode() + bytes(pixels)


def _wav(rate, nch, samples16):
    import io
    import struct
    import wave
    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(nch)
        f.setsampwidth(2)
        f.setframerate(rate)
        f.writeframes(struct.pack(f"<{len(samples16)}h", *samples16))
    return buf.getvalue()


def test_pnm_decode_exact_raster():
    import numpy as np
    from spork_spark.operators.multimodal import decode_pnm, parse_pnm_header
    px = list(range(12))
    arr = decode_pnm(_pgm(4, 3, px))
    assert arr.shape == (3, 4) and arr.sum() == sum(px)
    rgb = decode_pnm(_ppm(2, 2, range(12)))
    assert rgb.shape == (2, 2, 3) and rgb[1, 1, 2] == 11
    # comments + extra whitespace in header
    weird = b"P5\n# a comment\n 4\t3 # x\n255\n" + bytes(px)
    assert parse_pnm_header(weird)[:4] == ("P5", 4, 3, 255)
    assert np.array_equal(decode_pnm(weird), arr)
    with pytest.raises(ValueError):
        decode_pnm(_pgm(4, 3, px[:-1]))          # truncated raster


def test_header_dims_real_formats():
    import struct
    from spork_spark.operators.multimodal import parse_image_dims
    png = (b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR"
           + struct.pack(">II", 640, 480) + b"\x08\x02" + b"\x00" * 7)
    assert parse_image_dims(png) == (640, 480, "png")
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 4
    assert parse_image_dims(gif) == (320, 200, "gif")
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 100, -50) + b"\x00" * 8
    assert parse_image_dims(bmp) == (100, 50, "bmp")
    jpeg = (b"\xff\xd8\xff\xe0" + struct.pack(">H", 16) + b"JFIF" + b"\x00" * 12
            + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
            + struct.pack(">HH", 333, 444) + b"\x03" + b"\x00" * 9)
    assert parse_image_dims(jpeg) == (444, 333, "jpeg")
    assert parse_image_dims(_pgm(7, 5, [0] * 35)) == (7, 5, "pnm")
    assert parse_image_dims(b"not an image") is None


def test_decode_images_real_dims_via_spark(spark):
    df = spark.createDataFrame(
        [(1, _pgm(4, 3, range(12))), (2, b"opaque")],
        "item_id bigint, payload binary")
    rows = {r.item_id: r for r in
            decode_images(df, "payload", "item_id").collect()}
    assert (rows[1].width, rows[1].height, rows[1].format) == (4, 3, "pnm")
    assert rows[2].format == "unknown"     # fake-dims fallback


def test_decode_pixel_stats_matches_numpy(spark):
    import numpy as np
    from spork_spark.operators import decode_pixel_stats
    px = [17, 0, 255, 4, 9, 200]
    df = spark.createDataFrame(
        [(1, _pgm(3, 2, px)), (2, b"junk")],
        "item_id bigint, payload binary")
    rows = {r.item_id: r for r in
            decode_pixel_stats(df, "payload", "item_id").collect()}
    a = np.array(px)
    assert rows[1].n_pixels == 6
    assert rows[1].mean_px == pytest.approx(a.mean())
    assert (rows[1].min_px, rows[1].max_px) == (0, 255)
    assert rows[2].n_pixels is None        # bad file → nulls, job survives


def test_decode_audio_wav_pcm(spark):
    import numpy as np
    from spork_spark.operators import decode_audio
    samples = [0, 1000, -1000, 2000]
    df = spark.createDataFrame(
        [(1, _wav(8000, 1, samples)), (2, b"not audio")],
        "item_id bigint, payload binary")
    rows = {r.item_id: r for r in
            decode_audio(df, "payload", "item_id").collect()}
    r1 = rows[1]
    assert (r1.sample_rate, r1.channels, r1.n_frames) == (8000, 1, 4)
    assert r1.duration_s == pytest.approx(4 / 8000)
    assert r1.rms == pytest.approx(
        float(np.sqrt(np.mean(np.array(samples, dtype=float) ** 2))))
    assert rows[2].sample_rate is None


def test_extract_features_dim_and_range(blobs):
    out = extract_features(blobs, "payload", "item_id", dim=16).collect()
    assert all(len(r.embedding) == 16 for r in out)
    assert all(0.0 <= v <= 1.0 for r in out for v in r.embedding)


def test_sample_frames_fanout(blobs):
    out = sample_frames(blobs, "payload", "item_id", every_n=1).collect()
    per_id = {}
    for r in out:
        per_id.setdefault(r.item_id, []).append(r.frame_idx)
    assert len(per_id[1]) == 2          # 9006 bytes → 2 frames
    assert per_id[3] == [0]             # tiny payload → 1 frame


# ---------------------------------------------------------------------------
# embedding-cosine dedup + IVF similarity
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def vecs(spark):
    import math
    rows = []
    for i in range(20):
        # 8-d unit-ish vectors on distinct directions; 10/11 nearly parallel
        base = [math.sin(i * 0.7 + d) for d in range(8)]
        rows.append((i, [float(x) for x in base]))
    rows.append((20, [x * 1.001 + 0.0005 for x in rows[10][1]]))  # near-dup of 10
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_embedding_dedup_exact(vecs):
    from spork_spark.operators import embedding_dedup_pairs
    pairs = {(r.id_a, r.id_b)
             for r in embedding_dedup_pairs(
                 vecs, threshold=0.9999, method="exact").collect()}
    assert (10, 20) in pairs


def test_embedding_dedup_lsh_subset_of_exact(vecs):
    from spork_spark.operators import embedding_dedup_pairs
    exact = {(r.id_a, r.id_b)
             for r in embedding_dedup_pairs(
                 vecs, threshold=0.99, method="exact").collect()}
    lsh = {(r.id_a, r.id_b)
           for r in embedding_dedup_pairs(
               vecs, threshold=0.99, method="lsh",
               n_planes=6, bands=8).collect()}
    assert lsh <= exact                     # verification step kills false +
    assert (10, 20) in lsh                  # parallel vectors always collide


def test_ivf_equals_bruteforce_when_probing_all(vecs):
    from spork_spark.operators import brute_force_topk, ivf_topk
    q = vecs.filter(F.col("vec_id") < 2)
    bf = {(r.query_id, r.vec_id, r.rank)
          for r in brute_force_topk(vecs, q, k=3).collect()}
    ivf = {(r.query_id, r.vec_id, r.rank)
           for r in ivf_topk(vecs, q, k=3, n_centroids=4,
                             nprobe=4).collect()}
    assert ivf == bf


def test_ivf_trained_equals_bruteforce_when_probing_all(vecs):
    """nprobe = n_centroids degrades the TRAINED variant to exact brute
    force too — training only changes which cells exist, not coverage."""
    from spork_spark.operators import brute_force_topk, ivf_topk_trained
    q = vecs.filter(F.col("vec_id") < 2)
    bf = {(r.query_id, r.vec_id, r.rank)
          for r in brute_force_topk(vecs, q, k=3).collect()}
    ivf = {(r.query_id, r.vec_id, r.rank)
           for r in ivf_topk_trained(vecs, q, k=3, n_centroids=4,
                                     nprobe=4, n_iter=2).collect()}
    assert ivf == bf


def test_ivf_trained_uses_kmeans_codebook(vecs):
    """The coarse quantizer must be the k-means-trained codebook (not
    the first-n seeds): corpus cells equal kmeans_quantized's
    assignment under identical (k, n_iter, scale)."""
    from spork_spark.operators import ivf_topk_trained, kmeans_train
    cents, cells = kmeans_train(vecs, k=4, n_iter=2)
    seeds = {tuple(r["embedding"]) for r in
             vecs.orderBy("vec_id").limit(4).collect()}
    trained = {tuple(v / 1000.0 for v in codes) for _, codes in cents}
    assert trained != seeds          # training actually moved centroids
    # and the per-item cell layout matches the kmeans assignment
    from spork_spark.operators import kmeans_quantized
    km = {(r.vec_id, r.cluster) for r in
          kmeans_quantized(vecs, k=4, n_iter=2).collect()}
    tr = {(r.vec_id, r.cluster) for r in cells.collect()}
    assert km == tr


def test_fake_decode_is_process_stable():
    # decode must not depend on salted hash(): crc32-derived dims
    import zlib
    from spork_spark.operators.multimodal import _fake_decode
    h = zlib.crc32(b"payload") & 0x7FFFFFFF
    assert _fake_decode(b"payload") == (16 + h % 1024, 16 + (h >> 10) % 1024)


def test_bloom_no_false_negatives_and_exact_after_join(spark):
    from spork_spark.operators import (bloom_filter, bloom_pruned_semi_join,
                                       build_bloom)
    big = spark.createDataFrame([(i,) for i in range(1000)], "k bigint")
    small = spark.createDataFrame([(i * 97,) for i in range(10)], "j bigint")
    bits = build_bloom(small, "j", n_bits=256, n_hashes=3)
    pruned = {r.k for r in bloom_filter(big, bits, "k", 256, 3).collect()}
    assert {i * 97 for i in range(10) if i * 97 < 1000} <= pruned  # no FN
    exact = {r.k for r in
             bloom_pruned_semi_join(big, small, "k", "j", 256, 3).collect()}
    assert exact == {i * 97 for i in range(10) if i * 97 < 1000}   # exact


def test_decontaminate_removes_overlapping_docs(spark):
    from spork_spark.operators import decontaminate
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "a completely different sentence with no overlap here"),
         (3, "brown fox jumps over the lazy dog again today")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "watch the quick brown fox jumps over everything")],
        "doc_id long, text string")
    # docs 1 and 3 both share the 4-gram "brown fox jumps over"
    kept = decontaminate(docs, bench, n=4, mode="remove")
    assert sorted(r.doc_id for r in kept.collect()) == [2]
    flagged = decontaminate(docs, bench, n=4, mode="flag")
    got = {r.doc_id: r.contaminated for r in flagged.collect()}
    assert got == {1: True, 2: False, 3: True}
    # n=5: doc 3's only shared run is 4 words long, so it survives
    kept5 = decontaminate(docs, bench, n=5, mode="remove")
    assert sorted(r.doc_id for r in kept5.collect()) == [2, 3]


def test_decontaminate_short_doc_partial_ngram(spark):
    # docs shorter than n have no full n-gram -> no overlap evidence; they
    # survive (previously a truncated gram made identical short docs match,
    # and empty docs match every empty benchmark line)
    from spork_spark.operators import decontaminate
    docs = spark.createDataFrame([(1, "tiny doc")], "doc_id long, text string")
    bench = spark.createDataFrame([(9, "tiny doc")], "doc_id long, text string")
    assert decontaminate(docs, bench, n=13).count() == 1
    assert decontaminate(docs, bench, n=2).count() == 0


def test_chunk_documents_boundaries(spark):
    from spork_spark.operators import chunk_documents
    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10))),   # 10 toks -> 4,4,2
         (2, "a b c"),                                 # 3 toks -> one chunk
         (3, "")],                                     # empty -> dropped
        "doc_id long, text string")
    out = chunk_documents(docs, seq_len=4).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.n_tokens))
    assert by_doc == {1: [(0, 4), (1, 4), (2, 2)], 2: [(0, 3)]}
    first = [r for r in out if r.doc_id == 1 and r.chunk_idx == 2][0]
    assert first.chunk_text == "w8 w9"


def test_repetition_ratio_and_entropy(spark):
    from pyspark.sql import functions as F
    from spork_spark.operators import char_entropy, repetition_ratio
    docs = spark.createDataFrame(
        [(1, "spam spam spam spam spam"),       # 4 identical 2-grams
         (2, "all words here are unique okay"),
         (3, "aaaa"),                           # zero entropy
         (4, "")],
        "doc_id long, text string")
    out = docs.select("doc_id",
                      repetition_ratio("text", n=2).alias("rep"),
                      F.round(char_entropy("text"), 4).alias("ent")) \
              .orderBy("doc_id").collect()
    assert out[0].rep == 0.75         # 4 grams, 1 distinct
    assert out[1].rep == 0.0
    assert out[2].ent == 0.0
    assert out[3].rep == 0.0 and out[3].ent == 0.0
    # "ab" -> two equiprobable chars -> exactly 1 bit
    one = docs.limit(0)
    ab = spark.createDataFrame([(9, "ab")], "doc_id long, text string")
    assert ab.select(char_entropy("text").alias("e")).first().e == 1.0


def test_asof_join_backward_per_key(spark):
    from spork_spark.operators import asof_join
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 10, "d")],
        "u long, ts long, x string")
    right = spark.createDataFrame(
        [(1, 8, 100.0), (1, 15, 200.0), (2, 50, 300.0)],
        "u long, ts long, p double")
    out = asof_join(left, right, on="ts", by="u")
    got = {(r.u, r.ts): r.p_asof for r in out.collect()}
    assert got == {(1, 10): 100.0, (1, 20): 200.0, (1, 5): None,
                   (2, 10): None}
    inner = asof_join(left, right, on="ts", by="u", how="inner")
    assert sorted((r.u, r.ts) for r in inner.collect()) == [(1, 10), (1, 20)]
    tol = asof_join(left, right, on="ts", by="u", tolerance=3)
    got_t = {(r.u, r.ts): r.p_asof for r in tol.collect()}
    assert got_t == {(1, 10): 100.0, (1, 20): None, (1, 5): None,
                     (2, 10): None}


def test_asof_join_equal_ts_matches(spark):
    from spork_spark.operators import asof_join
    left = spark.createDataFrame([(1, 10, "a")], "u long, ts long, x string")
    right = spark.createDataFrame([(1, 10, 7.0)], "u long, ts long, p double")
    out = asof_join(left, right, on="ts", by="u").collect()
    assert out[0].p_asof == 7.0


def test_range_join_containment_and_left(spark):
    from spork_spark.operators import range_join
    pts = spark.createDataFrame([(1, 5.0), (2, 15.0), (3, 99.0)],
                                "id long, x double")
    ivs = spark.createDataFrame(
        [("a", 0.0, 10.0), ("b", 4.0, 20.0), ("c", 50.0, 60.0)],
        "label string, lo double, hi double")
    inner = range_join(pts, ivs, "x", "lo", "hi", bin_width=7.0)
    got = sorted((r.id, r.label) for r in inner.collect())
    assert got == [(1, "a"), (1, "b"), (2, "b")]   # overlap matches both
    left = range_join(pts, ivs, "x", "lo", "hi", bin_width=7.0, how="left")
    got_l = sorted(((r.id, r.label) for r in left.collect()),
                   key=lambda t: (t[0], t[1] or ""))
    assert got_l == [(1, "a"), (1, "b"), (2, "b"), (3, None)]


def test_pack_sequences_crosses_doc_boundaries(spark):
    from spork_spark.operators import pack_sequences
    docs = spark.createDataFrame(
        [(i, " ".join(f"d{i}w{j}" for j in range(7)), 0) for i in range(3)],
        "doc_id long, text string, st int")
    rows = pack_sequences(docs, seq_len=5, stream_col="st") \
        .orderBy("seq_idx").collect()
    # 21 tokens -> 4 full + 1-token tail; order follows doc_id
    assert [r.n_tokens for r in rows] == [5, 5, 5, 5, 1]
    assert rows[0].seq_text == "d0w0 d0w1 d0w2 d0w3 d0w4"
    assert rows[1].seq_text == "d0w5 d0w6 d1w0 d1w1 d1w2"
    assert rows[4].seq_text == "d2w6"
    # empty docs contribute nothing; token totals conserved
    assert sum(r.n_tokens for r in rows) == 21


def test_stratified_sample_rates_and_determinism(spark):
    from spork_spark.operators import stratified_sample
    docs = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(2000)],
        "doc_id long, lang string")
    kept = stratified_sample(docs, "lang", {"en": 0.5}, default_rate=0.1)
    counts = {r.lang: r.n for r in
              kept.groupBy("lang").agg(__import__("pyspark.sql.functions",
                  fromlist=["count"]).count("*").alias("n")).collect()}
    # md5 is uniform: expect ~500 en, ~100 de (loose bounds)
    assert 400 < counts.get("en", 0) < 600
    assert 50 < counts.get("de", 0) < 160
    # deterministic: same call, same rows
    a = sorted(r.doc_id for r in kept.collect())
    b = sorted(r.doc_id for r in
               stratified_sample(docs, "lang", {"en": 0.5},
                                 default_rate=0.1).collect())
    assert a == b


def test_stratified_sample_rate_one_keeps_all(spark):
    # regression: rate>=1.0 used to be compared as the 5-char hex '10000'
    # which lexicographically dropped ~94% of a keep-everything stratum
    from spork_spark.operators import stratified_sample
    docs = spark.createDataFrame(
        [(i, "en") for i in range(500)], "doc_id long, lang string")
    kept = stratified_sample(docs, "lang", {"en": 1.0})
    assert kept.count() == 500
    none = stratified_sample(docs, "lang", {"en": 0.0})
    assert none.count() == 0


def test_range_join_left_null_payload_not_duplicated(spark):
    # regression: how='left' anti-joined on all left columns (null-unsafe),
    # so a MATCHED left row with any NULL column was re-emitted null-filled
    from spork_spark.operators import range_join
    pts = spark.createDataFrame([(1, 5.0, None), (2, 99.0, None)],
                                "id long, x double, note string")
    ivs = spark.createDataFrame([("a", 0.0, 10.0)],
                                "label string, lo double, hi double")
    out = range_join(pts, ivs, "x", "lo", "hi", bin_width=7.0, how="left")
    rows = sorted(((r.id, r.label) for r in out.collect()),
                  key=lambda t: (t[0], t[1] or ""))
    assert rows == [(1, "a"), (2, None)]
    # duplicate left rows keep their multiplicity
    dup = spark.createDataFrame([(1, 5.0, None), (1, 5.0, None)],
                                "id long, x double, note string")
    assert range_join(dup, ivs, "x", "lo", "hi", bin_width=7.0,
                      how="left").count() == 2


def test_range_join_rejects_column_collision(spark):
    import pytest
    from spork_spark.operators import range_join
    pts = spark.createDataFrame([(1, 5.0)], "id long, x double")
    ivs = spark.createDataFrame([(9, 0.0, 10.0)],
                                "id long, lo double, hi double")
    with pytest.raises(ValueError, match="share column names"):
        range_join(pts, ivs, "x", "lo", "hi", bin_width=7.0, how="left")


def test_asof_join_rejects_reserved_columns(spark):
    import pytest
    from spork_spark.operators import asof_join
    left = spark.createDataFrame([(1, 10, 0)], "u long, ts long, __side int")
    right = spark.createDataFrame([(1, 8, 1.0)], "u long, ts long, p double")
    with pytest.raises(ValueError, match="internal names"):
        asof_join(left, right, on="ts", by="u")


def test_word_ngrams_short_text_empty(spark):
    # regression: texts shorter than n emitted one truncated gram (empty
    # string for empty text), making every short doc overlap in decontaminate
    from pyspark.sql import functions as F
    from spork_spark.operators import word_ngrams, decontaminate
    docs = spark.createDataFrame(
        [(1, "a b"), (2, ""), (3, "   "), (4, "w x y z")],
        "doc_id long, text string")
    got = {r.doc_id: r.g for r in
           docs.select("doc_id", word_ngrams("text", 3).alias("g")).collect()}
    assert got[1] == [] and got[2] == [] and got[3] == []
    assert got[4] == ["w x y", "x y z"]
    # empty benchmark text must not contaminate empty training docs
    bench = spark.createDataFrame([(99, "")], "doc_id long, text string")
    out = decontaminate(docs, bench, n=3, mode="flag")
    assert all(not r.contaminated for r in out.collect())


def test_gopher_filter_rule_matrix(spark):
    from spork_spark.operators import gopher_filter
    rows = [
        (1, "the brown cats sleep near the warm fire tonight " * 6),  # keep
        (2, "short text"),                                    # too few words
        (3, "the " + "supercalifragilistic " * 60),           # avg too long
        (4, ("111 222 333 444 555 666 777 888 999 000 " * 6) + "the"),
        # ^ avg len fine, but words are digits → non-alpha rule
        (5, "zzzz qqqq wwww eeee rrrr tttt yyyy uuuu iiii oooo " * 6),
        # ^ well-formed words but zero stopwords
        (6, None),                                            # null text
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           gopher_filter(df, min_words=20, max_words=500,
                         min_stopwords=1).collect()}
    assert out[1].keep and out[1].drop_reason is None
    assert out[2].drop_reason == "too_few_words"
    assert out[3].drop_reason == "avg_word_too_long"
    assert out[4].drop_reason == "non_alpha_words"
    assert out[5].drop_reason == "too_few_stopwords"
    assert out[6].drop_reason == "too_few_words"   # null → 0 tokens


def test_decode_survives_null_payloads(spark):
    """NULL binary payloads are data, not job-killers: every decode
    kernel must emit a row (fake dims / nulls) instead of raising."""
    from spork_spark.operators import decode_audio, decode_pixel_stats
    df = spark.createDataFrame(
        [(1, _pgm(2, 2, [0, 1, 2, 3])), (2, None)],
        "item_id bigint, payload binary")
    imgs = {r.item_id: r for r in
            decode_images(df, "payload", "item_id").collect()}
    assert imgs[2].format == "unknown" and imgs[2].n_bytes == 0
    px = {r.item_id: r for r in
          decode_pixel_stats(df, "payload", "item_id").collect()}
    assert px[1].n_pixels == 4 and px[2].n_pixels is None
    au = {r.item_id: r for r in
          decode_audio(df, "payload", "item_id").collect()}
    assert au[2].sample_rate is None


def test_dedup_lines_removes_corpus_boilerplate(spark):
    from spork_spark.operators import dedup_lines
    banner = "accept our cookies to continue"
    rows = [
        (1, f"{banner}\nunique first doc line\nanother line", "a"),
        (2, f"{banner}\nsecond doc content", "b"),
        (3, f"{banner}\nthird doc content\n{banner}", "c"),
        (4, banner, "d"),                       # all-boilerplate doc
        (5, "no boilerplate here at all", "e"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, src string")
    out = {r.doc_id: r for r in
           dedup_lines(df, max_occurrences=2).collect()}
    assert out[1].text == "unique first doc line\nanother line"
    assert out[2].text == "second doc content"
    assert out[3].text == "third doc content"   # both copies removed
    assert out[4].text == "" and out[4].src == "d"   # survives, empty
    assert out[5].text == "no boilerplate here at all"
    # below threshold: a line in exactly 2 docs stays
    out2 = {r.doc_id: r.text for r in
            dedup_lines(df.filter("doc_id <= 2"),
                        max_occurrences=2).collect()}
    assert out2[1].startswith(banner)


def test_resample_mixture_counts(spark):
    from spork_spark.operators import resample_mixture
    rows = [(i, "en" if i % 2 == 0 else "fr") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = resample_mixture(df, "lang", {"en": 3.0, "fr": 0.5},
                           key_col="doc_id")
    per = {r.lang: r.n for r in
           out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert per["en"] == 300                    # integer weight: exact 3x
    assert 20 <= per["fr"] <= 80               # ~half of 100, hash-stable
    # determinism: same output both runs
    again = resample_mixture(df, "lang", {"en": 3.0, "fr": 0.5},
                             key_col="doc_id")
    assert sorted(map(tuple, out.collect())) == \
        sorted(map(tuple, again.collect()))
    # copy_idx enumerates 0..n-1 per row
    en0 = [r.copy_idx for r in out.filter("doc_id = 0").collect()]
    assert sorted(en0) == [0, 1, 2]


def test_quantize_roundtrip_bounds(spark):
    from spork_spark.operators import (dequantize_embeddings,
                                       quantize_embeddings)
    rows = [(1, [0.5, -1.0, 0.25, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),
            (3, [100.0, -50.0, 1.0, 0.003])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = quantize_embeddings(df)
    out = {r.vec_id: r for r in q.collect()}
    assert out[1].q_vec == [64, -127, 32, 0]       # s = 1/127
    assert out[2].q_vec == [0, 0, 0, 0] and out[2].q_scale == 0.0
    assert max(abs(c) for c in out[3].q_vec) == 127
    # reconstruction error bounded by s/2 per element
    deq = dequantize_embeddings(q, out_col="recon")
    for r in deq.collect():
        s = r.q_scale
        for orig, rec in zip(r.embedding, r.recon):
            assert abs(orig - rec) <= s / 2 + 1e-6


def test_dedup_lines_metachar_separator(spark):
    """Separators containing regex metacharacters must split literally
    (F.split takes a regex; the operator quotes it)."""
    from spork_spark.operators import dedup_lines
    df = spark.createDataFrame(
        [(1, "keep me|ad banner"), (2, "other text|ad banner")],
        "doc_id long, text string")
    out = {r.doc_id: r.text for r in
           dedup_lines(df, sep="|", max_occurrences=1).collect()}
    assert out[1] == "keep me" and out[2] == "other text"


def test_scrub_pii_patterns(spark):
    from spork_spark.operators import scrub_pii
    rows = [
        (1, "contact bob.smith+x@example.co.uk or call 555-123-4567 now"),
        (2, "server at 192.168.10.1 logged ssn 123-45-6789"),
        (3, "clean text with no pii at all"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in scrub_pii(df).collect()}
    assert out[1].text == "contact <EMAIL> or call <PHONE> now"
    assert out[2].text == "server at <IP> logged ssn <ID>"
    assert out[1].pii_count == 2 and out[2].pii_count == 2
    assert out[3].text == rows[2][1] and out[3].pii_count == 0
    assert out[4].text is None            # null text passes through


def test_resize_images_nearest_neighbor(spark):
    """REAL resize round trip: decode → stride-2 sample → re-encode →
    the output is itself a valid PNM the decoder reads back; broken and
    16-bit payloads yield nulls instead of failing the job."""
    import numpy as np
    from spork_spark.operators import resize_images
    from spork_spark.operators.multimodal import decode_pnm
    px = list(range(20))                      # 5x4 gradient
    good = _pgm(5, 4, px)
    bad16 = b"P5\n2 2\n65535\n" + bytes(8)    # 16-bit: unsupported
    rows = [(1, bytearray(good)), (2, bytearray(b"nope")),
            (3, bytearray(bad16))]
    df = spark.createDataFrame(rows, "item_id long, payload binary")
    got = {r["item_id"]: r for r in
           resize_images(df, factor=2).collect()}
    assert (got[1]["width"], got[1]["height"]) == (3, 2)   # ceil(5/2),ceil(4/2)
    arr = decode_pnm(bytes(got[1]["payload"]))
    expect = np.array(px, dtype=np.uint8).reshape(4, 5)[::2, ::2]
    assert np.array_equal(arr, expect)
    assert got[2]["payload"] is None and got[3]["payload"] is None


def test_resize_preserves_source_maxval(spark):
    """Re-encoding must keep the source's declared maxval: claiming 255
    for a maxval-100 image silently darkens it ~40% for any reader that
    normalizes by maxval (round-4 review finding)."""
    from spork_spark.operators import resize_images
    from spork_spark.operators.multimodal import parse_pnm_header
    payload = b"P5\n4 4\n100\n" + bytes(range(16))
    df = spark.createDataFrame([(1, bytearray(payload))],
                               "item_id long, payload binary")
    out = resize_images(df, factor=2).collect()[0]
    assert parse_pnm_header(bytes(out["payload"]))[3] == 100


def test_ahash_near_duplicate_images(spark):
    """aHash: identical images hash equal; a copy with a few flipped
    pixels lands within small hamming; an unrelated gradient is far.
    Banded pairs (4x16-bit, pigeonhole-exact for hamming<=3) find the
    dup pair and only it."""
    import numpy as np
    from spork_spark.operators import ahash_images, ahash_pairs

    def pgm(px, w, h):
        return bytearray(b"P5\n%d %d\n255\n" % (w, h) + bytes(px))

    rng = list(range(0, 256, 4))[:64]         # 8x8 gradient
    base = [(i * 37) % 251 for i in range(256)]           # 16x16 texture
    near = list(base)
    near[4] = 255 - near[4]                   # flip two SAMPLED pixels
    near[202] = 255 - near[202]               # (grid hits even rows/cols)
    rows = [(1, pgm(base, 16, 16)), (2, pgm(near, 16, 16)),
            (3, pgm(rng, 8, 8)), (4, bytearray(b"junk"))]
    df = spark.createDataFrame(rows, "item_id long, payload binary")
    hashes = ahash_images(df)
    got = {r["item_id"]: r for r in hashes.collect()}
    assert got[4]["hash_hi"] is None                      # decode failure
    assert (got[1]["hash_hi"], got[1]["hash_lo"]) != \
           (got[3]["hash_hi"], got[3]["hash_lo"])
    ham12 = (bin(got[1]["hash_hi"] ^ got[2]["hash_hi"]).count("1")
             + bin(got[1]["hash_lo"] ^ got[2]["hash_lo"]).count("1"))
    assert ham12 <= 3                          # two flipped pixels
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in ahash_pairs(hashes, max_hamming=3).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == ham12
    assert all(p == (1, 2) for p in pairs)


def test_ahash_pairs_rejects_unsound_threshold(spark):
    import pytest
    from spork_spark.operators import ahash_images, ahash_pairs
    df = spark.createDataFrame([(1, bytearray(b"P5\n2 2\n255\nabcd"))],
                               "item_id long, payload binary")
    with pytest.raises(ValueError, match="max_hamming"):
        ahash_pairs(ahash_images(df), max_hamming=5)


def test_ahash_rejects_unusable_hash_sizes(spark):
    """Odd sizes can't split into halves; >10 overflows the 63-bit shift
    range — both must fail loudly, not NULL every hash through the
    decode except (round-4 review finding)."""
    import pytest
    from spork_spark.operators import ahash_images, ahash_pairs
    df = spark.createDataFrame([(1, bytearray(b"P5\n2 2\n255\nabcd"))],
                               "item_id long, payload binary")
    for bad in (9, 12, 0):
        with pytest.raises(ValueError, match="hash_size"):
            ahash_images(df, hash_size=bad)
    with pytest.raises(ValueError, match="hash_size"):
        ahash_pairs(ahash_images(df), hash_size=7)


def test_ahash_pairs_small_hash_size_bands_properly(spark):
    """hash_size=4 (8-bit halves): bands derive from the size, so
    buckets stay discriminative instead of degenerating to '0' for
    every row (round-4 review finding)."""
    from spork_spark.operators import ahash_images, ahash_pairs

    def pgm(px, w, h):
        return bytearray(b"P5\n%d %d\n255\n" % (w, h) + bytes(px))

    base = [(i * 37) % 251 for i in range(64)]
    rows = [(1, pgm(base, 8, 8)), (2, pgm(base, 8, 8)),
            (3, pgm(list(range(64)), 8, 8))]
    df = spark.createDataFrame(rows, "item_id long, payload binary")
    hashes = ahash_images(df, hash_size=4)
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in ahash_pairs(hashes, max_hamming=0,
                                  hash_size=4).collect()}
    assert pairs == {(1, 2): 0}


def test_set_similarity_pairs_exact_vs_bruteforce(spark):
    """Prefix-filtered set-similarity join must equal the brute-force
    quadratic result exactly — including near-threshold pairs."""
    from spork_spark.operators.dedup import set_similarity_pairs
    base = "the quick brown fox jumps over the lazy dog tonight again"
    rows = [
        (0, base),
        (1, base),                                   # identical → J=1
        (2, base.replace("quick", "swift")),         # near dup
        (3, "completely different content about spark engines and "
            "large scale data processing pipelines"),
        (4, base[:30]),                              # prefix-only overlap
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {(r.id_a, r.id_b): (r.inter, r.uni) for r in
           set_similarity_pairs(df, "doc_id", "text", shingle_n=4,
                                threshold=0.5).collect()}

    def sh(t):
        return {t[i:i + 4] for i in range(max(len(t) - 3, 1))}

    sets = {i: sh(t) for i, t in rows if t is not None}
    want = {}
    for a in sets:
        for b in sets:
            if a < b:
                i = len(sets[a] & sets[b])
                u = len(sets[a] | sets[b])
                if i * 1_000_000 >= 500_000 * u:
                    want[(a, b)] = (i, u)
    assert got == want
    assert (0, 1) in got and (0, 3) not in got


def test_image_near_dedup_closes_transitivity(spark):
    """aHash pairs -> components -> min-id survivor: a chain A~B~C with
    A and C not directly paired must still drop both B and C."""
    from spork_spark.operators.graph import connected_components
    from spork_spark.operators.multimodal import ahash_pairs

    # hand-built hashes: 10~11 (hamming 2), 11~12 (hamming 2), 10~12
    # would be hamming 4 (over threshold); 20 is isolated
    rows = [(10, 0b1111, 0b0000), (11, 0b1100, 0b0000),
            (12, 0b0000, 0b0000), (20, 0b1010101010101010, 0b101)]
    hashes = spark.createDataFrame(
        rows, "item_id long, hash_hi long, hash_lo long")
    pairs = ahash_pairs(hashes, max_hamming=2, hash_size=8)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(10, 11), (11, 12)}
    comp = connected_components(pairs, "id_a", "id_b")
    losers = {r.node for r in
              comp.filter(F.col("node") != F.col("comp")).collect()}
    assert losers == {11, 12}


def test_asof_join_forward(spark):
    from spork_spark.operators import asof_join
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 10, "d")],
        "u long, ts long, x string")
    right = spark.createDataFrame(
        [(1, 8, 100.0), (1, 15, 200.0), (2, 50, 300.0)],
        "u long, ts long, p double")
    out = asof_join(left, right, on="ts", by="u", direction="forward")
    got = {(r.u, r.ts): r.p_asof for r in out.collect()}
    # earliest right at-or-after
    assert got == {(1, 5): 100.0, (1, 10): 200.0, (1, 20): None,
                   (2, 10): 300.0}
    tol = asof_join(left, right, on="ts", by="u", direction="forward",
                    tolerance=5)
    got_t = {(r.u, r.ts): r.p_asof for r in tol.collect()}
    assert got_t == {(1, 5): 100.0, (1, 10): 200.0, (1, 20): None,
                     (2, 10): None}                  # 40 > 5 stale


def test_asof_join_nearest_ties_backward(spark):
    from spork_spark.operators import asof_join
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 21, "b"), (2, 7, "c")],
        "u long, ts long, x string")
    right = spark.createDataFrame(
        [(1, 8, 100.0), (1, 24, 200.0), (2, 5, 300.0), (2, 9, 400.0)],
        "u long, ts long, p double")
    out = asof_join(left, right, on="ts", by="u", direction="nearest")
    got = {(r.u, r.ts): r.p_asof for r in out.collect()}
    # (1,10): back Δ2 vs fwd Δ14 -> 100; (1,21): Δ13 vs Δ3 -> 200;
    # (2,7): Δ2 both sides -> tie goes BACKWARD -> 300
    assert got == {(1, 10): 100.0, (1, 21): 200.0, (2, 7): 300.0}
    inner = asof_join(left.union(spark.createDataFrame(
        [(3, 1, "z")], "u long, ts long, x string")),
        right, on="ts", by="u", direction="nearest", how="inner")
    assert sorted(r.u for r in inner.collect()) == [1, 1, 2]


def test_asof_join_tolerance_on_timestamps(spark):
    """tolerance is in SECONDS for timestamp keys (the tnum /1e6 view);
    pins the unix_micros path that plain cast-to-double cannot take."""
    from spork_spark.operators import asof_join
    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00")], "u long, ts string") \
        .selectExpr("u", "cast(ts as timestamp_ntz) ts")
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:59:30", 1.0),
         (1, "2024-01-01 09:00:00", 2.0)],
        "u long, ts string, p double") \
        .selectExpr("u", "cast(ts as timestamp_ntz) ts", "p")
    ok = asof_join(left, right, on="ts", by="u", tolerance=60)
    assert ok.collect()[0].p_asof == 1.0
    stale = asof_join(left, right, on="ts", by="u", tolerance=10)
    assert stale.collect()[0].p_asof is None


def test_lsh_incremental_matches_full_recompute(docs):
    """Incremental pairs against a stored index == full-corpus pairs
    filtered to those touching a new doc — the maintenance invariant."""
    from spork_spark.operators import lsh_pairs_incremental, minhash_banding
    old = docs.filter(F.col("doc_id") < 2)       # 0, 1 (exact dups)
    new = docs.filter(F.col("doc_id") >= 2)      # 2 (near dup of 0/1), 3, 4
    idx = minhash_banding(old, "doc_id", "text")
    inc = lsh_pairs_incremental(idx, old, new, "doc_id", "text",
                                threshold=0.5)
    got = {(r.id_a, r.id_b): r.jaccard for r in inc.collect()}
    full = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
    new_ids = {2, 3, 4}
    want = {(r.id_a, r.id_b): r.jaccard for r in full.collect()
            if r.id_a in new_ids or r.id_b in new_ids}
    assert got == want
    assert got                               # the near-dup pair surfaced
    assert (0, 1) not in got                 # old-old pairs never form


def test_lsh_incremental_new_new_pairs_form(spark):
    """Two near-dup docs arriving in the SAME batch must pair with each
    other, not only with history."""
    from spork_spark.operators import lsh_pairs_incremental, minhash_banding
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    old = spark.createDataFrame(
        [(0, "unrelated historical text about entirely other things "
             "stored long ago in the archive")],
        "doc_id bigint, text string")
    new = spark.createDataFrame(
        [(10, base), (11, base)], "doc_id bigint, text string")
    idx = minhash_banding(old, "doc_id", "text")
    inc = lsh_pairs_incremental(idx, old, new, "doc_id", "text",
                                threshold=0.5)
    assert {(r.id_a, r.id_b) for r in inc.collect()} == {(10, 11)}


def test_hard_negatives_excludes_same_label(spark):
    from spork_spark.operators import hard_negatives
    rows = [(1, [1.0, 0.0], 0), (2, [0.99, 0.1], 0),   # same label as 1
            (3, [0.9, 0.2], 1), (4, [0.0, 1.0], 1),
            (5, [-1.0, 0.0], 2)]
    df = spark.createDataFrame(rows,
                               "vec_id bigint, embedding array<double>, "
                               "label int")
    out = hard_negatives(df, k=2)
    by_anchor = {}
    for r in out.collect():
        by_anchor.setdefault(r.anchor_id, []).append(r)
    # anchor 1 (label 0): nearest different-label is 3, never 2
    got1 = [r.vec_id for r in sorted(by_anchor[1], key=lambda r: r.rank)]
    assert got1[0] == 3 and 2 not in got1
    assert all(r.label != 0 for r in by_anchor[1])
    assert all(len(v) <= 2 for v in by_anchor.values())


def test_hard_negatives_anchor_subset(spark):
    from spork_spark.operators import hard_negatives
    import pyspark.sql.functions as F
    rows = [(i, [float(i), 1.0], i % 2) for i in range(10)]
    df = spark.createDataFrame(rows,
                               "vec_id bigint, embedding array<double>, "
                               "label int")
    out = hard_negatives(df, anchors=df.filter(F.col("vec_id") < 2), k=3)
    assert {r.anchor_id for r in out.collect()} == {0, 1}


def test_normalize_text_nfc_lower_collapse(spark):
    from spork_spark.operators import normalize_text
    composed = "café"                       # é precomposed
    decomposed = "café"                    # e + combining acute
    df = spark.createDataFrame(
        [(1, f"  {decomposed}   du   MONDE \t"), (2, composed), (3, None)],
        "doc_id bigint, text string")
    out = {r.doc_id: r.text_norm
           for r in normalize_text(df).collect()}
    assert out[1] == "café du monde"        # NFC + lower + collapse
    assert out[2] == "café"
    assert out[3] is None


def test_hard_negatives_ivf_recall_and_parity(spark):
    """nprobe = n_centroids degrades the IVF miner to the exact miner;
    at nprobe < n_centroids recall stays above the bound."""
    from spork_spark.operators import hard_negatives, hard_negatives_ivf
    import pyspark.sql.functions as F
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    anchors = emb.filter(F.col("vec_id") % 25 == 0)
    exact = hard_negatives(emb, anchors=anchors, k=5)
    full = hard_negatives_ivf(emb, anchors=anchors, k=5,
                              n_centroids=4, nprobe=4)
    e = {(r.anchor_id, r.vec_id) for r in exact.collect()}
    f = {(r.anchor_id, r.vec_id) for r in full.collect()}
    assert e == f                              # full probe == exact
    probe = hard_negatives_ivf(emb, anchors=anchors, k=5,
                               n_centroids=4, nprobe=2)
    p = {(r.anchor_id, r.vec_id) for r in probe.collect()}
    assert len(p & e) / len(e) >= 0.5          # recall bound at nprobe=2


def test_item_cooccurrence_counts_lift(spark):
    from spork_spark.operators import item_cooccurrence
    rows = [(1, "x"), (1, "y"), (2, "x"), (2, "y"), (3, "x"), (3, "z"),
            (4, "y"), (4, "y"),            # duplicate item in basket: once
            (5, "w")]                      # singleton support < 2 pruned
    df = spark.createDataFrame(rows, "b bigint, i string")
    out = {(r.item_a, r.item_b): r for r in
           item_cooccurrence(df, "b", "i", min_support=2,
                             min_pair=2).collect()}
    assert set(out) == {("x", "y")}
    r = out[("x", "y")]
    assert (r.co, r.n_a, r.n_b) == (2, 3, 3)
    # N = baskets with surviving items = {1,2,3,4} = 4
    assert r.lift_e6 == 2 * 4 * 10 ** 6 // 9
    assert r.cos2_e6 == 4 * 10 ** 6 // 9


def test_item_cooccurrence_caps_power_baskets(spark):
    from spork_spark.operators import item_cooccurrence
    big = [(99, f"i{k}") for k in range(50)]
    small = [(1, "a"), (1, "b"), (2, "a"), (2, "b")]
    df = spark.createDataFrame(big + small, "b bigint, i string")
    out = item_cooccurrence(df, "b", "i", min_support=2, min_pair=2,
                            max_basket=10).collect()
    assert {(r.item_a, r.item_b) for r in out} == {("a", "b")}


def test_containment_asymmetric_quote(spark):
    """The quote case Jaccard misses: a short document embedded
    wholesale in a much longer one — containment(a→b) = 1.0 while the
    symmetric Jaccard stays far below any dedup threshold."""
    from spork_spark.operators import containment_pairs, ngram_jaccard_pairs
    quote = "the quarterly numbers show a strong rise in revenue"
    page = ("corporate newsletter volume nine " + quote +
            " further commentary follows with an extended outlook "
            "section discussing markets products hiring and the "
            "usual closing remarks from the editorial desk")
    df = spark.createDataFrame([(1, quote), (2, page)],
                               "doc_id bigint, text string")
    got = {(r.id_a, r.id_b): r.containment for r in
           containment_pairs(df, "doc_id", "text", n=3, threshold=0.8,
                             max_df=None).collect()}
    assert got.get((1, 2)) == 1.0           # quote fully contained
    assert (2, 1) not in got                # page not contained in quote
    jac = ngram_jaccard_pairs(df, "doc_id", "text", n=3,
                              threshold=0.8).collect()
    assert jac == []                        # Jaccard never sees it


def test_containment_matches_direct_reference(spark):
    """The collapsed inverted-index path must equal a direct
    (no-collapse, all-shared-shingles) reference on a frame with
    interleaved exact-duplicate groups — including duplicate-weighted
    document frequencies under max_df."""
    from spork_spark.operators import containment_pairs
    from spork_spark.operators.dedup import shingles
    texts = ["alpha beta gamma delta epsilon zeta",
             "alpha beta gamma delta epsilon eta",
             "unrelated words entirely here now",
             "alpha beta gamma"]
    rows = [(i, texts[i % 4]) for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    kw = dict(n=3, threshold=0.5, max_df=9)

    nn = df.where(F.col("text").isNotNull())
    ex = nn.select("doc_id", F.explode(shingles("text", 3)).alias("__g"))
    dfreq = ex.groupBy("__g").agg(F.count(F.lit(1)).alias("__df"))
    kept = ex.join(dfreq, on="__g").where(F.col("__df") <= 9)
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__sz"))
    a = kept.select("__g", F.col("doc_id").alias("id_a"))
    b = kept.select("__g", F.col("doc_id").alias("id_b"))
    direct = (a.join(b, on="__g").where(F.col("id_a") != F.col("id_b"))
               .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("__c"))
               .join(sizes.select(F.col("doc_id").alias("id_a"),
                                  F.col("__sz").alias("__sa")), on="id_a")
               .withColumn("__ct", F.col("__c") / F.col("__sa"))
               .where(F.col("__ct") >= 0.5)
               .select("id_a", "id_b",
                       F.round("__ct", 4).alias("containment")))
    slow = {(r.id_a, r.id_b): r.containment for r in direct.collect()}
    fast = {(r.id_a, r.id_b): r.containment for r in
            containment_pairs(df, "doc_id", "text", **kw).collect()}
    assert fast == slow and len(fast) > 20
    assert fast[(0, 4)] == 1.0              # exact-dup directed pair


def test_containment_maxdf_blacks_out_oversized_groups(spark):
    """Duplicate-weighted df: a group of identical docs LARGER than
    max_df pushes every one of its shingles over the cap, so the
    group's kept-shingle space is empty and it emits nothing — same
    as the direct semantics. Without the cap the group pairs fully."""
    from spork_spark.operators import containment_pairs
    rows = [(i, "same text repeated in every document here")
            for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    capped = containment_pairs(df, "doc_id", "text", n=3,
                               threshold=0.5, max_df=5).collect()
    assert capped == []
    full = containment_pairs(df, "doc_id", "text", n=3,
                             threshold=0.5, max_df=None).collect()
    assert len(full) == 8 * 7               # all directed pairs, both ways
    assert all(r.containment == 1.0 for r in full)


def test_containment_lazy_frac_cap_matches_eager_int_cap(spark):
    """max_df_frac computes the corpus-relative cap INSIDE the plan
    (1-row count broadcast); it must equal the eager max(floor,
    N // 10) int path bit-for-bit, including on a corpus small enough
    that the floor dominates, and must not fire any job at
    query-construction time."""
    from spork_spark.operators import containment_pairs
    texts = ["alpha beta gamma delta epsilon zeta",
             "alpha beta gamma delta epsilon eta",
             "unrelated words entirely here now",
             "alpha beta gamma", None]
    rows = [(i, texts[i % 5]) for i in range(25)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    n_docs = 20                                   # non-null rows
    eager = containment_pairs(df, "doc_id", "text", n=3, threshold=0.5,
                              max_df=max(4, n_docs // 10))
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup() or [])
    lazy = containment_pairs(df, "doc_id", "text", n=3, threshold=0.5,
                             max_df_frac=0.1, max_df_floor=4)
    assert len(tracker.getJobIdsForGroup() or []) == jobs_before
    key = lambda r: (r.id_a, r.id_b, r.containment)
    assert sorted(map(key, lazy.collect())) == \
           sorted(map(key, eager.collect()))
    # floor-dominated corpus: frac gives 2, floor lifts to 50 == max_df=50
    small_eager = containment_pairs(df, "doc_id", "text", n=3,
                                    threshold=0.5, max_df=50)
    small_lazy = containment_pairs(df, "doc_id", "text", n=3,
                                   threshold=0.5, max_df_frac=0.1)
    assert sorted(map(key, small_lazy.collect())) == \
           sorted(map(key, small_eager.collect()))


def test_containment_ignores_null_texts(spark):
    from spork_spark.operators import containment_pairs
    rows = [(0, "shared text body for the pair"),
            (1, "shared text body for the pair"),
            (2, None), (3, None)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {(r.id_a, r.id_b) for r in
           containment_pairs(df, "doc_id", "text", n=3, threshold=0.5,
                             max_df=None).collect()}
    assert got == {(0, 1), (1, 0)}


def test_simhash_md5_broadcast_vocab_parity(spark):
    """r10: _simhash_md5 evaluates the 64 nibble votes once per DISTINCT
    shingle and re-attaches by null-safe broadcast join. Pin the exact
    semantics the inline expressions had: identical texts agree, a
    null-text doc still gets the all-minus-one-vote signature (its one
    null shingle md5's to null -> every vote -1 -> hex '0000...'), and
    the attach is a BroadcastHashJoin, not a shuffle."""
    rows = [(0, "abcdefghij klmnop qrstu"),
            (1, "abcdefghij klmnop qrstu"),
            (2, "totally different content here"),
            (3, None)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    from spork_spark.operators.dedup import simhash
    out = simhash(df, "doc_id", "text", hash_fn="md5")
    sigs = {r.doc_id: r.simhash for r in out.collect()}
    assert sigs[0] == sigs[1]
    assert sigs[0] != sigs[2]
    assert sigs[3] == "0" * 16          # null text: every vote -1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_edit_distance_grouped_expansion_matches_bruteforce(spark):
    """r10: edit_distance_pairs generates candidates by grouped
    posting-list expansion instead of a variant self-join. Must equal a
    brute-force levenshtein<=1 scan over all pairs (no join in plan)."""
    names = ["carol", "carole", "carl", "karol", "carol",  # dup value
             "xavier", "xavie", "zz", "z", ""]
    rows = [(i, s) for i, s in enumerate(names)] + [(99, None)]
    df = spark.createDataFrame(rows, "id bigint, name string")
    from spork_spark.operators.dedup import edit_distance_pairs
    got = {(r.id_a, r.id_b)
           for r in edit_distance_pairs(df, "id", "name").collect()}
    def lev(a, b):
        if a is None or b is None:
            return 99
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[len(b)]
    want = {(i, j) for i, (ia, a) in enumerate(rows) for (jb, b) in rows[i + 1:]
            for j in [jb] if lev(a, b) <= 1}
    want = {(min(a, b), max(a, b)) for a, b in
            {(rows[i][0], j) for i, (ia, a) in enumerate(rows)
             for (j, b) in rows[i + 1:] if lev(a, b) <= 1}}
    assert got == want and (0, 4) in got     # identical strings pair


def test_shingle_sets_matches_hof_shingles(spark):
    """The MinHash kernel's verify sets (_banding_with_sets) carry per-doc
    sets of LONG surrogate ids — an injective image of the shingles()
    HOF string sets. Consumers (_jaccard_verify) use only
    intersection/union sizes, so the pinned contract is set-size and
    pairwise-intersection parity across every non-null doc, including
    overlapping/truncated short-text grams. Null-text docs have no row:
    they have no banding rows either, so no candidate pair can reach
    the verify join with one."""
    rows = [(0, "abcdefghijklmno"), (1, "abc"), (2, ""), (3, None),
            (4, "aaaaaaaaaa"), (5, "abcdefghijklmno"), (6, None)]
    df = spark.createDataFrame(rows, "id bigint, text string")
    from spork_spark.operators.dedup import _banding_with_sets, shingles
    _, sets = _banding_with_sets(df, "id", "text", 5, 64, 16, 42,
                                 "xxhash64")
    new = {r.id: r["__sh"] for r in sets.collect()}
    old = {r.id: r["__sh"] for r in
           df.where(F.col("text").isNotNull())
             .select("id", shingles("text", 5).alias("__sh")).collect()}
    assert set(new) == set(old) == {0, 1, 2, 4, 5}
    for i in new:
        assert len(set(new[i])) == len(set(old[i]))
        for j in new:
            assert len(set(new[i]) & set(new[j])) == \
                   len(set(old[i]) & set(old[j])), (i, j)


def test_minhash_kernel_shares_vocab_exchange(spark):
    """The kernel's hash vocabulary (banding side) and rank vocabulary
    (verify side) read ONE distinct-shingle exchange: the optimizer
    prunes each side to its own id-keyed aggregate, so this exchange is
    the sharing the one kernel actually provides. Checked on the
    AQE-off physical plan, where exchange reuse is planned up front."""
    import re
    rows = [(0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumped over the lazy dog"),
            (2, "completely different text here"), (3, None)]
    df = spark.createDataFrame(rows, "id bigint, text string")
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        out = minhash_lsh_pairs(df, "id", "text", threshold=0.3,
                                collapse_exact=False)
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    vocab = [ln for ln in plan.splitlines()
             if "Exchange hashpartitioning(__s#" in ln]
    own = {re.search(r"plan_id=(\d+)", ln).group(1)
           for ln in vocab if "ReusedExchange" not in ln}
    reused = {re.search(r"plan_id=(\d+)", ln).group(1)
              for ln in vocab if "ReusedExchange" in ln}
    assert len(own) == 1 and reused == own, plan
    assert {(r.id_a, r.id_b) for r in out.collect()} == {(0, 1)}
