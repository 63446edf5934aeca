"""Dedup / similarity / textstats / multimodal plumbing."""

import math

import pytest
from pyspark.sql import functions as F

from lumbermill_spark.training import dedup, multimodal, similarity, textstats


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "a"),
        (2, "the quick brown fox jumps over the lazy cat", "a"),  # near-dup of 1
        (3, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG", "a"),  # exact (normalized) dup of 1
        (4, "completely different content about spark engines", "b"),
        (5, "der hund und die katze sind nicht da", "b"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_exact_dedup(docs):
    kept = dedup.exact_dedup(docs).collect()
    ids = sorted(r["doc_id"] for r in kept)
    assert ids == [1, 2, 4, 5]  # 3 collapses into 1


def test_exact_dedup_null_text_policy(spark):
    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, None), (4, None), (5, "")],
        "doc_id long, text string")
    # default: null-text rows pass through (content unknown != equal)
    kept = sorted(r["doc_id"] for r in dedup.exact_dedup(df).collect())
    assert kept == [1, 3, 4, 5]
    # opt-in: nulls dedupe as one shared empty content, still distinct
    # from the empty-string doc
    collapsed = sorted(r["doc_id"] for r in
                       dedup.exact_dedup(df, keep_nulls=False).collect())
    assert collapsed == [1, 3, 5]


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "t string")
    out = df.select(dedup.word_shingles(F.col("t"), 2).alias("s")).first()["s"]
    assert sorted(out) == ["a b", "b c", "c d"]
    short = spark.createDataFrame([("a",)], "t string")
    assert short.select(dedup.word_shingles(F.col("t"), 3).alias("s")).first()["s"] == []


def test_ngram_jaccard_pairs(docs):
    out = dedup.ngram_jaccard_pairs(docs, n=2, threshold=0.3)
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert (1, 2) in pairs
    # "…lazy dog" vs "…lazy cat": 8 bigrams each, 7 shared -> 7/9
    assert abs(pairs[(1, 2)] - 7 / 9) < 1e-6
    assert (1, 4) not in pairs


def test_ngram_jaccard_blocked(docs):
    # literal (array) engine keeps zero-overlap in-block pairs at
    # threshold 0 — blocking semantics visible
    out = dedup.ngram_jaccard_pairs(docs, n=2, threshold=0.0,
                                    block_col="source", hashed=False)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (4, 5) in pairs and (1, 4) not in pairs


def test_ngram_jaccard_engines_agree(docs):
    kw = dict(n=2, threshold=0.2, block_col="source")
    fast = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs(docs, hashed=True, **kw).collect()}
    literal = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in dedup.ngram_jaccard_pairs(docs, hashed=False, **kw).collect()}
    assert fast == literal


def test_minhash_signature_properties(docs):
    sigs = {r["doc_id"]: r["sig"]
            for r in dedup.minhash_signatures(docs, num_hashes=16).collect()}
    assert all(len(s) == 16 for s in sigs.values())
    # identical shingle sets -> identical signatures? doc1 vs doc3 differ
    # (case), so compare doc against itself via determinism instead
    sigs2 = {r["doc_id"]: r["sig"]
             for r in dedup.minhash_signatures(docs, num_hashes=16).collect()}
    assert sigs == sigs2
    # near-dups agree on most hash slots
    agree = sum(a == b for a, b in zip(sigs[1], sigs[2]))
    differ = sum(a == b for a, b in zip(sigs[1], sigs[4]))
    assert agree > differ


def test_minhash_lsh_pairs(docs):
    out = dedup.minhash_lsh_pairs(docs, num_hashes=32, bands=16, shingle_n=2,
                                  threshold=0.3)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (1, 2) in got
    assert all(a < b for a, b in got)


def test_simhash_and_pairs(docs):
    fps = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert len(fps) == 5
    ham12 = bin(fps[1] ^ fps[2]).count("1")
    ham14 = bin(fps[1] ^ fps[4]).count("1")
    assert ham12 < ham14  # near-dups closer in hamming space
    pairs = dedup.simhash_pairs(docs, max_hamming=ham12).collect()
    assert any(r["id_a"] == 1 and r["id_b"] == 2 for r in pairs)


def test_simhash_pairs_degenerate_bucket_capped(spark):
    # 10k identical-fingerprint docs would be ~50M candidate pairs with
    # an uncapped chunk join; the max_bucket guard drops the bucket and
    # the call completes instantly with zero pairs.
    n = 10_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("same boilerplate text repeated everywhere").alias("text"),
    )
    small = spark.createDataFrame(
        [(i, "identical tiny doc") for i in range(4)],
        "doc_id long, text string",
    )
    # MinHash shares the bucket stage: every band of the 10k docs lands
    # in one bucket, which the same guard drops
    for pairs_fn in (dedup.simhash_pairs, dedup.minhash_lsh_pairs):
        capped = pairs_fn(df, max_bucket=100)
        assert capped.count() == 0
        # small clusters below the cap still pair up
        got = {(r["id_a"], r["id_b"]) for r in pairs_fn(small).collect()}
        assert got == {(a, b) for a in range(4) for b in range(4) if a < b}


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),     # close to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
        (4, [-1.0, 0.0, 0.0]),    # opposite of 0
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_exact(vecs):
    out = similarity.cosine_topk(vecs, vecs.filter(F.col("vec_id") == 0), k=2)
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in rows] == [1, 2]
    expected = 0.9 / math.sqrt(0.9**2 + 0.1**2)
    assert abs(rows[0]["cos"] - expected) < 1e-5


def test_near_duplicate_pairs(vecs):
    out = similarity.near_duplicate_pairs(vecs, threshold=0.95)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert got == {(0, 1)}


def test_srp_and_ann(vecs):
    bucketed = similarity.srp_signature(vecs, dim=3, num_planes=4)
    b = {r["vec_id"]: r["srp_bucket"] for r in bucketed.collect()}
    assert b[0] == b[1]          # near-identical vectors share the bucket
    assert b[0] != b[4]          # opposite vectors cannot share all signs
    ann = similarity.ann_lsh_topk(vecs, vecs.filter(F.col("vec_id") == 0),
                                  dim=3, k=2, num_planes=4)
    rows = ann.collect()
    assert rows and rows[0]["neighbor_id"] == 1


def test_detect_language(spark):
    df = spark.createDataFrame(
        [(1, "the cat is on a mat and the dog"),
         (2, "der hund und die katze ist nicht"),
         (3, "el perro y la casa de los gatos"),
         (4, "zzz qqq xxx")],
        "id long, text string",
    )
    out = {r["id"]: r["lang_pred"]
           for r in textstats.detect_language(df).collect()}
    assert out == {1: "en", 2: "de", 3: "es", 4: "und"}


def test_quality_and_tokens(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox is one of the best")], "id long, text string"
    )
    q = textstats.quality_score(df).first()
    assert q["n_words"] == 9
    assert 0.0 < q["quality"] <= 1.0
    t = textstats.token_counts(df).first()
    assert t["n_ws_tokens"] == 9
    assert t["n_subword_est"] == math.ceil(len("the quick brown fox is one of the best") / 4)


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "other")],
        "id long, text string",
    )
    out = textstats.fingerprint(df).collect()
    fp = {r["id"]: r["fingerprint"] for r in out}
    assert fp[1] == fp[2] != fp[3]


def test_multimodal_decode_and_frames(spark):
    media = multimodal.synth_media(spark, 20)
    feats = multimodal.decode_images(media, codec="fake")
    rows = feats.collect()
    assert len(rows) == 20
    assert all(64 <= r["width"] <= 64 + 255 * 4 for r in rows)
    # determinism
    again = multimodal.decode_images(media, codec="fake").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    with pytest.raises(Exception, match="not a PNG|cannot identify|image"):
        # synth payloads are hash bytes, not images: real codec rejects
        multimodal.decode_images(media, codec="real").collect()
    frames = multimodal.frame_sample(media.limit(5), codec="fake")
    fr = frames.collect()
    assert len(fr) >= 5
    resized = multimodal.resize(media.limit(3), 224, 224, codec="fake").collect()
    assert all(r["width"] == 224 for r in resized)


def test_ngram_jaccard_max_df(spark, docs):
    # with a df cap of 1, every shared shingle is pruned -> no pairs
    out = dedup.ngram_jaccard_pairs(docs, n=2, threshold=0.1,
                                    block_col="source", max_df=1)
    assert out.count() == 0
    # a generous cap changes nothing: same pairs as the uncapped run
    out2 = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs(
                docs, n=2, threshold=0.3, block_col="source",
                max_df=100).collect()}
    uncapped = {(r["id_a"], r["id_b"]): r["jaccard"]
                for r in dedup.ngram_jaccard_pairs(
                    docs, n=2, threshold=0.3, block_col="source").collect()}
    assert out2 == uncapped and (1, 2) in out2


def test_ngram_jaccard_skew_guard(spark):
    # degenerate corpus: every doc shares one boilerplate sentence.
    # Without the df guard the shared shingles emit O(n²) candidate
    # pairs; with it, boilerplate shingles are pruned and the candidate
    # space collapses. This test fails if max_df is ever ignored.
    n = 60
    rows = [(i, "all rights reserved copyright notice footer "
                f"unique{i} tail{i} words{i}", "blk") for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    capped = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.0,
                                       block_col="source", max_df=10)
    uncapped = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.0,
                                         block_col="source")
    assert uncapped.count() == n * (n - 1) // 2  # quadratic blowup
    assert capped.count() == 0                   # guard prunes it all


def test_ann_multi_table_recall(spark):
    """Multi-table SRP-LSH must recover >= 0.8 of the exact top-5 on
    the real (near-random-direction) embedding distribution, where a
    single table cannot."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(emb, q, k=5)
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    ann = similarity.ann_lsh_topk(emb, q, dim=64, k=5, num_planes=4,
                                  num_tables=16)
    got = {(r["query_id"], r["neighbor_id"]) for r in ann.collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.8, f"recall@5 {recall:.2f} < 0.8"


def test_ivf_topk(spark):
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    out = similarity.ivf_topk(emb, q, k=5, nprobe=3, num_centroids=8)
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(range(10))
    for qid, rs in by_q.items():
        assert [r["rank"] for r in sorted(rs, key=lambda r: r["rank"])] \
            == list(range(1, len(rs) + 1))
        assert all(r["neighbor_id"] != qid for r in rs)
    # determinism
    again = similarity.ivf_topk(emb, q, k=5, nprobe=3,
                                num_centroids=8).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # probing ALL cells must equal exact top-k
    full = similarity.ivf_topk(emb, q, k=5, nprobe=8, num_centroids=8)
    exact = similarity.cosine_topk(emb, q, k=5)
    got = {(r["query_id"], r["neighbor_id"]) for r in full.collect()}
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    assert got == truth


def test_ivf_centroids_independent_of_corpus_size(spark):
    """The quantizer size must NOT scale with corpus rows (round-2
    scale-killer: stride-based centroids grew linearly and were
    collected to the driver)."""
    from pyspark.sql import functions as SF

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    small = emb.filter(SF.col("vec_id") < 100)
    for corpus in (small, emb):  # 100 rows vs 500 rows
        cents = (
            corpus.select(SF.col("vec_id").alias("centroid_id"),
                          "embedding")
            .orderBy(SF.md5(SF.col("centroid_id").cast("string")
                            .cast("binary")),
                     SF.col("centroid_id"))
            .limit(16)
        )
        assert cents.count() == 16
    # and both corpus sizes produce a working nprobe query
    q = emb.filter(SF.col("vec_id") < 3)
    out = similarity.ivf_topk(emb, q, k=3, nprobe=2, num_centroids=16)
    assert out.count() > 0


def test_ivf_assign_enforces_centroid_cap(spark):
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cents = emb.select(F.col("vec_id").alias("centroid_id"), "embedding")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="centroid_cap"):
        similarity.ivf_assign(
            emb.select(F.col("vec_id").alias("neighbor_id"),
                       F.col("embedding").alias("_cv")),
            cents, vec_col="_cv", centroid_vec_col="embedding",
            n=1, centroid_cap=100).collect()
    with _pytest.raises(ValueError, match="num_centroids"):
        similarity.ivf_topk(emb, emb.limit(1), num_centroids=0)


def test_connected_components_and_keep_set(spark):
    # chain a~b, b~c plus isolated pair d~e: components {a,b,c}, {d,e}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    comp = {r["id"]: r["component"]
            for r in dedup.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in [1, 2, 3, 7, 10, 11]], "doc_id long, text string")
    kept = sorted(r["doc_id"]
                  for r in dedup.dedup_keep_best(docs, pairs).collect())
    # keep component minima (1, 10) + unpaired (7)
    assert kept == [1, 7, 10]


def test_repetition_stats(spark):
    df = spark.createDataFrame(
        [(1, "a a a a"),                 # 1 word repeated
         (2, "the quick brown fox"),     # all distinct
         (3, "x y x y x y"),             # bigram loop
         (4, "")],                       # empty
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in textstats.repetition_stats(df).collect()}
    assert got[1]["uniq_word_ratio"] == 0.25
    assert got[1]["top_word_frac"] == 1.0
    assert got[1]["uniq_bigram_ratio"] == pytest.approx(1 / 3)
    assert got[2]["uniq_word_ratio"] == 1.0
    assert got[2]["top_word_frac"] == 0.25
    assert got[3]["uniq_bigram_ratio"] == pytest.approx(2 / 5)
    assert got[4]["uniq_word_ratio"] == 0.0
    assert got[4]["top_word_frac"] == 0.0


def test_connected_components_long_chain_converges(spark):
    # a 64-node path has diameter 63: plain one-hop propagation needs 63
    # rounds (> max_iterations=20 — round 2 silently returned unconverged
    # labels here); pointer-doubling must converge within the default
    # budget, and non-convergence must now raise instead of lying.
    # driver_max_edges=0 pins the DISTRIBUTED path (the default would
    # take the driver union-find fast path for a graph this small).
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long")
    comp = {r["id"]: r["component"]
            for r in dedup.connected_components(
                pairs, driver_max_edges=0).collect()}
    assert comp == {i: 0 for i in range(64)}
    # five rounds (three plain, two doubling) reach node 63 only down
    # to label 44: the loop must raise, not return those labels
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iterations=5,
                                   driver_max_edges=0)
    # the driver union-find fast path (default for small graphs) must
    # produce identical labels to the distributed loop
    comp_drv = {r["id"]: r["component"]
                for r in dedup.connected_components(pairs).collect()}
    assert comp_drv == comp


def test_dup_span_stats(spark):
    rows = [
        (1, "a b c d e f g h i j", "x"),        # shares 8-grams with 2
        (2, "a b c d e f g h i j k", "x"),      # superset of 1's span
        (3, "totally different words here no overlap at all ok", "x"),
        (4, "short", "x"),                      # too short for any 8-gram
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["doc_id"]: r for r in dedup.dup_span_stats(df, n=8).collect()}
    assert set(out) == {1, 2, 3, 4}
    # doc1: grams of 10 words = 3; all 3 occur in doc2 too
    assert out[1]["n_grams"] == 3 and out[1]["n_dup_grams"] == 3
    assert out[1]["dup_fraction"] == 1.0
    # doc2: 4 grams, 3 shared with doc1
    assert out[2]["n_grams"] == 4 and out[2]["n_dup_grams"] == 3
    assert abs(out[2]["dup_fraction"] - 0.75) < 1e-9
    assert out[3]["n_dup_grams"] == 0 and out[3]["dup_fraction"] == 0.0
    assert out[4]["n_grams"] == 0 and out[4]["dup_fraction"] == 0.0


def test_unigram_surprisal(spark):
    import math as m
    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in textstats.unigram_surprisal(df).collect()}
    # corpus: a x5, b x1, N=6
    assert out[1]["n_words"] == 4
    assert abs(out[1]["mean_surprisal"] - round(-m.log2(5 / 6), 4)) < 1e-9
    exp2 = (-m.log2(5 / 6) - m.log2(1 / 6)) / 2
    assert abs(out[2]["mean_surprisal"] - round(exp2, 4)) < 1e-4
    # gibberish scores higher than common text
    df2 = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the cat sat on the mat"),
         (3, "zxq vbn plm wrt")], "doc_id long, text string")
    s = {r["doc_id"]: r["mean_surprisal"]
         for r in textstats.unigram_surprisal(df2).collect()}
    assert s[3] > s[1]


def test_sequence_packing(spark):
    from lumbermill_spark.training import packing

    rows = [(f"d{i:03d}", list(range(i % 7 + 1))) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    C = 16
    # python ground truth: concat (tokens + [eos]) in doc_id order
    stream, bounds = [], {}
    for did, toks in sorted(rows):
        s = len(stream)
        stream += toks + [0]
        bounds[did] = (s, len(stream) - 1)
    stats = {r["block_id"]: r for r in
             packing.pack_stats(df, block_size=C).collect()}
    import math
    assert len(stats) == math.ceil(len(stream) / C)
    for k, r in stats.items():
        lo, hi = k * C, min((k + 1) * C, len(stream)) - 1
        ds = sorted(d for d, (s, e) in bounds.items()
                    if s <= hi and e >= lo)
        assert r["n_tokens"] == hi - lo + 1
        assert r["n_docs"] == len(ds)
        assert (r["first_doc"], r["last_doc"]) == (ds[0], ds[-1])
    # assembled blocks reconstruct the exact stream
    blocks = {r["block_id"]: list(r["tokens"]) for r in
              packing.pack_blocks(df, block_size=C).collect()}
    recon = [t for k in sorted(blocks) for t in blocks[k]]
    assert recon == stream
    # every block is exactly C long except the final one
    last = max(blocks)
    assert all(len(v) == C for k, v in blocks.items() if k != last)


def test_packing_reliable_checkpoint_path(spark, tmp_path):
    # with a checkpoint dir configured, stream_offsets pins the offset
    # frame with a reliable checkpoint (executor-loss tolerant on a
    # cluster) and produces identical offsets
    from lumbermill_spark.training import packing

    rows = [(f"d{i:02d}", list(range(i % 5 + 1))) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    plain = {(r["_id"]): (r["_len"], r["_start"])
             for r in packing.stream_offsets(df).collect()}
    # SparkContext has no public "unset checkpoint dir"; leaving it set
    # is fine — later tests just take the (semantically identical)
    # reliable-checkpoint branch too.
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    reliable = {(r["_id"]): (r["_len"], r["_start"])
                for r in packing.stream_offsets(df).collect()}
    assert reliable == plain


def test_packing_null_and_empty_tokens(spark):
    from lumbermill_spark.training import packing

    df = spark.createDataFrame(
        [("d1", [1, 2, 3]), ("d2", None), ("d3", []), ("d4", [4, 5])],
        "doc_id string, tokens array<int>")
    # with EOS: stream = [1,2,3,0] [0] [0] [4,5,0] -> 9 tokens
    stats = {r["block_id"]: r for r in
             packing.pack_stats(df, block_size=4).collect()}
    assert sum(r["n_tokens"] for r in stats.values()) == 9
    assert stats[0]["n_docs"] == 1 and stats[1]["n_docs"] == 3
    blocks = {r["block_id"]: list(r["tokens"]) for r in
              packing.pack_blocks(df, block_size=4).collect()}
    assert [t for k in sorted(blocks) for t in blocks[k]] == \
        [1, 2, 3, 0, 0, 0, 4, 5, 0]
    # without EOS: null/empty docs occupy NO stream space — no phantom
    # blocks, no inverted sequence rows
    stats2 = {r["block_id"]: r for r in
              packing.pack_stats(df, block_size=4,
                                 append_eos=False).collect()}
    assert sum(r["n_tokens"] for r in stats2.values()) == 5
    all_docs = {r["first_doc"] for r in stats2.values()} \
        | {r["last_doc"] for r in stats2.values()}
    assert "d2" not in all_docs and "d3" not in all_docs


def test_multimodal_null_payload_rows(spark):
    import numpy as np

    from lumbermill_spark.functions import png_lite

    png = png_lite.encode_png(np.full((4, 4), 100, dtype=np.uint8))
    df = spark.createDataFrame(
        [("m1", bytearray(png)), ("m2", None)],
        "media_id string, payload binary")
    rows = {r["media_id"]: r
            for r in multimodal.decode_images(df, codec="real").collect()}
    assert rows["m1"]["width"] == 4
    assert rows["m2"]["width"] is None and rows["m2"]["mean_luma"] is None
    rz = {r["media_id"]: r["payload"]
          for r in multimodal.resize(df, 2, 2, codec="real").collect()}
    assert rz["m2"] is None
    assert png_lite.decode_png(bytes(rz["m1"])).shape == (2, 2)


def test_y4m_roundtrip_and_probe():
    import numpy as np

    from lumbermill_spark.functions import y4m_lite

    frames = [np.full((6, 8), 10 * i, dtype=np.uint8) for i in range(5)]
    mono = y4m_lite.encode_y4m(frames, colorspace="mono")
    info = y4m_lite.probe(mono)
    assert (info["width"], info["height"], info["n_frames"]) == (8, 6, 5)
    decoded = list(y4m_lite.iter_frames(mono))
    assert [i for i, _ in decoded] == list(range(5))
    for i, planes in decoded:
        assert len(planes) == 1
        assert (planes[0] == frames[i]).all()

    # 420: chroma planes at quarter size; total frame length checked
    yuv = [(np.full((6, 8), 50, np.uint8),
            np.full((3, 4), 100, np.uint8),
            np.full((3, 4), 200, np.uint8)) for _ in range(2)]
    p420 = y4m_lite.encode_y4m(yuv, colorspace="420")
    info = y4m_lite.probe(p420)
    assert info["colorspace"] == "420" and info["n_frames"] == 2
    _, planes = next(y4m_lite.iter_frames(p420))
    assert planes[1].shape == (3, 4) and planes[2][0, 0] == 200

    import pytest as _pt
    with _pt.raises(y4m_lite.Y4MError):
        y4m_lite.probe(b"not a video")
    with _pt.raises(y4m_lite.Y4MError, match="truncated"):
        y4m_lite.probe(mono[:-5])
    with _pt.raises(y4m_lite.Y4MError, match="colorspace"):
        y4m_lite.parse_header(b"YUV4MPEG2 W8 H6 F25:1 C420p10\nFRAME\n")


def test_frame_sample_real_y4m(spark):
    import numpy as np

    from lumbermill_spark.functions import png_lite, y4m_lite

    def clip(n_frames, fill0):
        return y4m_lite.encode_y4m(
            [np.full((4, 6), (fill0 + i) % 256, np.uint8)
             for i in range(n_frames)],
            colorspace="mono")

    df = spark.createDataFrame(
        [("v1", bytearray(clip(7, 10))),
         ("v2", bytearray(clip(2, 99))),
         ("v3", None)],
        "media_id string, payload binary")
    out = multimodal.frame_sample(df, every_n=3, codec="real").collect()
    got = {(r["media_id"], r["frame_idx"]) for r in out}
    assert got == {("v1", 0), ("v1", 3), ("v1", 6), ("v2", 0)}
    # sampled frames are valid grayscale PNGs of the right content
    by_key = {(r["media_id"], r["frame_idx"]): bytes(r["payload"])
              for r in out}
    arr = png_lite.decode_png(by_key[("v1", 3)])
    assert arr.shape == (4, 6) and (arr == 13).all()
    # sampled frames feed the image pipeline unchanged
    frames_df = multimodal.frame_sample(df, every_n=3, codec="real") \
        .withColumn("media_id", F.concat_ws("#", "media_id", "frame_idx"))
    feats = {r["media_id"]: r for r in
             multimodal.decode_images(frames_df, codec="real").collect()}
    assert abs(feats["v2#0"]["mean_luma"] - 99 / 255) < 1e-6
    # non-Y4M payload fails fast with a clear error
    bad = spark.createDataFrame([("x", bytearray(b"mp4data"))],
                                "media_id string, payload binary")
    with pytest.raises(Exception, match="YUV4MPEG2"):
        multimodal.frame_sample(bad, codec="real").collect()


def test_contamination_stats(spark):
    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely unrelated training text body here")],
        "doc_id long, text string")
    ev = spark.createDataFrame(
        [(10, "the quick brown fox jumps high today"),   # shares a prefix
         (11, "zero overlap with anything in the set"),
         (12, "hi")],                                    # too short
        "doc_id long, text string")
    out = {r["doc_id"]: r
           for r in dedup.contamination_stats(train, ev, n=4).collect()}
    assert set(out) == {10, 11, 12}
    # doc10: 4 grams, "the quick brown fox"+"quick brown fox jumps" hit
    assert out[10]["n_grams"] == 4 and out[10]["n_hits"] == 2
    assert abs(out[10]["contamination"] - 0.5) < 1e-9
    assert out[11]["n_hits"] == 0 and out[11]["contamination"] == 0.0
    assert out[12]["n_grams"] == 0 and out[12]["contamination"] == 0.0


def test_scrub_pii(spark):
    df = spark.createDataFrame(
        [(1, "mail me at bob.smith+x@corp.example.org today"),
         (2, "server 192.168.001.42 then call 555-123-4567 twice"),
         (3, "nothing sensitive here at all"),
         (4, "two mails: a@b.io c@d.net and ip 10.0.0.1")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in textstats.scrub_pii(df).collect()}
    assert out[1]["n_emails"] == 1 and "<EMAIL>" in out[1]["text_scrubbed"]
    assert "bob" not in out[1]["text_scrubbed"]
    assert out[2]["n_ips"] == 1 and out[2]["n_phones"] == 1
    assert "<IP>" in out[2]["text_scrubbed"]
    assert "<PHONE>" in out[2]["text_scrubbed"]
    assert out[3]["n_emails"] == out[3]["n_ips"] == out[3]["n_phones"] == 0
    assert out[3]["text_scrubbed"] == out[3]["text"]
    assert out[4]["n_emails"] == 2 and out[4]["n_ips"] == 1
    assert out[4]["text_scrubbed"] == "two mails: <EMAIL> <EMAIL> and ip <IP>"


def test_gopher_rules(spark):
    rows = [
        # long, clean english doc with stopwords: passes everything
        (1, ("the engine and the table are part of a plan that is "
             "fast to scan ") * 10),
        # too short
        (2, "the tiny one is a doc"),
        # bullet-dominated
        (3, "the a is\n" + "\n".join("- item %d" % i for i in range(30))),
        # symbol-heavy
        (4, "the a of " + "# " * 40),
        # non-alpha words
        (5, "the a " + " ".join(str(i) for i in range(60))),
        (6, ""),  # empty: nothing divides by zero
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in textstats.gopher_rules(df).collect()}
    assert out[1]["gopher_pass"] is True
    assert out[2]["gopher_pass"] is False and out[2]["n_words"] < 50
    assert out[3]["gopher_pass"] is False
    assert out[3]["bullet_line_frac"] > 0.9
    assert out[4]["gopher_pass"] is False
    assert out[4]["symbol_word_ratio"] > 0.1
    assert out[5]["gopher_pass"] is False
    assert out[5]["alpha_word_frac"] < 0.8
    assert out[6]["gopher_pass"] is False  # no crash on empty text


def test_mix_rates_and_stratified_sample(spark):
    from lumbermill_spark.training import sampling

    rows = [(i, f"s{i % 3}") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    # target: equal thirds; raw counts are already equal -> all rates 1
    rates = sampling.mix_rates(df, "source",
                               {"s0": 1 / 3, "s1": 1 / 3, "s2": 1 / 3})
    for r in rates.collect():
        assert abs(r["rate"] - 1.0) < 1e-12 and r["n_docs"] == 100
    # skewed target: s0 twice the weight of the others; s1/s2 bind
    rates2 = sampling.mix_rates(df, "source",
                                {"s0": 0.5, "s1": 0.25, "s2": 0.25})
    by_src = {r["source"]: r["rate"] for r in rates2.collect()}
    # T = min(100/0.5, 100/0.25) = 200 -> s0 keeps 100%, s1/s2 keep 50%
    assert abs(by_src["s0"] - 1.0) < 1e-12
    assert abs(by_src["s1"] - 0.5) < 1e-12
    kept = sampling.stratified_sample(df, "source", rates2)
    n = kept.groupBy("source").count().collect()
    counts = {r["source"]: r["count"] for r in n}
    assert counts["s0"] == 100              # rate 1.0 keeps everything
    assert 25 <= counts["s1"] <= 75         # ~50 +- hash noise
    # determinism: same salt, same kept set
    again = sampling.stratified_sample(df, "source", rates2)
    assert sorted(r["doc_id"] for r in kept.collect()) == \
        sorted(r["doc_id"] for r in again.collect())
    # different salt draws a different (but same-rate) sample
    other = sampling.stratified_sample(df, "source", rates2, salt="other")
    assert sorted(r["doc_id"] for r in other.collect()) != \
        sorted(r["doc_id"] for r in kept.collect())
    assert kept.columns == df.columns


def test_mix_rates_missing_stratum_raises(spark):
    from lumbermill_spark.training import sampling

    df = spark.createDataFrame([(1, "a"), (2, "b")],
                               "doc_id long, source string")
    with pytest.raises(ValueError, match="no positive weight"):
        sampling.mix_rates(df, "source", {"a": 1.0})


def test_exact_dedup_incremental(spark):
    committed = spark.createDataFrame(
        [(1, "alpha doc"), (2, "beta doc")], "doc_id long, text string")
    seen = committed.select(
        dedup.content_hash(F.col("text")).alias("content_hash"))
    batch = spark.createDataFrame(
        [(10, "ALPHA DOC  "),     # already committed (normalized)
         (11, "gamma doc"),
         (12, "gamma doc"),       # in-batch dup of 11
         (13, None)],             # null text passes through
        "doc_id long, text string")
    kept = dedup.exact_dedup_incremental(batch, seen)
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [11, 13]
    # second increment: union the kept hashes, replay the same batch ->
    # nothing new except the (policy: pass-through) null row
    seen2 = seen.unionByName(kept.select(
        dedup.content_hash(F.col("text")).alias("content_hash")))
    again = dedup.exact_dedup_incremental(batch, seen2)
    assert sorted(r["doc_id"] for r in again.collect()) == [13]


def test_exact_substring_scrub(spark):
    a = "a b c d e f g h i j"                  # 10 tokens, first
    docs = spark.createDataFrame(
        [(1, a),
         (2, a),                               # full dup of 1
         (3, "x y a b c d e f g h z"),         # shares one 8-gram
         (4, "p q r"),                         # too short for 8-grams
         (5, ""),                              # empty
         (6, None)],                           # null text
        "doc_id long, text string")
    got = {r["doc_id"]: r.asDict()
           for r in dedup.exact_substring_scrub(docs, k=8).collect()}
    assert got[1] == dict(doc_id=1, n_tokens=10, n_grams=3,
                          n_removed_grams=0, covered_tokens=0,
                          retained_tokens=10, retained_frac=1.0)
    assert got[2]["n_removed_grams"] == 3
    assert got[2]["retained_tokens"] == 0
    assert got[2]["retained_frac"] == 0.0
    # doc 3: exactly one duplicated 8-gram ("a b c d e f g h" at pos 3)
    # -> 8 covered tokens, 3 retained (x, y, z)
    assert got[3]["n_grams"] == 4
    assert got[3]["n_removed_grams"] == 1
    assert got[3]["covered_tokens"] == 8
    assert got[3]["retained_tokens"] == 3
    for short_id in (4, 5, 6):
        assert got[short_id]["n_grams"] == 0
        assert got[short_id]["retained_frac"] == 1.0
    assert got[5]["n_tokens"] == 0 and got[6]["n_tokens"] == 0


def test_exact_substring_scrub_within_doc(spark):
    # within-doc repetition past the first occurrence is scrubbed too
    # (positional semantics, unlike dup_span_stats' doc-frequency)
    text = " ".join(["t%d" % (i % 8) for i in range(24)])  # 8-cycle x3
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    row = dedup.exact_substring_scrub(docs, k=8).collect()[0]
    # grams at pos 1..8 are the distinct rotations; pos 9..17 repeat them
    assert row["n_grams"] == 17
    assert row["n_removed_grams"] == 9
    assert row["retained_tokens"] < row["n_tokens"]


def test_seed_quality_classifier(spark):
    from lumbermill_spark.training.classifier import (
        hash_split, seed_quality_classifier)

    rows = [(i, "good great fine", "en") for i in range(6)]
    rows += [(i + 10, "bad awful junk", "zh") for i in range(3)]
    rows += [(20, "good great fine", None),   # null seed -> negative
             (21, "", "en"),                  # zero words: bare prior
             (22, None, "en")]                # null text: bare prior
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = seed_quality_classifier(
        docs, positive=F.col("lang") == "en",
        train_buckets=1, split_buckets=1)     # train on everything
    got = {r["doc_id"]: r.asDict() for r in out.collect()}
    assert len(got) == len(rows)
    assert got[0]["label"] == "pos" and got[0]["score"] > 0
    assert got[10]["label"] == "neg" and got[10]["score"] < 0
    # zero-word docs score exactly the class prior (same for both)
    assert got[21]["n_words"] == 0 and got[22]["n_words"] == 0
    assert got[21]["score"] == got[22]["score"]
    # deterministic split: same ids -> same buckets, all in range
    b1 = docs.select(hash_split(F.col("doc_id")).alias("b")).collect()
    b2 = docs.select(hash_split(F.col("doc_id")).alias("b")).collect()
    assert [r["b"] for r in b1] == [r["b"] for r in b2]
    assert all(0 <= r["b"] < 10 for r in b1)


def test_line_dedup_modes(spark):
    docs = spark.createDataFrame(
        [(1, "nav menu\nalpha\n\nbeta"),
         (2, "nav menu\nalpha\ngamma"),
         (3, "nav menu\ndelta"),
         (4, None)],
        "doc_id long, text string")
    from lumbermill_spark.training.dedup import line_dedup

    # drop_frequent(min_count=2): "nav menu" (3x) and "alpha" (2x) are
    # boilerplate and vanish everywhere; blanks and uniques survive.
    freq = {r["doc_id"]: r for r in
            line_dedup(docs, mode="drop_frequent", min_count=2).collect()}
    assert freq[1]["text_clean"] == "\nbeta"
    assert freq[1]["n_lines"] == 4 and freq[1]["n_removed_lines"] == 2
    assert freq[2]["text_clean"] == "gamma"
    assert freq[3]["text_clean"] == "delta"
    assert freq[4]["text_clean"] == "" and freq[4]["n_lines"] == 1
    assert abs(freq[2]["retained_frac"] - 1 / 3) < 1e-6

    # keep_first: doc 1 keeps everything (all its lines are globally
    # first); later docs lose repeated lines only.
    kf = {r["doc_id"]: r for r in
          line_dedup(docs, mode="keep_first").collect()}
    assert kf[1]["text_clean"] == "nav menu\nalpha\n\nbeta"
    assert kf[2]["text_clean"] == "gamma"
    assert kf[3]["text_clean"] == "delta"

    import pytest as _pytest
    with _pytest.raises(ValueError):
        line_dedup(docs, mode="bogus")


def test_normalize_text(spark):
    from lumbermill_spark.training.textstats import normalize_text

    messy = "  Café​   x\x07y\tz "
    df = spark.createDataFrame([(1, messy), (2, None), (3, "plain")],
                               "doc_id long, text string")
    out = {r["doc_id"]: r["clean"] for r in
           normalize_text(df, target_col="clean").collect()}
    # NFC composes e+combining-acute, zero-width dropped, BEL dropped
    # (joining x and y), tab/NBSP runs collapse, ends trimmed
    assert out[1] == "Café xy z"
    assert out[2] is None
    assert out[3] == "plain"


def test_chunk_sequences(spark):
    from lumbermill_spark.training.packing import chunk_sequences

    df = spark.createDataFrame(
        [(1, list(range(10))), (2, list(range(9))), (3, [7, 8, 9]),
         (4, []), (5, None)],
        "doc_id long, tokens array<int>")
    out = chunk_sequences(df, max_len=4, stride=3)
    rows = {(r["doc_id"], r["chunk_idx"]): r["chunk"] for r in out.collect()}
    assert rows[(1, 0)] == [0, 1, 2, 3]
    assert rows[(1, 1)] == [3, 4, 5, 6]
    assert rows[(1, 2)] == [6, 7, 8, 9]
    assert rows[(2, 2)] == [6, 7, 8]          # short last window
    assert rows[(3, 0)] == [7, 8, 9]          # doc <= max_len: one chunk
    assert not any(d in (4, 5) for d, _ in rows)  # empty/null: none
    assert len(rows) == 7

    import pytest as _pytest
    with _pytest.raises(ValueError):
        chunk_sequences(df, max_len=4, stride=5)


def test_dsir_weights(spark):
    from lumbermill_spark.training.classifier import dsir_weights

    # two clearly separated token distributions; target = label 'a'
    docs = spark.createDataFrame(
        [(1, "alpha beta alpha beta alpha", "a"),
         (2, "alpha beta beta alpha gamma", "a"),
         (3, "delta epsilon zeta delta", "b"),
         (4, "epsilon zeta zeta delta eta", "b"),
         (5, "alpha beta alpha", "b"),   # target-like text, source label
         (6, "", "a")],
        "doc_id long, text string, lab string")
    out = {r["doc_id"]: r for r in
           dsir_weights(docs, target=F.col("lab") == "a",
                        buckets=256).collect()}
    # target-distribution docs score positive, source-only negative
    assert out[1]["keep"] and out[2]["keep"]
    assert not out[3]["keep"] and not out[4]["keep"]
    # doc 5 looks like the target distribution despite its label —
    # that's the point of importance weighting vs label lookup
    assert out[5]["keep"]
    assert out[6]["n_feats"] == 0 and out[6]["log_weight"] == 0.0
    assert not out[6]["keep"]
    # unigrams + bigrams: 5 words -> 5 + 4 features
    assert out[1]["n_feats"] == 9


def test_image_ahash(spark):
    import numpy as np

    from lumbermill_spark.functions.png_lite import encode_png
    from lumbermill_spark.training.multimodal import ahash

    flat = encode_png(np.full((8, 8), 77, dtype=np.uint8))
    grad = encode_png(np.tile(np.arange(0, 64, 8, dtype=np.uint8), (8, 1)))
    # 16x16 version of the same gradient: floor-nearest sampling must
    # recover the identical 8x8 pattern -> identical hash
    grad16 = encode_png(np.tile(
        np.repeat(np.arange(0, 64, 8, dtype=np.uint8), 2), (16, 1)))
    rgb = encode_png(np.dstack([
        np.tile(np.arange(0, 64, 8, dtype=np.uint8), (8, 1))] * 3))
    df = spark.createDataFrame(
        [("flat", flat), ("grad", grad), ("grad16", grad16),
         ("rgb", rgb), ("null", None)],
        "media_id string, payload binary")
    out = {r["media_id"]: r for r in ahash(df).collect()}
    # constant image: no sample exceeds the mean -> all-zero hash
    assert out["flat"]["ahash"] == "0" * 16 and out["flat"]["n_on"] == 0
    # gradient columns 4..7 exceed the mean (28): 00001111 per row
    assert out["grad"]["ahash"] == "0f" * 8 and out["grad"]["n_on"] == 32
    assert out["grad16"]["ahash"] == out["grad"]["ahash"]
    # channel-mean grayscale of an R=G=B image equals the gray image
    assert out["rgb"]["ahash"] == out["grad"]["ahash"]
    assert out["null"]["ahash"] is None


def test_dedup_keep_best(spark):
    from lumbermill_spark.training import dedup

    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 50), (4, 7), (5, 99)],
        "doc_id long, n_chars long")
    # chain 1~2, 2~3 => one cluster {1,2,3}; 4~5 a second; nothing else
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long")
    kept = sorted(r.doc_id for r in
                  dedup.dedup_keep_best(docs, pairs, "n_chars").collect())
    # cluster {1,2,3}: 2 wins on n_chars; {4,5}: 5 wins (99 > 7)
    assert kept == [2, 5]

    # tie on score -> lowest id wins
    docs2 = spark.createDataFrame([(7, 10), (8, 10)],
                                  "doc_id long, n_chars long")
    pairs2 = spark.createDataFrame([(7, 8)], "id_a long, id_b long")
    kept2 = [r.doc_id for r in
             dedup.dedup_keep_best(docs2, pairs2, "n_chars").collect()]
    assert kept2 == [7]

    # null scores rank last: an all-null cluster {1,2} keeps its lowest
    # id, mixed clusters {3,4} and {5,6} keep their scored member
    docs3 = spark.createDataFrame(
        [(1, None), (2, None), (3, 5), (4, None), (5, None), (6, 7)],
        "doc_id long, n_chars long")
    pairs3 = spark.createDataFrame([(1, 2), (3, 4), (5, 6)],
                                   "id_a long, id_b long")
    kept3 = sorted(r.doc_id for r in
                   dedup.dedup_keep_best(docs3, pairs3, "n_chars").collect())
    assert kept3 == [1, 3, 6]


def test_token_budget_trim(spark):
    from lumbermill_spark.training import sampling

    docs = spark.createDataFrame(
        [(i, "s", 40) for i in range(10)] + [(100, "t", 500)],
        "doc_id long, source string, n_tok long")
    kept = sampling.token_budget_trim(docs, budget=100,
                                      tokens_col="n_tok")
    by_src = {}
    for r in kept.collect():
        by_src.setdefault(r.source, []).append(r.doc_id)
    # budget 100 / 40-token docs -> exactly 2 kept, deterministically
    assert len(by_src["s"]) == 2
    # a stratum whose first doc already exceeds the budget keeps nothing
    assert "t" not in by_src

    # reproducible: same salt -> same kept set; new salt -> (possibly)
    # different but still exactly 2
    again = sampling.token_budget_trim(docs, budget=100,
                                       tokens_col="n_tok")
    assert sorted(r.doc_id for r in again.collect()
                  if r.source == "s") == sorted(by_src["s"])
    other = sampling.token_budget_trim(docs, budget=100,
                                       tokens_col="n_tok", salt="other")
    assert len([r for r in other.collect() if r.source == "s"]) == 2


def test_unigram_drift(spark):
    from pyspark.sql import functions as F

    from lumbermill_spark.training.textstats import unigram_drift

    docs = spark.createDataFrame(
        [(0, "apple apple apple common"), (2, "apple common"),
         (1, "banana common"), (3, "banana banana common")],
        "doc_id long, text string")
    out = unigram_drift(docs, split=F.pmod(F.col("doc_id"), F.lit(2)),
                        top_k=3).collect()
    ranked = [r.term for r in out]
    # 'apple' dominates half A and is rare in B -> largest positive KL;
    # 'common' is balanced -> near zero; 'banana' shrank -> negative.
    assert ranked[0] == "apple"
    by_term = {r.term: r for r in out}
    assert by_term["apple"].n_a == 4 and by_term["apple"].n_b == 0
    assert by_term["apple"].kl_term > 0
    if "banana" in by_term:
        assert by_term["banana"].kl_term < 0


def test_pmi_pairs(spark):
    from lumbermill_spark.training.textstats import pmi_pairs

    # 'x' and 'y' always co-occur (6 docs); 'z' co-occurs with them in
    # only 2; filler terms pad the vocab
    rows = []
    for i in range(6):
        rows.append((i, "x y " + ("z" if i < 2 else "w")))
    for i in range(6, 12):
        rows.append((i, "p q"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = pmi_pairs(docs, vocab_size=10, min_pair_docs=2, top_k=5)
    got = {(r.term_a, r.term_b): (r.n_pair, r.pmi) for r in out.collect()}
    import math
    # df_x = df_y = 6, n_pair = 6, N = 12 -> pmi = ln(6*12/36) = ln 2
    assert got[("x", "y")][0] == 6
    assert abs(got[("x", "y")][1] - round(math.log(2), 4)) < 1e-9
    # pairs below min_pair_docs are dropped: (w,z) never co-occur
    assert ("w", "z") not in got


def test_fuzzy_prefix_pairs(spark):
    from lumbermill_spark.training import dedup

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"),
         (2, "the quick brown fox leaps"),     # same 20-prefix: dist 0
         (3, "the quick brwn fox jumps"),      # deletion shifts the
         #    20-char window, pulling 'j' in: distance 2, not 1
         (4, "the quick brown fo"),            # 2 chars shorter: 2
         (5, "completely different text")],
        "doc_id long, text string")
    out = {(r.id_a, r.id_b): r.dist
           for r in dedup.fuzzy_prefix_pairs(
               docs, prefix_len=20, max_dist=2).collect()}
    assert out[(1, 2)] == 0
    assert out[(1, 3)] == 2
    assert out[(1, 4)] == 2
    assert (1, 5) not in out and (2, 5) not in out

    # length recall guarantee: lengths differing by <= max_dist always
    # meet, even across a band boundary
    edge = spark.createDataFrame(
        [(10, "abcdef"), (11, "abcde")], "doc_id long, text string")
    got = dedup.fuzzy_prefix_pairs(edge, prefix_len=20,
                                   max_dist=1).collect()
    assert [(r.id_a, r.id_b, r.dist) for r in got] == [(10, 11, 1)]


def test_require_block_guard(spark):
    # the unblocked all-pairs fallbacks are test-scale only; past the
    # row limit they must refuse to run rather than go quadratic
    from lumbermill_spark.training import similarity

    big = spark.range(30).select(F.col("id").alias("doc_id"),
                                 F.lit("w x y z").alias("text"))
    with pytest.raises(ValueError, match="block_col is None"):
        dedup.ngram_jaccard_pairs(big, unblocked_limit=10)
    emb = spark.range(30).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"))
    with pytest.raises(ValueError, match="block_col is None"):
        similarity.near_duplicate_pairs(emb, unblocked_limit=10)
    # under the limit both still run
    assert dedup.ngram_jaccard_pairs(big.limit(5), unblocked_limit=10) \
        .count() >= 0
    assert similarity.near_duplicate_pairs(
        emb.limit(5), threshold=0.0, unblocked_limit=10).count() >= 0


def test_hash_split(spark):
    from lumbermill_spark.training import sampling

    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    out = sampling.hash_split(df, {"train": 0.8, "val": 0.1, "test": 0.1})
    rows = out.collect()
    # exhaustive + disjoint by construction: one split per row
    counts = {}
    for r in rows:
        counts[r["split"]] = counts.get(r["split"], 0) + 1
    assert set(counts) <= {"train", "val", "test"}
    assert sum(counts.values()) == 2000
    # proportions near the weights (hash-uniform; generous tolerance)
    assert 0.7 < counts["train"] / 2000 < 0.9
    # deterministic: same salt -> identical assignment; new salt differs
    again = {r["doc_id"]: r["split"]
             for r in sampling.hash_split(
                 df, {"train": 0.8, "val": 0.1, "test": 0.1}).collect()}
    first = {r["doc_id"]: r["split"] for r in rows}
    assert again == first
    other = {r["doc_id"]: r["split"]
             for r in sampling.hash_split(
                 df, {"train": 0.8, "val": 0.1, "test": 0.1},
                 salt="s2").collect()}
    assert other != first
    with pytest.raises(ValueError, match="positive"):
        sampling.hash_split(df, {"train": 0.9, "val": -0.1})
    with pytest.raises(ValueError, match="positive"):
        sampling.hash_split(df, {})


def test_epoch_shuffle_key(spark):
    from lumbermill_spark.training import sampling

    df = spark.range(500).select(F.col("id").alias("doc_id"))
    e1 = {r["doc_id"]: r["shuffle_key"] for r in
          sampling.epoch_shuffle_key(df, epoch=1).collect()}
    # deterministic across invocations
    e1b = {r["doc_id"]: r["shuffle_key"] for r in
           sampling.epoch_shuffle_key(df, epoch=1).collect()}
    assert e1 == e1b
    # epochs draw independent permutations
    e2 = {r["doc_id"]: r["shuffle_key"] for r in
          sampling.epoch_shuffle_key(df, epoch=2).collect()}
    order1 = sorted(e1, key=lambda d: (e1[d], d))
    order2 = sorted(e2, key=lambda d: (e2[d], d))
    assert order1 != order2
    # roughly uniform: no key collisions at this size
    assert len(set(e1.values())) == 500


def test_wav_roundtrip_and_decode_audio(spark):
    import numpy as np

    from lumbermill_spark.functions import wav_lite

    # codec roundtrip, incl. a trailing extra chunk (real files have them)
    s = np.array([0, 1000, -1000, 2000, -2000, 0], dtype=np.int16)
    payload = wav_lite.encode_wav(s, 8000)
    payload_extra = payload + b"LIST\x04\x00\x00\x00INFO"
    for p in (payload, payload_extra):
        rate, ch, back = wav_lite.parse_wav(p)
        assert (rate, ch) == (8000, 1)
        assert np.array_equal(back, s)
    assert wav_lite.probe(payload)["duration_s"] == pytest.approx(6 / 8000)
    with pytest.raises(wav_lite.WavError, match="RIFF"):
        wav_lite.parse_wav(b"not a wav at all, definitely not....")
    # truncated fmt chunk: declared size 16 but the file ends 4 bytes
    # into the body — must be WavError (-> null row), never a
    # struct.error job-killer (>= 44 total so the header check passes)
    trunc = (b"RIFF" + (60).to_bytes(4, "little") + b"WAVE"
             + b"JUNK" + (20).to_bytes(4, "little") + b"\x00" * 20
             + b"fmt " + (16).to_bytes(4, "little") + b"\x01\x00\x01\x00")
    assert len(trunc) >= 44
    with pytest.raises(wav_lite.WavError, match="truncated"):
        wav_lite.parse_wav(trunc)
    # truncated DATA chunk: declared 8000 bytes, file ends after 10 —
    # must raise, never return a short (plausible but wrong) array
    good = wav_lite.encode_wav(s, 8000)
    cut = good[:44 - 4] + (8000).to_bytes(4, "little") + good[44:44 + 10]
    with pytest.raises(wav_lite.WavError, match="data chunk truncated"):
        wav_lite.parse_wav(cut)

    # operator features vs hand computation
    df = spark.createDataFrame(
        [("a", bytearray(payload)),
         ("bad", bytearray(b"PK\x03\x04 garbage garbage garbage garbage")),
         ("n", None)],
        "media_id string, payload binary")
    from lumbermill_spark.training.multimodal import decode_audio

    got = {r["media_id"]: r for r in decode_audio(df).collect()}
    a = got["a"]
    assert a["sample_rate"] == 8000 and a["channels"] == 1
    assert a["n_samples"] == 6 and a["peak"] == 2000
    assert a["rms"] == pytest.approx(
        float(np.sqrt(np.mean(s.astype(np.float64) ** 2))), rel=1e-9)
    # strict sign flips: 1000/-1000, -1000/2000, 2000/-2000 -> 3
    assert a["zero_cross"] == 3
    assert got["bad"]["sample_rate"] is None   # unsupported -> null row
    assert got["n"]["rms"] is None
    # stereo interleaved: n_samples is per-channel frames
    st = np.array([100, -100, 200, -200], dtype=np.int16)
    df2 = spark.createDataFrame(
        [("st", bytearray(wav_lite.encode_wav(st, 16000, channels=2)))],
        "media_id string, payload binary")
    r2 = decode_audio(df2).first()
    assert r2["channels"] == 2 and r2["n_samples"] == 2


def test_connected_components_self_loop_both_paths(spark):
    # a self-loop pair (x, x) must register the node on BOTH paths
    pairs = spark.createDataFrame([(5, 5), (1, 2)], "id_a long, id_b long")
    drv = {(r["id"], r["component"])
           for r in dedup.connected_components(pairs).collect()}
    dist = {(r["id"], r["component"])
            for r in dedup.connected_components(
                pairs, driver_max_edges=0).collect()}
    assert drv == dist == {(5, 5), (1, 1), (2, 1)}


def test_cluster_size_histogram(spark):
    rows = [(1, "a"), (2, "A "), (3, "b"), (4, "c"), (5, "c"),
            (6, None)] + [(10 + i, "boiler") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["size_digits"]: r
           for r in dedup.cluster_size_histogram(df).collect()}
    # clusters: {a,A }=2, {b}=1, {c,c}=2, {boiler}x12 — null excluded
    assert out[1]["n_clusters"] == 3          # sizes 1, 2, 2
    assert out[1]["n_docs"] == 5
    assert out[1]["n_redundant"] == 2
    assert out[1]["min_size"] == 1 and out[1]["max_size"] == 2
    assert out[2]["n_clusters"] == 1          # the 12-doc cluster
    assert out[2]["n_docs"] == 12 and out[2]["n_redundant"] == 11


def test_filter_cascade(spark):
    df = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30), (4, 40), (5, None)],
        "id long, v int")
    out = textstats.filter_cascade(df, [
        ("gte20", F.col("v") >= 20),        # drops id 1 and the null
        ("lte30", F.col("v") <= 30),        # drops id 4
        ("odd", F.col("id") % 2 == 1),      # drops id 2
    ]).collect()
    assert [(r["stage"], r["n_in"], r["n_out"]) for r in out] == [
        ("gte20", 5, 3), ("lte30", 3, 2), ("odd", 2, 1)]
    assert out[0]["drop_rate"] == 0.4
    with pytest.raises(ValueError):
        textstats.filter_cascade(df, [])


def test_zipf_stats(spark):
    # freqs 8,4,2 at ranks 1,2,3: ln-ln slope of a perfect power law
    # f = 16 * r^(-log2... ) — exact slope = -1 in log2 space; in ln
    # space slope = ln(1/2)/ln(...) varies per pair, so just check
    # the fit is negative and n_ranked counts the >=min_count words
    text = " ".join(["a"] * 8 + ["b"] * 4 + ["c"] * 2 + ["once"])
    df = spark.createDataFrame([(text,)], "text string")
    row = textstats.zipf_stats(df, min_count=2, top_k=10).collect()[0]
    assert row["n_ranked"] == 3
    assert row["slope"] < 0
    # single ranked word -> vertical fit guard returns null, not a
    # divide-by-zero (ANSI-safe)
    one = spark.createDataFrame([("x x",)], "text string")
    row1 = textstats.zipf_stats(one, min_count=2, top_k=10).collect()[0]
    assert row1["n_ranked"] == 1 and row1["slope"] is None


def test_stratified_cap_exact_and_deterministic(spark):
    from lumbermill_spark.training import sampling

    rows = [(i, f"s{i % 3}", i * 10) for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    kept = sampling.stratified_cap(df, "source", cap=7)
    counts = {r["source"]: r["n"] for r in
              kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"s0": 7, "s1": 7, "s2": 7}
    # deterministic: same call -> identical kept id set
    ids1 = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    ids2 = sorted(r["doc_id"] for r in
                  sampling.stratified_cap(df, "source", cap=7)
                  .select("doc_id").collect())
    assert ids1 == ids2
    # matches the unfiltered rank-window reference (prefilter exactness)
    from lumbermill_spark.training.dedup import md5_hash60
    from pyspark.sql import Window

    key = F.concat_ws(":", F.col("doc_id").cast("string"), F.lit("cap"))
    w = Window.partitionBy("source").orderBy(md5_hash60(key), "doc_id")
    ref = sorted(r["doc_id"] for r in
                 df.withColumn("_rn", F.row_number().over(w))
                 .filter(F.col("_rn") <= 7).select("doc_id").collect())
    assert ids1 == ref
    # strata smaller than cap pass through whole
    tiny = spark.createDataFrame([(1, "t", 5), (2, "t", 5)],
                                 "doc_id long, source string, n_chars long")
    assert sampling.stratified_cap(tiny, "source", cap=7).count() == 2
    # a NULL stratum is its own capped group, never dropped by an
    # equi-join's null-never-matches rule
    withnull = spark.createDataFrame(
        [(i, None if i < 20 else "s", i) for i in range(30)],
        "doc_id long, source string, n_chars long")
    got = (sampling.stratified_cap(withnull, "source", cap=7)
           .groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect())
    assert {r["source"]: r["n"] for r in got} == {None: 7, "s": 7}


def test_dup_leakage_matrix(spark):
    from lumbermill_spark.training import dedup

    df = spark.createDataFrame(
        [(1, "x", "g1"), (2, "X ", "g1"),      # internal dup in g1 (norm)
         (3, "x", "g2"),                        # x leaks g1 -> g2
         (4, "y", "g1"), (5, "y", "g2"), (6, "y", "g2"),  # y: 1 vs 2 docs
         (7, None, "g1"), (8, None, "g2"),      # nulls never match
         (9, "z", "g2")],
        "doc_id long, text string, source string")
    rows = {(r["group_a"], r["group_b"]):
            (r["n_contents"], r["n_doc_pairs"])
            for r in dedup.dup_leakage_matrix(df).collect()}
    # cross g1<g2: contents {x, y}; doc pairs = 2*1 (x) + 1*2 (y) = 4
    assert rows[("g1", "g2")] == (2, 4)
    # diagonal g1: only x is duplicated internally (2 docs -> 1 pair)
    assert rows[("g1", "g1")] == (1, 1)
    # diagonal g2: y has 2 docs -> 1 pair
    assert rows[("g2", "g2")] == (1, 1)
    assert len(rows) == 3


def test_gram_novelty(spark):
    from lumbermill_spark.training import dedup

    df = spark.createDataFrame(
        [(0, "a b c d"),            # grams: 'a b c', 'b c d'
         (1, "a b c e f g"),        # 'a b c' seen; 3 new
         (1, "b c d x y z")],       # 'b c d' seen; 3 new
        "batch long, text string")
    out = {r["batch"]: r for r in
           dedup.gram_novelty(df, "text", "batch", n=3).collect()}
    assert out[0]["n_grams"] == 2 and out[0]["n_new"] == 2
    assert out[0]["novelty"] == 1.0
    # batch 1 distinct grams: abc, cef?  -> enumerate: doc1: 'a b c',
    # 'b c e', 'c e f', 'e f g'; doc2: 'b c d', 'c d x', 'd x y', 'x y z'
    assert out[1]["n_grams"] == 8
    assert out[1]["n_new"] == 6          # abc + bcd already seen
    assert out[1]["novelty"] == 0.75


def test_gram_novelty_drops_batches_without_grams(spark):
    # documented contract: a batch whose rows yield no n-gram (too
    # short, empty, null) has no output row, as in the DuckDB twin
    from lumbermill_spark.training import dedup

    df = spark.createDataFrame(
        [(0, "a b c d"), (1, "a b"), (1, ""), (2, None)],
        "batch long, text string")
    out = {r["batch"]: r["n_grams"] for r in
           dedup.gram_novelty(df, "text", "batch", n=3).collect()}
    assert out == {0: 2}
