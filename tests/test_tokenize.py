"""Tokenizer/LM-prep ops (training/tokenize.py), the repetition scrub
(textstats.squeeze_repeats) and semantic dedup (similarity.semdedup)."""

import pytest
from pyspark.sql import functions as F

from lumbermill_spark.training import similarity, textstats, tokenize


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the the the cat sat sat on the mat", "a"),
        (2, "a b b b c", "a"),
        (3, "unique words only here", "b"),
        (4, "", "b"),
        (5, "solo", "b"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_squeeze_repeats(docs):
    out = {r["doc_id"]: r for r in textstats.squeeze_repeats(docs).collect()}
    assert out[1]["text_squeezed"] == "the cat sat on the mat"
    assert out[1]["n_words"] == 9 and out[1]["n_kept"] == 6
    assert out[1]["removed_frac"] == pytest.approx(3 / 9, abs=1e-6)
    assert out[2]["text_squeezed"] == "a b c"
    assert out[3]["text_squeezed"] == "unique words only here"
    assert out[3]["removed_frac"] == 0.0
    # empty text: zero words, empty output, frac 0 (no division blowup)
    assert out[4]["n_words"] == 0 and out[4]["text_squeezed"] == ""
    assert out[4]["removed_frac"] == 0.0
    assert out[5]["text_squeezed"] == "solo" and out[5]["n_kept"] == 1


def test_squeeze_repeats_null_text(spark):
    df = spark.createDataFrame([(1, None), (2, "x x")],
                               "doc_id long, text string")
    out = {r["doc_id"]: r for r in textstats.squeeze_repeats(df).collect()}
    # null text behaves as empty, never size(null) arithmetic
    assert out[1]["n_words"] == 0 and out[1]["text_squeezed"] == ""
    assert out[1]["removed_frac"] == 0.0
    assert out[2]["text_squeezed"] == "x"


def test_vocab_oov(docs):
    # corpus counts: the=4 b=3 sat=2 a=1 c=1 cat=1 here=1 mat=1 on=1
    # only=1 solo=1 unique=1 words=1 ; top-3 vocab = {the, b, sat}
    out = {r["doc_id"]: r
           for r in tokenize.vocab_oov(docs, vocab_size=3).collect()}
    assert out[1]["n_words"] == 9
    assert out[1]["n_oov"] == 3  # cat, on, mat
    assert out[3]["n_oov"] == 4  # everything OOV
    assert out[3]["oov_rate"] == 1.0
    assert 4 not in out  # empty doc: no words, no row
    # ties at count 1 break lexicographically: vocab_size=4 adds 'a'
    out4 = {r["doc_id"]: r
            for r in tokenize.vocab_oov(docs, vocab_size=4).collect()}
    assert out4[2]["n_oov"] == 1  # only 'c' remains OOV


def test_bpe_pair_stats(spark):
    df = spark.createDataFrame(
        [(1, "abab abab xy"), (2, "ab x")], "doc_id long, text string")
    out = tokenize.bpe_pair_stats(df, top_n=3).collect()
    by_rank = {r["rank"]: (r["left"], r["right"], r["cnt"]) for r in out}
    # 'ab' pairs: abab has a-b twice + b-a once, twice per doc1 word,
    # plus 'ab' in doc2 -> a-b count 5, b-a count 2, x-y count 1
    assert by_rank[1] == ("a", "b", 5)
    assert by_rank[2] == ("b", "a", 2)
    assert by_rank[3] == ("x", "y", 1)
    # 1-char words contribute nothing (no crash on sequence(1, 0))


def test_bigram_surprisal_model(spark):
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "z")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in tokenize.bigram_surprisal(df).collect()}
    # bigrams: doc1 (a,b)x2 (b,a)x1, doc2 (a,b) (b,c); c2(a,b)=3
    # c1(a)=3 c1(b)=2, V=2 contexts {a,b}
    # s(a,b) = -log2(4/5); s(b,a) = -log2(2/4); s(b,c) = -log2(2/4)
    import math
    s_ab = -math.log2(4 / 5)
    s_ba = 1.0
    d1 = (2 * s_ab + s_ba) / 3
    d2 = (s_ab + s_ba) / 2
    assert out[1]["n_bigrams"] == 3
    assert out[1]["mean_surprisal"] == pytest.approx(d1, abs=1e-4)
    assert out[2]["mean_surprisal"] == pytest.approx(d2, abs=1e-4)
    assert 3 not in out  # single-word doc: no bigrams, no row
    # d1 < d2 -> doc1 is the head tercile, doc2 the tail (n=2)
    assert out[1]["ppl_bucket"] == "head"
    assert out[2]["ppl_bucket"] in ("middle", "tail")


def test_semdedup(spark):
    # two tight clusters plus one outlier; ids chosen so the md5-sample
    # quantizer picks centroids from both clusters (num_centroids=2)
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.99, 0.14, 0.0]),   # near-dup of 1 (cos ~ 0.99)
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.98, 0.2]),    # near-dup of 3
        (5, [0.0, 0.0, 1.0]),     # outlier
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r
           for r in similarity.semdedup(df, threshold=0.95,
                                        num_centroids=5).collect()}
    assert len(out) == 5
    # with one cell per vector possible, near-dups only drop when they
    # share a cell; with num_centroids=5 every vector IS a centroid so
    # each sits in its own cell -> nothing dropped
    assert all(r["kept"] for r in out.values())
    out2 = {r["vec_id"]: r
            for r in similarity.semdedup(df, threshold=0.95,
                                         num_centroids=2).collect()}
    dropped = sorted(v for v, r in out2.items() if not r["kept"])
    kept = sorted(v for v, r in out2.items() if r["kept"])
    # greedy keep-lowest: the higher id of each co-located near-dup
    # pair drops; nothing else does
    assert all(r["cell_skipped"] is False for r in out2.values())
    assert set(dropped).issubset({2, 4})
    assert 1 in kept and 3 in kept and 5 in kept


def test_semdedup_max_cell_guard(spark):
    rows = [(i, [1.0, 0.0]) for i in range(10)]  # all identical
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.semdedup(df, threshold=0.5, num_centroids=1,
                              max_cell=5).collect()
    # the one cell exceeds max_cell: pair generation skipped entirely,
    # everything kept and flagged
    assert all(r["cell_skipped"] and r["kept"] for r in out)


def test_kmeans_refine(spark):
    # two tight clusters; init picks some rows as centroids, one Lloyd
    # round moves every surviving centroid to its cluster's mean
    rows = [(i, [1.0, 0.0]) for i in range(5)] + \
           [(i, [0.0, 1.0]) for i in range(5, 10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.kmeans_refine(df, num_centroids=2, n_iter=2).collect()
    assert len(out) == 2
    assert sum(r["n_members"] for r in out) == 10
    for r in out:
        c = r["centroid"]
        # a refined centroid is the mean of identical member vectors:
        # exactly one of the two axis vectors (possibly both clusters
        # landed on one centroid if init drew both from the same side)
        assert c in ([1.0, 0.0], [0.0, 1.0], [0.5, 0.5])
    with pytest.raises(ValueError, match="n_iter"):
        similarity.kmeans_refine(df, n_iter=0)


def test_tf_idf_top_terms(spark):
    from lumbermill_spark.training.textstats import tf_idf_top_terms

    df = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "banana cherry"), (3, "cherry")],
        "doc_id int, text string")
    out = tf_idf_top_terms(df, k=1).collect()
    top = {r.doc_id: (r.term, r.tf, r.dfreq) for r in out}
    # 'apple' (tf=2, df=1) dominates doc 1; doc 3's only term wins
    assert top[1] == ("apple", 2, 1)
    assert top[3] == ("cherry", 1, 2)
    assert all(r.rank == 1 for r in out)


def test_inverted_index(spark):
    from lumbermill_spark.training.tokenize import inverted_index

    df = spark.createDataFrame(
        [(3, "x y"), (1, "x  y x"), (2, "X z")],
        "doc_id int, text string")
    out = {r.term: (r.dfreq, r.postings)
           for r in inverted_index(df, max_postings=2).collect()}
    # case-folded, postings sorted ascending and capped at 2 of 3 docs
    assert out["x"] == (3, "1,2")
    assert out["y"] == (2, "1,3")
    assert out["z"] == (1, "2")


def test_token_contamination(spark):
    from pyspark.sql import functions as F

    from lumbermill_spark.training.tokenize import token_contamination

    train = spark.createDataFrame(
        [(1, [1, 2, 3, 4, 5], "a"),       # grams (n=3): 123,234,345
         (2, [9, 9, 9, 9], "a"),          # grams: 999,999 -> distinct 1
         (3, [3, 4, 5, 6], "b"),          # grams: 345,456
         (4, [7], "b")],                  # too short -> 0 grams
        "doc_id long, tokens array<int>, source string")
    ev = spark.createDataFrame(
        [(100, [2, 3, 4, 5, 6])],         # grams: 234,345,456
        "doc_id long, tokens array<int>")
    out = {r["doc_id"]: r for r in
           token_contamination(train, ev, n=3).collect()}
    assert out[1]["n_grams"] == 3 and out[1]["n_contaminated"] == 2
    assert abs(out[1]["contaminated_frac"] - 2 / 3) < 1e-6
    assert out[2]["n_grams"] == 1 and out[2]["n_contaminated"] == 0
    assert out[3]["n_grams"] == 2 and out[3]["n_contaminated"] == 2
    assert out[3]["contaminated_frac"] == 1.0
    assert out[4]["n_grams"] == 0 and out[4]["contaminated_frac"] == 0.0
    assert out[1]["source"] == "a"   # passthrough column kept


def test_token_contamination_engine_parity(spark):
    """Hashed Arrow grams and exact string keys agree on the counts,
    including null and empty sequences and a doc whose every gram is a
    duplicate."""
    from lumbermill_spark.training.tokenize import token_contamination

    train = spark.createDataFrame(
        [(1, [1, 2, 3, 4, 5]), (2, [9, 9, 9, 9]), (3, [3, 4, 5, 6]),
         (4, [7]), (5, []), (6, None), (7, [2, 3, 4, 2, 3, 4, 2])],
        "doc_id long, tokens array<int>")
    ev = spark.createDataFrame([(100, [2, 3, 4, 5, 6])],
                               "doc_id long, tokens array<int>")

    def run(**kw):
        return {r["doc_id"]: (r["n_grams"], r["n_contaminated"])
                for r in token_contamination(train, ev, n=3, **kw).collect()}

    arrow = run()
    assert arrow == run(hashed=False)
    assert arrow[5] == (0, 0) and arrow[6] == (0, 0)
    assert arrow[7] == (3, 1)  # distinct {234,342,423}; only 234 hits


def test_gram_rows_arrow_null_elements(spark):
    """Null token ELEMENTS hash as a sentinel: grams that differ only
    in null position stay distinct, identical grams still dedup."""
    from lumbermill_spark.training.tokenize import _gram_rows_arrow

    df = spark.createDataFrame(
        [(1, [None, 1, None, 1]),   # grams (n=2): (ø,1),(1,ø),(ø,1) -> 2
         (2, [5, None, 5, None])],  # grams: (5,ø),(ø,5),(5,ø) -> 2
        "doc_id long, tokens array<int>")
    rows = _gram_rows_arrow(df, "tokens", "doc_id", [], 2).collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], set()).add(r["_g"])
    assert len(per_doc[1]) == 2 and len(per_doc[2]) == 2
    assert None not in per_doc[1] | per_doc[2]


def test_fertility(spark):
    from lumbermill_spark.functions.tokens import encode_line
    from lumbermill_spark.training import tokenize

    df = spark.createDataFrame(
        [("a", "one two three"), ("a", "four five"), ("b", "xy")],
        "source string, line string",
    ).select("source", encode_line(F.col("line")).alias("tokens"))
    out = {r["source"]: r for r in
           tokenize.fertility(df, "tokens", "source").collect()}
    # 'a': 13+9=22 tokens over 3+2=5 words; 'b': 2 tokens over 1 word
    assert out["a"]["sum_tok"] == 22 and out["a"]["sum_words"] == 5
    assert out["a"]["tokens_per_word"] == 4.4
    assert out["a"]["tokens_per_char"] == 1.0
    assert out["b"]["n_seqs"] == 1 and out["b"]["tokens_per_word"] == 2.0


def test_sequence_length_profile(spark):
    from lumbermill_spark.training import packing

    df = spark.createDataFrame(
        [("a", 10), ("a", 20), ("a", 130), ("b", 128)],
        "source string, n_tok int")
    out = {(r["source"], r["len_bucket"]): r for r in
           packing.sequence_length_profile(
               df, "n_tok", "source", bucket_width=16,
               context_len=128).collect()}
    assert out[("a", 0)]["n_seqs"] == 1       # len 10
    assert out[("a", 0)]["pad_waste"] == 118  # 128-10
    assert out[("a", 16)]["pad_waste"] == 108  # len 20
    assert out[("a", 128)]["sum_tok"] == 130
    assert out[("a", 128)]["pad_waste"] == 126  # 2*128-130
    assert out[("b", 128)]["pad_waste"] == 0   # exact fit


def test_vocab_coverage(spark):
    # tokens: id 1 appears 6x, id 2 4x, id 3 1x -> top_k=2 = {1, 2}
    df = spark.createDataFrame(
        [("a", [1, 1, 1, 2, 2, 3]), ("b", [1, 1, 1, 2, 2])],
        "source string, tokens array<int>")
    out = {r["source"]: r for r in
           tokenize.vocab_coverage(df, "tokens", "source",
                                   top_k=2).collect()}
    assert out["a"]["n_tok"] == 6 and out["a"]["n_topk_tok"] == 5
    assert out["a"]["n_ids"] == 3
    assert out["a"]["coverage"] == 0.833333  # floor(5/6*1e6+.5)/1e6
    assert out["b"]["coverage"] == 1.0 and out["b"]["n_ids"] == 2


def test_vocab_coverage_tie_breaks_by_id(spark):
    # ids 7 and 9 tie on global count; top_k=1 must pick the SMALLER id
    df = spark.createDataFrame(
        [("a", [7, 9]), ("b", [7, 9])], "source string, tokens array<int>")
    out = {r["source"]: r for r in
           tokenize.vocab_coverage(df, "tokens", "source",
                                   top_k=1).collect()}
    assert out["a"]["n_topk_tok"] == 1 and out["a"]["coverage"] == 0.5


def test_vocab_coverage_drops_groups_without_tokens(spark):
    # documented contract: a group whose rows hold no token (empty or
    # null arrays) has no output row, as in the DuckDB twin
    df = spark.createDataFrame(
        [("a", [1, 2]), ("b", []), ("c", None)],
        "source string, tokens array<int>")
    out = {r["source"]: r["n_tok"] for r in
           tokenize.vocab_coverage(df, "tokens", "source",
                                   top_k=1).collect()}
    assert out == {"a": 2}


def test_token_entropy(spark):
    import math

    df = spark.createDataFrame(
        [("u", [1, 2, 3, 4]),        # uniform over 4 ids -> ln(4)
         ("t", [5, 5, 5, 5]),        # single id -> 0
         ("m", [1, 1, 2])],          # H = ln3 - (2 ln2)/3
        "source string, tokens array<int>")
    out = {r["source"]: r for r in
           tokenize.token_entropy(df, "tokens", "source").collect()}
    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    assert out["u"]["entropy"] == r4(math.log(4))
    assert out["t"]["entropy"] == 0.0
    assert out["m"]["entropy"] == r4(math.log(3) - 2 * math.log(2) / 3)
    assert out["m"]["n_tok"] == 3 and out["m"]["n_ids"] == 2
