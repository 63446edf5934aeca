"""Text analysis for training-data curation: language-ID, quality
scoring, token counting, document fingerprinting.

All pure JVM expressions (split/array ops/hashes) — these run inside
whole-stage codegen with zero Python, so they cost about as much as a
projection even at 100 TB. Heuristics are deliberately simple and
deterministic: the goal is curation *signals* with exact
reproducibility, not model-grade accuracy.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lumbermill_spark.functions.arrays import array_pairs
from lumbermill_spark.functions.skew import ensure_min_parallelism

# tiny per-language stopword marker sets (distinct words, lowercase)
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
    "es": ["el", "la", "de", "y", "que", "los", "una"],
    "fr": ["le", "la", "et", "les", "des", "est", "une"],
    "zh": ["de", "shi", "bu", "le", "wo", "zai", "you"],
}


def words(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def distinct_words(text: Column) -> Column:
    return F.array_distinct(F.transform(words(text), F.lower))


def lang_scores(text: Column) -> dict[str, Column]:
    """lang -> count of distinct stopwords present."""
    dw = distinct_words(text)
    return {
        lang: F.size(F.array_intersect(dw, F.array(*[F.lit(w) for w in ws])))
        for lang, ws in STOPWORDS.items()
    }


def detect_language(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "lang_pred",
    min_hits: int = 1,
) -> DataFrame:
    """Stopword-overlap language ID; ties broken by language-key order,
    below ``min_hits`` → 'und' (undetermined)."""
    scores = lang_scores(F.col(text_col))
    langs = list(scores)
    best_lang: Column = F.lit(langs[0])
    best_score: Column = scores[langs[0]]
    for lang in langs[1:]:
        is_better = scores[lang] > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, scores[lang]).otherwise(best_score)
    pred = F.when(best_score >= min_hits, best_lang).otherwise(F.lit("und"))
    return df.withColumn(out_col, pred)


def quality_score(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "quality",
    round_to: int = 6,
) -> DataFrame:
    """Composite [0,1] quality signal: length saturation, mean word
    length plausibility, stopword density. Adds ``n_words``,
    ``mean_word_len``, ``stopword_ratio``, ``out_col``."""
    t = F.col(text_col)
    wsplit = words(t)
    n_words = F.size(wsplit)
    n_chars = F.length(t)
    mean_wl = F.when(n_words > 0, n_chars.cast("double") / n_words).otherwise(
        F.lit(0.0)
    )
    en = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    sw_hits = F.size(
        F.filter(F.transform(wsplit, F.lower), lambda w: F.array_contains(en, w))
    )
    sw_ratio = F.when(n_words > 0, sw_hits.cast("double") / n_words).otherwise(
        F.lit(0.0)
    )
    len_score = F.least(n_words.cast("double") / 100.0, F.lit(1.0))
    wl_score = F.when((mean_wl >= 3.0) & (mean_wl <= 10.0), 1.0).otherwise(0.5)
    sw_score = F.least(sw_ratio * 5.0, F.lit(1.0))
    score = len_score * 0.4 + wl_score * 0.3 + sw_score * 0.3
    return (
        df.withColumn("n_words", n_words)
        .withColumn("mean_word_len", F.round(mean_wl, round_to))
        .withColumn("stopword_ratio", F.round(sw_ratio, round_to))
        .withColumn(out_col, F.round(score, round_to))
    )


def token_counts(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Adds ``n_ws_tokens`` (whitespace tokens), ``n_subword_est`` (the
    ~4-chars-per-BPE-token estimate), ``n_chars_calc``."""
    t = F.col(text_col)
    return (
        df.withColumn("n_ws_tokens", F.size(words(t)))
        .withColumn("n_chars_calc", F.length(t))
        .withColumn("n_subword_est",
                    F.ceil(F.length(t).cast("double") / 4.0).cast("long"))
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Boilerplate/repetition signals — the standard curation gate for
    machine-generated or template-stuffed documents:

    - ``uniq_word_ratio``   distinct words / words (1.0 = no repeats)
    - ``uniq_bigram_ratio`` distinct word bigrams / bigrams
    - ``top_word_frac``     most frequent word's share of all words

    All three come from explode → per-(doc, token) count → per-doc
    rollup: two map-side-combined aggregation chains (words, bigrams)
    of slim long rows, joined back per doc. The tempting pure-per-row
    expression form (array_distinct over word/bigram string arrays) was
    measured 5x slower — CollapseProject re-inlines the split and the
    bigram string builds into every ratio column (see the
    spark-local-perf notes), while exploded counts pay each token once.
    Bigram identity is the xxhash64 of the word pair (no string
    materialization); the 2^-64 collision odds are noise against these
    heuristic signals. All ratios are 0.0 for empty docs.
    """
    df = ensure_min_parallelism(df)  # single-row-group inputs: fan out
    t = F.trim(F.col(text_col))
    w = F.split(t, r"\s+")
    nonempty = F.when(F.length(t) > 0, w) \
        .otherwise(F.array().cast("array<string>"))
    word_stats = (
        df.select(F.col(id_col).alias("_id"),
                  F.explode(nonempty).alias("_w"))
        .groupBy("_id", "_w").agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("_id").agg(
            F.sum("_c").alias("_nw"),
            F.count(F.lit(1)).alias("_uw"),
            F.max("_c").alias("_maxc"))
    )
    bigrams = F.when(
        F.size(w) >= 2,
        F.transform(F.sequence(F.lit(1), F.greatest(F.size(w) - 1, F.lit(1))),
                    lambda i: F.xxhash64(F.slice(w, i, 2))),
    ).otherwise(F.array().cast("array<bigint>"))
    bigram_stats = (
        df.select(F.col(id_col).alias("_id"),
                  F.explode(bigrams).alias("_b"))
        .groupBy("_id", "_b").agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("_id").agg(
            F.sum("_c").alias("_nb"),
            F.count(F.lit(1)).alias("_ub"))
    )
    out = (
        df.join(word_stats.withColumnRenamed("_id", id_col),
                on=id_col, how="left")
        .join(bigram_stats.withColumnRenamed("_id", id_col),
              on=id_col, how="left")
    )
    nw = F.coalesce(F.col("_nw"), F.lit(0))
    nb = F.coalesce(F.col("_nb"), F.lit(0))
    return (
        out.withColumn(
            "uniq_word_ratio",
            F.when(nw > 0, F.col("_uw").cast("double") / nw)
            .otherwise(F.lit(0.0)))
        .withColumn(
            "uniq_bigram_ratio",
            F.when(nb > 0, F.col("_ub").cast("double") / nb)
            .otherwise(F.lit(0.0)))
        .withColumn(
            "top_word_frac",
            F.when(nw > 0, F.col("_maxc").cast("double") / nw)
            .otherwise(F.lit(0.0)))
        .drop("_nw", "_uw", "_maxc", "_nb", "_ub")
    )


def fingerprint(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "fingerprint",
    normalized: bool = True,
) -> DataFrame:
    """Content fingerprint: md5 of (normalized) text — the exact-dedup /
    provenance key. md5 over xxhash64 here because the oracle engines
    (DuckDB et al.) compute the identical digest."""
    t = F.col(text_col)
    if normalized:
        t = F.lower(F.regexp_replace(F.trim(t), r"\s+", " "))
    return df.withColumn(out_col, F.md5(t))


def unigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 4,
) -> DataFrame:
    """Mean unigram surprisal per document: avg(-log2 p(word)) with
    p estimated from the corpus itself (MLE, no smoothing — every word
    has at least its own occurrence). The cheap language-model-quality
    proxy of training-data curation: gibberish and out-of-distribution
    docs score high, boilerplate scores low.

    Plan: ONE corpus scan — the exploded words collapse immediately to
    per-(doc, word) counts (map-side combined) which are eagerly
    localCheckpoint()ed; global word counts, the corpus total (1-row
    broadcast), and the per-doc aggregate all derive from that slim
    checkpointed frame, so the expensive scan+split+explode never
    re-executes per consumer. Linear at any corpus size; no word list
    ever reaches the driver.

    Output: (id, n_words, mean_surprisal).
    """
    df = ensure_min_parallelism(df)  # single-row-group inputs: fan out
    words = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    # slim (doc, word, k) frame: materialized once, consumed three ways
    dw = words.groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("k")) \
        .localCheckpoint(eager=True)
    counts = dw.groupBy("w").agg(F.sum("k").alias("c"))
    total = counts.agg(F.sum("c").alias("N"))
    scored = (
        dw.join(counts, on="w")
        .crossJoin(F.broadcast(total))
        .select(id_col, "k",
                (-F.log2(F.col("c") / F.col("N"))).alias("s"))
    )
    return scored.groupBy(id_col).agg(
        F.sum("k").alias("n_words"),
        F.round(F.sum(F.col("k") * F.col("s")) / F.sum("k"), round_to)
        .alias("mean_surprisal"),
    )


#: Redaction patterns: deliberately lookahead-free so the same regex
#: runs identically on Java (Spark) and RE2 (DuckDB oracle) engines.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"\b\d{3}[- ]\d{3,4}[- ]\d{4}\b",
}


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str | None = None,
) -> DataFrame:
    """Training-data PII redaction pass: replace emails, IPv4 addresses
    and phone-shaped digit groups with typed placeholders
    (``<EMAIL>``/``<IP>``/``<PHONE>``) and report per-doc match counts.

    All pure JVM regexp_replace / regexp_count — no Python in the path,
    embarrassingly parallel, no shuffle. Counts are measured on the
    ORIGINAL text per category (before any replacement), so categories
    never steal each other's matches; replacement applies email → ip →
    phone in that order.

    Count semantics caveat: because each category counts against the
    original text, one substring can be counted by TWO categories
    (e.g. the phone-shaped local part of ``555-123-4567@x.com``
    increments both n_emails and n_phones) while the replacement pass
    consumes it once — so per-category counts can exceed the
    placeholders present in the scrubbed output. Treat the counts as
    per-category detection tallies, not as an audit total of emitted
    placeholders; sum placeholder occurrences in ``out_col`` if you
    need the latter.

    Output: input columns + ``out_col`` (default ``<text_col>_scrubbed``)
    + n_emails, n_ips, n_phones.
    """
    tgt = out_col or f"{text_col}_scrubbed"
    src = F.col(text_col)
    counts = {
        "n_emails": PII_PATTERNS["email"],
        "n_ips": PII_PATTERNS["ipv4"],
        "n_phones": PII_PATTERNS["phone"],
    }
    out = df
    for name, pat in counts.items():
        out = out.withColumn(
            name, F.size(F.regexp_extract_all(src, F.lit(pat), F.lit(0))))
    scrubbed = F.regexp_replace(src, PII_PATTERNS["email"], "<EMAIL>")
    scrubbed = F.regexp_replace(scrubbed, PII_PATTERNS["ipv4"], "<IP>")
    scrubbed = F.regexp_replace(scrubbed, PII_PATTERNS["phone"], "<PHONE>")
    return out.withColumn(tgt, scrubbed)


# --------------------------------------------------------------------- #
# Gopher-style rule filters

# minimal English function-word list for the "has stopwords" rule
# (Rae et al. 2021 use {the, be, to, of, and, that, have, with})
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with",
                    "a", "is"]


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
    round_to: int = 6,
) -> DataFrame:
    """Gopher-style repetition-free quality RULES (Rae et al. 2021,
    §A1.1): per-document heuristic flags that a pretraining pipeline
    uses to hard-filter documents before the statistical quality
    score. Unlike :func:`quality_score` (a soft composite signal),
    each rule here is an independent boolean with its measured value
    exposed, so downstream mixing can audit exactly WHY a document was
    dropped.

    Adds columns:
      * ``n_words``            whitespace word count
      * ``mean_word_len``      non-whitespace chars / words
      * ``symbol_word_ratio``  ('#' + '...' occurrences) / words
      * ``bullet_line_frac``   lines starting with -, * or • bullets
      * ``ellipsis_line_frac`` lines ending in ... or …
      * ``alpha_word_frac``    words containing >=1 [A-Za-z]
      * ``stop_hits``          distinct GOPHER_STOPWORDS present
      * ``gopher_pass``        conjunction of all rule thresholds

    All pure JVM expressions (split / filter / length arithmetic) —
    whole-stage codegen, zero Python, no shuffle: the op costs a
    projection at any scale and the thresholds are plan literals, so
    Catalyst folds them. Reference quality filtering lives in the
    event-stream world as modifier chains
    (`lumbermill/modifier/Facet.py`, `modifier/Field.py`); this is
    the curation-pipeline analog over the documents table.
    """
    t = F.col(text_col)
    ws = words(t)
    lines = F.split(t, r"\n")
    n_words = F.size(ws)
    n_lines = F.size(lines)
    nonws_chars = F.length(F.regexp_replace(t, r"\s+", ""))
    mean_wl = F.when(n_words > 0,
                     nonws_chars.cast("double") / n_words).otherwise(0.0)
    n_hash = (F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit(""))))
    n_ellipsis = (F.length(t)
                  - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
    sym_ratio = F.when(n_words > 0, (n_hash + n_ellipsis).cast("double")
                       / n_words).otherwise(0.0)
    bullet_frac = F.when(n_lines > 0, F.size(
        F.filter(lines, lambda x: x.rlike(r"^\s*[-*•]"))
    ).cast("double") / n_lines).otherwise(0.0)
    ellipsis_frac = F.when(n_lines > 0, F.size(
        F.filter(lines, lambda x: x.rlike(r"(\.\.\.|…)\s*$"))
    ).cast("double") / n_lines).otherwise(0.0)
    alpha_frac = F.when(n_words > 0, F.size(
        F.filter(ws, lambda w: w.rlike("[A-Za-z]"))
    ).cast("double") / n_words).otherwise(0.0)
    stop_hits = F.size(F.array_intersect(
        distinct_words(t), F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])))
    out = (
        df.withColumn("n_words", n_words)
        .withColumn("mean_word_len", F.round(mean_wl, round_to))
        .withColumn("symbol_word_ratio", F.round(sym_ratio, round_to))
        .withColumn("bullet_line_frac", F.round(bullet_frac, round_to))
        .withColumn("ellipsis_line_frac", F.round(ellipsis_frac, round_to))
        .withColumn("alpha_word_frac", F.round(alpha_frac, round_to))
        .withColumn("stop_hits", stop_hits)
    )
    gate = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("symbol_word_ratio") <= max_symbol_word_ratio)
        & (F.col("bullet_line_frac") <= max_bullet_line_frac)
        & (F.col("ellipsis_line_frac") <= max_ellipsis_line_frac)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
        & (F.col("stop_hits") >= min_stop_hits)
    )
    return out.withColumn("gopher_pass", gate)


def squeeze_repeats(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "text_squeezed",
    round_to: int = 6,
) -> DataFrame:
    """Collapse runs of consecutively repeated words to one occurrence
    ("the the the cat" -> "the cat") and report how much was removed —
    the within-document repetition scrub of a curation pipeline
    (stuttered OCR/ASR output, copy-paste echo, template loops), the
    removal counterpart to the *measuring* ops in
    :func:`repetition_stats`.

    Adds: ``n_words`` (bigint), ``n_kept`` (bigint), ``out_col``
    (scrubbed text), ``removed_frac``.

    Plan shape: pure per-row array expressions — split, a shifted-pair
    ``zip_with`` mask, ``filter``, ``array_join``. Zero shuffle, zero
    Python, whole-stage codegen; cost of a projection at any corpus
    size. The previous-word comparison deliberately uses a row-level
    shifted array (``slice`` + ``zip_with``) instead of an indexed
    lambda capturing the outer array, so the split is evaluated O(1)
    times per row, not once per element. Reference analog: the
    in-place field rewrites of `lumbermill/modifier/Field.py`
    (action `replace`), lifted to word-run semantics.
    """
    # null text behaves as empty (size(null) is -1 non-ANSI / null
    # ANSI — normalize before any arithmetic)
    ws = F.filter(words(F.coalesce(F.col(text_col), F.lit(""))),
                  lambda x: x != F.lit(""))
    n_words = F.size(ws)
    # prev[i] = ws[i-1]; prev[0] = null (always kept)
    prev = F.concat(
        F.array(F.lit(None).cast("string")),
        F.slice(ws, 1, F.greatest(n_words - 1, F.lit(0))),
    )
    kept = F.filter(
        F.zip_with(ws, prev,
                   lambda x, p: F.when(p.isNull() | (x != p), x)),
        lambda x: x.isNotNull(),
    )
    n_kept = F.size(kept)
    return (
        df.withColumn("n_words", n_words.cast("bigint"))
        .withColumn("n_kept", n_kept.cast("bigint"))
        .withColumn(out_col, F.array_join(kept, " "))
        .withColumn(
            "removed_frac",
            F.round(
                F.when(n_words > 0,
                       (n_words - n_kept).cast("double") / n_words)
                .otherwise(0.0), round_to))
    )


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    target_col: str | None = None,
    form: str = "NFC",
) -> DataFrame:
    """Unicode text normalization — the first scrub a crawl-curation
    pipeline applies before any hashing/dedup (byte-identical dedup is
    meaningless while 'café' has two encodings). Steps, in order:

    1. drop zero-width characters (ZWSP/ZWNJ/ZWJ/BOM);
    2. Unicode canonical normalization (``form``, default NFC) — the
       only step that needs Python (Spark has no builtin normalizer);
       runs as an Arrow-batched pandas UDF, never per-row Python;
    3. drop C0/C1 control characters except newline (tab becomes
       horizontal whitespace in step 4);
    4. collapse runs of horizontal whitespace (space, tab, NBSP) to a
       single space and trim the ends.

    Null text stays null. Everything except the NFC step is JVM
    ``regexp_replace``; the patterns are RE2-safe so an engine-
    independent twin can replay them.
    """
    import unicodedata

    tgt = target_col or text_col

    @F.pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        return s.map(lambda v: None if v is None
                     else unicodedata.normalize(form, v))

    zw = "[\\u200b\\u200c\\u200d\\ufeff]"  # ZWSP/ZWNJ/ZWJ/BOM
    c = F.regexp_replace(F.col(text_col), zw, "")
    c = _nfc(c)
    c = F.regexp_replace(c, "[\x00-\x08\x0b-\x1f\x7f]", "")
    c = F.trim(F.regexp_replace(c, "[ \\t\\u00a0]+", " "))
    out = df.withColumn(
        tgt, F.when(F.col(text_col).isNull(), F.lit(None)).otherwise(c))
    return out


def tf_idf_top_terms(df: DataFrame, k: int = 3,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Top-k terms per document by smoothed tf-idf:
    ``score = tf * ln((N + 1) / (df + 1))`` — the retrieval-style
    keyword extraction a curation pipeline uses for topic tagging.

    Plan: one scan -> explode lowered words -> (doc, term) counts
    (partial-aggregated); document frequency is a second aggregate OVER
    that counts frame (never re-scans text); N is a 1-row broadcast.
    Ranking runs per-doc over each doc's own terms only. Scores are
    ranked and emitted ROUNDED so the float replays across engines
    (same exposure as unigram surprisal above); ties break on the term.

    Output: (doc_id, term, tf, dfreq, score, rank).
    """
    terms = (df.select(F.col(id_col),
                       F.explode(words(F.col(text_col))).alias("w"))
             .where(F.col("w") != "")
             .select(id_col, F.lower("w").alias("term")))
    tf = terms.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfreq"))
    n_docs = df.select(
        F.count_distinct(F.col(id_col)).alias("n_docs"))
    scored = (tf.join(dfreq, on="term")
              .crossJoin(F.broadcast(n_docs))
              .withColumn(
                  "score",
                  F.round(F.col("tf") * F.log(
                      (F.col("n_docs") + 1).cast("double")
                      / (F.col("dfreq") + 1)), 4)))
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc())
    return (scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .where(F.col("rank") <= k)
            .select(id_col, "term", F.col("tf").cast("bigint").alias("tf"),
                    F.col("dfreq").cast("bigint").alias("dfreq"),
                    "score", "rank"))


def unigram_drift(df: DataFrame, split: Column,
                  text_col: str = "text", top_k: int = 10) -> DataFrame:
    """Corpus drift detection: smoothed unigram KL contribution per
    term between two halves of a corpus (old/new crawl, train/incoming
    batch). ``split`` is any boolean-ish 0/1 Column; contribution =
    p_a * ln(p_a / p_b) with add-one smoothing over the joint vocab, so
    terms that grew or vanished rank first and an unseen term never
    divides by zero.

    Plan: ONE scan — both halves' counts come from conditional sums in
    the same term-keyed aggregation (no per-split re-scan, no join of
    two count tables); totals + vocab size are a 1-row broadcast over
    the counts frame. Scores rank ROUNDED (engine-replayable, same
    exposure as tf-idf/surprisal above) with a term tiebreak.

    Output: (term, n_a, n_b, kl_term, rank), top_k rows.
    """
    terms = (df.select(split.cast("int").alias("s"),
                       F.explode(words(F.col(text_col))).alias("w"))
             .where(F.col("w") != "")
             .select("s", F.lower("w").alias("term")))
    counts = terms.groupBy("term").agg(
        F.sum(F.when(F.col("s") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).alias("n_b"))
    totals = counts.agg(F.sum("n_a").alias("na"),
                        F.sum("n_b").alias("nb"),
                        F.count(F.lit(1)).alias("v"))
    p_a = (F.col("n_a") + F.lit(1.0)) / (F.col("na") + F.col("v"))
    p_b = (F.col("n_b") + F.lit(1.0)) / (F.col("nb") + F.col("v"))
    scored = (counts.crossJoin(F.broadcast(totals))
              .withColumn("kl_term", F.round(p_a * F.log(p_a / p_b), 6)))
    w = Window.orderBy(F.col("kl_term").desc(), F.col("term").asc())
    return (scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .where(F.col("rank") <= top_k)
            .select("term",
                    F.col("n_a").cast("bigint").alias("n_a"),
                    F.col("n_b").cast("bigint").alias("n_b"),
                    "kl_term", "rank"))


def pmi_pairs(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id", vocab_size: int = 30,
              min_pair_docs: int = 5, top_k: int = 15) -> DataFrame:
    """Document-level PMI co-occurrence (word2vec-era corpus statistic:
    which term pairs appear in the same documents far more than chance).
    ``pmi(x,y) = ln(df_xy * N / (df_x * df_y))`` over DOCUMENT
    frequencies.

    Scale containment: naive co-occurrence is quadratic in document
    length; here pairs are generated only WITHIN the top
    ``vocab_size`` terms, so a document contributes at most V(V-1)/2
    pairs regardless of its length. Pair generation is a pure JVM
    array expression (indexed transform over each doc's sorted
    vocab-term set — no self-join, no Python), the vocab is a V-row
    broadcast, and every aggregation is partial-agg friendly. One
    corpus scan feeds doc frequencies AND pair counts.

    Output: (term_a, term_b, n_pair, pmi, rank), top_k rows ranked by
    rounded PMI (ties: pair lexicographic); pairs seen in fewer than
    ``min_pair_docs`` documents are dropped as noise.
    """
    dt = (df.select(F.col(id_col).alias("d"),
                    F.explode(words(F.col(text_col))).alias("w"))
          .where(F.col("w") != "")
          .select("d", F.lower("w").alias("term"))
          .distinct())
    dfreq = dt.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    vw = Window.orderBy(F.col("df").desc(), F.col("term").asc())
    vocab = (dfreq.withColumn("_r", F.row_number().over(vw))
             .where(F.col("_r") <= vocab_size).select("term", "df"))
    n_docs = df.select(F.count_distinct(F.col(id_col)).alias("n"))

    in_vocab = dt.join(F.broadcast(vocab.select("term")), on="term")
    per_doc = in_vocab.groupBy("d").agg(
        F.sort_array(F.collect_set("term")).alias("ts"))
    pairs = (per_doc.select(F.explode(array_pairs(F.col("ts"))).alias("p"))
             .groupBy("p.a", "p.b").agg(F.count(F.lit(1)).alias("n_pair"))
             .where(F.col("n_pair") >= min_pair_docs))

    va = vocab.select(F.col("term").alias("a"), F.col("df").alias("df_a"))
    vb = vocab.select(F.col("term").alias("b"), F.col("df").alias("df_b"))
    scored = (pairs.join(F.broadcast(va), on="a")
              .join(F.broadcast(vb), on="b")
              .crossJoin(F.broadcast(n_docs))
              .withColumn("pmi", F.round(F.log(
                  (F.col("n_pair") * F.col("n")).cast("double")
                  / (F.col("df_a") * F.col("df_b"))), 4)))
    rw = Window.orderBy(F.col("pmi").desc(), F.col("a").asc(),
                        F.col("b").asc())
    return (scored.withColumn("rank", F.row_number().over(rw).cast("int"))
            .where(F.col("rank") <= top_k)
            .select(F.col("a").alias("term_a"), F.col("b").alias("term_b"),
                    F.col("n_pair").cast("bigint").alias("n_pair"),
                    "pmi", "rank"))


def filter_cascade(
    df: DataFrame,
    stages: list[tuple[str, Column]],
) -> DataFrame:
    """Staged-filter survival report — the curation-pipeline audit
    table ("how many documents does each gate drop?") that decides
    which filter to tune first.

    One pass, one tiny shuffle: every row computes the index of its
    FIRST failing stage (``len(stages)`` if it passes all), the counts
    are grouped on that index (cardinality ≤ len(stages)+1, map-side
    combined), and per-stage in/out totals come from a suffix-sum
    window over that tiny frame. The naive formulation — one filter +
    count action per stage — scans the corpus K times and re-evaluates
    every upstream predicate; this scans it once no matter how many
    stages, which at 100 TB is the difference between one job and K.

    A null predicate counts as a FAIL at its stage (filters drop
    null-condition rows; an audit that silently passes them would
    disagree with the pipeline it audits).

    Output: (stage_idx, stage, n_in, n_out, drop_rate) ordered by
    stage_idx — ``n_in`` rows reached the stage, ``n_out`` survived
    it. ``drop_rate`` uses the replayable floor-rounding form (plain
    IEEE ops, bit-identical across engines; library round() is not).

    Reference analog: chained modifier filters
    (`lumbermill/modifier/Field.py` + per-module `filter:` conditions)
    drop events silently; this is the batch-audit view of that chain.
    """
    if not stages:
        raise ValueError("filter_cascade needs at least one stage")
    first_fail: Column = F.lit(len(stages))
    for i in range(len(stages) - 1, -1, -1):
        _, cond = stages[i]
        first_fail = F.when(~F.coalesce(cond, F.lit(False)), F.lit(i)) \
                      .otherwise(first_fail)
    fails = df.select(first_fail.alias("_ff")) \
              .groupBy("_ff").agg(F.count(F.lit(1)).alias("_n"))
    spark = df.sparkSession
    names = spark.createDataFrame(
        [(i, name) for i, (name, _) in enumerate(stages)],
        "stage_idx int, stage string")
    # rows with _ff >= i reached stage i; rows with _ff > i survived
    # it. ONE non-equi join of the ≤ K+1 fail-count rows to the K-row
    # stage grid computes both via a conditional sum — two separate
    # grid joins would make `fails` a two-consumer frame and Spark
    # would re-run the whole corpus scan (and the cascade expression)
    # once per consumer. Everything after the single wide groupBy is
    # driver-trivial.
    grid = (names.join(fails, F.col("_ff") >= F.col("stage_idx"), "left")
            .groupBy("stage_idx", "stage")
            .agg(F.coalesce(F.sum("_n"), F.lit(0)).alias("n_in"),
                 F.coalesce(
                     F.sum(F.when(F.col("_ff") > F.col("stage_idx"),
                                  F.col("_n"))),
                     F.lit(0)).alias("n_out")))
    rate = (F.col("n_in") - F.col("n_out")).cast("double") / \
        F.when(F.col("n_in") > 0, F.col("n_in").cast("double")).otherwise(F.lit(1.0))
    return (grid
            .withColumn("drop_rate",
                        F.floor(rate * 1e6 + F.lit(0.5)) / F.lit(1e6))
            .select("stage_idx", "stage",
                    F.col("n_in").cast("long").alias("n_in"),
                    F.col("n_out").cast("long").alias("n_out"), "drop_rate")
            .orderBy("stage_idx"))


def zipf_stats(
    df: DataFrame,
    text_col: str = "text",
    by: str | None = None,
    min_count: int = 2,
    top_k: int = 200,
) -> DataFrame:
    """Zipf rank–frequency fit per group: least-squares slope of
    ln(freq) on ln(rank) over the ``top_k`` most frequent words — the
    standard corpus-health diagnostic (natural text ≈ −1; template- or
    spam-heavy corpora flatten toward 0, truncated vocabularies
    steepen).

    Plan: explode → word count (map-side combined, the only wide pass
    over the corpus) → ``min_count`` prune (the Zipf-tail guard that
    keeps the ranked set a fraction of the vocabulary) → per-group
    rank window ordered (freq desc, word asc) — deterministic
    tie-break so the regression inputs are replayable — capped at
    ``top_k``, so the window state per group is bounded and the final
    regression aggregates top_k rows per group. With ``by=None`` the
    rank is a single global window: acceptable because the windowed
    frame is already pruned to the ≥min_count vocabulary head; for
    corpus-scale vocabularies raise ``min_count`` (the head is what
    the fit uses anyway).

    Output: (group?, n_ranked, slope) — slope floor-rounded to 4
    decimals (replayable rounding; see filter_cascade).
    """
    toks = df.select(
        *([F.col(by)] if by else []),
        F.explode(words(F.col(text_col))).alias("_w"))
    keys = [by, "_w"] if by else ["_w"]
    freq = (toks.groupBy(*keys).agg(F.count(F.lit(1)).alias("_f"))
            .filter(F.col("_f") >= min_count))
    w = (Window.partitionBy(by) if by else Window.partitionBy()) \
        .orderBy(F.col("_f").desc(), F.col("_w").asc())
    ranked = freq.withColumn("_r", F.row_number().over(w)) \
                 .filter(F.col("_r") <= top_k)
    # explicit least-squares sums rather than regr_slope: the closed
    # form below is the SAME IEEE expression tree the SQL twin runs
    # (regr_* internals may accumulate differently per engine), and the
    # zero-denominator guard (single ranked word → vertical fit) stays
    # ANSI-safe
    x = F.log(F.col("_r").cast("double"))
    y = F.log(F.col("_f").cast("double"))
    pre = ranked.select(
        *([by] if by else []), x.alias("_x"), y.alias("_y"),
        (x * y).alias("_xy"), (x * x).alias("_xx"))
    n = F.count(F.lit(1)).cast("double")
    num = n * F.sum("_xy") - F.sum("_x") * F.sum("_y")
    den = n * F.sum("_xx") - F.sum("_x") * F.sum("_x")
    slope = F.when(den != 0.0, num / den)
    aggs = [F.count(F.lit(1)).cast("long").alias("n_ranked"),
            (F.floor(slope * 1e4 + F.lit(0.5)) / F.lit(1e4)).alias("slope")]
    return pre.groupBy(by).agg(*aggs) if by else pre.agg(*aggs)
