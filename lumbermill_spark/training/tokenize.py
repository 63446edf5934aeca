"""Tokenizer- and LM-prep statistics for training-data curation:
vocabulary building with OOV rates, BPE first-merge pair statistics,
and bigram-LM surprisal bucketing (the CCNet-style perplexity filter).

Everything is count-shaped: explode → partial-aggregated counts →
bounded joins. The corpus is scanned once per operator; the only
global state that ever leaves the executors is a fixed-size vocabulary
/ pair table (TakeOrderedAndProject) or a two-row percentile-cutoff
frame — nothing scales with corpus rows on the driver. Reference
analog: the reference's streaming statistics modules
(`lumbermill/misc/Metrics.py`, `misc/SimpleStats.py`) compute windowed
field statistics over event streams; these are the corpus-level
equivalents a pretraining pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lumbermill_spark.functions.skew import ensure_min_parallelism
from lumbermill_spark.training.textstats import words


def _word_rows(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return (
        df.select(
            F.col(id_col),
            F.explode(words(F.col(text_col))).alias("w"),
        ).filter(F.col("w") != "")
    )


def vocab_oov(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 1000,
    round_to: int = 6,
) -> DataFrame:
    """Build the top-``vocab_size`` word vocabulary by corpus frequency
    (ties broken lexicographically — a deterministic total order any
    engine can replay) and score every document's out-of-vocabulary
    rate against it: the first step of tokenizer training and a cheap
    domain-shift signal (high OOV = far from the corpus core).

    Plan: one scan → per-(doc, word) partial-aggregated counts; global
    word counts from that slim frame; the vocabulary itself is
    ``orderBy(count desc, word).limit(K)`` which Spark plans as
    TakeOrderedAndProject (per-partition top-K merge — no full sort,
    driver holds K rows); the per-doc join back is an explicit
    ``broadcast`` (K rows) so the corpus side never shuffles for the
    membership test. Documents with zero words produce no row (no
    bigrams to score), mirrored by the SQL twin.

    Output: (id, n_words, n_oov, oov_rate).
    """
    dw = (
        _word_rows(ensure_min_parallelism(df), text_col, id_col)
        .groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("k"))
        .localCheckpoint(eager=True)
    )
    vocab = (
        dw.groupBy("w").agg(F.sum("k").alias("c"))
        .orderBy(F.col("c").desc(), F.col("w"))
        .limit(vocab_size)
        .select("w", F.lit(1).alias("_in_vocab"))
    )
    joined = dw.join(F.broadcast(vocab), on="w", how="left")
    return (
        joined.groupBy(id_col).agg(
            F.sum("k").alias("n_words"),
            F.sum(F.when(F.col("_in_vocab").isNull(), F.col("k"))
                  .otherwise(F.lit(0))).alias("n_oov"),
        )
        .withColumn(
            "oov_rate",
            F.round(F.col("n_oov").cast("double") / F.col("n_words"),
                    round_to))
    )


def bpe_pair_stats(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 20,
) -> DataFrame:
    """Corpus-wide adjacent character-pair frequencies inside words —
    the statistic the first BPE merge step maximizes (Sennrich et al.
    2016). Emits the ``top_n`` merge candidates with a deterministic
    rank (count desc, then pair lexicographically).

    Plan: one scan → explode words → explode per-word character pairs
    (a ``sequence``/``transform`` projection, empty for 1-char words)
    → partial-aggregated pair counts. The ranking window runs over the
    AGGREGATED pair table — at most alphabet² rows regardless of
    corpus size — so the single-partition window is a constant-size
    final step, not a scale hazard.

    Character indexing uses code points on the Spark side; engines
    that index UTF-16 units would diverge on astral-plane characters
    (emoji) — the DuckDB twin indexes code points too, so parity holds
    for any Unicode text, but byte-oriented reimplementations should
    note it.

    Output: (left, right, cnt, rank).
    """
    w = F.col("w")
    pairs = F.when(
        F.length(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length(w) - 1),
            lambda i: F.struct(
                w.substr(i, F.lit(1)).alias("left"),
                w.substr(i + 1, F.lit(1)).alias("right"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<left:string,right:string>>"))
    counted = (
        ensure_min_parallelism(df)
        .select(F.explode(words(F.col(text_col))).alias("w"))
        .filter(F.col("w") != "")
        .select(F.explode(pairs).alias("p"))
        .select("p.left", "p.right")
        .groupBy("left", "right").agg(F.count(F.lit(1)).alias("cnt"))
    )
    rank_w = Window.orderBy(F.col("cnt").desc(), F.col("left"),
                            F.col("right"))
    return (
        counted.withColumn("rank",
                           F.row_number().over(rank_w).cast("int"))
        .filter(F.col("rank") <= top_n)
        .select("left", "right", F.col("cnt").cast("bigint").alias("cnt"),
                "rank")
    )


def bigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 4,
) -> DataFrame:
    """Per-document mean bigram surprisal under an add-one-smoothed
    corpus bigram LM, bucketed into head/middle/tail terciles — the
    CCNet-style (Wenzek et al. 2020) perplexity filter that pretraining
    pipelines use to keep the most in-distribution text: ``head`` =
    lowest surprisal (most LM-predictable), ``tail`` = highest.

    Model: P(w2|w1) = (c(w1,w2) + 1) / (c1(w1) + V), where c1 counts
    w1 as a conditioning context (bigram-left occurrences) and V is
    the number of distinct contexts — the self-consistent add-one
    conditional (rows of the smoothed matrix sum to 1). Surprisal is
    -log2 P; the per-doc score is the occurrence-weighted mean.

    Plan: ONE corpus scan — per-doc adjacent word pairs from a shifted
    ``zip_with`` projection collapse immediately to per-(doc, w1, w2)
    counts, eagerly localCheckpoint()ed; corpus bigram counts, context
    counts, V, and the tercile cutoffs all derive from that slim frame.
    Joins shuffle on the bigram / context keys (linear, partial-agg'd
    both sides); V and the cutoffs are one-row broadcasts. Tercile
    cutoffs use the inverse-CDF definition (smallest ROUNDED score s
    with cumulative count >= p·n) computed from a histogram of the
    rounded per-doc scores — a group-by whose cardinality is bounded
    by the rounding grid, not by document count, so no exact-percentile
    single-reducer state and bit-identical replay in any engine.
    Documents with fewer than two words have no bigrams and produce no
    row (mirrored by the SQL twin).

    Output: (id, n_bigrams, mean_surprisal, ppl_bucket).
    """
    ws = F.filter(words(F.col(text_col)), lambda x: x != F.lit(""))
    nxt = F.concat(F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0))),
                   F.array(F.lit(None).cast("string")))
    bigrams = F.filter(
        F.zip_with(ws, nxt, lambda a, b: F.struct(a.alias("w1"),
                                                  b.alias("w2"))),
        lambda p: p["w2"].isNotNull(),
    )
    db = (
        ensure_min_parallelism(df)
        .select(F.col(id_col), F.explode(bigrams).alias("b"))
        .select(id_col, "b.w1", "b.w2")
        .groupBy(id_col, "w1", "w2").agg(F.count(F.lit(1)).alias("k"))
        .localCheckpoint(eager=True)
    )
    c2 = db.groupBy("w1", "w2").agg(F.sum("k").alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    v = c1.agg(F.count(F.lit(1)).alias("V"))
    scored = (
        db.join(c2, on=["w1", "w2"])
        .join(c1, on="w1")
        .crossJoin(F.broadcast(v))
        .select(
            id_col, "k",
            (-F.log2((F.col("c2") + 1)
                     / (F.col("c1") + F.col("V")))).alias("s"))
    )
    # one slim row per doc, consumed THREE times (scores out, score
    # histogram, doc count) — materialize once or the join pipeline
    # above re-executes per consumer (verified in the physical plan)
    per_doc = scored.groupBy(id_col).agg(
        F.sum("k").alias("n_bigrams"),
        F.round(F.sum(F.col("k") * F.col("s")) / F.sum("k"), round_to)
        .alias("mean_surprisal"),
    ).localCheckpoint(eager=True)
    hist = per_doc.groupBy("mean_surprisal") \
        .agg(F.count(F.lit(1)).alias("hk"))
    cum_w = Window.orderBy("mean_surprisal") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = hist.withColumn("cum", F.sum("hk").over(cum_w)) \
        .crossJoin(F.broadcast(per_doc.agg(
            F.count(F.lit(1)).alias("n"))))
    cuts = cum.agg(
        F.min(F.when(F.col("cum") >= F.col("n") / 3.0,
                     F.col("mean_surprisal"))).alias("t1"),
        F.min(F.when(F.col("cum") >= F.col("n") * 2.0 / 3.0,
                     F.col("mean_surprisal"))).alias("t2"),
    )
    return per_doc.crossJoin(F.broadcast(cuts)).select(
        id_col,
        F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
        "mean_surprisal",
        F.when(F.col("mean_surprisal") <= F.col("t1"), F.lit("head"))
        .when(F.col("mean_surprisal") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail")).alias("ppl_bucket"),
    )


def inverted_index(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   max_postings: int = 10) -> DataFrame:
    """Search-index preparation: term -> document frequency + the first
    ``max_postings`` doc ids (sorted ascending), postings emitted as a
    comma-joined string so the row is engine-comparable.

    Plan: explode lowered words -> distinct (term, doc) -> one groupBy
    on the term. ``collect_set`` state is the per-term posting set; the
    emitted slice is capped, but the in-flight set for a stopword-like
    term is its full df — at corpus scale drop ultra-high-df terms
    first (they're never useful postings) via ``max_df``.
    """
    pairs = (ensure_min_parallelism(df)
             .select(F.col(id_col).alias("d"),
                     F.explode(words(F.col(text_col))).alias("w"))
             .where(F.col("w") != "")
             .select(F.lower("w").alias("term"), "d")
             .distinct())
    return (pairs.groupBy("term")
            .agg(F.count(F.lit(1)).alias("dfreq"),
                 F.array_join(
                     F.slice(
                         F.transform(
                             F.array_sort(F.collect_set("d")),
                             lambda x: x.cast("string")),
                         1, max_postings),
                     ",").alias("postings"))
            .select("term", F.col("dfreq").cast("bigint").alias("dfreq"),
                    "postings"))


def token_ngrams(tokens, n: int):
    """array<int> -> array<string> of comma-joined token n-grams
    (pure JVM: sequence → slice → array_join). Empty for sequences
    shorter than n."""
    size = F.size(tokens)
    return F.when(
        size >= n,
        F.transform(
            F.sequence(F.lit(1), size - n + 1),
            lambda i: F.array_join(F.slice(tokens, i, n), ","),
        ),
    ).otherwise(F.array().cast("array<string>"))


_GRAM_P = 0x9E3779B97F4A7C15  # odd 64-bit multiplier (golden ratio)


def _gram_rows_arrow(
    df: DataFrame,
    tokens_col: str,
    id_col: str,
    keep: list[str],
    n: int,
) -> DataFrame:
    """(id, keep..., _g: bigint) — each row's DISTINCT token n-gram
    hashes, exploded, computed in ONE vectorized Arrow stage. A row
    whose sequence yields no gram (shorter than ``n``, empty, or null)
    emits a single null-``_g`` row (explode_outer semantics), so
    callers can count/aggregate without a second scan.

    Gram hash: rolling polynomial ``sum(tok[j+k] * P^(n-1-k)) mod
    2^64`` with a fixed odd multiplier — n numpy multiply-adds over the
    batch's FLAT token buffer (cross-document windows are cut away by
    position filtering), then one lexsort for per-document dedup. The
    JVM expression-tree equivalent (``transform(sequence, xxhash64(
    slice))``) runs per-gram in Catalyst's interpreted higher-order-
    function mode — no codegen, no vectorization — and measured ~2.1x
    slower on a warm-input A/B at the 2M-sequence scale (30.4s vs
    14.5s, local[32]). Same collision contract as every
    hash-keyed operator here (distinct 8-grams colliding in a 64-bit
    space within one doc + the eval inventory, odds < 1e-9); the
    ``hashed=False`` string path remains the exact/cross-engine basis.
    Null token ELEMENTS hash as -1; null/empty sequences yield no gram.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    src = df.select(F.col(id_col), *[F.col(c) for c in keep],
                    F.col(tokens_col))
    in_schema = src.schema
    out_schema = T.StructType(
        [in_schema[id_col], *[in_schema[c] for c in keep],
         T.StructField("_g", T.LongType(), True)])
    ncols = 1 + len(keep)
    names = [f.name for f in out_schema.fields]
    with np.errstate(over="ignore"):
        coeff = np.empty(n, dtype=np.uint64)
        c = np.uint64(1)
        for k in range(n - 1, -1, -1):
            coeff[k] = c
            c = c * np.uint64(_GRAM_P)

    def gen(batches):
        for b in batches:
            ndocs = b.num_rows
            if ndocs == 0:
                continue
            toks = b.column(ncols)  # tokens is the last projected col
            lens = pc.fill_null(pc.list_value_length(toks), 0) \
                .to_numpy(zero_copy_only=False).astype(np.int64)
            vals = pc.fill_null(toks.flatten(), -1) \
                .to_numpy(zero_copy_only=False) \
                .astype(np.int64).astype(np.uint64)
            off = np.zeros(ndocs + 1, dtype=np.int64)
            np.cumsum(lens, out=off[1:])
            nwin = vals.size - n + 1  # windows over the FLAT buffer
            h = np.zeros(max(nwin, 0), dtype=np.uint64)
            with np.errstate(over="ignore"):
                for k in range(n):
                    h += vals[k:k + nwin] * coeff[k]
            m = np.maximum(lens - (n - 1), 0)  # in-doc window counts
            tot = int(m.sum())
            didx = np.repeat(np.arange(ndocs, dtype=np.int64), m)
            shift = np.concatenate(([0], np.cumsum(m)[:-1]))
            pos = (np.arange(tot, dtype=np.int64)
                   - np.repeat(shift, m) + np.repeat(off[:-1], m))
            hw = h[pos]
            order = np.lexsort((hw, didx))
            ds, hs = didx[order], hw[order]
            first = np.ones(ds.size, dtype=bool)
            first[1:] = (ds[1:] != ds[:-1]) | (hs[1:] != hs[:-1])
            ds, hs = ds[first], hs[first]
            empty = np.flatnonzero(m == 0)
            idx = pa.array(np.concatenate([ds, empty]))
            gvals = np.concatenate(
                [hs.view(np.int64), np.zeros(empty.size, dtype=np.int64)])
            gmask = np.zeros(gvals.size, dtype=bool)
            gmask[ds.size:] = True  # mask=True marks the null rows
            cols = [pc.take(b.column(i), idx) for i in range(ncols)]
            cols.append(pa.array(gvals, type=pa.int64(), mask=gmask))
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return src.mapInArrow(gen, out_schema)


def token_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    n: int = 8,
    round_to: int = 6,
    hashed: bool = True,
) -> DataFrame:
    """TOKEN-level benchmark decontamination (the q59 text pass run
    directly on pre-tokenized sequences — no detokenize round-trip):
    per train sequence, how many of its DISTINCT token n-grams appear
    anywhere in the eval set's n-gram inventory (both numerator and
    denominator are distinct-gram counts, q59's semantics).

    Plan: one pass over the train side — each row's DISTINCT token
    n-grams are computed ONCE (the token arrays never ride a shuffle),
    probed against the distinct'd eval inventory with a broadcast left
    join (eval sets are small — AQE broadcasts at runtime), and
    partial-aggregated back to one row per sequence (the gram rows stay
    co-located with their doc, so the map-side combine collapses each
    doc's grams before the exchange: the shuffle carries ~1 row per
    sequence, not per gram). ``n_grams`` is derived AT the aggregation
    as ``count(_g)`` — the gram rows are already distinct — never as a
    ``size(...)`` column beside an explode (a projection above a
    Generate re-evaluates per OUTPUT row: O(G²) per doc, measured 10x
    slower at sf0.1, PLANS.md §13). Zero-hit and empty sequences
    survive as one null-gram row (count ignores it) — no second train
    scan, no post-join re-join.

    ``hashed=True`` (default) keys grams with 8-byte rolling hashes from
    the one vectorized Arrow stage of :func:`_gram_rows_arrow` per side
    (numpy over each batch's flat token buffer; it beat the Catalyst
    ``transform(sequence, xxhash64(slice))`` lambda, which runs
    interpreted, in every A/B recorded in PLANS.md §13).
    ``hashed=False`` keeps comma-joined string keys from
    :func:`token_ngrams` (pure JVM ``explode_outer``): the exact basis
    for the DuckDB twin and the tests. Gram counts do not depend on the key — parity rests on gram
    SET identity, not hash values.
    Output: (id, source?, n_grams, n_contaminated, contaminated_frac).
    """
    keep = [c for c in ("source",) if c in train.columns]
    if hashed:
        rows = _gram_rows_arrow(train, tokens_col, id_col, keep, n)
        eg = (_gram_rows_arrow(eval_df, tokens_col, id_col, [], n)
              .where(F.col("_g").isNotNull()).select("_g").distinct()
              .withColumn("_hit", F.lit(1)))
    else:
        dg = F.array_distinct(token_ngrams(F.col(tokens_col), n))
        eg = (eval_df.select(F.explode(
                  token_ngrams(F.col(tokens_col), n)).alias("_g")).distinct()
              .withColumn("_hit", F.lit(1)))
        rows = train.select(
            F.col(id_col), *[F.col(c) for c in keep],
            F.explode_outer(dg).alias("_g"))
    out = (rows.join(eg, on="_g", how="left")
           .groupBy(id_col, *keep)
           .agg(F.count("_g").cast("long").alias("n_grams"),
                F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long")
                .alias("n_contaminated")))
    frac = F.when(F.col("n_grams") > 0,
                  F.col("n_contaminated").cast("double") / F.col("n_grams")
                  ).otherwise(F.lit(0.0))
    return out.withColumn("contaminated_frac", F.round(frac, round_to))


def fertility(
    df: DataFrame,
    tokens_col: str = "tokens",
    by: str = "source",
) -> DataFrame:
    """Tokenizer fertility per group: tokens emitted per whitespace
    word of the decoded text, plus tokens per character — the standard
    tokenizer-health metrics (a fertility spike on one source flags
    content the tokenizer fragments, e.g. non-Latin scripts or binary
    junk leaking through extraction).

    The decode is ONE vectorized Arrow buffer-reinterpret batch pass
    (:func:`~lumbermill_spark.functions.tokens.decode_tokens_arrow` —
    the only Python in the plan, zero per-row work); word counting is
    a JVM split/size projection; then a single map-side-combined
    groupBy of integer sums. Ratios divide the two int64 sums as
    doubles — identical IEEE ops in any engine — and floor-round
    (plain mul/add/floor/div) instead of library round().

    Output: (group, n_seqs, sum_tok, sum_words, tokens_per_word,
    tokens_per_char).
    """
    from lumbermill_spark.functions.tokens import decode_tokens_arrow

    decoded = decode_tokens_arrow(
        df.select(F.col(by), F.col(tokens_col)), tokens_col, out_col="_line")
    n_words = F.size(F.split(F.trim("_line"), r"\s+"))
    stats = (decoded.select(
        F.col(by),
        F.size(tokens_col).cast("long").alias("_t"),
        n_words.cast("long").alias("_w"),
        F.length("_line").cast("long").alias("_c"))
        .groupBy(by)
        .agg(F.count(F.lit(1)).cast("long").alias("n_seqs"),
             F.sum("_t").alias("sum_tok"),
             F.sum("_w").alias("sum_words"),
             F.sum("_c").alias("sum_chars")))
    tpw = F.col("sum_tok").cast("double") / F.col("sum_words").cast("double")
    tpc = F.col("sum_tok").cast("double") / F.col("sum_chars").cast("double")
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return (stats
            .withColumn("tokens_per_word", r6(tpw))
            .withColumn("tokens_per_char", r6(tpc))
            .drop("sum_chars"))


def vocab_coverage(
    df: DataFrame,
    tokens_col: str = "tokens",
    by: str = "source",
    top_k: int = 20,
) -> DataFrame:
    """Head-of-vocabulary coverage per group: what fraction of each
    group's token MASS falls in the corpus-global top-``top_k`` token
    ids. The tokenizer/curation diagnostic that flags sources whose
    token distribution diverges from the corpus head (binary junk,
    wrong-language leaks, templated boilerplate all shift mass out of
    — or pathologically into — the global head).

    Plan (reference semantics analog: per-field value-distribution
    statistics, ``lumbermill/misc/Facet.py`` over a tokenized field):
    explode → ONE map-side-combined groupBy(group, id) — after the
    combine the shuffled row count is bounded by |groups| x |vocab|,
    not the token count — then id totals (vocab-bounded), a single-
    task top-k rank over that tiny aggregate (|vocab| rows, NOT data
    rows — fine at any corpus scale), and a broadcast semi-join back.
    No per-row Python anywhere; the ratio divides two int64 sums
    (exact) and floor-rounds.

    A group whose rows hold no token at all (every array empty or
    null) yields NO output row: explode emits nothing for it, so it
    never reaches the aggregate. The DuckDB twin's ``unnest`` drops it
    the same way; left-join the group list onto the output when a
    zero-token row is wanted.

    Output: (group, n_tok, n_topk_tok, n_ids, coverage).
    """
    ids = df.select(F.col(by), F.explode(tokens_col).alias("_id"))
    per = ids.groupBy(by, "_id").agg(
        F.count(F.lit(1)).cast("long").alias("_c"))
    tot = per.groupBy("_id").agg(F.sum("_c").alias("_tc"))
    w = Window.orderBy(F.col("_tc").desc(), F.col("_id").asc())
    top = (tot.withColumn("_rn", F.row_number().over(w))
           .where(F.col("_rn") <= top_k)
           .select("_id", F.lit(1).alias("_top")))
    joined = per.join(F.broadcast(top), on="_id", how="left")
    out = joined.groupBy(by).agg(
        F.sum("_c").cast("long").alias("n_tok"),
        F.sum(F.when(F.col("_top") == 1, F.col("_c")).otherwise(F.lit(0)))
        .cast("long").alias("n_topk_tok"),
        F.count(F.lit(1)).cast("long").alias("n_ids"))
    cov = (F.col("n_topk_tok").cast("double") /
           F.col("n_tok").cast("double"))
    return out.withColumn(
        "coverage", F.floor(cov * 1e6 + F.lit(0.5)) / F.lit(1e6))


def token_entropy(
    df: DataFrame,
    tokens_col: str = "tokens",
    by: str = "source",
) -> DataFrame:
    """Shannon entropy (nats) of each group's unigram token-id
    distribution — the corpus-health scalar beside
    :func:`vocab_coverage`: near-uniform sources (encrypted/binary
    junk) spike toward ln(|vocab|), templated/repetitive sources
    collapse toward 0, natural text sits in between. Computed as
    ``H = ln(T) - sum(c*ln(c))/T`` so both engines evaluate one
    identical IEEE expression tree over integer counts (never a
    per-row p*ln(p) accumulation whose tiny addends underflow
    differently); floor-rounded to 4 decimals like zipf_stats.

    Plan: explode → ONE map-side-combined groupBy(group, id) (shuffled
    rows bounded by |groups| x |vocab|) → groupBy(group) over the tiny
    aggregate. Two shuffles, both on bounded-cardinality keys.

    Output: (group, n_tok, n_ids, entropy).
    """
    per = (df.select(F.col(by), F.explode(tokens_col).alias("_id"))
           .groupBy(by, "_id")
           .agg(F.count(F.lit(1)).cast("long").alias("_c")))
    c = F.col("_c").cast("double")
    stats = per.groupBy(by).agg(
        F.sum("_c").cast("long").alias("n_tok"),
        F.count(F.lit(1)).cast("long").alias("n_ids"),
        F.sum(c * F.log(c)).alias("_s"))
    t = F.col("n_tok").cast("double")
    h = F.log(t) - F.col("_s") / t
    return (stats.withColumn(
        "entropy", F.floor(h * 1e4 + F.lit(0.5)) / F.lit(1e4))
        .drop("_s"))
