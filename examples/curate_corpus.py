"""End-to-end training-corpus curation example: the full document
pipeline a data-curation team would run at 100 TB, on the sf test data.

    python examples/curate_corpus.py [sf_dir] [out_base]

Stages (each a library operator; see lumbermill_spark/training/):
 0. unicode normalize     — NFC + zero-width/control strip (hashing
                            before normalizing misses 'café' == 'café')
    + boilerplate lines   — corpus-frequent lines dropped from all docs
 1. exact dedup           — hash-groupBy keep-first (preceded by the
                            cluster-size histogram dedup audit)
 2. near-dup keep-set     — MinHash-LSH pairs → connected components
 3. repetition scrub      — consecutive word runs collapsed in-place
                            (text_squeezed becomes the shipped text)
 4. language filter       — stopword-vote language ID, keep target lang
    + quality filters     — score threshold + Gopher-style hard rules
 5. corpus signals        — dup-span fraction, unigram surprisal,
                            bigram-LM perplexity terciles (the CCNet
                            gate: tail bucket dropped), token counts,
                            doc fingerprints, DSIR importance weight
                            (recorded; a resampling pass would draw
                            proportionally to it)
 6. source-mix resample   — deterministic md5-threshold downsampling
                            to a target mixture (reproducible across
                            reruns/resumes)
 7. routed write          — kept/dropped fan-out with per-sink metrics
 8. post-run audits       — one-pass filter-cascade survival report,
                            Zipf corpus-health slope, and an exact
                            ≤K-per-source eval set (stratified_cap)

Everything is one lazy DataFrame chain until the final writes: Catalyst
sees the whole plan, and the write pass carries the per-sink counts via
observe (no second scan).
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from lumbermill_spark.router import SinkSpec, route_and_write
from lumbermill_spark.session import get_spark
from lumbermill_spark.training import (classifier, dedup, sampling,
                                        textstats, tokenize)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    base = sys.argv[2] if len(sys.argv) > 2 else "/tmp/curate_out"
    spark = get_spark("curate-corpus")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n0 = docs.count()

    # 0. unicode normalization FIRST — every hash downstream (exact
    # dedup, shingles, fingerprints) keys on the normalized bytes
    docs = textstats.normalize_text(docs)
    # corpus-frequent boilerplate lines removed from every doc
    lines = dedup.line_dedup(docs, mode="drop_frequent", min_count=4)
    docs = docs.drop("text").join(
        lines.select("doc_id", F.col("text_clean").alias("text")),
        on="doc_id")

    # 0b. dedup audit BEFORE deduping: how much of the corpus is
    # copies, pairs or megaclusters? (one content-hash shuffle)
    print("duplicate-cluster size histogram:")
    dedup.cluster_size_histogram(docs).show()
    # ... and WHERE does the duplication live — inside one source
    # (diagonal) or leaking across dumps (off-diagonal, the signal
    # that dedup must run across them, not per-dump)?
    print("duplicate-leakage matrix (source x source):")
    dedup.dup_leakage_matrix(docs).orderBy("group_a", "group_b").show()
    # ... and is the marginal ingest wave still adding information?
    # (batch here = doc_id % 4 standing in for crawl/dump index)
    print("per-ingest-batch 3-gram novelty:")
    dedup.gram_novelty(
        docs.withColumn("batch", (F.col("doc_id") % 4).cast("long")),
        "text", "batch").orderBy("batch").show()

    # 1. exact dedup
    docs = dedup.exact_dedup(docs)

    # 2. near-dup keep-set (LSH candidates -> exact verify -> CC)
    pairs = dedup.minhash_lsh_pairs(docs, num_hashes=32, bands=16,
                                    shingle_n=3, threshold=0.5)
    docs = dedup.dedup_keep_best(docs, pairs)

    # 3. within-doc repetition scrub — zero-shuffle array expressions;
    # the scrubbed text is what ships (and what later signals score)
    docs = textstats.squeeze_repeats(docs)
    docs = (docs.drop("text")
            .withColumnRenamed("text_squeezed", "text"))

    # 3+4. language ID + quality score + Gopher hard rules, single
    # pass of column adds (all pure JVM expressions)
    docs = textstats.detect_language(docs)
    docs = textstats.quality_score(docs)
    docs = textstats.gopher_rules(docs, min_words=20)
    docs = textstats.token_counts(docs)
    docs = textstats.fingerprint(docs)

    # 5a. corpus-level curation signals joined back per doc: duplicated
    # 8-gram span fraction (exact-substring-dedup signal) and mean
    # unigram surprisal (LM-quality proxy; gibberish scores high)
    spans = dedup.dup_span_stats(docs, n=8).select("doc_id", "dup_fraction")
    surp = textstats.unigram_surprisal(docs).select(
        "doc_id", "mean_surprisal")
    ppl = tokenize.bigram_surprisal(docs).select("doc_id", "ppl_bucket")
    docs = (docs.join(spans, on="doc_id")
            .join(surp, on="doc_id", how="left")
            .join(ppl, on="doc_id", how="left"))

    # 5b. PII redaction: kept docs ship the scrubbed text
    docs = textstats.scrub_pii(docs)

    # 5c. DSIR importance weight toward the English distribution —
    # recorded per doc (a weighted resample would draw ∝ exp(weight));
    # the bucket model broadcasts, the corpus never re-shuffles for it
    dsir = classifier.dsir_weights(
        docs, target=F.col("lang_pred") == "en").select(
        "doc_id", F.col("log_weight").alias("dsir_log_weight"))
    docs = docs.join(dsir, on="doc_id", how="left")

    keep = ((F.col("lang_pred") == "en") & (F.col("quality") >= 0.5)
            & F.col("gopher_pass") & (F.col("dup_fraction") < 0.8)
            # CCNet-style LM gate: drop the least-predictable tercile
            # (docs too short for bigrams keep the benefit of the doubt)
            & (F.coalesce(F.col("ppl_bucket"), F.lit("head")) != "tail"))

    # 5d. gate-survival audit: which filter drops what, in ONE corpus
    # pass (K gates, one scan — not K filtered counts). This is the
    # table the team reads before tuning any threshold.
    print("filter-cascade survival report:")
    textstats.filter_cascade(docs, [
        ("lang_en", F.col("lang_pred") == "en"),
        ("quality", F.col("quality") >= 0.5),
        ("gopher", F.col("gopher_pass")),
        ("dup_span", F.col("dup_fraction") < 0.8),
        ("ppl_gate",
         F.coalesce(F.col("ppl_bucket"), F.lit("head")) != "tail"),
    ]).show()

    # 6. source-mix resample of the keep candidates: equal weight per
    # source, downsample-only rates, md5-threshold keep decision (the
    # same rows survive on any rerun/resume — no rand())
    cand = docs.filter(keep)
    rates = sampling.mix_rates(cand, "source", F.lit(1.0))
    sampled_ids = sampling.stratified_sample(
        cand, "source", rates).select("doc_id", F.lit(1).alias("_in_mix"))
    docs = docs.join(sampled_ids, on="doc_id", how="left")
    keep = keep & F.col("_in_mix").isNotNull()

    # 6b. deterministic train/val/test assignment + an epoch-1 shuffle
    # key (write-time order = repartitionByRange(shuffle_key) +
    # sortWithinPartitions; never a global rank). Both are pure-hash:
    # the same doc lands in the same split and the same epoch order on
    # every rerun, resume, and cluster size.
    docs = sampling.hash_split(
        docs, {"train": 0.98, "val": 0.01, "test": 0.01})
    docs = sampling.epoch_shuffle_key(docs, epoch=1)

    sinks = [
        SinkSpec("kept", keep, path=f"{base}/kept",
                 partition_by=["split", "source"]),
        SinkSpec("dropped", ~keep, path=f"{base}/dropped",
                 columns=["doc_id", "source", "lang_pred", "quality",
                          "dsir_log_weight"]),
    ]
    res = route_and_write(docs, sinks, base, run_id="curate",
                          token_col="n_ws_tokens")

    # 7b. corpus-health fit on the kept set (Zipf slope per language —
    # natural text ≈ −1; a flattened source flags template spam) and an
    # exact ≤K-per-source EVAL SET from the val split (deterministic
    # membership: the same docs on every rerun/resume/cluster size)
    kept_df = spark.read.parquet(f"{base}/kept")
    print("zipf rank-frequency slope (kept corpus):")
    textstats.zipf_stats(kept_df, by="lang_pred", min_count=2,
                         top_k=200).show()
    eval_set = sampling.stratified_cap(
        kept_df.filter(F.col("split") == "val"), "source", cap=5)
    print(f"eval set: {eval_set.count()} docs (≤5 per source, "
          "hash-deterministic)")

    print(f"input docs: {n0}")
    for sink, info in res.items():
        print(sink, {k: info.get(k) for k in
                     ("rows", "tokens", "secs", "path")})
    per_src = (spark.read.parquet(f"{base}/kept")
               .groupBy("source")
               .agg(F.count(F.lit(1)).alias("docs"),
                    F.sum("n_subword_est").alias("est_subwords")))
    per_src.orderBy("source").show(5)


if __name__ == "__main__":
    main()
