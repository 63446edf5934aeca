"""Deduplication operators for large-scale training-data pipelines.

Not in the reference (its nearest notion is stable-doc_id dedup in
misc/EventBuffer.py:29-31); these are the standard corpus-dedup suite
expressed Spark-first:

- exact:      hash-groupBy keep-first — one shuffle on the content hash.
- n-gram Jaccard: exact set similarity on candidate pairs.
- MinHash+LSH: shingle → signature (map-side-combinable min aggregates)
  → band → bucket → candidate pairs → exact verify.
- SimHash:    64-bit sign-of-weighted-sum fingerprint; near-dup =
  small Hamming distance, candidates via 16-bit chunk banding.
- embedding cosine: see training/similarity.py (near_duplicate_pairs).
- keep resolution: pairs → connected components → one kept member per
  component (:func:`dedup_keep_best`: lowest id, or highest score).

Scale design: every stage is groupBy/join shaped. MinHash signatures
are computed as 2H min-aggregates over exploded shingle hashes — the
partial aggregation collapses each partition to one row per doc before
the shuffle. LSH and SimHash banding turn the quadratic pair problem
into one groupBy per bucket key, in one shared stage
(:func:`_bucket_pairs`); bucket skew (a degenerate band value) is
capped by ``max_bucket`` exactly like production dedup pipelines cap
posting lists.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lumbermill_spark.functions.arrays import array_pairs
from lumbermill_spark.functions.skew import ensure_min_parallelism
from lumbermill_spark.training.textstats import words

# Mersenne prime 2^61-1: universal-hash modulus, fits in int64
_P = (1 << 61) - 1


# --------------------------------------------------------------------- #
# exact

def content_hash(text: Column, normalize: bool = True) -> Column:
    """The canonical content identity used by every exact-dedup path
    (batch, incremental, streaming): sha256 hex of the (optionally
    lowercased+trimmed) text. Null text → null hash."""
    key = F.lower(F.trim(text)) if normalize else text
    return F.sha2(key.cast("string"), 256)


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id",
                normalize: bool = True,
                keep_nulls: bool = True) -> DataFrame:
    """Keep the lowest-id row per distinct (normalized) text.

    groupBy(content) + min_by: one shuffle keyed on the text hash,
    map-side combined. Output keeps every column of the winning row.

    Null-text policy (documented choice): ``keep_nulls=True`` (default)
    passes null-text rows through untouched — a null means "content
    unknown", not "content equal", and an upstream extraction bug that
    nulls a million texts must not silently collapse them to one kept
    row. ``keep_nulls=False`` treats null as one shared empty content
    (all null-text docs dedupe together, still distinct from the
    empty-STRING group).
    """
    hashed = df.withColumn("_k", content_hash(F.col(text_col), normalize))
    if keep_nulls:
        nulls = hashed.filter(F.col("_k").isNull()).drop("_k")
        hashed = hashed.filter(F.col("_k").isNotNull())
    deduped = (
        hashed
        .groupBy("_k")
        .agg(F.min_by(F.struct(*df.columns), F.col(id_col)).alias("_row"))
        .select("_row.*")
    )
    return deduped.unionByName(nulls) if keep_nulls else deduped


def exact_dedup_incremental(
    df: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_col: str = "content_hash",
    normalize: bool = True,
) -> DataFrame:
    """Dedupe a NEW ingest batch against an ALREADY-COMMITTED corpus:
    drop rows whose :func:`content_hash` appears in ``seen`` (one
    ``hash_col`` column — e.g. ``SELECT content_hash FROM
    corpus_snapshot``), then exact-dedupe the survivors within the
    batch (lowest id wins, null texts pass through — same policy as
    :func:`exact_dedup`).

    This is the batch-resume complement of the checkpoint/lineage
    story: a pipeline that died mid-ingest replays its input batch
    against the last committed snapshot's hash set and emits exactly
    the not-yet-committed rows — no reprocessing, no duplicate commits.

    Plan shape: one left-anti hash join (AQE broadcasts the seen side
    when it is small; at corpus scale both sides shuffle on the
    64-hex key, which is uniformly distributed — no skew) plus
    exact_dedup's single groupBy. Union the kept batch's hashes back
    into the snapshot table for the next increment.
    """
    hashed = df.withColumn("_k", content_hash(F.col(text_col), normalize))
    fresh = hashed.join(
        seen.select(F.col(hash_col).alias("_k")).where(F.col("_k").isNotNull()),
        on="_k", how="left_anti").drop("_k")
    return exact_dedup(fresh, text_col, id_col, normalize)


#: rows above which an UNBLOCKED (block_col=None) all-pairs generator
#: refuses to run — N rows emit ~N²/2 pairs, so 20k rows is already
#: 200M candidate pairs; every production path must block (source,
#: LSH/SRP bucket) or use the minhash/simhash candidate generators.
UNBLOCKED_PAIR_LIMIT = 20_000


def require_block(df: DataFrame, caller: str,
                  limit: int = UNBLOCKED_PAIR_LIMIT) -> None:
    """Self-enforcing scale contract for all-pairs fallbacks: count the
    input (one column-pruned scan) and raise if an unblocked quadratic
    join would run on more than ``limit`` rows. Cheap insurance — the
    count is trivial next to the N²/2 join it prevents."""
    n = df.count()
    if n > limit:
        raise ValueError(
            f"{caller}: block_col is None with {n:,} input rows "
            f"(limit {limit:,}); the unblocked all-pairs fallback is "
            "test-scale only — pass block_col (source, LSH/SRP bucket) "
            "or use the MinHash/SimHash candidate path, or raise "
            "unblocked_limit explicitly if you really mean it")


# --------------------------------------------------------------------- #
# shingles / n-grams

def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams (space-joined), pure JVM: split → sequence
    of start offsets → slice+join. Empty/short docs give []."""
    words = F.split(F.trim(text), r"\s+")
    count = F.greatest(F.size(words) - (n - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.array_join(F.slice(words, i, n), " "),
    )
    return F.array_distinct(
        F.when(count > 0, grams).otherwise(F.array().cast("array<string>"))
    )


def _jaccard(a: str, b: str) -> Column:
    """|a ∩ b| / |a ∪ b| of two array columns, rounded to 6 places;
    0.0 when both are empty."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.round(F.when(union > 0, inter / union).otherwise(F.lit(0.0)), 6)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.0,
    block_col: str | None = None,
    hashed: bool = True,
    max_df: int | None = None,
    unblocked_limit: int = UNBLOCKED_PAIR_LIMIT,
) -> DataFrame:
    """Exact Jaccard over word n-gram sets for candidate pairs.

    ``block_col`` bounds the self-join (pairs only within a block —
    source, LSH bucket, …); None = full cross pairing (test scale only:
    the join is O(n²) without blocking, which is exactly what the
    MinHash path avoids — enforced by :func:`require_block`, which
    raises past ``unblocked_limit`` input rows so the fallback cannot
    silently reach production scale).
    ``hashed=True`` (default) uses the scalable explode-and-count plan:
    each shingle becomes one (id, block, shingle-hash) row; an
    equi-join on (block, hash) + groupBy(id_a, id_b) counts
    intersections, and |A∪B| = |A|+|B|−|A∩B|. Shuffle volume is
    O(docs × shingles) slim rows — document shingle SETS never ride
    through the join, and pairs sharing nothing are never materialized.
    ``hashed=False`` keeps the literal array-intersect form (string
    shingles end-to-end) for cross-checking.
    Output: (id_a, id_b, jaccard) with id_a < id_b.
    """
    if block_col is None:
        require_block(df, "ngram_jaccard_pairs", unblocked_limit)
    df = ensure_min_parallelism(df)  # single-row-group inputs: fan out
    grams = word_shingles(F.col(text_col), n)
    blk = [F.col(block_col).alias("_blk")] if block_col else []
    blk_names = ["_blk"] if block_col else []
    if hashed:
        # ONE scan+explode; document frequency (the max_df Zipfian
        # guard — a shingle shared by k docs alone emits k² join rows)
        # and per-doc post-pruning set size are both WINDOW counts over
        # the same exploded frame, not join-backs that would re-execute
        # the explode. The final self-join uses .alias() so both sides
        # canonicalize to the identical subtree and the (blk, h)
        # exchange is planned once and reused (ReusedExchange) instead
        # of recomputing the whole pipeline per side.
        ex = df.select(
            F.col(id_col).alias("_id"), *blk,
            F.explode(F.transform(grams, lambda s: F.xxhash64(s))).alias("_h"),
        )
        if max_df:
            w_df = Window.partitionBy(*blk_names, "_h")
            ex = ex.withColumn("_df", F.count(F.lit(1)).over(w_df)) \
                   .filter(F.col("_df") <= max_df).drop("_df")
        ex = ex.withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy("_id")))
        a, b = ex.alias("a"), ex.alias("b")
        join_cond = [F.col(f"a.{c}") == F.col(f"b.{c}")
                     for c in [*blk_names, "_h"]]
        inter = (
            a.join(b, on=join_cond)
            .filter(F.col("a._id") < F.col("b._id"))
            .groupBy(F.col("a._id").alias("id_a"),
                     F.col("b._id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("_inter"),
                 F.min(F.col("a._n")).alias("_na"),
                 F.min(F.col("b._n")).alias("_nb"))
        )
        union = (F.col("_na") + F.col("_nb") - F.col("_inter")).cast("double")
        jac = F.when(union > 0, F.col("_inter").cast("double") / union) \
            .otherwise(F.lit(0.0))
        out = inter.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        # NB pairs with zero shared shingles are (correctly) absent —
        # with a threshold > 0 that is exactly the wanted semantics
        if threshold > 0:
            out = out.filter(F.col("jaccard") >= threshold)
        return out
    sh = df.select(
        F.col(id_col).alias("_id"), *blk, grams.alias("_sh"),
    )
    a = sh.select(F.col("_id").alias("id_a"),
                  *[F.col(c) for c in blk_names], F.col("_sh").alias("_sh_a"))
    b = sh.select(F.col("_id").alias("id_b"),
                  *[F.col(c) for c in blk_names], F.col("_sh").alias("_sh_b"))
    joined = (a.join(b, on=blk_names) if block_col else a.crossJoin(b)).filter(
        F.col("id_a") < F.col("id_b")
    )
    out = joined.select("id_a", "id_b",
                        _jaccard("_sh_a", "_sh_b").alias("jaccard"))
    if threshold > 0:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


# --------------------------------------------------------------------- #
# MinHash + LSH

def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, sig: array<bigint>[num_hashes]).

    Explode shingle hashes → groupBy(id) with one min-aggregate per
    hash function: partial aggregation reduces each partition to a
    single row per doc before the shuffle, so the shuffle volume is
    O(docs × H), independent of shingle count.

    Hash family: h_i(shingle) = xxhash64(base_hash, seed + i) — each
    slot re-hashes the shingle's base hash with a distinct salt, so the
    slots are INDEPENDENT. The previous affine family
    (a_i * x + b_i) mod P chose a < 2^30 and x < 2^31 for ANSI
    overflow safety, but then a*x + b < 2^61 <= P: the mod never
    wrapped, every h_i was monotone in x, and all slots picked the
    SAME min-shingle — the signature degenerated to one correlated
    hash (bands agree all-or-nothing, recall ~= jaccard instead of
    1-(1-j^r)^b). The sf0.1 oracle gate caught this: nine pairs with
    jaccard 0.88-0.98 were missed, which a sound 16x2 banding misses
    with p < 1e-20. xxhash64 is ANSI-safe (a hash, not arithmetic).

    Measured and rejected: a zero-shuffle per-row formulation
    (sig = transform(sequence(0,H-1), i -> array_min(transform(
    hashed_shingles, h -> xxhash64(h, seed+i))))) produces identical
    values but runs ~5x SLOWER at bench scale (6.16s vs 1.22s,
    best-of-3) — nested higher-order lambdas are interpreted per
    element, while explode + min-agg stays inside whole-stage
    codegen, and the shuffle it pays is only O(docs x H) thanks to
    partial aggregation.
    """
    df = ensure_min_parallelism(df)  # single-row-group inputs: fan out
    exploded = df.select(
        F.col(id_col).alias("_id"),
        F.explode_outer(word_shingles(F.col(text_col), shingle_n)).alias("_sh"),
    ).withColumn("_h", F.xxhash64("_sh"))
    aggs = [
        F.min(F.xxhash64(F.col("_h"), F.lit(seed + i))).alias(f"_m{i}")
        for i in range(num_hashes)
    ]
    sigs = exploded.groupBy("_id").agg(*aggs)
    sig_arr = F.array(*[F.coalesce(F.col(f"_m{i}"), F.lit(_P))
                        for i in range(num_hashes)])
    return sigs.select(F.col("_id").alias(id_col), sig_arr.alias("sig"))


def _bucket_pairs(rows: DataFrame, keys: list[str], member: Column,
                  max_bucket: int) -> DataFrame:
    """Distinct (a, b) pairs of ``member`` values sharing a bucket
    ``keys``, with a < b (members are sorted before pairing).

    Buckets larger than ``max_bucket`` are dropped (degenerate-content
    guard: empty / boilerplate docs all hash to one bucket, which can
    collect billions of members at corpus scale and send the candidate
    set quadratic; those clusters belong to :func:`exact_dedup`). The
    guard runs BEFORE any bucket is materialized: a window count over
    ``keys`` streams per partition and drops oversized buckets, then
    the survivors are collect_set'd. Filtering after collect_set would
    build the degenerate bucket inside one unspillable aggregation
    buffer before discarding it: a single-task OOM at corpus scale.
    Window and groupBy hash-partition on the same keys, so they share
    one shuffle.
    """
    sized = rows.withColumn(
        "_bn", F.count(F.lit(1)).over(Window.partitionBy(*keys)))
    return (
        sized.where((F.col("_bn") > 1) & (F.col("_bn") <= max_bucket))
        .groupBy(*keys)
        .agg(F.sort_array(F.collect_set(member)).alias("_m"))
        .select(F.explode(array_pairs(F.col("_m"))).alias("_p"))
        .select("_p.a", "_p.b")
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket: int = 1000,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs with exact-Jaccard verification.

    signature → ``bands`` band-hashes → explode → groupBy(band, hash)
    bucket join → distinct candidate pairs → verify with exact n-gram
    Jaccard ≥ threshold. Buckets larger than ``max_bucket`` are dropped
    (see :func:`_bucket_pairs`).
    Output: (id_a, id_b, jaccard).
    """
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n, seed)
    banded = sigs.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bidx: F.struct(
                    bidx.alias("band"),
                    F.xxhash64(
                        F.array_join(
                            F.transform(
                                F.slice(F.col("sig"), bidx * rows_per_band + 1,
                                        rows_per_band),
                                lambda v: v.cast("string"),
                            ),
                            ",",
                        )
                    ).alias("bhash"),
                ),
            )
        ).alias("_b"),
    ).select("_id", "_b.band", "_b.bhash")
    pairs = _bucket_pairs(banded, ["band", "bhash"], F.col("_id"),
                          max_bucket).toDF("id_a", "id_b")

    # Verify in the SAME DAG with ONE shingle pass: pairs explode
    # long-form (one row per pair side), join once against the shingle
    # projection, regroup into (_sh_a, _sh_b). The shingle chain (the
    # expensive split/slice/array_join) is evaluated once per corpus
    # doc instead of once per side; the candidate subtree is
    # referenced once, so nothing re-executes. Two rewrites were
    # measured and rejected (calibrated, same session): computing
    # shingles ABOVE the join lets the pushed jaccard filter re-inline
    # the whole shingle expression into the join condition (~6 evals
    # per candidate row, 10x worse), and localCheckpoint + semi-join
    # to candidate docs computes the fewest shingles but the
    # checkpoint barrier + extra AQE jobs cost more than they save at
    # bench scale. The regroup shuffles candidate shingle arrays —
    # volume bounded by the max_bucket-capped candidate count.
    sh = df.select(F.col(id_col).alias("_vid"),
                   word_shingles(F.col(text_col), shingle_n).alias("_vsh"))
    long = pairs.select(
        "id_a", "id_b", F.explode(F.array("id_a", "id_b")).alias("_vid"))
    regrouped = (
        long.join(sh, on="_vid")
        .groupBy("id_a", "id_b")
        .agg(
            F.first(F.when(F.col("_vid") == F.col("id_a"), F.col("_vsh")),
                    ignorenulls=True).alias("_sh_a"),
            F.first(F.when(F.col("_vid") == F.col("id_b"), F.col("_vsh")),
                    ignorenulls=True).alias("_sh_b"),
        )
    )
    return (
        regrouped.select("id_a", "id_b",
                         _jaccard("_sh_a", "_sh_b").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# --------------------------------------------------------------------- #
# clustering pairs -> keep set

def _cc_driver(spark, edges_sym: DataFrame) -> DataFrame:
    """Small-graph fast path for :func:`connected_components`: collect
    the (bounded, pre-counted) symmetrized edge set and solve with a
    path-compressed min-root union-find. Attaching the larger root
    under the smaller keeps every root the minimum id of its set, so
    find(x) = min reachable id — identical labels to the distributed
    loop. Collected volume is capped by the caller's
    ``driver_max_edges`` check."""
    # src <= dst keeps SELF-LOOP nodes in the collected set (a pair
    # (x, x) must still yield row (x, x) like the distributed path);
    # the union below is a no-op for them but registers the node
    rows = (edges_sym.filter(F.col("src") <= F.col("dst"))
            .select("src", "dst").collect())
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for row in rows:
        ra, rb = find(row[0]), find(row[1])
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    nodes = set()
    for row in rows:
        nodes.add(row[0])
        nodes.add(row[1])
    id_type = edges_sym.schema["src"].dataType
    schema = T.StructType([T.StructField("id", id_type),
                           T.StructField("component", id_type)])
    data = [(n, find(n)) for n in nodes]
    return spark.createDataFrame(data, schema)


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 20,
    driver_max_edges: int = 1_000_000,
) -> DataFrame:
    """(id, component) for every id appearing in ``pairs``, where
    component = min id reachable through the pair graph.

    Adaptive execution (same spirit as AQE's runtime broadcast
    decision): the edge set is always counted first (that count is
    also the one-time materialization of the upstream pair
    generation). If it is at most ``driver_max_edges`` — near-dup pair
    sets are tiny relative to the corpus; 1M edges of two longs is
    ~32 MB on a 16g driver — the graph is collected and solved with a
    path-compressed union-find in microseconds, replacing the 3-8
    Spark jobs of the distributed loop (measured ~3s saved per call at
    bench scale). Above the threshold, the distributed pointer-
    doubling loop below runs; it is the 100-TB path and the only part
    that shuffles. Both paths produce identical labels (component =
    min reachable id).

    Min-label propagation with POINTER-DOUBLING compression: each round
    (a) takes the min label over graph neighbors (one hop) and then
    (b) replaces every label with the label OF its label node (path
    halving — the star-contraction idea from the MapReduce CC
    literature, e.g. Kiveris et al.'s large-star/small-star). The hop
    spreads the component min like BFS; the doubling halves remaining
    chain lengths, so convergence is O(log diameter) rounds instead of
    O(diameter) — at 10^12-node scale a pathological chain converges in
    ~40 rounds where plain propagation needs 10^12 (and round-2's plain
    loop silently returned UNCONVERGED labels past max_iterations;
    now it raises). The first three rounds run plain — dense near-dup
    clusters converge there and skip the doubling join entirely — and
    doubling turns on only if the graph proves deep.

    Round cost: two shuffles for the hop + one slim self-join for the
    doubling; exactly ONE action per round (the convergence probe reads
    old vs new label from the same persisted frame — round 2 spent an
    extra labels-join plus a second job on this).

    Scale hygiene (the round-1 scale-killer, fixed): ``edges`` is
    persisted ONCE before the loop so the (potentially very expensive)
    upstream pair generation — e.g. a full MinHash-LSH pipeline — runs
    exactly once, not once per round per action. Each round's frame is
    persisted and the previous round's unpersisted, and every
    ``checkpoint_interval`` rounds the labels are localCheckpoint()ed
    to truncate the lineage (otherwise the plan doubles per round and
    the driver re-optimizes an exponentially growing tree).

    Concurrency: the loop sizes ``spark.sql.shuffle.partitions`` from
    the measured edge count and restores it in a ``finally``. A SQL
    conf is session-global, so any query planned on the SAME
    SparkSession while this runs is planned at the reduced width, and
    a multi-threaded driver could race the restore. The function
    therefore assumes exclusive use of its session for the duration;
    drivers that multiplex concurrent jobs should run CC on an isolated
    ``spark.newSession()`` (shares the cluster, isolates SQL confs) and
    build ``pairs`` there.
    """
    from pyspark import StorageLevel

    checkpoint_interval = 5
    spark = pairs.sparkSession
    edges_raw = pairs.select(F.col(a_col).alias("src"),
                             F.col(b_col).alias("dst"))
    edges_raw = edges_raw.unionByName(
        edges_raw.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    plain_rounds = 3  # plain rounds first, doubling once deep
    converged = False
    cached: list[DataFrame] = []  # everything persisted, for finally
    edges = None
    old_p = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        edges_raw = edges_raw.persist(StorageLevel.MEMORY_AND_DISK)
        cached.append(edges_raw)
        # Size the loop's shuffle partitioning from the MEASURED edge
        # count (the count doubles as the one-time materialization of
        # the pair generation). The CC frames are slim (two longs) and
        # usually tiny relative to the corpus — only paired docs enter
        # — but the session default (2x cores, and AQE with
        # parallelismFirst) keeps every round's joins at full width:
        # measured at sf0.1 that is ~200 near-empty tasks per round
        # dominating the runtime. ~500k edges (≈8 MB) per partition,
        # capped at 10k partitions for 10^10-edge graphs.
        n_edges = edges_raw.count()
        if n_edges <= driver_max_edges:
            return _cc_driver(spark, edges_raw)
        p = int(max(1, min(n_edges // 500_000 + 1, 10_000)))
        spark.conf.set("spark.sql.shuffle.partitions", str(p))
        # cache at p partitions, pre-hashed on the join key
        edges = edges_raw.repartition(p, "dst") \
            .persist(StorageLevel.MEMORY_AND_DISK)
        cached.append(edges)
        # init label = min(self, neighbors) rather than self: one agg on
        # the SAME key/cost as the distinct() it replaces, but it starts
        # the propagation one hop ahead — star-shaped clusters (the
        # common near-dup case: everything pairs with the cluster min)
        # are already converged at round 0 and the loop exits after one
        # probe round instead of two.
        labels = edges.groupBy("src").agg(
            F.least(F.col("src"), F.min("dst")).alias("label")) \
            .withColumnRenamed("src", "node") \
            .persist(StorageLevel.MEMORY_AND_DISK)
        cached.append(labels)
        prev_frame: DataFrame | None = labels  # released per round
        for it in range(max_iterations):
            neigh = (
                edges.join(labels.withColumnRenamed("node", "dst"), on="dst")
                .groupBy("src").agg(F.min("label").alias("nlabel"))
                .withColumnRenamed("src", "node")
            )
            stepped = (
                labels.join(neigh, on="node", how="left")
                .select("node", "label",
                        F.least(F.col("label"), F.coalesce("nlabel", "label"))
                        .alias("step"))
            )
            if it >= plain_rounds:
                # label <- prev_label(label): every label IS a node id,
                # so the mapping join always hits; least() is belt-and-
                # braces (label(x) <= x keeps labels monotone). The map
                # comes from the PREVIOUS round's persisted frame — a
                # self-join on `stepped` would recompute the hop twice
                # per round (same subtree under two different-key
                # exchanges is not reused).
                jump = labels.select(F.col("node").alias("step"),
                                     F.col("label").alias("jump"))
                stepped = (
                    stepped.join(jump, on="step", how="left")
                    .select("node", "label",
                            F.least(F.col("step"),
                                    F.coalesce("jump", "step")).alias("new"))
                )
            else:
                stepped = stepped.withColumnRenamed("step", "new")
            if (it + 1) % checkpoint_interval == 0:
                # truncate lineage so the plan doesn't grow per round
                stepped = stepped.localCheckpoint(eager=True)
                this_cached = None
            else:
                stepped = stepped.persist(StorageLevel.MEMORY_AND_DISK)
                this_cached = stepped
                cached.append(stepped)
            # ONE action: materializes the round AND probes convergence
            changed = stepped.filter(F.col("new") < F.col("label")) \
                .limit(1).count()
            # the new round is materialized: the previous round's frame
            # (referenced only through this round's, now-cached, jump/
            # step joins) can be released immediately — holding every
            # round's cache until function exit would accumulate
            # O(rounds) copies of the label set
            if prev_frame is not None:
                prev_frame.unpersist()
                if prev_frame in cached:
                    cached.remove(prev_frame)
            prev_frame = this_cached
            labels = stepped.select("node", F.col("new").alias("label"))
            if changed == 0:
                converged = True
                break
        if not converged:
            raise RuntimeError(
                f"connected_components did not converge in "
                f"{max_iterations} rounds (graph diameter too large); "
                "raise max_iterations")
        # materialize the result before releasing loop-state caches so
        # callers never re-trigger the iteration lineage
        labels = labels.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_p)
        for frame in cached:
            frame.unpersist()
    return labels.select(F.col("node").alias("id"),
                         F.col("label").alias("component"))


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    order_col: str | None = None,
    id_col: str = "doc_id",
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Resolve near-duplicate PAIRS into a keep decision: group pairs
    into connected components and keep one member per component plus
    every unpaired document. Output: df filtered to kept rows.

    This is the step after minhash_lsh_pairs / simhash_pairs /
    near_duplicate_pairs in a real curation pipeline — without it, a
    dup CHAIN (a~b, b~c) would keep {a, c} under naive pairwise drops
    even though a~c are transitive dups.

    With no ``order_col`` the lowest id wins: the component label
    already is that id, so nothing beyond the components is computed.
    With ``order_col`` the member with the HIGHEST value wins, ties and
    nulls to the lowest id (nulls rank last) — the keep policy real
    curation pipelines use (RefinedWeb keeps the longest document,
    quality-filtered corpora keep the best-scoring one). The scores
    attach with one id-keyed join and one window over the component
    relabels each member with its winner; component-sized frames,
    nothing row-scaled on the driver. Ids may be any orderable type.
    """
    comp = connected_components(pairs, a_col, b_col)
    if order_col is not None:
        best = Window.partitionBy("component").orderBy(
            F.col("_score").desc_nulls_last(), F.col("id"))
        comp = (comp.join(df.select(F.col(id_col).alias("id"),
                                    F.col(order_col).alias("_score")),
                          on="id")
                .withColumn("component", F.first("id").over(best)))
    drop = comp.filter(F.col("id") != F.col("component")) \
        .select(F.col("id").alias(id_col))
    return df.join(drop, on=id_col, how="left_anti")


# --------------------------------------------------------------------- #
# SimHash

def md5_hash60(col: Column) -> Column:
    """60-bit integer hash from the md5 hex prefix (15 hex digits).

    Slower than xxhash64 but computable bit-identically in DuckDB
    (``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``), which makes
    simhash fingerprints oracle-checkable end-to-end."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    hash_expr=None,
) -> DataFrame:
    """(id, simhash: bigint) — sign of per-bit weighted token-hash votes.

    Explode tokens → one sum-aggregate per bit (±1 votes) → recombine.
    Like minhash_signatures, shuffle volume is O(docs × bits) thanks to
    partial aggregation. All arithmetic is JVM-side.

    ``hash_expr``: Column→Column token hash; defaults to xxhash64 (the
    fast path). Pass :func:`md5_hash60` (with ``bits<=60``) when the
    fingerprint must be reproducible outside Spark (DuckDB oracle).
    """
    if not 0 < bits <= 64:
        raise ValueError("bits in (0, 64]")
    if hash_expr is None:
        hash_expr = F.xxhash64
    df = ensure_min_parallelism(df)  # single-row-group inputs: fan out
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode_outer(F.split(F.trim(F.col(text_col)), r"\s+")).alias("_t"),
    ).withColumn("_h", hash_expr(F.col("_t")))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("_h"), b).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"_v{b}")
        for b in range(bits)
    ]
    votes = toks.groupBy("_id").agg(*aggs)
    fp = None
    for b in range(bits):
        bitval = F.when(F.col(f"_v{b}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bitval, b)
        fp = term if fp is None else fp.bitwiseXOR(term)  # disjoint bits: xor == or
    return votes.select(F.col("_id").alias(id_col), fp.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 64,
    hash_expr=None,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Candidates via 4-chunk banding (pigeonhole: distance ≤ 3 guarantees
    one identical chunk — recall is exactly 1, not probabilistic),
    verified with bit_count(xor). Output: (id_a, id_b, hamming).

    Chunk buckets larger than ``max_bucket`` are dropped — the same
    degenerate-content guard as :func:`minhash_lsh_pairs` (see
    :func:`_bucket_pairs`).
    """
    fps = simhash(df, text_col, id_col, bits, hash_expr=hash_expr)
    nchunks = 4
    width = bits // nchunks
    mask = (1 << width) - 1
    chunks = fps.select(
        F.col(id_col).alias("_id"),
        F.col("simhash"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("chunk"),
                    F.shiftright(F.col("simhash"), c * width)
                    .bitwiseAND(F.lit(mask)).alias("cval"),
                )
                for c in range(nchunks)
            ])
        ).alias("_c"),
    ).select("_id", "simhash", "_c.chunk", "_c.cval")
    # sort_array over struct(id, fp) orders by id, so id_a < id_b
    member = F.struct(F.col("_id").alias("id"), F.col("simhash").alias("fp"))
    cand = _bucket_pairs(chunks, ["chunk", "cval"], member, max_bucket)
    ham = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    return (
        cand.select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                    ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def dup_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Per-document duplicated-span statistics: the fraction of a doc's
    distinct word ``n``-grams that occur in at least ``min_count`` docs
    corpus-wide — the curation signal behind exact substring dedup
    ("Deduplicating Training Data Makes Language Models Better": long
    verbatim spans shared across documents are boilerplate/templates
    worth dropping or down-weighting). Doc-frequency based (per-doc
    grams are distinct); for WITHIN-doc repetition use
    ``textstats.repetition_stats``.

    Plan: one explode, ONE shuffle (partitionBy gram for the window
    doc-frequency count — same shape as ngram_jaccard_pairs' df guard),
    then a map-side-combinable per-doc aggregate; docs too short for
    any n-gram come back with 0/0/0 via the left join. No all-pairs
    anything — linear in total grams at any corpus size.

    Output: (id, n_grams, n_dup_grams, dup_fraction).
    """
    df = ensure_min_parallelism(df)  # single-row-group inputs: fan out
    grams = df.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), n)).alias("g"),
    )
    w = Window.partitionBy("g")
    per_doc = (
        grams.select(id_col, F.count(F.lit(1)).over(w).alias("gdf"))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_grams"),
             F.sum((F.col("gdf") >= min_count).cast("long"))
             .alias("n_dup_grams"))
    )
    return (
        df.select(id_col).join(per_doc, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
            F.round(
                F.when(F.coalesce("n_grams", F.lit(0)) > 0,
                       F.coalesce("n_dup_grams", F.lit(0))
                       / F.col("n_grams")).otherwise(F.lit(0.0)),
                6).alias("dup_fraction"),
        )
    )


def contamination_stats(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Benchmark-contamination signal: for each EVAL document, the
    fraction of its distinct word ``n``-grams that appear anywhere in
    the TRAIN corpus (the standard n-gram-overlap decontamination check
    run before training — eval docs with high overlap leaked into the
    training set, or vice versa).

    Plan: train side collapses to its DISTINCT gram set (one explode +
    one map-side-combined shuffle — the gram vocabulary, not the
    corpus, rides the join); eval grams left-join that vocabulary on
    the gram key. Linear in total grams on both sides, no all-pairs
    anything; eval docs too short for any n-gram report 0/0/0.

    Output: (id, n_grams, n_hits, contamination).
    """
    train = ensure_min_parallelism(train)
    eval_df = ensure_min_parallelism(eval_df)
    tgrams = train.select(
        F.explode(word_shingles(F.col(text_col), n)).alias("g")
    ).distinct().withColumn("_hit", F.lit(1))
    egrams = eval_df.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), n)).alias("g"),
    )
    per_doc = (
        egrams.join(tgrams, on="g", how="left")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_grams"),
             F.sum(F.coalesce("_hit", F.lit(0))).alias("n_hits"))
    )
    return (
        eval_df.select(id_col).join(per_doc, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(
                F.when(F.coalesce("n_grams", F.lit(0)) > 0,
                       F.coalesce("n_hits", F.lit(0)) / F.col("n_grams"))
                .otherwise(F.lit(0.0)), 6).alias("contamination"),
        )
    )


def exact_substring_scrub(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    round_to: int = 6,
) -> DataFrame:
    """Exact-substring deduplication statistics with FIRST-OCCURRENCE-
    KEPT semantics (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better", the ExactSubstr variant): every
    word ``k``-gram occurrence whose identical gram appears EARLIER in
    the corpus (global order = (doc_id, position)) is marked removed;
    the tokens covered by at least one removed gram are the scrub set.
    Unlike ``dup_span_stats`` (a doc-frequency signal on distinct
    grams) this is positional: within-doc repetition past the first
    occurrence is scrubbed too, and overlapping duplicated grams merge
    into spans via the covered-index union rather than double-counting.

    Plan: one scan → positional gram explode; ONE gram-keyed shuffle
    (window ``min`` over the gram partition finds each gram's global
    first occurrence — no self-join); removed occurrences then explode
    to covered token indices and collapse map-side into per-doc
    distinct-index counts. Linear in total grams at any corpus size —
    the suffix-array machinery of the paper is replaced by the
    shuffle, which is what a 1000-executor cluster is good at. Docs
    shorter than ``k`` tokens scrub nothing (left join + coalesce).

    Output: (id, n_tokens, n_grams, n_removed_grams, covered_tokens,
    retained_tokens, retained_frac).
    """
    df = ensure_min_parallelism(df)
    ws = words(F.col(text_col))
    n_tokens = F.when(
        F.coalesce(F.length(F.trim(F.col(text_col))), F.lit(0)) == 0,
        F.lit(0)).otherwise(F.size(ws))  # null text == empty: 0 tokens
    cnt = F.greatest(n_tokens - (k - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), cnt),
        lambda i: F.struct(
            i.alias("pos"),
            F.array_join(F.slice(ws, i, k), " ").alias("g")),
    )
    base = df.select(F.col(id_col), n_tokens.alias("n_tokens"))
    occ = (
        df.select(
            F.col(id_col),
            F.explode(F.when(cnt > 0, grams).otherwise(
                F.array().cast(
                    "array<struct<pos:int,g:string>>"))).alias("o"))
        .select(id_col, F.col("o.pos").alias("pos"),
                F.col("o.g").alias("g"))
        .withColumn("ord",
                    F.col(id_col).cast("long") * 1_000_000 + F.col("pos"))
    )
    w = Window.partitionBy("g")
    marked = occ.withColumn("first_ord", F.min("ord").over(w)) \
        .withColumn("removed", F.col("ord") > F.col("first_ord"))
    per_doc = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.col("removed").cast("long")).alias("n_removed_grams"))
    covered = (
        marked.filter("removed")
        .select(id_col,
                F.explode(F.sequence(F.col("pos"),
                                     F.col("pos") + (k - 1))).alias("ix"))
        .groupBy(id_col)
        .agg(F.count_distinct("ix").alias("covered_tokens"))
    )
    out = (
        base.join(per_doc, on=id_col, how="left")
        .join(covered, on=id_col, how="left")
    )
    retained = F.col("n_tokens") - F.coalesce("covered_tokens", F.lit(0))
    return out.select(
        F.col(id_col),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
        F.coalesce("n_removed_grams", F.lit(0)).cast("bigint")
        .alias("n_removed_grams"),
        F.coalesce("covered_tokens", F.lit(0)).cast("bigint")
        .alias("covered_tokens"),
        retained.cast("bigint").alias("retained_tokens"),
        F.round(
            F.when(F.col("n_tokens") > 0,
                   retained.cast("double") / F.col("n_tokens"))
            .otherwise(F.lit(1.0)), round_to).alias("retained_frac"),
    )

def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "drop_frequent",
    min_count: int = 2,
    sep: str = "\n",
    round_to: int = 6,
) -> DataFrame:
    """Line-level corpus deduplication, the two standard crawl-curation
    flavors (not in the reference; this is the C4 / RefinedWeb
    boilerplate stage a training pipeline runs before doc-level dedup):

    - ``drop_frequent``: remove EVERY occurrence of a non-blank line
      whose corpus-wide occurrence count is >= ``min_count`` (RefinedWeb
      / MassiveText line dedup — kills nav menus, cookie banners and
      other boilerplate that repeats across pages).
    - ``keep_first``: remove occurrences after the line's global first
      (corpus order = (doc_id, position)) — C4-style exact span dedup
      at line granularity, same semantics as ``exact_substring_scrub``
      but reassembling the scrubbed text.

    Whitespace-only lines never participate (they carry document
    structure, and under ``drop_frequent`` every blank line would
    otherwise vanish). The cleaned text preserves original line order.

    Plan: one scan -> posexplode; ONE line-keyed shuffle (window count
    or min — no self-join); one id-keyed shuffle rebuilding the doc
    (collect_list of (pos, line) structs, array_sort, array_join).
    Linear in total lines at any corpus size; line values are the only
    shuffle key, so a pathological single repeated line costs one hot
    partition of small rows, not a quadratic join. ``keep_first``
    assumes < 1e6 lines per doc (the (doc_id, pos) order encoding).

    Output: (id, n_lines, n_removed_lines, text_clean, retained_frac).
    """
    from lumbermill_spark.operators.field_actions import _java_quote

    if mode not in ("drop_frequent", "keep_first"):
        raise ValueError(f"line_dedup: unknown mode {mode!r}")
    df = ensure_min_parallelism(df)
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")),
                    _java_quote(sep))).alias("pos", "line"))
    blank = F.trim(F.col("line")) == ""
    w = Window.partitionBy("line")
    if mode == "keep_first":
        lines = lines.withColumn(
            "ord", F.col(id_col).cast("long") * 1_000_000 + F.col("pos"))
        removed = ~blank & (F.col("ord") > F.min("ord").over(w))
    else:
        removed = ~blank & (F.count(F.lit(1)).over(w) >= min_count)
    marked = lines.withColumn("removed", removed)
    # collect_list skips nulls, so removed lines drop out of the rebuild
    kept_struct = F.when(~F.col("removed"),
                         F.struct(F.col("pos"), F.col("line")))
    stats = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("removed").cast("long")).alias("n_removed_lines"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list(kept_struct)),
                        lambda s: s["line"]),
            sep).alias("text_clean"))
    retained = F.col("n_lines") - F.col("n_removed_lines")
    return stats.select(
        F.col(id_col),
        F.col("n_lines").cast("bigint").alias("n_lines"),
        F.col("n_removed_lines").cast("bigint").alias("n_removed_lines"),
        F.col("text_clean"),
        F.round(retained.cast("double") / F.col("n_lines"),
                round_to).alias("retained_frac"))


def fuzzy_prefix_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_len: int = 20,
    max_dist: int = 2,
    max_bucket: int = 1000,
) -> DataFrame:
    """Edit-distance near-dup candidates over document PREFIXES:
    pairs whose first ``prefix_len`` characters are within levenshtein
    ``max_dist`` — catches the copy-with-a-typo'd-header duplicates
    that shingle/minhash families only score fractionally.

    Blocking with guaranteed length recall: two strings within edit
    distance k differ in length by <= k, and with band width (k+1)
    their length bands differ by <= 1 — so one side probes its own
    band plus both neighbors (a 3x multi-probe explode, same shape as
    the SRP multi-probe in similarity.py), the join is a band equi-join
    and NOTHING else is compared. Degenerate bands (every doc the same
    length — a fixed-width corpus) are capped at ``max_bucket``
    candidates per band like minhash_lsh_pairs; the cap is a
    completeness tradeoff, not a correctness one, and is logged by the
    caller's contract. levenshtein() verifies candidates JVM-side.

    Output: (id_a, id_b, dist) with id_a < id_b.
    """
    w = max_dist + 1
    p = F.substring(F.col(text_col), 1, prefix_len)
    base = (df.select(F.col(id_col).alias("id"), p.alias("p"))
            .where(F.col("p").isNotNull() & (F.col("p") != ""))
            .withColumn("band", F.floor(F.length("p") / w).cast("long")))
    # cap degenerate bands before the join (same guard as minhash)
    sized = base.withColumn(
        "_bn", F.count(F.lit(1)).over(Window.partitionBy("band")))
    capped = sized.where(F.col("_bn") <= max_bucket).drop("_bn")
    probe = capped.select(
        "id", "p",
        F.explode(F.array(F.col("band") - 1, F.col("band"),
                          F.col("band") + 1)).alias("band"))
    a = probe.select(F.col("id").alias("id_a"), F.col("p").alias("pa"),
                     "band")
    b = capped.select(F.col("id").alias("id_b"), F.col("p").alias("pb"),
                      "band")
    return (a.join(b, on="band")
            .where(F.col("id_a") < F.col("id_b"))
            .withColumn("dist", F.levenshtein("pa", "pb"))
            .where(F.col("dist") <= max_dist)
            .select("id_a", "id_b", F.col("dist").cast("int").alias("dist"))
            .distinct())


def cluster_size_histogram(
    df: DataFrame,
    text_col: str = "text",
    normalize: bool = True,
) -> DataFrame:
    """Exact-duplicate audit histogram: distribution of duplicate-
    cluster sizes, the first diagnostic a curation run reports ("how
    much of the corpus is copies, and are they pairs or megaclusters?").

    Cluster = rows sharing :func:`content_hash`; null-text rows are
    excluded (unknown content clusters with nothing — same policy as
    :func:`exact_dedup` keep_nulls). Bucket key = decimal digit count
    of the cluster size (1→"1", 2-9→"1", 10-99→"2", …): a pure
    integer/string op, so it replays bit-identically in any engine —
    unlike floor(log2(n)), whose IEEE log can land an exact power on
    either side of the boundary.

    Plan: one wide shuffle (content-hash count, map-side combined),
    then a second groupBy over one row per CLUSTER — already a
    dedup-rate fraction of the corpus. n_redundant = docs a subsequent
    exact_dedup would remove.
    """
    sizes = (df.filter(F.col(text_col).isNotNull())
             .groupBy(content_hash(F.col(text_col), normalize).alias("_k"))
             .agg(F.count(F.lit(1)).alias("_s")))
    bucket = F.length(F.col("_s").cast("string")).alias("size_digits")
    return (sizes.groupBy(bucket).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("_s").cast("long").alias("n_docs"),
        F.sum(F.col("_s") - 1).cast("long").alias("n_redundant"),
        F.min("_s").cast("long").alias("min_size"),
        F.max("_s").cast("long").alias("max_size"),
    ).orderBy("size_digits"))


def dup_leakage_matrix(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    normalize: bool = True,
) -> DataFrame:
    """Exact-duplicate leakage matrix across groups (sources, crawls,
    dumps): for every unordered group pair the number of distinct
    contents present in BOTH, plus the duplicate doc-pair count; the
    diagonal (group_a == group_b) reports INTERNAL duplication —
    contents with >= 2 docs inside one group. This is the first audit
    table a multi-crawl curation run reads: a hot off-diagonal cell
    means two dumps re-crawled the same sites and exact dedup must run
    ACROSS them, not per-dump.

    Plan: :func:`content_hash` → ONE map-side-combined
    groupBy(hash, group) (output rows bounded by distinct contents x
    groups containing them) → a self equi-join on the 64-hex hash
    (uniform key; per-hash row count bounded by |groups|, so the join
    fan-out per key is bounded by |groups|², never by doc count) →
    tiny groupBy(pair). Null texts are excluded (content unknown —
    same policy as exact_dedup's keep_nulls).

    Output: (group_a, group_b, n_contents, n_doc_pairs), diagonal
    included, group_a <= group_b.
    """
    cnt = (df.where(F.col(text_col).isNotNull())
           .select(content_hash(F.col(text_col), normalize).alias("_k"),
                   F.col(group_col).alias("_g"))
           .groupBy("_k", "_g")
           .agg(F.count(F.lit(1)).cast("long").alias("_c")))
    a = cnt.select(F.col("_k"), F.col("_g").alias("_ga"),
                   F.col("_c").alias("_ca"))
    b = cnt.select(F.col("_k"), F.col("_g").alias("_gb"),
                   F.col("_c").alias("_cb"))
    cross = (a.join(b, on="_k")
             .where(F.col("_ga") < F.col("_gb"))
             .groupBy(F.col("_ga").alias("group_a"),
                      F.col("_gb").alias("group_b"))
             .agg(F.count(F.lit(1)).cast("long").alias("n_contents"),
                  F.sum(F.col("_ca") * F.col("_cb")).cast("long")
                  .alias("n_doc_pairs")))
    # c*(c-1) is always even; the double division is exact below 2^52
    within_pairs = (F.col("_c") * (F.col("_c") - F.lit(1)) / F.lit(2))
    diag = (cnt.where(F.col("_c") >= 2)
            .groupBy(F.col("_g"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_contents"),
                 F.sum(within_pairs).cast("long").alias("n_doc_pairs"))
            .select(F.col("_g").alias("group_a"),
                    F.col("_g").alias("group_b"),
                    "n_contents", "n_doc_pairs"))
    return cross.unionByName(diag)


def gram_novelty(
    df: DataFrame,
    text_col: str = "text",
    batch_col: str = "batch",
    n: int = 3,
) -> DataFrame:
    """Per-ingest-batch n-gram novelty rate: of each batch's DISTINCT
    word n-grams, the fraction never seen in any earlier batch (batch
    ids must be orderable — ingest day, dump index). The redundancy-
    growth curve a continuously-crawled corpus is judged by: novelty
    decaying toward 0 means new crawls add bytes, not information, and
    the marginal crawl should be down-weighted or skipped (the
    incremental-ingest complement of :func:`exact_dedup_incremental`,
    measured at gram rather than document granularity).

    Plan: explode :func:`word_shingles` → distinct(gram, batch) (one
    shuffle on slim rows) → groupBy(gram) min(batch) → co-partitioned
    join back on gram → tiny groupBy(batch). Everything is keyed on
    the gram — linear in gram volume, no pairwise work; a gram shared
    by every batch contributes |batches| rows, never |docs|.

    A batch whose rows yield no n-gram at all (every text shorter than
    ``n`` words, empty or null) yields NO output row: explode emits
    nothing for it. The DuckDB twin drops it the same way; left-join
    the batch list onto the output when a zero-gram row is wanted.

    Output: (batch, n_grams, n_new, novelty) — novelty floor-rounded
    to 6 decimals from an exact int64 ratio.
    """
    g = (df.select(F.col(batch_col).alias("_b"),
                   F.explode(word_shingles(F.col(text_col), n))
                   .alias("_g"))
         .distinct())
    first = g.groupBy("_g").agg(F.min("_b").alias("_fb"))
    out = (g.join(first, on="_g")
           .groupBy("_b")
           .agg(F.count(F.lit(1)).cast("long").alias("n_grams"),
                F.sum(F.when(F.col("_fb") == F.col("_b"), F.lit(1))
                      .otherwise(F.lit(0))).cast("long").alias("n_new")))
    nov = F.col("n_new").cast("double") / F.col("n_grams").cast("double")
    return (out.withColumn(
        "novelty", F.floor(nov * 1e6 + F.lit(0.5)) / F.lit(1e6))
        .withColumnRenamed("_b", batch_col))
