"""Structured Streaming face of the pipeline engine.

The reference is stream-native: inputs tail files / consume Kafka
(/root/reference/lumbermill/input/File.py:67-147, input/Kafka.py:39-85),
interval timers flush aggregates
(modifier/Facet.py:154-160, misc/Metrics.py:169-171), and shutdown
drains queues for a final flush (LumberMill.py:505-531).

Spark mapping (SURVEY.md §3.3):
- tail/consume      → ``readStream`` (file source here; kafka source is
  the same plan with ``format('kafka')``)
- interval flush    → watermarked windowed aggregates (late data handled
  — the reference silently loses stragglers, we bound them explicitly)
- flush-on-stop     → every driver here (run_to_parquet, run_routed,
  run_merged, run_throttled_batches) processes what is available and
  stops (``trigger(availableNow=True)``), committing the final
  micro-batch, then returns the finished query
- EventBuffer WAL   → the sink's checkpointLocation (offsets + state)

Every BATCH transform in this package (parse/modify/enrich/route_tag)
is a DataFrame→DataFrame function, so it composes onto a streaming
DataFrame unchanged — including the mapInArrow token decode — and onto
a caller's own ``writeStream`` with any trigger. The only
streaming-specific operators are the stateful ones below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TOKEN_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"


def stream_source(
    spark: SparkSession,
    path: str,
    schema: str = TOKEN_SCHEMA,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-stream source over a (growing) token-table directory — the
    input.File 'tail' mode analog; new files are discovered per
    micro-batch, position tracking comes from the stream checkpoint
    (sincedb analog, input/File.py:121-135)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def windowed_counts(
    df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
    keys: list[str] | None = None,
    token_col: str | None = "n_tok",
) -> DataFrame:
    """SimpleStats/Metrics interval emission as a watermarked windowed
    aggregate: one row per (window, keys) per trigger, counts +
    sum(tokens)."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    if token_col and token_col in df.columns:
        aggs.append(F.sum(token_col).cast("long").alias("sum_tok"))
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window), *(keys or []))
        .agg(*aggs)
    )


def facet_stream(
    df: DataFrame,
    source_field: str,
    group_by: str,
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """modifier.Facet's interval flush (Facet.py:154-160): per window +
    group key, the sorted distinct values of source_field."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window), group_by)
        .agg(F.sort_array(F.collect_set(source_field)).alias("facets"))
        # COUNT(DISTINCT) is unsupported on streams; the set is already
        # collected, so the count is its size
        .withColumn("facet_count", F.size("facets").cast("long"))
    )


def merge_sessions_stream(
    df: DataFrame,
    key: str,
    ts_col: str = "ts",
    match_field: str = "data",
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
    glue: str = "",
) -> DataFrame:
    """modifier.MergeEvent on a stream via the built-in session_window:
    events for a key belong to one session until ``gap`` of silence,
    then the merged event (concatenated ``match_field``, event count,
    session bounds) is emitted once the watermark passes.

    Divergence from the batch merge_event, documented: the reference's
    start/end PATTERN semantics need per-key ordered state, which
    applyInPandasWithState (see throttle_stream) could keep, but
    gap-based sessionization is the built-in-operator
    expression of the same reassembly, and is what the reference's
    flush-on-timeout path (MergeEvent.py buffer timeout) degenerates to
    anyway when no end pattern arrives.
    """
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("session"),
                 F.col(key))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct(F.col(ts_col).alias("_t"),
                                 F.col(match_field).alias("v")))),
                    lambda s: s["v"],
                ),
                glue,
            ).alias(match_field),
            F.count(F.lit(1)).alias("n_merged"),
        )
        .select(F.col("session.start").alias("session_start"),
                F.col("session.end").alias("session_end"),
                key, match_field, "n_merged")
    )


def throttle_stream(
    df: DataFrame,
    key: str,
    max_count: int,
) -> DataFrame:
    """misc.Throttle as custom streaming state (Throttle.py:60-110):
    pass at most ``max_count`` events per key across the stream's
    lifetime (the reference GCs stale keys on a timer,
    Throttle.py:100-104; keys never expire here, and a GroupStateTimeout
    on the same API is where that would go).

    Implemented with applyInPandasWithState: a running count per key,
    kept in the stream's state store.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def throttle(key, pdfs, state):
        seen = state.get[0] if state.exists else 0
        for pdf in pdfs:
            out = pdf.iloc[:max(0, max_count - seen)]
            seen += len(out)
            if len(out):
                yield out
        state.update((seen,))

    return df.groupBy(key).applyInPandasWithState(
        throttle, df.schema, "seen long", "Append",
        GroupStateTimeout.NoTimeout)


def dedup_stream(
    df: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str | None = None,
    normalize: bool = True,
) -> DataFrame:
    """Streaming exact dedup — the streaming analog of
    ``training.dedup.exact_dedup``: drop rows whose (normalized)
    content hash was already seen, via Spark's built-in stateful
    ``dropDuplicates`` machinery (state store keyed on the hash, one
    slim 64-hex entry per distinct content, map-side pre-filtered).

    With ``ts_col`` + ``watermark``, uses
    ``dropDuplicatesWithinWatermark`` so per-key state EXPIRES once the
    watermark passes — the only state-bounded form at 10^12-sequence
    scale (unbounded dropDuplicates state grows with distinct contents
    forever). Without a watermark, state is unbounded: fine for
    bounded replays/tests, documented footgun otherwise.

    Semantics difference from the batch op (documented): batch
    exact_dedup keeps the LOWEST id per content; a stream keeps the
    FIRST ARRIVAL (arrival order is the stream's identity — there is
    no "lowest future id" in an infinite stream). Null text hashes to
    null and ``dropDuplicates`` treats nulls as equal — i.e. streaming
    follows the batch op's ``keep_nulls=False`` policy; pre-filter
    nulls upstream if they must pass through.
    """
    from lumbermill_spark.training.dedup import content_hash

    hashed = df.withColumn("_content_hash",
                           content_hash(F.col(text_col), normalize))
    if ts_col and watermark:
        out = (hashed.withWatermark(ts_col, watermark)
               .dropDuplicatesWithinWatermark(["_content_hash"]))
    else:
        out = hashed.dropDuplicates(["_content_hash"])
    return out.drop("_content_hash")


def _drain(writer, checkpoint: str):
    """Run ``writer`` on stream checkpoint ``checkpoint`` until it has
    processed everything available, then return the finished query (a
    failed micro-batch raises here)."""
    q = (writer.option("checkpointLocation", checkpoint)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return q


def _route_batches(df: DataFrame, sinks, base: str, checkpoint: str,
                   prepare=None):
    """foreachBatch through the batch router: each micro-batch (after
    ``prepare``, if given) goes to ``route_and_write`` with a run_id
    derived from its batch id under the checkpoint's namespace, with
    resume on. Exactly-once without transactions: the stream checkpoint
    dedups source replays, and a replayed foreachBatch (possible after a
    crash between the sink commits and the stream commit) is skipped by
    the router's committed-sinks check instead of writing twice."""
    from lumbermill_spark.router import route_and_write

    ns = _checkpoint_namespace(df.sparkSession, checkpoint)

    def write_batch(batch_df: DataFrame, batch_id: int):
        route_and_write(prepare(batch_df) if prepare else batch_df, sinks,
                        base, run_id=f"{ns}-b{batch_id:012d}", resume=True)

    return _drain(df.writeStream.foreachBatch(write_batch), checkpoint)


def run_throttled_batches(
    df: DataFrame,
    key: str,
    base: str,
    checkpoint: str,
    min_count: int = 1,
    max_count: int | None = None,
):
    """Throttle with per-micro-batch timeframes: each micro-batch is one
    throttle window, reusing the batch operator. Passed rows append to
    ``base`` through the batch router with run_routed's exactly-once and
    restart semantics.

    Unlike throttle_stream, whose count per key spans the whole stream
    and which takes only a max_count, the window here is one
    micro-batch, so min_count applies and no state store is kept.
    """
    from lumbermill_spark.operators.stats import throttle
    from lumbermill_spark.router import SinkSpec

    return _route_batches(
        df, [SinkSpec("throttled", path=base, mode="append")], base,
        checkpoint, prepare=lambda b: throttle(
            b, key, min_count=min_count, max_count=max_count))


def run_to_parquet(df: DataFrame, path: str, checkpoint: str):
    """Drain-everything-then-stop into the parquet file sink at ``path``
    (flush-on-stop analog; the file sink only appends). Returns the
    finished StreamingQuery."""
    return _drain(df.writeStream.format("parquet").option("path", path),
                  checkpoint)


def _checkpoint_namespace(spark, checkpoint: str) -> str:
    """Stable namespace for one LIFETIME of a stream checkpoint: a
    marker file inside the checkpoint dir, created on first use and
    read back on every restart. A deleted/rebuilt checkpoint (the
    standard 'reprocess from scratch' ops move) gets a NEW namespace,
    so its batch ids restarting at 0 cannot collide with sink commit
    rows from the previous checkpoint's life — without it, a rebuilt
    stream's batches 0..N would all be resume-SKIPPED as already
    committed and the reprocess would silently write nothing. The marker
    is written crash-safely (``write_atomic``), so a crash mid-write
    cannot leave a truncated id that reads back as another namespace;
    an empty marker gets a new namespace."""
    import uuid as _uuid

    from lumbermill_spark.functions.fsutil import read_marker, write_atomic

    marker = f"{checkpoint.rstrip('/')}/__lms_ns"
    ns = read_marker(spark, marker)
    if ns:
        return ns
    ns = _uuid.uuid4().hex[:12]
    write_atomic(spark, marker, ns.encode("utf-8"))
    return ns


def run_routed(df: DataFrame, sinks, base: str, checkpoint: str):
    """Streaming fan-out: drains the stream, handing each micro-batch to
    the batch router (per-sink filters + writes + per-sink metrics +
    commit rows) under a batch_id-derived run_id, and returns the
    finished query. A replayed micro-batch is skipped, not written
    twice (see _route_batches). Deleting the checkpoint to reprocess
    starts a fresh namespaced run_id series (see _checkpoint_namespace)
    instead of being skipped by the previous life's commits. The one
    gap: a crash between an append sink's write and its commit row
    re-appends that sink's batch on replay.

    Sinks must be mode='append' or 'merge': an overwrite sink would
    replace the previous micro-batch's output on every trigger.
    """
    overwrite = [s.name for s in sinks if s.mode == "overwrite"]
    if overwrite:
        raise ValueError(
            f"streaming sinks {overwrite} have mode='overwrite': each "
            "micro-batch would replace the last; use 'append' or 'merge'")
    return _route_batches(df, sinks, base, checkpoint)


def run_merged(df: DataFrame, sink, base: str, checkpoint: str):
    """Streaming SCD-1 ingestion into a merge-mode sink: each
    micro-batch merges into the sink's latest committed snapshot
    (router merge mode — the streaming form of the ES 'update' bulk
    action), with run_routed's exactly-once and restart semantics."""
    if sink.mode != "merge":
        raise ValueError("run_merged requires a mode='merge' SinkSpec")
    return run_routed(df, [sink], base, checkpoint)
