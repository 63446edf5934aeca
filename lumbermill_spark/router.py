"""Filter-based fan-out routing to per-sink writes with per-sink metrics.

Reference semantics: output filters decide which receivers get an event
(/root/reference/lumbermill/BaseModule.py:184-203); sinks batch-write
(output/ElasticSearch.py:153-215, output/File.py:113-142); SimpleStats
counts events per event_type per interval (misc/SimpleStats.py:213-220).

Spark design decisions (SURVEY.md §4):

- one writer, ``route_and_write``, serves batch runs, the compiled
  pipeline and every streaming micro-batch;
- the routed parent is persisted ONCE whenever more than one sink
  writes, so the sinks don't recompute the parse stage per sink (the
  reference equivalent: events are routed, not cloned, unless two
  receivers both match — BaseModule.py:244-253 clones; we never need to);
- those sinks write concurrently over the one persisted parent, one
  thread per sink, as each reference output module is its own thread
  (LumberMill.py:426-466); the threads carry the caller's Spark local
  properties, and a single sink left to write runs on the calling
  thread;
- per-sink counts and sum(n_tok) are collected with ``df.observe`` on
  the SAME pass that writes the sink — zero extra scans for metrics;
- per-partition lineage rides in that same observe: one conditional
  count and token sum per partition id below a bound read from the
  physical plan (``checkpoint.partition_bound``); an aggregation job
  (``checkpoint.partition_lineage``) runs only as the fallback, when
  no bound is known, it is too large, or a partition id reached it;
- a checkpoint commit row per sink makes a killed run resumable (see
  checkpoint.py); it is one small crash-safe file written by the
  calling process, so no Spark job runs after a sink's write. Sink
  names are unique: a name keys the default path, the metrics and the
  commit rows;
- every checkpoint read here (resume, merge snapshot lookup,
  ``sink_stats``) goes through checkpoint.py's one reader, which fails
  closed: only an absent or empty table means "nothing committed" (and
  then resume and the merge lookup build no frame), and its few rows
  are collected without a shuffle or sort;
- dynamic sink paths ("index-%Y.%m.%d-$(event_type)" in the reference,
  output/ElasticSearch.py:172) become partition columns — the scalable
  equivalent of per-value file paths.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field as dfield

from pyspark import InheritableThread, StorageLevel
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from lumbermill_spark import checkpoint as ckpt
from lumbermill_spark.functions.filters import filter_to_column
from lumbermill_spark.functions.fsutil import fs_exists


SINK_MODES = ("overwrite", "append", "merge")


@dataclass
class SinkSpec:
    """One output branch. filter=None routes everything (default
    receiver chaining, LumberMill.py:229-262).

    Validated at construction, so a bad sink fails before any sink of
    the run writes: ``mode`` is one of SINK_MODES, and mode='merge'
    needs merge_key + merge_version and a persistent format. Its fields
    are also the options of every output.* module."""

    name: str
    filter: str | Column | None = None
    path: str | None = None              # None -> {base}/{name}
    # format="noop" is output.DevNull: run the plan, keep nothing
    format: str = "parquet"
    partition_by: list[str] = dfield(default_factory=list)
    columns: list[str] | None = None     # projection before write
    # one of SINK_MODES. mode="merge" is the
    # output.ElasticSearch 'update' bulk action analog
    # (ElasticSearch.py:166-194): the batch SCD-1-merges into the
    # sink's latest committed snapshot on merge_key (highest
    # merge_version wins, batch wins ties) and the result commits as a
    # NEW snapshot dir — never an in-place rewrite of the snapshot
    # being read. Requires merge_key + merge_version.
    mode: str = "overwrite"
    merge_key: str | list[str] | None = None
    merge_version: str | None = None
    compression: str | None = None       # e.g. 'snappy'|'gzip' (output.File)
    # output.File 'format' option (File.py:113-142): a $(field) template
    # rendering each event to one text line; implies a single-column
    # text write. '%Y...' strftime parts expand at plan build like the
    # reference's dynamic sink paths (DynamicValues.py:155-166).
    line_format: str | None = None

    def __post_init__(self):
        if self.mode not in SINK_MODES:
            raise ValueError(
                f"sink {self.name!r}: mode must be one of "
                + ", ".join(repr(m) for m in SINK_MODES)
                + f", not {self.mode!r}")
        if self.mode != "merge":
            return
        missing = [k for k in ("merge_key", "merge_version")
                   if not getattr(self, k)]
        if missing:
            raise ValueError(
                f"sink {self.name!r}: option(s) "
                + ", ".join(repr(k) for k in missing)
                + " required when 'mode' is 'merge' (a merge needs "
                "merge_key and merge_version)")
        if self.format == "noop":
            raise ValueError(
                f"sink {self.name!r}: mode='merge' needs a persistent "
                "snapshot (format='noop' writes nothing for the next "
                "increment to merge onto)")

    def predicate(self) -> Column | None:
        if self.filter is None:
            return None
        if isinstance(self.filter, Column):
            return self.filter
        return filter_to_column(self.filter)


def route(df: DataFrame, sinks: list[SinkSpec]) -> dict[str, DataFrame]:
    """Pure routing: sink name -> filtered branch (no writes)."""
    return {
        s.name: (df if s.predicate() is None else df.filter(s.predicate()))
        for s in sinks
    }


def route_tag(df: DataFrame, sinks: list[SinkSpec]) -> DataFrame:
    """Single-pass routing for DISJOINT sinks: adds a ``sink`` column
    (first matching sink wins — the reference's ordered receiver-filter
    check, BaseModule.py:184-203). One scan tags every row; downstream
    groupBy(sink)/partitionBy(sink) replaces N filtered branches — at
    scale this is the difference between 1 and N passes over the data.
    Rows matching no sink are dropped.

    PREFER an exhaustive sink list (a final catch-all spec with
    predicate None — the reference's default receiver chaining) over
    relying on the null-drop: when the chain is exhaustive no drop
    filter is emitted at all. The drop filter references the tag CASE,
    and Catalyst pushes such deterministic predicates below upstream
    projections/aggregates by substitution, re-evaluating every sink
    predicate per ROW instead of per pre-aggregated group.

    Single-pass routed WRITE: ``route_and_write(route_tag(df, sinks),
    [SinkSpec("routed", partition_by=["sink"])], base)`` scans and
    writes the data once whatever the sink count; each sink's rows land
    under ``{base}/routed/sink=<name>``."""
    chain = None
    exhaustive = False
    for s in sinks:
        pred = s.predicate()
        if pred is None:
            exhaustive = True  # catch-all: every row gets a sink
            pred = F.lit(True)
        chain = (F.when(pred, F.lit(s.name)) if chain is None
                 else chain.when(pred, F.lit(s.name)))
    tag = chain.otherwise(F.lit(None)) if chain is not None else F.lit(None)
    out = df.withColumn("sink", tag)
    if not exhaustive:
        return out.filter(F.col("sink").isNotNull())
    return out


def merge_snapshot_path(spark: SparkSession, base: str, sink: str,
                        sink_path: str | None = None) -> str | None:
    """Latest COMMITTED merge snapshot dir for ``sink`` (None before the
    first commit). Reads the checkpoint table newest-first and returns
    the first run whose snapshot dir actually exists — a crash between
    data write and commit row leaves the previous snapshot current
    (atomic-by-marker, the plain-parquet emulation of an Iceberg
    snapshot pointer; with the Iceberg runtime the table's own current
    snapshot plays this role and the merge becomes MERGE INTO)."""
    root = sink_path or f"{base.rstrip('/')}/{sink}"
    rows = ckpt.commit_rows(spark, base, "sink", sink, "run_id", "committed_at")
    for r in sorted(rows, key=lambda r: r["committed_at"], reverse=True):
        p = f"{root}/snap={r['run_id']}"
        if fs_exists(spark, p):
            return p
    return None


def read_merged(spark: SparkSession, base: str, sink: str,
                fmt: str = "parquet") -> DataFrame:
    """Read a merge-mode sink's current committed snapshot."""
    p = merge_snapshot_path(spark, base, sink)
    if p is None:
        raise FileNotFoundError(
            f"no committed merge snapshot for sink {sink!r} under {base}")
    return spark.read.format(fmt).load(p)


def route_and_write(
    df: DataFrame,
    sinks: list[SinkSpec],
    base: str,
    run_id: str | None = None,
    token_col: str | None = "n_tok",
    resume: bool = False,
) -> dict:
    """Write every sink branch, collect per-sink metrics in-pass, commit
    checkpoint rows. Returns {sink: {rows, tokens, skipped, path, secs}}
    in declared order. Sink names must be unique (ValueError before
    anything is written).

    resume=True skips sinks already committed for this run_id.
    Whenever more than one sink is left to write, the parent is
    persisted once (DISK_ONLY) so the sink writes do not recompute the
    upstream plan (each sink's lineage comes from its write's own
    observe; see _write_sink): at corpus scale a
    MEMORY_AND_DISK cache of the full routed parent is a spill storm
    (executors evict under memory pressure mid-write), while DISK_ONLY
    is a predictable sequential spill. Those sinks then write
    concurrently, one thread each (the output-module threads of
    LumberMill.py:426-466), so a slow sink does not hold up the others;
    each thread carries the caller's Spark local properties (job group,
    scheduler pool, description). A single sink left to write runs on
    the calling thread.

    Failure rule: every started sink runs to its end; then the error of
    the first failed sink in declared order is raised, with a note naming
    each other failed sink and its error. Each sink commits right after
    its own write, so the sinks that succeeded are committed and a
    resume with the same run_id rewrites exactly the sinks that have no
    commit row.

    For disjoint sinks, the single-pass form is route_tag plus one
    partition_by=["sink"] spec (see route_tag).
    """
    names = [s.name for s in sinks]
    dup = sorted({n for n in names if names.count(n) > 1})
    if dup:
        # the name keys the default path, the metrics and the commit rows
        raise ValueError(f"duplicate sink name(s) {dup}: each sink needs "
                         "its own name")
    spark = df.sparkSession
    if run_id is None:
        run_id = uuid.uuid4().hex[:12]
    done = ckpt.committed_sinks(spark, base, run_id) if resume else set()
    paths = {s.name: s.path or f"{base.rstrip('/')}/{s.name}" for s in sinks}
    todo = [s for s in sinks if s.name not in done]

    shared = len(todo) > 1
    bound = None
    if shared:
        df = df.persist(StorageLevel.DISK_ONLY)
        # read once, from the plan persist built: every sink branch is a
        # narrow filter/projection of the cached relation, so it keeps
        # the parent's partition ids
        bound = ckpt.partition_bound(df)

    def write(spec: SinkSpec) -> dict:
        return _write_sink(df, spec, paths[spec.name], base, run_id,
                           token_col, bound)

    try:
        written = (_on_own_threads(spark, write, todo) if shared
                   else {s.name: write(s) for s in todo})
    finally:
        if shared:
            df.unpersist()
    return {s.name: written.get(s.name, {"skipped": True,
                                         "path": paths[s.name]})
            for s in sinks}


def _on_own_threads(spark: SparkSession, write, specs: list[SinkSpec]
                    ) -> dict[str, dict]:
    """{name: write(spec)}, each spec on its own thread that carries the
    caller's Spark local properties and session tags. Waits for every
    thread, then raises the error of the first failed spec in order,
    noting the others'."""
    out: dict[str, dict] = {}
    errors: dict[str, BaseException] = {}

    def run(spec: SinkSpec) -> None:
        try:
            out[spec.name] = write(spec)
        except BaseException as e:  # raised below, in declared order
            errors[spec.name] = e

    threads = [InheritableThread(run, args=(s,), session=spark)
               for s in specs]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    failed = [s.name for s in specs if s.name in errors]
    if failed:
        first = errors[failed[0]]
        for name in failed[1:]:
            first.add_note(f"sink {name!r} also failed: {errors[name]!r}")
        raise first
    return out


def _write_sink(df: DataFrame, spec: SinkSpec, path: str, base: str,
                run_id: str, token_col: str | None,
                bound: int | None = None) -> dict:
    """One sink of route_and_write: filter, write with in-pass metrics
    and lineage, commit row. ``bound`` is the persisted parent's
    partition bound, which a narrow branch of it shares; without it (or
    for a merge, whose upsert re-partitions) the branch's own plan gives
    the bound. The lineage comes from the write's observe unless the
    bound is unknown, above ckpt.MAX_OBSERVED_PARTITIONS, or reached by a
    partition id; then partition_lineage runs one aggregation job (over
    a merge's persisted merged frame when that is known before the
    write)."""
    spark = df.sparkSession
    branch = df if spec.predicate() is None else df.filter(spec.predicate())
    if spec.columns:
        keep = [c for c in spec.columns if c in branch.columns]
        branch = branch.select(*keep)
    if spec.line_format:
        from lumbermill_spark.functions.dynamic import dynamic_value_col

        keep_parts = spec.partition_by or []
        branch = branch.select(
            dynamic_value_col(spec.line_format, branch.columns)
            .alias("value"),
            *[F.col(c) for c in keep_parts],
        )

    if spec.mode == "merge":
        # SCD-1 merge into the sink's latest committed snapshot
        # (ES 'update' action analog). The merged result is written
        # to a NEW snapshot dir keyed by run_id — rewriting the dir
        # being read is never safe, and the commit row below is
        # what makes the new snapshot current. Idempotent on retry
        # (same run_id -> same dir, mode=overwrite); resume skips
        # via the committed-sinks check in route_and_write. With a
        # bound the write is the merged frame's only reader: its
        # lineage is observed write-side (a read-back of the snapshot
        # would report reader-conf-dependent split counts instead of
        # the written layout).
        from lumbermill_spark.operators.stateful import upsert_latest

        prev = merge_snapshot_path(spark, base, spec.name, spec.path)
        existing = (spark.read.format(spec.format).load(prev)
                    if prev is not None
                    else spark.createDataFrame([], branch.schema))
        branch = upsert_latest(existing, branch,
                               spec.merge_key, spec.merge_version)
        path = f"{path}/snap={run_id}"
        bound = None
    if bound is None:
        bound = ckpt.partition_bound(branch)
    if bound is not None and bound > ckpt.MAX_OBSERVED_PARTITIONS:
        bound = None
    merge_persisted = None
    if spec.mode == "merge" and bound is None:
        # the fallback lineage job reads the merged frame too: the
        # prev-snapshot read and the upsert shuffle must not run twice
        branch = merge_persisted = branch.persist(StorageLevel.DISK_ONLY)

    tok_col = token_col if token_col and token_col in branch.columns else None
    obs = Observation(f"{run_id}-{spec.name}")
    observed = ckpt.observe_commit(branch, obs, tok_col, bound)

    t0 = time.time()
    if spec.format == "noop":
        # DevNull (output/DevNull.py:19-20): run the plan, keep nothing
        observed.write.format("noop").mode("overwrite").save()
    else:
        write_mode = "overwrite" if spec.mode == "merge" else spec.mode
        writer = observed.write.mode(write_mode)
        if spec.compression:
            writer = writer.option("compression", spec.compression)
        if spec.partition_by:
            writer = writer.partitionBy(*spec.partition_by)
        writer.format(spec.format).save(path)
    secs = time.time() - t0

    got = obs.get
    rows = int(got.get("rows", 0))
    tokens = int(got["tokens"]) if got.get("tokens") is not None else None
    lineage = ckpt.observed_lineage(got, bound) if bound is not None else None
    if lineage is None:
        lineage = ckpt.partition_lineage(branch, token_col) if rows > 0 else []
    if merge_persisted is not None:
        merge_persisted.unpersist()
    ckpt.commit(spark, base, run_id, "route", spec.name, rows, tokens,
                lineage)
    return {
        "skipped": False, "path": path, "rows": rows,
        "tokens": tokens, "secs": round(secs, 3),
        "n_partitions": len(lineage),
    }


def sink_stats(spark: SparkSession, base: str, run_id: str | None = None) -> DataFrame:
    """Per-sink aggregate counts from the checkpoint table (the
    SimpleStats/Metrics 'statistic event' analog, misc/SimpleStats.py:84-175)."""
    df = ckpt.read_checkpoints(spark, base)
    if run_id:
        df = df.filter(F.col("run_id") == run_id)
    return df.select("run_id", "stage", "sink", "rows", "tokens",
                     "n_partitions", "committed_at")
