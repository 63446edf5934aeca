"""Checkpoint / lineage table + resume.

Spark-native analog of misc.EventBuffer
(/root/reference/lumbermill/misc/EventBuffer.py:44-143), which WALs every
live event to redis and re-injects unfinished ones on restart. Spark's
deterministic lineage makes a per-event WAL unnecessary; what a killed
job needs is *per-sink commit records* so a restart skips completed work
(north_rule: "resume from the last committed snapshot without
reprocessing, per-partition lineage + row/token metrics").

Protocol (works on plain parquet; with Iceberg the commit marker becomes
the table snapshot itself):

1. sink writes go to ``{base}/{sink}`` with mode=overwrite — idempotent,
   so a crash mid-write is healed by rewriting;
2. AFTER a sink write completes, one commit row is added to
   ``{base}/_checkpoint`` recording (run_id, stage, sink, rows, tokens,
   n_partitions, committed_at) plus a per-partition lineage array
   (partition_id, rows, tokens). The write's own ``observe`` carries
   that lineage (``observe_commit`` / ``observed_lineage``, bounded by
   ``partition_bound``), so no Spark job runs after the write; the
   aggregation job ``partition_lineage`` runs only as the fallback when
   no usable bound is known. The row is its own one-row parquet file
   ``part-<uuid>.parquet``, built in the calling process and written
   with ``fsutil.write_atomic`` (hidden temp name, close, rename): no
   Spark job runs, and a crash mid-commit leaves only a hidden temp file
   that readers skip, so the sink reads as not committed;
3. on restart with the same run_id, sinks that have a commit row are
   skipped entirely (their data is already consistent: the marker is
   written only after the data).

``_commit_table`` is the one reader: ``read_checkpoints`` (and
``sink_stats`` over it) returns its frame, ``commit_rows`` (behind
``committed_sinks`` and the router's merge snapshot lookup) collects a
filter of it. It lists ``_checkpoint`` on the driver and reads exactly
the visible ``*.parquet`` files, so Spark-written rows (``part-*-c000``
files plus ``_SUCCESS``) read together with the single-file rows. It
fails closed: only an absent table, or one with no visible parquet
file, reads as "nothing committed" (``commit_rows`` then builds no frame
at all); anything else that cannot be read raises, so a damaged table
never makes a resume redo work or a merge drop history.
Like the reference, the protocol tolerates duplicates on re-run because
doc_ids are stable (EventBuffer.py:29-31 makes the same argument) and
sink writes are idempotent overwrites.
"""

from __future__ import annotations

import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from lumbermill_spark.functions.fsutil import list_visible, write_atomic

CHECKPOINT_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType()),
    T.StructField("stage", T.StringType()),
    T.StructField("sink", T.StringType()),
    T.StructField("rows", T.LongType()),
    T.StructField("tokens", T.LongType()),
    T.StructField("n_partitions", T.IntegerType()),
    T.StructField("committed_at", T.DoubleType()),
    T.StructField("lineage", T.ArrayType(T.StructType([
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("rows", T.LongType()),
        T.StructField("tokens", T.LongType()),
    ]))),
])
_ARROW_SCHEMA = to_arrow_schema(CHECKPOINT_SCHEMA)


def _ckpt_path(base: str) -> str:
    return f"{base.rstrip('/')}/_checkpoint"


def partition_bound(df: DataFrame) -> int | None:
    """An upper bound on the partition ids of ``df``, read from its
    physical plan without running a job; None when the plan does not
    tell. A persisted frame is read from the plan its persist built, so
    it is not planned again; any other frame is planned here.

    An adaptive plan answers from its initial plan: AQE only lowers a
    shuffle's partition count by coalescing, except a skew split, which
    ``observed_lineage`` detects. A node that declares no partitioning
    (a Python map, a codegen wrapper) has its single child's count. A
    file, local-rows or RDD scan declares none either, but its splits
    are fixed when it is planned: its input RDD's partition count, read
    without a job, is the bound (a one-sink write straight over a
    source; a stream micro-batch in ``foreachBatch`` is an RDD scan)."""
    jdf = df._jdf
    cached = (df.sparkSession._jsparkSession.sharedState().cacheManager()
              .lookupCachedData(jdf))
    plan = (cached.get().cachedRepresentation().cacheBuilder().cachedPlan()
            if cached.isDefined() else jdf.queryExecution().executedPlan())
    while True:
        kind = plan.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            plan = plan.initialPlan()
        elif kind == "InMemoryTableScanExec":
            plan = plan.relation().cacheBuilder().cachedPlan()
        else:
            n = plan.outputPartitioning().numPartitions()
            if n > 0:
                return n
            children = plan.children()
            if children.size() == 0 and kind in _SPLIT_SCANS:
                rdd = plan.rdd() if kind == "RDDScanExec" else plan.inputRDD()
                return rdd.getNumPartitions()
            if children.size() != 1:
                return None
            plan = children.apply(0)


_SPLIT_SCANS = ("FileSourceScanExec", "LocalTableScanExec", "RDDScanExec")


# The write's observe updates two conditional aggregates per partition id
# below the bound on every row, ~10 ns of wall time per row and id at
# local[4] (noop writes of 600k rows: 0.24 s at bound 8, 0.95 s at 128).
# Measured against the write plus one aggregation job per sink (the
# partition_lineage fallback), three sinks over a persisted parent, 4
# cores, medians of 6 alternating runs, observe minus job: 300k rows in
# exactly P partitions -0.15 s at P=8, +0.01 at 16, +0.25 at 32, +1.35 at
# 64, +6.5 at 128; the 5,000-row yaml_routed run -0.11, +0.02, -0.04,
# +0.00, +0.18. Both break even at 16: above it the job is the cheaper
# lineage once the data is large.
MAX_OBSERVED_PARTITIONS = 16


# the partition id, projected once per row under the write's observe
_PID = "__lms_partition_id"


def observe_commit(df: DataFrame, obs: Observation, token_col: str | None,
                   bound: int | None) -> DataFrame:
    """``df`` with the commit row's metrics attached as ``obs``, computed
    on the pass that writes the sink: ``rows``, ``tokens`` (sum of
    ``token_col``; left out when it is None) and, when ``bound`` is
    given, the exact lineage of partitions 0..bound-1 (one array of
    per-id row counts, one of token sums) plus the largest partition id
    seen, which ``observed_lineage`` reads back. The partition id is a
    hidden column projected below the observe and dropped above it, so
    the written columns are ``df``'s; reading it as a column keeps the
    arrays deterministic, which an observed expression over aggregates
    must be. Each metric is one SQL expression, one JVM call whatever
    the bound (a PySpark Column call costs ~1-3 ms of driver time)."""
    tok = "`" + token_col.replace("`", "``") + "`" if token_col else None
    exprs = ["count(1) AS rows"]
    if tok:
        exprs.append(f"CAST(sum({tok}) AS BIGINT) AS tokens")
    if bound is None:
        return df.observe(obs, *[F.expr(e) for e in exprs])
    ids = range(bound)
    exprs.append(f"max({_PID}) AS lineage_pid_max")
    exprs.append("array(" + ", ".join(
        f"count_if({_PID} = {i})" for i in ids) + ") AS lineage_rows")
    if tok:
        exprs.append("array(" + ", ".join(
            f"sum(CASE WHEN {_PID} = {i} THEN {tok} END)" for i in ids)
            + ") AS lineage_tokens")
    return (df.withColumn(_PID, F.spark_partition_id())
            .observe(obs, *[F.expr(e) for e in exprs]).drop(_PID))


def observed_lineage(got: dict, bound: int) -> list[dict] | None:
    """The lineage in an observed row of ``observe_commit(..., bound)``:
    what ``partition_lineage`` returns for the same branch (partitions
    with rows, by id; tokens cast to long, None without a token column).
    None when a partition id reached the bound: rows outside the
    observed ids exist, and only the aggregation job can count them."""
    top = got.get("lineage_pid_max")
    if top is None:  # no rows
        return []
    if top >= bound:
        return None
    tokens = got.get("lineage_tokens") or [None] * bound
    return [{"partition_id": i, "rows": rows,
             "tokens": None if tok is None else int(tok)}
            for i, (rows, tok) in enumerate(zip(got["lineage_rows"], tokens))
            if rows]


def partition_lineage(df: DataFrame, token_col: str | None = "n_tok") -> list[dict]:
    """Per-partition (rows, tokens) — the lineage payload — from one
    aggregation job over ``df``: the fallback when the write's observe
    could not carry it (see ``observed_lineage``)."""
    tok = (F.sum(token_col).cast("long") if token_col and token_col in df.columns
           else F.lit(None).cast("long"))
    rows = (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count("*").alias("rows"), tok.alias("tokens"))
        .collect()
    )
    # at most one row per partition: sorted here, not by a range-sort job
    return sorted((r.asDict() for r in rows), key=lambda d: d["partition_id"])


def commit(spark: SparkSession, base: str, run_id: str, stage: str, sink: str,
           rows: int, tokens: int | None, lineage: list[dict] | None) -> None:
    """Add one commit row to the checkpoint table as its own one-row
    parquet file, built in this process and written crash-safely (no
    Spark job)."""
    rec = {
        "run_id": [run_id], "stage": [stage], "sink": [sink],
        "rows": [int(rows)],
        "tokens": [int(tokens) if tokens is not None else None],
        "n_partitions": [len(lineage) if lineage else None],
        "committed_at": [time.time()],
        "lineage": [lineage or None],
    }
    buf = pa.BufferOutputStream()
    pq.write_table(pa.Table.from_pydict(rec, schema=_ARROW_SCHEMA), buf)
    write_atomic(spark, f"{_ckpt_path(base)}/part-{uuid.uuid4().hex}.parquet",
                 buf.getvalue().to_pybytes())


def _commit_table(spark: SparkSession, base: str) -> DataFrame | None:
    """A frame over exactly the visible commit files under ``base``;
    None for an absent table or one with no visible parquet file. Any
    other read error propagates."""
    files = list_visible(spark, _ckpt_path(base), ".parquet")
    return spark.read.schema(CHECKPOINT_SCHEMA).parquet(*files) if files else None


def read_checkpoints(spark: SparkSession, base: str) -> DataFrame:
    """Every commit row under ``base``, typed CHECKPOINT_SCHEMA. An
    absent table, or one with no visible parquet file, is an empty frame
    and runs no job; any other read error propagates."""
    table = _commit_table(spark, base)
    if table is not None:
        return table
    # typed nulls over an empty range: Catalyst plans no scan, so
    # collecting it runs no job (createDataFrame([]) runs one)
    return spark.range(0).selectExpr(*(
        f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`"
        for f in CHECKPOINT_SCHEMA))


def commit_rows(spark: SparkSession, base: str, key: str, value: str,
                *cols: str) -> list[Row]:
    """``cols`` of the commit rows whose ``key`` column equals ``value``,
    collected. An absent or empty table returns [] without building a
    frame; any other read error propagates."""
    table = _commit_table(spark, base)
    if table is None:
        return []
    return table.filter(F.col(key) == value).select(*cols).collect()


def committed_sinks(spark: SparkSession, base: str, run_id: str) -> set[str]:
    return {r["sink"] for r in commit_rows(spark, base, "run_id", run_id, "sink")}
