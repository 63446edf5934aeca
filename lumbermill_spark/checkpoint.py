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
   (partition_id, rows, tokens). The row is its own one-row parquet file
   ``part-<uuid>.parquet``, built in the calling process and written
   with ``fsutil.write_atomic`` (hidden temp name, close, rename): no
   Spark job runs, and a crash mid-commit leaves only a hidden temp file
   that readers skip, so the sink reads as not committed;
3. on restart with the same run_id, sinks that have a commit row are
   skipped entirely (their data is already consistent: the marker is
   written only after the data).

``read_checkpoints`` is the one reader; ``committed_sinks``, the
router's merge snapshot lookup and ``sink_stats`` filter its frame. It
lists ``_checkpoint`` on the driver and reads exactly the visible
``*.parquet`` files, so Spark-written rows (``part-*-c000`` files plus
``_SUCCESS``) read together with the single-file rows. It fails closed:
only an absent table, or one with no visible parquet file, reads as
"nothing committed"; anything else that cannot be read raises, so a
damaged table never makes a resume redo work or a merge drop history.
Like the reference, the protocol tolerates duplicates on re-run because
doc_ids are stable (EventBuffer.py:29-31 makes the same argument) and
sink writes are idempotent overwrites.
"""

from __future__ import annotations

import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
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


def partition_lineage(df: DataFrame, token_col: str | None = "n_tok") -> list[dict]:
    """Per-partition (rows, tokens) — the lineage payload."""
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


def read_checkpoints(spark: SparkSession, base: str) -> DataFrame:
    """Every commit row under ``base``, typed CHECKPOINT_SCHEMA. An
    absent table, or one with no visible parquet file, is an empty frame
    and runs no job; any other read error propagates."""
    files = list_visible(spark, _ckpt_path(base), ".parquet")
    if not files:
        # typed nulls over an empty range: Catalyst plans no scan, so
        # collecting it runs no job (createDataFrame([]) runs one)
        return spark.range(0).selectExpr(*(
            f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`"
            for f in CHECKPOINT_SCHEMA))
    return spark.read.schema(CHECKPOINT_SCHEMA).parquet(*files)


def committed_sinks(spark: SparkSession, base: str, run_id: str) -> set[str]:
    return {r["sink"] for r in read_checkpoints(spark, base)
            .filter(F.col("run_id") == run_id).select("sink").collect()}
