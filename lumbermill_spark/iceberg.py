"""Iceberg table wiring (jar-gated), same split as ``streaming/kafka.py``:
pure option/DDL builders that are unit-testable without the runtime jar,
plus plan-building entry points that fail fast with a clear message when
``iceberg-spark-runtime`` is not on the classpath.

Why this module exists: the production deployment target is an Iceberg
table of pre-tokenized training sequences (north rule), where

- the *source* is ``spark.read.format("iceberg")`` with optional
  snapshot / timestamp time-travel — the primitive that makes
  "resume from the last committed snapshot without reprocessing" a
  first-class read option rather than bookkeeping;
- the *sinks* are ``df.writeTo(...).using("iceberg")`` appends whose
  atomic snapshot commit IS the checkpoint marker (``checkpoint.py``
  implements the same protocol over plain parquet with an explicit
  ``_checkpoint`` commit table — on Iceberg the marker collapses into
  the table's own snapshot log, read back via ``snapshots()``).

Everything here degrades to the parquet path the rest of the repo runs
on in this jar-less sandbox: ``router.route_and_write`` writes any
``SinkSpec.format`` string, so ``format="iceberg"`` flows through the
same fan-out once the runtime jar is present.

Reference: input.ElasticSearch / output.ElasticSearch
(/root/reference/lumbermill/input/ElasticSearch.py:39-110,
/root/reference/lumbermill/output/ElasticSearch.py:153-215) — the
reference's durable queryable table pair, whose Spark-native analog is
an Iceberg catalog table.
"""

from __future__ import annotations

import gzip
import json
import os
import re

from pyspark.sql import DataFrame, SparkSession

RUNTIME_CLASS = "org.apache.iceberg.spark.SparkCatalog"
RUNTIME_HINT = (
    "iceberg-spark-runtime jar not on the classpath; add --packages "
    "org.apache.iceberg:iceberg-spark-runtime-3.5_2.13:<ver> (or the "
    "build matching your Spark) and re-run"
)


def iceberg_catalog_conf(
    catalog: str = "lm",
    warehouse: str = "file:///tmp/lm_warehouse",
    catalog_type: str = "hadoop",
) -> dict[str, str]:
    """Session confs registering an Iceberg catalog — pass to
    ``SparkSession.builder.config`` or ``spark-submit --conf``. Pure
    dict builder (unit-testable without the jar)."""
    base = f"spark.sql.catalog.{catalog}"
    conf = {
        base: "org.apache.iceberg.spark.SparkCatalog",
        f"{base}.type": catalog_type,
    }
    if catalog_type == "hadoop":
        conf[f"{base}.warehouse"] = warehouse
    return conf


def read_options(
    snapshot_id: int | None = None,
    as_of_ms: int | None = None,
) -> dict[str, str]:
    """Time-travel read options (at most one of snapshot/timestamp) —
    the resume primitive: a restarted job reads the exact snapshot the
    last committed run produced, never a half-written view."""
    if snapshot_id is not None and as_of_ms is not None:
        raise ValueError("pass snapshot_id OR as_of_ms, not both")
    opts: dict[str, str] = {}
    if snapshot_id is not None:
        opts["snapshot-id"] = str(snapshot_id)
    if as_of_ms is not None:
        opts["as-of-timestamp"] = str(as_of_ms)
    return opts


def _require_runtime(spark: SparkSession) -> None:
    try:
        # resolves against Spark's context classloader (sees
        # spark.jars.packages jars the system classloader cannot)
        spark._jvm.org.apache.spark.util.Utils.classForName(
            RUNTIME_CLASS, False, False)
        return
    except Exception:  # noqa: BLE001 — fall through to the system probe
        pass
    try:
        spark._jvm.java.lang.Class.forName(RUNTIME_CLASS)
    except Exception as exc:  # noqa: BLE001
        raise RuntimeError(RUNTIME_HINT) from exc


def read_table(
    spark: SparkSession,
    table: str,
    snapshot_id: int | None = None,
    as_of_ms: int | None = None,
) -> DataFrame:
    """``spark.read.format("iceberg")`` over a catalog table (or a
    path-based table location), optionally time-traveled."""
    _require_runtime(spark)
    reader = spark.read.format("iceberg")
    for k, v in read_options(snapshot_id, as_of_ms).items():
        reader = reader.option(k, v)
    return reader.load(table)


def write_table(
    df: DataFrame,
    table: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
) -> None:
    """DataFrameWriterV2 append/replace to an Iceberg catalog table.
    ``append`` commits one atomic snapshot — the durable checkpoint
    marker the resume path reads back.

    Modes: ``append`` | ``create`` (createOrReplace) |
    ``overwrite_partitions`` (DYNAMIC partition overwrite — only the
    partitions present in ``df`` are replaced, the rest of the table
    is untouched; Iceberg's overwritePartitions()) | ``overwrite``
    (FULL-table overwrite: every existing row is replaced). The two
    overwrite modes are deliberately distinct names — a dynamic
    overwrite answering to the name "overwrite" silently preserves
    absent partitions, which is not what that name promises."""
    if mode not in ("append", "overwrite", "overwrite_partitions",
                    "create"):
        raise ValueError("mode must be append, overwrite, "
                         "overwrite_partitions or create")
    _require_runtime(df.sparkSession)
    writer = df.writeTo(table).using("iceberg")
    if mode == "create":
        if partition_by:
            from pyspark.sql import functions as F
            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        writer.createOrReplace()
    elif mode == "overwrite_partitions":
        writer.overwritePartitions()
    elif mode == "overwrite":
        from pyspark.sql import functions as F
        writer.overwrite(F.lit(True))
    else:
        writer.append()


def last_snapshot_id(spark: SparkSession, table: str) -> int | None:
    """Most recent committed snapshot of ``table`` (None for an empty
    snapshot log) — what a restarted pipeline passes to
    :func:`read_table` to pin its input, and what it compares against
    its own checkpoint record to decide which sinks already committed.

    A path-based table (``table`` holds a '/') is read from its metadata
    file by :func:`metadata_last_snapshot_id`, without the runtime jar;
    a catalog table through its ``.snapshots`` metadata table."""
    if "/" in table:
        return metadata_last_snapshot_id(table)
    _require_runtime(spark)
    row = (
        spark.read.format("iceberg").load(f"{table}.snapshots")
        .orderBy("committed_at", ascending=False)
        .select("snapshot_id")
        .first()
    )
    return None if row is None else int(row["snapshot_id"])


def metadata_last_snapshot_id(location: str) -> int | None:
    """Most recent committed snapshot (largest ``timestamp-ms``, the
    ``committed_at`` of the ``.snapshots`` table) of the path-based table
    at ``location``, read in pure Python from its current metadata file.
    The current version is found as Iceberg's HadoopTableOperations
    finds it: start from ``metadata/version-hint.text`` (the highest
    listed version when the hint is missing or unreadable), then step
    forward while the next version's file exists, since a commit renames
    ``v<N+1>`` into place before it rewrites the hint. A version's file
    is ``v<N>.metadata.json``, ``v<N>.gz.metadata.json`` or the older
    ``v<N>.metadata.json.gz``. None for an empty snapshot log.
    ``location`` is a local path or ``file:`` URI; FileNotFoundError
    when it holds no current metadata file."""
    meta = os.path.join(re.sub(r"^file:(//)?", "", location), "metadata")
    try:
        with open(os.path.join(meta, "version-hint.text")) as f:
            current = int(f.read().strip())
    except (FileNotFoundError, ValueError):
        current = max((int(m.group(1)) for name in os.listdir(meta)
                       if (m := _METADATA_NAME.fullmatch(name))), default=0)
    path = _metadata_file(meta, current)
    if path is None:
        raise FileNotFoundError(
            f"no metadata file for version {current} under {meta}")
    while (ahead := _metadata_file(meta, current + 1)) is not None:
        current, path = current + 1, ahead
    opener = gzip.open if ".gz" in os.path.basename(path) else open
    with opener(path, "rt") as f:
        snapshots = json.load(f).get("snapshots") or []
    if not snapshots:
        return None
    return int(max(snapshots, key=lambda s: s["timestamp-ms"])["snapshot-id"])


_METADATA_NAME = re.compile(r"v(\d+)(?:\.gz)?\.metadata\.json(?:\.gz)?")


def _metadata_file(meta: str, version: int) -> str | None:
    """The metadata file of ``version`` under ``meta``, in Iceberg's
    lookup order (plain, gzip, legacy gzip); None when there is none."""
    for name in (f"v{version}.metadata.json", f"v{version}.gz.metadata.json",
                 f"v{version}.metadata.json.gz"):
        path = os.path.join(meta, name)
        if os.path.exists(path):
            return path
    return None
