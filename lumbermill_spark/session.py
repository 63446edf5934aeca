"""SparkSession factory tuned for the pipeline engine.

Local-mode testing uses ``local[N]``; on a real cluster the same settings
apply (AQE, adaptive skew join, Arrow) and the master/deploy options come
from spark-submit. Nothing here is cluster-size specific: shuffle
partitioning is sized from the session's default parallelism so the same
code runs on local[8] and a 1000-executor cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """The local driver heap: 40 % of physical memory, at most 16g.

    One local JVM hosts driver and executors. Very large heaps (48g+)
    showed erratic multi-tens-of-seconds GC stalls with Arrow-heavy
    stages, so 16g is the cap (stable, measured). Below it, 40 % leaves
    room for the Python workers and for a second Spark process on the
    same host: a fixed 16g on a 15 GB host let the kernel kill one of
    two JVMs. ``LMS_DRIVER_MEM`` overrides it.
    """
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):  # no sysconf here
        return "16g"
    return f"{min(16 << 10, int(total * 0.4) >> 20)}m"


def get_spark(
    app_name: str = "lumbermill_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    cores: int N -> local[N]; "*" -> local[*]; None -> env
    SPARK_GRAFT_CPUS or local[*]. On a cluster, pass cores=None and set
    master via spark-submit instead.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    ncores = os.cpu_count() or 8
    if isinstance(cores, int) or (isinstance(cores, str) and cores.isdigit()):
        ncores = int(cores)
    if shuffle_partitions is None:
        # ~2x cores: enough tasks to rebalance, few enough to avoid
        # per-task overhead at local scale. On a big cluster AQE coalesces.
        shuffle_partitions = max(ncores * 2, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(ncores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # default parallelismFirst=true never coalesces below default
        # parallelism, so KB-sized shuffles still run 2x-cores-wide —
        # at sf0.1 most doc queries were scheduler-bound on near-empty
        # tasks. False + a small advisory size packs tiny shuffles into
        # few tasks while big shuffles (sized by data) stay wide; this
        # is also the Spark-docs-recommended production setting.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # a persisted frame (the routed parent) keeps the partitioning
        # of the plan it caches unless AQE may re-plan it; with this on,
        # its shuffles coalesce like any other and the sinks read (and
        # write) a few right-sized partitions instead of one per shuffle
        # partition
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Reference semantics are permissive (bad cast -> 0, not error);
        # we use try_* functions explicitly, but keep ANSI off so plain
        # casts in user filter expressions behave like Spark 3.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("LMS_DRIVER_MEM") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
