"""SparkSession factory tuned for the sandbox (local[N]) but with settings
that carry to a real cluster unchanged (AQE, Arrow, adaptive shuffle)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cores() -> int:
    """Cores for a session: ``$SPARK_GRAFT_CPUS``, else the CPUs this
    process may run on (``sched_getaffinity``; ``os.cpu_count()`` where
    the platform has no affinity call)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def get_spark(
    app_name: str = "beetle-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    master: str | None = None,
    executor_cores: int = 8,
    executor_mem: str = "10g",
) -> SparkSession:
    """local[N] by default; pass master="spark://..." for a standalone
    cluster (each executor is its own JVM — on this sandbox host a single
    JVM saturates around 8 cores, so multi-executor is how >8 cores
    actually scale; same as any real cluster).  ``cores`` then becomes
    spark.cores.max."""
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    import sys

    b = SparkSession.builder
    if master:
        b = (
            b.master(master)
            .config("spark.cores.max", str(cores))
            .config("spark.executor.cores", str(executor_cores))
            .config("spark.executor.memory", executor_mem)
            .config("spark.executorEnv.PYTHONPATH", "/root/repo")
            .config("spark.pyspark.python", sys.executable)
        )
    else:
        b = b.master(f"local[{cores}]")
    return (
        b.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "32g"))
        .config("spark.sql.parquet.filterPushdown", "true")
        # NOTE on the docnum staging no-split invariant: staged corpus
        # files must never be split across read tasks (order-dependent
        # numbering).  That is guaranteed arithmetically — staging writes
        # 2x-parallelism files, so Spark's maxSplitBytes = max(openCost,
        # totalBytes/parallelism) ~= 2x the average staged file — and
        # ENFORCED per build by docnums._effective_max_split_bytes (auto
        # rescale + hard error).  Keep openCostInBytes at its default
        # (4 MB): inflating it to "prevent splits" makes EVERY multi-file
        # read pack only ~2 files per task — a 512-file posting read then
        # schedules ~256 tasks and a 3-column metrics agg takes longer
        # than the encode it measures.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
