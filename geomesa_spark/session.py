"""SparkSession factory with the engine's standard scale-oriented config."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "geomesa-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    master: str | None = None,
    executor_mem: str | None = None,
) -> SparkSession:
    """Local session tuned the way the engine expects a cluster session to
    be tuned: AQE on (runtime coalescing + skew-join splitting), Arrow
    exchange on (the kernels that stay in numpy run as pandas UDFs and
    ``applyInPandas`` groups), UTC timestamps (oracle parity), shuffle
    partitions ≈ cores for local mode.

    On a real cluster the same config rides on ``spark-submit --conf``;
    nothing here is local-mode-specific except the master URL.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    if master is None:
        master = f"local[{cores}]"
    elif master.startswith("local-cluster"):
        # executor JVMs are spawned from SPARK_HOME; the pip install's
        # package dir is a valid SPARK_HOME for that purpose
        import pyspark

        os.environ.setdefault("SPARK_HOME", pyspark.__path__[0])
    # one BLAS/OpenMP thread per Python worker — with N workers per host,
    # threaded numpy oversubscribes N× and collapses under contention
    # (measured: 3× slowdown at 32 workers).  Set in this process so local
    # workers inherit it, and in executorEnv for real clusters.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    return (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.executor.memory", executor_mem or "4g")
        .config("spark.sql.parquet.filterPushdown", "true")
        # generated-class cache (static conf, LRU): a perfbench `join`
        # round's working set is 134 classes (4 cores), more than the
        # default 100, which evicts each class before the round reuses it,
        # so every call paid Janino and HotSpot's re-JIT again; at 1024 a
        # repeated round compiles nothing
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
