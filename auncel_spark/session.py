"""SparkSession factory with engine defaults.

Local-mode testing uses ``local[N]``; the same configuration is valid on
a real cluster (AQE, Arrow, skew-join handling are cluster-side
settings). Nothing here assumes single-node execution.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _half_ram() -> str:
    """Half the host's physical memory, in whole GiB (at least 1): the
    driver JVM runs every task in local mode, and the Python workers
    and the page cache share the other half."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, ram // 2**31)}g"


def get_spark(
    app_name: str = "auncel_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    AQE is enabled so skewed inverted lists (the reference tracks this
    as ``imbalance_factor``, Auncel/utils.h:98-101) get runtime
    skew-join splitting, and post-shuffle partitions coalesce at small
    scale factors without hurting the 100 TB case.
    """
    # numpy madvises MADV_HUGEPAGE for every >=4 MB buffer; with the
    # kernel's THP defrag policy at [madvise] each 2 MB first-touch
    # fault runs SYNCHRONOUS compaction. Measured on this class of VM:
    # first-touch writes at 0.3-0.4 GB/s vs 6-15 GB/s on committed
    # pages — an 8x tax on every fresh numpy temporary in the scan
    # kernels (the per-task t3 LUT fill alone dropped 2.2 s -> 0.24 s
    # with the madvise off). Set BEFORE the JVM launches so forked
    # Python workers inherit it (numpy reads it at import time).
    os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = SparkSession.builder
    # Respect a cluster master from spark-submit (spark.master conf) or
    # an explicit SPARK_MASTER env; default to local[N] only when
    # nothing else is configured.
    env_master = os.environ.get("SPARK_MASTER")
    if env_master:
        builder = builder.master(env_master)
    elif SparkSession.getActiveSession() is None:
        from pyspark import SparkConf

        if not SparkConf().contains("spark.master"):
            builder = builder.master(f"local[{cpus}]")
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # wider Arrow batches for the mapInArrow scan kernels: the
        # default 10k rows fragments per-list work (each fragment pays
        # a k-wide top-k state merge) and quadruples Python round-trip
        # overhead; 64k keeps batches ~25-50 MB for (id, vec d96) rows
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        # driver fixtures carry TIMESTAMP(NANOS) parquet columns, which
        # Spark's vectorized reader rejects as a timestamp type; read
        # them as epoch-nano longs and normalize in the events helpers
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", _half_ram()))
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Dio.netty.tryReflectionSetAccessible=true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
