"""SparkSession factory with the settings this engine assumes.

Local runs default to ``local[<cores this process may use>]`` and a driver
heap of half the machine's memory; ``SPARK_GRAFT_CPUS`` and
``SPARK_DRIVER_MEM`` override them.  At cluster scale the same builder
options apply (AQE on, Arrow on, sane shuffle partitioning).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half of physical memory, at least 1 GiB: in local mode the
    executors run inside the driver JVM, and the machine may be shared."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(ram // 2 >> 30, 1)}g"


def get_spark(
    app: str = "tippecanoe_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        # AQE: runtime coalescing + skew-join splitting — core to the
        # skew story at scale (SURVEY §4 "skew handling").
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow is the transport for every pandas UDF in this engine.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
