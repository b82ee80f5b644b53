"""SparkSession factory with the engine's required configuration.

Local mode is a stand-in for a multi-executor cluster: partitioning and
shuffle behavior is identical, only the transport differs. The scaling
benchmark runs the same jobs at local[8] and local[32].
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(phys_bytes: int) -> str:
    """The driver heap when SPARK_DRIVER_MEM is unset: half of physical
    memory, at least 1g and at most 48g, in MiB. A fixed 48g gets the
    driver JVM killed by the kernel on a host with less memory."""
    mib = min(48 << 10, max(1 << 10, (phys_bytes >> 20) // 2))
    return f"{mib}m"


def get_spark(
    cores: int | str | None = None,
    app_name: str = "opensearch_jvector_plugin_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession tuned for the engine.

    Arrow is mandatory (all UDF boundaries are Arrow-batched), the session
    timezone is pinned to UTC so timestamps round-trip identically against
    the DuckDB oracle, and AQE is on so skewed shuffles re-plan at runtime.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores in ("*",) else max(int(cores) * 2, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM")
            or default_driver_memory(
                os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
