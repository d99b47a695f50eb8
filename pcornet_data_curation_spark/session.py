"""SparkSession factory tuned for this engine.

`get_spark` configures the session it is launched into: spark-submit's
deployment, or `local[N]` sized to the host under plain `python`.
Python workers start from PySpark's own daemon and import the package
the standard way: from the working directory or PYTHONPATH locally,
from the `--py-files` zip under spark-submit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pcornet_data_curation_spark",
    cores: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    AQE on (runtime re-plan + skew-join splitting for long-tail domains),
    Arrow on (vectorized pandas UDF transfer), UTC session timezone so
    date/timestamp semantics are reproducible across hosts.

    Under spark-submit (PySpark sets PYSPARK_GATEWAY_PORT only when its
    JVM is already running) master, shuffle partitions and driver memory
    are left to the launcher, and passing `cores` raises ValueError.
    Otherwise the session is `local[N]`, sized to the host unless told
    otherwise: cores default to the CPUs this process may run on, driver
    memory to half of physical memory (at most 16g). SPARK_GRAFT_CPUS
    and SPARK_DRIVER_MEM override these.
    """
    builder = SparkSession.builder.appName(app_name)
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        if cores is not None:
            raise ValueError("cores sizes a local[N] session; under spark-submit pass --master")
    else:
        cores = (
            cores or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or len(os.sched_getaffinity(0))
        )
        phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
        driver_mem = os.environ.get("SPARK_DRIVER_MEM", f"{min(16 * 1024, phys_mb // 2)}m")
        builder = (
            builder.master(f"local[{cores}]")
            .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
            .config("spark.driver.memory", driver_mem)
        )
    builder = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
