"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; the same settings are what we'd
submit on a real cluster via spark-submit --py-files (minus master).
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

    Sized to the host unless told otherwise: cores default to the CPUs
    this process may run on, driver memory to half of physical memory
    (at most 16g). SPARK_GRAFT_CPUS and SPARK_DRIVER_MEM override these.
    """
    cores = (
        cores or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or len(os.sched_getaffinity(0))
    )
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    driver_mem = os.environ.get("SPARK_DRIVER_MEM", f"{min(16 * 1024, phys_mb // 2)}m")
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # preload numpy/pandas/pyarrow in the worker daemon so forked
        # Python workers inherit them (copy-on-write) instead of each
        # paying the ~2 s import on its first Arrow task — the measured
        # dominant cold-run cost of every pandas-UDF/mapInPandas
        # operator (see worker_daemon.py). The package root is exported
        # to the worker env explicitly so the daemon's `python -m`
        # import works regardless of the driver's cwd/sys.path tricks;
        # SPARK_GRAFT_WORKER_DAEMON=0 disables the preload (e.g. a
        # spark-submit deployment whose executors get the package only
        # via --py-files, which the daemon process does not see).
        .config(
            "spark.python.daemon.module",
            "pcornet_data_curation_spark.worker_daemon",
        )
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join(
                p
                for p in (
                    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    os.environ.get("PYTHONPATH", ""),
                )
                if p
            ),
        )
    )
    if os.environ.get("SPARK_GRAFT_WORKER_DAEMON", "1") == "0":
        builder = builder.config("spark.python.daemon.module", "pyspark.daemon")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
