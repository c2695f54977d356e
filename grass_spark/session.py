"""SparkSession factory tuned for the rollup engine.

Local-mode knobs follow the public PySpark guidance: shuffle partitions
sized to cores (not the 200 default), AQE on (runtime coalesce + skew
join handling — our replacement for GRASS's hand-built nprocs
parallelism, ``raster/r.series/main.c:510-528``), Arrow enabled for the
pandas-UDF compression path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

WINDOW_EXEC_LOGGER = "org.apache.spark.sql.execution.window.WindowExec"


def get_spark(
    app_name: str = "grass_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS (driver contract) or ``*``.
    On a real cluster the same configs apply; only ``master`` changes —
    the engine itself never assumes single-node execution.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(n, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    extra_conf = extra_conf or {}
    if extra_conf.get("spark.master", master).startswith("local"):
        # Spark lists more than 32 paths (a tier of more than 32 days)
        # in a listing job; on a local master its tasks run in the
        # driver's own JVM anyway, so the job is pure launch overhead
        builder = builder.config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1)
        )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # WindowExec warns on every window without PARTITION BY; the plan
    # sweep (tests/test_plan_contracts.py) bans the unbounded ones by
    # reading plans, so the warning is noise that buries the log tail
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        WINDOW_EXEC_LOGGER, jvm.org.apache.logging.log4j.Level.ERROR
    )
    return spark
