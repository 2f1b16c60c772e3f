"""SparkSession factory with the engine's recommended configuration.

Local testing runs ``local[N]``; the same settings are what we'd ship on a
1000-executor cluster (AQE for runtime re-planning and skew joins, modest
advisory partition sizes, Arrow for the few pandas-UDF paths).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "elephantdb-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # always read bucketed tables bucket-aware (enables single-table
        # bucket pruning; the auto heuristic only covers joins/aggs)
        .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    extra_conf = dict(extra_conf or {})
    # Python tasks (e.g. the Bloom sidecar job) import this package in
    # Spark's workers, whose path is not the driver's sys.path. Spark
    # merges this entry into the workers' PYTHONPATH; it does not replace it.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    extra_conf.setdefault(
        "spark.executorEnv.PYTHONPATH",
        os.pathsep.join(filter(None, [pkg_parent, os.environ.get("PYTHONPATH")])),
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
