"""SparkSession factory with the engine's tuned defaults.

Local mode (``local[N]``) is the sandbox stand-in for an N-executor cluster;
all configs below are cluster-safe (AQE, arrow, shuffle sizing) and are the
ones that matter at 100 TB: adaptive skew splitting, partial-agg pushdown,
arrow batch size (the analogue of the reference's 512-id lookup batches,
cf. reference ``IndexQueryExecution.java:58``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "marginaliasearch_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cores``: int N → ``local[N]``; "*" → all cores; None → env
    ``SPARK_GRAFT_CPUS`` or "*".  ``shuffle_partitions`` defaults to
    2× parallelism (good spill/skew balance for local mode; on a real
    cluster AQE coalesces the excess).
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8 if cores == "*" else int(cores)
        shuffle_partitions = max(8, 2 * n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # no per-Column call-site capture: each Column op otherwise walks
        # the Python stack and pays extra py4j round trips while a query
        # is planned. Query syntax errors are ValueErrors raised before
        # Spark runs, so they keep their message.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
