"""SparkSession factory.

The reference pins all timestamps to naive KST wall-clock
(``fetch_data/common/utils.py:5-15``; Grafana shifts with
``AT TIME ZONE 'Asia/Seoul'``). We read the driver's parquet as
TIMESTAMP_NTZ where possible so results are timezone-independent, and pin
the session zone to Asia/Seoul for any instant-typed arithmetic.

Scale posture (100 TB target):
- AQE on: runtime coalescing, skew-join splitting, dynamic join selection.
- shuffle partitions sized for local[] testing; on a real cluster AQE
  coalesces from an intentionally high initial number.
- dynamic partition overwrite: the K4 idempotent range-overwrite protocol
  relies on it (see sinks/writers.py).

Call-site capture is off (``spark.python.sql.dataFrameDebugging.enabled``
= false, a static conf). With it on, PySpark wraps every Column and
DataFrame method so that each call also costs about five py4j round trips
(active-session lookup, JVM class lookup, conf read, origin set and clear)
plus a Python stack walk; that was about two thirds of the driver's round
trips when building a cold catalog entry. The trade-off: a runtime error's
"DataFrame query context" no longer names the Python line that built the
failing expression. The exception type and Spark's message are unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "energy-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus) * 2, 8)
        except ValueError:  # local[*]
            shuffle_partitions = 64

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "Asia/Seoul")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    return builder.getOrCreate()


def tune_for_session(spark: SparkSession) -> SparkSession:
    """Apply this engine's runtime confs to an externally-created session.

    The driver contract hands ``entry(spark)`` a session we didn't build;
    settings that are not cluster-start-only can still be applied here.
    """
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    return spark
