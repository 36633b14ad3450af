"""SparkSession factory tuned for this engine.

UTC session timezone is mandatory for oracle comparability (reference
parses all timestamps UTC: src/preprocessing/main.py:15-16). AQE is on so
skewed batch keys / resources re-plan at runtime — the 100 TB path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "batch_processing_analysis_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Driver testdata stores TIMESTAMP(NANOS) which Spark has no native
        # type for; read as long nanos and convert in sources/tables.py.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # Off: PySpark's DataFrame error-context capture. On, every
        # Column function call reads a conf, looks up a JVM class and
        # walks the Python stack (a failed optional import included);
        # one event-log request builds ~600 Column expressions.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
