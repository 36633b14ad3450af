"""Event-log sources/sinks (SURVEY §2.1 S1-S3).

The reference reads header CSVs with inferred types and coerces the two
timestamp columns to tz-aware UTC (reference: src/preprocessing/main.py:14-16,
src/batch_processing_analysis/discovery.py:249-253). Here no type is
inferred — inference is a full extra scan at 100 TB — the timestamp
columns are cast explicitly, and the session timezone is pinned to UTC
by the session factory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import EventLogIDs


def read_event_log_csv(
    spark: SparkSession,
    path: str,
    ids: EventLogIDs | None = None,
    timestamp_format: str | None = None,
) -> DataFrame:
    """CSV(+gzip) event-log source with UTC timestamps (S1+S2)."""
    ids = ids or EventLogIDs()
    reader = spark.read.option("header", True).option("mode", "PERMISSIVE")
    if timestamp_format:
        reader = reader.option("timestampFormat", timestamp_format)
    df = reader.csv(path)
    for col in (ids.start_time, ids.end_time):
        if col in df.columns and not isinstance(df.schema[col].dataType, T.TimestampType):
            df = df.withColumn(col, F.to_timestamp(col))
    return df


def read_event_log_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_event_log_csv(df: DataFrame, path: str, gzip: bool = True) -> None:
    """CSV sink with the reference's export format (S3: discovery.py:227-232).

    Distributed write (one file per partition); use ``coalesce(1)``
    upstream only for small driver-side exports.
    """
    w = (
        df.write.mode("overwrite")
        .option("header", True)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
    )
    if gzip:
        w = w.option("compression", "gzip")
    w.csv(path)


def events_as_event_log(
    spark: SparkSession, sf_dir: str, ids: EventLogIDs | None = None
) -> DataFrame:
    """Adapt the driver `events` table into an event log (FIXTURES.md mapping).

    user_id → case, event_type → activity, ts → start_time,
    end_time = ts + value seconds, resource = 'r' || (user_id % 20).
    Deterministic and expressible identically in the DuckDB oracle.
    """
    from .tables import load_table

    ids = ids or EventLogIDs()
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("user_id").cast("string").alias(ids.case),
        F.col("event_type").alias(ids.activity),
        F.concat(F.lit("r"), (F.col("user_id") % 20).cast("string")).alias(ids.resource),
        F.col("ts").alias(ids.start_time),
        F.timestamp_add("SECOND", F.ceil("value").cast("long"), F.col("ts")).alias(ids.end_time),
        F.col("event_id"),
    )
