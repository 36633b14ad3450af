"""Parquet table loaders for the driver testdata star schema.

At 100 TB these reads rely on Catalyst pushing filters/projections into
the parquet scan — callers should filter/select on the returned lazy
DataFrame, never collect-then-filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The driver testdata stores timestamps as parquet TIMESTAMP(NANOS,false),
# which Spark cannot map to TimestampType; with
# spark.sql.legacy.parquet.nanosAsLong=true they arrive as long nanos and
# are converted here (integer `div` — a double division would lose
# precision above 2^53 ns). DuckDB truncates the same values to µs, so
# truncating ns→µs keeps the two engines bit-identical.
TS_NANO_COLS = {
    "events": ["ts"],
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}


def _ensure_session_confs(spark: SparkSession) -> None:
    """Make a caller-provided session (e.g. the driver's) compatible.

    All three are runtime SQL confs, safe to set after session start.
    UTC is load-bearing for oracle comparability; nanosAsLong for reading
    TIMESTAMP(NANOS) columns at all; inferTimestampNTZ off so micros
    columns without tz metadata arrive as TIMESTAMP (LTZ), not
    TIMESTAMP_NTZ (which unix_micros et al. reject). Testdata precision
    differs per scale factor, so both paths are live.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_session_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for col in TS_NANO_COLS.get(name, []):
        if col not in df.columns:
            continue
        dt = df.schema[col].dataType
        if isinstance(dt, T.LongType):
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        elif isinstance(dt, T.TimestampNTZType):
            # Belt-and-braces: if the file was scanned before the conf
            # above took effect (cached FileIndex), reinterpret the NTZ
            # wall-clock as UTC — identical micros under a UTC session.
            df = df.withColumn(col, F.to_utc_timestamp(F.col(col), "UTC"))
    return df
