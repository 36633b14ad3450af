"""Semi-structured (JSON string) column handling (M59).

Two engine-grade rules, both enforced here:

- **Explicit schema, never inference**: ``from_json`` with a declared
  struct — schema inference over a 100 TB JSON column is a full extra
  scan, and silently widens types when dirty rows appear. Rows that
  don't parse yield NULL struct fields (tracked, not dropped).
- **Stay in codegen**: ``from_json`` is a JVM expression — no Python,
  no UDF; extraction composes with pushdown (the JSON column prunes
  away if only extracted fields survive).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def parse_json_col(df: DataFrame, col: str = "props",
                   schema: str = "k long",
                   out: str = "_j") -> DataFrame:
    """Typed parse of a JSON-string column: ``out`` is a struct with
    the declared fields; malformed rows parse to NULL fields."""
    return df.withColumn(out, F.from_json(F.col(col), schema))
