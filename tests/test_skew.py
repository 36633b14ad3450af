"""Spark's adaptive skew join re-plans a hot key at runtime."""

from __future__ import annotations


def test_aqe_splits_skewed_partition_at_runtime(spark):
    """Platform-evidence test for the 100 TB skew posture: AQE itself
    must re-plan a skewed sort-merge join at runtime (the engine's
    bench/session default).
    Thresholds are lowered so the local fixture trips the same code
    path a hot production key would."""
    import pyspark.sql.functions as F

    tuned = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32768",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        left = spark.range(300_000).select(
            F.when(F.col("id") % 10 == 0, F.lit("hot"))
            .otherwise((F.col("id") % 1000).cast("string")).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(1001).select(
            F.when(F.col("id") == 1000, F.lit("hot"))
            .otherwise(F.col("id").cast("string")).alias("k"),
            (F.col("id") * 2).alias("w"),
        )
        j = left.join(right, "k")
        rows = j.collect()  # execute THIS frame's QE so the final
        assert len(rows) == 300_000  # adaptive plan is inspectable
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
        assert "skewed" in plan, plan  # AQEShuffleRead split the hot key
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
