"""Waiting-time decomposition (M5; reference: analysis.py:51-105).

For every batch case, waiting time splits exactly into:

- total    = case_start − case_enabled
- creation = instance_enabled − case_enabled   (waiting for the batch to fill)
- ready    = instance_start − instance_enabled (batch full, not yet started)
- other    = case_start − instance_start       (earlier cases being processed)

plus the naive per-case pt/wt (utils.py:109-124). Invariant (by
construction, encoded as a test): total = creation + ready + other.

The reference loops per batch instance × case with masked write-backs
(O(#instances × N)); here it is two window projections over
(batch, case) and (batch) — J1 group-scalar broadcast-back with zero
joins. Durations are long MICROSECONDS (the reference data is µs
precision); non-batched rows get 0 like the reference's timedelta(0)
initialization (analysis.py:53-58).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..config import Configuration, EventLogIDs
from .checkpoints import data_barrier


def add_waiting_times(log: DataFrame, config: Configuration) -> DataFrame:
    ids = config.log_ids
    us = F.unix_micros

    # Null batch_id marks unbatched rows; windows keyed on it raw would
    # funnel them all into one partition (skew). Salt the null group by
    # case — their window results are masked to 0 below anyway.
    inst_key = F.when(
        F.col(ids.batch_id).isNotNull(), F.col(ids.batch_id).cast("string")
    ).otherwise(F.concat(F.lit("\x00"), F.col(ids.case)))
    log = log.withColumn("_inst_key", inst_key)
    # ONE exchange for both window passes: hash-partitioning on
    # _inst_key alone satisfies the (instance, case) clustering of
    # pass 1 AND the instance clustering of pass 2 (subset rule), so
    # the explicit repartition replaces the two implicit exchanges
    # the per-window requirements would otherwise insert — pass 2
    # then runs sort- and shuffle-free on pass 1's layout (guide
    # §2.4: two operations keyed the same way share one exchange).
    # Skew is no worse than the old pass-2 exchange, which already
    # partitioned by _inst_key alone (nulls are case-salted above).
    log = log.repartition("_inst_key")
    w_case = W.partitionBy("_inst_key", ids.case)
    w_inst = W.partitionBy("_inst_key")

    # Pass 1: per-(instance, case) scalars. `_case_first` is min(start,
    # enabled) lexicographically == the enabled of the min-start row with
    # ties broken to the smallest enabled (utils.py:93-106).
    df = log.withColumn(
        "_case_first",
        F.min(F.struct(us(F.col(ids.start_time)).alias("s"),
                       us(F.col(ids.enabled_time)).alias("en"))).over(w_case),
    ).withColumn("_case_end", F.max(us(F.col(ids.end_time))).over(w_case))

    # Pass 2: per-instance scalars over the pass-1 columns (A4 nesting).
    df = (
        df.withColumn("_inst_start", F.min(F.col("_case_first.s")).over(w_inst))
        .withColumn("_inst_enabled", F.max(F.col("_case_first.en")).over(w_inst))
    )

    batched = F.col(ids.batch_id).isNotNull()
    case_start = F.col("_case_first.s")
    case_enabled = F.col("_case_first.en")

    def dur(col):
        return F.when(batched, col).otherwise(F.lit(0)).cast("long")

    out = (
        df.withColumn(ids.batch_total_wt, dur(case_start - case_enabled))
        .withColumn(ids.batch_creation_wt, dur(F.col("_inst_enabled") - case_enabled))
        .withColumn(ids.batch_ready_wt, dur(F.col("_inst_start") - F.col("_inst_enabled")))
        .withColumn(ids.batch_other_wt, dur(case_start - F.col("_inst_start")))
        .withColumn(ids.batch_pt, dur(F.col("_case_end") - case_start))
        .withColumn(ids.batch_wt, dur(case_start - case_enabled))
    )
    if config.report_batch_checkpoints:
        out = (
            out.withColumn(
                ids.batch_case_enabled,
                F.when(batched, F.timestamp_micros(case_enabled)),
            )
            .withColumn(
                ids.batch_instance_enabled,
                F.when(batched, F.timestamp_micros(F.col("_inst_enabled"))),
            )
            .withColumn(
                ids.batch_start_time,
                F.when(batched, F.timestamp_micros(F.col("_inst_start"))),
            )
        )
    # The WT table feeds several consumers (the collected table, the
    # report's passes, the features table); unstaged, each re-runs the
    # repartition and both window passes. Lazy barrier: the first
    # action stores the rows, later ones read them, and an enclosing
    # checkpoint_scope frees them.
    return data_barrier(
        out.drop("_case_first", "_case_end", "_inst_start", "_inst_enabled", "_inst_key"),
        eager=False,
    )
