"""Lifecycle-sweep kernel (SURVEY §2.5 W4): per-group processing vs
waiting time from a merged enabled/start/end timeline.

The reference walks each case's events in a Python loop (reference:
utils.py:127-176); here the sweep is one explode and a window pass,
JVM-side. Discovery and the waiting-time decomposition compute their
per-case and per-instance aggregates inline; this module keeps only the
sweep, which ``q38_interval_sweep`` runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..config import EventLogIDs


def interval_sweep_pt_wt(
    df: DataFrame,
    ids: EventLogIDs,
    group_keys: list[str],
    pt_col: str = "sweep_pt",
    wt_col: str = "sweep_wt",
) -> DataFrame:
    """Lifecycle sweep (W4, utils.py:127-176): per group, merge
    enabled/start/end instants, run enabled/processing counters, and
    accrue processing vs waiting time.

    The reference implements this as a per-case Python loop (and its
    pipeline actually calls the naive variant, utils.py:109-124); here
    the sweep is explode → window running-sums → conditional segment
    sums, all JVM-side:

    - processing time accrues on segments where processing > 0;
    - waiting time accrues on segments where processing == 0 and
      enabled > 0 (an 'enabled' is consumed when its activity starts).

    Returns one row per group: group_keys + pt/wt in microseconds.
    """
    e = F.col  # brevity
    # Explode each event into 3 lifecycle instants with counter deltas:
    # enabled:+1 enabled_ctr; start:-1 enabled_ctr,+1 processing; end:-1 processing.
    inst = df.select(
        *group_keys,
        F.explode(
            F.array(
                F.struct(
                    F.unix_micros(e(ids.enabled_time)).alias("t"),
                    F.lit(1).alias("kind"),  # sort order matches '1-enabled' < '2-start' < '3-end'
                    F.lit(1).alias("d_enabled"),
                    F.lit(0).alias("d_processing"),
                ),
                F.struct(
                    F.unix_micros(e(ids.start_time)).alias("t"),
                    F.lit(2).alias("kind"),
                    F.lit(-1).alias("d_enabled"),
                    F.lit(1).alias("d_processing"),
                ),
                F.struct(
                    F.unix_micros(e(ids.end_time)).alias("t"),
                    F.lit(3).alias("kind"),
                    F.lit(0).alias("d_enabled"),
                    F.lit(-1).alias("d_processing"),
                ),
            )
        ).alias("ev"),
    ).select(*group_keys, "ev.t", "ev.kind", "ev.d_enabled", "ev.d_processing")

    w_run = (
        W.partitionBy(*group_keys)
        .orderBy("t", "kind")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    w_next = W.partitionBy(*group_keys).orderBy("t", "kind")
    run = inst.select(
        *group_keys,
        "t",
        F.sum("d_enabled").over(w_run).alias("n_enabled"),
        F.sum("d_processing").over(w_run).alias("n_processing"),
        F.lead("t").over(w_next).alias("next_t"),
    )
    seg = run.filter(F.col("next_t").isNotNull()).select(
        *group_keys,
        (e("next_t") - e("t")).alias("dur"),
        "n_enabled",
        "n_processing",
    )
    return seg.groupBy(*group_keys).agg(
        F.sum(F.when(e("n_processing") > 0, e("dur")).otherwise(0)).alias(pt_col),
        F.sum(
            F.when((e("n_processing") == 0) & (e("n_enabled") > 0), e("dur")).otherwise(0)
        ).alias(wt_col),
    )
