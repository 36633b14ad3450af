"""Ground-truth recovery (SURVEY §5.2): plant known batches with
``fixtures.inject_batches`` and assert the pipeline rediscovers the
exact partition of events into instances, the right types, the WT
invariant, and the planted activation rule."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from batch_processing_analysis_spark.config import (
    ActivationRulesMode,
    BatchType,
    Configuration,
)
from batch_processing_analysis_spark.fixtures import inject_batches, injected_log_df
from batch_processing_analysis_spark.operators.activation_rules import (
    features_table,
    get_activation_rules,
)
from batch_processing_analysis_spark.operators.discovery import discover_batches
from batch_processing_analysis_spark.operators.waiting_time import add_waiting_times

CFG = Configuration()
IDS = CFG.log_ids


def _discover(spark, injected):
    log = injected_log_df(spark, injected)
    return discover_batches(log, CFG)


def _recovered_partition(disc):
    """{frozenset(case_ids) -> batch_type} for discovered Approve batches."""
    rows = (
        disc.filter(F.col(IDS.batch_id).isNotNull())
        .filter(F.col(IDS.activity) == "Approve")
        .groupBy(IDS.batch_id)
        .agg(
            F.sort_array(F.collect_list(IDS.case)).alias("cases"),
            F.first(IDS.batch_type).alias("btype"),
        )
        .collect()
    )
    return {frozenset(r["cases"]): r["btype"] for r in rows}


@pytest.mark.parametrize(
    "btype",
    [BatchType.parallel, BatchType.task_sequential, BatchType.task_concurrent],
)
def test_recovers_planted_partition_and_type(spark, btype):
    injected = inject_batches(n_batches=4, batch_size=3, batch_type=btype)
    got = _recovered_partition(_discover(spark, injected))
    want = {frozenset(b.case_ids): b.batch_type for b in injected.batches}
    assert got == want


def test_waiting_time_invariant_and_ready_wt(spark):
    injected = inject_batches(n_batches=3, batch_size=4)
    wt = add_waiting_times(_discover(spark, injected), CFG)
    rows = wt.filter(F.col(IDS.batch_id).isNotNull()).collect()
    assert rows
    for r in rows:
        # total = creation + ready + other, exactly (analysis.py:70-79).
        assert r[IDS.batch_total_wt] == (
            r[IDS.batch_creation_wt] + r[IDS.batch_ready_wt] + r[IDS.batch_other_wt]
        )
        assert r[IDS.batch_total_wt] >= 0
        assert r[IDS.batch_ready_wt] >= 0


def test_recovers_planted_activation_rule(spark):
    """Batches fire Mondays at 09:00 with exactly 12 accumulated cases;
    the miner must emit a rule over the planted features
    (reference check: outputs/Loan_Application_ActivationRules.txt
    recovers `day_of_week=0 ^ num_queue=>13`)."""
    injected = inject_batches(
        n_batches=8, batch_size=12, activation_weekday=0, activation_hour=9
    )
    disc = _discover(spark, injected)
    feat = features_table(disc, CFG)
    rules = get_activation_rules(
        feat, Configuration(min_rule_obs=10), ActivationRulesMode.PER_ACTIVITY
    )
    rules = rules[rules["model"].notna()].to_dict("records")
    assert rules, "no rule mined from planted log"
    model = rules[0]["model"]
    # The planted activation is jointly determined by weekday/hour and
    # a full queue; the induced rule must use at least one of them.
    assert any(f in model for f in ("day_of_week", "hour_of_day", "num_queue", "t_ready")), model
    assert rules[0]["confidence"] >= 0.8
