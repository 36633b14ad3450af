"""The engine's request, ``pipeline.analyze``: pinned outputs, output
invariance under input row order and shuffle-partition count, the WT
invariant, the activation-rule mode defaults it relies on, and the
rule miner's contract (one row per group, rendering without Spark
jobs, one group per activity tuple), and a features table and a batch
report that run no Spark action of their own."""

from __future__ import annotations

import hashlib
import random

import pandas as pd
import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from batch_processing_analysis_spark.config import ActivationRulesMode, Configuration
from batch_processing_analysis_spark.fixtures import inject_batches, injected_log_df
from batch_processing_analysis_spark.operators.activation_rules import (
    features_table,
    get_activation_rules,
    render_activation_rules,
)
from batch_processing_analysis_spark.operators.discovery import discover_batches
from batch_processing_analysis_spark.operators.reporting import batch_report
from batch_processing_analysis_spark.operators.waiting_time import add_waiting_times
from batch_processing_analysis_spark.pipeline import Analysis, analyze

CFG = Configuration(min_rule_obs=10)
IDS = CFG.log_ids
# Planted Monday-09:00 batches of 12 cases: enough rows per group that
# the miner emits rules, so the rules text is not all guard lines.
INJECTED = inject_batches(n_batches=8, batch_size=12,
                          activation_weekday=0, activation_hour=9)
# analyze() on INJECTED with CFG. Change it only together with an
# explained change of the request's outputs.
PINNED_DIGEST = "143b2de33a707515"


def _digest(out: Analysis) -> str:
    """Order-insensitive WT table + report text + rules text."""
    wt = out.wt
    cols = sorted(wt.columns)
    canon = wt[cols].sort_values(cols, kind="stable", na_position="first")
    h = hashlib.sha256(",".join(cols).encode())
    h.update(pd.util.hash_pandas_object(canon, index=False).values.tobytes())
    h.update(out.report_text.encode() + b"\x00" + out.rules_text.encode())
    return h.hexdigest()[:16]


@pytest.fixture(scope="module")
def base(spark):
    return analyze(injected_log_df(spark, INJECTED), CFG)


def test_outputs_pinned(base):
    assert "# Observations" in base.rules_text
    assert _digest(base) == PINNED_DIGEST


def test_wt_invariant(base):
    b = base.wt[base.wt[IDS.batch_id].notna()]
    assert not b.empty
    parts = b[IDS.batch_creation_wt] + b[IDS.batch_ready_wt] + b[IDS.batch_other_wt]
    assert (b[IDS.batch_total_wt] == parts).all()


def test_digest_invariant_under_row_permutation(spark, base):
    rows = list(INJECTED.rows)
    random.Random(7).shuffle(rows)
    log = spark.createDataFrame(rows, injected_log_df(spark, INJECTED).schema)
    assert _digest(analyze(log, CFG)) == _digest(base)


def test_digest_invariant_under_one_shuffle_partition(spark, base):
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        out = analyze(injected_log_df(spark, INJECTED), CFG)
    finally:
        spark.conf.set(key, old)
    assert old == "8"
    assert _digest(out) == _digest(base)


@pytest.fixture(scope="module")
def disc(spark):
    return discover_batches(injected_log_df(spark, INJECTED), CFG)


@pytest.fixture(scope="module")
def feat(disc):
    return features_table(disc, CFG)


def test_default_rule_modes_agree(feat):
    """get_activation_rules and render_activation_rules default to the
    same grouping, so the default pair renders the mined rules."""
    mode = ActivationRulesMode.PER_BATCH
    explicit = render_activation_rules(
        feat, get_activation_rules(feat, CFG, mode), CFG, mode)
    default = render_activation_rules(feat, get_activation_rules(feat, CFG), CFG)
    assert "# Observations" in explicit
    assert default == explicit


def _jobs_in(spark, group: str, fn):
    """(Spark jobs ``fn`` launches, counted through a job group, its result)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_render_runs_no_spark_job(spark, feat):
    rules = get_activation_rules(feat, CFG)
    assert _jobs_in(spark, "test-analyze-count", feat.count)[0] >= 1
    jobs, text = _jobs_in(spark, "test-analyze-render",
                          lambda: render_activation_rules(feat, rules, CFG))
    assert "# Observations" in text
    assert jobs == 0


def test_features_table_runs_no_action(spark, disc):
    """features_table only builds a plan; its caller's first action runs
    it. Without adaptive execution that takes no Spark job. With it,
    its one lazy barrier runs the two shuffle stages under it (the case
    window and the instance rollup) when it is taken (``localCheckpoint``
    plans its input), and nothing more."""
    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        jobs, feat = _jobs_in(spark, "test-analyze-features",
                              lambda: features_table(disc, CFG))
    finally:
        spark.conf.set(key, old)
    assert old == "true"
    assert jobs == 0
    assert _jobs_in(spark, "test-analyze-features-count", feat.count)[0] >= 1
    jobs, _ = _jobs_in(spark, "test-analyze-features-aqe",
                       lambda: features_table(disc, CFG))
    assert jobs <= 2


def test_batch_report_runs_no_action(spark, disc):
    """batch_report only builds a plan, occurrence denominators
    included (no driver collect of the pattern lengths). Without
    adaptive execution that takes no Spark job. With it, its one lazy
    barrier (the per-case rollup) runs the shuffle stage under it when
    it is taken, and nothing more."""
    # Every event of a batched case joins its batch: 3-activity keys.
    per_case = Window.partitionBy(IDS.case)
    wt = add_waiting_times(
        disc.withColumn(IDS.batch_id, F.max(IDS.batch_id).over(per_case))
        .withColumn(IDS.batch_type, F.max(IDS.batch_type).over(per_case)), CFG)
    assert wt.count() > 0
    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        jobs, rep = _jobs_in(spark, "test-analyze-report",
                             lambda: batch_report(wt, CFG))
    finally:
        spark.conf.set(key, old)
    assert old == "true"
    assert jobs == 0
    assert rep.filter(F.size("activities") > 1).count() >= 1
    jobs, _ = _jobs_in(spark, "test-analyze-report-aqe",
                       lambda: batch_report(wt, CFG))
    assert jobs <= 1


@pytest.mark.parametrize("mode", list(ActivationRulesMode))
def test_rules_frame_has_one_row_per_group(feat, mode):
    """Guarded groups included; sizes and outcome counts match a Spark
    groupBy over the features table."""
    key_cols = {ActivationRulesMode.PER_ACTIVITY: ["firing_activity"],
                ActivationRulesMode.PER_BATCH: ["activities"],
                ActivationRulesMode.PER_BATCH_TYPE: ["activities", IDS.batch_type]}[mode]
    want = {}
    for r in feat.groupBy(*key_cols).agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("outcome").alias("k")).collect():
        key = r[0] if isinstance(r[0], list) else [r[0]]
        want[tuple(key) + tuple(r[c] for c in key_cols[1:])] = (r["n"], r["k"])
    rules = get_activation_rules(feat, CFG, mode)
    got = {k: (n, o) for k, n, o in
           zip(rules["group_key"], rules["num_obs"], rules["num_outcomes"])}
    assert len(rules) == len(got) == len(want)
    assert got == want
    guarded = (rules["num_obs"] <= CFG.min_rule_obs) | (rules["num_outcomes"] < 2)
    assert guarded.any() and not guarded.all()
    assert rules.loc[guarded, "model"].isna().all()
    assert rules.loc[~guarded, "model"].notna().all()


def test_pipe_in_activity_name_keeps_batches_apart(spark):
    """A batch over the one activity "A|B" and a batch over ("A", "B")
    are two groups with two blocks, each printed as its own tuple."""
    schema = ("activities array<string>, batch_type string, "
              "firing_activity string, instant double, num_queue bigint, "
              "t_ready double, t_waiting double, t_max_flow double, "
              "day_of_week int, day_of_month int, hour_of_day int, "
              "minute int, workload bigint, outcome int")
    rows = [(acts, "Parallel", acts[0], float(i), 1, 0.0, 0.0, 0.0,
             0, 1, 9, 0, 0, i % 2)
            for acts in (["A|B"], ["A", "B"]) for i in range(3)]
    feat = spark.createDataFrame(rows, schema)
    mode = ActivationRulesMode.PER_BATCH
    text = render_activation_rules(
        feat, get_activation_rules(feat, CFG, mode), CFG, mode)
    assert text.split("\n\n\n") == [
        "\n\nNot extracting rules from batch ('A', 'B') due to low size: 3",
        "Not extracting rules from batch ('A|B',) due to low size: 3",
    ]
