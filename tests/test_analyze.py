"""The engine's request, ``pipeline.analyze``: pinned outputs, output
invariance under input row order and shuffle-partition count, the WT
invariant, and the activation-rule mode defaults it relies on."""

from __future__ import annotations

import hashlib
import random

import pandas as pd
import pytest

from batch_processing_analysis_spark.config import ActivationRulesMode, Configuration
from batch_processing_analysis_spark.fixtures import inject_batches, injected_log_df
from batch_processing_analysis_spark.operators.activation_rules import (
    features_table,
    get_activation_rules,
    render_activation_rules,
)
from batch_processing_analysis_spark.operators.discovery import discover_batches
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


def test_default_rule_modes_agree(spark):
    """get_activation_rules and render_activation_rules default to the
    same grouping, so the default pair renders the mined rules."""
    feat = features_table(discover_batches(injected_log_df(spark, INJECTED), CFG), CFG)
    mode = ActivationRulesMode.PER_BATCH
    explicit = render_activation_rules(
        feat, get_activation_rules(feat, CFG, mode), CFG, mode)
    default = render_activation_rules(feat, get_activation_rules(feat, CFG), CFG)
    assert "# Observations" in explicit
    assert default == explicit
