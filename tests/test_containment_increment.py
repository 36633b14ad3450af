"""Incremental containment join (M142, operators/incremental.py):
delta-touching output of containment_increment_pairs (q163) is
identical to the batch operator on the union minus base-internal
pairs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from batch_processing_analysis_spark.operators.dedup import (
    CandidateVolumeExceeded,
    containment_pairs,
)
from batch_processing_analysis_spark.operators.incremental import (
    containment_increment_pairs,
)
from batch_processing_analysis_spark.sources.tables import load_table


def _expected(docs, c_pct, k):
    full = {(r.id_a, r.id_b): r.cont_micro
            for r in containment_pairs(docs, c_pct=c_pct, k=k).collect()}
    return {p: c for p, c in full.items() if p[0] % 2 == 1 or p[1] % 2 == 1}


def test_increment_pairs_identity(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)
    inc = {(r.id_a, r.id_b): r.cont_micro
           for r in containment_increment_pairs(
               base, delta, c_pct=80, k=3).collect()}
    assert inc == _expected(docs, 80, 3)
    assert inc, "fixture produced no delta-touching containment pairs"


def test_increment_pairs_guard_trips(spark):
    rows = [(i, "alpha beta gamma delta epsilon") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)
    with pytest.raises(CandidateVolumeExceeded):
        containment_increment_pairs(base, delta, c_pct=80, k=3,
                                    max_candidates=5).collect()
