"""Incremental corpus merge (operators/incremental.py): exact-merge
semantics, ingest idempotence, and the PPJoin increment identity —
``increment_pairs == batch_pairs(base ∪ delta) − base-internal pairs``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from batch_processing_analysis_spark.operators.incremental import (
    merge_exact_increment,
)
from batch_processing_analysis_spark.sources.tables import load_table

BASE = [(1, "alpha beta"), (2, "gamma delta")]
# 10 normalizes to base doc 1's text; 11/12 duplicate each other.
DELTA = [(10, "Alpha  BETA "), (11, "epsilon zeta"), (12, "epsilon zeta"),
         (13, "unique new text")]


def test_merge_exact_increment_semantics(spark):
    base = spark.createDataFrame(BASE, "doc_id int, text string")
    delta = spark.createDataFrame(DELTA, "doc_id int, text string")
    rows = {r.doc_id: r.origin
            for r in merge_exact_increment(base, delta).collect()}
    # Base passes through; 10 collides with base, 12 loses to 11 in-delta.
    assert rows == {1: "base", 2: "base", 11: "delta", 13: "delta"}


def test_merge_exact_increment_idempotent(spark):
    base = spark.createDataFrame(BASE, "doc_id int, text string")
    delta = spark.createDataFrame(DELTA, "doc_id int, text string")
    merged = merge_exact_increment(base, delta).drop("origin")
    # Re-ingesting the same delta against the merged corpus adds nothing.
    again = merge_exact_increment(merged, delta)
    assert again.filter(F.col("origin") == "delta").count() == 0
    assert again.count() == merged.count()


def test_ppjoin_increment_identity(spark, sf_dir):
    # M122 (VERDICT r5 stretch 8): exact incremental PPJoin ==
    # batch ppjoin on base ∪ delta minus base-internal pairs —
    # including identical jac_micro values.
    from batch_processing_analysis_spark.operators.dedup import (
        ppjoin_pairs,
    )
    from batch_processing_analysis_spark.operators.incremental import (
        ppjoin_increment_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)

    inc = {(r.id_a, r.id_b): r.jac_micro
           for r in ppjoin_increment_pairs(
               base, delta, t_pct=50, k=3).collect()}
    full = {(r.id_a, r.id_b): r.jac_micro
            for r in ppjoin_pairs(docs, t_pct=50, k=3).collect()}
    expected = {p: j for p, j in full.items()
                if p[0] % 2 == 1 or p[1] % 2 == 1}

    assert inc == expected
    assert inc, "fixture produced no cross-delta pairs"


def test_ppjoin_increment_guard_trips(spark):
    import pytest
    from batch_processing_analysis_spark.operators.dedup import (
        CandidateVolumeExceeded,
    )
    from batch_processing_analysis_spark.operators.incremental import (
        ppjoin_increment_pairs,
    )

    base = spark.createDataFrame(
        [(i, "common boilerplate words") for i in range(0, 40)],
        "doc_id long, text string")
    delta = spark.createDataFrame(
        [(i, "common boilerplate words") for i in range(100, 140)],
        "doc_id long, text string")
    with pytest.raises(CandidateVolumeExceeded,
                       match="lsh_candidate_pairs"):
        ppjoin_increment_pairs(base, delta, t_pct=50, k=1,
                               max_candidates=100).collect()


def test_disjoint_ids_guard(spark):
    """ADVICE r7: the opt-in ``check_disjoint_ids`` guard turns the
    documented globally-unique-id contract into a loud failure on all
    three exact increments; default stays off (no behavior change)."""
    import pytest
    from batch_processing_analysis_spark.operators.incremental import (
        OverlappingIdsError,
        containment_increment_pairs,
        edjoin_increment_pairs,
        ppjoin_increment_pairs,
    )

    base = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        "doc_id long, text string")
    delta = spark.createDataFrame(
        [(2, "epsilon zeta eta theta"), (3, "iota kappa lambda mu")],
        "doc_id long, text string")
    for op in (ppjoin_increment_pairs, containment_increment_pairs,
               edjoin_increment_pairs):
        with pytest.raises(OverlappingIdsError, match="doc_id|2"):
            op(base, delta, check_disjoint_ids=True).collect()
        op(base, delta).collect()  # default: documented contract only

    clean_delta = spark.createDataFrame(
        [(3, "iota kappa lambda mu")], "doc_id long, text string")
    ppjoin_increment_pairs(base, clean_delta,
                           check_disjoint_ids=True).collect()
