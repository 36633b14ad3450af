"""Incremental edit-distance join (M145, operators/incremental.py):
delta-touching output identical to the batch Pass-Join operator on the
union minus base-internal pairs, guard trip/passthrough, and the
short-string single-probe-side argument."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from batch_processing_analysis_spark.operators.dedup import (
    CandidateVolumeExceeded,
    edjoin_pairs,
)
from batch_processing_analysis_spark.operators.incremental import (
    edjoin_increment_pairs,
)
from batch_processing_analysis_spark.sources.tables import load_table


def _expected(docs, d, q):
    full = {(r.id_a, r.id_b): r.dist
            for r in edjoin_pairs(docs, d=d, q=q).collect()}
    return {p: v for p, v in full.items()
            if p[0] % 2 == 1 or p[1] % 2 == 1}


def test_increment_identity_on_testdata(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)
    inc = {(r.id_a, r.id_b): r.dist
           for r in edjoin_increment_pairs(base, delta, d=10,
                                           q=8).collect()}
    assert inc == _expected(docs, 10, 8)
    assert inc, "fixture produced no delta-touching edit pairs"


def test_increment_identity_structured_tiny_and_long(spark):
    # mixed regime: tiny-bucket strings, Pass-Join strings, and
    # cross pairs, with near-dups planted in every base/delta combo
    long_a = "the quick brown fox jumps over the lazy dog " * 3
    items = [
        (0, long_a),                      # base
        (1, long_a[:-3] + "cat"),         # delta ~ 0
        (2, "ab"), (3, "abc"),            # base/delta tiny pair
        (4, long_a.replace("quick", "quack")),  # base ~ 0 and 1
        (5, "zz"),                        # delta tiny
        (6, "totally different content that matches nothing at all ok"),
    ]
    docs = spark.createDataFrame(items, "doc_id long, text string")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)
    for d, q in ((3, 3), (10, 4)):
        inc = {(r.id_a, r.id_b): r.dist
               for r in edjoin_increment_pairs(base, delta, d=d,
                                               q=q).collect()}
        full = {(r.id_a, r.id_b): r.dist
                for r in edjoin_pairs(docs, d=d, q=q).collect()}
        want = {p: v for p, v in full.items()
                if p[0] % 2 == 1 or p[1] % 2 == 1}
        assert inc == want, (d, q)
    # base-internal pair (0, 4) must be excluded although within d=10
    full10 = {(r.id_a, r.id_b)
              for r in edjoin_pairs(docs, d=10, q=4).collect()}
    assert (0, 4) in full10
    inc10 = {(r.id_a, r.id_b)
             for r in edjoin_increment_pairs(base, delta, d=10,
                                             q=4).collect()}
    assert (0, 4) not in inc10


def test_guard_trips_and_passthrough(spark):
    rows = [(i, "same exact words forever repeated") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)
    with pytest.raises(CandidateVolumeExceeded):
        edjoin_increment_pairs(base, delta, d=2, q=3,
                               max_candidates=3).collect()
    unguarded = sorted(map(tuple, edjoin_increment_pairs(
        base, delta, d=2, q=3).collect()))
    guarded = sorted(map(tuple, edjoin_increment_pairs(
        base, delta, d=2, q=3, max_candidates=10**9).collect()))
    assert unguarded == guarded


def test_edjoin_exhaustive_small_space(spark):
    """EXHAUSTIVE verification of the Pass-Join operator on the full
    string space over {a,b} up to length 7 (254 strings, every pair
    brute-checked): at d=1/q=2 the Pass-Join path handles every
    string longer than the 3-char tiny cutoff, at d=2/q=2 the two
    paths split at 7 — so chunk scheme, shift windows, tiny bucket,
    and their union boundary are all covered with no sampling."""
    import itertools

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    items = []
    for L in range(1, 8):
        for tpl in itertools.product("ab", repeat=L):
            items.append((len(items), "".join(tpl)))
    df = spark.createDataFrame(items, "doc_id long, text string")
    for d in (1, 2):
        want = {}
        for (i, a), (j, b) in itertools.combinations(items, 2):
            if abs(len(a) - len(b)) <= d:
                dd = lev(a, b)
                if dd <= d:
                    want[(i, j)] = dd
        got = {(r.id_a, r.id_b): r.dist
               for r in edjoin_pairs(df, d=d, q=2).collect()}
        assert got == want, f"d={d}"
