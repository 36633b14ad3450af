"""Enabled-time estimation (U2) semantics on handcrafted traces.

Expected values derived by hand from the documented semantics
(operators/enablement.py): enabled(e) = max end among earlier,
non-concurrent, same-case events with end <= start(e); fallback =
case first start.
"""

from __future__ import annotations

from datetime import datetime

from batch_processing_analysis_spark.config import EventLogIDs
from batch_processing_analysis_spark.operators import enablement
from batch_processing_analysis_spark.operators.enablement import (
    add_enabled_times,
    concurrency_pairs,
    directly_follows_matrix,
)

IDS = EventLogIDs()


def ts(h, m=0, s=0):
    return datetime(2024, 1, 1, h, m, s)


def make_log(spark, rows):
    return spark.createDataFrame(
        rows, schema=f"{IDS.case} string, {IDS.activity} string, {IDS.resource} string, "
                     f"{IDS.start_time} timestamp, {IDS.end_time} timestamp"
    )


def test_sequential_trace_enabled_is_previous_end(spark):
    log = make_log(spark, [
        ("c1", "A", "r1", ts(9), ts(10)),
        ("c1", "B", "r1", ts(10, 30), ts(11)),
        ("c1", "C", "r1", ts(11, 30), ts(12)),
    ])
    out = {r[IDS.activity]: r[IDS.enabled_time]
           for r in add_enabled_times(log, IDS).collect()}
    assert out["A"] == ts(9)        # first event: fallback = case first start
    assert out["B"] == ts(10)       # end of A
    assert out["C"] == ts(11)       # end of B


def test_concurrent_activities_do_not_enable_each_other(spark):
    # X and Y directly-follow each other in both orders across cases ->
    # concurrent -> Y's enabler in c1 skips X even though X ended first.
    log = make_log(spark, [
        ("c1", "A", "r1", ts(8), ts(9)),
        ("c1", "X", "r1", ts(9), ts(10)),
        ("c1", "Y", "r1", ts(10, 12), ts(11)),
        ("c2", "Y", "r1", ts(8), ts(9)),
        ("c2", "X", "r1", ts(9), ts(10)),
    ])
    pairs = concurrency_pairs(directly_follows_matrix(log, IDS), 0.1)
    assert ("X", "Y") in pairs and ("Y", "X") in pairs

    out = {(r[IDS.case], r[IDS.activity]): r[IDS.enabled_time]
           for r in add_enabled_times(log, IDS).collect()}
    assert out[("c1", "X")] == ts(9)      # end of A (A-X not concurrent)
    assert out[("c1", "Y")] == ts(9)      # end of A; X skipped as concurrent
    assert out[("c2", "X")] == ts(8)      # Y skipped -> fallback first start


def test_enabler_must_finish_before_start(spark):
    # consider_start_times=True: B overlaps A (starts before A ends) so A
    # cannot be its enabler -> fallback to case first start.
    log = make_log(spark, [
        ("c1", "A", "r1", ts(9), ts(11)),
        ("c1", "B", "r2", ts(10), ts(12)),
    ])
    out = {r[IDS.activity]: r[IDS.enabled_time]
           for r in add_enabled_times(log, IDS).collect()}
    assert out["B"] == ts(9)


def _as_rows(df):
    cols = [IDS.case, IDS.activity, IDS.start_time, IDS.end_time, IDS.enabled_time]
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_partner_table_matches_literal_on_large_alphabet(spark, monkeypatch):
    # ~800 activities, 400 symmetric concurrent pairs (800 directed):
    # above _LITERAL_PAIRS_LIMIT the relation must become a broadcast
    # partner TABLE (literals in the expression tree made Catalyst
    # analysis quadratic in |A|), with identical values. Each shape is
    # forced through the limit.
    from datetime import timedelta

    base = datetime(2024, 1, 1)
    rows = []
    for i in range(400):
        a, b = f"A{i}", f"B{i}"
        # two interleavings of (a, b) -> df(a,b) > 0 and df(b,a) > 0
        # with balanced counts -> concurrent under the 0.1 threshold
        for j, order in enumerate(((a, b), (b, a))):
            c = f"c{i}_{j}"
            s = base + timedelta(hours=i)
            rows.append((c, order[0], "r1", s, s + timedelta(minutes=1)))
            rows.append((c, order[1], "r1", s + timedelta(minutes=2),
                         s + timedelta(minutes=3)))
            # a shared successor so enablement has something to compute
            rows.append((c, "END", "r1", s + timedelta(minutes=4),
                         s + timedelta(minutes=5)))
    log = make_log(spark, rows)
    n_pairs = len(concurrency_pairs(directly_follows_matrix(log, IDS)))
    assert n_pairs == 800 > enablement._LITERAL_PAIRS_LIMIT
    monkeypatch.setattr(enablement, "_LITERAL_PAIRS_LIMIT", 10**9)
    lit = _as_rows(add_enabled_times(log, IDS))
    monkeypatch.setattr(enablement, "_LITERAL_PAIRS_LIMIT", 0)
    tab = _as_rows(add_enabled_times(log, IDS))
    assert lit == tab
    # the shared successor is enabled by its case's second event
    assert {r[4] - r[2] for r in tab if r[1] == "END"} == {timedelta(minutes=-1)}
