"""X3/X5/X6 preprocessing operators on handcrafted logs (reference:
src/preprocessing/handoff_batch.py:66-215). Expected values derived by
hand from the reference's pandas/timedelta arithmetic."""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from batch_processing_analysis_spark.config import EventLogIDs
from batch_processing_analysis_spark.preprocessing import (
    displace_calendar_unavailability,
    extract_traces_containing,
    filter_event_blacklist,
    find_prioritization_pairs,
)

IDS = EventLogIDs()
BASE = datetime(2024, 1, 1)  # a Monday


def t(sec):
    return BASE + timedelta(seconds=sec)


def make_log(spark, rows, enabled=False):
    schema = (
        f"{IDS.case} string, {IDS.activity} string, {IDS.resource} string, "
        f"{IDS.start_time} timestamp, {IDS.end_time} timestamp"
    )
    if enabled:
        schema += f", {IDS.enabled_time} timestamp"
    return spark.createDataFrame(rows, schema)


# --------------------------------------------------------------------------
# X3
# --------------------------------------------------------------------------

def test_extract_traces_containing(spark):
    rows = []
    # 5 cases with 'Assess', 2 without; 40% of 5 -> round(2.0) = 2 kept.
    for i in range(5):
        rows.append((f"a{i}", "Assess", "r", t(0), t(1)))
        rows.append((f"a{i}", "Other", "r", t(2), t(3)))
    for i in range(2):
        rows.append((f"z{i}", "Other", "r", t(0), t(1)))
    out = extract_traces_containing(make_log(spark, rows), IDS, "Assess", 0.4)
    kept = sorted({r[IDS.case] for r in out.collect()})
    assert kept == ["a0", "a1"]  # first 2 case ids, both events of each
    assert out.count() == 4


def test_extract_traces_rounding_half_up(spark):
    # 3 matching cases at 50% -> floor(1.5 + .5) = 2 (documented half-up).
    rows = [(f"c{i}", "A", "r", t(0), t(1)) for i in range(3)]
    out = extract_traces_containing(make_log(spark, rows), IDS, "A", 0.5)
    assert sorted({r[IDS.case] for r in out.collect()}) == ["c0", "c1"]


# --------------------------------------------------------------------------
# X5
# --------------------------------------------------------------------------

def _py_displaced(x, day_target, hour_target):
    """The reference's timedelta formula verbatim (handoff_batch.py:115-121)."""
    return x + timedelta(
        days=(day_target - x.weekday()),
        hours=(hour_target - x.hour) % 24,
        minutes=(59 - x.minute),
        seconds=(59 - x.second),
        microseconds=(1_000_000 - x.microsecond),
    )


def test_displacement_matches_reference_formula(spark):
    # Thursday (dow=3) 14:37:05.250 -> Loan Officer rule fires (dow>2).
    x = datetime(2024, 1, 4, 14, 37, 5, 250_000)
    rows = [
        ("c1", "A", "Loan Officer 1", x, x + timedelta(hours=1)),
        ("c2", "A", "Senior Officer 1", x, x + timedelta(hours=1)),  # dow=3: no rule
        ("c3", "A", "Clerk", x, x + timedelta(hours=1)),
    ]
    out = {r[IDS.resource]: r for r in
           displace_calendar_unavailability(make_log(spark, rows), IDS).collect()}
    assert out["Loan Officer 1"][IDS.start_time] == _py_displaced(x, 6, 8)
    assert out["Senior Officer 1"][IDS.start_time] == x
    assert out["Clerk"][IDS.start_time] == x
    # End times are never displaced (reference only moves start_time).
    assert out["Loan Officer 1"][IDS.end_time] == x + timedelta(hours=1)


def test_displacement_senior_rule_and_midnight_wrap(spark):
    # Monday (dow=0) 03:00 -> Senior rule (dow<3); (8-3)%24=5h, no wrap.
    # Tuesday (dow=1) 23:59:59.999999 -> full rollover edge.
    a = datetime(2024, 1, 1, 3, 0, 0, 0)
    b = datetime(2024, 1, 2, 23, 59, 59, 999_999)
    rows = [("c1", "A", "Senior Officer 2", a, a + timedelta(hours=1)),
            ("c2", "A", "Senior Officer 2", b, b + timedelta(hours=1))]
    out = sorted(displace_calendar_unavailability(make_log(spark, rows), IDS).collect(),
                 key=lambda r: r[IDS.case])
    assert out[0][IDS.start_time] == _py_displaced(a, 2, 8)
    assert out[1][IDS.start_time] == _py_displaced(b, 2, 8)


# --------------------------------------------------------------------------
# X6
# --------------------------------------------------------------------------

def _scenario(spark):
    """e1 = (case 1, B on R, [10,20), zero wait); e2 = (case 2, Y on R,
    [20,30), enabled at 12 — strictly inside e1's execution and starting
    exactly at e1's end)."""
    enabled_rows = [
        ("1", "A", "R2", t(0), t(10), t(0)),
        ("1", "B", "R", t(10), t(20), t(10)),
        ("2", "X", "R2", t(5), t(12), t(5)),
        ("2", "Y", "R", t(20), t(30), t(12)),
    ]
    base_rows = [r[:5] for r in enabled_rows]
    return (make_log(spark, enabled_rows, enabled=True),
            make_log(spark, base_rows))


def test_find_prioritization_pairs(spark):
    enabled_log, _ = _scenario(spark)
    pairs = find_prioritization_pairs(enabled_log, IDS, "B").collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p["case_1"], p["case_2"]) == ("1", "2")
    assert p["activity_2"] == "Y"
    us = 1_000_000

    def to_us(sec):
        return int(t(sec).timestamp()) * us

    assert p["enabled_2"] == to_us(12)
    assert p["start_2"] == to_us(20) and p["end_1"] == to_us(20)


# --------------------------------------------------------------------------
# X4 (reference handoff_batch.py:77-98 _log_filtering)
# --------------------------------------------------------------------------

def test_filter_event_blacklist_normalizes_like_reference(spark):
    ref_norm = lambda x: x.strip().replace("\xa0", "").replace("  ", " ")
    names = [
        "  Loan application approved ",       # strip only -> blacklisted
        "Check\xa0application",               # interior NBSP removed
        "Assess  eligibility",                # double space collapsed
        "Assess eligibility",                 # collides with the above
        " \xa0 EVENT 33 CATCH TIMER\xa0",     # NBSP inside the strip zone
        "Approve   loan",                     # 3 spaces -> 2 (one pass)
        "ok",
    ]
    blacklist = ["Loan application approved", "EVENT 33 CATCH TIMER"]
    rows = [(str(i), n, "r1", t(i), t(i + 1)) for i, n in enumerate(names)]
    out = filter_event_blacklist(make_log(spark, rows), IDS, blacklist)
    got = {r[IDS.case]: r[IDS.activity] for r in out.collect()}
    expected = {
        str(i): ref_norm(n)
        for i, n in enumerate(names)
        if ref_norm(n) not in blacklist
    }
    assert got == expected
    # sanity: the reference one-pass replace leaves "Approve  loan" as-is
    assert got["5"] == "Approve  loan"


def test_filter_event_blacklist_empty_blacklist_keeps_all(spark):
    rows = [("1", "A", "r1", t(0), t(1)), ("2", "B", "r1", t(2), t(3))]
    out = filter_event_blacklist(make_log(spark, rows), IDS, [])
    assert out.count() == 2
