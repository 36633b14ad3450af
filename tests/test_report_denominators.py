"""The report's occurrence denominators on a handcrafted log, against a
plain-Python transcription of the reference's count (utils.py:199-229):
the pattern of a batch key is the ordered activity list of the first
case (in row order) of the key's first batch instance; a 1-activity
pattern counts every execution of that activity in the log, a longer
one counts its exact contiguous matches in each case's events, sorted
by (start, end) with a stable sort over row order.

The log covers a 1-activity key, keys of 2 and 3 activities (two
pattern lengths), the first-case ``[D, D]`` quirk, a key with no match
(and the frequency clamp to 1), a tie on (start, end) that only the
row-order column breaks, and a null activity on an unbatched row inside
an otherwise matching window."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from batch_processing_analysis_spark.config import Configuration
from batch_processing_analysis_spark.operators.reporting import OVERALL, batch_report

CFG = Configuration()
IDS = CFG.log_ids
T0 = datetime(2024, 1, 1, 8, 0)

# (case, activity, start min, end min, batch id) in row (file) order;
# batch id None = unbatched.
EVENTS = [
    # ("A",): instances 1 and 7; A also runs unbatched.
    ("c1", "A", 0, 5, 1), ("c2", "A", 1, 6, 1), ("c16", "A", 2, 7, None),
    ("c17", "A", 40, 45, 7), ("c17", "X", 50, 55, None),
    # ("B", "C"): pattern from instance 2 (the smaller id), first case c3.
    ("c3", "B", 10, 15, 2), ("c3", "C", 16, 20, 2),
    ("c4", "C", 11, 14, 2), ("c4", "B", 15, 19, 2),
    ("c18", "C", 60, 62, 8), ("c18", "B", 63, 65, 8),
    ("c19", "B", 70, 71, None), ("c19", "C", 72, 73, None),
    # A null activity between B and C: neither window matches.
    ("c10", "B", 80, 81, None), ("c10", None, 82, 83, None), ("c10", "C", 84, 85, None),
    # ("E", "F", "G"): a 3-activity pattern.
    ("c5", "E", 100, 101, 3), ("c5", "F", 102, 103, 3), ("c5", "G", 104, 105, 3),
    ("c6", "E", 100, 102, 3), ("c6", "F", 103, 104, 3), ("c6", "G", 105, 106, 3),
    ("c20", "E", 110, 111, None), ("c20", "F", 112, 113, None),
    ("c20", "G", 114, 115, None), ("c20", "E", 116, 117, None),
    # ("D",): the first case ran D twice, so the pattern is ["D", "D"].
    ("c7", "D", 120, 121, 4), ("c7", "D", 122, 123, 4), ("c8", "D", 121, 124, 4),
    ("c9", "D", 130, 131, None), ("c9", "D", 132, 133, None), ("c9", "D", 134, 135, None),
    # ("I", "J"): an unbatched Z sits between I and J, so [I, J] never matches.
    ("c11", "I", 140, 141, 5), ("c11", "Z", 142, 143, None), ("c11", "J", 144, 145, 5),
    # ("K", "L"): equal (start, end) in c12; row order puts L first, so the
    # pattern is [L, K] (sorting on the activity would give [K, L]).
    ("c12", "L", 150, 151, 6), ("c12", "K", 150, 151, 6),
    ("c13", "L", 160, 161, None), ("c13", "K", 162, 163, None),
    ("c14", "K", 170, 171, None), ("c14", "L", 172, 173, None),
    ("c15", "L", 180, 181, None), ("c15", "K", 182, 183, None),
]


def _reference_occurrences(events) -> dict[tuple, int]:
    """Batch key -> total occurrences, transcribed loop for loop."""
    rows = [dict(case=c, act=a, s=s, e=e, batch=b, i=i)
            for i, (c, a, s, e, b) in enumerate(events)]
    by_batch: dict[int, list[dict]] = {}
    for r in rows:
        if r["batch"] is not None:
            by_batch.setdefault(r["batch"], []).append(r)
    by_case: dict[str, list[dict]] = {}
    for r in rows:
        by_case.setdefault(r["case"], []).append(r)

    def ordered(rs):
        return [r["act"] for r in sorted(rs, key=lambda r: (r["s"], r["e"]))]

    out: dict[tuple, int] = {}
    for batch in sorted(by_batch):
        inst = by_batch[batch]
        key = tuple(sorted({r["act"] for r in inst}))
        if key in out:
            continue
        first_case = inst[0]["case"]
        pattern = ordered([r for r in inst if r["case"] == first_case])
        if len(pattern) == 1:
            out[key] = sum(r["act"] == pattern[0] for r in rows)
            continue
        count = 0
        for rs in by_case.values():
            acts = ordered(rs)
            for j in range(len(acts) - len(pattern) + 1):
                if acts[j:j + len(pattern)] == pattern:
                    count += 1
        out[key] = count
    return out


@pytest.fixture(scope="module")
def report(spark):
    dur_cols = [IDS.batch_pt, IDS.batch_wt, IDS.batch_total_wt,
                IDS.batch_creation_wt, IDS.batch_ready_wt, IDS.batch_other_wt]
    rows = [
        (c, a, T0 + timedelta(minutes=s), T0 + timedelta(minutes=s),
         T0 + timedelta(minutes=e), "R1", b, None if b is None else "Sequential",
         *[0] * len(dur_cols), i)
        for i, (c, a, s, e, b) in enumerate(EVENTS)
    ]
    schema = (
        f"{IDS.case} string, {IDS.activity} string, {IDS.enabled_time} timestamp, "
        f"{IDS.start_time} timestamp, {IDS.end_time} timestamp, {IDS.resource} string, "
        f"{IDS.batch_id} long, {IDS.batch_type} string, "
        + ", ".join(f"{c} long" for c in dur_cols) + ", _order long"
    )
    log = spark.createDataFrame(rows, schema)
    return {tuple(r["activities"]): r for r in
            batch_report(log, CFG, order_col="_order").collect()
            if r[IDS.batch_type] == OVERALL}


def test_transcription_covers_every_case():
    want = _reference_occurrences(EVENTS)
    assert want == {
        ("A",): 4,              # every execution of A, batched or not
        ("B", "C"): 2,          # c3, c19; not c4, c18 (C first) or c10 (null)
        ("E", "F", "G"): 3,     # c5, c6, c20
        ("D",): 3,              # [D, D]: once in c7, twice in c9
        ("I", "J"): 0,
        ("K", "L"): 3,          # [L, K]: c12, c13, c15
    }


def test_total_occurrences_match_the_reference(report):
    got = {key: r["total_occurrences"] for key, r in report.items()}
    assert got == _reference_occurrences(EVENTS)


def test_zero_occurrences_clamp_frequency_to_cases(report):
    r = report[("I", "J")]
    assert r["total_occurrences"] == 0
    assert r["num_cases"] == 1
    assert r["frequency"] == 1.0
