"""Batch discovery (W1-W3 + repair passes) on handcrafted logs with
known ground-truth batches."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from batch_processing_analysis_spark.config import BatchType, Configuration, EventLogIDs
from batch_processing_analysis_spark.operators.discovery import (
    detect_task_batches,
    discover_batches,
)

IDS = EventLogIDs()
CFG = Configuration()


def ts(h, m=0, s=0):
    return datetime(2024, 1, 1, h, m, s)


def make_log(spark, rows):
    # rows: (case, activity, resource, start, end, enabled)
    return spark.createDataFrame(
        rows, schema=f"{IDS.case} string, {IDS.activity} string, {IDS.resource} string, "
                     f"{IDS.start_time} timestamp, {IDS.end_time} timestamp, "
                     f"{IDS.enabled_time} timestamp"
    )


@pytest.fixture(scope="module")
def ground_truth_log(spark):
    rows = [
        # Parallel batch: 3 cases of A on r1, identical [10:00, 10:30].
        ("c1", "A", "r1", ts(10), ts(10, 30), ts(9)),
        ("c2", "A", "r1", ts(10), ts(10, 30), ts(9, 10)),
        ("c3", "A", "r1", ts(10), ts(10, 30), ts(9, 20)),
        # Sequential task batch: B on r1, back-to-back (gap 0).
        ("c1", "B", "r1", ts(11), ts(11, 10), ts(10, 30)),
        ("c2", "B", "r1", ts(11, 10), ts(11, 20), ts(10, 30)),
        ("c3", "B", "r1", ts(11, 20), ts(11, 30), ts(10, 30)),
        # Concurrent task batch: C on r2, overlapping.
        ("c1", "C", "r2", ts(9), ts(9, 30), ts(8)),
        ("c2", "C", "r2", ts(9, 15), ts(9, 45), ts(8)),
        # Unbatched singleton.
        ("c1", "D", "r2", ts(12), ts(12, 30), ts(11, 30)),
        # Gap > 0 between executions of E -> two singletons, no batch.
        ("c1", "E", "r3", ts(8), ts(8, 30), ts(7)),
        ("c2", "E", "r3", ts(9, 30), ts(10), ts(7)),
    ]
    return make_log(spark, rows)


def groups(out, ids=IDS):
    """(type -> set of frozenset of (case, activity)) for batched rows."""
    rows = [r for r in out.collect() if r[ids.batch_id] is not None]
    by_id: dict = {}
    for r in rows:
        by_id.setdefault(r[ids.batch_id], (r[ids.batch_type], set()))
        by_id[r[ids.batch_id]][1].add((r[ids.case], r[ids.activity]))
    result: dict = {}
    for btype, members in by_id.values():
        result.setdefault(btype, set()).add(frozenset(members))
    return result


def test_task_level_types_and_membership(ground_truth_log):
    out = discover_batches(ground_truth_log, CFG, detect_case_level=False)
    g = groups(out)
    assert g[BatchType.parallel] == {
        frozenset({("c1", "A"), ("c2", "A"), ("c3", "A")})}
    assert g[BatchType.task_sequential] == {
        frozenset({("c1", "B"), ("c2", "B"), ("c3", "B")})}
    assert g[BatchType.task_concurrent] == {
        frozenset({("c1", "C"), ("c2", "C")})}
    # D (singleton) and both E rows (gap) stay unbatched.
    unbatched = {(r[IDS.case], r[IDS.activity])
                 for r in out.collect() if r[IDS.batch_id] is None}
    assert unbatched == {("c1", "D"), ("c1", "E"), ("c2", "E")}


def test_batch_ids_are_dense_and_type_consistent(ground_truth_log):
    out = discover_batches(ground_truth_log, CFG, detect_case_level=False)
    rows = [r for r in out.collect() if r[IDS.batch_id] is not None]
    ids_seen = sorted({r[IDS.batch_id] for r in rows})
    assert ids_seen == list(range(1, len(ids_seen) + 1))
    by_id = {}
    for r in rows:
        by_id.setdefault(r[IDS.batch_id], set()).add(r[IDS.batch_type])
    assert all(len(types) == 1 for types in by_id.values())


def test_min_size_filter_drops_small_instances(spark):
    cfg = Configuration(min_batch_instance_size=3)
    rows = [
        ("c1", "A", "r1", ts(10), ts(10, 30), ts(9)),
        ("c2", "A", "r1", ts(10), ts(10, 30), ts(9)),
    ]
    out = discover_batches(make_log(spark, rows), cfg, detect_case_level=False)
    assert all(r[IDS.batch_id] is None for r in out.collect())


def test_wrong_enabled_case_split_off(spark):
    # c3/c4 only became enabled AFTER the batch's first start -> they
    # cannot belong to the accumulation; reference splits them off
    # iteratively (discovery.py:12-81). Fixture respects the
    # enabled<=own-start invariant estimated enabled times guarantee.
    rows = [
        ("c1", "A", "r1", ts(10), ts(10, 10), ts(9)),
        ("c2", "A", "r1", ts(10, 10), ts(10, 20), ts(9, 30)),
        ("c3", "A", "r1", ts(10, 20), ts(10, 30), ts(10, 5)),
        ("c4", "A", "r1", ts(10, 30), ts(10, 40), ts(10, 15)),
    ]
    out = discover_batches(make_log(spark, rows), Configuration(), detect_case_level=False)
    g = groups(out)
    assert g[BatchType.task_sequential] == {
        frozenset({("c1", "A"), ("c2", "A")}),
        frozenset({("c3", "A"), ("c4", "A")}),
    }


def test_case_level_subprocess_batches(spark):
    # Three cases each run the SAME 2-activity subsequence (X then Y) on
    # r1; the three envelopes execute back-to-back -> Sequential case-based.
    rows = []
    for i, c in enumerate(["c1", "c2", "c3"]):
        base = 10 + i  # envelopes [10:00-11:00], [11:00-12:00], [12:00-13:00]
        rows += [
            (c, "X", "r1", ts(base), ts(base, 30), ts(9)),
            (c, "Y", "r1", ts(base, 30), ts(base + 1), ts(9)),
        ]
    out = discover_batches(make_log(spark, rows), Configuration(), detect_case_level=True)
    g = groups(out)
    assert g[BatchType.case_sequential] == {
        frozenset({(c, a) for c in ["c1", "c2", "c3"] for a in ["X", "Y"]})}


def test_detect_task_batches_marks_raw_chains(ground_truth_log):
    df = detect_task_batches(ground_truth_log, IDS)
    typed = {(r[IDS.case], r[IDS.activity]): r["_task_type"] for r in df.collect()}
    assert typed[("c1", "A")] == "simultaneous"
    assert typed[("c2", "B")] == "sequential"
    assert typed[("c1", "C")] == "concurrent"
    assert typed[("c1", "D")] is None


def test_subsequence_mode_all_finds_embedded_subsequences(spark):
    # Each case runs [A, B, X_i] contiguously on r1 with a DIFFERENT
    # trailing activity, at identical times across cases. "freq"
    # (maximal runs) sees three distinct activity sequences -> no
    # case-level batch; "all" enumerates the embedded [A, B]
    # subsequence shared by all three -> a Parallel subprocess batch.
    rows = []
    for c, tail in [("c1", "C"), ("c2", "D"), ("c3", "E")]:
        rows += [
            (c, "A", "r1", ts(10), ts(10, 30), ts(9)),
            (c, "B", "r1", ts(10, 30), ts(11), ts(9)),
            (c, tail, "r1", ts(11), ts(11, 30), ts(9)),
        ]
    log = make_log(spark, rows)

    out_freq = discover_batches(log, Configuration(subsequence_mode="freq"))
    g_freq = groups(out_freq)
    # freq: only task-level batches (A-parallel, B-parallel, no sub).
    assert BatchType.case_sequential not in g_freq
    assert BatchType.case_concurrent not in g_freq
    assert frozenset({(c, a) for c in ["c1", "c2", "c3"] for a in ["A", "B"]}) \
        not in g_freq.get(BatchType.parallel, set())

    out_all = discover_batches(log, Configuration(subsequence_mode="all"))
    g_all = groups(out_all)
    # all: the [A, B] envelope chains across the three cases
    # (identical envelope times -> simultaneous -> Parallel).
    assert frozenset({(c, a) for c in ["c1", "c2", "c3"] for a in ["A", "B"]}) \
        in g_all.get(BatchType.parallel, set())


def test_subsequence_mode_all_matches_freq_on_exact_runs(spark):
    # When maximal runs ARE the shared subsequence (no embedding), the
    # two modes must agree: conflict resolution prefers the longest
    # highest-support chain, which is the maximal run itself.
    rows = []
    for i, c in enumerate(["c1", "c2", "c3"]):
        base = 10 + i
        rows += [
            (c, "X", "r1", ts(base), ts(base, 30), ts(9)),
            (c, "Y", "r1", ts(base, 30), ts(base + 1), ts(9)),
        ]
    log = make_log(spark, rows)
    g_freq = groups(discover_batches(log, Configuration(subsequence_mode="freq")))
    g_all = groups(discover_batches(log, Configuration(subsequence_mode="all")))
    assert g_freq[BatchType.case_sequential] == g_all[BatchType.case_sequential]


def test_gap_tolerance_merges_separated_runs(ground_truth_log):
    """W3: a nonzero gap chains executions the strict (gap=0) pass
    leaves unbatched (reference batch_detection.R:54-77 gap driver;
    config.py gap_seconds). The two E executions sit exactly 3600 s
    apart, so gap=3600 merges them and gap=3599 must not."""
    g = groups(discover_batches(ground_truth_log, Configuration(gap_seconds=3600),
                                detect_case_level=False))
    assert frozenset({("c1", "E"), ("c2", "E")}) in g[BatchType.task_sequential]
    # Other ground-truth batches are unaffected by the wider gap.
    assert frozenset({("c1", "A"), ("c2", "A"), ("c3", "A")}) in g[BatchType.parallel]
    assert frozenset({("c1", "B"), ("c2", "B"), ("c3", "B")}) \
        in g[BatchType.task_sequential]

    g_short = groups(discover_batches(ground_truth_log, Configuration(gap_seconds=3599),
                                      detect_case_level=False))
    assert frozenset({("c1", "E"), ("c2", "E")}) \
        not in g_short.get(BatchType.task_sequential, set())


def test_subsequence_mode_mined_requires_pattern_support(spark):
    # "mined" (bamalog identify_frequent_sequences, batch_detection.R:
    # 57-65): only (resource, activity-sequence) patterns occurring in
    # >= min_support distinct cases become candidate envelopes. The
    # [A, B] pattern spans three cases (support 3); the [P, Q] pattern
    # exists in ONE case only (support 1) — "all" would still chain its
    # two simultaneous envelopes... but with one case it cannot batch
    # anyway, so plant [P, Q] in TWO cases and mine at support 3: "all"
    # batches both patterns, "mined" keeps only [A, B].
    rows = []
    for c, tail in [("c1", "C"), ("c2", "D"), ("c3", "E")]:
        rows += [
            (c, "A", "r1", ts(10), ts(10, 30), ts(9)),
            (c, "B", "r1", ts(10, 30), ts(11), ts(9)),
            (c, tail, "r1", ts(11), ts(11, 30), ts(9)),
        ]
    for c in ["c8", "c9"]:
        rows += [
            (c, "P", "r2", ts(12), ts(12, 30), ts(9)),
            (c, "Q", "r2", ts(12, 30), ts(13), ts(9)),
        ]
    log = make_log(spark, rows)

    ab = frozenset({(c, a) for c in ["c1", "c2", "c3"] for a in ["A", "B"]})
    pq = frozenset({(c, a) for c in ["c8", "c9"] for a in ["P", "Q"]})

    g_all = groups(discover_batches(log, Configuration(subsequence_mode="all")))
    assert ab in g_all.get(BatchType.parallel, set())
    assert pq in g_all.get(BatchType.parallel, set())

    g_mined = groups(discover_batches(log, Configuration(
        subsequence_mode="mined", subsequence_min_support=3)))
    assert ab in g_mined.get(BatchType.parallel, set())
    assert all(pq != got for t in g_mined for got in g_mined[t])

    # At support 2 the [P, Q] pattern qualifies again.
    g_mined2 = groups(discover_batches(log, Configuration(
        subsequence_mode="mined", subsequence_min_support=2)))
    assert pq in g_mined2.get(BatchType.parallel, set())


# ---------------------------------------------------------------------------
# Labeling: split index, min-size filter and ids evaluated together over
# one (instance, case) table — the interactions between the three rules.
# ---------------------------------------------------------------------------

def _subprocess_xy_rows(cases, resource="r1"):
    """Each case runs X then Y on ``resource`` at identical times, so the
    [X, Y] envelopes chain into one Parallel subprocess instance and the
    X rows also form one Parallel task chain."""
    return [
        row
        for c in cases
        for row in (
            (c, "X", resource, ts(10), ts(10, 30), ts(9)),
            (c, "Y", resource, ts(10, 30), ts(11), ts(9)),
        )
    ]


def _x_only_rows(cases, resource="r1"):
    # Same X execution as the subprocess cases, but the case's run on
    # the resource is [X] alone: no envelope, task level only.
    return [(c, "X", resource, ts(10), ts(10, 30), ts(9)) for c in cases]


def test_small_subprocess_instance_leaves_rows_unbatched(spark):
    # The [X, Y] instance has 2 cases < 3, so it goes; its rows are NOT
    # demoted to the X task chain (c1, c2, c3: 3 cases, which would
    # pass). With them out, the X chain outside subprocesses is c3 alone.
    rows = _subprocess_xy_rows(["c1", "c2"]) + _x_only_rows(["c3"])
    out = discover_batches(make_log(spark, rows),
                           Configuration(min_batch_instance_size=3))
    assert all(r[IDS.batch_id] is None for r in out.collect())


def test_task_instance_size_counts_rows_outside_subprocesses(spark):
    # The [X, Y] instance (c1-c3) survives; the X task chain spans
    # c1-c5, but only c4 and c5 lie outside the subprocess instance:
    # 2 cases < 3, so their rows stay unbatched.
    rows = _subprocess_xy_rows(["c1", "c2", "c3"]) + _x_only_rows(["c4", "c5"])
    out = discover_batches(make_log(spark, rows),
                           Configuration(min_batch_instance_size=3))
    assert groups(out) == {BatchType.parallel: {
        frozenset({(c, a) for c in ["c1", "c2", "c3"] for a in ["X", "Y"]})}}


def test_wrong_enabled_split_drops_small_later_part(spark):
    # c3 is enabled after the instance's first start, so it splits off;
    # the later part {c3} is under the min size and goes, the earlier
    # part {c1, c2} stays a batch.
    rows = [
        ("c1", "A", "r1", ts(10), ts(10, 10), ts(9)),
        ("c2", "A", "r1", ts(10, 10), ts(10, 20), ts(9, 30)),
        ("c3", "A", "r1", ts(10, 20), ts(10, 30), ts(10, 5)),
    ]
    out = discover_batches(make_log(spark, rows), Configuration(min_batch_instance_size=2),
                           detect_case_level=False)
    assert groups(out) == {BatchType.task_sequential: {
        frozenset({("c1", "A"), ("c2", "A")})}}
    assert [r[IDS.batch_id] for r in out.collect() if r[IDS.case] == "c3"] == [None]


def test_ids_dense_task_instances_before_subprocess_instances(spark):
    # The subprocess instance lives on r1 and the task instances on r2
    # and r3, so ordering by resource alone would number the subprocess
    # first; the level comes first: task ids 1..2, subprocess id 3.
    rows = []
    for i, c in enumerate(["c1", "c2", "c3"]):
        base = 10 + i  # back-to-back [X, Y] envelopes on r1
        rows += [
            (c, "X", "r1", ts(base), ts(base, 30), ts(9)),
            (c, "Y", "r1", ts(base, 30), ts(base + 1), ts(9)),
            (c, "B", "r2", ts(14, 10 * i), ts(14, 10 * i + 10), ts(9)),
            (c, "C", "r3", ts(15), ts(15, 30), ts(9)),
        ]
    out = discover_batches(make_log(spark, rows), Configuration())
    types = {r[IDS.batch_id]: r[IDS.batch_type]
             for r in out.collect() if r[IDS.batch_id] is not None}
    assert types == {
        1: BatchType.task_sequential,  # B on r2
        2: BatchType.parallel,  # C on r3
        3: BatchType.case_sequential,  # [X, Y] on r1
    }
