"""Self-tests of the benchmark itself (no Spark session needed):

    python3 -m pytest eventlog_bench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import run
import workloads as W
from request import (
    LAYERS,
    Outputs,
    Span,
    check_nonempty,
    check_planted,
    check_wt_invariant,
)
from batch_processing_analysis_spark.config import Configuration

IDS = Configuration().log_ids
SPEC = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))


def _staged_digest(path: str) -> str:
    return W.frame_digest(pq.read_table(path).to_pandas())


def test_same_seed_same_staged_input(tmp_path):
    a = W.stage_parquet(W.loan_log(7, n_cases=120).log, str(tmp_path / "a"), 7, 3)
    b = W.stage_parquet(W.loan_log(7, n_cases=120).log, str(tmp_path / "b"), 7, 3)
    c = W.stage_parquet(W.loan_log(8, n_cases=120).log, str(tmp_path / "c"), 8, 3)
    assert _staged_digest(a) == _staged_digest(b)
    assert _staged_digest(a) != _staged_digest(c)
    small = [W.production_log(s).log for s in (3, 3, 4)]
    assert W.frame_digest(small[0]) == W.frame_digest(small[1]) != W.frame_digest(small[2])


def test_events_seed_only_permutes(tmp_path):
    table = W.events_table(n_users=40)
    p1 = W.stage_parquet(table, str(tmp_path / "e1"), 1, 2)
    p2 = W.stage_parquet(table, str(tmp_path / "e2"), 2, 4)
    first = [pq.read_table(p).column("event_id")[0].as_py() for p in (p1, p2)]
    assert first[0] != first[1]  # row order differs ...
    assert _staged_digest(p1) == _staged_digest(p2)  # ... content does not


def _wt_from_truth(g: W.GeneratedLog) -> pd.DataFrame:
    """A WT table as the engine would return it when discovery recovers
    exactly the planted batches."""
    wt = g.log.copy()
    wt[IDS.batch_id] = np.nan
    wt[IDS.batch_type] = None
    key = wt[IDS.case] + "\x1f" + wt[IDS.activity]
    for i, pb in enumerate(g.batches):
        rows = key.isin({f"{c}\x1f{a}" for c in pb.case_ids for a in pb.activities})
        wt.loc[rows, IDS.batch_id] = float(i + 1)
        wt.loc[rows, IDS.batch_type] = pb.batch_type
    rng = np.random.default_rng(0)
    for col in (IDS.batch_creation_wt, IDS.batch_ready_wt, IDS.batch_other_wt):
        wt[col] = np.where(wt[IDS.batch_id].notna(), rng.integers(0, 10**9, len(wt)), 0)
    wt[IDS.batch_total_wt] = (wt[IDS.batch_creation_wt] + wt[IDS.batch_ready_wt]
                              + wt[IDS.batch_other_wt])
    return wt


def test_checker_accepts_truth_and_rejects_corrupted_rows():
    g = W.loan_log(5, n_cases=200)
    assert {pb.batch_type for pb in g.batches} == {
        W.PARALLEL, W.TASK_SEQUENTIAL, W.TASK_CONCURRENT, W.CASE_SEQUENTIAL}
    cfg = Configuration()
    wt = _wt_from_truth(g)
    assert check_wt_invariant(wt, cfg) == []
    assert check_planted(wt, g, cfg) == []

    bad = wt.copy()
    row = bad.index[bad[IDS.batch_id].notna()][3]
    bad.loc[row, IDS.batch_total_wt] += 1
    assert check_wt_invariant(bad, cfg)

    split = wt.copy()
    split.loc[row, IDS.batch_id] = 10_000.0
    assert check_planted(split, g, cfg)

    retyped = wt.copy()
    retyped.loc[row, IDS.batch_type] = "Parallel" if wt.loc[row, IDS.batch_type] != "Parallel" \
        else "Sequential task-based"
    assert check_planted(retyped, g, cfg)

    merged = wt.copy()
    other = merged.index[merged[IDS.batch_id].isna()][0]
    merged.loc[other, IDS.batch_id] = wt.loc[row, IDS.batch_id]
    assert check_planted(merged, g, cfg)


def test_checker_rejects_empty_outputs():
    wt = _wt_from_truth(W.production_log(1))
    assert check_nonempty(Outputs(wt, "report", "rules", 1.0, 0)) == []
    assert check_nonempty(Outputs(wt, "", "rules", 1.0, 0)) == ["empty report"]
    assert check_nonempty(Outputs(wt.iloc[:0], "r", " ", 1.0, 0)) == [
        "empty waiting-time table", "empty activation rules"]


def _declared(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[kind]}


def test_printed_end_to_end_metrics_match_benchmark_json():
    requests = [{"seconds": s, "events": 100} for s in (5.0, 3.0, 4.0)]
    metrics = run.end_to_end_metrics(requests, 1.0, [0.5, 0.7, 0.6],
                                     {"jvm": 900.0, "python": 100.0})
    assert {k: v["unit"] for k, v in metrics.items()} == _declared("end_to_end")
    assert metrics["cold_request_s"]["value"] == 5.0
    assert metrics["setup_s"]["value"] == 1.6
    assert metrics["events_per_s"]["value"] == 300 / 12.0


def test_printed_layer_metrics_match_benchmark_json():
    spans = [Span(name, 1, "request", 0.0, 1.0, jobs=2, tasks=3, rows_out=4)
             for name in LAYERS]
    stats = {k: 1 for k in run.LAYER_EXTRAS}
    requests = [{"id": 1, "seconds": 8.0, "stats": stats, "retained_rdds": 5}]
    metrics = run.layer_metrics(spans, requests)
    assert {k: v["unit"] for k, v in metrics.items()} == _declared("per_layer")
    assert metrics["discovery.jobs"]["value"] == 2
    assert metrics["trace.overhead_s"]["value"] == 8.0 - len(LAYERS)
    assert metrics["checkpoints.retained_rdds"]["value"] == 5


def test_benchmark_json_workloads_are_runnable():
    assert {w["name"] for w in SPEC["workloads"]} <= set(run.WORKLOADS)
