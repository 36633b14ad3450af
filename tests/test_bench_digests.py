"""Cross-commit output gate: ``pipeline.analyze`` on the event-log
benchmark's seed-1 inputs, staged the way ``eventlog_bench/run.py``
stages them, must print the digests the benchmark prints for them
(``run.py --seed 1``, the ``digests:`` line). A change that alters any
output of the request (WT table, report text, rules text) fails here,
not only in a later comparison of two benchmark runs."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

from batch_processing_analysis_spark.config import Configuration
from batch_processing_analysis_spark.pipeline import analyze
from batch_processing_analysis_spark.sources.event_log import read_event_log_parquet

BENCH = str(Path(__file__).resolve().parent.parent / "eventlog_bench")

# (workload, input) -> digest printed by the benchmark at seed 1. Change
# one only together with an explained change of the request's outputs.
PINNED = {
    ("loan_batched", "loan"): "a9a5db08c8f9fef5",
    ("small_logs", "log-00"): "71145246686e09dc",
}


@pytest.fixture(scope="module")
def bench_modules():
    sys.path.insert(0, BENCH)
    try:
        import request
        import run
        import workloads
    finally:
        sys.path.remove(BENCH)
    return workloads, request, run.SMALL_LOGS


def _staged(workloads, small_logs: int, workload: str, path: Path) -> str:
    """Input 0 of ``workload`` at seed 1, as ``Bench.stage`` writes it."""
    seed = 1
    if workload == "loan_batched":
        return workloads.stage_parquet(workloads.loan_log(seed).log, str(path),
                                       seed, n_files=4)
    # small_logs input i is production_log(seed * SMALL_LOGS + i).
    g = workloads.production_log(seed * small_logs)
    return workloads.stage_parquet(g.log, str(path), seed, n_files=1)


@pytest.mark.parametrize("workload, key", sorted(PINNED))
def test_analyze_prints_the_benchmark_digest(spark, bench_modules, tmp_path,
                                             workload, key):
    workloads, request, small_logs = bench_modules
    path = _staged(workloads, small_logs, workload, tmp_path / key)
    out = analyze(read_event_log_parquet(spark, path), Configuration())
    assert request.output_digest(out) == PINNED[(workload, key)]
