"""The event-log benchmark (``eventlog_bench/``) imports engine names
directly. Importing its request module here makes a renamed or deleted
engine name fail the unit tests, not just the benchmark's operations."""

from __future__ import annotations

import sys
from pathlib import Path

BENCH = str(Path(__file__).resolve().parent.parent / "eventlog_bench")


def test_benchmark_request_module_imports():
    sys.path.insert(0, BENCH)
    try:
        import request
    finally:
        sys.path.remove(BENCH)
    for name in ("release_analysis", "checkpoint_tracked", "release_checkpoints",
                 "concurrency_pairs", "directly_follows_matrix", "add_enabled_times",
                 "discover_batches", "add_waiting_times", "batch_report",
                 "render_report", "features_table", "get_activation_rules",
                 "render_activation_rules", "run_request"):
        assert callable(getattr(request, name)), name
