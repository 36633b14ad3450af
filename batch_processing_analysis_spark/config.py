"""Configuration for the Spark-native batch-processing analysis engine.

Mirrors the reference's late-bound column-name indirection and pipeline
knobs (reference: src/batch_processing_analysis/config.py:13-89) so a
user of the reference can carry their configuration over unchanged. The
engine itself is a brand-new PySpark DataFrame implementation.
"""

from __future__ import annotations

import enum
from dataclasses import dataclass, field


@dataclass(frozen=True)
class EventLogIDs:
    """Late-bound column names of an event log.

    One row of the log = one activity instance (reference:
    src/batch_processing_analysis/config.py:26-42). All engine operators
    take an ``EventLogIDs`` so column names are never hard-coded.
    """

    case: str = "case_id"
    activity: str = "Activity"
    start_time: str = "start_time"
    end_time: str = "end_time"
    resource: str = "Resource"
    enabled_time: str = "enabled_time"
    # Derived by discovery:
    batch_id: str = "batch_instance_id"
    batch_type: str = "batch_instance_type"
    # Derived by waiting-time analysis (durations stored as long seconds):
    batch_pt: str = "batch_pt"
    batch_wt: str = "batch_wt"
    batch_total_wt: str = "batch_total_wt"
    batch_creation_wt: str = "batch_creation_wt"
    batch_ready_wt: str = "batch_ready_wt"
    batch_other_wt: str = "batch_other_wt"
    # Optional checkpoint timestamps (report_batch_checkpoints):
    batch_case_enabled: str = "batch_case_enabled"
    batch_instance_enabled: str = "batch_instance_enabled"
    batch_start_time: str = "batch_start_time"


class BatchType:
    """The five batch-instance types (reference: config.py:45-51).

    Task-level types come from adjacency of executions of the *same*
    activity; case-level types from adjacency of per-case activity
    *subsequences* (reference: discovery.py:183-207 renames the raw
    detector labels to these).
    """

    parallel = "Parallel"
    task_sequential = "Sequential task-based"
    task_concurrent = "Concurrent task-based"
    case_sequential = "Sequential case-based"
    case_concurrent = "Concurrent case-based"

    ALL = [parallel, task_sequential, task_concurrent, case_sequential, case_concurrent]


class ActivationRulesMode(enum.Enum):
    """Grouping granularity for rule mining (reference: config.py:7-10)."""

    PER_ACTIVITY = "per_activity"
    PER_BATCH = "per_batch"
    PER_BATCH_TYPE = "per_batch_type"


@dataclass
class Configuration:
    """Pipeline knobs (reference: src/batch_processing_analysis/config.py:54-89).

    Defaults match the reference. Extra Spark-only knobs are grouped at
    the bottom and have conservative defaults.
    """

    log_ids: EventLogIDs = field(default_factory=EventLogIDs)

    # Batch discovery
    gap_seconds: int = 0  # max gap between sequential executions (discovery.py:239)
    # "freq": maximal same-resource runs (the golden-validated default);
    # "all": enumerate ALL bounded-length contiguous subsequences as
    # candidate envelopes (reference batch_detection.R:61-64 "enum");
    # "mined": "all" restricted to support-thresholded frequent patterns
    # (reference batch_detection.R:57-65, bamalog
    # identify_frequent_sequences).
    subsequence_mode: str = "freq"  # "all" | "freq" | "mined" (config.py:76)
    # Length bound for "all"/"mined" enumeration (Spark-only scale knob —
    # the reference enumerates unbounded, which is quadratic per trace).
    subsequence_max_len: int = 8
    # "mined" mode: min distinct cases a (resource, activity-sequence)
    # pattern must occur in to become a candidate envelope.
    subsequence_min_support: int = 2
    min_batch_instance_size: int = 2  # discovery.py:128-158
    report_batch_checkpoints: bool = False
    # Reference-emulation knob (VERDICT r7 task 7): the reference's
    # R CSV round-trip truncates timestamps to whole seconds before
    # detection, so its golden outputs reflect second-resolution
    # adjacency. True floors start/end/enabled to seconds at the head
    # of discover_batches — use it ONLY to reproduce reference golden
    # files; native precision (False) is strictly more information.
    truncate_timestamps_to_seconds: bool = False

    # Activation-rule mining (reference config.py:78-81: max_rules=3,
    # min_rule_support=0.1, ready/enabled negative events = 1/1 — the
    # 1/1 defaults are what produced the golden ActivationRules files)
    num_batch_ready_negative_events: int = 1
    num_batch_enabled_negative_events: int = 1
    max_rules: int = 3
    min_rule_support: float = 0.1
    # Min feature rows per group before mining (reference hard-codes >30,
    # activation_rules.py:181; parameterized so small logs can mine too).
    min_rule_obs: int = 30
    # Determinism policy (SURVEY §7.4): the reference samples unseeded;
    # we always seed (rule outputs match in distribution, not bytes).
    random_seed: int = 42

    # Spark-only knobs
    # Workload (J2) range-join strategy: None broadcasts the instant set
    # (right while #instants fits the broadcast budget); a width in
    # seconds switches to the bucketed equi-join in operators/range_join
    # for instant sets too large to broadcast (scale dial — both
    # strategies produce identical pairs, see tests/test_range_join.py).
    workload_bucket_seconds: int | None = None
    # With workload_bucket_seconds=None, features_table AUTO-switches to
    # the bucketed join (width = workload_auto_bucket_seconds) when the
    # estimated instant count — #instances × (1 + ready + enabled
    # negatives), where #instances is the count that materializes the
    # features table's per-instance barrier — exceeds this budget. ~500k
    # (resource, epoch) rows ≈ tens of MB broadcast: the sane ceiling for
    # shipping the point set to every executor. None disables the probe
    # (always broadcast).
    workload_auto_bucket_threshold: int | None = 500_000
    workload_auto_bucket_seconds: int = 3_600
