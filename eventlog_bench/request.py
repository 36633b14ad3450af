"""One analysis request through the engine's public layer functions,
the optional per-layer tracer, and the output checks.

A request takes an event log and returns the three outputs an analyst
reads: the waiting-time table (collected), the rendered batch report
and the rendered activation rules. The layers run in the order of
``pipeline.analyze_batches`` + ``pipeline.waiting_time_report``:
sources -> enablement -> discovery -> waiting_time -> reporting ->
activation_rules (features, then mining).

Untraced, the request is the plain call sequence. Traced, each layer
call is wrapped in a span that owns a Spark job group, and each lazy
layer's output is checkpointed eagerly at its boundary so the span
covers that layer's own work (the benchmark releases those checkpoints
before the request ends).
"""

from __future__ import annotations

import hashlib
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from batch_processing_analysis_spark.config import ActivationRulesMode, Configuration
from batch_processing_analysis_spark.operators.activation_rules import (
    features_table,
    get_activation_rules,
    render_activation_rules,
)
from batch_processing_analysis_spark.operators.checkpoints import (
    checkpoint_tracked,
    release_checkpoints,
)
from batch_processing_analysis_spark.operators.discovery import discover_batches
from batch_processing_analysis_spark.operators.enablement import (
    add_enabled_times,
    concurrency_pairs,
    directly_follows_matrix,
)
from batch_processing_analysis_spark.operators.reporting import batch_report, render_report
from batch_processing_analysis_spark.operators.waiting_time import add_waiting_times
from batch_processing_analysis_spark.pipeline import release_analysis

from workloads import GeneratedLog, frame_digest

LAYERS = [
    "sources", "enablement", "discovery", "waiting_time", "reporting",
    "activation_rules.features", "activation_rules.mining",
]
RULES_MODE = ActivationRulesMode.PER_BATCH


@dataclass
class Span:
    name: str
    request_id: int
    parent: str | None
    start: float
    end: float = 0.0
    group: str = ""
    jobs: int = 0
    tasks: int = 0
    rows_out: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans, one Spark job group per span. Job and task
    counts are read from the status tracker after the request, once the
    listener bus has drained, so they never miss a late event."""

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, request_id: int):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, request_id, parent.name if parent else None, 0.0,
                  group=f"bench-r{request_id}-{name}")
        self.sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(sp)

    @contextmanager
    def untimed(self, request_id: int):
        """Job group for the tracer's own bookkeeping jobs (row counts,
        layer statistics), so they land in no layer's span."""
        self.sc.setJobGroup(f"bench-r{request_id}-trace", "trace")
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def count_jobs(self, request_id: int) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        for sp in self.spans:
            if sp.request_id != request_id:
                continue
            job_ids = st.getJobIdsForGroup(sp.group)
            sp.jobs = len(job_ids)
            tasks = 0
            for jid in job_ids:
                job = st.getJobInfo(jid)
                for sid in (job.stageIds if job else []):
                    stage = st.getStageInfo(sid)
                    tasks += stage.numCompletedTasks if stage else 0
            sp.tasks = tasks


def self_seconds(sp: Span, spans: list[Span]) -> float:
    """Span duration minus the part its child spans cover."""
    return sp.seconds - sum(s.seconds for s in spans
                            if s.request_id == sp.request_id and s.parent == sp.name)


@dataclass
class Outputs:
    wt: pd.DataFrame
    report_text: str
    rules_text: str
    seconds: float
    retained_rdds: int
    layer_stats: dict[str, float] = field(default_factory=dict)


def _persistent_ids(spark: SparkSession) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def rule_blocks(rules_text: str) -> tuple[int, int]:
    """(groups, groups with a mined rule) in a rendered rules text."""
    blocks = [b for b in rules_text.split("\n\n\n") if b.strip()]
    return len(blocks), sum("# Observations" in b for b in blocks)


def run_request(spark: SparkSession, source, config: Configuration,
                request_id: int, tracer: Tracer | None = None) -> Outputs:
    """Run one request. ``source`` builds the input frame through the
    engine's sources layer. With a tracer, every layer gets a span and
    the request's per-layer statistics land in ``Outputs.layer_stats``."""
    ids = config.log_ids
    own: set[int] = set()  # the tracer's boundary checkpoints

    def layer(name):
        return tracer.span(name, request_id) if tracer else nullcontext()

    def boundary(df: DataFrame) -> DataFrame:
        if tracer is None:
            return df
        out, new = checkpoint_tracked(df)
        own.update(new)
        return out

    t0 = time.perf_counter()
    with layer("request"):
        with layer("sources"):
            log = boundary(source())
        before = _persistent_ids(spark)
        with layer("enablement"):
            enabled = boundary(add_enabled_times(log, ids))
        with layer("discovery"):
            batched = discover_batches(enabled, config)
        with layer("waiting_time"):
            wt_df = boundary(add_waiting_times(batched, config))
            wt = wt_df.toPandas()
        # The release handle pipeline.analyze_batches attaches to its
        # result: the engine's checkpoints taken between its input and
        # the waiting-time table.
        wt_df._bpa_checkpoint_ids = _persistent_ids(spark) - before - own
        with layer("reporting"):
            report_rows = batch_report(wt_df, config).collect()
            report_text = render_report(report_rows, config)
        with layer("activation_rules.features"):
            feat = boundary(features_table(wt_df, config))
        with layer("activation_rules.mining"):
            rules = get_activation_rules(feat, config, RULES_MODE)
            rules_text = render_activation_rules(feat, rules, config, RULES_MODE)
        stats = {}
        if tracer is not None:
            with tracer.untimed(request_id):
                stats = _layer_stats(log, feat, wt, len(report_rows), rules_text, config)
        release_analysis(wt_df)
        release_checkpoints(wt_df, own)
    seconds = time.perf_counter() - t0
    if tracer is not None:
        tracer.count_jobs(request_id)
        rows = {"sources": stats.pop("_rows_sources"),
                "enablement": len(wt), "discovery": len(wt), "waiting_time": len(wt),
                "reporting": stats["reporting.batch_keys"],
                "activation_rules.features": stats.pop("_rows_features"),
                "activation_rules.mining": stats.pop("_rows_mining")}
        for sp in tracer.spans:
            if sp.request_id == request_id and sp.name in rows:
                sp.rows_out = int(rows[sp.name])
    return Outputs(wt, report_text, rules_text, seconds,
                   len(_persistent_ids(spark)), stats)


def _layer_stats(log: DataFrame, feat: DataFrame, wt: pd.DataFrame,
                 n_keys: int, rules_text: str,
                 config: Configuration) -> dict[str, float]:
    """Layer counts that explain the layer times (traced runs only)."""
    ids = config.log_ids
    batched = wt[wt[ids.batch_id].notna()]
    pos = feat.agg(F.count(F.lit(1)).alias("n"), F.avg("outcome").alias("p")).collect()[0]
    groups, with_rules = rule_blocks(rules_text)
    return {
        "_rows_sources": log.count(),
        "_rows_features": pos["n"],
        "_rows_mining": with_rules,
        "enablement.concurrent_pairs": len(concurrency_pairs(
            directly_follows_matrix(log, ids), 0.1)) // 2,
        "enablement.max_trace_len": int(wt.groupby(ids.case).size().max()),
        "discovery.instances": int(batched[ids.batch_id].nunique()),
        "discovery.batched_ratio": len(batched) / len(wt),
        "waiting_time.batch_cases": int(
            batched[[ids.batch_id, ids.case]].drop_duplicates().shape[0]),
        "reporting.batch_keys": n_keys,
        "activation_rules.features.positive_ratio": float(pos["p"] or 0.0),
        "activation_rules.mining.groups": groups,
        "activation_rules.mining.groups_with_rules_ratio":
            with_rules / groups if groups else 0.0,
    }


# --------------------------------------------------------------------------
# Checks
# --------------------------------------------------------------------------

def check_outputs(out: Outputs, config: Configuration,
                  truth: GeneratedLog | None) -> list[str]:
    """Every problem found in one request's outputs (empty = correct)."""
    problems = check_nonempty(out)
    problems += check_wt_invariant(out.wt, config)
    if truth is not None:
        problems += check_planted(out.wt, truth, config)
    return problems


def check_nonempty(out: Outputs) -> list[str]:
    return [f"empty {name}" for name, empty in (
        ("waiting-time table", out.wt.empty),
        ("report", not out.report_text.strip()),
        ("activation rules", not out.rules_text.strip()),
    ) if empty]


def check_wt_invariant(wt: pd.DataFrame, config: Configuration) -> list[str]:
    """total = creation + ready + other on every batched row."""
    ids = config.log_ids
    b = wt[wt[ids.batch_id].notna()]
    if b.empty:
        return ["no batched rows"]
    parts = b[ids.batch_creation_wt] + b[ids.batch_ready_wt] + b[ids.batch_other_wt]
    bad = int((b[ids.batch_total_wt] != parts).sum())
    return [f"{bad} batched rows break total = creation + ready + other"] if bad else []


def check_planted(wt: pd.DataFrame, truth: GeneratedLog,
                  config: Configuration) -> list[str]:
    """Each planted batch's rows form exactly one discovered instance
    of the planted type: not split, not retyped, not merged."""
    ids = config.log_ids
    planted = pd.DataFrame(
        [(c, a, k, pb.batch_type) for k, pb in enumerate(truth.batches)
         for c in pb.case_ids for a in pb.activities],
        columns=[ids.case, ids.activity, "_pb", "_ptype"])
    got = planted.merge(wt[[ids.case, ids.activity, ids.batch_id, ids.batch_type]],
                        how="left", on=[ids.case, ids.activity])
    got["_miss"] = got[ids.batch_id].isna()
    per = got.groupby("_pb").agg(
        rows=("_ptype", "size"), miss=("_miss", "any"),
        n_ids=(ids.batch_id, "nunique"), bid=(ids.batch_id, "first"),
        n_types=(ids.batch_type, "nunique"), btype=(ids.batch_type, "first"),
        ptype=("_ptype", "first"))
    per["id_rows"] = per["bid"].map(wt.groupby(ids.batch_id).size())
    split = per["miss"] | (per["n_ids"] != 1)
    retyped = ~split & ((per["n_types"] != 1) | (per["btype"] != per["ptype"]))
    merged = ~split & ~retyped & (per["id_rows"] != per["rows"])
    problems = []
    for what, mask in (("split", split), ("retyped", retyped), ("merged", merged)):
        if mask.any():
            first = truth.batches[int(per.index[mask][0])]
            problems.append(f"{int(mask.sum())} planted batches {what}, e.g. the "
                            f"{first.batch_type} batch of {first.resource} on "
                            f"{first.case_ids[:3]}")
    return problems


def output_digest(out: Outputs) -> str:
    """Digest of the three outputs: the WT table (order-insensitive),
    the report text and the rules text."""
    h = hashlib.sha256(frame_digest(out.wt).encode())
    h.update(out.report_text.encode())
    h.update(b"\x00")
    h.update(out.rules_text.encode())
    return h.hexdigest()[:16]
