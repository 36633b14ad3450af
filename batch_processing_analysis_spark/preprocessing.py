"""Preprocessing / test-log fabrication operators (SURVEY §2.9 X3/X5/X6;
reference: src/preprocessing/handoff_batch.py:66-215).

The reference uses these to fabricate evaluation logs: extract the
subset of traces containing a target activity (X3), displace events that
fall outside a resource's working calendar (X5), and inject synthetic
trace pairs that exhibit forced prioritization (X6; its candidate-pair
search is here). All are re-expressed as lazy DataFrame transforms —
no driver loops over cases or pairs (the reference iterates rows in
Python for each).

Determinism policy (SURVEY §7.4): where the reference depends on pandas
iteration order (``iloc[0]``, groupby order), the Spark versions define
an explicit total order and document it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .config import EventLogIDs

US = 1_000_000


# --------------------------------------------------------------------------
# X3: trace-subset extraction (reference handoff_batch.py:66-74)
# --------------------------------------------------------------------------

def extract_traces_containing(
    log: DataFrame, ids: EventLogIDs, activity: str, percentage: float
) -> DataFrame:
    """Events of the first ``round(n * percentage)`` cases (ordered by
    case id) among the ``n`` cases containing ``activity``.

    The reference walks a pandas groupby (sorted by case id) and slices
    the first ``round(n*pct)`` ids; here the distinct matching case-id
    table gets a ``row_number`` + windowed count and the main log is
    semi-joined against the kept ids. Rounding is half-up in both
    dialects (documented deviation: Python's ``round`` is banker's).

    Scale: the global-ordered window runs on the DISTINCT case-id table
    (orders of magnitude smaller than the event log — metadata-sized),
    never on events; the events-side work is a broadcastable semi-join.
    """
    cases = (
        log.filter(F.col(ids.activity) == activity)
        .select(ids.case)
        .distinct()
    )
    w = W.orderBy(ids.case)
    kept = (
        cases.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(W.partitionBy()))
        .filter(F.col("_rn") <= F.floor(F.col("_n") * F.lit(percentage) + F.lit(0.5)))
        .select(ids.case)
    )
    return log.join(F.broadcast(kept), ids.case, "left_semi")


# --------------------------------------------------------------------------
# X4: activity-name normalize + blacklist filter (reference
# handoff_batch.py:77-98 _log_filtering)
# --------------------------------------------------------------------------

def filter_event_blacklist(
    log: DataFrame, ids: EventLogIDs, blacklist: list[str]
) -> DataFrame:
    """Normalize activity names, then drop blacklisted events.

    Mirrors the reference's ``_log_filtering``: per activity value,
    ``strip()`` → remove NBSP (``\\xa0``) → collapse double spaces to
    single (one non-overlapping left-to-right pass, like
    ``str.replace`` — which is also ``regexp_replace`` semantics), then
    keep events whose normalized activity is NOT in ``blacklist``.
    Spark ``trim`` only strips ASCII spaces, so the strip step is a
    regex covering space/tab/newline/NBSP (Python ``str.strip()``
    additionally strips exotic unicode spaces — documented deviation).

    The drop is an anti join (J5) against a blacklist table so the list
    may be arbitrarily large (an ``isin`` literal list bloats the
    expression tree the same way the enablement pairs literal did);
    Spark broadcasts the tiny side automatically.
    """
    stripped = F.regexp_replace(
        F.col(ids.activity), "^[\\s\xa0]+|[\\s\xa0]+$", ""
    )
    norm = F.regexp_replace(
        F.regexp_replace(stripped, "\xa0", ""),
        "  ", " ",
    )
    out = log.withColumn(ids.activity, norm)
    bl = log.sparkSession.createDataFrame(
        [(b,) for b in blacklist], f"{ids.activity} string"
    )
    return out.join(F.broadcast(bl), ids.activity, "left_anti")


# --------------------------------------------------------------------------
# X5: calendar-displacement repair (reference handoff_batch.py:101-140)
# --------------------------------------------------------------------------

def _displaced(col, day_target: int, hour_target: int):
    """The reference's component-wise displacement (handoff_batch.py:
    110-122): move a timestamp forward to the target weekday, then to
    the target hour + next :59:59.999999→rollover — reproduced exactly
    as epoch-µs arithmetic. ``day_target`` is Monday=0; callers must
    gate on a weekday predicate that keeps ``day_target - dow ≥ 0``.
    """
    us = F.unix_micros(col)
    dow = (F.dayofweek(col) + 5) % 7  # Monday=0
    delta_s = (
        (F.lit(day_target) - dow) * 86_400
        # pmod, not %: the reference's Python `%` is non-negative while
        # Spark's follows the dividend sign (F11 trap, SURVEY §7.4).
        + F.pmod(F.lit(hour_target) - F.hour(col), F.lit(24)) * 3_600
        + (F.lit(59) - F.minute(col)) * 60
        + (F.lit(59) - F.second(col))
    )
    micro = us % US
    # delta_s is INT-typed; widen before the µs multiply (ANSI overflow).
    return F.timestamp_micros(us + delta_s.cast("long") * US + (F.lit(US) - micro))


def displace_calendar_unavailability(
    log: DataFrame,
    ids: EventLogIDs,
    rules: list[tuple[str, int, int, int, int]] | None = None,
) -> DataFrame:
    """Displace start times of events whose resource is outside its
    working calendar. Each rule is ``(resource_contains, dow_lo, dow_hi,
    day_target, hour_target)``: events whose resource contains the
    substring and whose start weekday (Monday=0) lies in
    [dow_lo, dow_hi] move forward per ``_displaced``.

    Defaults are the reference's two rules: "Loan Officer" works
    Mon-Wed, displaced to Sunday 8AM-ish when dow>2; "Senior Officer"
    works Thu-Sun, displaced to Wednesday when dow<3
    (handoff_batch.py:109-136).

    Scale: pure per-row column expressions (whole-stage codegen) — one
    chained CASE WHEN, zero shuffles.
    """
    if rules is None:
        rules = [
            ("Loan Officer", 3, 6, 6, 8),
            ("Senior Officer", 0, 2, 2, 8),
        ]
    start = F.col(ids.start_time)
    dow = (F.dayofweek(start) + 5) % 7
    expr = start
    for contains, lo, hi, day_t, hour_t in rules:
        cond = (
            F.col(ids.resource).contains(contains)
            & (dow >= F.lit(lo))
            & (dow <= F.lit(hi))
        )
        expr = F.when(cond, _displaced(start, day_t, hour_t)).otherwise(expr)
    return log.withColumn(ids.start_time, expr)


# --------------------------------------------------------------------------
# X6: prioritization candidates (reference handoff_batch.py:162-173)
# --------------------------------------------------------------------------

def find_prioritization_pairs(
    enabled_log: DataFrame, ids: EventLogIDs, activity: str | None
) -> DataFrame:
    """Candidate (event_1, event_2) prioritization pairs (reference
    handoff_batch.py:162-173): event_1 executes ``activity`` with zero
    waiting (enabled == start); event_2 runs on the same resource, was
    enabled strictly inside event_1's execution, and starts exactly at
    event_1's end — i.e. e2 *could* have been prioritized over e1.

    The reference keeps ``iloc[0]`` — the first matching e2 in frame
    order; here the first by (enabled, start, end, case, activity) — an
    explicit total order (determinism policy §7.4). One row per e1 with
    both events' scalars, epoch-µs.

    Scale: equi-join on resource + range residual (same J2 family as
    the workload join); per-e1 min via one partial-aggregated groupBy.
    """
    c = ids.case
    zero_wait = F.col(ids.enabled_time) == F.col(ids.start_time)
    if activity is not None:  # None = any activity (reference pins one)
        zero_wait = zero_wait & (F.col(ids.activity) == activity)
    e1 = enabled_log.filter(zero_wait).select(
        F.col(c).alias("case_1"),
        F.col(ids.activity).alias("activity_1"),
        F.col(ids.resource).alias("_res"),
        F.unix_micros(F.col(ids.enabled_time)).alias("enabled_1"),
        F.unix_micros(F.col(ids.start_time)).alias("start_1"),
        F.unix_micros(F.col(ids.end_time)).alias("end_1"),
    )
    e2 = enabled_log.select(
        F.col(c).alias("case_2"),
        F.col(ids.activity).alias("activity_2"),
        F.col(ids.resource).alias("_res2"),
        F.unix_micros(F.col(ids.enabled_time)).alias("enabled_2"),
        F.unix_micros(F.col(ids.start_time)).alias("start_2"),
        F.unix_micros(F.col(ids.end_time)).alias("end_2"),
    )
    joined = e1.join(
        e2,
        (F.col("_res") == F.col("_res2"))
        & (F.col("enabled_2") > F.col("enabled_1"))
        & (F.col("enabled_2") < F.col("end_1"))
        & (F.col("start_2") == F.col("end_1")),
    )
    pick = F.min(
        F.struct("enabled_2", "start_2", "end_2", "case_2", "activity_2")
    ).alias("_e2")
    return (
        joined.groupBy(
            "case_1", "activity_1", "_res", "enabled_1", "start_1", "end_1"
        )
        .agg(pick)
        .select(
            "case_1", "activity_1",
            F.col("_res").alias("resource"),
            "enabled_1", "start_1", "end_1",
            F.col("_e2.case_2").alias("case_2"),
            F.col("_e2.activity_2").alias("activity_2"),
            F.col("_e2.enabled_2").alias("enabled_2"),
            F.col("_e2.start_2").alias("start_2"),
            F.col("_e2.end_2").alias("end_2"),
        )
    )
