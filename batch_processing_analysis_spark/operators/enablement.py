"""Enabled-time estimation — native Heuristics concurrency oracle (U2).

The reference delegates to the ``estimate_start_times`` pip package
(public: AutomatedProcessImprovement/start-time-estimator), constructed
with ``consider_start_times=True`` (reference: analysis.py:28-39) and
called as ``add_enabled_times`` (analysis.py:43). Reimplemented here
from the published Heuristics-Miner semantics:

1. Directly-follows counts df(a,b): per case ordered by START time
   (start, end, activity), count consecutive activity pairs.
2. Concurrency: activities a,b are concurrent iff df(a,b)>0 and
   df(b,a)>0 and |df(a,b)−df(b,a)| / (df(a,b)+df(b,a)+1) < threshold
   (the Heuristics-Miner dependency measure; default 0.1).
3. enabled(e) = max{ end(e') : e' in same case, e' ≠ e, end(e') ≤
   start(e), activity(e') not concurrent with activity(e) };
   fallback = the case's first start (so a case's first event gets
   enabled = start). The ``end(e') ≤ start(e)`` guard is the
   consider_start_times=True behavior: an event cannot be enabled by
   work that finished after it started.

Semantics REVERSE-VALIDATED against the precomputed ``enabled_time``
column shipped in the reference's Loan_Application log (SURVEY §2.7 U2):
this exact combination (start-ordered df, threshold in the [0.05, 0.12]
plateau, self-exclusion, first-start fallback) reproduces 70,162/70,162
values; end-ordered df or thresholds outside the plateau do not.

Scale: the df matrix is |activities|² rows, collected once. The
per-event max is a windowed collect of the case's own events filtered
with a higher-order function (JVM-side, no self-join, no Python):
right for process logs, whose traces are tens of events. The per-row
array copy is O(trace_len²) memory per case. The concurrency relation
reaches that filter as a literal map or, on large alphabets, as a
broadcast table (see :func:`add_enabled_times`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..config import EventLogIDs

# Heuristics-Miner dependency threshold of the concurrency relation: the
# value inside the reference-validated [0.05, 0.12] plateau (see above).
CONCURRENCY_THRESHOLD = 0.1
# Most directed concurrent pairs carried as literals in the plan; above
# it the relation is a broadcast table (see add_enabled_times).
_LITERAL_PAIRS_LIMIT = 512


def directly_follows_matrix(log: DataFrame, ids: EventLogIDs) -> DataFrame:
    """df(a,b) counts: consecutive pairs per case ordered by start time."""
    w = W.partitionBy(ids.case).orderBy(ids.start_time, ids.end_time, ids.activity)
    return (
        log.select(
            F.col(ids.activity).alias("a"),
            F.lead(ids.activity).over(w).alias("b"),
        )
        .filter(F.col("b").isNotNull())
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def concurrency_pairs(df_matrix: DataFrame,
                      threshold: float = CONCURRENCY_THRESHOLD) -> set[tuple[str, str]]:
    """Concurrent activity pairs from the directly-follows matrix
    (driver-side: |activities|² rows, tiny).

    The matrix is collected ONCE and paired in Python: a Spark
    self-join here re-executes the matrix's window+aggregate stage for
    both sides before collecting the same ≤|A|² rows (measured ~2× the
    eager-pairs job inside every add_enabled_times call), while the
    driver-side pairing is O(|A|²) dict lookups on data that must reach
    the driver anyway."""
    counts = {(r["a"], r["b"]): r["n"] for r in df_matrix.collect()}
    pairs: set[tuple[str, str]] = set()
    for (a, b), nab in counts.items():
        nba = counts.get((b, a))
        if nba is None:
            continue
        if abs(nab - nba) / (nab + nba + 1) < threshold:
            pairs.add((a, b))
            pairs.add((b, a))
    return pairs


def add_enabled_times(
    log: DataFrame,
    ids: EventLogIDs,
    concurrency_threshold: float = CONCURRENCY_THRESHOLD,
) -> DataFrame:
    """Add ``ids.enabled_time`` to every event (reference: analysis.py:43).

    The concurrency relation rides along in one of two shapes, picked
    from the pair count. Up to ``_LITERAL_PAIRS_LIMIT`` directed pairs
    it is a literal in-expression map activity → partner array,
    resolved into a ``_conc`` column once per row — zero extra joins,
    right for process logs (|A| ≈ tens). Above the limit it becomes
    DATA: a broadcast-joined per-activity partner table, because
    Catalyst analysis cost grows with every literal in the expression
    tree (|A|² pairs on a 2k-activity log froze plan build — same
    failure mode as the SRP plane literals, same remedy). Both shapes
    produce identical values; tests/test_enablement.py asserts it.
    """
    pairs = concurrency_pairs(directly_follows_matrix(log, ids), concurrency_threshold)
    # partners[b] = sorted [a : (a, b) in pairs]: the activities that
    # cannot enable b. Resolved once per ROW into ``_conc``, so the
    # per-predecessor check in the HOF below is membership in this
    # activity's (usually tiny) partner list, not a scan of all pairs.
    partners: dict[str, list[str]] = {}
    for a, b in pairs:
        partners.setdefault(b, []).append(a)
    if len(pairs) <= _LITERAL_PAIRS_LIMIT:
        pair_keys = (
            F.create_map(*[
                x
                for act, ps in sorted(partners.items())
                for x in (F.lit(act),
                          F.array(*[F.lit(p) for p in sorted(ps)]))
            ])
            if pairs else
            F.create_map().cast("map<string,array<string>>")
        )
        log = log.withColumn("_conc", F.element_at(pair_keys, F.col(ids.activity)))
    else:
        conc_df = log.sparkSession.createDataFrame(
            [(k, sorted(v)) for k, v in sorted(partners.items())],
            "_conc_act string, _conc array<string>",
        )
        # Null (activity without any concurrent partner) ⇒ empty list.
        log = log.join(
            F.broadcast(conc_df),
            F.col(ids.activity) == F.col("_conc_act"), "left",
        ).drop("_conc_act")

    w_case = W.partitionBy(ids.case)
    # All (start, end, activity) triples of the case, then per row: max
    # end among other events with end ≤ this row's start and a
    # non-concurrent activity.
    df = log.withColumn(
        "_case_events",
        F.collect_list(
            F.struct(
                F.unix_micros(F.col(ids.start_time)).alias("s"),
                F.unix_micros(F.col(ids.end_time)).alias("e"),
                F.col(ids.activity).alias("act"),
            )
        ).over(w_case),
    ).withColumn("_case_first_start", F.min(F.unix_micros(F.col(ids.start_time))).over(w_case))

    this_start = F.unix_micros(F.col(ids.start_time))
    this_end = F.unix_micros(F.col(ids.end_time))
    this_act = F.col(ids.activity)
    is_self = lambda ev: (ev["s"] == this_start) & (ev["e"] == this_end) & (ev["act"] == this_act)  # noqa: E731
    _partners = F.coalesce(F.col("_conc"), F.array().cast("array<string>"))
    is_conc = lambda ev: F.array_contains(_partners, ev["act"])  # noqa: E731
    enabler_end = F.array_max(
        F.transform(
            F.filter(
                F.col("_case_events"),
                lambda ev: (ev["e"] <= this_start)
                & ~is_self(ev)
                & ~is_conc(ev),
            ),
            lambda ev: ev["e"],
        )
    )
    return df.withColumn(
        ids.enabled_time,
        F.timestamp_micros(F.coalesce(enabler_end, F.col("_case_first_start"))),
    ).drop("_case_events", "_case_first_start", "_conc")
