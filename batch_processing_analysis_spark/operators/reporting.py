"""Batch waiting-time report (M6; reference: reporting.py:11-206).

The reference walks the batched log with nested Python loops building a
dict of per-(batch key, type) stat lists, then pretty-prints it. Here the
whole report is ONE lazy plan:

    WT rows
      -> waiting_time.batch_cases: per-(instance, case) scalars and
         the batch key (WT cols are constant per case)
      -> per-instance scalars (key, type, size)
      -> groupBy(activities, batch_type) + groupBy(activities) union
      -> join occurrence denominators (one matching pass over the log)
      -> tiny DataFrame (one row per key x type + one per key)

collected at the driver only for text rendering. Everything upstream is
partial-aggregable; the collected result is O(#batch keys), independent
of log size — safe at 100 TB.

Durations are microseconds (long) in the engine; the renderer formats
them pandas-style ("8 days 03:42:45.918367" sec) for golden-text parity
(reference: outputs/*_Report.txt).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import BatchType, Configuration
from .checkpoints import data_barrier
from .waiting_time import batch_cases

OVERALL = "__overall__"  # batch_type marker for the type-pooled level


def summarize_batch_waiting_times(cases: DataFrame, config: Configuration) -> DataFrame:
    """Per (activities, batch_type) + per (activities, OVERALL) summary
    of the :func:`~.waiting_time.batch_cases` rows.

    Columns: activities array<string>, batch_type, num_instances,
    num_cases, num_events, the exact sum of each duration component
    (long µs; readers derive averages as sum / num_cases), cte,
    size_distribution map<int,long>, size_first_seen map<int,long>.
    """
    ids = config.log_ids
    inst = (
        cases.groupBy("activities", ids.batch_type, ids.batch_id)
        .agg(F.count(F.lit(1)).alias("size"))
    )
    # Counter-rendering tie order (reference reporting.py:150-171): the
    # pooled size list concatenates the per-type lists in FIXED type
    # order, each in batch-id iteration order — encode (type index,
    # batch id) as one orderable key per instance.
    type_idx = F.lit(len(BatchType.ALL))
    for i, t in enumerate(BatchType.ALL):
        type_idx = F.when(F.col(ids.batch_type) == t, F.lit(i)).otherwise(type_idx)
    inst = inst.withColumn(
        "_okey", type_idx.cast("long") * F.lit(10**12) + F.col(ids.batch_id)
    )

    def level(df_case, inst_df, type_col):
        sizes = (
            inst_df.groupBy("activities", type_col, "size")
            .agg(
                F.count(F.lit(1)).alias("n"),
                # Counter ties break by FIRST ENCOUNTER in the
                # reference's concatenation order — min (type, id) key.
                F.min("_okey").alias("_first_seen"),
            )
            .groupBy("activities", type_col)
            .agg(
                F.map_from_arrays(
                    F.collect_list("size"), F.collect_list("n")
                ).alias("size_distribution"),
                F.map_from_arrays(
                    F.collect_list("size"), F.collect_list("_first_seen")
                ).alias("size_first_seen"),
                # total instances = Σ per-size counts (count(1) here would
                # count the number of distinct sizes — reference counts
                # instances, reporting.py:45).
                F.sum("n").alias("num_instances"),
            )
        )
        stats = df_case.groupBy("activities", type_col).agg(
            F.count(F.lit(1)).alias("num_cases"),
            F.sum("n_events").alias("num_events"),
            # Exact integer sums (long µs): reproducible avg = sum/count in
            # any engine, immune to float-summation order differences.
            F.sum(ids.batch_pt).alias("sum_pt"),
            F.sum(ids.batch_wt).alias("sum_wt"),
            F.sum(ids.batch_total_wt).alias("sum_total_wt"),
            F.sum(ids.batch_creation_wt).alias("sum_creation_wt"),
            F.sum(ids.batch_ready_wt).alias("sum_ready_wt"),
            F.sum(ids.batch_other_wt).alias("sum_other_wt"),
        )
        return stats.join(sizes, ["activities", type_col])

    per_type = level(cases, inst, ids.batch_type)
    pooled = level(
        cases.withColumn(ids.batch_type, F.lit(OVERALL)),
        inst.withColumn(ids.batch_type, F.lit(OVERALL)),
        ids.batch_type,
    )
    out = per_type.unionByName(pooled)
    # CTE = sum_pt / (sum_pt + sum_wt), 0 when sum_pt = 0 (reporting.py:201-206).
    return out.withColumn(
        "cte",
        F.when(F.col("sum_pt") == 0, F.lit(0.0)).otherwise(
            F.col("sum_pt") / (F.col("sum_pt") + F.col("sum_wt"))
        ),
    )


def occurrence_denominators(log: DataFrame, cases: DataFrame,
                            config: Configuration,
                            order_col: str | None = None) -> DataFrame:
    """total_occurrences per batch key of ``cases`` (the
    :func:`~.waiting_time.batch_cases` rows) — reference-faithful
    semantics (reporting.py:36-37, utils.py:199-229):

    The reference derives a PATTERN per key from the first batch
    instance encountered (min batch id) — specifically the ordered
    activity list of that instance's first case, duplicates included —
    and counts its exact ORDERED contiguous matches in every case of the
    log. A 1-activity pattern thus counts plain activity executions; a
    key whose first case executed its activity twice is counted as the
    2-gram ['A','A'] (the quirk the reference itself warns about when
    the count lands on 0). A match never spans a null activity.

    ``order_col``: explicit row-order column standing in for the
    reference's DataFrame row order (its iloc[0] / stable sorts). When
    None, the canonical order (start, end, activity) is used — same
    result whenever timestamps are unique.

    Scale: one lazy plan, no driver action. Pattern extraction reads
    only the pattern instances' rows (O(#keys) output). Counting is ONE
    pass over the log for every pattern and length at once
    (multi-pattern detection): each case's ordered activity sequence is
    exploded to its positions, each position is equi-joined against the
    broadcast pattern set on the pattern's first activity, and the
    candidate keeps only when the slice from there equals the pattern.
    No per-length pass, no nested-loop join. Each position row carries
    its case's sequence, so the pass moves O(Σ trace length²) array
    elements.
    """
    ids = config.log_ids
    first_row = ([F.col(order_col)] if order_col else
                 [F.col(ids.start_time), F.col(ids.end_time), F.col(ids.activity)])
    # Ordered activity list of a group's rows, sorted by (start, end)
    # with row-order tiebreak (the reference's stable sort over file
    # order, utils.py:210-211). Nulls sort first, like an ascending
    # window; a null activity stays in the list as a null element.
    ordered_acts = F.transform(
        F.array_sort(F.collect_list(F.struct(
            F.col(ids.start_time).alias("s"), F.col(ids.end_time).alias("e"),
            F.col(order_col or ids.activity).alias("o"),
            F.col(ids.activity).alias("a"),
        ))),
        lambda x: x["a"],
    )

    # Key -> pattern instance = min batch id (the reference iterates
    # groupby(batch_id) ascending) -> its first case by row order
    # (ties to the smaller case id) -> that case's ordered rows.
    pat_inst = cases.groupBy("activities").agg(F.min(ids.batch_id).alias(ids.batch_id))
    patterns = (
        log.join(F.broadcast(pat_inst), ids.batch_id)
        .groupBy("activities", ids.case)
        .agg(F.min(F.struct(*first_row)).alias("_first"),
             ordered_acts.alias("pattern"))
        .groupBy("activities")
        .agg(F.min(F.struct("_first", ids.case, "pattern"))["pattern"].alias("pattern"))
    )

    # Every contiguous match in every case (utils.py:218-227): each
    # position joins the patterns that start with its activity, and the
    # slice of the pattern's length from there must equal the pattern.
    # A pattern with a null element never matches, nor does a slice
    # holding one.
    matchable = patterns.filter(F.forall("pattern", lambda a: a.isNotNull()))
    counts = (
        log.groupBy(ids.case).agg(ordered_acts.alias("_seq"))
        .select("_seq", F.posexplode("_seq").alias("_i", "_act"))
        .join(F.broadcast(matchable.withColumn("_act", F.col("pattern")[0])), "_act")
        .filter(F.slice("_seq", F.col("_i") + 1, F.size("pattern")) == F.col("pattern"))
        .groupBy("activities")
        .agg(F.count(F.lit(1)).alias("total_occurrences"))
    )
    return pat_inst.join(counts, "activities", "left").select(
        "activities", F.coalesce("total_occurrences", F.lit(0)).alias("total_occurrences")
    )


def batch_report(log: DataFrame, config: Configuration,
                 order_col: str | None = None) -> DataFrame:
    """Full report table: summary + occurrence denominators + frequency.

    Builds a plan and runs no Spark job of its own. The log is read by
    the per-case rollup, the pattern extraction and the one matching pass
    of the denominators. Pass the staged frame
    :func:`~.waiting_time.add_waiting_times` returns, so every pass
    reads materialized rows; a lazy input re-runs its plan per pass."""
    ids = config.log_ids
    # The per-case rows feed both report levels, the instance-size
    # rollup and the pattern-instance choice; unstaged, each re-runs the
    # rollup (the q34 plan once carried 84 Exchanges from this fan-out).
    # Only the columns read here are staged, which keeps the features'
    # log-wide window out. Lazy barrier: the first action fills it, but
    # under adaptive execution taking it runs the rollup's shuffle stage.
    cases = data_barrier(batch_cases(log, config).select(
        "activities", ids.batch_id, ids.batch_type, "n_events",
        ids.batch_pt, ids.batch_wt, ids.batch_total_wt, ids.batch_creation_wt,
        ids.batch_ready_wt, ids.batch_other_wt,
    ), eager=False)
    summary = summarize_batch_waiting_times(cases, config)
    denom = occurrence_denominators(log, cases, config, order_col)
    out = summary.join(F.broadcast(denom), "activities", "left")
    # Zero-guard: clamp to 1 with the reference's warning semantics
    # (reporting.py:38-42) — frequency vs a 0 denominator is undefined.
    clamped = F.when(F.col("total_occurrences") <= 0, F.lit(1)).otherwise(
        F.col("total_occurrences")
    )
    # freq_occurrence = num_cases / total_occurrences (reference
    # reporting.py:66,69 — cases, not events: a k-activity case-based
    # batch contributes 1, not k).
    return out.withColumn(
        "frequency", F.col("num_cases") / clamped
    )


def format_timedelta_ns(ns: int | None) -> str:
    """str(pandas.Timedelta) for an integer-ns duration: 'D days
    HH:MM:SS' + 9 fractional digits when sub-µs ns are present, 6 when
    only µs, none when whole seconds — the reference report's duration
    format (numpy mean of Timedeltas, printed via str)."""
    if ns is None:
        return "NaT"
    sign = "-" if ns < 0 else ""
    total = abs(int(ns))
    days, rem = divmod(total, 86_400_000_000_000)
    hours, rem = divmod(rem, 3_600_000_000_000)
    minutes, rem = divmod(rem, 60_000_000_000)
    seconds, frac_ns = divmod(rem, 1_000_000_000)
    if frac_ns % 1000:
        frac = f".{frac_ns:09d}"
    elif frac_ns:
        frac = f".{frac_ns // 1000:06d}"
    else:
        frac = ""
    return f"{sign}{days} days {hours:02d}:{minutes:02d}:{seconds:02d}{frac}"


def mean_timedelta_ns(sum_us: int, n: int) -> int:
    """Average duration in ns with pandas-mean semantics: the exact ns
    sum converts to float64 (rounding once the sum exceeds 2^53), the
    float division result TRUNCATES to integer ns (pd.Timedelta/int).
    Reproduces the golden reports' last digits bit-for-bit."""
    return int(float(sum_us * 1000) / n)


def render_report(report_rows, config: Configuration) -> str:
    """Driver-side text renderer (reference layout, reporting.py:142-198;
    golden-diffed byte-for-byte against outputs/Production_Report.txt in
    tests/test_report_golden.py).

    ``report_rows`` = collected rows of :func:`batch_report`. Averages
    are recomputed from the exact integer-µs sums with pandas-mean
    semantics (ns truncation), durations render like str(pd.Timedelta),
    batch types print in the reference's fixed order, and size
    distributions print as Counter (most-common-first).
    """
    from collections import Counter

    ids = config.log_ids
    by_key: dict[tuple, dict] = {}
    for r in report_rows:
        key = tuple(r["activities"])
        by_key.setdefault(key, {})[r[ids.batch_type]] = r

    def counter(r):
        dist, seen = r["size_distribution"], r["size_first_seen"]
        c = Counter()
        # Insertion order = first-encounter order; Counter.most_common
        # (used by its repr) is stable, so ties keep this order — the
        # reference's exact Counter rendering.
        for k in sorted(dist, key=lambda s: seen[s]):
            c[k] = dist[k]
        return c

    def block(r, indent, with_instances):
        pad = "\t" * indent
        lines = []
        if with_instances:
            lines.append(f"{pad}Num batch instances: {r['num_instances']}")
        lines.append(f"{pad}Batch size distribution: {counter(r)}")
        if with_instances:
            lines.append(f"{pad}Num batch cases: {r['num_cases']}")
            lines.append(f"{pad}Frequency: {round(100 * r['frequency'], 2):.2f}%")

        def avg(sum_col):
            return format_timedelta_ns(mean_timedelta_ns(r[sum_col], r["num_cases"]))

        lines.append(f"{pad}Average overall processing time: {avg('sum_pt')} sec")
        lines.append(f"{pad}Average overall waiting time: {avg('sum_wt')} sec")
        lines.append(f"{pad}CTE: {round(r['cte'], 2):.2f}")
        for name in ("total", "creation", "ready", "other"):
            lines.append(f"{pad}Average {name} wt: {avg(f'sum_{name}_wt')} sec")
        return lines

    blocks = []
    for key in sorted(by_key):
        types = by_key[key]
        overall = types.get(OVERALL)
        out = [f"Batch formed by activities: {tuple(key)}"]
        if overall is not None:
            out.append(f"\tNum occurrences: {overall['total_occurrences']}")
            # batched_total_occurrences = Σ per-type num_cases (reference
            # reporting.py:67-68) = the pooled level's num_cases.
            out.append(f"\tNum occurrences in batch: {overall['num_cases']}")
            out.append("\tFrequency occurrences in batch: "
                       f"{round(100 * overall['frequency'], 2):.2f}%")
            out.extend(block(overall, 1, with_instances=False))
        # Fixed type order (reference reporting.py:180-184), not sorted.
        for btype in BatchType.ALL:
            if btype in types:
                out.append(f"\t- Batch type: {btype}")
                out.extend(block(types[btype], 2, with_instances=True))
        blocks.append("\n".join(out))
    return "\n\n\n".join(blocks)
