"""Batch waiting-time report (M6; reference: reporting.py:11-206).

The reference walks the batched log with nested Python loops building a
dict of per-(batch key, type) stat lists, then pretty-prints it. Here the
whole summary is ONE aggregate pipeline:

    batched rows
      -> per-(instance, case) scalars          (WT cols are constant per case)
      -> per-instance scalars (key, type, size)
      -> groupBy(activities, batch_type) + groupBy(activities) union
      -> join occurrence denominators
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
from pyspark.sql import Window as W

from ..config import BatchType, Configuration
from .checkpoints import data_barrier

OVERALL = "__overall__"  # batch_type marker for the type-pooled level


def batch_instance_summary(log: DataFrame, config: Configuration) -> DataFrame:
    """One row per batch instance: id, activities key, type, size, and
    per-case duration sums (for pooled averages)."""
    ids = config.log_ids
    batched = log.filter(F.col(ids.batch_id).isNotNull())
    per_case = (
        batched.groupBy(ids.batch_id, ids.case)
        .agg(
            F.first(ids.batch_type).alias(ids.batch_type),
            F.sort_array(F.collect_set(ids.activity)).alias("_acts"),
            # WT cols are constant per (instance, case) by construction.
            F.first(ids.batch_pt).alias("pt"),
            F.first(ids.batch_wt).alias("wt"),
            F.first(ids.batch_total_wt).alias("total_wt"),
            F.first(ids.batch_creation_wt).alias("creation_wt"),
            F.first(ids.batch_ready_wt).alias("ready_wt"),
            F.first(ids.batch_other_wt).alias("other_wt"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    # Batch key = union of activities across the whole instance
    # (utils.py:14-27: sorted tuple of the instance's activity names).
    w_inst = W.partitionBy(ids.batch_id)
    per_case = per_case.withColumn(
        "activities",
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("_acts").over(w_inst)))),
    ).drop("_acts")
    return per_case


def summarize_batch_waiting_times(log: DataFrame, config: Configuration) -> DataFrame:
    """Per (activities, batch_type) + per (activities, OVERALL) summary.

    Columns: activities array<string>, batch_type, num_instances,
    num_cases, num_events, avg/sum of each duration component (µs,
    doubles for avgs), cte, size_distribution map<int,long>.
    """
    ids = config.log_ids
    # per_case feeds BOTH report levels (per-type + pooled) and the
    # instance-size rollup — five aggregate consumers that otherwise
    # each re-execute the whole per-case summarization subtree (and,
    # under q34, the waiting-time pipeline beneath it; the q34 plan
    # carried 84 Exchanges from exactly this fan-out). One lazy
    # checkpoint of the small O(#instances·cases) frame serves all of
    # them; values are untouched.
    per_case = data_barrier(batch_instance_summary(log, config), eager=False)

    inst = (
        per_case.groupBy("activities", ids.batch_type, ids.batch_id)
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
            F.avg("pt").alias("avg_pt"),
            F.avg("wt").alias("avg_wt"),
            F.avg("total_wt").alias("avg_total_wt"),
            F.avg("creation_wt").alias("avg_creation_wt"),
            F.avg("ready_wt").alias("avg_ready_wt"),
            F.avg("other_wt").alias("avg_other_wt"),
            F.sum("pt").alias("sum_pt"),
            F.sum("wt").alias("sum_wt"),
            # Exact integer sums (long µs): reproducible avg = sum/count in
            # any engine, immune to float-summation order differences.
            F.sum("total_wt").alias("sum_total_wt"),
            F.sum("creation_wt").alias("sum_creation_wt"),
            F.sum("ready_wt").alias("sum_ready_wt"),
            F.sum("other_wt").alias("sum_other_wt"),
        )
        return stats.join(sizes, ["activities", type_col])

    per_type = level(per_case, inst, ids.batch_type)
    pooled = level(
        per_case.withColumn(ids.batch_type, F.lit(OVERALL)),
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


def occurrence_denominators(log: DataFrame, summary: DataFrame,
                            config: Configuration,
                            order_col: str | None = None) -> DataFrame:
    """total_occurrences per batch key — reference-faithful semantics
    (reporting.py:36-37, utils.py:199-229):

    The reference derives a PATTERN per key from the first batch
    instance encountered (min batch id) — specifically the ordered
    activity list of that instance's first case, duplicates included.
    A 1-activity pattern counts plain activity executions in the whole
    log; a longer pattern counts exact ORDERED rolling-window matches
    per case (so a key whose first case executed its activity twice is
    counted as the 2-gram ['A','A'], the quirk the reference itself
    warns about when the count lands on 0).

    ``order_col``: explicit row-order column standing in for the
    reference's DataFrame row order (its iloc[0] / stable sorts). When
    None, the canonical order (start, end, activity) is used — same
    result whenever timestamps are unique.

    Scale: pattern extraction is one aggregation over batched rows
    (O(#instances) output); each distinct pattern length adds one
    rolling window pass over the log.
    """
    ids = config.log_ids
    ord_cols = (
        [F.col(order_col)] if order_col
        else [F.col(ids.start_time), F.col(ids.end_time), F.col(ids.activity)]
    )
    batched = log.filter(F.col(ids.batch_id).isNotNull())

    # Instance -> (key, first case by row order); key's pattern instance
    # = min batch id (reference iterates groupby(batch_id) ascending).
    inst = batched.groupBy(ids.batch_id).agg(
        F.sort_array(F.collect_set(ids.activity)).alias("activities"),
        F.min(F.struct(*[c.alias(f"o{i}") for i, c in enumerate(ord_cols)],
                       F.col(ids.case).alias("c")))["c"].alias("_first_case"),
    )
    w_key = W.partitionBy("activities").orderBy(ids.batch_id)
    pat_inst = (
        inst.withColumn("_rn", F.row_number().over(w_key))
        .filter(F.col("_rn") == 1)
        .select(ids.batch_id, "activities", "_first_case")
    )
    # Pattern = ordered activity list of that (instance, case)'s rows,
    # sorted by (start, end) with row-order tiebreak (the reference's
    # stable sort over file order, utils.py:210-211).
    pattern = (
        batched.join(
            F.broadcast(pat_inst.withColumnRenamed("_first_case", ids.case)),
            [ids.batch_id, ids.case],
        )
        .groupBy("activities")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(
                    F.col(ids.start_time).alias("s"), F.col(ids.end_time).alias("e"),
                    *[c.alias(f"o{i}") for i, c in enumerate(ord_cols)],
                    F.col(ids.activity).alias("a"),
                ))),
                lambda x: x["a"],
            ).alias("pattern"),
        )
    )
    # Stage the tiny (activities, pattern) frame: its subtree is a
    # full pass over the batched log (window + two aggregations), and
    # it is consumed by the singles filter, the length-collect below,
    # one broadcast join per distinct pattern length, and the final
    # left join — 3 + #lengths re-executions of the log-sized subtree
    # without the barrier (profiled at r11 close: two identical
    # 8 s-executor stages per q34 run from this fan-out alone).
    keys = data_barrier(
        summary.select("activities").distinct()
        .join(pattern, "activities", "left"),
        eager=False,
    )

    single = keys.filter(F.size("pattern") == 1).select(
        "activities", F.element_at("pattern", 1).alias("_act")
    )
    act_counts = log.groupBy(F.col(ids.activity).alias("_act")).agg(
        F.count(F.lit(1)).alias("total_occurrences")
    )
    single_out = (
        single.join(act_counts, "_act", "left")
        .select("activities",
                F.coalesce("total_occurrences", F.lit(0)).alias("total_occurrences"))
    )

    multi = keys.filter(F.size("pattern") > 1).select("activities", "pattern")
    lengths = [r["k"] for r in
               multi.select(F.size("pattern").alias("k")).distinct().collect()]
    if not lengths:
        return single_out
    # Ordered rolling windows of each pattern length over every case
    # (utils.py:218-227), matched by exact array equality.
    w_case = W.partitionBy(ids.case).orderBy(
        ids.start_time, ids.end_time, *([order_col] if order_col else [ids.activity])
    )
    parts = []
    for k in lengths:
        wk = w_case.rowsBetween(0, k - 1)
        rolled = (
            log.withColumn("_win", F.collect_list(ids.activity).over(wk))
            .filter(F.size("_win") == k)
            .select(F.col("_win").alias("pattern"))
        )
        parts.append(
            rolled.join(F.broadcast(multi.filter(F.size("pattern") == k)), "pattern")
            .groupBy("activities")
            .agg(F.count(F.lit(1)).alias("total_occurrences"))
        )
    multi_out = parts[0]
    for p in parts[1:]:
        multi_out = multi_out.unionByName(p)
    multi_out = multi.select("activities").join(multi_out, "activities", "left").select(
        "activities", F.coalesce("total_occurrences", F.lit(0)).alias("total_occurrences")
    )
    return single_out.unionByName(multi_out)


def batch_report(log: DataFrame, config: Configuration,
                 order_col: str | None = None) -> DataFrame:
    """Full report table: summary + occurrence denominators + frequency.

    The log is traversed by the summary, the pattern extraction, the
    single-activity counts, and one rolling-window pass per distinct
    pattern length. Pass the staged frame
    :func:`~.waiting_time.add_waiting_times` returns, so every pass
    reads materialized rows; a lazy input re-runs its plan per pass."""
    summary = summarize_batch_waiting_times(log, config)
    denom = occurrence_denominators(log, summary, config, order_col)
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


def format_timedelta_us(us: float | int | None) -> str:
    """pandas.Timedelta-style rendering of a µs duration:
    'D days HH:MM:SS[.ffffff]' (reference report format)."""
    if us is None:
        return "NaT"
    total = int(round(us))
    sign = "-" if total < 0 else ""
    total = abs(total)
    days, rem = divmod(total, 86_400_000_000)
    hours, rem = divmod(rem, 3_600_000_000)
    minutes, rem = divmod(rem, 60_000_000)
    seconds, micros = divmod(rem, 1_000_000)
    frac = f".{micros:06d}" if micros else ""
    return f"{sign}{days} days {hours:02d}:{minutes:02d}:{seconds:02d}{frac}"


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
