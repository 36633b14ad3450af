"""Batch discovery: BAMA-style detection + repair passes (SURVEY §2.5 W1-W3,
§2.2 P9, §2.4 A12-A13; reference: discovery.py:212-265 + external
batch_detection.R + the bamalog package by Martin et al., public at
github.com/nielsmartin/bama).

The reference round-trips the log through a temp CSV into an R subprocess
and then repairs the result with four pandas passes of per-group driver
loops. Here detection is native: lag-classification + running-sum
sessionization per (resource, activity) — one window shuffle — and every
repair is a window/agg pass. The reference's one procedural piece (the
enabled-after-start fixpoint split, discovery.py:12-81) runs in closed
form over per-(instance, case) aggregates, JVM-side like the rest: no
Python worker runs during discovery.

Adjacency semantics (validated against the reference's golden outputs):
ordered by (start, end, case) within (resource, activity):
- *simultaneous*: identical start AND end as previous;
- *sequential*: starts within ``gap`` seconds after previous end;
- *concurrent*: overlaps previous execution;
chains extend while the pairwise class stays the same.

Golden-replay parity (tests/test_golden_replay.py): on the reference's
Loan log (which ships enabled_time, so the estimator is out of scope)
this pipeline reproduces the reference's discovered batch set EXACTLY —
same 7,635 batched rows, same 587-instance partition, same types — with
``min_batch_instance_size=10``. The reference's R-side detector applies
an internal filter that rejects that log's organic busy-resource
back-to-back runs; empirically (row-level diff over all 4,030 candidate
segments) that filter is extensionally equivalent to a min-instance-size
threshold there, which this engine exposes as configuration. On the
Production log at reference defaults the agreement is 0.966 F1 with
465/485 reference instances reproduced exactly. MEASURED diagnosis
(r8, tests/test_golden_replay.py::test_production_truncation_mode):
the residual is NOT timestamp truncation — the reference feeds R a
MICROSECOND-formatted CSV (reference discovery.py:227-229,
date_format='%Y-%m-%d %H:%M:%S.%f'), so its detection ran at full
precision and only the golden files' FORMATTING is second-truncated
(R write.csv drops POSIXct fractions); Production's timestamps are
minute-resolution anyway, making ``truncate_timestamps_to_seconds=
True`` a bit-identical no-op there, while on Loan truncation BREAKS
the exact parity (pinned) — confirming full-precision detection from
both directions — and not a size threshold either
(min_batch_instance_size=3 drops recall to 0.30 because the reference
keeps most size-2 instances; "mined"/"all" candidate modes measure
LOWER, 0.955). The residual is the R detector's internal segment
filter plus chain tie-break order, and is a FORMAL TEST-PINNED
WONTFIX (VERDICT r8 task 7): the filter lives inside the ``bamalog``
R package the reference subprocesses into (reference
external/batch_detection.R:54-77), whose source is not part of the
reference checkout — on Loan it is extensionally equivalent to
min_size=10 (exposed as configuration, exact parity pinned), on
Production it matches no single exposed knob, so "emulating" it would
be curve-fitting 20 instances against a black box. Instead the exact
disagreement structure is pinned so ANY drift is loud
(tests/test_golden_replay.py::test_production_residual_is_pinned):
465/485 ref instances exact; our 46 extra instances decompose as 28
DISJOINT short runs (25 of size 2 + 3 of size 4 — batched by us,
wholly unbatched by R: the internal filter rejecting organic
busy-resource runs) + 18 overlapping a ref instance; the overlap
graph between our 46 extras and the 20 unmatched ref instances has
exactly 8 one-to-one boundary disagreements, 2 splits (one ref
instance = two of ours), 1 six-vs-five chain tangle, and 5 size-2 ref
instances we never form (chain tie-break order on overlapping
chains).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..config import BatchType, Configuration, EventLogIDs
from .checkpoints import checkpoint_tracked, data_barrier, release_checkpoints

RAW_SIMULTANEOUS = "simultaneous"
RAW_SEQUENTIAL = "sequential"
RAW_CONCURRENT = "concurrent"

_RAW_TASK_RENAME = {
    RAW_SIMULTANEOUS: BatchType.parallel,
    RAW_SEQUENTIAL: BatchType.task_sequential,
    RAW_CONCURRENT: BatchType.task_concurrent,
}
_RAW_SUB_RENAME = {
    RAW_SIMULTANEOUS: BatchType.parallel,
    "sequential case-based": BatchType.case_sequential,
    "concurrent case-based": BatchType.case_concurrent,
}


def _pair_class(prev_start: Column, prev_end: Column, start: Column, end: Column,
                gap_seconds: int) -> Column:
    """Classify a row against its predecessor (batch_detection.R:54-77
    driver semantics; gap default 0, discovery.py:239)."""
    gap_us = int(gap_seconds * 1_000_000)
    return (
        F.when(prev_start.isNull(), F.lit(None).cast("string"))
        .when((start == prev_start) & (end == prev_end), F.lit(RAW_SIMULTANEOUS))
        .when(
            (start >= prev_end)
            & (F.unix_micros(start) - F.unix_micros(prev_end) <= gap_us),
            F.lit(RAW_SEQUENTIAL),
        )
        .when(start < prev_end, F.lit(RAW_CONCURRENT))
        .otherwise(F.lit(None).cast("string"))
    )


def _chain(df: DataFrame, part_keys: list[str], order_cols: list, cls_col: str,
           grp_col: str) -> DataFrame:
    """Chain classified pairs into instances: new chain when the class is
    null or changes vs the previous pair (running-sum sessionization)."""
    w = W.partitionBy(*part_keys).orderBy(*order_cols)
    w_run = w.rowsBetween(W.unboundedPreceding, 0)
    prev_cls = F.lag(cls_col).over(w)
    boundary = (
        F.col(cls_col).isNull()
        | (prev_cls.isNotNull() & (F.col(cls_col) != prev_cls))
    )
    return df.withColumn(grp_col, F.sum(boundary.cast("long")).over(w_run))


def detect_task_batches(log: DataFrame, ids: EventLogIDs, gap_seconds: int = 0) -> DataFrame:
    """Task-level detection (W1): adjacency of executions of the SAME
    activity by the SAME resource.

    Adds ``_task_grp`` (long, chain index within (resource, activity)),
    ``_task_type`` (raw class, null for unbatched/singleton rows).
    Scale: one window shuffle on (resource, activity); no skew risk
    beyond a hot resource-activity pair, which AQE handles.
    """
    res = F.coalesce(F.col(ids.resource), F.lit("NOT_SET"))  # F9, batch_detection.R:50
    order_cols = [F.col(ids.start_time), F.col(ids.end_time), F.col(ids.case)]
    w = W.partitionBy("_res", ids.activity).orderBy(*order_cols)
    df = (
        log.withColumn("_res", res)
        .withColumn(
            "_cls",
            _pair_class(
                F.lag(ids.start_time).over(w),
                F.lag(ids.end_time).over(w),
                F.col(ids.start_time),
                F.col(ids.end_time),
                gap_seconds,
            ),
        )
    )
    df = _chain(df, ["_res", ids.activity], order_cols, "_cls", "_grp")
    # Chain type = the (single) pairwise class inside the chain; null ⇒ singleton.
    w_grp = W.partitionBy("_res", ids.activity, "_grp")
    df = df.withColumn("_task_type", F.max("_cls").over(w_grp))
    return (
        df.withColumn(
            "_task_grp",
            F.when(
                F.col("_task_type").isNotNull(),
                F.concat_ws("\x1f", "_res", ids.activity, F.col("_grp").cast("string")),
            ),
        )
        .drop("_cls", "_grp", "_res")
    )


def detect_case_batches(log: DataFrame, ids: EventLogIDs, gap_seconds: int = 0) -> DataFrame:
    """Case-level (subprocess) detection (W2): per-case maximal runs of
    consecutive events executed by one resource form sub-process
    envelopes [min start, max end]; envelopes with the same (resource,
    activity-sequence) are then chained exactly like task batches.

    This is the bounded variant of the reference's subsequence
    enumeration (batch_detection.R:57-65): maximal same-resource runs
    instead of ALL contiguous subsequences, so each event belongs to at
    most one envelope and no conflict resolution is needed — the "freq"
    spirit (config.py:76) without the quadratic blow-up at scale.

    Adds ``_sub_grp`` / ``_sub_type`` (raw class with ' case-based'
    suffix for sequential/concurrent).
    """
    res = F.coalesce(F.col(ids.resource), F.lit("NOT_SET"))
    w_case = W.partitionBy(ids.case).orderBy(ids.start_time, ids.end_time, ids.activity)
    w_run = w_case.rowsBetween(W.unboundedPreceding, 0)
    df = log.withColumn("_res", res).withColumn(
        "_run",
        F.sum(
            (F.coalesce(F.lag("_res").over(w_case) != F.col("_res"), F.lit(True))).cast("long")
        ).over(w_run),
    )
    # The envelope aggregation below AND the join-back both consume
    # this frame, so the whole upstream (input scan, enablement
    # window, task-detection windows, the _run window) executes once
    # per join side — a KNOWN duplicated subtree. A lazy checkpoint
    # cannot dedupe it (the envelope side reaches the join as a
    # broadcast-exchange FUTURE that races the main lineage before
    # blocks exist), and an EAGER barrier serializes upstream vs join
    # stages: measured +0.4-0.9 s on the analyze facade at sf0.1, where
    # the duplicate runs free on idle cores (interleaved same-session
    # A/B, OPTIMIZATION_r12.md). So the duplicate stays.
    env = (
        df.groupBy(ids.case, "_run")
        .agg(
            F.first("_res").alias("_res"),
            F.concat_ws(
                "\x1f",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col(ids.start_time).alias("s"),
                                F.col(ids.end_time).alias("e"),
                                F.col(ids.activity).alias("a"),
                            )
                        )
                    ),
                    lambda x: x["a"],
                ),
            ).alias("_acts"),
            F.min(ids.start_time).alias("_env_start"),
            F.max(ids.end_time).alias("_env_end"),
            F.count(F.lit(1)).alias("_n_events"),
        )
        .filter(F.col("_n_events") >= 2)  # a subprocess needs ≥2 activities
    )
    order_cols = [F.col("_env_start"), F.col("_env_end"), F.col(ids.case)]
    w = W.partitionBy("_res", "_acts").orderBy(*order_cols)
    env = env.withColumn(
        "_cls",
        _pair_class(
            F.lag("_env_start").over(w),
            F.lag("_env_end").over(w),
            F.col("_env_start"),
            F.col("_env_end"),
            gap_seconds,
        ),
    )
    env = _chain(env, ["_res", "_acts"], order_cols, "_cls", "_grp")
    w_grp = W.partitionBy("_res", "_acts", "_grp")
    env = env.withColumn("_raw", F.max("_cls").over(w_grp)).withColumn(
        "_sub_type",
        F.when(F.col("_raw") == RAW_SEQUENTIAL, F.lit("sequential case-based"))
        .when(F.col("_raw") == RAW_CONCURRENT, F.lit("concurrent case-based"))
        .otherwise(F.col("_raw")),  # simultaneous or null
    )
    env = env.select(
        ids.case,
        "_run",
        F.when(
            F.col("_sub_type").isNotNull(),
            F.concat_ws("\x1f", "_res", "_acts", F.col("_grp").cast("string")),
        ).alias("_sub_grp"),
        "_sub_type",
    )
    return (
        df.join(env, [ids.case, "_run"], "left")
        .withColumn("_sub_type", F.when(F.col("_sub_grp").isNotNull(), F.col("_sub_type")))
        .drop("_run", "_res")
    )


def detect_case_batches_all(log: DataFrame, ids: EventLogIDs,
                            gap_seconds: int = 0, max_len: int = 8,
                            min_pattern_support: int | None = None) -> DataFrame:
    """Case-level detection, ``subsequence_mode="all"`` (reference
    batch_detection.R:61-64: bamalog ``enumerate_subsequences``): every
    contiguous same-resource subsequence of length 2..max_len is a
    candidate envelope, not just the maximal run. Envelopes with the
    same (resource, activity-sequence) chain exactly like task batches.

    ``min_pattern_support`` switches to the ``"mined"`` semantics
    (reference batch_detection.R:57-65: bamalog
    ``identify_frequent_sequences``): only candidate PATTERNS —
    (resource, activity-sequence) pairs — occurring in at least that
    many distinct cases survive to chaining, i.e. the candidate set is
    support-thresholded frequent sequences instead of all subsequences.
    The support count is one partial-aggregable countDistinct per
    pattern; everything downstream (chaining, conflict resolution) is
    shared with "all" mode.

    Because envelopes overlap, an event can be claimed by several
    chains; the reference resolves conflicts inside bamalog. Here the
    resolution is declarative and deterministic: each event joins the
    candidate chain with the most distinct cases (ties → longer
    subsequence → lexicographic chain key) — one window over the
    per-event candidate set, no driver loop. Instances that lose events
    below ``min_batch_instance_size`` fall out in the later repair.

    Scale: enumeration fans out ≤ max_len envelopes per event (bounded,
    narrow after one per-case window shuffle); chaining and stats are
    hash aggregations on (resource, acts) — same shape as "freq" mode.
    """
    res = F.coalesce(F.col(ids.resource), F.lit("NOT_SET"))
    w_case = W.partitionBy(ids.case).orderBy(ids.start_time, ids.end_time, ids.activity)
    w_run = w_case.rowsBetween(W.unboundedPreceding, 0)
    df = log.withColumn("_res", res).withColumn(
        "_run",
        F.sum(
            (F.coalesce(F.lag("_res").over(w_case) != F.col("_res"), F.lit(True))).cast("long")
        ).over(w_run),
    )
    w_in_run = W.partitionBy(ids.case, "_run").orderBy(
        ids.start_time, ids.end_time, ids.activity
    )
    df = df.withColumn("_rn", F.row_number().over(w_in_run))
    # `runs` and the winner join-back both consume this frame; the
    # duplicate upstream stays, as in detect_case_batches.

    runs = (
        df.groupBy(ids.case, "_run")
        .agg(
            F.first("_res").alias("_res"),
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(ids.start_time).alias("s"),
                        F.col(ids.end_time).alias("e"),
                        F.col(ids.activity).alias("a"),
                    )
                )
            ).alias("_evs"),
        )
        .filter(F.size("_evs") >= 2)
    )
    n = F.size("_evs")
    combos = F.flatten(
        F.transform(
            F.sequence(F.lit(2), F.least(n, F.lit(max_len))),
            lambda k: F.transform(
                F.sequence(F.lit(1), n - k + 1),
                lambda i: F.struct(i.alias("i"), k.alias("k")),
            ),
        )
    )
    env = (
        runs.select(ids.case, "_run", "_res", "_evs", F.explode(combos).alias("_ik"))
        .select(
            ids.case,
            "_run",
            "_res",
            F.col("_ik.i").alias("_i"),
            F.col("_ik.k").alias("_k"),
            F.concat_ws(
                "\x1f",
                F.transform(F.slice("_evs", F.col("_ik.i"), F.col("_ik.k")), lambda x: x["a"]),
            ).alias("_acts"),
            F.element_at("_evs", F.col("_ik.i"))["s"].alias("_env_start"),
            F.array_max(
                F.transform(F.slice("_evs", F.col("_ik.i"), F.col("_ik.k")), lambda x: x["e"])
            ).alias("_env_end"),
        )
    )
    if min_pattern_support is not None:
        w_pat = W.partitionBy("_res", "_acts")
        env = env.withColumn(
            "_support", F.size(F.collect_set(ids.case).over(w_pat))
        ).filter(F.col("_support") >= min_pattern_support).drop("_support")
    order_cols = [F.col("_env_start"), F.col("_env_end"), F.col(ids.case), F.col("_i")]
    w = W.partitionBy("_res", "_acts").orderBy(*order_cols)
    env = env.withColumn(
        "_cls",
        _pair_class(
            F.lag("_env_start").over(w),
            F.lag("_env_end").over(w),
            F.col("_env_start"),
            F.col("_env_end"),
            gap_seconds,
        ),
    )
    env = _chain(env, ["_res", "_acts"], order_cols, "_cls", "_grp")
    w_grp = W.partitionBy("_res", "_acts", "_grp")
    env = env.withColumn("_raw", F.max("_cls").over(w_grp)).withColumn(
        "_sub_type",
        F.when(F.col("_raw") == RAW_SEQUENTIAL, F.lit("sequential case-based"))
        .when(F.col("_raw") == RAW_CONCURRENT, F.lit("concurrent case-based"))
        .otherwise(F.col("_raw")),
    ).filter(F.col("_raw").isNotNull())
    env = env.withColumn(
        "_sub_grp", F.concat_ws("\x1f", "_res", "_acts", F.col("_grp").cast("string"))
    )
    # Chain priority = #distinct cases (how batch-like the chain is).
    stats = env.groupBy("_sub_grp").agg(F.countDistinct(ids.case).alias("_n_cases"))
    env = env.join(stats, "_sub_grp")
    # Envelope -> event membership; each event keeps its best chain.
    member = env.select(
        ids.case, "_run", "_sub_grp", "_sub_type", "_n_cases", "_k",
        F.explode(F.sequence(F.col("_i"), F.col("_i") + F.col("_k") - 1)).alias("_rn"),
    ).dropDuplicates([ids.case, "_run", "_rn", "_sub_grp"])
    w_ev = W.partitionBy(ids.case, "_run", "_rn").orderBy(
        F.desc("_n_cases"), F.desc("_k"), F.asc("_sub_grp")
    )
    winner = (
        member.withColumn("_pick", F.row_number().over(w_ev))
        .filter(F.col("_pick") == 1)
        .select(ids.case, "_run", "_rn", "_sub_grp", "_sub_type")
    )
    return (
        df.join(winner, [ids.case, "_run", "_rn"], "left")
        .drop("_run", "_rn", "_res")
    )


def _split_mixed_type_subprocess(df: DataFrame) -> DataFrame:
    """Repair pass 1 (discovery.py:117-125): a subprocess instance whose
    events carry >1 task-level class loses its subprocess identity.

    Computed as agg + broadcast join-back, NOT a window over the nullable
    group key — a window would funnel every unbatched row into one
    null-key partition (the classic skew trap at scale).
    """
    mixed_keys = (
        df.filter(F.col("_sub_grp").isNotNull())
        .groupBy("_sub_grp")
        .agg(F.countDistinct(F.coalesce(F.col("_task_type"), F.lit("\x00"))).alias("_n"))
        .filter(F.col("_n") > 1)
        .select("_sub_grp", F.lit(True).alias("_mixed"))
    )
    out = df.join(F.broadcast(mixed_keys), "_sub_grp", "left")
    keep = F.col("_mixed").isNull()
    return (
        out.withColumn("_sub_grp", F.when(keep, F.col("_sub_grp")))
        .withColumn("_sub_type", F.when(keep, F.col("_sub_type")))
        .drop("_mixed")
    )


def _split_wrong_enabled_both(df: DataFrame, ids: EventLogIDs) -> DataFrame:
    """Repair pass 3 (discovery.py:12-81): iteratively split off batch
    cases whose enabled time is after the instance's first start (they
    could not have been part of that batch accumulation).

    The reference is a driver-side fixpoint loop over the whole frame;
    here the loop's closed form runs JVM-side over per-(instance, case)
    aggregates (see the threshold-chain derivation below), and the
    resulting sub-index joins back in one pass.

    BOTH levels in ONE aggregate pass (r12): the task-level analysis
    rows (``_sub_type`` null, ``_task_grp`` set) and the subprocess
    rows (``_sub_type`` set — null-synchronized with ``_sub_grp`` by
    the detectors) are disjoint, so a class-tagged key aggregates both
    levels in a single full-frame pass where the r11 shape ran the
    identical aggregate twice (guide §2.1). The per-level join-backs
    and the rename semantics are byte-identical to the sequential
    form: splits are computed per (instance, case) and applied to
    every row of that (instance, case), whatever the row's own class.
    """
    t_key = F.concat(F.lit("t\x1e"), F.col("_task_grp"))
    s_key = F.concat(F.lit("s\x1e"), F.col("_sub_grp"))
    rows = df.withColumn(
        "_wkey",
        F.when(F.col("_sub_type").isNull(), t_key).otherwise(s_key),
    ).filter(F.col("_wkey").isNotNull())
    grp_col = "_wkey"
    # Batch-case enabled = min enabled among rows at the case's min start
    # (utils.py:93-106); batch-case start = min start.
    per_case = (
        rows.groupBy(grp_col, ids.case)
        .agg(
            F.min(F.struct(F.unix_micros(F.col(ids.start_time)).alias("s"),
                           F.unix_micros(F.col(ids.enabled_time)).alias("en"))).alias("_first"),
        )
        .select(
            grp_col,
            ids.case,
            F.col("_first.s").alias("_case_start"),
            F.col("_first.en").alias("_case_enabled"),
        )
    )

    # NOTE _first picks min (start, enabled) lexicographically == min enabled
    # among min-start rows — exactly the reference's argmin-then-min.

    # The reference's driver loop (round k: inst_start_k = min start of
    # remaining cases; cases with enabled > inst_start_k move to round
    # k+1) has a closed form, so it runs JVM-side with higher-order
    # array functions instead of a per-group Python hop:
    #
    #   thresholds t_0 < t_1 < ... — t_0 = min case start; t_{k+1} =
    #   start of the FIRST case (in start order) with enabled > t_k.
    #   Scanning cases sorted by start builds the chain in one pass,
    #   because every case before the t_{k+1}-definer has enabled <= t_k
    #   and the definer's own enabled <= its start (estimator
    #   invariant), so thresholds strictly increase.
    #
    #   sub_idx(case) = #{k : t_k < case_enabled} — the round where the
    #   case stops violating.
    #
    # Group sizes are #cases per instance (tiny); the per-case count is
    # O(n·|thresholds|) inside codegen. The `x.s > last` guard freezes
    # the chain if the enabled<=start invariant is ever violated
    # (matching the pandas fallback this replaces: stop splitting).
    empty = F.array().cast("array<bigint>")
    last = lambda acc: F.element_at(acc, -1)  # noqa: E731
    grouped = per_case.groupBy(grp_col).agg(
        F.sort_array(
            F.collect_list(F.struct(
                F.col("_case_start").alias("s"),
                F.col("_case_enabled").alias("en"),
                F.col(ids.case).alias("case"),
            ))
        ).alias("_cs")
    )
    thresholds = F.aggregate(
        F.col("_cs"), empty,
        lambda acc, x: (
            F.when(F.size(acc) == 0, F.array(x["s"]))
            .when((x["en"] > last(acc)) & (x["s"] > last(acc)),
                  F.concat(acc, F.array(x["s"])))
            .otherwise(acc)
        ),
    )
    splits = (
        grouped.withColumn("_t", thresholds)
        .select(
            grp_col,
            F.explode(F.transform(
                F.col("_cs"),
                lambda x: F.struct(
                    x["case"].alias("case"),
                    F.size(F.filter(F.col("_t"), lambda t: t < x["en"]))
                    .cast("int").alias("_sub_idx"),
                ),
            )).alias("_e"),
        )
        .select(grp_col, F.col("_e.case").alias(ids.case),
                F.col("_e._sub_idx").alias("_sub_idx"))
    )
    # Per-level join-backs, identical to running the pass per level:
    # the splits frame is tiny (one row per (instance, case)), so the
    # two broadcast joins cost nothing next to the saved full pass.
    out = df
    for level_tag, level_col in (("t\x1e", "_task_grp"),
                                 ("s\x1e", "_sub_grp")):
        level_splits = (
            splits.filter(F.col(grp_col).startswith(level_tag))
            .select(
                F.expr(f"substring({grp_col}, 3)").alias(level_col),
                ids.case, "_sub_idx",
            )
        )
        out = out.join(level_splits, [level_col, ids.case], "left")
        out = out.withColumn(
            level_col,
            F.when(
                F.col(level_col).isNotNull(),
                F.concat_ws("\x1d", level_col,
                            F.coalesce(F.col("_sub_idx"),
                                       F.lit(0)).cast("string")),
            ),
        ).drop("_sub_idx")
    return out


def _min_size_filter(df: DataFrame, ids: EventLogIDs, min_size: int) -> DataFrame:
    """Repair pass 4 (discovery.py:128-158): drop instances with fewer
    than ``min_size`` distinct cases. Subprocess level first — removing a
    subprocess batch clears the task-level info of its rows too
    (discovery.py:140-143) — then task level over the remaining rows."""
    small_sub = (
        df.filter(F.col("_sub_grp").isNotNull())
        .groupBy("_sub_grp")
        .agg(F.countDistinct(ids.case).alias("_n"))
        .filter(F.col("_n") < min_size)
        .select("_sub_grp", F.lit(True).alias("_small_sub"))
    )
    df = df.join(F.broadcast(small_sub), "_sub_grp", "left")
    keep = F.col("_small_sub").isNull()
    df = (
        df.withColumn("_task_grp", F.when(keep, F.col("_task_grp")))
        .withColumn("_task_type", F.when(keep, F.col("_task_type")))
        .withColumn("_sub_grp", F.when(keep, F.col("_sub_grp")))
        .withColumn("_sub_type", F.when(keep, F.col("_sub_type")))
        .drop("_small_sub")
    )
    # Task level: size counted over rows NOT in a surviving subprocess batch
    # (reference filters sub-isna rows before grouping, discovery.py:148).
    small_task = (
        df.filter(F.col("_task_grp").isNotNull() & F.col("_sub_type").isNull())
        .groupBy("_task_grp")
        .agg(F.countDistinct(ids.case).alias("_n"))
        .filter(F.col("_n") < min_size)
        .select("_task_grp", F.lit(True).alias("_small_task"))
    )
    df = df.join(F.broadcast(small_task), "_task_grp", "left")
    keep_t = F.col("_small_task").isNull()
    return (
        df.withColumn("_task_grp", F.when(keep_t, F.col("_task_grp")))
        .withColumn("_task_type", F.when(keep_t, F.col("_task_type")))
        .drop("_small_task")
    )


def _dense_ids(keys: DataFrame, key_col: str, id_col: str) -> DataFrame:
    """Dense ids 1..N in global key order WITHOUT a single-partition
    window (the classic dense_rank-over-orderBy funnel) and without a
    driver action: range-partition the key set (global order becomes
    (partition id, local rank)), rank locally, and add per-partition
    offsets computed with a triangular self-join over the tiny
    per-partition count table. AQE partition coalescing preserves range
    order, so ids stay dense and deterministic at any parallelism."""
    ranked = (
        keys.repartitionByRange(F.col(key_col))
        .withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_lrank", F.row_number().over(W.partitionBy("_pid").orderBy(key_col))
        )
    )
    counts = ranked.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    a, b = counts.alias("a"), counts.alias("b")
    offsets = (
        a.join(b, F.col("b._pid") < F.col("a._pid"), "left")
        .groupBy(F.col("a._pid").alias("_pid"))
        .agg(F.coalesce(F.sum("b._n"), F.lit(0)).alias("_ofs"))
    )
    return (
        ranked.join(F.broadcast(offsets), "_pid")
        .select(key_col, (F.col("_ofs") + F.col("_lrank")).cast("long").alias(id_col))
    )


def _unify(df: DataFrame, ids: EventLogIDs) -> DataFrame:
    """Repair pass 5 (discovery.py:161-209): one id space 1..B (task
    instances then subprocess instances) + canonical type names.

    ID labels are dense in global key-string order (SURVEY §7.4:
    equivalence classes match the reference, labels are canonicalized)
    via :func:`_dense_ids` — no unpartitioned window, no plan-build-time
    ``count()`` action.

    One dense-id pass serves both levels: each instance key carries a
    level prefix, ``"0"`` for task and ``"1"`` for subprocess
    instances. Every task key then sorts before every subprocess key,
    and a shared prefix keeps the key order within a level, so task
    instances get 1..T and subprocess instances T+1..T+S — the labels
    of ranking each level on its own and offsetting the subprocess ids
    by T, at half the jobs. The levels are disjoint: the detectors and
    every repair null ``_sub_grp`` and ``_sub_type`` together.
    """
    is_sub_row = F.col("_sub_grp").isNotNull()
    is_task_row = F.col("_sub_type").isNull() & F.col("_task_type").isNotNull()
    inst_key = (
        F.when(is_sub_row, F.concat(F.lit("1"), F.col("_sub_grp")))
        .when(is_task_row, F.concat(F.lit("0"), F.col("_task_grp")))
    )
    df = df.withColumn("_ikey", inst_key)
    inst_ids = _dense_ids(
        df.filter(F.col("_ikey").isNotNull()).select("_ikey").distinct(),
        "_ikey", ids.batch_id,
    )
    raw_type = F.when(is_sub_row, F.col("_sub_type")).otherwise(F.col("_task_type"))
    type_map = F.create_map(
        *[F.lit(x) for kv in {**_RAW_TASK_RENAME, **_RAW_SUB_RENAME}.items() for x in kv]
    )
    return (
        df.join(F.broadcast(inst_ids), "_ikey", "left")
        .withColumn(
            ids.batch_type,
            F.when(F.col(ids.batch_id).isNotNull(), type_map[raw_type]),
        )
        .drop("_ikey", "_task_grp", "_task_type", "_sub_grp", "_sub_type")
    )


def discover_batches(log: DataFrame, config: Configuration,
                     detect_case_level: bool = True) -> DataFrame:
    """Full discovery pipeline (reference: discover_batches_martins21,
    discovery.py:212-265, minus the CSV/R subprocess round-trip — S5
    eliminated per SURVEY §2.1).

    Input: event log with enabled_time already present (see
    operators/enablement.py). Output: log + batch_instance_id (long,
    null = unbatched) + batch_instance_type (5 canonical values).
    """
    ids = config.log_ids
    if config.truncate_timestamps_to_seconds:
        # Reference-emulation (config.py): detection on second-floored
        # timestamps, exactly what the reference's R CSV round-trip
        # fed its detector. Applied to the detection INPUT only — the
        # returned frame keeps these floored values so repairs run on
        # what detection saw, mirroring the reference end-to-end.
        for c in (ids.start_time, ids.end_time, ids.enabled_time):
            log = log.withColumn(c, F.date_trunc("second", F.col(c)))
    df = detect_task_batches(log, ids, config.gap_seconds)
    if detect_case_level and config.subsequence_mode in ("all", "mined"):
        df = detect_case_batches_all(
            df, ids, config.gap_seconds, config.subsequence_max_len,
            min_pattern_support=(
                config.subsequence_min_support
                if config.subsequence_mode == "mined" else None
            ),
        )
    elif detect_case_level:
        df = detect_case_batches(df, ids, config.gap_seconds)
    else:
        df = df.withColumn("_sub_grp", F.lit(None).cast("string")).withColumn(
            "_sub_type", F.lit(None).cast("string")
        )
    # Every repair pass below joins the frame against aggregates derived
    # FROM that same frame (a lineage diamond), and downstream consumers
    # (WT decomposition, reporting) fork it several more times. Plain
    # persist() caches the DATA but Catalyst still re-analyzes the full
    # logical plan — two detection window stacks — at every fork, which
    # dominates wall-clock once the plan is this deep.
    # A checkpoint barrier truncates the lineage so each fork starts
    # from a flat cached scan (SPARK_GRAFT_CHECKPOINT=reliable makes it
    # durable on a real cluster; the plan-truncation effect is the same).
    df, mid1 = checkpoint_tracked(df)
    df = _split_mixed_type_subprocess(df)
    # Resource split (discovery.py:84-114) is a no-op here: both detectors
    # already partition by resource, so an instance can never span two.
    df = _split_wrong_enabled_both(df, ids)
    # Same reasoning: min-size (2 forks) + unify (2 forks + a count
    # action) all branch off the post-split frame.
    df, mid2 = checkpoint_tracked(df)
    df = _min_size_filter(df, ids, config.min_batch_instance_size)
    # Consumers (features table, WT decomposition, reporting) fork the
    # returned frame up to 5 ways; without truncation each fork re-runs
    # min-size + unify (agg + join-back) from the checkpoint above.
    # Eager checkpoint = one execution — the same work a single consumer
    # would trigger anyway — so multi-fork callers get it 1× not 5×.
    out = data_barrier(_unify(df, ids), eager=True)
    # The two intermediates above exist only to serve THIS pipeline;
    # once `out` is materialized nothing can reference them again.
    release_checkpoints(out, mid1 | mid2)
    return out
