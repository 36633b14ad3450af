"""Time-series regularization operators (M57): turn irregular event
streams into fixed-step series — the resample step every monitoring /
feature-engineering pipeline runs before windowed models.

``resample_locf``: per key, one row per ``step``-second grid slot
between the key's first and last observation; slots without an
observation carry the last observed value forward (LOCF). Shapes:

- the grid is generated per key from its own min/max (``sequence`` +
  explode) — no driver-side date arithmetic, no global calendar table;
- per-slot "last observation" is a partial-aggregatable
  ``max(struct(ts, tiebreak, value))`` — NOT a window over raw events,
  so a key with millions of events in one slot aggregates map-side;
- the carry-forward is ONE window (`last(..., ignorenulls)`) over the
  per-key grid — grid rows per key = span/step, bounded and small
  compared to raw events.

All choices are engine-deterministic: the slot's last value ties-break
on the event id, and the value surfaces unmodified (no float math).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def resample_locf(events: DataFrame, step: int = 300,
                  key_col: str = "user_id", ts_col: str = "ts",
                  value_col: str = "value",
                  tiebreak_col: str = "event_id") -> DataFrame:
    """Fixed-step resample with last-observation-carried-forward.

    Returns ``(key_col, slot_ts bigint epoch-seconds, value double,
    observed int)`` — ``observed = 1`` where the slot had ≥1 event
    (value = that slot's LAST event by ``(ts, tiebreak_col)``),
    else 0 with the carried value. The first slot of every key is
    observed by construction.
    """
    sec = F.unix_timestamp(F.col(ts_col))
    slot = (F.floor(sec / step) * step).cast("long")
    obs = (
        events.select(
            F.col(key_col),
            slot.alias("slot_ts"),
            F.struct(
                sec.alias("_t"),
                F.col(tiebreak_col).alias("_tb"),
                F.col(value_col).alias("_v"),
            ).alias("_o"),
        )
        .groupBy(key_col, "slot_ts")
        .agg(F.max("_o").alias("_last"))
        .select(key_col, "slot_ts", F.col("_last._v").alias("_obs_v"))
    )
    spans = events.groupBy(key_col).agg(
        (F.floor(F.min(sec) / step) * step).cast("long").alias("_lo"),
        (F.floor(F.max(sec) / step) * step).cast("long").alias("_hi"),
    )
    grid = spans.select(
        key_col,
        F.explode(
            F.sequence(F.col("_lo"), F.col("_hi"), F.lit(int(step)))
        ).alias("slot_ts"),
    )
    w = (
        W.partitionBy(key_col)
        .orderBy("slot_ts")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        grid.join(obs, [key_col, "slot_ts"], "left")
        .select(
            key_col,
            "slot_ts",
            F.last("_obs_v", ignorenulls=True).over(w).alias("value"),
            F.col("_obs_v").isNotNull().cast("int").alias("observed"),
        )
    )


def rolling_median(df: DataFrame, n: int = 5,
                   key_col: str = "user_id", order_col: str = "ts",
                   value_col: str = "value",
                   out_col: str = "rolling_median") -> DataFrame:
    """Exact median of the last ``n`` rows (inclusive) per key — the
    deterministic rolling smoother. Mean/stddev rolling stats are
    float-accumulation-order-dependent across engines; an order
    statistic is not: sort the bounded frame, take the middle (even
    frames average the two middles — one float op, engine-identical).

    Cost is O(n log n) per row with ``n`` a small constant (the frame
    is ``ROWS n-1 PRECEDING``); for percentiles over unbounded windows
    use the sketch path (sketches.hist_quantiles) instead.
    """
    w = (
        W.partitionBy(key_col)
        .orderBy(order_col)
        .rowsBetween(-(n - 1), 0)
    )
    # Staged so the sorted frame is computed once per row, not once per
    # element_at/size reference (see rolling_mad for the measurement).
    arr = F.array_sort(F.collect_list(F.col(value_col)).over(w))
    return (
        df.withColumn("_rm_frame", arr)
        .withColumn(out_col, _array_median(F.col("_rm_frame")))
        .drop("_rm_frame")
    )


def bucket_rollup(events: DataFrame, ts_col: str, group_cols: list[str],
                  fine_s: int, coarse_s: int,
                  weight_col: str | None = None) -> DataFrame:
    """Hierarchical time-bucket rollup (the hypertable continuous-
    aggregate pattern, TimescaleDB public docs): aggregate raw events
    into FINE buckets once, then derive every COARSER granularity from
    the fine aggregate — never re-scanning raw data.

    Why at 100 TB: the fine aggregate is |groups|·|fine buckets| rows —
    typically 4-6 orders of magnitude smaller than the raw table — so
    each additional granularity (day from hour, week from day) costs a
    shuffle of the SUMMARY, not a scan of the corpus. Only
    sum-decomposable aggregates roll up exactly (counts, sums, min/max
    — NOT count-distinct; use the M50 HLL census for approximate
    distinct rollups), which is why the output carries ``n_events`` /
    ``total_w`` and nothing non-decomposable.

    ``coarse_s`` must be a multiple of ``fine_s`` (bucket boundaries
    must nest or the identity coarse-from-fine == coarse-from-raw
    breaks — asserted here, proven per-value by the q99 oracle).
    Returns ``(bucket_ts, *group_cols, n_events[, total_w])`` at the
    coarse granularity, built via the fine intermediate.
    """
    if coarse_s % fine_s != 0:
        raise ValueError(
            f"coarse_s ({coarse_s}) must be a multiple of fine_s ({fine_s})"
        )
    epoch = F.unix_timestamp(F.col(ts_col))
    fine_b = (F.floor(epoch / fine_s) * fine_s).alias("_fb")
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if weight_col is not None:
        aggs.append(F.sum(weight_col).alias("total_w"))
    fine = events.groupBy(fine_b, *group_cols).agg(*aggs)
    coarse_b = (F.floor(F.col("_fb") / coarse_s) * coarse_s).alias("bucket_ts")
    re_aggs = [F.sum("n_events").alias("n_events")]
    if weight_col is not None:
        re_aggs.append(F.sum("total_w").alias("total_w"))
    return fine.groupBy(coarse_b, *group_cols).agg(*re_aggs)


def _array_median(arr):
    """Exact median of a sorted array column (shared by rolling_median
    and rolling_mad): middle element, or the mean of the two middles."""
    m = F.size(arr)
    mid = F.element_at(arr, ((m + 1) / 2).cast("int"))
    even = (
        F.element_at(arr, (m / 2).cast("int"))
        + F.element_at(arr, (m / 2 + 1).cast("int"))
    ) / 2
    return F.when(m % 2 == 1, mid).otherwise(even)


def rolling_mad(df: DataFrame, key_col: str = "user_id",
                order_col: str = "ts", value_col: str = "value",
                n: int = 5, out_col: str = "rolling_mad") -> DataFrame:
    """Rolling median absolute deviation over the same bounded frame as
    :func:`rolling_median` — the robust spread estimator behind
    outlier flags (|x − median| > k·MAD), immune to the exact outliers
    it is hunting, unlike a rolling stddev (which an anomaly inflates,
    masking itself — and whose float accumulation is engine-
    nondeterministic besides; medians are order statistics, exact).

    One window + array expressions per row: sort the frame, take its
    median, re-sort absolute deviations, take THEIR median. O(n log n)
    per row with frame-constant n — fine for the bounded frames this
    is for; unbounded spread wants the sketch path
    (sketches.hist_quantiles).

    Each array is staged through its own projection so it is computed
    ONCE per row: inlining ``_array_median(array_sort(...))`` expands
    the sorted-array expression at every ``element_at``/``size``
    reference (4× per median, nested for the deviation pass — ~9 sorts
    per row), and CollapseProject keeps non-cheap multiply-referenced
    aliases staged rather than re-inlining them. Measured 3.0→0.8 s on
    the q103 frame at sf0.1.
    """
    w = (
        W.partitionBy(key_col)
        .orderBy(order_col)
        .rowsBetween(-(n - 1), 0)
    )
    frame = F.array_sort(F.collect_list(F.col(value_col)).over(w))
    med = F.col("_mad_med")
    devs = F.array_sort(
        F.transform(F.col("_mad_frame"), lambda x: F.abs(x - med))
    )
    return (
        df.withColumn("_mad_frame", frame)
        .withColumn("_mad_med", _array_median(F.col("_mad_frame")))
        .withColumn("_mad_devs", devs)
        .withColumn(out_col, _array_median(F.col("_mad_devs")))
        .drop("_mad_frame", "_mad_med", "_mad_devs")
    )
