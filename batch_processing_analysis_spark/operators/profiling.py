"""Column profiling (M44 scale extension): the data-quality census a
pipeline runs before touching a new 100 TB drop — per-column null
rates, exact distinct counts, and modal values, as ONE relational plan
(no per-column driver loop issuing N separate jobs, which is how naive
profilers scale in job count instead of data).

Shape: melt the selected columns into flat (col_name, value) rows with
one generate (rows × n_cols, no shuffle), then two partial-aggregatable
groupBys — (col, value) → value counts, col → totals. The modal value
is a ``min(struct(-count, value))`` argmax, NOT a per-column window
sort, so a column with one dominant value (the common case: status
flags, languages) never concentrates into a hot sorted partition.

Values are compared as strings (profiling semantics — the census cares
about cardinality and mass, not numeric order); min/max/mean belong to
typed per-column aggregates the relational surface already covers
(A1/A3). Only integer-family and string columns should be melted —
float/timestamp string forms are engine-specific (the determinism rule
of plans/registry.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_columns(df: DataFrame, columns: list[str]) -> DataFrame:
    """Per-column census over ``columns``: returns one row per column —
    ``(col_name, n_rows, n_nulls, n_distinct, top_value, top_count)``.

    ``n_distinct`` is exact (distinct values are a groupBy key, not a
    sketch); ``top_value`` is the most frequent non-null value, ties
    broken by min value so every engine agrees. Columns that are
    entirely null profile as ``(n, n, 0, NULL, 0)``.
    """
    melted = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"),
                        F.col(c).cast("string").alias("value"),
                    )
                    for c in columns
                ]
            )
        ).alias("_kv")
    ).select("_kv.col_name", "_kv.value")
    # ONE pass over the melted rows builds the full (column, value)
    # counts — nulls included — and the totals derive from that
    # dictionary-sized frame by Σ-identity (previously a second full
    # melt pass): n_rows = Σ_c, non-null = Σ_c over non-null values.
    vc_all = (
        melted.groupBy("col_name", "value")
        .agg(F.count(F.lit(1)).alias("_c"))
        .localCheckpoint(eager=False)
    )
    totals = vc_all.groupBy("col_name").agg(
        F.sum("_c").alias("n_rows"),
        F.sum(F.when(F.col("value").isNotNull(), F.col("_c"))
              .otherwise(F.lit(0))).alias("_n_nonnull"),
    )
    vc = vc_all.filter(F.col("value").isNotNull())
    top = vc.groupBy("col_name").agg(
        F.count(F.lit(1)).alias("n_distinct"),
        F.min(
            F.struct((-F.col("_c")).alias("_nc"), F.col("value").alias("_v"))
        ).alias("_top"),
    )
    return (
        totals.join(top, "col_name", "left")
        .select(
            "col_name",
            "n_rows",
            (F.col("n_rows") - F.col("_n_nonnull")).alias("n_nulls"),
            F.coalesce("n_distinct", F.lit(0).cast("long")).alias("n_distinct"),
            F.col("_top._v").alias("top_value"),
            F.coalesce(-F.col("_top._nc"), F.lit(0).cast("long"))
            .alias("top_count"),
        )
    )


def profile_drift(old_profile: DataFrame,
                  new_profile: DataFrame) -> DataFrame:
    """Data-quality drift report between two :func:`profile_columns`
    snapshots (e.g. yesterday's release vs today's): per column, the
    null-rate delta, distinct-count ratio, and whether the modal value
    changed — the monitoring signal that catches a broken upstream
    extractor before it trains into a model.

    Columns present in only one snapshot report status
    ``added``/``removed``; both → ``common``. Ratios are exact
    integer arithmetic rounded once (engine-portable).
    """
    o = old_profile.select(
        "col_name",
        F.col("n_rows").alias("_or"), F.col("n_nulls").alias("_on"),
        F.col("n_distinct").alias("_od"), F.col("top_value").alias("_ot"),
    )
    n = new_profile.select(
        "col_name",
        F.col("n_rows").alias("_nr"), F.col("n_nulls").alias("_nn"),
        F.col("n_distinct").alias("_nd"), F.col("top_value").alias("_nt"),
    )
    return o.join(n, "col_name", "full_outer").select(
        "col_name",
        F.when(F.col("_or").isNull(), F.lit("added"))
        .when(F.col("_nr").isNull(), F.lit("removed"))
        .otherwise(F.lit("common")).alias("status"),
        F.round(
            F.coalesce(F.col("_nn") / F.col("_nr"), F.lit(0.0))
            - F.coalesce(F.col("_on") / F.col("_or"), F.lit(0.0)),
            6,
        ).alias("null_rate_delta"),
        F.round(
            F.when(
                F.col("_od").isNotNull() & (F.col("_od") > 0),
                F.coalesce(F.col("_nd"), F.lit(0)) / F.col("_od"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("distinct_ratio"),
        (
            F.coalesce(F.col("_ot") != F.col("_nt"),
                       F.col("_ot").isNotNull() | F.col("_nt").isNotNull())
        ).cast("int").alias("modal_changed"),
    )


def distribution_drift(old: DataFrame, new: DataFrame, value_col: str,
                       lo: float, hi: float, n_bins: int = 20) -> DataFrame:
    """Distribution-drift report between two snapshots of a numeric
    column (M75; completes the drift trio — M64 process edges, M65
    column census, this one value distributions): fixed-bin histograms
    of both sides reconciled bin by bin, with exact integer proportions
    in millionths — the input to an L1 / chi-square / PSI alarm, which
    the caller computes by summing bins.

    Bins are ``n_bins`` equal widths over the CALLER-FIXED [lo, hi) —
    fixed bounds, not data-derived quantiles, so the two sides (and any
    SQL oracle) bin identically and drift in the data cannot move the
    bin edges under the comparison. Outliers clamp into the edge bins
    (bin 0 / n_bins−1); NULLs are dropped and reported via the
    proportions' denominators. One partial-agg groupBy per side + a
    full-outer join on ≤ n_bins rows.
    """
    if not hi > lo:
        raise ValueError(f"hi ({hi}) must be > lo ({lo})")
    if n_bins < 1:
        raise ValueError(f"n_bins ({n_bins}) must be >= 1")

    def hist(df: DataFrame, out: str) -> DataFrame:
        v = F.col(value_col).cast("double")
        raw = F.floor((v - F.lit(lo)) / F.lit((hi - lo) / n_bins))
        b = F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1))
        return (
            df.filter(v.isNotNull())
            .groupBy(b.cast("int").alias("bin"))
            .agg(F.count(F.lit(1)).alias(out))
        )

    h_old = hist(old, "n_old")
    h_new = hist(new, "n_new")
    t_old = old.agg(F.count(F.col(value_col)).alias("_to"))
    t_new = new.agg(F.count(F.col(value_col)).alias("_tn"))
    zero = F.lit(0).cast("long")
    return (
        h_old.join(h_new, "bin", "full_outer")
        .crossJoin(F.broadcast(t_old))
        .crossJoin(F.broadcast(t_new))
        .select(
            "bin",
            F.coalesce("n_old", zero).alias("n_old"),
            F.coalesce("n_new", zero).alias("n_new"),
            F.when(F.col("_to") > 0,
                   F.floor(F.coalesce("n_old", zero) * F.lit(1_000_000)
                           / F.col("_to")))
            .otherwise(F.lit(0)).cast("long").alias("p_old_micro"),
            F.when(F.col("_tn") > 0,
                   F.floor(F.coalesce("n_new", zero) * F.lit(1_000_000)
                           / F.col("_tn")))
            .otherwise(F.lit(0)).cast("long").alias("p_new_micro"),
        )
    )
