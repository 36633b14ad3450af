"""Point-in-interval range join (J2) — broadcast and bucketed strategies.

The reference computes its workload feature by re-scanning the whole
event log once per instant (reference: utils.py:179-196, one pandas
filter per call from activation_rules.py:132). The Spark-native shape is
a single join of all instants against all intervals. Two physical
strategies, both returning identical matched pairs:

- **broadcast**: hash-join on the equality keys with the range predicate
  as a residual filter, the (small) point side broadcast. Right while
  the point set fits the broadcast budget — one pass over the intervals,
  zero shuffle of the big side.

- **bucketed**: quantize time into fixed-width buckets; points map to
  exactly one bucket, intervals ``explode`` into every bucket they
  cover, and the join becomes a plain shuffled equi-join on
  (keys…, bucket) plus the exact range residual. Each matched pair is
  produced exactly once (the point lives in a single bucket), so no
  dedup is needed. This is the scale path when BOTH sides are large:
  shuffle is proportional to data × fan-out, never |points|×|intervals|.

  Intervals much longer than the bucket width would fan out unboundedly;
  those (rare, by construction of a sensible ``bucket``) are split off
  by a span guard and joined via the keys-equality + residual path
  instead, then unioned back. This bounds worst-case explode fan-out at
  ``max_span`` rows per interval regardless of data skew.
"""

from __future__ import annotations

import functools
import operator
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SPAN = "__rj_span"
_BUCKET = "__rj_bucket"


def _eq_cond(keys: Sequence[str]) -> list[Column]:
    return [F.col(k) == F.col(f"__rj_{k}") for k in keys]


def _rename_keys(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    for k in keys:
        df = df.withColumnRenamed(k, f"__rj_{k}")
    return df


def point_in_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    *,
    point: str,
    start: str,
    end: str,
    keys: Sequence[str] = (),
    bucket: int | None = None,
    max_span: int = 256,
    broadcast_points: bool = True,
) -> DataFrame:
    """All (point, interval) pairs with ``start <= point <= end`` and
    equal ``keys``. ``point``/``start``/``end`` are integer (e.g. epoch
    seconds/micros) columns; other column names must be disjoint across
    the two inputs. Output columns: points' columns + intervals'
    non-key columns; each match appears exactly once.

    ``bucket=None`` selects the broadcast strategy; an integer selects
    the bucketed strategy with that bucket width (same unit as the time
    columns). ``max_span`` caps per-interval explode fan-out: intervals
    covering more buckets take the residual-join path.
    """
    iv = _rename_keys(intervals, keys)
    range_cond = (F.col(start) <= F.col(point)) & (F.col(point) <= F.col(end))

    def residual_join(pts: DataFrame, ivs: DataFrame) -> DataFrame:
        cond = functools.reduce(operator.and_, _eq_cond(keys) + [range_cond])
        left = F.broadcast(pts) if broadcast_points else pts
        return ivs.join(left, cond)

    if bucket is None:
        joined = residual_join(points, iv)
        return joined.drop(*[f"__rj_{k}" for k in keys])

    b = F.lit(int(bucket))
    iv = iv.withColumn(_SPAN, (F.floor(F.col(end) / b) - F.floor(F.col(start) / b)))
    short, long = iv.filter(F.col(_SPAN) < max_span), iv.filter(F.col(_SPAN) >= max_span)

    pts_b = points.withColumn(_BUCKET, F.floor(F.col(point) / b))
    short_b = short.withColumn(
        _BUCKET,
        F.explode(F.sequence(F.floor(F.col(start) / b), F.floor(F.col(end) / b))),
    )
    cond = functools.reduce(
        operator.and_,
        _eq_cond(keys) + [pts_b[_BUCKET] == short_b[_BUCKET], range_cond],
    )
    bucketed = short_b.join(pts_b, cond).drop(_BUCKET)
    # Long intervals are few by construction (span guard): keys-equality
    # join with the residual filter; never a cartesian product.
    rest = residual_join(pts_b.drop(_BUCKET), long)
    return bucketed.unionByName(rest).drop(_SPAN, *[f"__rj_{k}" for k in keys])


def workload_at_instants(
    log: DataFrame,
    points: DataFrame,
    *,
    resource: str,
    instant: str,
    enabled: str,
    end: str,
    case: str,
) -> DataFrame:
    """#distinct cases a resource is busy with at each instant
    (reference: utils.py:179-196): count cases whose
    ``enabled <= instant <= end`` on the same resource. Returns
    (resource, instant, workload) for instants with ≥1 busy case —
    callers left-join and coalesce to 0, preserving the reference's
    "no busy case → workload 0" semantics."""
    pairs = point_in_interval_join(
        points,
        log.select(
            F.col(resource).alias(resource),
            F.col(enabled).alias("__rj_en"),
            F.col(end).alias("__rj_end"),
            F.col(case).alias("__rj_case"),
        ),
        point=instant,
        start="__rj_en",
        end="__rj_end",
        keys=[resource],
    )
    return pairs.groupBy(resource, instant).agg(
        F.countDistinct("__rj_case").alias("workload")
    )


_SPAN_A = "__rj_span_a"
_SPAN_B = "__rj_span_b"


def interval_overlap_join(
    a: DataFrame,
    b: DataFrame,
    *,
    a_start: str,
    a_end: str,
    b_start: str,
    b_end: str,
    keys: Sequence[str] = (),
    bucket: int | None = None,
    max_span: int = 256,
) -> DataFrame:
    """All (a, b) pairs whose CLOSED intervals overlap
    (``a_start <= b_end AND b_start <= a_end``) with equal ``keys`` —
    the interval×interval generalization of
    :func:`point_in_interval_join`. Non-key column names must be
    disjoint across the inputs; each matched pair appears exactly once.

    ``bucket=None``: keys-equality hash join with the overlap residual
    (right when one side is small or the keys are selective).

    ``bucket=<width>``: BOTH sides explode into the fixed-width time
    buckets they cover and the join is a plain equi-join on
    (keys…, bucket). An overlapping pair shares every bucket its
    intersection covers, so to emit it EXACTLY once the match is
    anchored to one canonical shared bucket — the bucket of
    ``greatest(a_start, b_start)`` (the intersection's left endpoint,
    which both sides necessarily cover). No distinct pass, so the
    operator stays streaming-friendly and never materializes the
    duplicate pre-image.

    Intervals spanning ≥ ``max_span`` buckets on either side take the
    residual path (few by construction of a sensible width): long-a ×
    all-b, then short-a × long-b — a partition of the pair space, so
    nothing is produced twice across strategies.
    """
    overlap = (F.col(a_start) <= F.col(b_end)) & (
        F.col(b_start) <= F.col(a_end)
    )
    bk = _rename_keys(b, keys)

    def residual(aa: DataFrame, bb: DataFrame, small: str) -> DataFrame:
        cond = functools.reduce(operator.and_, _eq_cond(keys) + [overlap])
        if small == "a":
            return bb.join(F.broadcast(aa), cond)
        return F.broadcast(bb).join(aa, cond) if small == "b" else aa.join(bb, cond)

    if bucket is None:
        return residual(a, bk, "none").drop(*[f"__rj_{k}" for k in keys])

    w = F.lit(int(bucket))
    aa = a.withColumn(
        _SPAN_A, F.floor(F.col(a_end) / w) - F.floor(F.col(a_start) / w)
    )
    bb = bk.withColumn(
        _SPAN_B, F.floor(F.col(b_end) / w) - F.floor(F.col(b_start) / w)
    )
    short_a, long_a = (aa.filter(F.col(_SPAN_A) < max_span),
                       aa.filter(F.col(_SPAN_A) >= max_span))
    short_b, long_b = (bb.filter(F.col(_SPAN_B) < max_span),
                       bb.filter(F.col(_SPAN_B) >= max_span))

    ea = short_a.withColumn(
        _BUCKET,
        F.explode(F.sequence(F.floor(F.col(a_start) / w),
                             F.floor(F.col(a_end) / w))),
    )
    eb = short_b.withColumn(
        _BUCKET,
        F.explode(F.sequence(F.floor(F.col(b_start) / w),
                             F.floor(F.col(b_end) / w))),
    )
    anchor = F.floor(F.greatest(F.col(a_start), F.col(b_start)) / w)
    cond = functools.reduce(
        operator.and_,
        _eq_cond(keys)
        + [ea[_BUCKET] == eb[_BUCKET], overlap, ea[_BUCKET] == anchor],
    )
    bucketed = ea.join(eb, cond).drop(_BUCKET)
    # Long intervals: a partition of the remaining pair space.
    rest1 = residual(long_a, bb, "a")             # long-a × all-b
    rest2 = residual(short_a, long_b, "b")        # short-a × long-b
    out = bucketed.unionByName(rest1).unionByName(rest2)
    return out.drop(_SPAN_A, _SPAN_B, *[f"__rj_{k}" for k in keys])
