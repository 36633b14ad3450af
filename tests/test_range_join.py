"""Bucketed vs broadcast point-in-interval join equivalence, and the
workload count against a pure-Python reference (J2; reference workload
semantics: utils.py:179-196)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from batch_processing_analysis_spark.operators.range_join import (
    point_in_interval_join,
    workload_at_instants,
)


@pytest.fixture(scope="module")
def data(spark):
    rng = random.Random(7)
    points = [(i, rng.randint(0, 10_000), f"r{rng.randint(0, 4)}") for i in range(300)]
    intervals = []
    for j in range(400):
        s = rng.randint(0, 10_000)
        # Mix of short intervals and a few very long ones (span-guard path).
        length = rng.randint(0, 50) if j % 20 else rng.randint(5_000, 9_000)
        intervals.append((j, s, s + length, f"r{rng.randint(0, 4)}", f"c{j % 37}"))
    p = spark.createDataFrame(points, "pid int, t long, res string")
    iv = spark.createDataFrame(intervals, "iid int, s long, e long, res string, cid string")
    return p, iv


def _pairs(df):
    return sorted((r["pid"], r["iid"]) for r in df.select("pid", "iid").collect())


def test_bucketed_matches_broadcast_keyed(data):
    p, iv = data
    base = _pairs(point_in_interval_join(
        p, iv, point="t", start="s", end="e", keys=["res"]))
    assert base  # non-degenerate fixture
    for bucket in (10, 100, 4096):
        got = _pairs(point_in_interval_join(
            p, iv, point="t", start="s", end="e", keys=["res"], bucket=bucket))
        assert got == base, f"bucket={bucket}"


def test_bucketed_matches_broadcast_unkeyed(data):
    # Unkeyed join: column names must be disjoint across sides.
    p, iv = data
    p = p.drop("res")
    base = _pairs(point_in_interval_join(p, iv, point="t", start="s", end="e"))
    got = _pairs(point_in_interval_join(
        p, iv, point="t", start="s", end="e", bucket=64))
    assert got == base


def test_span_guard_routes_long_intervals(data):
    # max_span=1 forces nearly everything through the residual path;
    # results must not change.
    p, iv = data
    base = _pairs(point_in_interval_join(
        p, iv, point="t", start="s", end="e", keys=["res"]))
    got = _pairs(point_in_interval_join(
        p, iv, point="t", start="s", end="e", keys=["res"], bucket=50, max_span=1))
    assert got == base


def test_workload_counts_distinct_busy_cases(data):
    p, iv = data
    log = iv.select("res", F.col("s").alias("en_us"), F.col("e").alias("end_us"), "cid")
    pts = p.select("res", F.col("t").alias("instant")).distinct()
    out = workload_at_instants(
        log, pts, resource="res", instant="instant",
        enabled="en_us", end="end_us", case="cid")
    got = sorted(map(tuple, out.collect()))

    intervals = log.collect()
    want = sorted(
        (r["res"], r["instant"], n)
        for r in pts.collect()
        if (n := len({
            i["cid"] for i in intervals
            if i["res"] == r["res"] and i["en_us"] <= r["instant"] <= i["end_us"]
        }))
    )
    assert got == want
    assert want  # non-degenerate


# ---------------------------------------------------------------------------
# interval_overlap_join (M56): exactly-once anchored-bucket emission
# ---------------------------------------------------------------------------

def _overlap_brute(arows, brows):
    out = set()
    for ia, sa, ea in arows:
        for ib, sb, eb in brows:
            if sa <= eb and sb <= ea:
                out.add((ia, ib))
    return out


def test_interval_overlap_join_matches_brute_force(spark):
    import random

    from batch_processing_analysis_spark.operators.range_join import (
        interval_overlap_join,
    )

    rng = random.Random(7)
    arows = [(i, s := rng.randrange(0, 2000), s + rng.randrange(0, 300))
             for i in range(60)]
    brows = [(i, s := rng.randrange(0, 2000),
              s + rng.choice([0, 5, 50, 1500]))  # includes LONG intervals
             for i in range(60)]
    a = spark.createDataFrame(arows, "id_a long, sa long, ea long")
    b = spark.createDataFrame(brows, "id_b long, sb long, eb long")
    want = _overlap_brute(arows, brows)
    for bucket in (None, 64):
        got = [
            (r["id_a"], r["id_b"])
            for r in interval_overlap_join(
                a, b, a_start="sa", a_end="ea", b_start="sb", b_end="eb",
                bucket=bucket, max_span=8,
            ).collect()
        ]
        assert len(got) == len(set(got)), f"duplicates with bucket={bucket}"
        assert set(got) == want, f"wrong pairs with bucket={bucket}"


def test_interval_overlap_join_keys(spark):
    from batch_processing_analysis_spark.operators.range_join import (
        interval_overlap_join,
    )

    a = spark.createDataFrame(
        [(1, "u", 0, 10), (2, "v", 0, 10)], "id_a long, k string, sa long, ea long"
    )
    b = spark.createDataFrame(
        [(7, "u", 5, 15)], "id_b long, k string, sb long, eb long"
    )
    got = [
        (r["id_a"], r["id_b"])
        for r in interval_overlap_join(
            a, b, a_start="sa", a_end="ea", b_start="sb", b_end="eb",
            keys=["k"], bucket=4,
        ).collect()
    ]
    assert got == [(1, 7)]  # key mismatch keeps (2, 7) out
