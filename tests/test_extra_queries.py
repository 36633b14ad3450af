"""Secondary-registry correctness gate.

The driver's CORRECTNESS window checks at most 50 queries, so the
single-primitive demo queries live in ``registry.EXTRA_QUERIES`` (their
operators are ALSO covered by primary composites — see VERDICT r2 §
operator table). This test is their oracle gate: every extra query runs
on Spark AND its DuckDB twin over the same parquet, and must match on
row count, sorted schema, and order-insensitive canonical values —
exactly the driver's comparison.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from pathlib import Path

import duckdb
import pytest

from batch_processing_analysis_spark.plans import registry
from batch_processing_analysis_spark.plans import (  # noqa: F401 — register
    queries_eventlog,
    queries_relational,
    queries_text,
)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(_canon_cell(r[i]) for i in order) for r in rows)
    return sorted(cols), out


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{p}'")
    yield con
    con.close()


def test_registry_split_is_driver_sized():
    # The driver checks at most 50 queries; the exported surface must
    # fit so every operator family lands inside the window.
    assert len(registry.QUERIES) <= 50
    # Nothing registered twice.
    assert not set(registry.QUERIES) & set(registry.EXTRA_QUERIES)
    # Every extra has an oracle (extras exist to stay oracle-verified).
    assert set(registry.EXTRA_QUERIES) == set(registry.EXTRA_ORACLES)


# Queries whose oracle is a golden-VALUES snapshot pinned at a specific
# scale factor (the driver + verify_queries gate run at sf0.01): the
# extras suite must evaluate them at THAT sf, not the suite's default —
# at sf0.001 the rule miner legitimately finds nothing and the pinned
# rows would read as a false mismatch.
PINNED_SF = {"q37_activation_rules": "/root/testdata/sf0.01"}


@pytest.mark.parametrize("name", sorted(registry.EXTRA_QUERIES))
def test_extra_query_matches_oracle(name, spark, sf_dir, duck):
    if name in PINNED_SF:
        sf_dir = PINNED_SF[name]
        con = duckdb.connect()
        try:
            for t in TABLES:
                p = f"{sf_dir}/{t}.parquet"
                if Path(p).exists():
                    con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                                f"SELECT * FROM '{p}'")
            res = con.execute(registry.EXTRA_ORACLES[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        finally:
            con.close()
        d_cols, d_rows = _canon(d_cols, d_rows)
    else:
        res = duck.execute(registry.EXTRA_ORACLES[name])
        d_cols, d_rows = _canon([d[0] for d in res.description],
                                res.fetchall())
    sdf = registry.EXTRA_QUERIES[name](spark, sf_dir)
    s_cols, s_rows = _canon(sdf.columns, [tuple(r) for r in sdf.collect()])
    assert s_cols == d_cols
    assert len(s_rows) == len(d_rows)
    assert s_rows == d_rows


def test_funnel_semantics_hand_case(spark):
    from datetime import datetime

    from batch_processing_analysis_spark.operators.events_analytics import (
        funnel_steps,
    )

    T = lambda m: datetime(2024, 1, 1, 9, m)
    rows = [
        # u1 completes in order
        (1, "view", T(0)), (1, "click", T(5)), (1, "purchase", T(9)),
        # u2: click BEFORE first view -> funnel breaks at step 2
        (2, "click", T(0)), (2, "view", T(5)),
        # u3: never enters (no view) -> excluded
        (3, "purchase", T(1)),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    )
    got = {r["user_id"]: r for r in funnel_steps(
        ev, ["view", "click", "purchase"]).collect()}
    assert set(got) == {1, 2}
    assert got[1]["depth"] == 3
    assert got[1]["ts_1"] < got[1]["ts_2"] < got[1]["ts_3"]
    assert got[2]["depth"] == 1 and got[2]["ts_2"] is None


def test_funnel_one_exchange_plan(spark, sf_dir):
    # The scale claim: all step windows share ONE hash partitioning on
    # user_id — no join of events back onto events.
    from batch_processing_analysis_spark.operators.events_analytics import (
        funnel_steps,
    )
    from batch_processing_analysis_spark.sources.tables import load_table

    df = funnel_steps(load_table(spark, sf_dir, "events"),
                      ["view", "click", "purchase"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan
def test_resample_locf_semantics(spark):
    from datetime import datetime

    from batch_processing_analysis_spark.operators.timeseries import (
        resample_locf,
    )

    T = lambda m, s=0: datetime(2024, 1, 1, 0, m, s)
    ev = spark.createDataFrame(
        [
            # user 1: two obs in slot 0 (last wins by ts, then id),
            # gap at slot 60-120, new obs at slot 180
            (1, 1, T(0, 10), 10.0),
            (2, 1, T(0, 50), 20.0),
            (3, 1, T(3, 5), 30.0),
            # user 2: single observation -> single observed slot
            (9, 2, T(7), 70.0),
        ],
        "event_id long, user_id long, ts timestamp, value double",
    )
    rows = {
        (r["user_id"], r["slot_ts"]): (r["value"], r["observed"])
        for r in resample_locf(ev, step=60).collect()
    }
    base = int(datetime(2024, 1, 1).timestamp())
    assert rows[(1, base + 0)] == (20.0, 1)      # last obs in slot wins
    assert rows[(1, base + 60)] == (20.0, 0)     # carried forward
    assert rows[(1, base + 120)] == (20.0, 0)    # carried forward
    assert rows[(1, base + 180)] == (30.0, 1)
    assert rows[(2, base + 420)] == (70.0, 1)
    assert len(rows) == 5  # grid spans exactly min..max per key


def test_resample_locf_tiebreak_same_second(spark):
    from datetime import datetime

    from batch_processing_analysis_spark.operators.timeseries import (
        resample_locf,
    )

    t = datetime(2024, 1, 1, 0, 0, 30)
    ev = spark.createDataFrame(
        [(5, 1, t, 1.0), (6, 1, t, 2.0)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    row = resample_locf(ev, step=60).collect()[0]
    assert row["value"] == 2.0  # same second -> higher event_id wins


def test_rolling_median_hand_case(spark):
    from datetime import datetime, timedelta

    from batch_processing_analysis_spark.operators.timeseries import (
        rolling_median,
    )

    T0 = datetime(2024, 1, 1)
    vals = [5.0, 1.0, 9.0, 3.0]
    ev = spark.createDataFrame(
        [(i, 1, T0 + timedelta(minutes=i), v) for i, v in enumerate(vals)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    got = [
        r["rolling_median"]
        for r in rolling_median(ev, n=3).orderBy("ts").collect()
    ]
    # growing frames: [5], [5,1] -> 3.0 (avg of middles), [5,1,9] -> 5,
    # then sliding [1,9,3] -> 3
    assert got == [5.0, 3.0, 5.0, 3.0]


def test_parse_json_col_malformed_rows_null_not_dropped(spark):
    from batch_processing_analysis_spark.functions.semistructured import (
        parse_json_col,
    )

    df = spark.createDataFrame(
        [(1, '{"k": 7}'), (2, "not json"), (3, None), (4, '{"k": null}')],
        "id long, props string",
    )
    out = parse_json_col(df, "props", "k long")
    got = {r["id"]: r["_j"]["k"] if r["_j"] else None for r in out.collect()}
    assert got == {1: 7, 2: None, 3: None, 4: None}
    assert out.count() == 4  # malformed rows kept, fields nulled


def test_pseudonymize_referential_integrity(spark):
    from batch_processing_analysis_spark.operators.privacy import (
        pseudonymize,
    )

    a = spark.createDataFrame([(1, "x"), (2, "y"), (None, "z")],
                              "uid long, p string")
    b = spark.createDataFrame([(1, 10), (1, 11), (3, 12)],
                              "uid long, v long")
    ta = pseudonymize(a, ["uid"], "s")
    tb = pseudonymize(b, ["uid"], "s")
    # Same salt -> joins across tables still line up exactly.
    assert ta.join(tb, "uid").count() == a.join(b, "uid").count() == 2
    # NULL passes through as NULL; different salt severs the mapping.
    assert ta.filter("uid IS NULL").count() == 1
    tb2 = pseudonymize(b, ["uid"], "OTHER")
    assert ta.join(tb2, "uid").count() == 0


def test_redact_documents_rules_and_edges(spark):
    from batch_processing_analysis_spark.operators.privacy import (
        redact_documents,
    )

    docs = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.com now"),
            (2, "see https://example.com/a?id=123456789 ok"),
            (3, "card 4111111112222222 and 12345 short"),
            (4, "clean text, nothing to hide"),
            (5, None),
            # email embedded in a URL: email rule fires first (fixed
            # order), URL rule then eats the remainder.
            (6, "http://x.io/u/a@b.co trailing"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in redact_documents(docs).collect()}
    assert out[1]["text"] == "mail <EMAIL> now"
    # URL rule consumes the whole non-space run, digits included.
    assert out[2]["text"] == "see <URL> ok"
    assert out[3]["text"] == "card <NUMBER> and 12345 short"
    assert out[4]["text"] == "clean text, nothing to hide"
    assert out[4]["was_redacted"] == 0
    assert out[5]["text"] is None and out[5]["was_redacted"] is None
    # the URL rule then swallows the placeholder too — whole run gone.
    assert out[6]["text"] == "<URL> trailing"
    assert sum(r["was_redacted"] or 0 for r in out.values()) == 4


def test_cms_overestimates_and_merges(spark):
    from batch_processing_analysis_spark.operators.sketches import (
        cms_estimate, cms_merge, cms_sketch,
    )

    rows = [("a",)] * 50 + [("b",)] * 7 + [(f"x{i}",) for i in range(40)]
    items = spark.createDataFrame(rows, "item string")
    sk = cms_sketch(items, depth=4, width=64)
    # Grid stays within depth*width no matter the vocabulary.
    assert sk.count() <= 4 * 64
    est = {r["item"]: r["est"]
           for r in cms_estimate(sk, items, depth=4, width=64).collect()}
    true = {"a": 50, "b": 7} | {f"x{i}": 1 for i in range(40)}
    # One-sided error: never under the true count.
    assert all(est[k] >= v for k, v in true.items())
    # The heavy hitter dominates regardless of collisions elsewhere.
    assert max(est, key=lambda k: (est[k], k)) == "a"
    # Split-build + merge == one-shot build, counter for counter.
    half1 = spark.createDataFrame(rows[:40], "item string")
    half2 = spark.createDataFrame(rows[40:], "item string")
    merged = cms_merge(cms_sketch(half1, depth=4, width=64),
                       cms_sketch(half2, depth=4, width=64))
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, sk.collect()))
    # Absent item estimates 0 unless every row collides.
    ghost = spark.createDataFrame([("zzz-never-seen",)], "item string")
    g = cms_estimate(sk, ghost, depth=4, width=64).collect()[0]["est"]
    assert g >= 0


def test_validate_null_is_failure_and_split(spark):
    from pyspark.sql import functions as F

    from batch_processing_analysis_spark.operators.validation import (
        quarantine_split, validate, validation_summary,
    )

    df = spark.createDataFrame(
        [(1, "ok", 5), (2, None, 5), (3, "ok", None), (4, "bad", -1)],
        "id long, s string, v long",
    )
    flagged = validate(df, {
        "s_ok": F.col("s") == "ok",        # NULL s -> NULL -> fail
        "v_pos": F.col("v") > 0,           # NULL v -> NULL -> fail
    })
    got = {r["id"]: (r["ok_s_ok"], r["ok_v_pos"], r["n_violations"])
           for r in flagged.collect()}
    assert got == {1: (1, 1, 0), 2: (0, 1, 1), 3: (1, 0, 1), 4: (0, 0, 2)}
    clean, quar = quarantine_split(flagged)
    assert {r["id"] for r in clean.collect()} == {1}
    assert {r["id"] for r in quar.collect()} == {2, 3, 4}
    summ = {r["rule"]: (r["n_rows"], r["n_pass"], r["n_fail"])
            for r in validation_summary(flagged).collect()}
    assert summ == {"s_ok": (4, 2, 2), "v_pos": (4, 2, 2)}


def test_distribution_drift_clamps_and_nulls(spark):
    from batch_processing_analysis_spark.operators.profiling import (
        distribution_drift,
    )

    old = spark.createDataFrame(
        [(float(v),) for v in [-5, 0, 9, 10, 95, 200]] + [(None,)],
        "v double",
    )
    new = spark.createDataFrame([(5.0,), (15.0,), (None,)], "v double")
    # 10 bins over [0, 100): width 10; -5 clamps to bin 0, 200 to bin 9.
    got = {r["bin"]: (r["n_old"], r["n_new"], r["p_old_micro"],
                      r["p_new_micro"])
          for r in distribution_drift(old, new, "v", 0.0, 100.0,
                                      n_bins=10).collect()}
    assert got[0] == (3, 1, 500000, 500000)   # -5, 0, 9 | 5
    assert got[1] == (1, 1, 166666, 500000)   # 10 | 15
    assert got[9] == (2, 0, 333333, 0)        # 95 + clamped 200 | —
    assert set(got) == {0, 1, 9}              # NULLs dropped from both
    # Degenerate bounds are rejected up front, not a ZeroDivisionError
    # at plan-build time.
    with pytest.raises(ValueError, match="hi"):
        distribution_drift(old, new, "v", 5.0, 5.0)
    with pytest.raises(ValueError, match="n_bins"):
        distribution_drift(old, new, "v", 0.0, 100.0, n_bins=0)


def test_bucket_rollup_weight_and_nesting_guard(spark):
    from datetime import datetime

    import pytest as _pytest

    from batch_processing_analysis_spark.operators.timeseries import (
        bucket_rollup,
    )

    ev = spark.createDataFrame(
        [
            ("a", datetime(2024, 1, 1, 0, 30), 2.0),
            ("a", datetime(2024, 1, 1, 5, 0), 3.0),
            ("a", datetime(2024, 1, 2, 1, 0), 5.0),
            ("b", datetime(2024, 1, 1, 23, 59, 59), 7.0),
        ],
        "event_type string, ts timestamp, w double",
    )
    got = {(r["bucket_ts"], r["event_type"]): (r["n_events"], r["total_w"])
           for r in bucket_rollup(ev, "ts", ["event_type"], 3600, 86400,
                                  weight_col="w").collect()}
    d1 = int(datetime(2024, 1, 1).timestamp())
    d2 = int(datetime(2024, 1, 2).timestamp())
    assert got == {(d1, "a"): (2, 5.0), (d2, "a"): (1, 5.0),
                   (d1, "b"): (1, 7.0)}
    # Non-nesting granularities are rejected, not silently wrong.
    with _pytest.raises(ValueError):
        bucket_rollup(ev, "ts", ["event_type"], 3600, 5000)


def test_negative_samples_determinism_and_exclusion(spark):
    from batch_processing_analysis_spark.operators.sampling import (
        negative_samples,
    )

    docs = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    # Pair every even id with its odd neighbor as one "near-dup" cluster.
    clusters = spark.createDataFrame(
        [(i, i // 2) for i in range(100)], "doc_id long, cluster long"
    )
    out = negative_samples(docs, k=4, n_buckets=32, clusters=clusters)
    rows = [(r["anchor_id"], r["neg_id"], r["i"]) for r in out.collect()]
    # No self-pairs, no same-cluster pairs.
    assert all(a != n for a, n, _ in rows)
    assert all(a // 2 != n // 2 for a, n, _ in rows)
    # Up to k per anchor; most anchors get close to k.
    from collections import Counter
    per = Counter(a for a, _, _ in rows)
    assert max(per.values()) <= 4
    assert sum(per.values()) > 100 * 2  # bulk of the k*N budget survives
    # Deterministic: same seed -> identical pair set.
    again = [(r["anchor_id"], r["neg_id"], r["i"])
             for r in negative_samples(docs, k=4, n_buckets=32,
                                       clusters=clusters).collect()]
    assert sorted(rows) == sorted(again)


def test_rolling_mad_hand_case(spark):
    from datetime import datetime, timedelta

    from batch_processing_analysis_spark.operators.timeseries import (
        rolling_mad,
    )

    T0 = datetime(2024, 1, 1)
    vals = [1.0, 9.0, 2.0, 100.0]  # the 100 outlier must not mask itself
    ev = spark.createDataFrame(
        [(i, 1, T0 + timedelta(minutes=i), v) for i, v in enumerate(vals)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    got = [r["rolling_mad"]
           for r in rolling_mad(ev, n=3).orderBy("ts").collect()]
    # [1] -> 0; [1,9] -> med 5, devs [4,4] -> 4; [1,9,2] -> med 2,
    # devs [0,1,7] -> 1; [9,2,100] -> med 9, devs [0,7,91] -> 7.
    assert got == [0.0, 4.0, 1.0, 7.0]


def test_weighted_sample_determinism_and_bias(spark):
    from batch_processing_analysis_spark.operators.sampling import (
        weighted_sample,
    )

    docs = spark.createDataFrame(
        [(i, float(1000 if i < 10 else 1)) for i in range(200)]
        + [(900, None), (901, 0.0), (902, -5.0),
           (903, float("nan"))],  # NaN passes `> 0` and wins desc sorts
        "doc_id long, w double",
    )
    out = weighted_sample(docs, k=20, weight_col="w", seed="t:0")
    rows = [(r.doc_id, r.sample_key) for r in out.collect()]
    assert len(rows) == 20
    # Null / NaN / zero / negative weights can never be drawn.
    assert all(r[0] < 900 for r in rows)
    # Heavy rows (weight 1000 vs 1) dominate the sample.
    assert sum(1 for r in rows if r[0] < 10) >= 8
    # Deterministic: same seed -> identical sample; keys descending.
    again = [(r.doc_id, r.sample_key)
             for r in weighted_sample(docs, k=20, weight_col="w",
                                      seed="t:0").collect()]
    assert rows == again
    keys = [k for _, k in rows]
    assert keys == sorted(keys, reverse=True)
    # Different seed -> different draw (with overwhelming probability).
    other = {r.doc_id for r in weighted_sample(
        docs, k=20, weight_col="w", seed="t:1").collect()}
    assert other != {d for d, _ in rows}
    with pytest.raises(ValueError):
        weighted_sample(docs, k=0, weight_col="w", seed="t:0")


def test_k_anonymize_additivity_and_suppression(spark):
    from batch_processing_analysis_spark.operators.privacy import k_anonymize

    df = spark.createDataFrame(
        [("a", 1)] * 7 + [("b", 1)] * 3 + [("c", None)] * 2,
        "g string, v int",
    )
    out = {(r.g,): r.n_rows for r in k_anonymize(df, ["g"], k=5).collect()}
    # 'a' (7 rows) survives; 'b' (3) and 'c' (2) fold into one row.
    assert out == {("a",): 7, ("__suppressed__",): 5}
    assert sum(out.values()) == 12  # additive: totals preserved
    # No suppressed row when every group clears k.
    all_ok = {(r.g,): r.n_rows
              for r in k_anonymize(df, ["g"], k=2).collect()}
    assert all_ok == {("a",): 7, ("b",): 3, ("c",): 2}
    with pytest.raises(ValueError):
        k_anonymize(df, ["g"], k=0)


def test_k_anonymize_sentinel_collision_fails_loudly(spark):
    """ADVICE r4: a genuine group value equal to '__suppressed__' would
    silently merge with the sentinel row — the gate must fail instead."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from batch_processing_analysis_spark.operators.privacy import k_anonymize

    df = spark.createDataFrame(
        [("a", 1)] * 6 + [("__suppressed__", 1)] * 6, "g string, v int"
    )
    with pytest.raises((SparkRuntimeException, Py4JJavaError)) as ei:
        k_anonymize(df, ["g"], k=5).collect()
    assert "collides with" in str(ei.value)


def test_time_split_embargo_semantics(spark):
    from datetime import datetime

    from batch_processing_analysis_spark.operators.ordering import (
        time_split_with_embargo,
    )

    cut = int(datetime(2024, 6, 1).timestamp())
    ev = spark.createDataFrame(
        [
            (1, datetime(2024, 5, 1)),          # well before -> train
            (2, datetime(2024, 5, 30, 23, 59)), # inside embargo (2d)
            (3, datetime(2024, 5, 29, 23, 59, 59)),  # 1 s before gap
            (4, datetime(2024, 6, 1)),          # exactly at cut -> eval
            (5, datetime(2024, 7, 1)),          # after -> eval
            (6, None),                          # NULL ts -> NULL label
        ],
        "id long, ts timestamp",
    )
    got = {r.id: r.split
           for r in time_split_with_embargo(
               ev, "ts", cut, embargo_s=2 * 86400).collect()}
    assert got == {1: "train", 2: "embargo", 3: "train",
                   4: "eval", 5: "eval", 6: None}
    # Zero embargo: the gap label disappears entirely.
    none_gap = {r.split for r in time_split_with_embargo(
        ev.filter("ts IS NOT NULL"), "ts", cut).collect()}
    assert none_gap == {"train", "eval"}
    with pytest.raises(ValueError):
        time_split_with_embargo(ev, "ts", cut, embargo_s=-1)


def test_cross_source_dup_matrix_cells(spark):
    from batch_processing_analysis_spark.operators.dedup import (
        cross_source_dup_matrix,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha text", "s1"),   # canon of {1,2,3}
            (2, "ALPHA  text", "s2"),  # cross-source dup of 1
            (3, "alpha text", "s1"),   # within-source dup of 1
            (4, "unique here", "s2"),  # no pair
        ],
        "doc_id long, text string, source string",
    )
    got = {(r.source_a, r.source_b): r.n_pairs
           for r in cross_source_dup_matrix(docs).collect()}
    # Star edges from canon 1: (1,2) -> s1/s2 cell, (1,3) -> s1 diag.
    assert got == {("s1", "s2"): 1, ("s1", "s1"): 1}
    # Pluggable pair frame: a supplied near-dup edge set is honored.
    pairs = spark.createDataFrame([(2, 4)], "id_a long, id_b long")
    fuzzy = {(r.source_a, r.source_b): r.n_pairs
             for r in cross_source_dup_matrix(docs, pairs).collect()}
    assert fuzzy == {("s2", "s2"): 1}
