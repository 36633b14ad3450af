"""Property-based invariants (hypothesis).

A small number of Spark examples check end-to-end pipeline invariants
the reference's design guarantees (WT decomposition additivity, batch
partition consistency, enablement bounds), plus randomized operator
invariants.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from batch_processing_analysis_spark.config import Configuration, EventLogIDs
from batch_processing_analysis_spark.operators.discovery import discover_batches
from batch_processing_analysis_spark.operators.enablement import add_enabled_times
from batch_processing_analysis_spark.operators.waiting_time import add_waiting_times

IDS = EventLogIDs()

# ---------------------------------------------------------------------------
# Spark end-to-end invariants (few examples: session round-trips cost)
# ---------------------------------------------------------------------------

T0 = datetime(2024, 1, 1, 8)

spark_logs = st.lists(
    st.tuples(
        st.sampled_from(["c1", "c2", "c3", "c4"]),
        st.sampled_from(["A", "B"]),
        st.sampled_from(["r1", "r2"]),
        st.integers(0, 120),           # start minute
        st.integers(1, 30),            # duration minutes
    ),
    min_size=4, max_size=24,
)


@pytest.fixture(scope="module")
def mk_log(spark):
    def make(rows):
        data = [
            (c, a, r, T0 + timedelta(minutes=s), T0 + timedelta(minutes=s + d))
            for c, a, r, s, d in rows
        ]
        return spark.createDataFrame(
            data,
            schema=f"{IDS.case} string, {IDS.activity} string, "
                   f"{IDS.resource} string, {IDS.start_time} timestamp, "
                   f"{IDS.end_time} timestamp",
        )
    return make


@given(spark_logs)
@settings(max_examples=5, deadline=None)
def test_pipeline_invariants(mk_log, rows):
    log = add_enabled_times(mk_log(rows), IDS, 0.1)
    en = log.select(
        F.min(
            (F.col(IDS.enabled_time) <= F.col(IDS.start_time)).cast("int")
        ).alias("ok")
    ).first()["ok"]
    assert en == 1  # enablement never after start

    disc = discover_batches(log, Configuration(min_batch_instance_size=2))
    rows_out = disc.collect()
    assert len(rows_out) == len(rows)  # discovery is a row-preserving labeling
    by_batch: dict = {}
    for r in rows_out:
        if r[IDS.batch_id] is not None:
            by_batch.setdefault(r[IDS.batch_id], set()).add(r[IDS.case])
            assert r[IDS.batch_type] is not None
    for cases in by_batch.values():
        assert len(cases) >= 2  # min-size filter respected

    wt = add_waiting_times(disc, Configuration(min_batch_instance_size=2))
    bad = (
        wt.filter(F.col(IDS.batch_id).isNotNull())
        .filter(
            F.col(IDS.batch_total_wt)
            != F.col(IDS.batch_creation_wt) + F.col(IDS.batch_ready_wt)
            + F.col(IDS.batch_other_wt)
        )
        .count()
    )
    assert bad == 0  # WT decomposition is exactly additive


# ---------------------------------------------------------------------------
# chunk_documents coverage properties (M22)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def mk_docs(spark):
    def make(lengths):
        rows = [
            (i, " ".join(f"t{i}_{j}" for j in range(n)))
            for i, n in enumerate(lengths)
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")
    return make


@given(
    st.lists(st.integers(min_value=0, max_value=150), min_size=1, max_size=6),
    st.sampled_from([(8, 8), (8, 6), (64, 48), (5, 3)]),
)
@settings(max_examples=8, deadline=None)
def test_chunking_covers_tokens_exactly(mk_docs, lengths, shape):
    """Every token lands in >= 1 chunk; chunk c holds exactly tokens
    [c*stride, c*stride + chunk_tokens); empty docs emit nothing; no
    phantom chunk starts past the last token."""
    from batch_processing_analysis_spark.operators.text_analysis import (
        chunk_documents,
    )

    chunk_tokens, stride = shape
    out = chunk_documents(mk_docs(lengths), chunk_tokens=chunk_tokens,
                          stride=stride)
    got = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], {})[r["chunk_id"]] = (
            r["chunk_text"].split(" ") if r["chunk_text"] else [],
            r["chunk_n_tokens"],
        )
    for i, n in enumerate(lengths):
        toks = [f"t{i}_{j}" for j in range(n)]
        chunks = got.get(i, {})
        if n == 0:
            assert chunks == {}
            continue
        for c, (ctoks, cn) in chunks.items():
            assert ctoks == toks[c * stride : c * stride + chunk_tokens], (i, c)
            assert cn == len(ctoks)
        covered = sorted({
            j for c in chunks
            for j in range(c * stride, min(n, c * stride + chunk_tokens))
        })
        assert covered == list(range(n)), i
        assert max(chunks) * stride < n


# ---------------------------------------------------------------------------
# Round-3 operator invariants: a few randomized Spark examples each
# (Spark actions are too slow for hundreds of hypothesis examples; the
# pure-python search space is covered by the operators' unit suites).
# ---------------------------------------------------------------------------

word = st.text(alphabet="abcx", min_size=1, max_size=4)
doc_text = st.lists(word, min_size=0, max_size=12).map(" ".join)


@settings(max_examples=5, deadline=None)
@given(st.lists(doc_text, min_size=1, max_size=6), st.integers(2, 4))
def test_dedup_segments_properties(spark, texts, width):
    from batch_processing_analysis_spark.operators.dedup import dedup_segments

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in dedup_segments(docs, width=width).collect()}
    assert set(rows) == set(range(len(texts)))
    seen = set()
    for i, t in enumerate(texts):
        toks = t.split()
        segs = [" ".join(toks[j:j + width]) for j in range(0, len(toks), width)]
        keep = []
        for s in segs:
            if s not in seen:
                seen.add(s)
                keep.append(s)
        # first-occurrence semantics in (doc, seg) order, exact counts
        assert rows[i]["clean_text"] == " ".join(keep), (i, texts)
        assert rows[i]["n_seg"] == len(segs)
        assert rows[i]["n_kept"] == len(keep)


@settings(max_examples=5, deadline=None)
@given(st.lists(st.text(alphabet="abcdef ", min_size=0, max_size=60),
                min_size=1, max_size=5),
       st.sampled_from([4, 8]), st.sampled_from([4, 16]))
def test_cdc_chunks_reassembly_property(spark, texts, k, modulus):
    from batch_processing_analysis_spark.operators.text_analysis import (
        cdc_chunks,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    by_doc: dict[int, list] = {}
    for r in cdc_chunks(docs, k=k, modulus=modulus).collect():
        by_doc.setdefault(r["doc_id"], []).append((r["seg_idx"], r["chunk"]))
        assert r["chunk_len"] == len(r["chunk"]) > 0
    for i, t in enumerate(texts):
        got = "".join(c for _, c in sorted(by_doc.get(i, [])))
        assert got == t, (i, texts)  # exact reassembly, empty -> no rows


@pytest.mark.parametrize("name", [
    "q41_dedup_minhash_lsh",    # LSH candidate generation + verify
    "q58_stratified_sample",    # seeded sampling
    "q74_semantic_dedup",       # clustering + pair generation
    "q80_funnel_steps",         # window stack
])
def test_results_invariant_to_shuffle_partitions(spark, sf_dir, name):
    """Determinism evidence: identical results at different
    parallelism — no operator may depend on partition count or
    iteration order (the property that makes the DuckDB single-thread
    oracle a valid referee at ANY cluster size)."""
    from batch_processing_analysis_spark.plans import (  # noqa: F401
        queries_eventlog, queries_relational, queries_text, registry,
    )

    fn = registry.QUERIES.get(name) or registry.EXTRA_QUERIES[name]
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        low = sorted(map(repr, fn(spark, sf_dir).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        high = sorted(map(repr, fn(spark, sf_dir).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    assert low == high


# ---------------------------------------------------------------------------
# Sketch + split properties (few examples: each runs Spark jobs)
# ---------------------------------------------------------------------------

multisets = st.lists(
    st.sampled_from([f"w{i}" for i in range(12)]), min_size=1, max_size=80
)


@given(multisets)
@settings(max_examples=5, deadline=None)
def test_cms_never_underestimates(spark, multiset):
    from collections import Counter

    from batch_processing_analysis_spark.operators.sketches import (
        cms_estimate, cms_sketch,
    )

    items = spark.createDataFrame([(w,) for w in multiset], "item string")
    sk = cms_sketch(items, depth=3, width=16)  # tiny grid: forces collisions
    est = {r["item"]: r["est"]
           for r in cms_estimate(sk, items, depth=3, width=16).collect()}
    true = Counter(multiset)
    # The CM guarantee: one-sided error even under heavy collision.
    assert all(est[w] >= c for w, c in true.items())
    # And bounded: an estimate never exceeds the total stream length.
    assert all(v <= len(multiset) for v in est.values())


groupings = st.lists(st.integers(0, 9), min_size=1, max_size=60)


@given(groupings, st.sampled_from(["sA", "sB"]))
@settings(max_examples=5, deadline=None)
def test_assign_splits_partition_and_cohesion(spark, grps, seed):
    from batch_processing_analysis_spark.operators.ordering import (
        assign_splits,
    )

    df = spark.createDataFrame(
        [(i, f"g{g}") for i, g in enumerate(grps)], "doc_id long, grp string"
    )
    out = assign_splits(df, {"a": 0.5, "b": 0.3, "c": 0.2}, seed,
                        group_col="grp").collect()
    # Partition: every row gets exactly one of the declared labels.
    assert all(r["split"] in {"a", "b", "c"} for r in out)
    assert len(out) == len(grps)
    # Cohesion: split is a function of the group key.
    seen: dict[str, str] = {}
    for r in out:
        assert seen.setdefault(r["grp"], r["split"]) == r["split"]


# Rolling order statistics vs a pandas reference (the r4 staging
# rewrite touched both operators; frames are ROWS n-1 PRECEDING..CURRENT
# per key, which pandas models as rolling(n, min_periods=1)).
rolling_vals = st.lists(
    st.floats(min_value=-1e6, max_value=1e6,
              allow_nan=False, allow_infinity=False, width=32),
    min_size=1, max_size=24,
)


@settings(max_examples=12, deadline=None)
@given(rolling_vals, st.integers(2, 6))
def test_rolling_median_and_mad_match_pandas(spark, vals, n):
    import pandas as pd

    from batch_processing_analysis_spark.operators.timeseries import (
        rolling_mad, rolling_median,
    )

    t0 = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(i, 1, t0 + timedelta(minutes=i), float(v))
         for i, v in enumerate(vals)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    got_med = [r["rolling_median"]
               for r in rolling_median(df, n=n).orderBy("ts").collect()]
    got_mad = [r["rolling_mad"]
               for r in rolling_mad(df, n=n).orderBy("ts").collect()]
    s = pd.Series(vals)
    want_med = s.rolling(n, min_periods=1).median().tolist()
    want_mad = s.rolling(n, min_periods=1).apply(
        lambda w: (w - w.median()).abs().median()
    ).tolist()
    assert got_med == pytest.approx(want_med, abs=1e-9)
    assert got_mad == pytest.approx(want_mad, abs=1e-9)
