"""Round-5 additions, sixth batch: relational Bloom filter (M117) —
bit positions replayed in plain Python (same md5 derivation), so
build/probe/merge are checked for EXACT parity, plus the structural
guarantees (no false negatives ever, certain absences, OR-merge).
"""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from batch_processing_analysis_spark.operators import sketches as SK

M, K, SEED = 4096, 5, "t:0"


def _items(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "item string")


def _py_bits(vals):
    out = set()
    for v in vals:
        for d in range(K):
            h = int(hashlib.md5(
                f"{SEED}\x1f{d}\x1f{v}".encode()).hexdigest()[:15], 16)
            out.add(h % M)
    return out


def _py_maybe(v, bits):
    return all(
        int(hashlib.md5(f"{SEED}\x1f{d}\x1f{v}".encode())
            .hexdigest()[:15], 16) % M in bits
        for d in range(K))


INSERTED = [f"doc-{i}" for i in range(300)]
PROBED = INSERTED[:50] + [f"other-{i}" for i in range(400)]


def test_bloom_build_matches_python_positions(spark):
    filt = SK.bloom_build(_items(spark, INSERTED), m_bits=M, k=K,
                          seed=SEED)
    assert {r["bit"] for r in filt.collect()} == _py_bits(INSERTED)


def test_bloom_probe_no_false_negatives_and_exact_flags(spark):
    filt = SK.bloom_build(_items(spark, INSERTED), m_bits=M, k=K,
                          seed=SEED)
    got = {r["item"]: r["maybe"] for r in SK.bloom_probe(
        _items(spark, PROBED), filt, m_bits=M, k=K, seed=SEED).collect()}
    bits = _py_bits(INSERTED)
    assert all(got[v] == 1 for v in INSERTED[:50])  # no false negatives
    for v in PROBED:
        assert got[v] == int(_py_maybe(v, bits)), v
    # at this occupancy some absent probes must be certain absences
    assert sum(1 - got[v] for v in PROBED[50:]) > 300


def test_bloom_merge_equals_build_on_union(spark):
    a, b = INSERTED[:150], INSERTED[120:]
    fa = SK.bloom_build(_items(spark, a), m_bits=M, k=K, seed=SEED)
    fb = SK.bloom_build(_items(spark, b), m_bits=M, k=K, seed=SEED)
    merged = {r["bit"] for r in SK.bloom_merge(fa, fb).collect()}
    union = {r["bit"] for r in SK.bloom_build(
        _items(spark, INSERTED), m_bits=M, k=K, seed=SEED).collect()}
    assert merged == union


def test_bloom_fpr_micro_matches_formula(spark):
    filt = SK.bloom_build(_items(spark, INSERTED), m_bits=M, k=K,
                          seed=SEED)
    row = SK.bloom_fpr_micro(filt, m_bits=M, k=K).collect()[0]
    nbits = len(_py_bits(INSERTED))
    assert row["set_bits"] == nbits
    assert row["fpr_micro"] == math.floor((nbits / M) ** K * 1_000_000)


def test_bloom_rejects_bad_args(spark):
    df = _items(spark, ["x"])
    with pytest.raises(ValueError):
        SK.bloom_build(df, m_bits=0)
    with pytest.raises(ValueError):
        SK.bloom_build(df, k=0)
    with pytest.raises(ValueError):
        SK.bloom_fpr_micro(df, m_bits=10, k=0)


# --------------------------------------------------------------- M121

def test_nfc_normalize_matches_unicodedata(spark):
    import unicodedata

    from batch_processing_analysis_spark.operators.text_analysis import (
        nfc_normalize_docs,
    )

    texts = {
        0: "école",              # decomposed -> é (6 -> 5 chars)
        1: "école",               # already NFC
        2: "plain ascii text",
        3: "Å" * 3,         # A + ring -> Å, thrice
        4: None,
        5: "",
    }
    df = spark.createDataFrame(list(texts.items()),
                               "doc_id long, text string")
    got = {r["doc_id"]: r for r in nfc_normalize_docs(df).collect()}
    for i, t in texts.items():
        if t is None:
            assert got[i]["text_nfc"] is None
            assert got[i]["changed"] is None
            continue
        n = unicodedata.normalize("NFC", t)
        assert got[i]["text_nfc"] == n
        assert got[i]["changed"] == int(n != t)
        assert got[i]["n_chars_before"] == len(t)
        assert got[i]["n_chars_after"] == len(n)
    assert got[0]["changed"] == 1 and got[0]["n_chars_after"] == 5
    assert got[1]["changed"] == 0
    assert got[3]["n_chars_after"] == 3


def test_nfc_normalize_agrees_with_duckdb(spark):
    import duckdb

    from batch_processing_analysis_spark.operators.text_analysis import (
        nfc_normalize_docs,
    )

    texts = ["école", "café", "Ångström",
             "가가", "x"]  # incl. Hangul compose
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    got = {r["doc_id"]: r["text_nfc"]
           for r in nfc_normalize_docs(df).collect()}
    for i, t in enumerate(texts):
        want = duckdb.sql(
            "SELECT nfc_normalize(?)", params=[t]).fetchone()[0]
        assert got[i] == want, t
