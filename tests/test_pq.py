"""Product-quantization ANN tests (M156, operators/similarity.py):
exact-integer encode parity vs a pure-Python reference, perfect
reconstruction ⇒ ADC == exact cosine, and codebook geometry. q170's
DuckDB oracle covers cross-engine ADC parity at corpus scale."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from batch_processing_analysis_spark.operators import similarity as S
from batch_processing_analysis_spark.sources.tables import load_table

Q = S.SRP_Q


def _vec_df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")


def test_pq_encode_matches_pure_python(spark):
    dim, m, ksub, stride = 8, 2, 3, 1
    rng = np.random.RandomState(7)
    vecs = rng.uniform(-1, 1, size=(9, dim))
    corpus = _vec_df(spark, vecs)
    cb = S.pq_codebooks(corpus, dim, m=m, ksub=ksub, stride=stride)
    enc = {r["vec_id"]: list(r["codes"])
           for r in S.pq_encode(corpus, cb, dim, m).collect()}

    # pure-Python reference: same quantization, same L2², lowest-code
    # tiebreak
    import math
    dsub = dim // m
    qv = [[math.floor(x * Q + 0.5) for x in v] for v in vecs]
    codewords = {(r["subspace"], r["code"]): list(r["cvq"])
                 for r in cb.collect()}
    for i, v in enumerate(qv):
        for s in range(m):
            sv = v[s * dsub:(s + 1) * dsub]
            best = min(
                ((sum((a - b) ** 2 for a, b in zip(sv, codewords[(s, j)])),
                  j) for j in range(ksub) if (s, j) in codewords))
            assert enc[i][s] == best[1], (i, s)


def test_pq_perfect_reconstruction_matches_exact_cosine(spark):
    # corpus vectors that ARE codeword concatenations reconstruct
    # exactly, so ADC similarity == exact cosine (both rounded 6dp)
    dim, m, ksub, stride = 8, 2, 4, 1
    rng = np.random.RandomState(11)
    base = rng.uniform(-1, 1, size=(ksub, dim))
    # every vector = (codeword a of subspace 0) ++ (codeword b of 1)
    vecs = [np.concatenate([base[a][:4], base[b][4:]])
            for a in range(ksub) for b in range(ksub)]
    corpus = _vec_df(spark, base)          # codebook source (ids 0..3)
    targets = _vec_df(spark, vecs)
    cb = S.pq_codebooks(corpus, dim, m=m, ksub=ksub, stride=stride)
    enc = S.pq_encode(targets, cb, dim, m)
    queries = targets.filter(F.col("vec_id") < 3)
    adc = {(r["query_id"], r["neighbor_id"]): r["sim"]
           for r in S._pq_adc(enc, cb, queries, dim, m, k=4,
                              id_col="vec_id",
                              vec_col="embedding").collect()}
    exact = {(r["query_id"], r["neighbor_id"]): r["sim"]
             for r in S.brute_force_topk(targets, queries,
                                         k=4).collect()}
    shared = set(adc) & set(exact)
    assert shared, "no overlapping pairs to compare"
    for key in shared:
        # quantization of the QUERY side introduces ≤1e-5 drift at
        # Q=2^20; reconstruction itself is exact
        assert abs(adc[key] - exact[key]) <= 2e-5, (key, adc[key],
                                                    exact[key])


def test_pq_codebook_geometry(spark, sf_dir):
    embs = load_table(spark, sf_dir, "embeddings")
    cb = S.pq_codebooks(embs, dim=64, m=4, ksub=8, stride=50).collect()
    assert len(cb) == 4 * 8
    assert {r["subspace"] for r in cb} == set(range(4))
    assert {r["code"] for r in cb} == set(range(8))
    assert all(len(r["cvq"]) == 16 for r in cb)
    assert all(r["cnsq"] == sum(v * v for v in r["cvq"]) for r in cb)
    with pytest.raises(ValueError, match="not divisible"):
        S.pq_codebooks(embs, dim=64, m=5)
    # codes are m smallints per vector vs dim doubles: the memory claim
    enc = S.pq_encode(
        embs, S.pq_codebooks(embs, dim=64, m=4, ksub=8, stride=50),
        dim=64, m=4)
    row = enc.first()
    assert len(row["codes"]) == 4


def test_pq_encode_non_contiguous_codes(spark):
    # a trained codebook with a gap (codes 1 and 3, no 0/2) must encode
    # onto EXISTING code ids only — a silent zero-filled gap codeword
    # would let the ADC join drop whole subspaces from the sums
    vecs = np.array([[1.0, 1.0], [5.0, 5.0], [0.1, 0.1], [4.9, 5.1]])
    corpus = _vec_df(spark, vecs)
    cb = spark.createDataFrame(
        [(0, 1, [int(1.0 * Q)], int(1.0 * Q) ** 2),
         (0, 3, [int(5.0 * Q)], int(5.0 * Q) ** 2),
         (1, 1, [int(1.0 * Q)], int(1.0 * Q) ** 2),
         (1, 3, [int(5.0 * Q)], int(5.0 * Q) ** 2)],
        "subspace int, code int, cvq array<long>, cnsq long")
    enc = {r["vec_id"]: list(r["codes"])
           for r in S.pq_encode(corpus, cb, dim=2, m=2).collect()}
    assert enc == {0: [1, 1], 1: [3, 3], 2: [1, 1], 3: [3, 3]}
    # a subspace with NO codewords is loud, never a zero fill
    cb_missing = cb.filter(F.col("subspace") == 0)
    with pytest.raises(Exception, match="no codewords"):
        S.pq_encode(corpus, cb_missing, dim=2, m=2).collect()
