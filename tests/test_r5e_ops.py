"""Round-5 additions, fifth batch: integer-exact Gram accumulation +
PCA whitening (M115) — numpy-recomputed semantics and partitioning
independence."""

from __future__ import annotations

import numpy as np
import pytest

from batch_processing_analysis_spark.operators import linalg as LA


# --------------------------------------------------------------- M115

def _emb_df(spark, vecs, start_id=0):
    rows = [(start_id + i, None if v is None else [float(x) for x in v])
            for i, v in enumerate(vecs)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")


def _expected_gram(vecs, quant=1_000_000):
    vs = [np.asarray(v, dtype=np.float64) for v in vecs if v is not None]
    dim = max((len(v) for v in vs), default=0)
    X = np.zeros((len(vs), dim))
    for r, v in enumerate(vs):
        X[r, : len(v)] = v
    Xq = np.floor(X * quant + 0.5).astype(np.int64)
    G = Xq.T @ Xq
    out = {(-1, -1): len(vs)}
    for i in range(dim):
        out[(i, -1)] = int(Xq[:, i].sum())
        for j in range(i, dim):
            out[(i, j)] = int(G[i, j])
    return out


def test_gram_matches_numpy_with_nulls_and_ragged(spark):
    rng = np.random.default_rng(3)
    vecs = [rng.normal(size=5) for _ in range(9)]
    vecs += [None, rng.normal(size=3), []]  # null, short, empty
    got = {(r["i"], r["j"]): r["s"]
           for r in LA.gram_accumulate(_emb_df(spark, vecs)).collect()}
    assert got == _expected_gram(vecs)


def test_gram_partitioning_independent(spark):
    rng = np.random.default_rng(4)
    vecs = [rng.normal(size=6) for _ in range(40)]
    outs = []
    for nparts in (1, 7):
        df = _emb_df(spark, vecs).repartition(nparts)
        outs.append({(r["i"], r["j"]): r["s"]
                     for r in LA.gram_accumulate(df).collect()})
    assert outs[0] == outs[1] == _expected_gram(vecs)


def test_whitener_identity_covariance_on_planted_anisotropy(spark):
    rng = np.random.default_rng(5)
    A = rng.normal(size=(6, 6)) * np.array([5, 3, 2, 1, 0.5, 0.1])
    X = rng.normal(size=(800, 6)) @ A.T + rng.normal(size=6) * 4
    rows = LA.gram_accumulate(_emb_df(spark, list(X))).collect()
    mu, W = LA.pca_whitener(rows)
    assert np.allclose(mu, X.mean(axis=0), atol=1e-5)
    Y = (X - mu) @ W
    cov = np.cov(Y, rowvar=False, bias=True)
    assert np.allclose(cov, np.eye(W.shape[1]), atol=1e-2)
    # eigenvalues match a direct numpy solve (quantization-limited)
    direct = np.sort(np.linalg.eigvalsh(np.cov(X, rowvar=False,
                                               bias=True)))[::-1]
    recon = np.sort(1.0 / (W ** 2).sum(axis=0))[::-1]
    # quantization at Q=1e6 perturbs cov entries by ~1e-5 absolute
    assert np.allclose(recon, direct[: W.shape[1]], rtol=1e-3, atol=1e-3)


def test_whitener_drops_rank_deficient_directions(spark):
    rng = np.random.default_rng(6)
    base = rng.normal(size=(300, 3))
    X = np.hstack([base, np.full((300, 1), 2.5)])  # constant column
    rows = LA.gram_accumulate(_emb_df(spark, list(X))).collect()
    mu, W = LA.pca_whitener(rows)
    assert W.shape == (4, 3)
    mu2, W2 = LA.pca_whitener(rows, k=2)
    assert W2.shape == (4, 2)


def test_gram_rejects_bad_quant_and_tiny_n(spark):
    df = _emb_df(spark, [[1.0, 2.0]])
    with pytest.raises(ValueError):
        LA.gram_accumulate(df, quant=0)
    rows = LA.gram_accumulate(df).collect()
    with pytest.raises(ValueError):
        LA.pca_whitener(rows)
