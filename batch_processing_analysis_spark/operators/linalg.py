"""Distributed linear algebra for embedding columns (M115 scale
extension): integer-exact Gram/second-moment accumulation, the one
distributed pass of PCA whitening.

Published recipe: centering + whitening (x → Λ^(-1/2) Uᵀ (x − μ))
improves isotropy of sentence/document embeddings and the behavior of
cosine retrieval on top of them (Su et al. 2021, "Whitening sentence
representations"; the classical PCA/ZCA whitening of Kessy et al.
2018). At corpus scale the ONLY distributed work is one pass of
partial sums — the d×d second-moment matrix, the d column sums and the
count are all map-side-combinable — after which the eigendecomposition
is a driver-local numpy call on a d×d matrix (d = 64 here; even
d = 4096 is a trivial local solve).

Exactness: embeddings are quantized through ``floor(v·Q + 0.5)``
(the repo's JL/SRP convention — identical in Spark, numpy and DuckDB)
and the accumulation sums int64 PRODUCTS, so the reduction is
partitioning-independent and oracle-reproducible to the last bit —
no float summation order anywhere in the distributed stage.
Overflow bound: ``N · (Q·max|v|)² < 2⁶³`` — at Q = 10⁶ and unit-ish
components that is ~9·10⁶ rows; pass a smaller ``quant`` for bigger
corpora (Q = 10³ admits ~9·10¹² rows).

No analogue in the reference (a process-mining pipeline); this is
part of the training-data extension surface, same family as
similarity.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def gram_accumulate(emb: DataFrame, vec_col: str = "embedding",
                    quant: int = 1_000_000) -> DataFrame:
    """Integer-exact second-moment accumulation (M115 pass 1).

    Returns the upper triangle ``(i, j, s)`` with
    ``s = Σ_rows vq[i]·vq[j]`` over quantized components
    ``vq = floor(v·quant + 0.5)`` (int64), plus the first-moment rows
    ``(i, -1, Σ vq[i])`` and the count row ``(-1, -1, N)`` — everything
    a PCA whitener needs to center AND decompose, in one pass.

    Vectors are right-padded with zeros to the batch's max dimension;
    rows with a NULL vector are skipped (and excluded from N).

    Scale: one ``mapInPandas`` producing d(d+1)/2 + d + 1 partial rows
    PER BATCH (int64 ``X_qᵀ X_q`` matmul), then a single groupBy(i, j)
    sum — partial aggregation does the map-side combine, the shuffle
    carries ≤ partitions·(d²/2 + d + 1) rows, and nothing downstream
    depends on partitioning (integer addition commutes exactly).
    """
    if quant <= 0:
        raise ValueError(f"quant must be positive, got {quant}")
    out_schema = T.StructType([
        T.StructField("i", T.IntegerType()),
        T.StructField("j", T.IntegerType()),
        T.StructField("s", T.LongType()),
    ])

    def _partial(batches):
        import pandas as pd

        for pdf in batches:
            vs = [v for v in pdf[vec_col] if v is not None]
            if not vs:
                continue
            dim = max(len(v) for v in vs)
            X = np.zeros((len(vs), dim), dtype=np.float64)
            for r, v in enumerate(vs):
                X[r, : len(v)] = np.asarray(v, dtype=np.float64)
            Xq = np.floor(X * quant + 0.5).astype(np.int64)
            G = Xq.T @ Xq
            cs = Xq.sum(axis=0)
            iu, ju = np.triu_indices(dim)
            out_i = np.concatenate([iu, np.arange(dim), [-1]])
            out_j = np.concatenate([ju, np.full(dim, -1), [-1]])
            out_s = np.concatenate([G[iu, ju], cs, [len(vs)]])
            yield pd.DataFrame({"i": out_i.astype(np.int32),
                                "j": out_j.astype(np.int32),
                                "s": out_s.astype(np.int64)})

    return (
        emb.select(vec_col)
        .mapInPandas(_partial, out_schema)
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"))
    )


def pca_whitener(gram_rows: list, quant: int = 1_000_000,
                 k: int | None = None, eps: float = 1e-9):
    """Driver-local solve (M115 pass 2): turn collected
    :func:`gram_accumulate` rows into ``(mu, W)`` — the mean vector
    and the d×k whitening matrix ``W = U_k Λ_k^(-1/2)`` so that
    ``(x − mu) @ W`` has identity covariance on the top-k principal
    components.

    Covariance from integer sums (exact until the final float divide):
    ``cov = (S/N − outer(m, m)) / quant²`` with ``m = colsum/N``.
    Eigenvalues below ``eps`` are dropped (rank-deficient directions
    cannot be whitened); components are sign-fixed (largest-|loading|
    coordinate positive) so the decomposition is deterministic.
    """
    by = {(int(r["i"]), int(r["j"])): int(r["s"]) for r in gram_rows}
    n = by.pop((-1, -1), 0)
    if n <= 1:
        raise ValueError(f"need at least 2 vectors, got {n}")
    dim = 1 + max(i for i, _ in by)
    colsum = np.array([by.pop((i, -1), 0) for i in range(dim)],
                      dtype=np.float64)
    S = np.zeros((dim, dim), dtype=np.float64)
    for (i, j), s in by.items():
        S[i, j] = s
        S[j, i] = s
    m = colsum / n
    cov = (S / n - np.outer(m, m)) / (float(quant) ** 2)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1]
    vals, vecs = vals[order], vecs[:, order]
    keep = vals > eps
    if k is not None:
        keep[k:] = False
    vals, vecs = vals[keep], vecs[:, keep]
    flip = np.sign(vecs[np.abs(vecs).argmax(axis=0),
                        np.arange(vecs.shape[1])])
    vecs = vecs * flip
    mu = m / float(quant)
    W = vecs / np.sqrt(vals)
    return mu, W
