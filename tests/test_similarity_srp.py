"""SRP (hyperplane-LSH) embedding near-dup: precision, recall, and
plan-shape guarantees vs the exact O(n²) baseline.

An exact O(n²) self-join (`_exact_pairs`) is the labeled ground
truth; the SRP variant must (a) return only true pairs (candidates are verified
with exact cosine, so precision is 1 by construction), (b) recall a
reasonable fraction of them (banding curve), and (c) contain NO cross
join in the physical plan — the whole point of the banded rewrite.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from batch_processing_analysis_spark.operators import similarity as S
from batch_processing_analysis_spark.sources.tables import load_table


def _pairs(df):
    return {(r.id_a, r.id_b): r.sim for r in df.collect()}


def _exact_pairs(corpus, threshold):
    """All vector pairs with cosine >= threshold (id_a < id_b), by the
    module's own cosine expression over a self-join."""
    corpus = S._as_double(corpus, "embedding")
    a = corpus.select(F.col("vec_id").alias("id_a"),
                      F.col("embedding").alias("_va"))
    b = corpus.select(F.col("vec_id").alias("id_b"),
                      F.col("embedding").alias("_vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                S.cosine(F.col("_va"), F.col("_vb")).alias("sim"))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", F.round("sim", 6).alias("sim"))
    )


def test_srp_subset_and_recall(spark, sf_dir):
    embs = load_table(spark, sf_dir, "embeddings")
    exact = _pairs(_exact_pairs(embs, 0.4))
    lsh = _pairs(S.srp_neardup_pairs(embs, 0.4, num_bits=32, band_bits=4))
    assert exact, "testdata should contain near-dup embedding pairs"
    # Precision 1: every returned pair is a true >= threshold pair.
    assert set(lsh) <= set(exact)
    # Verified sims are the same exact cosine on both paths.
    for k, v in lsh.items():
        assert v == exact[k]
    # Banding recall at sim 0.4 with 8 bands x 4 bits is ~0.75 in
    # expectation; the planes are deterministic so this is a stable
    # regression bound, not a flaky statistical one.
    assert len(lsh) / len(exact) >= 0.5


def test_srp_plan_has_no_cross_join(spark, sf_dir):
    embs = load_table(spark, sf_dir, "embeddings")
    plan = (
        S.srp_neardup_pairs(embs, 0.4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_srp_signature_determinism(spark, sf_dir):
    embs = load_table(spark, sf_dir, "embeddings")
    a = S.srp_signatures(embs).select("vec_id", "srp_sig").collect()
    b = S.srp_signatures(embs).select("vec_id", "srp_sig").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # Signature bits derive from md5-seeded hyperplanes — independent
    # of partitioning, session, and engine.
    sig = dict(map(tuple, a))
    assert len(sig) == embs.count()


def test_srp_matmul_equals_relational(spark, sf_dir):
    # The scale path (Arrow-batched int64 matmul) and the oracle twin
    # (posexplode + plane join) must agree BIT-FOR-BIT: quantized
    # integer dots are exact in both, so any diff is a real bug.
    embs = load_table(spark, sf_dir, "embeddings")
    mm = S.srp_signatures(embs, strategy="matmul").select("vec_id", "srp_sig")
    rel = S.srp_signatures(embs, strategy="relational").select("vec_id", "srp_sig")
    a = sorted(map(tuple, mm.collect()))
    b = sorted(map(tuple, rel.collect()))
    assert a == b


def test_srp_empty_vector_gets_zero_signature(spark):
    rows = [(1, [0.5, -0.25, 0.125]), (2, []), (3, None)]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for strategy in ("matmul", "relational"):
        got = {
            r.vec_id: r.srp_sig
            for r in S.srp_signatures(embs, strategy=strategy).collect()
        }
        assert got[2] == 0, strategy
        assert got[1] != 0, strategy


def test_ivf_kmeans_centroids_recall(spark, sf_dir):
    # IVF with trained (seeded k-means||) centroids: plan shape is the
    # same bucket-probe join as the stride variant; recall@5 vs the
    # exact brute-force baseline must be solid on the clustered fixture
    # (stride centroids are arbitrary points; trained ones are density
    # modes, so they should do at least as well within noise).
    embs = load_table(spark, sf_dir, "embeddings")
    queries = embs.limit(10)
    exact = S.brute_force_topk(embs, queries, k=5)
    cents = S.kmeans_centroids(embs, n_clusters=8, seed=42)
    approx = S.ivf_topk(embs, queries, k=5, nprobe=3, centroids=cents)

    def pairs(df):
        return {(r.query_id, r.neighbor_id) for r in df.collect()}

    e, a = pairs(exact), pairs(approx)
    assert len(e) > 0
    recall = len(e & a) / len(e)
    assert recall >= 0.6, recall


def test_srp_max_bucket_drops_degenerate_buckets(spark):
    # Identical vectors share every band bucket; the cap must zero the
    # candidate set instead of emitting the quadratic join.
    vecs = spark.createDataFrame(
        [(i, [0.5, -0.25, 0.125, 1.0]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    assert S.srp_neardup_pairs(vecs, 0.5, dim=4, max_bucket=10).count() == 0
    full = S.srp_neardup_pairs(vecs, 0.5, dim=4, max_bucket=100)
    assert full.count() == 12 * 11 // 2


# ---------------------------------------------------------------------------
# semantic_dedup_pairs (M40): SemDeDup within-cluster near-dup pairs
# ---------------------------------------------------------------------------

def _embs_df(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_semantic_dedup_within_cluster_pairs(spark):
    from batch_processing_analysis_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    cents = _embs_df(
        spark, [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    ).withColumnRenamed("vec_id", "centroid_id")
    corpus = _embs_df(
        spark,
        [
            (10, [1.0, 0.01]),   # cluster 0
            (11, [1.0, 0.02]),   # cluster 0, near-dup of 10
            (20, [0.01, 1.0]),   # cluster 1
            (21, [0.02, 1.0]),   # cluster 1, near-dup of 20
        ],
    )
    got = sorted(
        (r["id_a"], r["id_b"])
        for r in semantic_dedup_pairs(
            corpus, threshold=0.99, centroids=cents
        ).collect()
    )
    # Near-dups pair up inside their cluster; nothing crosses clusters.
    assert got == [(10, 11), (20, 21)]


def test_semantic_dedup_max_cluster_guard(spark):
    from batch_processing_analysis_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    cents = _embs_df(spark, [(0, [1.0, 0.0])]).withColumnRenamed(
        "vec_id", "centroid_id"
    )
    corpus = _embs_df(spark, [(1, [1.0, 0.0]), (2, [1.0, 0.0])])
    # Cluster of 2 > max_cluster=1 -> dropped before the self-join.
    assert (
        semantic_dedup_pairs(
            corpus, threshold=0.0, centroids=cents, max_cluster=1
        ).count()
        == 0
    )


def test_jl_projection_strategies_agree_and_handle_empty(spark):
    from batch_processing_analysis_spark.operators.similarity import (
        project_embeddings,
    )

    rows = [
        (1, [0.5, -0.25, 0.125, 1.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),
        (3, []),                      # empty vector -> zero projection
        (4, [1.0, 1.0]),              # ragged (shorter than dim)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    mat = {r["vec_id"]: r["proj_q"]
           for r in project_embeddings(emb, out_dim=4, dim=4,
                                       strategy="matmul").collect()}
    rel = {r["vec_id"]: r["proj_q"]
           for r in project_embeddings(emb, out_dim=4, dim=4,
                                       strategy="relational").collect()}
    assert mat == rel                      # exact, not approximate
    assert mat[3] == [0, 0, 0, 0]
    assert len(mat[4]) == 4 and any(v != 0 for v in mat[4])
    # JL contract smoke: projection is linear, so scaling the input
    # scales every component (exactly, in quantized integers x2).
    emb2 = spark.createDataFrame([(9, [1.0, -0.5, 0.25, 2.0])],
                                 "vec_id long, embedding array<double>")
    half = spark.createDataFrame([(9, [0.5, -0.25, 0.125, 1.0])],
                                 "vec_id long, embedding array<double>")
    p2 = project_embeddings(emb2, out_dim=4, dim=4).collect()[0]["proj_q"]
    p1 = project_embeddings(half, out_dim=4, dim=4).collect()[0]["proj_q"]
    assert p2 == [2 * v for v in p1]


def test_ivf_assign_matmul_equals_hof(spark, sf_dir):
    from batch_processing_analysis_spark.operators.similarity import (
        _as_double, ivf_assign,
    )
    from batch_processing_analysis_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    emb = _as_double(load_table(spark, sf_dir, "embeddings"), "embedding")
    cents = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    hof = {r["vec_id"]: r["centroid_id"]
           for r in ivf_assign(emb, cents).collect()}
    mat = {r["vec_id"]: r["centroid_id"]
           for r in ivf_assign(emb, cents, strategy="matmul").collect()}
    assert mat == hof  # every vector lands on the same centroid


def test_ivf_assign_matmul_edge_vectors(spark):
    from batch_processing_analysis_spark.operators.similarity import (
        ivf_assign,
    )

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [0.0, 0.0, 0.0]),   # zero vector -> min centroid id
            (4, [1.0, 1.0]),        # ragged, symmetric -> tie -> min cid
            (5, [0.0, 1.0]),        # ragged, asymmetric -> truncated dot
            (6, [1.0, 0.0, 0.0, 5.0]),  # LONGER than centroid dim
        ],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0]), (20, [0.0, 1.0, 0.0])],
        "centroid_id long, embedding array<double>",
    )
    for strategy in ("hof", "matmul"):
        got = {r["vec_id"]: r["centroid_id"]
               for r in ivf_assign(emb, cents,
                                   strategy=strategy).collect()}
        assert got[1] == 10 and got[2] == 20, strategy
        assert got[3] == 10, strategy   # all-ties -> min centroid id
        # ragged: the dot truncates to the OVERLAPPING length in both
        # paths (the hof zip_with used to null the whole sum; the
        # matmul used to crash on the longer-than-dim side).
        assert got[4] == 10, strategy
        assert got[5] == 20, strategy
        assert got[6] == 10, strategy


def test_ivf_assign_degenerate_centroids_never_capture(spark):
    """ADVICE r4 (similarity.py matmul path): a centroid with a NaN
    component must not capture every vector (np.argmax treats NaN as
    the maximum), and a zero-norm centroid must lose even when every
    real cosine is negative (raw 0 would win). Both paths must agree."""
    from batch_processing_analysis_spark.operators.similarity import (
        ivf_assign,
    )

    emb = spark.createDataFrame(
        # cosine vs centroid 10 is NEGATIVE for both vectors, so an
        # unmasked zero-norm centroid (score 0) would capture them
        [(1, [-1.0, 0.0, 0.0]), (2, [-1.0, -1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [
            (10, [1.0, 0.0, 0.0]),
            (20, [float("nan"), 1.0, 0.0]),  # NaN component
            (30, [0.0, 0.0, 0.0]),           # zero-norm
        ],
        "centroid_id long, embedding array<double>",
    )
    for strategy in ("hof", "matmul"):
        got = {r["vec_id"]: r["centroid_id"]
               for r in ivf_assign(emb, cents,
                                   strategy=strategy).collect()}
        assert got == {1: 10, 2: 10}, strategy
