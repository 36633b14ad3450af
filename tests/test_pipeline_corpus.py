"""prepare_corpus facade vs its oracle-verified building blocks.

The facade chains the q53 composite filter with q59-style token-budget
shard packing. Both of those are oracle-checked queries; this test pins
the facade to them so it cannot silently drift (r2 advice): its output
must equal the q53 keep-set with shards re-derived by the q59 formula
over the KEPT set (per predicted language, cumulative tokens, 4096
budget).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from batch_processing_analysis_spark.pipeline import prepare_corpus
from batch_processing_analysis_spark.plans.queries_text import q53_corpus_filter
from batch_processing_analysis_spark.sources.tables import load_table


def test_prepare_corpus_matches_q53_plus_shards(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    got = sorted(tuple(r) for r in prepare_corpus(docs).collect())

    kept = q53_corpus_filter(spark, sf_dir)
    w = W.partitionBy("predicted_lang").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    want = sorted(
        tuple(r)
        for r in kept.withColumn("_cum", F.sum("n_tokens").over(w))
        .select(
            "doc_id", "predicted_lang", "n_tokens", "quality_score",
            F.floor((F.col("_cum") - F.col("n_tokens")) / F.lit(4096.0))
            .cast("long").alias("shard"),
        )
        .collect()
    )
    assert got == want
    assert got  # non-degenerate: the filter keeps documents at sf0.001


def test_shard_packing_invariants(spark, sf_dir):
    # Quotient-binning contract (q59 / prepare_corpus): per language,
    # shards are contiguous non-decreasing in doc_id order, every doc
    # appears once, and no shard exceeds budget + one boundary document
    # (the documented off-by-at-most-one-doc bound).
    from collections import defaultdict

    from batch_processing_analysis_spark.plans.queries_text import (
        q59_token_shard_packing,
    )

    rows = q59_token_shard_packing(spark, sf_dir).collect()
    assert len({r["doc_id"] for r in rows}) == len(rows)
    by_lang = defaultdict(list)
    for r in rows:
        by_lang[r["lang"]].append(r)
    budget = 4096
    for lang, docs in by_lang.items():
        docs.sort(key=lambda r: r["doc_id"])
        shards = [r["shard"] for r in docs]
        assert shards == sorted(shards), lang  # contiguous, non-decreasing
        totals = defaultdict(int)
        maxdoc = defaultdict(int)
        for r in docs:
            totals[r["shard"]] += r["n_tokens"]
            maxdoc[r["shard"]] = max(maxdoc[r["shard"]], r["n_tokens"])
        for s, tot in totals.items():
            assert tot <= budget + maxdoc[s], (lang, s, tot)
        # every shard index up to the max is used (no empty gaps)
        assert sorted(set(shards)) == list(range(max(shards) + 1)), lang


def test_prepare_corpus_decontaminated_is_clean_subset(spark, sf_dir):
    """With a benchmark, the facade output = the no-benchmark output
    minus contaminated docs, with shards re-packed over the survivors
    (same per-language cumulative formula)."""
    from batch_processing_analysis_spark.operators.decontamination import (
        decontaminate,
    )

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    got = prepare_corpus(docs, benchmark=bench)

    contaminated = {
        r.doc_id
        for r in decontaminate(docs, bench, n=8)
        .filter(F.col("contaminated") == 1).collect()
    }
    base = prepare_corpus(docs)
    survivors = base.filter(~F.col("doc_id").isin(contaminated))
    w = W.partitionBy("predicted_lang").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    want = sorted(
        tuple(r)
        for r in survivors.withColumn("_cum", F.sum("n_tokens").over(w))
        .select(
            "doc_id", "predicted_lang", "n_tokens", "quality_score",
            F.floor((F.col("_cum") - F.col("n_tokens")) / F.lit(4096.0))
            .cast("long").alias("shard"),
        )
        .collect()
    )
    assert sorted(tuple(r) for r in got.collect()) == want
    # the benchmark slice itself is contaminated by construction (it
    # appears verbatim in the corpus), so the drop is non-trivial
    # whenever any benchmark doc has >= 8 tokens and survived the
    # quality gate in the base run.
    assert {r.doc_id for r in got.collect()} <= {
        r.doc_id for r in base.collect()
    }


def test_build_training_set_pins_to_verified_pieces(spark, sf_dir, tmp_path):
    from batch_processing_analysis_spark.operators.ordering import seeded_shuffle
    from batch_processing_analysis_spark.pipeline import (
        build_training_set,
        prepare_corpus,
    )
    from batch_processing_analysis_spark.sources.training_sink import (
        read_training_shards,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "train")
    build_training_set(docs, out, seed="train:7", num_shards=8)

    kept = prepare_corpus(docs).select(
        "doc_id", "predicted_lang", "n_tokens", "quality_score"
    )
    want = sorted(
        tuple(r)
        for r in seeded_shuffle(
            docs.select("doc_id", "text").join(kept, "doc_id"), "train:7", 8
        )
        .select("doc_id", "shard", "pos", "predicted_lang", "n_tokens")
        .collect()
    )
    got = sorted(
        tuple(r)
        for r in read_training_shards(spark, out)
        .select("doc_id", "shard", "pos", "predicted_lang", "n_tokens")
        .collect()
    )
    assert got == want and got


def test_prepare_corpus_near_dedup_is_subset(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    exact = {r["doc_id"] for r in prepare_corpus(docs).collect()}
    near = {r["doc_id"] for r in prepare_corpus(docs, near_dedup=True).collect()}
    # Near-dup clustering can only merge more docs away, never add.
    assert near <= exact
    assert near  # and it keeps something


def test_exact_pair_edges_precomputed_hash_parity(spark, sf_dir):
    # The staged wide pass (prepare_corpus near_dedup) hands
    # exact_pair_edges a precomputed md5(content_norm(text)) column;
    # the edge set must be identical to the self-derived path.
    from batch_processing_analysis_spark.operators import dedup as D

    base = load_table(spark, sf_dir, "documents")
    # Plant guaranteed exact duplicates (offset ids, same text) so the
    # edge set is non-empty regardless of the fixture's dedup density.
    docs = base.unionByName(
        base.orderBy("doc_id").limit(20).select(
            (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
            *[c for c in base.columns if c != "doc_id"],
        )
    )
    default = sorted(
        tuple(r) for r in D.exact_pair_edges(docs).collect()
    )
    pre = docs.withColumn("_h", F.md5(D.content_norm("text")))
    staged = sorted(
        tuple(r)
        for r in D.exact_pair_edges(pre, hash_col="_h").collect()
    )
    assert default == staged
    assert default  # the planted copies guarantee edges
