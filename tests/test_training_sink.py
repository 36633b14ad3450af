"""Training-shard sink (sources/training_sink.py): layout, in-file
order, round-trip fidelity, and partition pruning on the read side."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from batch_processing_analysis_spark.operators.ordering import seeded_shuffle
from batch_processing_analysis_spark.sources.training_sink import (
    read_training_shards,
    write_training_shards,
)

N_DOCS, N_SHARDS = 200, 4


@pytest.fixture(scope="module")
def shard_dir(spark, tmp_path_factory):
    docs = spark.range(0, N_DOCS).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id")).alias("text"),
    )
    out = str(tmp_path_factory.mktemp("shards") / "corpus")
    write_training_shards(
        seeded_shuffle(docs, "train:0", N_SHARDS), out,
        max_records_per_file=20,
    )
    return out


def test_roundtrip_preserves_order_assignment(spark, shard_dir):
    docs = spark.range(0, N_DOCS).select(F.col("id").alias("doc_id"))
    want = {
        (r.doc_id, r.shard, r.pos)
        for r in seeded_shuffle(docs, "train:0", N_SHARDS).collect()
    }
    got = {
        (r.doc_id, r.shard, r.pos)
        for r in read_training_shards(spark, shard_dir).collect()
    }
    assert got == want


def test_files_are_ordered_within_and_across(spark, shard_dir):
    rows = (
        spark.read.parquet(shard_dir)
        .select("shard", "pos", F.input_file_name().alias("f"))
        .collect()
    )
    by_file: dict[str, list[int]] = {}
    for r in rows:
        by_file.setdefault(r.f, []).append(r.pos)
    # maxRecordsPerFile=20 on 4x~50-row shards must split files.
    assert len(by_file) > N_SHARDS
    for f, pos in by_file.items():
        # Parquet preserves task write order: each file is a contiguous,
        # sorted pos range.
        assert pos == sorted(pos)
        assert pos[-1] - pos[0] == len(pos) - 1, f
    # Files of one shard tile its positions without overlap.
    spans: dict[str, list[tuple[int, int]]] = {}
    for f, pos in by_file.items():
        spans.setdefault(f.rsplit("/", 2)[1], []).append((min(pos), max(pos)))
    for d, ranges in spans.items():
        ranges.sort()
        flat = []
        for lo, hi in ranges:
            flat.extend(range(lo, hi + 1))
        assert flat == list(range(1, len(flat) + 1)), d


def test_partition_pruning_on_shard_filter(spark, shard_dir):
    pruned = read_training_shards(spark, shard_dir, shards=[0, 2])
    # inputFiles() reports the unpruned relation; the proof is the
    # physical plan's partition filter on the directory column.
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "shard" in plan.split(
        "PartitionFilters", 1)[1][:200]
    assert {r.shard for r in pruned.select("shard").distinct().collect()} == {0, 2}


def test_manifest_publish_verify_and_tamper(spark, tmp_path):
    import pytest as _pytest

    from batch_processing_analysis_spark.sources.training_sink import (
        load_verified_shards, publish_manifest, write_training_shards,
    )

    df = spark.createDataFrame(
        [(i % 3, i // 3, f"doc{i}") for i in range(30)],
        "shard long, pos long, text string",
    )
    path = str(tmp_path / "train")
    write_training_shards(df, path)

    # Unpublished directory: loader refuses.
    with _pytest.raises(FileNotFoundError):
        load_verified_shards(spark, path)

    m = publish_manifest(spark, path, extra={"seed": "train:0"})
    assert set(m["shards"]) == {"0", "1", "2"}
    assert all(v["n_rows"] == 10 for v in m["shards"].values())

    # Verified load: full and pruned-subset both pass.
    assert load_verified_shards(spark, path).count() == 30
    assert load_verified_shards(spark, path, shards=[1]).count() == 10
    with _pytest.raises(ValueError):
        load_verified_shards(spark, path, shards=[7])

    # Post-publish mutation surfaces as a hard error.
    import glob
    import os

    victim = glob.glob(f"{path}/shard=2/*.parquet")[0]
    os.remove(victim)
    with _pytest.raises(ValueError, match="shard 2 fails"):
        load_verified_shards(spark, path, shards=[2])
    # Untouched shards still verify.
    assert load_verified_shards(spark, path, shards=[0, 1]).count() == 20
