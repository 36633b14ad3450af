"""Streaming exact dedup (streaming/corpus_stream.py): one survivor per
content-hash cluster on a bounded replay, agreeing with batch dedup on
cluster membership."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from batch_processing_analysis_spark.operators.dedup import exact_dedup
from batch_processing_analysis_spark.streaming.corpus_stream import (
    stream_exact_dedup,
    with_content_hash,
)

T0 = datetime(2024, 1, 1, 9)

DOCS = [
    # (doc_id, text, minutes-after-T0) — "a b" and "A  b" normalize equal,
    # likewise the x/y pair; doc 6 is unique.
    (1, "a b", 0),
    (2, "A  b", 1),
    (3, "x y z", 0),
    (4, "x  Y  Z", 2),
    (5, "a b", 3),
    (6, "unique text", 1),
]


@pytest.fixture(scope="module")
def streamed(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("corpus") / "docs")
    schema = "doc_id long, text string, ingest_time timestamp"
    # Two files -> two micro-batches (dup pairs split across batches).
    for rows in (DOCS[:3], DOCS[3:]):
        spark.createDataFrame(
            [(i, t, T0 + timedelta(minutes=m)) for i, t, m in rows], schema
        ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    deduped = stream_exact_dedup(stream, watermark="30 minutes")
    ckpt = str(tmp_path_factory.mktemp("corpus") / "ckpt")
    q = (
        deduped.writeStream.format("memory").queryName("stream_dedup")
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.sql("SELECT * FROM stream_dedup").collect()


def test_one_survivor_per_cluster(spark, streamed):
    hashes = [r["content_hash"] for r in streamed]
    assert len(hashes) == len(set(hashes))
    batch = spark.createDataFrame(
        [(i, t) for i, t, _ in DOCS], "doc_id long, text string"
    )
    n_clusters = (
        exact_dedup(batch).filter(F.col("is_canonical") == 1).count()
    )
    assert len(streamed) == n_clusters == 3


def test_hash_matches_batch_operator(spark, streamed):
    batch = with_content_hash(
        spark.createDataFrame([(i, t) for i, t, _ in DOCS],
                              "doc_id long, text string")
    )
    batch_hashes = {r["content_hash"] for r in batch.collect()}
    assert {r["content_hash"] for r in streamed} == batch_hashes


def test_stream_validate_matches_batch(spark, sf_dir, tmp_path_factory):
    """Replay: streaming admission flags == batch validate flags."""
    from pyspark.sql.functions import col, length

    from batch_processing_analysis_spark.operators.validation import validate
    from batch_processing_analysis_spark.streaming.corpus_stream import (
        stream_validate,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    src = str(tmp_path_factory.mktemp("vstream") / "docs")
    docs.filter(col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    docs.filter(col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)

    def rules():
        return {
            "text_present": col("text").isNotNull() & (length("text") > 0),
            "lang_known": col("lang").isin("en", "de", "fr"),
        }

    stream = (
        spark.readStream.schema("doc_id long, text string, lang string")
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    ckpt = str(tmp_path_factory.mktemp("vstream") / "ckpt")
    q = (
        stream_validate(stream, rules())
        .writeStream.format("memory").queryName("stream_validate")
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)

    got = {
        r["doc_id"]: (r["ok_text_present"], r["ok_lang_known"],
                      r["n_violations"])
        for r in spark.sql("SELECT * FROM stream_validate").collect()
    }
    want = {
        r["doc_id"]: (r["ok_text_present"], r["ok_lang_known"],
                      r["n_violations"])
        for r in validate(docs, rules()).collect()
    }
    assert got == want and want
    assert any(v[2] > 0 for v in want.values())  # gate actually fires
