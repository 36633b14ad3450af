"""Durable incremental ingest (streaming/incremental_ingest.py): dedup
state must survive a STREAM RESTART (the case a watermark-bounded
streaming dedup cannot cover), stay idempotent under batch retry,
and agree with the batch engine's cluster set."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from batch_processing_analysis_spark.operators.dedup import exact_dedup
from batch_processing_analysis_spark.streaming.incremental_ingest import (
    ingest_micro_batch,
    read_ingested,
    start_incremental_ingest,
)

T0 = datetime(2024, 1, 1, 9)
SCHEMA = "doc_id long, text string, ingest_time timestamp"

# Wave 2 re-sends wave-1 content (docs 11, 12) across a restart, has an
# internal dup pair (13/14), and brings genuinely new text (15).
WAVE1 = [(1, "a b", 0), (2, "A  b", 1), (3, "x y z", 2)]
WAVE2 = [(11, "a b", 10), (12, "x  Y  z", 11), (13, "new stuff", 12),
         (14, "New  Stuff", 13), (15, "truly unique", 14)]


def _df(spark, rows):
    return spark.createDataFrame(
        [(i, t, T0 + timedelta(minutes=m)) for i, t, m in rows], SCHEMA
    )


@pytest.fixture(scope="module")
def ingested(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("ingest")
    src = str(root / "src")
    paths = {
        "corpus_path": str(root / "corpus"),
        "registry_path": str(root / "registry"),
        "checkpoint_path": str(root / "ckpt"),
    }

    def run_wave(rows):
        _df(spark, rows).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        q = start_incremental_ingest(stream, **paths)
        q.awaitTermination()

    run_wave(WAVE1)  # query drains and STOPS (availableNow)
    run_wave(WAVE2)  # brand-new query object: a genuine restart
    return paths


def test_registry_survives_restart(spark, ingested):
    got = read_ingested(spark, ingested["corpus_path"])
    ids = {r.doc_id for r in got.collect()}
    # 2 deduped within wave 1; 11 (dup of 1 ACROSS the restart) and 12
    # (dup of 3) dropped by the registry; 14 dropped within its batch.
    assert ids == {1, 3, 13, 15}


def test_cluster_set_matches_batch_engine(spark, ingested):
    got = read_ingested(spark, ingested["corpus_path"])
    batch = spark.createDataFrame(
        [(i, t) for i, t, _ in WAVE1 + WAVE2], "doc_id long, text string"
    )
    want_hashes = {
        r.content_hash
        for r in exact_dedup(batch).filter(F.col("is_canonical") == 1).collect()
    }
    assert {r.content_hash for r in got.collect()} == want_hashes
    # And exactly one survivor per cluster.
    assert got.count() == len(want_hashes)


def test_retry_is_idempotent(spark, ingested):
    # Re-running an already-committed micro-batch (same batch_id) must
    # leave the corpus unchanged — the registry excludes the batch's own
    # partition, and both writes overwrite their directory.
    before = sorted(
        (r.doc_id, r.content_hash)
        for r in read_ingested(spark, ingested["corpus_path"]).collect()
    )
    last_id = max(
        int(f.split("ingest_batch=")[1].split("/")[0])
        for f in read_ingested(spark, ingested["corpus_path"]).inputFiles()
    )
    ingest_micro_batch(
        _df(spark, WAVE2), last_id,
        corpus_path=ingested["corpus_path"],
        registry_path=ingested["registry_path"],
    )
    after = sorted(
        (r.doc_id, r.content_hash)
        for r in read_ingested(spark, ingested["corpus_path"]).collect()
    )
    assert after == before


def test_census_state_across_restart_equals_batch(spark, tmp_path):
    """r9 census wiring (VERDICT r8 task 5): with hll_path/hist_path
    the ingest loop maintains the M151/M152 sketch state per wave —
    after two waves and a genuine restart, the folded registers/buckets
    equal batch hll_registers/log_histogram on everything ingested
    (the deduped corpus), and a micro-batch retry leaves the state
    bit-identical."""
    from batch_processing_analysis_spark.operators.dedup import tokens
    from batch_processing_analysis_spark.operators.sketches import (
        hll_registers,
        log_histogram,
    )
    root = tmp_path
    src = str(root / "src")
    paths = {
        "corpus_path": str(root / "corpus"),
        "registry_path": str(root / "registry"),
        "checkpoint_path": str(root / "ckpt"),
    }
    census = {"hll_path": str(root / "hll"),
              "hist_path": str(root / "hist")}

    def run_wave(rows):
        _df(spark, rows).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        q = start_incremental_ingest(stream, **paths, **census)
        q.awaitTermination()

    run_wave(WAVE1)
    run_wave(WAVE2)  # new query object: a genuine restart

    corpus = read_ingested(spark, paths["corpus_path"])
    want_reg = {(r.bucket, r.r) for r in hll_registers(
        corpus.select(F.explode(tokens(F.col("text"))).alias("token")),
        "token", p=8).collect()}
    want_hist = {(r.lo, r.cnt) for r in log_histogram(
        corpus.select(F.length("text").alias("_v")), "_v",
        s=4).collect()}

    def got_state():
        # fold the per-wave partials: register MAX, bucket-count SUM
        def read(path):
            return spark.read.option("basePath", path).parquet(path)

        reg = {(r.bucket, r.r) for r in read(census["hll_path"])
               .groupBy("bucket").agg(F.max("r").alias("r")).collect()}
        hist = {(r.lo, r.cnt) for r in read(census["hist_path"])
                .groupBy("lo").agg(F.sum("cnt").alias("cnt")).collect()}
        return reg, hist

    reg, hist = got_state()
    assert reg == want_reg and want_reg
    assert hist == want_hist and want_hist

    # retry of the last committed batch (same id) must be a no-op
    last_id = max(
        int(str(r.ingest_batch)) for r in
        spark.read.option("basePath", census["hll_path"])
        .parquet(census["hll_path"]).select("ingest_batch")
        .distinct().collect())
    ingest_micro_batch(
        _df(spark, WAVE2), last_id,
        corpus_path=paths["corpus_path"],
        registry_path=paths["registry_path"], **census)
    assert got_state() == (want_reg, want_hist)


# ---------------------------------------------------------------------------
# M163: canonical-URL keep-set in the durable loop
# ---------------------------------------------------------------------------

URL_SCHEMA = ("doc_id long, text string, url string, "
              "ingest_time timestamp")


def test_url_dedup_across_restart(spark, tmp_path):
    """A doc survives iff its content hash AND its canonical URL are
    both first-seen, across a genuine stream restart; NULL-canon
    (non-URL) docs are exempt from the URL rule; the keep-set records
    survivors' URLs (a URL whose only arrival died on content grounds
    stays open — content identity already guards those rows)."""
    def read_keep_set(spark, path):
        return spark.read.option("basePath", path).parquet(path)

    src = str(tmp_path / "src")
    paths = {
        "corpus_path": str(tmp_path / "corpus"),
        "registry_path": str(tmp_path / "registry"),
        "checkpoint_path": str(tmp_path / "ckpt"),
        "url_registry_path": str(tmp_path / "urlreg"),
    }
    wave1 = [
        (1, "t1", "HTTPS://A.com:443/p", 0),   # canon https://a.com/p
        (2, "t2", "https://a.com/p", 1),       # same canon -> dropped
        (3, "t3", "not a url", 2),             # NULL canon: exempt
        (4, "t4", "https://b.com/q", 3),
    ]
    wave2 = [
        (11, "t11", "https://a.com/p#frag", 10),  # canon dup ACROSS restart
        (12, "t12", "also not a url", 11),        # NULL, new content: kept
        (13, "t3", "https://c.com/r", 12),        # content dup of 3
        (14, "t14", "https://c.com/r", 13),       # loses URL race to 13
        (15, "t15", "https://d.com/s", 14),
    ]

    def run_wave(rows):
        spark.createDataFrame(
            [(i, t, u, T0 + timedelta(minutes=m)) for i, t, u, m in rows],
            URL_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(URL_SCHEMA).parquet(src)
        q = start_incremental_ingest(stream, url_col="url", **paths)
        q.awaitTermination()

    run_wave(wave1)
    run_wave(wave2)  # new query object: a genuine restart

    got = read_ingested(spark, paths["corpus_path"])
    assert {r.doc_id for r in got.collect()} == {1, 3, 4, 12, 15}
    reg = read_keep_set(spark, paths["url_registry_path"])
    urls = sorted(r["_canon_url"] for r in reg.collect())
    # survivors' canonical forms only: 13's c.com/r died on content,
    # so it is NOT reserved
    assert urls == ["https://a.com/p", "https://b.com/q",
                    "https://d.com/s"]

    # retry idempotence: re-running the last micro-batch rewrites its
    # own partitions; corpus and keep-set are unchanged
    batch2 = spark.createDataFrame(
        [(i, t, u, T0 + timedelta(minutes=m)) for i, t, u, m in wave2],
        URL_SCHEMA)
    ingest_micro_batch(batch2, 1, url_col="url", **{
        k: v for k, v in paths.items() if k != "checkpoint_path"})
    assert {r.doc_id for r in read_ingested(
        spark, paths["corpus_path"]).collect()} == {1, 3, 4, 12, 15}
    assert read_keep_set(
        spark, paths["url_registry_path"]).count() == 3
    # the derived URL key must NOT leak into the corpus partitions —
    # it lives in the URL registry, and keeping it out means toggling
    # url_col mid-corpus can never fork the partition schema under
    # read_ingested's plain (non-mergeSchema) parquet read
    assert "_canon_url" not in read_ingested(
        spark, paths["corpus_path"]).columns
    # a url_col=None wave appended to the SAME corpus reads back fine
    extra = spark.createDataFrame(
        [(21, "t21", "https://e.com/x", T0 + timedelta(hours=1))],
        URL_SCHEMA)
    ingest_micro_batch(extra, 2, corpus_path=paths["corpus_path"],
                       registry_path=paths["registry_path"])
    assert {r.doc_id for r in read_ingested(
        spark, paths["corpus_path"]).collect()} == {1, 3, 4, 12, 15, 21}


def test_url_dedup_requires_both_params(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "t", "https://a.com/", T0)], URL_SCHEMA)
    with pytest.raises(ValueError, match="url_col and url_registry"):
        ingest_micro_batch(
            df, 0, corpus_path=str(tmp_path / "c"),
            registry_path=str(tmp_path / "r"), url_col="url")
