"""Durable incremental ingest loop (M35): streaming dedup against a
PERSISTED content-hash registry — the production form of
operators/incremental.merge_exact_increment.

A watermark-bounded streaming dedup lets duplicates separated by more
than the horizon — or by a stream restart — slip through. This loop
closes that gap the way a long-running ingest actually runs:
``foreachBatch`` checks every micro-batch against a registry table on
durable storage, appends the survivors to the corpus, and extends the
registry — so dedup state survives restarts indefinitely and is shared
with the batch engine (same content hash ⇒ a batch
`merge_exact_increment` over the same arrivals keeps exactly the same
cluster set).

Idempotency (foreachBatch may re-run a batch after a failure): every
batch writes its OWN partition directory ``ingest_batch=<id>`` in both
corpus and registry, with overwrite mode — a retry rewrites the same
directory instead of appending twice — and the registry read EXCLUDES
the current batch's partition, so a half-written registry from the
failed attempt can't mask the batch's own rows.

Scale: the per-batch work is one window over the (small) micro-batch
plus one anti-join against the registry — a hash join keyed on the
content hash; the registry scan prunes to the hash column only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.utils import AnalysisException

from .corpus_stream import CONTENT_HASH, with_content_hash

# canonical-URL keep-set column (M163; see ingest_micro_batch)
CANON_URL = "_canon_url"


def _read_url_registry(spark: SparkSession, url_registry_path: str,
                       exclude_batch: int) -> DataFrame | None:
    try:
        reg = spark.read.option("basePath", url_registry_path) \
            .parquet(url_registry_path)
    except AnalysisException:  # first batch ever: no registry yet
        return None
    return reg.filter(F.col("ingest_batch") != exclude_batch) \
        .select(CANON_URL)


def _read_registry(spark: SparkSession, registry_path: str,
                   exclude_batch: int) -> DataFrame | None:
    try:
        reg = spark.read.option("basePath", registry_path).parquet(registry_path)
    except AnalysisException:  # first batch ever: no registry yet
        return None
    return reg.filter(F.col("ingest_batch") != exclude_batch).select(CONTENT_HASH)


def ingest_micro_batch(batch_df: DataFrame, batch_id: int, *,
                       corpus_path: str, registry_path: str,
                       id_col: str = "doc_id", text_col: str = "text",
                       time_col: str = "ingest_time",
                       hll_path: str | None = None,
                       hist_path: str | None = None,
                       census_group_cols: tuple[str, ...] = (),
                       hll_p: int = 8, hll_seed: str = "hll:0",
                       hist_s: int = 4,
                       url_col: str | None = None,
                       url_registry_path: str | None = None) -> None:
    """Process one micro-batch: first-arrival dedup within the batch,
    anti-join the durable registry, append survivors + their hashes
    (each into an ``ingest_batch=<id>`` partition, overwrite = retry-
    idempotent).

    ``hll_path`` / ``hist_path`` (r9, VERDICT r8 task 5) additionally
    maintain the corpus CENSUS as durable sketch state: per wave, the
    survivors' distinct-token HLL registers (M151, the q166 builder:
    whitespace tokens of ``text_col``) and the ``length(text)``
    log-histogram buckets (M152) land in their own ``ingest_batch=<id>``
    overwrite partitions. Per-wave PARTIALS folded at read — not
    read-modify-write of one global state — because a foreachBatch
    retry then rewrites its own partition instead of double-folding
    into shared state: idempotence by the same discipline as the dedup
    registries, and both folds are exact by the sketches' merge
    algebra (register MAX is idempotent; disjoint-wave bucket counts
    are additive). Streamed state across a restart equals the batch
    ``hll_registers`` / ``log_histogram`` on everything ingested —
    pinned by tests/test_incremental_ingest.py.

    ``url_col`` + ``url_registry_path`` (M163 — M154/M162 governance
    inside the durable loop) additionally dedup by CANONICAL URL
    first-arrival across waves, the web-crawl recrawl rule: a doc
    survives iff its content hash AND its canonical URL (RFC 3986
    form, functions/web.py) are both first-seen. The URL keep-set is a
    second durable registry with the identical per-wave
    overwrite-partition discipline (retry-idempotent); docs whose
    ``url_col`` does not canonicalize (not scheme://-shaped) carry a
    NULL key and are exempt from the URL rule — they still pass the
    content rule. Streamed ≡ batch, pinned by
    tests/test_incremental_ingest.py.
    """
    spark = batch_df.sparkSession
    if (url_col is None) != (url_registry_path is None):
        raise ValueError("url_col and url_registry_path come together "
                         "— a URL dedup rule without a durable "
                         "registry (or vice versa) is a half-configured "
                         "keep-set")
    hashed = with_content_hash(batch_df, text_col)
    w = W.partitionBy(CONTENT_HASH).orderBy(time_col, id_col)
    canon = (
        hashed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if url_col is not None:
        from ..functions.web import url_canonicalize

        canon = canon.withColumn(CANON_URL,
                                 url_canonicalize(F.col(url_col)))
        wu = W.partitionBy(CANON_URL).orderBy(time_col, id_col)
        canon = (
            canon.withColumn("_urn", F.row_number().over(wu))
            .filter(F.col(CANON_URL).isNull() | (F.col("_urn") == 1))
            .drop("_urn")
        )
    registry = _read_registry(spark, registry_path, batch_id)
    kept = canon if registry is None else canon.join(
        registry, CONTENT_HASH, "left_anti"
    )
    if url_col is not None:
        url_reg = _read_url_registry(spark, url_registry_path, batch_id)
        if url_reg is not None:
            # NULL canonical URLs are exempt: split, anti-join the
            # URL-keyed rows only, reunite (a left_anti on a NULL key
            # would keep the row anyway, but the explicit split keeps
            # the exemption readable and the join key non-null)
            keyed = kept.filter(F.col(CANON_URL).isNotNull()).join(
                url_reg, CANON_URL, "left_anti")
            kept = keyed.unionByName(
                kept.filter(F.col(CANON_URL).isNull()))
    # One pass, N sinks: materialize survivors once.
    kept = kept.localCheckpoint(eager=True)
    # The derived URL key stays OUT of the corpus partitions (it lives
    # in the URL registry): otherwise toggling url_col on an existing
    # corpus would fork the partition schema, and read_ingested's
    # plain parquet read samples one footer — mixed partitions could
    # silently drop the column or fail.
    kept.drop(CANON_URL).write.mode("overwrite").parquet(
        f"{corpus_path}/ingest_batch={batch_id}"
    )
    kept.select(CONTENT_HASH).write.mode("overwrite").parquet(
        f"{registry_path}/ingest_batch={batch_id}"
    )
    if url_col is not None:
        kept.filter(F.col(CANON_URL).isNotNull()).select(CANON_URL) \
            .distinct().write.mode("overwrite").parquet(
                f"{url_registry_path}/ingest_batch={batch_id}")
    if hll_path is not None:
        from ..operators.dedup import tokens
        from ..operators.sketches import hll_registers

        toks = kept.select(
            *census_group_cols,
            F.explode(tokens(F.col(text_col))).alias("token"))
        hll_registers(toks, "token", p=hll_p, seed=hll_seed,
                      group_cols=census_group_cols) \
            .write.mode("overwrite").parquet(
                f"{hll_path}/ingest_batch={batch_id}")
    if hist_path is not None:
        from ..operators.sketches import log_histogram

        vals = kept.select(*census_group_cols,
                           F.length(text_col).alias("_v"))
        log_histogram(vals, "_v", s=hist_s,
                      group_cols=census_group_cols) \
            .write.mode("overwrite").parquet(
                f"{hist_path}/ingest_batch={batch_id}")


def start_incremental_ingest(stream_docs: DataFrame, *, corpus_path: str,
                             registry_path: str, checkpoint_path: str,
                             id_col: str = "doc_id", text_col: str = "text",
                             time_col: str = "ingest_time",
                             available_now: bool = True,
                             hll_path: str | None = None,
                             hist_path: str | None = None,
                             census_group_cols: tuple[str, ...] = (),
                             hll_p: int = 8, hll_seed: str = "hll:0",
                             hist_s: int = 4,
                             url_col: str | None = None,
                             url_registry_path: str | None = None
                             ) -> StreamingQuery:
    """Run the ingest loop over a streaming DataFrame of documents.

    ``available_now=True`` drains what exists and stops (the test/
    backfill mode); ``False`` runs continuously. Restarting with the
    same checkpoint+registry resumes exactly where it left off — state
    lives on disk, not in executor memory. ``hll_path``/``hist_path``
    maintain the durable census sketch state per wave;
    ``url_col``/``url_registry_path`` add canonical-URL first-arrival
    dedup with its own durable keep-set (see
    :func:`ingest_micro_batch`).
    """

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        ingest_micro_batch(
            batch_df, batch_id, corpus_path=corpus_path,
            registry_path=registry_path, id_col=id_col,
            text_col=text_col, time_col=time_col,
            hll_path=hll_path, hist_path=hist_path,
            census_group_cols=census_group_cols,
            hll_p=hll_p, hll_seed=hll_seed, hist_s=hist_s,
            url_col=url_col, url_registry_path=url_registry_path,
        )

    writer = (
        stream_docs.writeStream.foreachBatch(_fn)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_ingested(spark: SparkSession, corpus_path: str) -> DataFrame:
    """The deduplicated corpus accumulated so far (all batch partitions)."""
    return spark.read.option("basePath", corpus_path).parquet(corpus_path)

