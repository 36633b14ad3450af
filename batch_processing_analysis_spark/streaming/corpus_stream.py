"""Streaming corpus operators: exact dedup over an unbounded document
stream (the ingestion-side twin of operators/dedup.exact_dedup).

A training-data ingestion pipeline dedups as documents ARRIVE — before
paying storage/compute downstream — not in a later batch pass. The
exact-dedup key (md5 of whitespace-normalized lowercase text) is
identical to the batch operator, so a batch re-run over the stream's
output finds nothing left to drop.

Semantics: keep the FIRST-ARRIVING document of each content-hash
cluster within the watermark horizon (the batch pass keeps min-id; the
set of kept *clusters* is identical, the representative may differ —
documented divergence inherent to streaming, where arrival order is the
only total order available). State is the hash→seen set bounded by the
watermark via ``dropDuplicatesWithinWatermark``; duplicates separated
by more than the horizon require a periodic batch sweep, the standard
lambda-architecture split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.dedup import content_norm

CONTENT_HASH = "content_hash"


def with_content_hash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Batch-identical content hash (operators/dedup.py:exact_dedup)."""
    norm = content_norm(text_col)
    return docs.withColumn(CONTENT_HASH, F.md5(norm))


def stream_exact_dedup(docs: DataFrame, time_col: str = "ingest_time",
                       text_col: str = "text",
                       watermark: str = "10 minutes") -> DataFrame:
    """First-arriving-survivor exact dedup on a document stream.

    State: one row per distinct content hash inside the watermark
    horizon — bounded, keyed, and shuffled on the hash exactly like the
    batch operator's single exchange.
    """
    return (
        with_content_hash(docs, text_col)
        .withWatermark(time_col, watermark)
        .dropDuplicatesWithinWatermark([CONTENT_HASH])
    )


def stream_validate(docs: DataFrame, rules) -> DataFrame:
    """Streaming twin of operators/validation.validate (M71): the
    admission-control gate applied AS DOCUMENTS ARRIVE.

    Rules are stateless per-row Column predicates, so the exact batch
    operator applies unchanged to an unbounded stream — same flags,
    same NULL-is-failure coercion, no watermark, no state (the same
    argument as stream_quality_filter). Route ``n_violations == 0``
    to the corpus sink and the rest to a quarantine sink from ONE
    writeStream each (two filters over the same flagged plan).
    Batch-replay equality is pinned in tests/test_corpus_stream.py.
    """
    from ..operators.validation import validate

    return validate(docs, rules)


def stream_heavy_hitter_summary(items: DataFrame, k: int = 20,
                                n_shards: int = 4,
                                item_col: str = "item") -> DataFrame:
    """Streaming Misra-Gries heavy-hitter summary (M130): maintain,
    per item-hash shard, a live ``k``-counter MG summary of everything
    seen so far — the streaming half of M112's two-pass exact heavy
    hitters (whose pass 1 runs the SAME fold per static partition).
    The live summary answers "what is trending in the ingest feed NOW"
    in O(n_shards·k) state over an unbounded stream; a periodic batch
    pass (M112 pass 2) turns the candidate union into exact counts.

    Sharding is by the md5-derived ``hash60(item) % n_shards`` — a
    pure function of the item, so ALL occurrences of an item land in
    one shard and the MG guarantee composes: an item with global count
    > N/(k+1) has shard count > n_shard/(k+1) in its (only) shard and
    MUST survive that shard's summary (Misra & Gries 1982 bound;
    merge-then-truncate validity from Agarwal et al. 2012 mergeable
    summaries). The union of shard summaries is therefore a provable
    candidate superset of the global heavy hitters at every prefix.

    Per update, the whole micro-batch folds into the counter dict
    FIRST and truncates ONCE (subtract the (k+1)-th largest, drop ≤0),
    so the result is deterministic regardless of how Arrow chunks the
    batch — and a plain Python replay of the same micro-batch sequence
    reproduces the state exactly (the test oracle). NULL items count
    under the ``None`` key (the M112 contract).

    Output mode ``update``: each micro-batch emits the shard's FULL
    summary padded to exactly ``k`` rank-stamped rows (count desc,
    item asc; NULL-item padding above the summary size), so a
    latest-row-per-(shard, rank) sink never shows stale entries from a
    shrunken summary. ``mg_count`` is the MG LOWER BOUND on the item's
    shard count (undercount ≤ n_shard/(k+1)), not an exact count.
    """
    import math  # noqa: F401  (parity with module conventions)
    from typing import Iterator

    from pyspark.sql.streaming.state import (GroupState,
                                             GroupStateTimeout)

    from ..operators.dedup import hash60

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")

    out_schema = T.StructType([
        T.StructField("shard", T.IntegerType()),
        T.StructField("rank", T.IntegerType()),
        T.StructField(item_col, T.StringType()),
        T.StructField("mg_count", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("its", T.ArrayType(T.StringType())),
        T.StructField("cts", T.ArrayType(T.LongType())),
    ])

    def fn(key: tuple, pdfs: Iterator["pd.DataFrame"],
           state: GroupState) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        counters: dict = {}
        if state.exists:
            its, cts = state.get
            counters = dict(zip(its, cts))
        for pdf in pdfs:
            for val, c in pdf[item_col].value_counts(dropna=False) \
                    .items():
                kk = None if pd.isna(val) else val
                counters[kk] = counters.get(kk, 0) + int(c)
        if len(counters) > k:
            cut = sorted(counters.values(), reverse=True)[k]
            counters = {v: c - cut
                        for v, c in counters.items() if c > cut}
        state.update((list(counters.keys()),
                      [int(c) for c in counters.values()]))
        top = sorted(counters.items(),
                     key=lambda it: (-it[1], it[0] is None, it[0]))
        items_out = [v for v, _ in top] + [None] * (k - len(top))
        counts_out = [c for _, c in top] + [None] * (k - len(top))
        yield pd.DataFrame({
            "shard": [int(key[0])] * k,
            "rank": list(range(1, k + 1)),
            item_col: items_out,
            "mg_count": pd.array(counts_out, dtype="Int64"),
        })

    # NULL items shard deterministically too (hash60(NULL) is NULL,
    # which would make a NULL group key): a \x00-prefixed sentinel no
    # real string equals routes them; the Python replay in the tests
    # uses the same sentinel.
    sharded = items.withColumn(
        "_shard",
        F.pmod(hash60(F.coalesce(F.col(item_col), F.lit("\x00NULL"))),
               F.lit(n_shards)).cast("int")
    )
    return sharded.groupBy(F.col("_shard")).applyInPandasWithState(
        fn, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout,
    )
