"""Deduplication operators for large-scale document corpora (M10 scale
extensions; BASELINE.json north star — beyond reference parity, the
reference has no document operators).

Four dedup families over a ``documents(doc_id, text, ...)`` table:

- **exact**: hash-groupBy on normalized text. One map-side-combinable
  aggregation; the canonical-row choice is a deterministic ``min`` so
  re-runs (and other engines) agree.
- **MinHash + LSH**: word-shingle sets → H minhash values → B bands of
  R rows → bucket-join → candidate pairs → exact-Jaccard verification.
  The banding join is the scale trick: candidate generation is
  O(Σ bucket²) instead of O(n²); with H=8, B=4, R=2 the probability a
  pair with Jaccard j becomes a candidate is 1-(1-j²)⁴ (≈0.998 at
  j=0.9).
- **SimHash**: per-token sign-vote signature (Charikar 2002), banded on
  signature bytes for candidate generation, Hamming-distance verify.
- **n-gram Jaccard**: character-n-gram sets with *rare-gram blocking*
  (only grams with document frequency in [2, df_max] generate candidate
  pairs) — the classic suffix-array-free near-dup join.

All hashing is ``md5``-derived 60-bit integers (`hash60`) so results
are engine-portable and deterministic — no dependence on Spark's
Murmur3 seed or partitioning. Every operator returns a DataFrame and
never collects.

Scale notes (100 TB): every stage is a hash-partitioned groupBy/join on
bounded-cardinality keys (shingle, band-key, gram). Skew guard: bucket
keys whose population exceeds ``max_bucket`` are dropped before the
pair join (a single 10M-doc bucket would otherwise produce 10¹⁴ pairs);
this is standard LSH practice and is applied identically in the DuckDB
oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .checkpoints import data_barrier


class CandidateVolumeExceeded(RuntimeError):
    """Raised by the exact joins' ``max_candidates`` guard: the
    prefix-join candidate upper bound exceeds the caller's budget.
    The bound is computed from prefix document frequencies BEFORE the
    pair join runs, so a vocabulary-degenerate corpus fails in one
    cheap aggregate instead of grinding through an O(n²)-ish candidate
    stage (VERDICT r5 task 2)."""


# Bound-derived candidate-join sizing (VERDICT r8 task 3): the guard
# measures the EXACT candidate row count before the pair join runs —
# use it to size the join's shuffle instead of throwing it away. At
# the ×100 probe the under-ceiling edjoin runs OOMed at the default
# 32-partition session (≈37 M candidate rows per partition) and needed
# a hand-tuned 256-partition/64 g retry (BENCH_sf10_r08 `retry_conf`);
# 2 M rows per partition keeps the per-task working set in the tens of
# MB at default memory. The cap bounds tiny-task scheduling overhead —
# 4096 × 2 M ≈ 8e9 candidates, beyond any in-budget guard ceiling.
GUARD_JOIN_ROWS_PER_PARTITION = 2_000_000
GUARD_JOIN_MAX_PARTITIONS = 4096


def sized_partitions_for_bound(spark, bound: int) -> int | None:
    """Shuffle-partition count for a candidate join whose guard
    measured ``bound`` candidate rows: enough partitions that each
    holds ≤ :data:`GUARD_JOIN_ROWS_PER_PARTITION` of them (rounded up
    to a power of two so co-partitioned stages stay aligned), or
    ``None`` when the session default already suffices — the common
    case, where the operator's plan is left untouched (no extra
    Exchange, bucketed/broadcast strategies unaffected)."""
    import math

    session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    need = math.ceil(bound / GUARD_JOIN_ROWS_PER_PARTITION)
    if need <= session:
        return None
    return min(GUARD_JOIN_MAX_PARTITIONS,
               2 ** math.ceil(math.log2(need)))


def _check_candidate_budget(bound: int, max_candidates: int,
                            op: str, scale_paths: str) -> None:
    import logging

    logging.getLogger(__name__).info(
        "%s: prefix-join candidate upper bound = %d (budget %d)",
        op, bound, max_candidates,
    )
    if bound > max_candidates:
        raise CandidateVolumeExceeded(
            f"{op}: prefix-join candidate upper bound {bound} exceeds "
            f"max_candidates={max_candidates}. The corpus is too "
            f"vocabulary-degenerate for an EXACT content-keyed join at "
            f"this scale — use the designated scale paths instead: "
            f"{scale_paths}."
        )


def hash60(col: Column) -> Column:
    """Deterministic 60-bit integer hash (first 15 hex digits of md5).

    Portable across engines: DuckDB twin is
    ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``. 60 bits keeps
    the value positive in a signed 64-bit long in both engines.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def content_norm(text_col: str = "text") -> Column:
    """THE cross-engine content-normalization convention: lowercase,
    collapse whitespace runs to one space, trim. Every exact-content
    hash in the repo (batch + streaming dedup, the source-overlap
    sketch, the q112 canary) and its SQL twin
    ``trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))`` must agree
    on this expression — change it HERE or the hashes desynchronize.
    """
    return F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))


def tokens(text: Column) -> Column:
    """Whitespace tokens, empty-string-free (portable split)."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def char_windows(text: Column, n: int, strategy: str | None = None,
                 step: int = 1) -> Column:
    """Length-``n`` character windows of ``text`` at offsets 1, 1+step,
    … (1-based), in order — ``step=1`` (default) yields ALL windows.
    A caller that needs only every ``step``-th window (the byte-aligned
    payload grams) should pass ``step`` instead of filtering the full
    set afterwards: the strided build does 1/step of the work.

    One rejected shape first: ``transform(sequence(...), i ->
    substring(text, i, n))`` is O(L²) per row — ``substring`` with a
    dynamic start re-walks the UTF-8 string from byte 0 on EVERY call
    (variable-width encoding has no random access); measured 2.6×
    slower on the langID pass and quadratic in document length.

    Two viable builders, auto-selected by ``n`` (both measured on the
    sf0.1 documents table and its 10× blow-up; identical output
    including multibyte text, equality-tested):

    - ``"zip"``: chain ``n`` ``zip_with``+``concat`` passes over
      shifted slices of the char split. O(L·n²) char copies but a flat
      per-element constant — wins for raw window building at every n
      tried (0.6 s vs 4.3 s at n=3 on 10× docs: the langID /
      n-gram-Jaccard paths).
    - ``"let"``: let-bind the char split (single-element-array
      ``transform`` — lambda variables are bound values, never
      re-evaluated; referenced directly inside a per-window lambda the
      split would re-run per position, the 13× lesson at
      winnowing_fingerprints), then ``array_join(slice(chars, i, n))``
      per window. O(L·n) copies with a higher per-window constant —
      wins when a per-element expression (the winnowing md5) consumes
      the windows downstream at large n (q50 4.6 → 2.5 s at k=8).
    """
    if step != 1:
        strategy = "let"  # the zip chain can only build every window
    elif strategy is None:
        strategy = "zip" if n <= 6 else "let"
    if strategy == "zip":
        chars = F.split(text, "")
        m = F.size(chars) - (n - 1)
        out = F.slice(chars, 1, m)
        for i in range(1, n):
            out = F.zip_with(out, F.slice(chars, i + 1, m),
                             lambda a, b: F.concat(a, b))
    elif strategy == "let":
        def windows(chars: Column) -> Column:
            m = F.size(chars) - (n - 1)
            return F.transform(
                F.sequence(F.lit(1), m, F.lit(step)),
                lambda i: F.array_join(F.slice(chars, i, n), ""),
            )

        out = F.get(F.transform(F.array(F.split(text, "")), windows), 0)
    else:
        raise ValueError(f"unknown char_windows strategy: {strategy!r}")
    return F.when(F.length(text) >= n, out).otherwise(
        F.array().cast("array<string>")
    )


def char_grams(text: Column, n: int = 5) -> Column:
    """Distinct character n-grams of ``text``."""
    return F.array_distinct(char_windows(text, n))


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------

def exact_dedup(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text",
                hash_col: str | None = None) -> DataFrame:
    """Exact duplicate clustering on whitespace-normalized lowercase text.

    Output: one row per input doc with its content-hash cluster size and
    whether it is the cluster's canonical row (min id). A downstream
    "keep canonicals" filter is then ``is_canonical = 1``.

    ``hash_col`` (optional): name of a PRECOMPUTED
    ``md5(content_norm(text_col))`` column — lets a caller that stages
    the hash in a shared wide pass (pipeline.prepare_corpus) skip
    re-normalizing the text here. Identical results by contract.

    Scale: one shuffle on the 128-bit content hash; cluster stats via a
    window over the same key reuse that shuffle (no second exchange).
    """
    hashed = (F.col(hash_col) if hash_col is not None
              else F.md5(content_norm(text_col)))
    w = W.partitionBy("content_hash")
    return (
        docs.select(F.col(id_col), hashed.alias("content_hash"))
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .withColumn("canonical_id", F.min(id_col).over(w))
        .select(
            id_col,
            "content_hash",
            "cluster_size",
            (F.col(id_col) == F.col("canonical_id")).cast("int").alias("is_canonical"),
        )
    )


def exact_pair_edges(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     hash_col: str | None = None) -> DataFrame:
    """Exact-duplicate graph edges: one (id_a=canonical min id,
    id_b=duplicate) row per non-canonical member of a content-hash
    cluster — the star-shaped edge set feeding connected-components
    clustering (operators/graph.py). Same single content-hash shuffle
    as :func:`exact_dedup`.

    ``hash_col`` (optional): a PRECOMPUTED ``md5(content_norm(...))``
    column, same contract as :func:`exact_dedup` — a caller staging the
    hash in a shared wide pass skips re-normalizing the text here."""
    hashed = (F.col(hash_col) if hash_col is not None
              else F.md5(content_norm(text_col)))
    w = W.partitionBy("content_hash")
    return (
        docs.select(F.col(id_col), hashed.alias("content_hash"))
        .withColumn("_canon", F.min(id_col).over(w))
        .filter(F.col(id_col) != F.col("_canon"))
        .select(F.col("_canon").alias("id_a"), F.col(id_col).alias("id_b"))
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def shingle_rows(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", k: int = 3) -> DataFrame:
    """Distinct (id, shingle) ROWS — the fully-relational shingle
    representation: posexplode tokens, build k-grams with window
    ``lead``s, distinct via aggregation. Every step is codegen'd
    (explode / window / hash-agg); no interpreted higher-order
    functions, no nested arrays to cache. Measured ~10× cheaper to
    materialize than the array form at sf0.1, and the row form feeds
    joins directly, which is what LSH candidate verification wants.

    Shingles are the space-joined k-grams of whitespace tokens;
    documents with < k tokens yield no rows."""
    tok = docs.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("_pos", "_tok"),
    )
    w = W.partitionBy(id_col).orderBy("_pos")
    leads = [F.col("_tok")] + [F.lead("_tok", i).over(w) for i in range(1, k)]
    return (
        tok.select(F.col(id_col), F.concat_ws(" ", *leads).alias("shingle"),
                   leads[-1].alias("_last"))
        .filter(F.col("_last").isNotNull())
        .select(id_col, "shingle")
        .distinct()
    )


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", k: int = 3,
                       num_hashes: int = 8,
                       shingles: DataFrame | None = None) -> DataFrame:
    """Per-doc minhash signature via double hashing (Kirsch &
    Mitzenmacher 2006): hash_i(s) = h1(s) + i*h2(s), with h1/h2 the two
    60-bit halves of ONE md5 per shingle — 8x less hashing than 8
    independent md5s, same LSH quality. h2 is masked to 56 bits so
    h1 + 7*h2 < 2^61 never overflows a signed 64-bit long (DuckDB
    errors on overflow; Spark would silently wrap).

    One shingle scan + one groupBy computing all H minima in a single
    pass (map-side partial aggregation; no per-hash re-shuffle). Pass a
    pre-built (id, shingle) frame via ``shingles`` to share the scan
    with verification.
    """
    sh = (shingles if shingles is not None
          else shingle_rows(docs, id_col, text_col, k))
    sh = sh.withColumn("_m", F.md5("shingle"))
    h1 = F.conv(F.substring("_m", 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring("_m", 16, 15), 16, 10).cast("long").bitwiseAND(
        F.lit((1 << 56) - 1)
    )
    sh = sh.select(id_col, h1.alias("_h1"), h2.alias("_h2"))
    aggs = [
        F.min(F.col("_h1") + F.lit(h) * F.col("_h2")).alias(f"sig{h}")
        for h in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(sigs: DataFrame, id_col: str = "doc_id",
                        num_hashes: int = 8, rows_per_band: int = 2,
                        max_bucket: int = 1000) -> DataFrame:
    """Banded LSH: docs sharing any full band of the signature become a
    candidate pair (id_a < id_b, distinct).

    ``max_bucket`` drops degenerate buckets before the self-join — the
    skew guard that keeps the pair count bounded at corpus scale.
    """
    # One posexplode over an inline band array — NOT a per-band union:
    # each union branch would re-evaluate the whole signature pipeline
    # (explode + groupBy) once per band per join side.
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "_", *[F.col(f"sig{b * rows_per_band + r}").cast("string")
                       for r in range(rows_per_band)]
            ).alias("bkey"),
        )
        for b in range(num_hashes // rows_per_band)
    ]
    exploded = (
        sigs.select(F.col(id_col), F.explode(F.array(*band_structs)).alias("_bb"))
        .select(id_col, F.col("_bb.band").alias("band"), F.col("_bb.bkey").alias("bkey"))
    )
    pop = W.partitionBy("band", "bkey")
    # Staged once (lazy checkpoint): BOTH self-join sides consume the
    # guarded band rows — unstaged, the signature aggregation, band
    # explode, and skew-guard window all executed twice (once per join
    # side). The staged frame is narrow (id, band, bkey).
    exploded = exploded.withColumn("_n", F.count(F.lit(1)).over(pop)).filter(
        F.col("_n") <= max_bucket
    ).drop("_n").localCheckpoint(eager=False)
    a, b = exploded.alias("a"), exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def verify_jaccard_rows(pairs: DataFrame, shingles: DataFrame,
                        id_col: str = "doc_id") -> DataFrame:
    """Exact Jaccard on candidate pairs from the ROW representation:
    |A∩B| by joining both sides' (id, shingle) rows on shingle equality,
    |A∪B| = |A| + |B| − |A∩B| from per-doc counts. Three equi-joins and
    two aggregations, all streamed — no arrays are ever built, so this
    is the verification path that scales (the array form copies both
    shingle sets onto every candidate row).

    Contract: every candidate pair whose docs BOTH have ≥1 shingle gets
    a row — jaccard 0 when the intersection is empty (the intersection
    aggregate left-joins back into ``pairs``, so callers can compute
    verified/candidate ratios). Pairs where either doc has no shingles
    at all (< k tokens) are dropped: their Jaccard is undefined, and no
    LSH candidate generator can emit them anyway (signatures derive
    from shingles).
    """
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))
    sa = shingles.select(F.col(id_col).alias("id_a"), "shingle")
    sb = shingles.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        pairs.join(sa, "id_a")
        .join(sb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_i"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("_n").alias("_na"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("_n").alias("_nb"))
    return (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .withColumn("_i", F.coalesce("_i", F.lit(0)))
        .join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a", "id_b",
            (F.col("_i") / (F.col("_na") + F.col("_nb") - F.col("_i")))
            .alias("jaccard"),
        )
    )


def simhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", bits: int = 32) -> DataFrame:
    """Per-doc SimHash, term-frequency weighted (Charikar 2002 as used
    for near-dup web pages): bit b of the signature is 1 iff
    Σ_token-occurrences (2·((hash60(tok)>>b)&1) − 1) > 0 (ties → 0).
    Tokens explode WITH multiplicity — tf weighting is what makes the
    signature discriminative when documents share a vocabulary.

    All ``bits`` sign-votes are computed in ONE groupBy pass (bits
    conditional sums), then folded into a single long — no per-bit
    shuffle, no UDF.
    """
    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    ).withColumn("h", hash60(F.col("tok")))
    return simhash_from_hashes(toks, id_col, bits)


def simhash_from_hashes(rows: DataFrame, id_col: str = "doc_id",
                        bits: int = 32) -> DataFrame:
    """SimHash signatures from pre-hashed feature rows ``(id, h)`` —
    the vote/fold core shared by the text-token form above and the
    binary-payload form (operators/multimodal.py:payload_simhash);
    feature multiplicity IS the tf weighting."""
    votes = rows.groupBy(id_col).agg(
        *[
            F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"v{b}")
            for b in range(bits)
        ]
    )
    sig = None
    for b in range(bits):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return votes.select(F.col(id_col), sig.alias("simhash"))


def simhash_pairs(sigs: DataFrame, id_col: str = "doc_id",
                  bits: int = 32, band_bits: int = 8,
                  max_hamming: int = 2, max_bucket: int = 1000) -> DataFrame:
    """Candidate pairs sharing ≥1 signature byte-band; verified by
    Hamming distance ≤ ``max_hamming`` (bit_count of XOR, JVM-side).

    ``max_bucket`` drops degenerate (band, bkey) buckets before the
    self-join — the same skew guard as ``lsh_candidate_pairs``. Short /
    boilerplate corpora collapse whole classes of docs into one byte
    bucket; without the cap that bucket alone is O(bucket²) pairs."""
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    # Single explode over the band array (see lsh_candidate_pairs: a
    # per-band union re-evaluates the signature aggregation per branch).
    band_structs = [
        F.struct(
            F.lit(k).alias("band"),
            F.shiftright(F.col("simhash"), k * band_bits)
            .bitwiseAND(F.lit(mask))
            .alias("bkey"),
        )
        for k in range(n_bands)
    ]
    bands = (
        sigs.select(F.col(id_col), F.col("simhash"),
                    F.explode(F.array(*band_structs)).alias("_bb"))
        .select(id_col, "simhash", F.col("_bb.band").alias("band"),
                F.col("_bb.bkey").alias("bkey"))
    )
    pop = W.partitionBy("band", "bkey")
    # Staged once (lazy checkpoint): both self-join sides consume the
    # guarded band rows — unstaged, the signature subtree (for text
    # SimHash the full token-explode vote aggregation; for payloads
    # the hex-gram explode) and the guard window executed twice. The
    # staged frame is narrow (id, simhash, band, bkey — all longs).
    bands = bands.withColumn("_n", F.count(F.lit(1)).over(pop)).filter(
        F.col("_n") <= max_bucket
    ).drop("_n").localCheckpoint(eager=False)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# --------------------------------------------------------------------------
# n-gram Jaccard with rare-gram blocking
# --------------------------------------------------------------------------

def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 5,
                        df_max: int = 10, threshold: float = 0.5) -> DataFrame:
    """Character-n-gram Jaccard near-dup join.

    Blocking: only grams with document frequency in [2, df_max] generate
    candidates (a gram seen in half the corpus carries no signal and
    would explode the join). Near-identical docs share many rare grams,
    so recall for high-Jaccard pairs is ~1.

    Scale: gram df is a partial-aggregable count; the candidate join is
    on (gram) with bounded fan-out ≤ df_max choose 2.
    """
    # One LAZY localCheckpoint materializes the exploded (doc, gram)
    # rows on first action; the five consumers below (df counts, both
    # join sides of candidate generation, both verify sides + sizes)
    # would otherwise each re-run the char-gram build. Lazy, so the
    # plan audit can still build without executing; blocks are
    # reclaimed by the ContextCleaner once the result frame is dropped
    # (unlike the module-cached eager checkpoints).
    ex = data_barrier(docs.select(
        F.col(id_col).alias("gid"),
        F.explode(char_grams(F.col(text_col), n)).alias("g"),
    ))
    dfreq = ex.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    rare = data_barrier(ex.join(
        dfreq.filter((F.col("df") >= 2) & (F.col("df") <= df_max)), "g"
    ).select("gid", "g"))
    # rare staged too: both candidate-join sides consume it — unstaged,
    # the df join re-ran once per side (ex is materialized, but the
    # blocking join itself is a shuffle worth paying once).
    a, b = rare.alias("a"), rare.alias("b")
    cand = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.gid") < F.col("b.gid")))
        .select(F.col("a.gid").alias("id_a"), F.col("b.gid").alias("id_b"))
        .distinct()
    )
    # Streamed verify (the verify_jaccard_rows shape): |A∩B| by joining
    # both sides' gram ROWS, |A∪B| = |A| + |B| − |A∩B| — identical
    # integers to array_intersect/array_union over the distinct gram
    # arrays, without copying both gram sets onto every candidate row
    # (the array form measured 24 s vs 1.5 s at sf0.1).
    sizes = ex.groupBy("gid").agg(F.count(F.lit(1)).alias("_n"))
    sa = ex.select(F.col("gid").alias("id_a"), "g")
    sb = ex.select(F.col("gid").alias("id_b"), "g")
    inter = (
        cand.join(sa, "id_a")
        .join(sb, ["id_b", "g"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_i"))
    )
    return (
        inter.join(sizes.withColumnRenamed("gid", "id_a")
                   .withColumnRenamed("_n", "_na"), "id_a")
        .join(sizes.withColumnRenamed("gid", "id_b")
              .withColumnRenamed("_n", "_nb"), "id_b")
        .select(
            "id_a", "id_b",
            (F.col("_i") / (F.col("_na") + F.col("_nb") - F.col("_i")))
            .alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def dedup_segments(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", width: int = 10) -> DataFrame:
    """Segment-level exact dedup: the bounded-granularity form of
    exact-substring deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — public ExactSubstr
    semantics, tiled to fixed windows instead of a suffix array).

    Each document is tokenized (whitespace) and tiled into consecutive
    ``width``-token segments; for every distinct segment text only the
    globally FIRST occurrence — ordered by ``(doc_id, segment_index)``
    — survives. Documents are reassembled from their surviving
    segments in order. Unlike document-level dedup this removes
    *repeated boilerplate spans* (headers, license blocks, navigation
    chrome) from otherwise-unique documents.

    Returns ``(id_col, clean_text, n_seg, n_kept)``. ``clean_text`` is
    whitespace-normalized (single-space joined) by construction.

    Scale (100 TB): first-occurrence selection is a partial-aggregatable
    ``min(struct(doc, seg))`` per segment hash — deliberately NOT a
    per-hash window sort, so a boilerplate segment shared by millions of
    documents costs one combine tree instead of one hot sorted
    partition. Three shuffles total (segment build on doc id, hash agg,
    reassembly on doc id); nothing wider than one segment's tokens is
    ever held in a row.
    """
    tok = docs.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("_pos", "_tok"),
    )
    # Staged: the tile aggregation (posexplode + per-(doc, seg)
    # collect_list + hash — the operator's dominant stage) fans out to
    # THREE consumers (firsts, the kept join side, counts); without
    # the barrier each re-ran it as its own job (r11-close
    # duplicate-stage sweep: byte-identical ~17 s-executor stage pair
    # per run). Linear, narrow state — one row per segment.
    segs = (
        tok.withColumn("_seg", (F.col("_pos") / width).cast("int"))
        .groupBy(id_col, "_seg")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_tok"))),
                    lambda s: s["_tok"],
                ),
                " ",
            ).alias("_stext")
        )
        .withColumn("_h", hash60(F.col("_stext")))
        .localCheckpoint(eager=False)
    )
    firsts = segs.groupBy("_h").agg(
        F.min(
            F.struct(F.col(id_col).alias("_d"), F.col("_seg").alias("_s"))
        ).alias("_first")
    )
    kept = segs.join(firsts, "_h").filter(
        (F.col(id_col) == F.col("_first._d"))
        & (F.col("_seg") == F.col("_first._s"))
    )
    kagg = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_seg", "_stext"))),
                lambda s: s["_stext"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    counts = segs.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_seg"))
    zero = F.lit(0).cast("long")
    return (
        docs.select(id_col)
        .join(counts, id_col, "left")
        .join(kagg, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_seg", zero).alias("n_seg"),
            F.coalesce("n_kept", zero).alias("n_kept"),
        )
    )


def dedup_weights(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Soft dedup (M81): keep EVERY document but weight it by
    1/cluster-size, so a text duplicated 1 000× contributes one
    document's worth of training signal instead of 1 000 (the
    duplication-aware weighting alternative to dropping — public data
    recipes debate drop-vs-downweight; this is the downweight arm,
    sharing :func:`exact_dedup`'s one content-hash shuffle).

    ``weight_micro`` = floor(10⁶ / cluster_size) — exact integers, so
    Σ weights per cluster ≈ 10⁶ (short by the floor remainder,
    documented) and any engine reproduces the weights bit-for-bit.
    """
    return exact_dedup(docs, id_col, text_col).select(
        id_col, "content_hash", "cluster_size",
        F.floor(F.lit(1_000_000) / F.col("cluster_size"))
        .cast("long").alias("weight_micro"),
    )


def cross_source_dup_matrix(docs: DataFrame, pairs: DataFrame | None = None,
                            id_col: str = "doc_id",
                            source_col: str = "source",
                            text_col: str = "text") -> DataFrame:
    """Cross-source duplication matrix (M89): how many duplicate PAIRS
    link each (unordered) pair of upstream feeds — the feed-level
    diagnosis behind M85's per-source retention ("src7 is mostly a
    mirror of src2", "src9 only duplicates itself"). Diagonal rows are
    within-source duplication.

    ``pairs`` defaults to the exact content-hash star edges
    (:func:`exact_pair_edges`); pass any (id_a, id_b) near-dup pair
    frame (MinHash/SimHash/SemDeDup) for the fuzzy variant — the
    matrix shape is pair-source-agnostic.

    Scale: two equi-joins of the pair set against the (id, source)
    projection + one count; the matrix itself is ≤ |sources|² rows.
    """
    if pairs is None:
        pairs = exact_pair_edges(docs, id_col, text_col)
    src = docs.select(F.col(id_col), F.col(source_col))
    sa = src.select(F.col(id_col).alias("id_a"),
                    F.col(source_col).alias("_sa"))
    sb = src.select(F.col(id_col).alias("id_b"),
                    F.col(source_col).alias("_sb"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def source_overlap_sketch(docs: DataFrame, k: int = 64,
                          id_col: str = "doc_id",
                          source_col: str = "source",
                          text_col: str = "text") -> DataFrame:
    """Sketch-based cross-source content overlap (M91): a ``k``-seed
    bottom-1 MinHash signature per SOURCE over the exact content
    hashes of its documents, compared pairwise to estimate the Jaccard
    similarity of each source pair's distinct-content sets. The
    one-pass estimator companion to M89's exact
    :func:`cross_source_dup_matrix` — that join counts duplicate pairs
    exactly at a content-hash shuffle; this answers "which feeds
    mirror each other" from |sources|·k integers, the shape that still
    works when the pair join itself is the budget item.

    Each seed's hash is the portable ``hash60(seed ':' content_hash)``
    (md5-derived, same on both engines); a source's signature component
    is the MIN over its docs. For sources A, B the match fraction of
    their k components is the standard unbiased MinHash estimate of
    ``|A∩B| / |A∪B|`` (Broder 1997) over DISTINCT contents — exact
    duplicates inside one source collapse to one set element, so
    within-source duplication does not inflate the estimate (unlike a
    pair count).

    Output: ``(source_a, source_b, k, n_match, est_jaccard_micro)``
    for each unordered pair, ``source_a < source_b``.

    Scale: one map-side explode to k rows per doc feeding a
    partial-aggregated min — shuffle volume is |sources|·k regardless
    of corpus size; the pairwise stage is |sources|²·k tiny rows. No
    all-pairs document join anywhere.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    norm = content_norm(text_col)
    h = docs.select(F.col(source_col).alias("source"),
                    F.md5(norm).alias("_ch"))
    seeded = h.select(
        "source",
        F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("seed"),
        "_ch",
    ).select(
        "source", "seed",
        hash60(F.concat(F.col("seed").cast("string"), F.lit(":"),
                        F.col("_ch"))).alias("_hv"),
    )
    sig = seeded.groupBy("source", "seed").agg(F.min("_hv").alias("_mh"))
    # The signature feeds BOTH sides of the pairwise join; without
    # staging, each side would re-run the full-corpus explode+min. The
    # staged frame is |sources|·k rows (deferred materialization — the
    # next action computes it once).
    sig = data_barrier(sig, eager=False)
    a = sig.select(F.col("source").alias("source_a"), "seed",
                   F.col("_mh").alias("_ma"))
    b = sig.select(F.col("source").alias("source_b"), "seed",
                   F.col("_mh").alias("_mb"))
    return (
        a.join(b, (a["seed"] == b["seed"])
               & (F.col("source_a") < F.col("source_b")))
        .groupBy("source_a", "source_b")
        .agg(F.sum((F.col("_ma") == F.col("_mb")).cast("long"))
             .alias("n_match"))
        .select(
            "source_a", "source_b", F.lit(k).alias("k"), "n_match",
            F.floor(F.col("n_match") * F.lit(1_000_000) / F.lit(k))
            .cast("long").alias("est_jaccard_micro"),
        )
    )


def dup_span_stats(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", w: int = 5) -> DataFrame:
    """Duplicate-span audit (M99): for every document, the fraction of
    its ``w``-token span *occurrences* whose span text also appears in
    at least one other document — the per-document signal behind
    exact-substring deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", which cuts duplicated
    50-token spans; minhash answers "is the whole doc a near-dup",
    this answers "how much of THIS doc is copied from anywhere").

    Returns ``(id_col, n_spans, dup_spans, dup_rate_micro)`` with
    dup_rate = floor(dup·1e6/n) — an exact integer ratio of exact
    integer counts. Docs with fewer than ``w`` tokens report 0/0/0
    (left-join contract). Occurrences, not distinct spans: a doc that
    repeats a shared span 10 times is 10 spans duplicated.

    Scale: span occurrences are the shingle_rows shape WITHOUT the
    distinct (posexplode + ``w-1`` leads, all codegen'd); the global
    span→doc-count aggregate and the join back run on the 60-bit
    hash of the span — an 8-byte shuffle key instead of a ``w``-word
    string (same Zipf spread, ~10× narrower rows; hash collisions are
    mirrored exactly in the DuckDB oracle so determinism holds).
    countDistinct is the standard two-phase expand — bounded by total
    span occurrences, never by corpus size per key.
    """
    tok = docs.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("_pos", "_tok"),
    )
    win = W.partitionBy(id_col).orderBy("_pos")
    leads = [F.col("_tok")] + [F.lead("_tok", i).over(win)
                               for i in range(1, w)]
    # Staged once (lazy checkpoint): the span→doc-count aggregate and
    # the join-back both consume the span rows — unstaged, the
    # posexplode + lead-window + hash pipeline executed twice.
    spans = (
        tok.select(F.col(id_col),
                   F.concat_ws(" ", *leads).alias("_span"),
                   leads[-1].alias("_last"))
        .filter(F.col("_last").isNotNull())
        .select(id_col, hash60(F.col("_span")).alias("_h"))
        .localCheckpoint(eager=False)
    )
    docs_per_span = spans.groupBy("_h").agg(
        F.countDistinct(id_col).alias("_nd")
    )
    agg = spans.join(docs_per_span, "_h").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(F.col("_nd") >= 2, 1).otherwise(0)).alias("dup_spans"),
    )
    zero = F.lit(0).cast("long")
    n = F.coalesce(F.col("n_spans"), zero)
    d = F.coalesce(F.col("dup_spans"), zero)
    return docs.select(id_col).join(agg, id_col, "left").select(
        F.col(id_col),
        n.alias("n_spans"),
        d.alias("dup_spans"),
        F.when(n > 0, F.floor(d * F.lit(1_000_000) / n))
        .otherwise(F.lit(0)).cast("long").alias("dup_rate_micro"),
    )


def ppjoin_pairs(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", t_pct: int = 50,
                 k: int = 3,
                 max_candidates: int | None = None) -> DataFrame:
    """EXACT shingle-set Jaccard similarity self-join via prefix
    filtering (M111; Chaudhuri-Ganti-Kaushik SSJoin 2006, Xiao et al.
    PPJoin 2008 — the public prefix-filter principle — over Broder
    1997 w-shingle sets).

    The repo's other near-dup joins trade exactness for scale
    (LSH: probabilistic recall; ``ngram_jaccard_pairs``: df-blocked
    recall ~1 but unproven). Prefix filtering keeps the scale shape —
    equi-join on a shingle key, no all-pairs stage — while returning
    the PROVABLY complete answer: order every document's distinct
    ``k``-token-shingle set by one global total order (ascending
    document frequency, then shingle — rarest first), and let only the
    first ``p = L − ceil(t·L) + 1`` shingles of an L-shingle set
    generate candidates. If J(A,B) ≥ t but the two prefixes were
    disjoint, the smallest common shingle would lie in one set's
    prefix and therefore (disjointness) above the other's prefix
    boundary — forcing every common shingle above A's boundary and
    capping |A∩B| at ceil(t·|A|) − 1 < t·|A| ≤ |A∩B|, a
    contradiction. Candidates are a superset of all qualifying pairs;
    the streamed verify then makes the output exact. ``k=1``
    degenerates to plain word sets (useful for tests; real corpora
    want k≥2 — element diversity is what gives the filter teeth).

    ``t_pct`` is an integer percent so every boundary decision —
    prefix length ``ceil(t·L) = floor((t_pct·L + 99)/100)``, the
    length filter ``100·min ≥ t_pct·max``, the final threshold
    ``100·i ≥ t_pct·(|A|+|B|−i)`` — is integer arithmetic a DuckDB
    twin reproduces exactly.

    Returns ``(id_a, id_b, jac_micro)`` with ``id_a < id_b`` and
    ``jac_micro = floor(i·1e6/|A∪B|)`` for every pair with
    J ≥ t_pct/100. Text is case-folded before shingling; docs with
    fewer than ``k`` tokens have empty sets and never pair.

    Scale (100 TB): shingle df is one partial-aggregable count; the
    (df, shingle) per-doc ordering is a partitionBy(doc) window —
    never a global sort; and ascending-df order makes prefix shingles
    the RAREST of each set, so the candidate equi-join fans out on
    low-df keys only (a boilerplate shingle shared by every document
    sits in every suffix and generates nothing — the inverse of the
    naive join's worst key). Candidate volume is cut three ways before
    any verify work: the length filter, PPJoin's positional filter,
    and the probe/index prefix asymmetry (all in the join condition,
    pure codegen). The verify is the array kernel (see inline note):
    candidate-sized shuffles only. Shuffle keys are the 60-bit
    ``hash60`` of the shingle, not the k-word string (the
    dup_span_stats convention — ~10× narrower rows, collisions
    mirrored exactly in the oracle).

    Honest bound: candidate count is Θ(Σ_g df_probe(g)·df_index(g))
    over prefix occurrences — on vocabulary-bounded text (this
    testdata: only ~36k distinct shingles at the 10× blow-up) that
    term grows superlinearly with corpus size, which is inherent to
    EXACT content-keyed joins; measured curve in SURVEY §6.1b-r5. On
    Zipf-vocabulary real text the rare-prefix df stays flat. The LSH
    path (``minhash_lsh_pairs``, q41) is the designated scale path;
    this operator is the exactness baseline.

    ``max_candidates`` governs that bound at RUN TIME (VERDICT r5 task
    2): when set, the candidate upper bound Σ_g df_probe(g)·df_index(g)
    is measured from the prefix tables (one cheap aggregate over
    prefix-row counts — the pair join has not run yet) and logged; if
    it exceeds the budget, :class:`CandidateVolumeExceeded` is raised
    naming the scale paths, instead of silently buying an O(n²)-ish
    candidate stage. ``None`` (default) keeps the plan fully lazy.
    """
    if not 1 <= t_pct <= 100:
        raise ValueError(f"t_pct must be in [1, 100], got {t_pct}")
    lowered = docs.select(F.col(id_col),
                          F.lower(F.col(text_col)).alias(text_col))
    tok = data_barrier(shingle_rows(lowered, id_col, text_col, k).select(
        F.col(id_col).alias("gid"), hash60(F.col("shingle")).alias("tk")
    ).distinct())
    dfreq = tok.groupBy("tk").agg(F.count(F.lit(1)).alias("_df"))
    sizes = tok.groupBy("gid").agg(F.count(F.lit(1)).alias("_n"))
    # Prefix rows: rank tokens within each doc by the global
    # (df asc, token asc) order; keep rank ≤ L − ceil(t·L) + 1.
    # Staged: BOTH prefix tables (probe + index), the optional guard's
    # bound aggregate, and the verify's set arrays derive from ranked
    # — without the lazy checkpoint each consumer re-runs the df join
    # + rank window (measured 32 s vs 10 s at the sf1 blow-up with
    # the guard on). A window-count form of _df/_n (no dfreq/sizes
    # joins) was built and A/B-measured in r12: consistently SLOWER
    # here — the count frames broadcast-join below their thresholds
    # while the window form pays two full sorts of the token table —
    # so the join shape is the keeper (OPTIMIZATION_r12.md).
    ranked = (
        tok.join(dfreq, "tk")
        .join(sizes, "gid")
        .withColumn("_rn", F.row_number().over(
            W.partitionBy("gid").orderBy("_df", "tk")))
    )
    ranked = data_barrier(ranked)
    # Probing prefix: rank ≤ n − ⌈t·n⌉ + 1 (the basic prefix bound).
    # Indexing prefix (the probe/index asymmetry, Xiao et al. 2008
    # §3.3 / Vernica et al. SIGMOD 2010): the SMALLER record of a
    # valid pair must expose the pair's first common shingle within
    # its first n − ⌈2t/(1+t)·n⌉ + 1 ranks, because its overlap with
    # ANY partner at least its size is ≥ 2t/(1+t)·n. At t=0.5 the
    # index prefix is ~n/3 vs the probe's ~n/2 — the join fans out on
    # probe×index instead of probe², a ~3× candidate cut with zero
    # recall loss. Ties in size break by doc id (any fixed total order
    # over (n, gid) names one side "smaller").
    ceil_tl = F.floor((F.lit(t_pct) * F.col("_n") + F.lit(99)) / F.lit(100))
    ceil_ix = F.floor(
        (F.lit(2 * t_pct) * F.col("_n") + F.lit(100 + t_pct - 1))
        / F.lit(100 + t_pct))
    pfx = ranked.filter(F.col("_rn") <= F.col("_n") - ceil_tl + 1).select(
        "gid", "tk", "_n", "_rn"
    )
    ipfx = ranked.filter(F.col("_rn") <= F.col("_n") - ceil_ix + 1).select(
        "gid", "tk", "_n", "_rn"
    )
    if max_candidates is not None:
        # Σ_tk ca·cb in ONE aggregate pass over ranked: both prefix
        # memberships are row-local predicates on ranked, so the
        # per-token probe/index counts are conditional sums of the
        # same groupBy — the r11 shape ran two aggregate passes and a
        # join to multiply them (guide §2.1). Same bound, bit-exact.
        is_pfx = F.col("_rn") <= F.col("_n") - ceil_tl + 1
        is_ipfx = F.col("_rn") <= F.col("_n") - ceil_ix + 1
        bound = (
            ranked.groupBy("tk").agg(
                F.sum(is_pfx.cast("long")).alias("_ca"),
                F.sum(is_ipfx.cast("long")).alias("_cb"))
            .agg(F.sum(F.col("_ca") * F.col("_cb")).alias("_b"))
            .collect()[0]["_b"]
        ) or 0
        _check_candidate_budget(
            int(bound), max_candidates, "ppjoin_pairs",
            "minhash_lsh_pairs (q41, probabilistic recall) or "
            "ngram_jaccard_pairs (q43, df-blocked)",
        )
    a, b = pfx.alias("a"), ipfx.alias("b")
    # Positional filter (the second P of PPJoin): a shingle matching at
    # per-doc ranks (i, j) bounds the overlap by
    # min(i, j) + min(nA−i, nB−j); a row whose bound fails t PROVES the
    # pair fails (valid per matched row; pure codegen at the join).
    ubound = (F.least(F.col("a._rn"), F.col("b._rn"))
              + F.least(F.col("a._n") - F.col("a._rn"),
                        F.col("b._n") - F.col("b._rn")))
    smaller = (
        (F.col("b._n") < F.col("a._n"))
        | ((F.col("b._n") == F.col("a._n"))
           & (F.col("b.gid") < F.col("a.gid")))
    )
    cand = (
        a.join(
            b,
            (F.col("a.tk") == F.col("b.tk"))
            & (F.col("a.gid") != F.col("b.gid"))
            & smaller
            & (F.col("b._n") * 100 >= F.lit(t_pct) * F.col("a._n"))
            & (ubound * (100 + t_pct)
               >= F.lit(t_pct) * (F.col("a._n") + F.col("b._n"))),
        )
        .select(F.least(F.col("a.gid"), F.col("b.gid")).alias("id_a"),
                F.greatest(F.col("a.gid"), F.col("b.gid")).alias("id_b"))
        .distinct()
    )
    # Verify kernel (Vernica et al. SIGMOD 2010 §4.2): join each
    # side's shingle-hash ARRAY onto the candidate pair and intersect
    # with codegen array_intersect — two candidate-sized shuffles
    # total. The row-explosion alternative (candidate ⋈ shingle rows ⋈
    # shingle rows, the ngram_jaccard_pairs shape) is right when
    # candidates ≈ output, but here a moderate-selectivity prefix join
    # can carry millions of candidates and the explosion costs
    # |cand|·L intermediate rows — measured 136 s of a 137 s run at
    # the 10× blow-up vs ~8 s for the array kernel, same answer.
    # Arrays come off the ranked checkpoint (same (gid, tk) rows as
    # tok; set semantics make row order irrelevant).
    sets_arr = ranked.select("gid", "tk").groupBy("gid").agg(
        F.collect_list("tk").alias("_set"),
        F.count(F.lit(1)).alias("_n"),
    )
    va = sets_arr.select(F.col("gid").alias("id_a"),
                         F.col("_set").alias("_seta"),
                         F.col("_n").alias("_na"))
    vb = sets_arr.select(F.col("gid").alias("id_b"),
                         F.col("_set").alias("_setb"),
                         F.col("_n").alias("_nb"))
    inter = F.size(F.array_intersect(F.col("_seta"), F.col("_setb")))
    union = F.col("_na") + F.col("_nb") - F.col("_i")
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("_i", inter.cast("long"))
        .filter(F.col("_i") * 100 >= F.lit(t_pct) * union)
        .select(
            "id_a", "id_b",
            F.floor(F.col("_i") * F.lit(1_000_000) / union)
            .cast("long").alias("jac_micro"),
        )
    )


def _passjoin_scheme(df: DataFrame, length_col: str, k: int) -> DataFrame:
    """Pass-Join chunk scheme for a length-l string, slot ``_i`` in
    [0, k): first k − l%k chunks of size l div k, the rest one longer;
    1-based start ``_p``, length ``_c``. Chunk and substring sides MUST
    compute the identical scheme."""
    return (
        df.withColumn("_base", F.expr(f"{length_col} div {k}"))
        .withColumn("_rem", F.expr(f"{length_col} % {k}"))
        .withColumn("_c", F.col("_base")
                    + F.when(F.col("_i") >= k - F.col("_rem"),
                             F.lit(1)).otherwise(F.lit(0)))
        .withColumn("_p", F.lit(1) + F.col("_i") * F.col("_base")
                    + F.greatest(F.lit(0),
                                 F.col("_i") - (k - F.col("_rem"))))
    )


def passjoin_chunk_rows(t: DataFrame, id_col: str, text_col: str,
                        d: int) -> DataFrame:
    """Index side of the Pass-Join candidate join: each doc's own
    ``d+1`` chunks as ``(_gc, _lc, _i, _ck)``. ``t`` must carry a
    ``_len`` length column. Shared by :func:`edjoin_pairs` and the
    incremental variant (operators/incremental.py)."""
    k = d + 1
    return (
        _passjoin_scheme(
            t.filter(F.col("_len") >= k)
            .select(F.col(id_col).alias("_gc"), "_len", F.col(text_col),
                    F.explode(F.sequence(F.lit(0), F.lit(k - 1)))
                    .alias("_i")),
            "_len", k)
        .select(F.col("_gc"), F.col("_len").alias("_lc"), "_i",
                F.xxhash64(F.expr(f"substring({text_col}, _p, _c)"))
                .alias("_ck"))
    )


def passjoin_substring_rows(t: DataFrame, id_col: str, text_col: str,
                            d: int) -> DataFrame:
    """Probe side of the Pass-Join candidate join: for each candidate
    partner length ``_lx ∈ [max(k, len−d), len]``, the partner-scheme
    substrings inside the multi-match-aware shift window, as
    ``(_gs, _ly, _lx, _i, _ck)``. ``t`` must carry ``_len``."""
    k = d + 1
    sub = (
        t.filter(F.col("_len") >= k)
        .select(F.col(id_col).alias("_gs"), F.col("_len").alias("_ly"),
                F.col(text_col))
        .withColumn("_lx", F.explode(F.sequence(
            F.greatest(F.lit(k), F.col("_ly") - d), F.col("_ly"))))
        .withColumn("_i", F.explode(F.sequence(F.lit(0), F.lit(k - 1))))
    )
    return (
        _passjoin_scheme(sub, "_lx", k)
        .withColumn("_delta", F.col("_ly") - F.col("_lx"))
        .withColumn("_lo", F.greatest(
            F.col("_p") + F.greatest(-F.col("_i"),
                                     F.col("_delta")
                                     - (F.lit(k - 1) - F.col("_i"))),
            F.lit(1)))
        .withColumn("_hi", F.least(
            F.col("_p") + F.least(F.col("_i"),
                                  F.col("_delta")
                                  + (F.lit(k - 1) - F.col("_i"))),
            F.col("_ly") - F.col("_c") + 1))
        .filter(F.col("_lo") <= F.col("_hi"))
        .withColumn("_s", F.explode(F.sequence(F.col("_lo"),
                                               F.col("_hi"))))
        .select("_gs", "_ly", "_lx", "_i",
                F.xxhash64(F.expr(f"substring({text_col}, _s, _c)"))
                .alias("_ck"))
    )


def edjoin_pairs(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", d: int = 10,
                 q: int = 4,
                 max_candidates: int | None = None) -> DataFrame:
    """EXACT edit-distance similarity self-join via PARTITION-based
    (Pass-Join) filtering (M114; Li, Deng & Feng, "PASS-JOIN: a
    partition-based method for similarity joins", ICDE 2011/VLDB 2012
    — public method). Replaces the r5/r6 q-gram prefix scheme, whose
    candidate bound Σ_g df_pfx(g)² was the engine's one measured
    superlinear plan (VERDICT r6 #2: 30.6× at 10× data even on
    Zipf-vocabulary text; length-banding and a location-based prefix
    cut it only to ~26× because the q·d+1 = 81-gram prefix at d=10
    necessarily reaches mid-frequency grams whose df grows with the
    corpus).

    Returns ``(id_a, id_b, dist)`` with ``id_a < id_b`` for every pair
    with ``levenshtein(text_a, text_b) ≤ d`` — the fuzzy-dedup
    primitive none of the token-set joins provide. Same exactness
    architecture as :func:`ppjoin_pairs`: a PROVEN candidate superset
    from an equi-join, then a built-in (JVM codegen) verify with
    Spark's three-arg ``levenshtein(a, b, d)`` (banded DP, −1 past the
    threshold), so per-candidate work is O(d·len), not O(len²).

    Filter theorem (pigeonhole): partition the SHORTER string x into
    ``k = d+1`` disjoint chunks (first ``k − len%k`` of size
    ``len div k``, the rest one char longer). At most ``d`` edit
    operations touch at most ``d`` chunks, so some chunk of x appears
    UNCHANGED — as an exact substring — in y. The candidate join is
    therefore x's chunks (hashed) against y's same-length substrings,
    equi on ``(substring-hash, x-length, chunk-slot)``. Join keys are
    ``len/(d+1)``-char substrings (≈20 chars at the q143 defaults):
    on natural text their df is ≈1 except for true near-duplicates,
    so candidate volume tracks actual duplicate mass — measured
    LINEAR (≈10× at 10× data) on the Zipf-vocabulary fixture where
    the gram scheme grew 26–31× (SURVEY §6.1b-r7).

    Substring enumeration is multi-match-aware (the paper's shift
    bound): the unchanged chunk ``i`` (1-based) of x starts in y
    shifted by the net insert−delete balance of the edits before it,
    which is bounded by BOTH ends — ``s − p_i ∈ [max(−(i−1),
    Δ−(k−i)), min(i−1, Δ+(k−i))]`` where ``Δ = |y|−|x| ∈ [0, d]`` —
    O(d²) substrings per doc instead of the naive O(d³). xxhash64 on
    chunk/substring text is safe for exactness: a collision only
    MERGES keys, so candidates can grow, never shrink, and the verify
    reads raw text.

    Degenerate strings: the chunk scheme needs ``k`` non-empty chunks
    (``len ≥ d+1``). Pairs whose shorter side is below that have BOTH
    sides ≤ 2d (length filter), comfortably under the tiny-bucket
    cutoff ``q·d + q − 1`` (q ≥ 2), so the length-banded equi-join
    pass over the short bucket (band width d+1: within-d pairs land
    in the same or adjacent bands) covers them; mid-length docs
    covered by both paths are deduplicated before the verify. ``q``
    is retained from the gram-scheme API purely as the tiny-bucket
    routing knob.

    Scale (100 TB): chunk side emits d+1 rows/doc, substring side
    O(d²) rows/doc — both linear in corpus size; the equi-join
    shuffles on near-unique 20-char-substring hashes, so no skewed
    key and no df²-style blow-up. ``max_candidates`` governs the
    residual risk at RUN TIME (VERDICT r5 task 2): the exact
    pre-orientation candidate count Σ_key cc·cs plus the tiny
    bucket's banded bound is measured from staged key counts (the
    pair join has not run yet); over budget raises
    :class:`CandidateVolumeExceeded` naming the scale paths (q41 LSH
    / q43 df-blocked n-gram Jaccard) instead of silently grinding.
    ``None`` (default) keeps the plan fully lazy.
    """
    if d < 0:
        raise ValueError(f"d must be non-negative, got {d}")
    if q < 2:
        raise ValueError(f"q must be >= 2, got {q}")
    k = d + 1
    cutoff = q * d + q - 1
    t = (docs.select(F.col(id_col), F.col(text_col))
         .withColumn("_len", F.length(text_col))
         .localCheckpoint(eager=False))

    # t (small: id, text, len) is the ONLY persisted frame. The
    # chunk/substring frames are cheap codegen explodes of t, and
    # after the guard moved onto raw lineage each has exactly one
    # consumer (the candidate join) — checkpointing them was pure
    # storage pressure: at the ×100 probe scale the ~10⁹-row substring
    # checkpoint pinned >50% of unified memory (the storageFraction-
    # protected half) exactly when the guard's high-cardinality
    # aggregate needed execution memory, turning a designed guard
    # TRIP into SparkOutOfMemoryError (SURVEY §6.1d-r8). The guard
    # now aggregates the raw lineage — fully streaming, nothing
    # materialized on the refusal path.
    ch = passjoin_chunk_rows(t, id_col, text_col, d)
    sub = passjoin_substring_rows(t, id_col, text_col, d)
    nparts = None
    if max_candidates is not None:
        cnt_c = ch.groupBy("_ck", "_lc", "_i").agg(
            F.count(F.lit(1)).alias("_cc"))
        cnt_s = sub.groupBy("_ck", "_lx", "_i").agg(
            F.count(F.lit(1)).alias("_cs"))
        # A side-tagged single-aggregation bound (one shuffle, no
        # count join) was built and A/B-measured in r12: WORSE — see
        # edjoin_increment_pairs. The count join below is
        # co-partitioned post-aggregation (no extra exchange) and
        # streams as a sort-merge sum.
        bound_pass_df = (
            cnt_c.join(cnt_s,
                       (F.col("_lc") == F.col("_lx"))
                       & (cnt_c["_ck"] == cnt_s["_ck"])
                       & (cnt_c["_i"] == cnt_s["_i"]))
            .agg(F.sum(F.col("_cc") * F.col("_cs")).alias("_b"))
        )
        tiny_cnt = (
            t.filter(F.col("_len") <= cutoff)
            .groupBy(F.expr(f"_len div {d + 1}").alias("_band"))
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        probe_cnt = tiny_cnt.select(
            F.explode(F.array(F.col("_band") - 1, F.col("_band"),
                              F.col("_band") + 1)).alias("_band"),
            F.col("_c").alias("_cp"),
        )
        bound_tiny_df = (
            probe_cnt.join(tiny_cnt, "_band")
            .agg(F.sum(F.col("_cp") * F.col("_c")).alias("_b"))
        )
        # ONE job for both bound aggregates (they were two sequential
        # collect round-trips; the union lets the independent subtrees
        # run concurrently — guide §2.6 overlap). Tagged rows so the
        # mapping is order-independent.
        rows = {
            r["_k"]: int(r["_b"] or 0)
            for r in bound_pass_df.select(F.lit(0).alias("_k"), "_b")
            .unionByName(bound_tiny_df.select(F.lit(1).alias("_k"), "_b"))
            .collect()
        }
        bound_pass, bound_tiny = rows[0], rows[1]
        _check_candidate_budget(
            int(bound_pass + bound_tiny), max_candidates, "edjoin_pairs",
            "minhash_lsh_pairs (q41, probabilistic recall) or "
            "ngram_jaccard_pairs (q43, df-blocked)",
        )
        nparts = sized_partitions_for_bound(
            docs.sparkSession, int(bound_pass + bound_tiny))
    if nparts is not None:
        # Guard passed but the bound outsizes the session layout —
        # size the candidate join from the measurement (VERDICT r8
        # task 3; the sf10 completions needed this hand-tuned).
        # Repartitioning each side on its own equi keys with one
        # partition count co-partitions the join: no further Exchange,
        # and each task owns ~GUARD_JOIN_ROWS_PER_PARTITION candidate
        # rows instead of bound/session_partitions.
        sub = sub.repartition(nparts, "_ck", "_i", "_lx")
        ch = ch.repartition(nparts, "_ck", "_i", "_lc")
    cand_pass = (
        sub.join(
            ch,
            (sub["_ck"] == ch["_ck"]) & (sub["_i"] == ch["_i"])
            & (F.col("_lx") == F.col("_lc")),
        )
        # Orientation: chunk side is the shorter doc; equal lengths
        # pair once, chunk side = smaller id. (Self-pairs only arise
        # at Δ=0 and die here too.)
        .filter((F.col("_ly") > F.col("_lc"))
                | ((F.col("_ly") == F.col("_lc"))
                   & (F.col("_gc") < F.col("_gs"))))
        .select(F.least("_gc", "_gs").alias("id_a"),
                F.greatest("_gc", "_gs").alias("id_b"))
    )
    # Short bucket as an EQUI-join (plan-audit: no NLJ anywhere):
    # band width d+1 makes |len_a − len_b| ≤ d imply adjacent bands,
    # so the probe side explodes its band ±1 and joins equi on band.
    tiny = t.filter(F.col("_len") <= cutoff).select(
        F.col(id_col), F.col("_len"),
        F.expr(f"_len div {d + 1}").alias("_band"),
    )
    probe = tiny.select(
        F.col(id_col), F.col("_len"),
        F.explode(F.array(F.col("_band") - 1, F.col("_band"),
                          F.col("_band") + 1)).alias("_band"),
    )
    pa, pb = probe.alias("pa"), tiny.alias("pb")
    cand_tiny = pa.join(
        pb,
        (F.col("pa._band") == F.col("pb._band"))
        & (F.col(f"pa.{id_col}") < F.col(f"pb.{id_col}"))
        & (F.abs(F.col("pa._len") - F.col("pb._len")) <= d),
    ).select(F.col(f"pa.{id_col}").alias("id_a"),
             F.col(f"pb.{id_col}").alias("id_b"))
    cand = cand_pass.unionByName(cand_tiny)
    if nparts is not None:
        # The dedup and verify stages shuffle candidate-sized frames
        # too; hand-placing the sized exchanges where the planner
        # would insert session-sized ones keeps every candidate-scale
        # task at the same bounded row share (the verify joins pay one
        # possibly-redundant exchange when t is broadcastable — at
        # bound sizes that trigger sizing, memory safety outranks it).
        cand = cand.repartition(nparts, "id_a", "id_b").distinct() \
            .repartition(nparts, "id_a")
    else:
        cand = cand.distinct()
    lev = F.levenshtein(F.col("_ta"), F.col("_tb"), d)
    joined = cand.join(t.select(F.col(id_col).alias("id_a"),
                                F.col(text_col).alias("_ta")), "id_a")
    if nparts is not None:
        joined = joined.repartition(nparts, "id_b")
    return (
        joined
        .join(t.select(F.col(id_col).alias("id_b"),
                       F.col(text_col).alias("_tb")), "id_b")
        .select("id_a", "id_b", lev.cast("long").alias("dist"))
        .filter(F.col("dist") >= 0)
    )



def containment_pairs(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", c_pct: int = 80,
                      k: int = 3,
                      max_candidates: int | None = None) -> DataFrame:
    """EXACT shingle-set CONTAINMENT self-join via prefix filtering
    (M124): every ORDERED pair with |A∩B| ≥ (c_pct/100)·|A| — "A's
    content is (mostly) inside B" — the asymmetric complement of
    :func:`ppjoin_pairs`'s symmetric Jaccard. Jaccard misses
    quote/subset structure by construction (a 50-shingle doc fully
    contained in a 5000-shingle doc has J ≈ 0.01 but containment 1.0);
    this is the dedup primitive for quotation detection, doc-inside-doc
    ingest artifacts, and train/eval superset screens. Containment
    prefix principle per the same SSJoin/PPJoin line (Chaudhuri et al.
    2006; Agrawal et al. 2006 error-tolerant set containment — public
    methods).

    Returns ``(id_a, id_b, cont_micro)`` where ``id_a`` is the
    CONTAINED side, both directions are evaluated independently, and
    ``cont_micro = floor(i·1e6/|A|)``; docs with empty shingle sets
    never pair.

    Exactness: order every shingle set by one global (df asc, shingle)
    total order. If containment ≥ c but A's first
    ``p = |A| − ⌈c·|A|⌉ + 1`` shingles were ALL absent from B, the
    overlap would be ≤ |A| − p < ⌈c·|A|⌉ — contradiction. So A's
    prefix must hit B SOMEWHERE: the candidate join is A-prefix ⋈
    B-all-tokens (the asymmetric price of an asymmetric predicate —
    the index side cannot be prefix-shortened), plus the size filter
    ``100·|B| ≥ c_pct·|A|`` (overlap ≤ |B|). The verify is the Vernica
    array-intersect kernel, candidate-sized shuffles only.

    Scale: same bound family as the exact joins —
    Σ_g df_pfx(g)·df_all(g), superlinear on vocabulary-bounded
    corpora; ``max_candidates`` measures it before the join and raises
    :class:`CandidateVolumeExceeded` over budget. The ascending-df
    order keeps prefixes on the rarest shingles, so the df_all factor
    bites only on corpora whose RARE shingles are still common — the
    designated scale paths are the LSH/df-blocked joins (q41/q43).
    """
    if not 1 <= c_pct <= 100:
        raise ValueError(f"c_pct must be in [1, 100], got {c_pct}")
    lowered = docs.select(F.col(id_col),
                          F.lower(F.col(text_col)).alias(text_col))
    tok = data_barrier(shingle_rows(lowered, id_col, text_col, k).select(
        F.col(id_col).alias("gid"), hash60(F.col("shingle")).alias("tk")
    ).distinct())
    # r12: the r11 shape checkpointed dfreq/sizes because the guard's
    # cb and alltok re-aggregated them from separate jobs; both extra
    # consumers are gone below (one-pass guard over ranked, alltok as
    # a ranked projection), so the count frames are single-consumer
    # build inputs again — no checkpoints. A window-count form of
    # _df/_n was built and A/B-measured: slower (see ppjoin_pairs).
    dfreq = tok.groupBy("tk").agg(F.count(F.lit(1)).alias("_df"))
    sizes = tok.groupBy("gid").agg(F.count(F.lit(1)).alias("_n"))
    ranked = (
        tok.join(dfreq, "tk")
        .join(sizes, "gid")
        .withColumn("_rn", F.row_number().over(
            W.partitionBy("gid").orderBy("_df", "tk")))
    )
    ranked = data_barrier(ranked)
    ceil_cl = F.floor((F.lit(c_pct) * F.col("_n") + F.lit(99)) / F.lit(100))
    is_pfx = F.col("_rn") <= F.col("_n") - ceil_cl + 1
    pfx = ranked.filter(is_pfx).select("gid", "tk", "_n")
    alltok = ranked.select("gid", "tk", "_n")
    if max_candidates is not None:
        bound = (
            ranked.groupBy("tk").agg(
                F.sum(is_pfx.cast("long")).alias("_ca"),
                F.count(F.lit(1)).alias("_cb"))
            .agg(F.sum(F.col("_ca") * F.col("_cb")).alias("_b"))
            .collect()[0]["_b"]
        ) or 0
        _check_candidate_budget(
            int(bound), max_candidates, "containment_pairs",
            "minhash_lsh_pairs (q41, probabilistic recall) or "
            "ngram_jaccard_pairs (q43, df-blocked)",
        )
    a, b = pfx.alias("a"), alltok.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tk") == F.col("b.tk"))
            & (F.col("a.gid") != F.col("b.gid"))
            & (F.col("b._n") * 100 >= F.lit(c_pct) * F.col("a._n")),
        )
        .select(F.col("a.gid").alias("id_a"), F.col("b.gid").alias("id_b"))
        .distinct()
    )
    sets_arr = ranked.select("gid", "tk").groupBy("gid").agg(
        F.collect_list("tk").alias("_set"),
        F.count(F.lit(1)).alias("_n"),
    )
    va = sets_arr.select(F.col("gid").alias("id_a"),
                         F.col("_set").alias("_seta"),
                         F.col("_n").alias("_na"))
    vb = sets_arr.select(F.col("gid").alias("id_b"),
                         F.col("_set").alias("_setb"))
    inter = F.size(F.array_intersect(F.col("_seta"), F.col("_setb")))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("_i", inter.cast("long"))
        .filter(F.col("_i") * 100 >= F.lit(c_pct) * F.col("_na"))
        .select(
            "id_a", "id_b",
            F.floor(F.col("_i") * F.lit(1_000_000) / F.col("_na"))
            .cast("long").alias("cont_micro"),
        )
    )


def jaccard_threshold_profile(docs: DataFrame, id_col: str = "doc_id",
                              text_col: str = "text", t_pct: int = 50,
                              k: int = 3, band_pct: int = 10,
                              max_candidates: int | None = None
                              ) -> DataFrame:
    """Dedup threshold-sensitivity table (M141): run the EXACT PPJoin
    once at the floor threshold ``t_pct`` and histogram the qualifying
    pairs into ``band_pct``-wide Jaccard bands — "how many pairs does
    each candidate threshold add", the table that turns the dedup
    threshold from a guess into a read-off (a cliff between bands
    means the choice matters; a flat tail means it doesn't).

    Returns one row per band:
    ``(band_lo_micro, n_pairs, min_jac_micro, max_jac_micro)`` where
    band b covers jac ∈ [b·band_pct, (b+1)·band_pct)·10⁴ micros (the
    top band closes at exactly 1e6).

    Scale: exactly :func:`ppjoin_pairs` (one prefix join at the floor
    threshold — the histogram is a |bands|-row rollup on its output),
    including ``max_candidates``.
    """
    if not 1 <= band_pct <= 100:
        raise ValueError(f"band_pct must be in [1, 100], got {band_pct}")
    pairs = ppjoin_pairs(docs, id_col, text_col, t_pct, k,
                         max_candidates)
    band_width = band_pct * 10_000
    band_lo = (
        F.least(F.floor(F.col("jac_micro") / F.lit(band_width)),
                F.lit(100 // band_pct - 1)) * F.lit(band_width)
    ).cast("long")
    return (
        pairs.select(band_lo.alias("band_lo_micro"), "jac_micro")
        .groupBy("band_lo_micro")
        .agg(F.count(F.lit(1)).alias("n_pairs"),
             F.min("jac_micro").alias("min_jac_micro"),
             F.max("jac_micro").alias("max_jac_micro"))
    )
