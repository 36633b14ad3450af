"""Text-analysis operators for training-data pipelines (M10).

- **language ID**: corpus-trained character-trigram profiles — the
  n-gram heuristic (Cavnar & Trenkle 1994) expressed as two aggregation
  passes; no model artifact, no UDF.
- **quality scoring**: length / punctuation / stopword-ratio features +
  a bounded composite score, all built-in expressions.
- **token counting**: whitespace tokens and a BPE-ish regex token
  stream (letter runs | digit runs | single punctuation) —
  ``regexp_extract_all`` stays inside codegen.
- **document fingerprinting**: winnowing (Schleimer et al. 2003):
  rolling k-char-gram hashes, minimum per sliding window of w hashes,
  distinct mins = the fingerprint set. Used for plagiarism-style
  containment detection; here surfaced as (count, digest) per doc.

Hashes are the portable 60-bit md5 prefix (`dedup.hash60`), so every
operator has an exact DuckDB oracle twin.

Scale: everything is per-row expression work except the trigram-profile
build (one groupBy(lang, trigram) count + top-N window — tiny output,
broadcast back). No Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from .dedup import char_windows, hash60, tokens

STOPWORDS = ("a", "the", "of", "and", "in", "to", "is")


def char_trigrams(text: Column) -> Column:
    """Distinct lowercase character trigrams (O(L) sliding windows —
    see dedup.char_windows for why not a substring loop)."""
    return F.array_distinct(char_windows(F.lower(text), 3))


def language_id(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", lang_col: str = "lang",
                profile_size: int = 20,
                tg_col: str | None = None) -> DataFrame:
    """Predict language by trigram-profile coverage.

    Pass 1 (train): per-language top-``profile_size`` trigrams by corpus
    frequency (ties → lexicographic). Pass 2 (score): coverage =
    |doc trigrams ∩ profile| / |doc trigrams| per language; prediction =
    argmax coverage (ties → lang asc).

    ``tg_col`` (optional): name of a PRECOMPUTED ``char_trigrams``
    array column. The trigram array feeds three subtrees (profile
    training, hit scoring, per-doc counts); a caller that stages the
    array once (e.g. ``pipeline.prepare_corpus``'s checkpointed wide
    pass) avoids re-deriving it from ``text_col`` per subtree. Must
    hold exactly ``char_trigrams(text_col)`` — identical results.

    Output: (doc_id, predicted_lang, actual_lang, hit).
    """
    if tg_col is None:
        # Stage the trigram array ONCE (lazy checkpoint): the three
        # consumers below otherwise each re-derive it from the text —
        # three full scans + three trigram passes for one logical
        # array (the q48 plan carried 18 Exchanges from this fan-out).
        staged = docs.select(
            F.col(id_col), F.col(lang_col),
            char_trigrams(F.col(text_col)).alias("_lid_tg"),
        ).localCheckpoint(eager=False)
        return language_id(staged, id_col=id_col, text_col=text_col,
                           lang_col=lang_col, profile_size=profile_size,
                           tg_col="_lid_tg")
    tga = F.col(tg_col)
    tg = docs.select(
        F.col(id_col), F.col(lang_col),
        F.explode(tga).alias("tg"),
    )
    prof_w = W.partitionBy(lang_col).orderBy(F.desc("n"), F.asc("tg"))
    profile = (
        tg.groupBy(lang_col, "tg").agg(F.count(F.lit(1)).alias("n"))
        .withColumn("_rn", F.row_number().over(prof_w))
        .filter(F.col("_rn") <= profile_size)
        .select(F.col(lang_col).alias("cand_lang"), "tg")
    )
    # Per-doc trigram count is a NARROW expression (char_trigrams is
    # already distinct) — no explode, no shuffle. Deriving it from the
    # exploded rows re-evaluated the trigram subtree a third time
    # (~N·|trigrams| extra rows; the facade's measured hot spot).
    doc_n = docs.select(
        F.col(id_col),
        F.size(tga).alias("n_tg"),
        F.col(lang_col).alias("actual_lang"),
    ).filter(F.col("n_tg") > 0)  # same row set as the exploded form
    hits = (
        # (id, tg) rows are already unique — char_trigrams arrays are
        # array_distinct per doc — so no dedup shuffle before the
        # broadcast-profile filter (a .distinct() here measured as the
        # facade's single biggest exchange at 10x sf0.1).
        tg.select(id_col, "tg")
        .join(F.broadcast(profile), "tg")
        .groupBy(id_col, "cand_lang")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    scored = doc_n.join(hits, id_col, "left").select(
        id_col, "actual_lang",
        F.coalesce("cand_lang", F.lit("??")).alias("cand_lang"),
        F.coalesce(F.col("n_hit") / F.col("n_tg"), F.lit(0.0)).alias("coverage"),
    )
    w = W.partitionBy(id_col).orderBy(F.desc("coverage"), F.asc("cand_lang"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            id_col,
            F.col("cand_lang").alias("predicted_lang"),
            "actual_lang",
            (F.col("cand_lang") == F.col("actual_lang")).cast("int").alias("hit"),
            F.round("coverage", 6).alias("coverage"),
        )
    )


def quality_columns(text_col: str = "text") -> dict[str, Column]:
    """The quality feature expressions as name → Column — pure per-row
    codegen, so they compose into batch selects AND streaming plans
    without a join."""
    t = F.col(text_col)
    toks = tokens(t)
    n_tok = F.size(toks)
    n_chars = F.length(t)
    punct_ratio = (F.length(F.regexp_replace(t, r"[a-z0-9\s]", "")) / n_chars)
    stop_ratio = (
        F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))) / n_tok
    )
    avg_tok_len = (
        F.aggregate(toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
        / n_tok
    )
    score = (
        F.least(F.lit(1.0), n_tok / F.lit(100.0))
        * (F.lit(1.0) - punct_ratio)
        * (F.lit(1.0) - F.abs(stop_ratio - F.lit(0.25)))
    )
    return {
        "n_tokens": n_tok,
        "n_chars": n_chars,
        "avg_token_len": F.round(avg_tok_len, 6),
        "punct_ratio": F.round(punct_ratio, 6),
        "stopword_ratio": F.round(stop_ratio, 6),
        "quality_score": F.round(score, 6),
    }


def quality_features(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Per-doc quality features + composite score (all codegen exprs).

    punct_ratio uses the regexp-strip idiom (length delta), stopword
    ratio an array filter — no explode, no shuffle: purely narrow.
    """
    cols = quality_columns(text_col)
    return docs.select(
        F.col(id_col), *[c.alias(n) for n, c in cols.items()]
    )


def token_counts(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Whitespace vs BPE-ish token counts (letter runs | digit runs |
    single non-alnum glyph) + bytes — the cost accounting a training
    pipeline runs over every shard."""
    t = F.col(text_col)
    return docs.select(
        F.col(id_col),
        F.size(tokens(t)).alias("ws_tokens"),
        F.size(F.regexp_extract_all(t, F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)).alias(
            "bpe_tokens"
        ),
        F.octet_length(t).alias("n_bytes"),
    )


def winnowing_fingerprints(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", k: int = 8,
                           window: int = 4) -> DataFrame:
    """Winnowing fingerprint set per doc: distinct minima of each
    sliding window of ``window`` consecutive k-gram hashes.

    Output: (doc_id, n_fingerprints, fp_digest) where fp_digest is the
    md5 of the sorted fingerprint list — a containment-comparable
    summary. Array work is all JVM higher-order functions; nothing
    explodes, so a 100 TB corpus stays one narrow pass.
    """
    t = F.col(text_col)
    hashes = F.transform(char_windows(t, k), lambda g: hash60(g))
    # Materialize the k-gram hash array as a column BEFORE the window
    # pass: referencing the `hashes` expression inside the next transform
    # would re-evaluate all L md5s per window position (O(L^2) hashing
    # per doc — measured 13x slower at sf0.01).
    hashed = docs.filter(F.length(t) >= k + window - 1).select(
        F.col(id_col), hashes.alias("_hashes")
    )
    h = F.col("_hashes")
    mins = F.transform(
        F.sequence(F.lit(1), F.size(h) - (window - 1)),
        lambda i: F.array_min(F.slice(h, i, window)),
    )
    fps = F.array_sort(F.array_distinct(mins))
    # Stage the fingerprint array: referenced by BOTH the size and the
    # digest, the inline expression would run the window-min + distinct
    # + sort tree twice per row (the q103 staging lesson; measured
    # ~25% of q50 at sf0.1).
    return (
        hashed.select(F.col(id_col), fps.alias("_fps"))
        .select(
            F.col(id_col),
            F.size("_fps").alias("n_fingerprints"),
            F.md5(
                F.array_join(
                    F.transform("_fps", lambda x: x.cast("string")), ","
                )
            ).alias("fp_digest"),
        )
    )


def repetition_signals(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021, public
    "repetitious text" filters): per document, the fraction of n-gram
    OCCURRENCES that are duplicates and the fraction taken by the single
    most frequent n-gram, for n = 2 and 3. High values flag boilerplate
    / degenerate text a training pipeline drops.

    Relational shape: posexplode tokens once, window ``lead``s build the
    n-gram occurrence rows, then two aggregations (per (doc, gram) →
    per doc). One shuffle on doc id; no arrays are materialized (the
    flat-row lesson from the shingle pipeline). Documents with fewer
    than n tokens (no complete n-gram) report 0 for that n.
    """
    tok = docs.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("_pos", "_tok")
    )
    w = W.partitionBy(id_col).orderBy("_pos")

    def gram_stats(n: int, prefix: str) -> DataFrame:
        leads = [F.col("_tok")] + [F.lead("_tok", i).over(w) for i in range(1, n)]
        grams = (
            tok.select(F.col(id_col), F.concat_ws(" ", *leads).alias("_g"),
                       leads[-1].alias("_last"))
            .filter(F.col("_last").isNotNull())
        )
        per_gram = grams.groupBy(id_col, "_g").agg(F.count(F.lit(1)).alias("_c"))
        return per_gram.groupBy(id_col).agg(
            F.sum("_c").alias(f"{prefix}_total"),
            F.count(F.lit(1)).alias(f"{prefix}_uniq"),
            F.max("_c").alias(f"{prefix}_top"),
        )

    g2, g3 = gram_stats(2, "g2"), gram_stats(3, "g3")

    def frac(num, den):
        return F.round(F.coalesce(num / den, F.lit(0.0)), 6)

    return (
        docs.select(id_col)
        .join(g2, id_col, "left")
        .join(g3, id_col, "left")
        .select(
            F.col(id_col),
            frac(F.col("g2_total") - F.col("g2_uniq"), F.col("g2_total"))
            .alias("dup_2gram_frac"),
            frac(F.col("g2_top"), F.col("g2_total")).alias("top_2gram_frac"),
            frac(F.col("g3_total") - F.col("g3_uniq"), F.col("g3_total"))
            .alias("dup_3gram_frac"),
            frac(F.col("g3_top"), F.col("g3_total")).alias("top_3gram_frac"),
        )
    )


def diversity_signals(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Lexical-diversity quality signals via the Gini-Simpson index
    (Simpson 1949; used as an entropy-style degenerate-text filter):
    per document, over lowercased whitespace tokens and over single
    characters,

    - ``distinct_token_ratio`` = |distinct tokens| / n_tokens,
    - ``token_simpson`` = 1 − Σ c² / n² (c = per-token counts) — 0 for
      a one-token-repeated doc, →1 for all-distinct text,
    - ``top_token_share`` = max c / n,
    - ``char_simpson`` = the same index over characters.

    Empty documents report 0 for every signal. All ratios are exact
    integer sums divided once and rounded to 6 dp — unlike a Shannon
    entropy there is no float accumulation, so Spark and any SQL oracle
    agree bit-for-bit regardless of aggregation order (the determinism
    rule of plans/registry.py).

    Scale: two flat-row explodes (tokens, chars) each followed by two
    partial-aggregatable groupBys keyed on the doc id — the same
    one-shuffle shape as ``repetition_signals``; no arrays larger than
    one row's text are materialized.
    """
    t = F.lower(F.col(text_col))
    tok_rows = docs.select(F.col(id_col), F.explode(tokens(t)).alias("_tok"))
    tc = tok_rows.groupBy(id_col, "_tok").agg(F.count(F.lit(1)).alias("_c"))
    ta = tc.groupBy(id_col).agg(
        F.sum("_c").alias("_n"),
        F.count(F.lit(1)).alias("_uniq"),
        F.sum(F.col("_c") * F.col("_c")).alias("_ss"),
        F.max("_c").alias("_mx"),
    )
    chars = F.when(
        F.length(t) >= 1,
        F.transform(F.sequence(F.lit(1), F.length(t)),
                    lambda i: t.substr(i, F.lit(1))),
    ).otherwise(F.array().cast("array<string>"))
    ch_rows = docs.select(F.col(id_col), F.explode(chars).alias("_ch"))
    cc = ch_rows.groupBy(id_col, "_ch").agg(F.count(F.lit(1)).alias("_c"))
    ca = cc.groupBy(id_col).agg(
        F.sum("_c").alias("_m"),
        F.sum(F.col("_c") * F.col("_c")).alias("_css"),
    )

    def ratio(num, den):
        return F.round(
            F.when(den > 0, num / den).otherwise(F.lit(0.0)), 6
        )

    n = F.coalesce(F.col("_n"), F.lit(0))
    m = F.coalesce(F.col("_m"), F.lit(0))
    return (
        docs.select(id_col)
        .join(ta, id_col, "left")
        .join(ca, id_col, "left")
        .select(
            F.col(id_col),
            n.alias("n_tokens"),
            F.coalesce(F.col("_uniq"), F.lit(0)).alias("n_distinct_tokens"),
            ratio(F.coalesce(F.col("_uniq"), F.lit(0)), n)
            .alias("distinct_token_ratio"),
            ratio(n * n - F.coalesce(F.col("_ss"), F.lit(0)), n * n)
            .alias("token_simpson"),
            ratio(F.coalesce(F.col("_mx"), F.lit(0)), n)
            .alias("top_token_share"),
            ratio(m * m - F.coalesce(F.col("_css"), F.lit(0)), m * m)
            .alias("char_simpson"),
        )
    )


def pattern_counts(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Pattern/PII-adjacent counts per document: emails, URLs, long
    digit runs, digit fraction. Pure regexp codegen over the scan —
    zero shuffles; the filter-list shape of a content-safety pass.
    Patterns use the portable class/quantifier subset (Java regex and
    RE2 agree), so the DuckDB oracle matches exactly.
    """
    t = F.col(text_col)
    n_chars = F.length(t)
    digits = F.length(F.regexp_replace(t, r"[^0-9]", ""))
    return docs.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(
            t, F.lit(r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+"), 0)
        ).alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(r"https?://[^\s]+"), 0)).alias("n_urls"),
        F.size(F.regexp_extract_all(t, F.lit(r"[0-9]{6,}"), 0)).alias("n_digit_runs"),
        # when-guard, not coalesce: ANSI mode raises on x/0 before
        # null-handling could apply.
        F.round(F.when(n_chars > 0, digits / n_chars).otherwise(F.lit(0.0)), 6)
        .alias("digit_frac"),
    )


def winnowing_fingerprint_rows(docs: DataFrame, id_col: str = "doc_id",
                               text_col: str = "text", k: int = 8,
                               window: int = 4) -> DataFrame:
    """Distinct (id, fingerprint) ROWS — the relational form of
    :func:`winnowing_fingerprints` (same fingerprint set): explode
    k-gram positions, hash in codegen, take each sliding ``window``
    minimum with a row-frame window function, distinct via aggregation.
    Feeds joins directly — the representation fingerprint-overlap
    pairing wants, with no arrays to cache.
    """
    t = F.col(text_col)
    grams = (
        docs.filter(F.length(t) >= k + window - 1)
        .select(
            F.col(id_col),
            # O(L) windows, hashed per flat row — NOT substring(_i)
            # over a carried full-text column, which is O(L²) per doc
            # AND copies the text onto every exploded row.
            F.posexplode(char_windows(t, k)).alias("_i0", "_g"),
        )
        .select(
            id_col, (F.col("_i0") + 1).alias("_i"),
            hash60(F.col("_g")).alias("_h"),
        )
    )
    w = W.partitionBy(id_col).orderBy("_i").rowsBetween(0, window - 1)
    n_pos_col = F.max("_i").over(W.partitionBy(id_col))
    return (
        grams.withColumn("_min", F.min("_h").over(w))
        .withColumn("_np", n_pos_col)
        .filter(F.col("_i") <= F.col("_np") - (window - 1))
        .select(F.col(id_col), F.col("_min").alias("fp"))
        .distinct()
    )


def winnowing_overlap_pairs(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", k: int = 8,
                            window: int = 4, df_max: int = 20,
                            min_shared: int = 3) -> DataFrame:
    """MOSS-style containment candidates: document pairs sharing at
    least ``min_shared`` winnowing fingerprints, with rare-fingerprint
    blocking (document frequency in [2, df_max]) so ubiquitous
    fingerprints never fan out into quadratic pair lists.

    Scale: fingerprint rows → df-bounded blocking → equi-join on the
    fingerprint → pair aggregation. Same shape as the n-gram Jaccard
    join; every stage hash-partitions on bounded keys.
    """
    # Stage the fingerprint rows once: the df-count and the blocking
    # join both consume them, and the blocked rows feed BOTH pair-join
    # sides — without staging, the per-doc hashing/window-minima
    # pipeline executed four times per query (26 Exchanges in the q60
    # plan at sf0.1).
    fps = winnowing_fingerprint_rows(docs, id_col, text_col, k,
                                     window).localCheckpoint(eager=False)
    dfreq = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("_df"))
    rare = (
        fps.join(dfreq.filter(F.col("_df").between(2, df_max)), "fp")
        .select(id_col, "fp")
        .localCheckpoint(eager=False)
    )
    a = rare.select(F.col(id_col).alias("id_a"), "fp")
    b = rare.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, ["fp"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def chunk_documents(docs: DataFrame, chunk_tokens: int = 64,
                    stride: int = 48, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Split documents into overlapping token windows — the
    sequence-packing prepass that turns raw documents into fixed-budget
    training samples (chunk i covers tokens [i·stride, i·stride +
    chunk_tokens)). ``stride < chunk_tokens`` gives the standard
    sliding-window overlap; the final window is the (possibly short)
    remainder. Empty documents produce no chunks.

    Output: (id, chunk_id, chunk_text, chunk_n_tokens) — one row per
    window, whitespace-rejoined.

    Scale: per-row explode with fan-out ceil(n/stride) — narrow codegen
    (tokenize once per row, slice per window), no shuffle; downstream
    shard packing (q59) applies unchanged to the chunk rows.
    """
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    n_chunks = F.when(
        n <= chunk_tokens, F.when(n > 0, F.lit(1)).otherwise(F.lit(0))
    ).otherwise(
        F.ceil((n - F.lit(chunk_tokens)) / F.lit(float(stride))).cast("int") + 1
    )
    # Guard the empty case explicitly: Spark's sequence(0, -1) yields a
    # DESCENDING [0, -1] (auto step -1), not an empty array — an empty
    # doc would emit two phantom chunks (caught by the property test).
    chunk_ids = F.when(
        n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)
    ).otherwise(F.array().cast("array<int>"))
    return (
        docs.select(
            F.col(id_col), toks.alias("_tk"),
            F.explode(chunk_ids).alias("chunk_id"),
        )
        .select(
            id_col,
            "chunk_id",
            F.array_join(
                F.slice(F.col("_tk"), F.col("chunk_id") * stride + 1, chunk_tokens),
                " ",
            ).alias("chunk_text"),
            F.least(
                F.lit(chunk_tokens),
                F.size("_tk") - F.col("chunk_id") * stride,
            ).alias("chunk_n_tokens"),
        )
    )


def unigram_logprob(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Per-document unigram cross-entropy against the corpus's own
    unigram distribution — the perplexity-proxy quality signal (CCNet,
    Wenzek et al. 2020, uses an external LM; the self-trained unigram
    form needs no model artifact): low = repetitive/common-token text,
    high = rare-token (often noisy) text. Filter both tails.

    Determinism: each vocabulary entry's −ln p(t) is quantized ONCE to
    integer micros, so the per-document sum is an exact integer in any
    engine and any order (the BM25/SRP quantize-then-sum trick);
    the only float op per doc is one final division, rounded.

    Scale: two shuffles (vocab count keyed on token; per-doc aggregate
    keyed on id). The vocab join is an equi-join on token — skew-safe
    for natural language (Zipf head tokens hash-spread by doc), and the
    total-count scalar is a broadcast. Docs with no tokens report 0.
    """
    # Staged once: the vocab count and the scoring join both consume
    # the token explode — unstaged it ran twice (three times counting
    # the old total pass, which now derives from the vocab dictionary:
    # Σc over vocab ≡ the occurrence count, a |vocab|-row aggregate).
    occ = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_t")
    ).localCheckpoint(eager=False)
    # Fresh key name at the groupBy: vocab and the total both derive
    # from occ, so downstream references to "_t" after their crossJoin
    # trip Spark's shared-lineage ambiguity check.
    vocab = occ.groupBy(F.col("_t").alias("_tv")).agg(
        F.count(F.lit(1)).alias("_c")
    ).localCheckpoint(eager=False)
    # Scalar broadcast join-back (1-row build side; plan-audit
    # allowlisted — Catalyst folds any literal-key equi-join back into
    # a true-condition NLJ anyway).
    total = vocab.agg(F.sum("_c").alias("_T"))
    q = vocab.crossJoin(F.broadcast(total)).select(
        "_tv",
        F.floor(-F.log(F.col("_c") / F.col("_T")) * F.lit(1e6) + F.lit(0.5))
        .cast("long").alias("_qlp"),
    )
    agg = (
        occ.join(q, occ["_t"] == q["_tv"])
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_tokens"),
             F.sum("_qlp").alias("sum_neglogp_micro"))
    )
    return docs.select(id_col).join(agg, id_col, "left").select(
        id_col,
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("sum_neglogp_micro", F.lit(0)).alias("sum_neglogp_micro"),
        F.round(
            F.coalesce(
                F.col("sum_neglogp_micro") / F.col("n_tokens") / F.lit(1e6),
                F.lit(0.0),
            ),
            6,
        ).alias("avg_neglogp"),
    )


def bigram_logprob(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Per-document bigram conditional cross-entropy against the
    corpus's own bigram model — the next step up from
    :func:`unigram_logprob` toward the CCNet/KenLM perplexity filter
    (Wenzek et al. 2020) without an external model artifact:
    H = (1/(n−1)) Σ −ln p(wᵢ | wᵢ₋₁), with p(w₂|w₁) =
    c(w₁w₂) / c(w₁·) estimated from the corpus itself (every observed
    bigram has nonzero count, so no smoothing is needed). Low =
    predictable/boilerplate text, high = incoherent token soup —
    filter both tails.

    Returns ``(id_col, n_bigrams, sum_neglogp_micro, avg_neglogp)``;
    docs with < 2 tokens report 0 (left-join contract).

    Determinism: each distinct bigram's −ln p is quantized ONCE to
    integer micros so per-doc sums are exact integers in any engine
    and order (the quantize-then-sum rule of plans/registry.py).

    Scale: the model is two partial-aggregatable counts (bigram,
    prefix — the prefix count derives from the bigram counts, not a
    second pass over occurrences); scoring is one equi-join on the
    bigram key (Zipf-head bigrams hash-spread by doc) plus one per-doc
    aggregate. The only per-doc ordering is the window building the
    bigram rows.
    """
    tok = docs.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("_pos", "_t")
    )
    w = W.partitionBy(id_col).orderBy("_pos")
    # Staged once: the model count and the scoring join both consume
    # the bigram rows — unstaged, the explode + lead-window pipeline
    # ran twice; bc staged too (|bigram vocab| rows) so its aggregate
    # runs once for the prefix rollup and the model join.
    big = tok.select(
        F.col(id_col),
        F.col("_t").alias("_w1"),
        F.lead("_t", 1).over(w).alias("_w2"),
    ).filter(F.col("_w2").isNotNull()).localCheckpoint(eager=False)
    bc = big.groupBy(
        F.col("_w1").alias("_v1"), F.col("_w2").alias("_v2")
    ).agg(F.count(F.lit(1)).alias("_cb")).localCheckpoint(eager=False)
    pc = bc.groupBy("_v1").agg(F.sum("_cb").alias("_cp"))
    q = bc.join(pc, "_v1").select(
        "_v1", "_v2",
        F.floor(-F.log(F.col("_cb") / F.col("_cp")) * F.lit(1e6) + F.lit(0.5))
        .cast("long").alias("_qlp"),
    )
    agg = (
        big.join(q, (big["_w1"] == q["_v1"]) & (big["_w2"] == q["_v2"]))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_bigrams"),
             F.sum("_qlp").alias("sum_neglogp_micro"))
    )
    zero = F.lit(0).cast("long")
    return docs.select(id_col).join(agg, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_bigrams", zero).alias("n_bigrams"),
        F.coalesce("sum_neglogp_micro", zero).alias("sum_neglogp_micro"),
        F.round(
            F.coalesce(
                F.col("sum_neglogp_micro") / F.col("n_bigrams") / F.lit(1e6),
                F.lit(0.0),
            ),
            6,
        ).alias("avg_neglogp"),
    )


def nb_class_scores(docs: DataFrame, label_col: str = "lang",
                    positive: str = "en", id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Seed-classifier document scoring (M95): train a multinomial
    Naive-Bayes token model on the corpus's own labels and score every
    document by its positive-class log-odds — the quality-filter recipe
    of GPT-3's WebText classifier and CCNet's seed-vs-crawl split
    (Brown et al. 2020 App. A; Wenzek et al. 2020), self-trained so no
    model artifact ships. Here the seed label is any column (default:
    ``lang == positive``); the caller substitutes a curated-source flag
    for the classic wiki-vs-crawl setup.

    score(d) = ln((N⁺+1)/(N⁻+1)) + Σ_t∈d [ln p(t|+) − ln p(t|−)],
    with add-one (Laplace) smoothed p(t|c) = (c_c(t)+1)/(T_c+V).

    Determinism: each vocabulary entry's log-odds weight is quantized
    ONCE to integer micros (the quantize-then-sum rule), so per-doc
    sums are exact integers in any engine/order; the prior is one more
    pre-quantized constant. Returns (id, n_tokens, score_micro,
    predicted) with the left-join contract: token-less docs score the
    prior alone.

    Scale: ONE token-count shuffle builds both class counts (sum of an
    indicator — not a per-class pass), the smoothing scalars (T⁺, T⁻,
    V, N⁺, N⁻) are a 1-row broadcast, and scoring is one equi-join on
    the token key (Zipf-head tokens hash-spread across docs) plus one
    per-doc aggregate. No Python anywhere.
    """
    is_pos = (F.col(label_col) == F.lit(positive)).cast("long")
    # Staged once: the class counts and the scoring join both consume
    # the token explode — unstaged it ran twice; counts staged too
    # (|vocab| rows) so the smoothing scalars and the weight table
    # share one aggregation.
    occ = docs.select(
        F.col(id_col), is_pos.alias("_y"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("_t"),
    ).localCheckpoint(eager=False)
    counts = occ.groupBy(F.col("_t").alias("_tv")).agg(
        F.sum("_y").alias("_cp"),
        F.sum(F.lit(1) - F.col("_y")).alias("_cn"),
    ).localCheckpoint(eager=False)
    stats = counts.agg(
        F.sum("_cp").alias("_Tp"), F.sum("_cn").alias("_Tn"),
        F.count(F.lit(1)).alias("_V"),
    )
    prior = docs.agg(
        F.sum(is_pos).alias("_Np"),
        F.sum(F.lit(1) - is_pos).alias("_Nn"),
    )
    # Scalar broadcast join-backs (1-row build sides; plan-audit
    # allowlisted like unigram_logprob's total).
    w = counts.crossJoin(F.broadcast(stats)).select(
        "_tv",
        F.floor(
            (F.log((F.col("_cp") + 1) / (F.col("_Tp") + F.col("_V")))
             - F.log((F.col("_cn") + 1) / (F.col("_Tn") + F.col("_V"))))
            * F.lit(1e6) + F.lit(0.5)
        ).cast("long").alias("_w_micro"),
    )
    agg = (
        occ.join(w, occ["_t"] == w["_tv"])
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_tokens"),
             F.sum("_w_micro").alias("_sum_w"))
    )
    zero = F.lit(0).cast("long")
    scored = (
        docs.select(id_col).join(agg, id_col, "left")
        .crossJoin(F.broadcast(prior.select(
            F.floor(
                (F.log(F.col("_Np") + 1) - F.log(F.col("_Nn") + 1))
                * F.lit(1e6) + F.lit(0.5)
            ).cast("long").alias("_prior_micro"),
        )))
    )
    return scored.select(
        F.col(id_col),
        F.coalesce("n_tokens", zero).alias("n_tokens"),
        (F.col("_prior_micro") + F.coalesce("_sum_w", zero))
        .cast("long").alias("score_micro"),
        F.when(
            F.col("_prior_micro") + F.coalesce("_sum_w", zero) >= 0,
            F.lit(1),
        ).otherwise(F.lit(0)).cast("int").alias("predicted"),
    )


def js_divergence_matrix(docs: DataFrame, group_col: str = "source",
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Pairwise Jensen-Shannon divergence between per-group unigram
    distributions (M96) — "how differently do two feeds talk", the
    distributional complement of M91's sketch overlap (which measures
    shared *content*, not shared *language*). JSD(a,b) ∈ [0, ln 2];
    feed the matrix to mixing decisions (near-identical sources are
    redundant; a high-JSD source adds diversity).

    Only tokens present in BOTH sides need pair rows: a token seen
    only in `a` contributes p_a·ln2/2, and Σ of those p_a is
    1 − (common mass), recoverable from integer count sums — so the
    whole "outer" part of the per-pair full-outer join collapses into
    one closed-form tail term. Per common token the contribution
    ½·[p_a ln(2p_a/(p_a+p_b)) + p_b ln(2p_b/(p_a+p_b))] ≥ 0 (log-sum
    inequality) is quantized ONCE to integer nanos; the per-pair sum
    is then exact in any order, and the tail term is one float op on
    exact integer count sums. Empty-overlap pairs report the maximum
    ln 2 (kept via the tiny pair cross join).

    Scale: one (group, token) count shuffle; the pair build is a
    self-equi-join on the token key (each token contributes ≤|G|²/2
    rows — |G| = #groups, small); the rollup output is ≤|G|²/2 rows.
    Group totals are a |G|-row broadcast. No Python anywhere.
    """
    occ = docs.select(
        F.col(group_col).alias("_g"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("_t"),
    )
    # freq staged once: the group totals and BOTH self-join sides
    # consume the (group, token) counts — unstaged, the token explode
    # + aggregate ran three times.
    freq = occ.groupBy("_g", "_t").agg(F.count(F.lit(1)).alias("_c")) \
        .localCheckpoint(eager=False)
    totals = freq.groupBy("_g").agg(F.sum("_c").alias("_tot"))
    # Attach each side's group total BEFORE the self-join (a |G|-row
    # broadcast), then rename every column — the two sides share freq's
    # lineage, so post-join references to un-renamed totals columns trip
    # Spark's ambiguity check.
    ft = freq.join(F.broadcast(totals), "_g")
    a = ft.select(F.col("_g").alias("_ga"), F.col("_t").alias("_ta"),
                  F.col("_c").alias("_ca"), F.col("_tot").alias("_tca"))
    b = ft.select(F.col("_g").alias("_gb"), F.col("_t").alias("_tb"),
                  F.col("_c").alias("_cb"), F.col("_tot").alias("_tcb"))
    pa = F.col("_ca") / F.col("_tca")
    pb = F.col("_cb") / F.col("_tcb")
    term = (
        pa * F.log(F.lit(2) * pa / (pa + pb))
        + pb * F.log(F.lit(2) * pb / (pa + pb))
    ) / F.lit(2)
    common = (
        a.join(b, (F.col("_ta") == F.col("_tb"))
               & (F.col("_ga") < F.col("_gb")))
        .select(
            "_ga", "_gb", "_ca", "_cb", "_tca", "_tcb",
            F.floor(term * F.lit(1e9) + F.lit(0.5))
            .cast("long").alias("_t_nano"),
        )
        .groupBy("_ga", "_gb")
        .agg(
            F.count(F.lit(1)).alias("n_common_tokens"),
            F.sum("_t_nano").alias("_sum_nano"),
            F.sum("_ca").alias("_ca_sum"), F.sum("_cb").alias("_cb_sum"),
            F.first("_tca").alias("_tca"), F.first("_tcb").alias("_tcb"),
        )
    )
    # Pair frame from the DISTINCT group column of `docs`, not from
    # `totals`: a group whose documents contain zero tokens never
    # reaches `totals` (no (group, token) rows), but the docstring's
    # "every unordered pair" contract still owes it rows — it has no
    # common tokens with anyone, so its pairs take the empty-overlap
    # ln 2 maximum through the left-join default below (ADVICE r5).
    groups = docs.select(F.col(group_col).alias("_g")).distinct()
    g1 = groups.select(F.col("_g").alias("_ga"))
    g2 = groups.select(F.col("_g").alias("_gb"))
    pairs = g1.crossJoin(g2).filter(F.col("_ga") < F.col("_gb"))
    ln2_half = F.lit(0.34657359027997264)  # ln(2)/2
    tail = ln2_half * (
        (F.lit(1) - F.col("_ca_sum") / F.col("_tca"))
        + (F.lit(1) - F.col("_cb_sum") / F.col("_tcb"))
    )
    joined = pairs.join(common, ["_ga", "_gb"], "left")
    return joined.select(
        F.col("_ga").alias("group_a"), F.col("_gb").alias("group_b"),
        F.coalesce("n_common_tokens", F.lit(0).cast("long"))
        .alias("n_common_tokens"),
        F.when(
            F.col("_sum_nano").isNotNull(),
            F.col("_sum_nano")
            + F.floor(tail * F.lit(1e9) + F.lit(0.5)).cast("long"),
        ).otherwise(F.lit(693147181).cast("long"))  # floor(ln2·1e9+.5)
        .cast("long").alias("jsd_nano"),
    )


def cdc_chunks(docs: DataFrame, k: int = 8, modulus: int = 16,
               id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Content-defined chunking (the rolling-hash cut rule of
    LBFS/rsync lineage, Muthitacharoen et al. 2001 — public method):
    cut after every position whose k-char window hash ≡ 0 (mod
    ``modulus``), yielding variable-size chunks with expected length
    ``modulus`` chars whose boundaries are STABLE under insertions —
    an edit reshuffles only the chunks it touches, unlike fixed tiling
    where one inserted char shifts every downstream boundary. The
    chunk-level dedup granularity storage/dedup systems use; pairs
    with :func:`~..operators.dedup.dedup_segments`'s first-occurrence
    logic for shift-robust segment dedup.

    Returns ``(id_col, seg_idx, chunk, chunk_len)``; chunks
    concatenate back to the exact original text. Documents shorter
    than ``k`` form a single chunk; empty documents yield no rows.

    Shape: ONE narrow projection per document — the window hashes, cut
    positions, and chunk splits are all array ops over the O(L) char
    windows (dedup.char_windows; no dynamic-start substring, which is
    O(L²) on UTF-8) — followed by one explode. No shuffle at all.
    """
    t = F.col(text_col)
    chars = F.split(t, "")
    ws = char_windows(t, k)
    cuts = F.filter(
        F.transform(
            ws,
            lambda g, i: F.when(
                hash60(g) % modulus == 0, i + k
            ).otherwise(F.lit(-1)),
        ),
        lambda x: x != -1,
    )
    bounds = F.array_distinct(
        F.concat(F.array(F.lit(0)), cuts, F.array(F.length(t)))
    )
    nb = F.size(bounds)
    chunks = F.zip_with(
        F.slice(bounds, 1, nb - 1),
        F.slice(bounds, 2, nb - 1),
        lambda s, e: F.array_join(F.slice(chars, s + 1, e - s), ""),
    )
    return (
        docs.filter(F.length(t) > 0)
        .select(F.col(id_col), F.posexplode(chunks).alias("seg_idx", "chunk"))
        .select(
            id_col, "seg_idx", "chunk",
            F.length("chunk").alias("chunk_len"),
        )
    )


def distinctive_terms(docs: DataFrame, group_col: str,
                      id_col: str = "doc_id", text_col: str = "text",
                      top_k: int = 5, min_token_len: int = 1) -> DataFrame:
    """Top-``top_k`` distinguishing tokens per group (e.g. per source
    or language) by tf·idf — the corpus-exploration signal behind
    "what is IN this slice" dashboards and mixture debugging.

    Score = (token occurrences within the group) × idf, where idf =
    ln(N_docs / doc-frequency) quantized ONCE to integer micros — the
    M37/M31 quantize-then-multiply trick, so scores are exact integers,
    the per-group ranking is engine-reproducible, and ties break on the
    token string (unique key, the registry top-k rule).

    Scale: one explode → two partial-agg shuffles (tf keyed on
    (group, token), df keyed on token) + a 1-row scalar broadcast; the
    ranking window partitions by group over ≤ |vocab| rows, never by
    document. Zipf-head tokens are spread across reducers by the
    (group, token) composite key.
    """
    # Staged once: the tf and df aggregates both consume the token
    # explode — unstaged it ran twice.
    occ = docs.select(
        F.col(group_col).alias("_g"), F.col(id_col).alias("_id"),
        F.explode(tokens(F.col(text_col))).alias("_t"),
    ).filter(F.length("_t") >= min_token_len).localCheckpoint(eager=False)
    tf = occ.groupBy("_g", "_t").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        occ.select("_id", "_t").distinct()
        .groupBy("_t").agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = docs.agg(F.count_distinct(F.col(id_col)).alias("_N"))
    idf = dfreq.crossJoin(F.broadcast(n_docs)).select(
        "_t", "df",
        F.floor(F.log(F.col("_N") / F.col("df")) * F.lit(1e6) + F.lit(0.5))
        .cast("long").alias("_idf_micro"),
    )
    scored = tf.join(idf, "_t").select(
        F.col("_g").alias(group_col), F.col("_t").alias("token"),
        "tf", "df",
        (F.col("tf") * F.col("_idf_micro")).alias("score_micro"),
    )
    w = W.partitionBy(group_col).orderBy(
        F.col("score_micro").desc(), F.col("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
    )


def novelty_signals(docs: DataFrame, n: int = 8, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Corpus-novelty score (M84): the fraction of a document's
    distinct word ``n``-grams that occur in NO other document —
    boilerplate/template detection from the opposite direction of the
    dedup family (near-dups score ~0; genuinely novel prose scores
    ~10⁶). Low novelty + no near-dup match = shared template text, the
    class that survives pair-based dedup and still bloats training
    loss.

    ``novelty_micro`` = floor(10⁶ · unique-grams / total-grams), exact
    integers; docs with fewer than ``n`` tokens report 0 grams and
    novelty 0 (no evidence ≠ novel). Distinct grams per doc (not
    occurrences) so within-doc repetition doesn't inflate df.

    Scale: flat (id, gram) rows → one partial-agg df count keyed on
    gram → join back → per-doc aggregate. Same two-shuffle shape as
    the M37 vocabulary join; Zipf-head grams spread by (gram) hash.
    """
    from .decontamination import word_ngrams

    # Staged once (lazy checkpoint): the df count and the join-back
    # both consume the gram rows — unstaged, the explode ran twice.
    grams = docs.select(
        F.col(id_col), F.explode(word_ngrams(F.col(text_col), n)).alias("_g")
    ).localCheckpoint(eager=False)
    df_counts = grams.groupBy("_g").agg(F.count(F.lit(1)).alias("_df"))
    per_doc = (
        grams.join(df_counts, "_g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("_df") == 1).cast("long")).alias("n_unique"),
        )
    )
    return docs.select(id_col).join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("n_unique", F.lit(0)).alias("n_unique"),
        F.when(F.coalesce("n_grams", F.lit(0)) > 0,
               F.floor(F.col("n_unique") * F.lit(1_000_000)
                       / F.col("n_grams")))
        .otherwise(F.lit(0)).cast("long").alias("novelty_micro"),
    )


def vocab_coverage(docs: DataFrame, vocab_size: int = 1000,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Vocabulary coverage / OOV-rate analysis (M94): build the
    corpus's own top-``vocab_size`` token vocabulary (the fixed-vocab
    proxy every tokenizer-coverage audit uses) and report, per
    document, how much of its text that vocabulary covers — the
    standard pre-tokenizer health check: a corpus slice with high OOV
    against the pretraining vocab will fragment into bytes/unknowns
    and train poorly.

    Vocabulary selection is deterministic: tokens ranked by (corpus
    frequency DESC, token ASC) — the unique-key tiebreak convention —
    and cut at ``vocab_size``. Output per document: ``n_tokens``,
    ``n_oov`` (occurrences outside the vocabulary), ``oov_micro``
    (= floor(n_oov·10⁶ / n_tokens), 0 for empty documents).

    Scale: one token explode feeds a partial-aggregated corpus
    frequency; the top-V cut is orderBy+limit — Spark plans it as
    TakeOrderedAndProject (per-partition top-V then a V-sized merge,
    never a global sort shuffle); the per-doc pass left-joins the
    BROADCAST vocabulary and re-aggregates on the doc id. Tokens are
    lowercased so vocabulary identity matches the dedup/content
    conventions.
    """
    if vocab_size <= 0:
        raise ValueError("vocab_size must be positive")
    # Staged once: the vocabulary count and the per-doc coverage join
    # both consume the token explode — unstaged it ran twice.
    tok_rows = docs.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("_tok"),
    ).localCheckpoint(eager=False)
    vocab = (
        tok_rows.groupBy("_tok").agg(F.count(F.lit(1)).alias("_c"))
        .orderBy(F.col("_c").desc(), F.col("_tok"))
        .limit(vocab_size)
        .select("_tok", F.lit(1).alias("_in_vocab"))
    )
    per_doc = (
        tok_rows.join(F.broadcast(vocab), "_tok", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0))
            .alias("n_oov"),
        )
    )
    n = F.coalesce(F.col("n_tokens"), F.lit(0))
    oov = F.coalesce(F.col("n_oov"), F.lit(0))
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            n.alias("n_tokens"),
            oov.alias("n_oov"),
            F.when(n > 0, F.floor(oov * F.lit(1_000_000) / n))
            .otherwise(F.lit(0)).cast("long").alias("oov_micro"),
        )
    )


def dsir_importance_weights(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text",
                            target_col: str = "lang",
                            target_value: str = "en",
                            n_buckets: int = 1024) -> DataFrame:
    """Hashed n-gram importance log-weights (M98) — the DSIR recipe
    (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling"): fit two bag-of-hashed-ngrams unigram
    models, target p (rows where ``target_col == target_value``, the
    curated-corpus stand-in) and raw q (the rest), and weight every
    document by ln w(d) = Σ_g [ln p(b(g)) − ln q(b(g))] over its gram
    occurrences g, b = hash-bucket. Feed the weights to the A-Res
    sampler (operators/sampling.py:weighted_sample) to complete the
    importance-resampling loop.

    Features are unigrams + bigrams of lowercased whitespace tokens,
    hashed into ``n_buckets`` buckets with the portable 60-bit md5
    prefix (dedup.hash60) — the fixed bucket domain makes Laplace
    smoothing over exactly ``n_buckets`` cells well-defined in both
    engines: p(b) = (c_p(b)+1)/(T_p+m).

    Determinism: each bucket's log-ratio is quantized ONCE to integer
    micros (the quantize-then-sum rule), so per-doc sums are exact
    integers in any engine and partition order. Returns
    ``(id_col, n_grams, logw_micro)``; gram-less docs report 0/0 via
    the left-join contract.

    Scale: ONE gram-occurrence shuffle builds both class counts (sum
    of an indicator, the nb_class_scores shape); the model is a
    ≤ ``n_buckets``-row frame whose smoothing totals are a 1-row
    broadcast; scoring is one equi-join on the *bucket* key — at most
    ``n_buckets`` distinct values, hash-spread across docs, so the
    join never concentrates (contrast a raw-token key's Zipf head).
    Bigrams are array HOFs (zip_with of two slices) — no per-doc
    window shuffle. No Python anywhere.
    """
    t = tokens(F.lower(F.col(text_col)))
    is_tgt = (F.col(target_col) == F.lit(target_value)).cast("long")
    base = docs.select(
        F.col(id_col), is_tgt.alias("_y"), t.alias("_tk"),
    )
    n = F.size("_tk")
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice("_tk", 1, n - 1),
            F.slice("_tk", 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    occ = base.select(
        F.col(id_col), F.col("_y"),
        F.explode(F.concat(F.col("_tk"), bigrams)).alias("_g"),
    ).select(
        id_col, "_y",
        F.pmod(hash60(F.col("_g")), F.lit(n_buckets)).alias("_b"),
    ).localCheckpoint(eager=False)
    # Staged once (narrow: three longs per gram occurrence): the model
    # counts AND the scoring join both consume the gram explode —
    # unstaged, the tokenize + bigram-zip + md5 pipeline ran twice.
    counts = occ.groupBy("_b").agg(
        F.sum("_y").alias("_cp"),
        F.sum(F.lit(1) - F.col("_y")).alias("_cn"),
    )
    stats = counts.agg(F.sum("_cp").alias("_Tp"), F.sum("_cn").alias("_Tn"))
    m = F.lit(float(n_buckets))
    w = counts.crossJoin(F.broadcast(stats)).select(
        "_b",
        F.floor(
            (F.log((F.col("_cp") + 1) / (F.col("_Tp") + m))
             - F.log((F.col("_cn") + 1) / (F.col("_Tn") + m)))
            * F.lit(1e6) + F.lit(0.5)
        ).cast("long").alias("_lr_micro"),
    )
    agg = occ.join(w, "_b").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum("_lr_micro").alias("_s"),
    )
    zero = F.lit(0).cast("long")
    return docs.select(id_col).join(agg, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_grams", zero).alias("n_grams"),
        F.coalesce("_s", zero).alias("logw_micro"),
    )


def fertility_stats(docs: DataFrame, group_col: str = "lang",
                    text_col: str = "text") -> DataFrame:
    """Tokenizer fertility audit per group (M100): fertility =
    subword tokens per whitespace word — THE tokenizer-health number
    for multilingual corpora (a tokenizer trained English-heavy
    fragments other scripts into many more pieces; see e.g. Rust et
    al. 2021, "How Good is Your Tokenizer?"). High-fertility groups
    cost proportionally more sequence length per word of content —
    this table is the budget input for per-language context planning.

    Uses the repo's BPE-ish regex token stream (token_counts) as the
    subword proxy and whitespace tokens as words. All ratios are
    exact integer micros computed from exact per-group integer sums
    (floor((Σtokens)·1e6 / Σwords) — quantize the *ratio of totals*,
    not per-doc ratios, so group size never biases the estimate).

    Output: (group, n_docs, n_words, n_tokens, n_chars,
    fertility_micro, chars_per_token_micro); zero-word or zero-token
    groups report 0 ratios.

    Scale: one narrow projection + one partial-aggregatable groupBy
    on ``group_col`` — a |groups|-row result. No Python, no windows.
    """
    t = F.col(text_col)
    per = docs.select(
        F.col(group_col),
        F.size(tokens(t)).alias("_w"),
        F.size(
            F.regexp_extract_all(t, F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
        ).alias("_t"),
        F.length(t).alias("_c"),
    )
    g = per.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_w").alias("n_words"),
        F.sum("_t").alias("n_tokens"),
        F.sum("_c").alias("n_chars"),
    )
    return g.select(
        F.col(group_col),
        "n_docs", "n_words", "n_tokens", "n_chars",
        F.when(F.col("n_words") > 0,
               F.floor(F.col("n_tokens") * F.lit(1_000_000)
                       / F.col("n_words")))
        .otherwise(F.lit(0)).cast("long").alias("fertility_micro"),
        F.when(F.col("n_tokens") > 0,
               F.floor(F.col("n_chars") * F.lit(1_000_000)
                       / F.col("n_tokens")))
        .otherwise(F.lit(0)).cast("long").alias("chars_per_token_micro"),
    )


def backoff_logprob(docs: DataFrame, model_filter: Column,
                    alpha: float = 0.4, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Stupid-backoff cross-corpus scoring (M102; Brants et al. 2007,
    "Large Language Models in Machine Translation"): train a bigram
    model on the rows where ``model_filter`` holds (the curated/target
    slice — CCNet's wiki-vs-crawl shape) and score EVERY document by
    its mean negative log score under

        S(w₂|w₁) = c(w₁w₂)/c(w₁·)        if the model saw the bigram,
                   α · c(w₂)/N            elif it saw the unigram,
                   α · 1/N                else (OOV floor, count 1).

    Unlike :func:`bigram_logprob` (self-trained, every scored bigram
    is in the model) the model here is a different corpus slice, so
    backoff genuinely fires; the three hit counters it returns
    (``n_hits/n_backoffs/n_oov``) are the model-coverage audit.

    Determinism: each model entry's −ln S is quantized ONCE to integer
    micros; the OOV floor is one more pre-quantized scalar; per-doc
    sums are exact integers in any engine/order.

    Scale: model = two partial-aggregatable counts over the filtered
    slice (prefix counts derive from bigram counts, no second pass);
    scoring = one equi-join on the bigram key + one left equi-join on
    the unigram key + one per-doc aggregate. Docs with < 2 tokens
    report 0 (left-join contract).
    """
    tok = docs.select(
        F.col(id_col), model_filter.cast("long").alias("_m"),
        F.posexplode(tokens(F.lower(F.col(text_col)))).alias("_pos", "_t"),
    ).localCheckpoint(eager=False)
    # Staged once: the bigram window below AND the model unigram count
    # both consume the token explode — unstaged it ran twice.
    w = W.partitionBy(id_col).orderBy("_pos")
    big = tok.select(
        F.col(id_col), F.col("_m"),
        F.col("_t").alias("_w1"),
        F.lead("_t", 1).over(w).alias("_w2"),
    ).filter(F.col("_w2").isNotNull()).localCheckpoint(eager=False)
    # Model counts come from the SAME bigram rows (filter, don't
    # re-tokenize); N (model token count) = model bigrams + 1 per
    # model doc is wrong — count unigrams directly from tok instead.
    mbig = big.filter(F.col("_m") == 1)
    bc = mbig.groupBy(
        F.col("_w1").alias("_v1"), F.col("_w2").alias("_v2")
    ).agg(F.count(F.lit(1)).alias("_cb"))
    pc = bc.groupBy("_v1").agg(F.sum("_cb").alias("_cp"))
    uni = (
        tok.filter(F.col("_m") == 1)
        .groupBy(F.col("_t").alias("_vu"))
        .agg(F.count(F.lit(1)).alias("_cu"))
        .localCheckpoint(eager=False)
    )
    # N derives from the unigram dictionary (Σc_u) — no third pass
    # over the token rows.
    n_model = uni.agg(F.sum("_cu").alias("_N"))
    micro = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("long")
    qb = bc.join(pc, "_v1").select(
        "_v1", "_v2",
        micro(-F.log(F.col("_cb") / F.col("_cp"))).alias("_qb"),
    )
    qu = uni.crossJoin(F.broadcast(n_model)).select(
        "_vu",
        micro(-F.log(F.lit(alpha) * F.col("_cu") / F.col("_N")))
        .alias("_qu"),
    )
    floor_q = n_model.select(
        micro(-F.log(F.lit(alpha) / F.col("_N"))).alias("_qf")
    )
    scored = (
        big.join(qb, (big["_w1"] == qb["_v1"]) & (big["_w2"] == qb["_v2"]),
                 "left")
        .join(qu, big["_w2"] == qu["_vu"], "left")
        .crossJoin(F.broadcast(floor_q))
        .select(
            F.col(id_col),
            F.coalesce("_qb", "_qu", "_qf").alias("_q"),
            F.when(F.col("_qb").isNotNull(), F.lit(1)).otherwise(F.lit(0))
            .alias("_hit"),
            F.when(F.col("_qb").isNull() & F.col("_qu").isNotNull(),
                   F.lit(1)).otherwise(F.lit(0)).alias("_back"),
            F.when(F.col("_qb").isNull() & F.col("_qu").isNull(),
                   F.lit(1)).otherwise(F.lit(0)).alias("_oov"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("_hit").alias("n_hits"),
        F.sum("_back").alias("n_backoffs"),
        F.sum("_oov").alias("n_oov"),
        F.sum("_q").alias("sum_neglogs_micro"),
    )
    zero = F.lit(0).cast("long")
    return docs.select(id_col).join(agg, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_bigrams", zero).alias("n_bigrams"),
        F.coalesce("n_hits", zero).alias("n_hits"),
        F.coalesce("n_backoffs", zero).alias("n_backoffs"),
        F.coalesce("n_oov", zero).alias("n_oov"),
        F.coalesce("sum_neglogs_micro", zero).alias("sum_neglogs_micro"),
        F.when(
            F.col("n_bigrams") > 0,
            F.floor(F.col("sum_neglogs_micro") / F.col("n_bigrams")),
        ).otherwise(zero).cast("long").alias("avg_neglogs_micro"),
    )


def pmi_collocations(docs: DataFrame, min_count: int = 5, k: int = 100,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information
    (M103; Church & Hanks 1990): PMI(w₁,w₂) = ln(p(w₁w₂)/(p(w₁)p(w₂)))
    with p(w₁w₂) = c₁₂/N_big and p(w) = c_w/N_tok — the corpus-level
    phrase/boilerplate discovery audit ("which token pairs travel
    together far above chance").

    ``min_count`` drops the unstable rare-pair tail (PMI's classic
    low-frequency bias). Output: ``(w1, w2, n_pair, pmi_nano)`` with
    PMI quantized to integer nanos and the deterministic order
    (pmi_nano desc, w1, w2) — ties break on the words.

    Determinism: the ratio is evaluated as the SAME IEEE expression
    tree in both dialects — (c₁₂/N_big) / ((c₁/N_tok)·(c₂/N_tok)) —
    then ln, then one quantization; no integer product that could
    overflow at corpus scale.

    Scale: bigram and unigram counts are partial-aggregatable; the
    scalar totals broadcast; the two dictionary joins are equi-joins
    on a token key; top-k is TakeOrderedAndProject (never a global
    sort).
    """
    # Staged once: the unigram dictionary and the bigram window both
    # consume the token explode — unstaged it ran twice (and the
    # scalar totals, previously two MORE full passes, now derive from
    # the dictionaries: N_tok = Σc_u, N_big = Σc_b before min_count —
    # dictionary-sized aggregates instead of corpus passes).
    tok = docs.select(
        F.col(id_col),
        F.posexplode(tokens(F.lower(F.col(text_col)))).alias("_pos", "_t"),
    ).localCheckpoint(eager=False)
    w = W.partitionBy(id_col).orderBy("_pos")
    big = tok.select(
        F.col(id_col),
        F.col("_t").alias("_w1"),
        F.lead("_t", 1).over(w).alias("_w2"),
    ).filter(F.col("_w2").isNotNull())
    bc = big.groupBy("_w1", "_w2").agg(
        F.count(F.lit(1)).alias("_cb")).localCheckpoint(eager=False)
    uc = tok.groupBy(F.col("_t").alias("_v")).agg(
        F.count(F.lit(1)).alias("_cu")
    ).localCheckpoint(eager=False)
    totals = bc.agg(F.sum("_cb").alias("_NB")).crossJoin(
        uc.agg(F.sum("_cu").alias("_NT"))
    )
    u1 = uc.select(F.col("_v").alias("_u1"), F.col("_cu").alias("_c1"))
    u2 = uc.select(F.col("_v").alias("_u2"), F.col("_cu").alias("_c2"))
    scored = (
        bc.filter(F.col("_cb") >= min_count)
        .join(u1, F.col("_w1") == F.col("_u1"))
        .join(u2, F.col("_w2") == F.col("_u2"))
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("_w1").alias("w1"), F.col("_w2").alias("w2"),
            F.col("_cb").alias("n_pair"),
            F.floor(
                F.log(
                    (F.col("_cb") / F.col("_NB"))
                    / ((F.col("_c1") / F.col("_NT"))
                       * (F.col("_c2") / F.col("_NT")))
                ) * F.lit(1e9) + F.lit(0.5)
            ).cast("long").alias("pmi_nano"),
        )
    )
    return scored.orderBy(
        F.col("pmi_nano").desc(), F.col("w1"), F.col("w2")
    ).limit(k)


def lexical_richness(docs: DataFrame, group_col: str = "source",
                     text_col: str = "text") -> DataFrame:
    """Per-group lexical-richness audit (M104): vocabulary size,
    type-token ratio, and hapax-legomena fraction (Baayen 2001, the
    classic LNRE vocabulary-growth statistics) — the "is this feed
    degenerate or diverse" corpus-health signal a mixing plan reads
    next to M96's JSD matrix.

    Returns ``(group, n_tokens, vocab_size, n_hapax, ttr_micro,
    hapax_frac_micro)`` where hapax counts tokens occurring EXACTLY
    once within the group, and both ratios are integer micros of
    exact counts.

    Scale: one (group, token) count shuffle (partial-aggregatable),
    then a |groups|-row rollup. No windows, no Python.
    """
    tc = docs.select(
        F.col(group_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("_t"),
    ).groupBy(group_col, "_t").agg(F.count(F.lit(1)).alias("_c"))
    g = tc.groupBy(group_col).agg(
        F.sum("_c").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum(F.when(F.col("_c") == 1, 1).otherwise(0)).alias("n_hapax"),
    )
    return g.select(
        F.col(group_col),
        "n_tokens", "vocab_size", "n_hapax",
        F.when(F.col("n_tokens") > 0,
               F.floor(F.col("vocab_size") * F.lit(1_000_000)
                       / F.col("n_tokens")))
        .otherwise(F.lit(0)).cast("long").alias("ttr_micro"),
        F.when(F.col("vocab_size") > 0,
               F.floor(F.col("n_hapax") * F.lit(1_000_000)
                       / F.col("vocab_size")))
        .otherwise(F.lit(0)).cast("long").alias("hapax_frac_micro"),
    )


def classifier_calibration(docs: DataFrame, label_col: str = "lang",
                           positive: str = "en", n_bins: int = 10,
                           n_bands: int = 64, id_col: str = "doc_id",
                           text_col: str = "text",
                           scored: DataFrame | None = None) -> DataFrame:
    """Score-decile calibration audit for the M95 seed classifier
    (M105): bin every document into ``n_bins`` equal-population score
    bins and report the ACTUAL positive-label rate per bin — the
    reliability-diagram table (Niculescu-Mizil & Caruana 2005) that
    tells a pipeline whether "NB score > cut" is a trustworthy quality
    gate before it prunes at 100 TB.

    Binning is by exact global rank via ``ordering.banded_global_rank``
    (the striped_pack two-phase shape — no global sort; the only
    single-partition window touches ``n_bands`` rows). bin =
    floor(rank · n_bins / N) on the 0-based rank.

    Returns ``(bin, n_docs, n_pos, pos_rate_micro, min_score_micro,
    max_score_micro)``.
    """
    from .ordering import banded_global_rank

    if scored is None:  # else: caller passes a staged (id, score) frame
        scored = nb_class_scores(
            docs, label_col=label_col, positive=positive,
            id_col=id_col, text_col=text_col,
        )
    scored = scored.select(id_col, "score_micro")
    lab = docs.select(
        F.col(id_col),
        (F.col(label_col) == F.lit(positive)).cast("long").alias("_y"),
    )
    # One lazy localCheckpoint: the scored frame feeds four branches
    # (bounds, banding, per-band counts, final rollup) — without it the
    # whole NB scoring pipeline re-executes per branch (73-exchange
    # plan measured vs 8 staged).
    s = scored.join(lab, id_col).localCheckpoint(eager=False)
    n_total = s.agg(F.count(F.lit(1)).alias("_N"))
    with_bin = (
        banded_global_rank(s, "score_micro", id_col, n_bands=n_bands,
                           out_col="_rank")
        .crossJoin(F.broadcast(n_total))
        .withColumn(
            "bin",
            F.floor(F.col("_rank") * F.lit(n_bins) / F.col("_N"))
            .cast("int"),
        )
    )
    return with_bin.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_y").alias("n_pos"),
        F.floor(F.sum("_y") * F.lit(1_000_000) / F.count(F.lit(1)))
        .cast("long").alias("pos_rate_micro"),
        F.min("score_micro").alias("min_score_micro"),
        F.max("score_micro").alias("max_score_micro"),
    )


def nfc_normalize_docs(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Unicode NFC normalization (M121): canonical composition (UAX
    #15) so that visually-identical strings hash identically — the
    step every dedup/fingerprint pass above assumes has already
    happened (a decomposed ``e + U+0301`` and a precomposed ``é``
    are different shingles, different minhashes, different exact-dup
    hashes). Spark has no builtin normalizer, so this is the
    legitimate Arrow-batched Python hop (CPython ``unicodedata``
    implements the same UAX #15 tables as DuckDB's
    ``nfc_normalize`` — the oracle twin reproduces every output
    char-for-char, q146).

    Returns ``(id, text_nfc, changed, n_chars_before, n_chars_after)``
    — the flags/counts make the pass auditable (how much of the corpus
    was denormalized, and by how many chars) without a second scan.
    NULL text passes through as NULL with ``changed`` NULL. No
    shuffle; one mapInPandas.
    """
    out_schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("text_nfc", T.StringType()),
        T.StructField("changed", T.IntegerType()),
        T.StructField("n_chars_before", T.LongType()),
        T.StructField("n_chars_after", T.LongType()),
    ])

    def _kernel(batches):
        import unicodedata

        import pandas as pd

        for pdf in batches:
            outs, chg, nb, na = [], [], [], []
            for t in pdf[text_col]:
                if t is None:
                    outs.append(None)
                    chg.append(None)
                    nb.append(None)
                    na.append(None)
                    continue
                n = unicodedata.normalize("NFC", t)
                outs.append(n)
                chg.append(int(n != t))
                nb.append(len(t))
                na.append(len(n))
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                "text_nfc": pd.array(outs, dtype="string"),
                "changed": pd.array(chg, dtype="Int32"),
                "n_chars_before": pd.array(nb, dtype="Int64"),
                "n_chars_after": pd.array(na, dtype="Int64"),
            })

    return docs.select(id_col, text_col).mapInPandas(_kernel, out_schema)


def token_entropy(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Per-document token-distribution entropy and effective
    vocabulary (M123): H(doc) = Σ_t −p_t·ln p_t over the doc's unigram
    distribution, and exp(H) — the "perplexity of the doc against
    itself", a length-independent repetition/diversity signal (a doc
    that repeats one token has H=0 regardless of length; a doc of n
    distinct tokens scores ln n). The per-doc complement of M104's
    per-group lexical richness: feeds the quality gate as a
    degenerate-content filter the plain type-token ratio misses when
    repetition is concentrated (Shannon 1948; the effective-vocab
    reading is standard in the LNRE literature).

    Determinism (the JSD convention): each token's term is quantized
    ONCE to integer nanos — floor(−p·ln p·1e9 + 0.5) — so the per-doc
    sum is exact in any order; exp runs on the already-quantized sum
    (one float op, identical in any engine). Zero-token docs report
    entropy 0 and effective vocab 1.0 (exp 0), keeping every doc in
    the output.

    Returns ``(id, n_tokens, vocab_size, entropy_nano,
    effective_vocab_micro)``.

    Scale: one (doc, token) count shuffle (partial-aggregable), one
    per-doc rollup, one broadcast-free left join back to the doc
    spine. No windows, no Python.
    """
    # tc staged once: the per-doc rollup and the entropy-term join
    # both consume the (doc, token) counts — unstaged, the explode +
    # aggregate ran twice (n, doc-spine-sized, staged for its two
    # join consumers as well).
    tc = (
        docs.select(F.col(id_col),
                    F.explode(tokens(F.lower(F.col(text_col))))
                    .alias("_t"))
        .groupBy(id_col, "_t").agg(F.count(F.lit(1)).alias("_c"))
        .localCheckpoint(eager=False)
    )
    n = tc.groupBy(id_col).agg(F.sum("_c").alias("n_tokens"),
                               F.count(F.lit(1)).alias("vocab_size")) \
        .localCheckpoint(eager=False)
    p = F.col("_c") / F.col("n_tokens")
    per_tok = (
        tc.join(n, id_col)
        .select(
            id_col,
            F.floor(-p * F.log(p) * F.lit(1e9) + F.lit(0.5))
            .cast("long").alias("_h_nano"),
        )
        .groupBy(id_col)
        .agg(F.sum("_h_nano").alias("entropy_nano"))
    )
    zero = F.lit(0).cast("long")
    return (
        docs.select(id_col)
        .join(n, id_col, "left")
        .join(per_tok, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_tokens", zero).alias("n_tokens"),
            F.coalesce("vocab_size", zero).alias("vocab_size"),
            F.coalesce("entropy_nano", zero).alias("entropy_nano"),
            F.floor(F.exp(F.coalesce("entropy_nano", zero) / F.lit(1e9))
                    * F.lit(1_000_000) + F.lit(0.5))
            .cast("long").alias("effective_vocab_micro"),
        )
    )


def script_mix(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Per-document character-class composition audit (M126): counts
    of ASCII letters, digits, whitespace, ASCII punctuation/symbols,
    and non-ASCII characters, plus the non-ASCII fraction in integer
    micros — the cheap first-pass script/encoding screen a multilingual
    ingest runs before language ID (mojibake, binary-in-text, and
    wrong-charset documents light up the non-ASCII and punct channels;
    Unicode ranges per the UCD, a public standard).

    Counting is pure JVM regexp arithmetic: each class count is
    ``length(text) − length(regexp_replace(text, class, ''))`` —
    identical semantics in the DuckDB twin, no Python, no explode.
    Null texts report all zeros.

    Returns ``(id, n_chars, n_alpha, n_digit, n_space, n_punct,
    n_nonascii, nonascii_micro)``.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    ln = F.length(t)

    def removed(pattern: str) -> Column:
        return (ln - F.length(F.regexp_replace(t, pattern, ""))) \
            .cast("long")

    n_alpha = removed("[A-Za-z]")
    n_digit = removed("[0-9]")
    n_space = removed(r"[ \t\n\r]")
    n_nonascii = removed("[^\\x00-\\x7F]")
    return docs.select(
        F.col(id_col),
        ln.cast("long").alias("n_chars"),
        n_alpha.alias("n_alpha"),
        n_digit.alias("n_digit"),
        n_space.alias("n_space"),
        (ln - n_alpha - n_digit - n_space - n_nonascii).cast("long")
        .alias("n_punct"),
        n_nonascii.alias("n_nonascii"),
        F.when(ln > 0,
               F.floor(n_nonascii * F.lit(1_000_000) / ln))
        .otherwise(F.lit(0)).cast("long").alias("nonascii_micro"),
    )


def novelty_attribution(docs: DataFrame, group_col: str = "source",
                        n: int = 8, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Source-order first-occurrence attribution (M133): process
    sources in a FIXED order (ascending group key) and charge every
    distinct word ``n``-gram to the first source that contributes it —
    "how much does each feed add that everything before it didn't",
    the marginal-value signal that ranks acquisition/retention of data
    sources (the dedup complement of M84's per-doc novelty: M84 asks
    "is this doc templated", this asks "is this SOURCE redundant given
    the others").

    Returns per source: ``(group, n_grams_seen [distinct grams
    appearing in the source], n_grams_first [grams whose first source
    in the order is this one], novelty_micro =
    floor(first·1e6/seen))``; Σ n_grams_first = corpus distinct grams.

    Scale: flat (group, gram-hash) distinct rows → one min-aggregate
    keyed on gram (partial-aggregable) → one per-group rollup joined
    with the per-group distinct counts. Processing order is the group
    key's natural order — deterministic in any engine, no actual
    sequential pass.
    """
    from .decontamination import word_ngrams

    # Staged once: the per-group distinct counts and the
    # first-occurrence aggregate both consume the distinct (group,
    # gram-hash) rows — unstaged, the n-gram explode ran twice.
    gg = docs.select(
        F.col(group_col).alias("_g"),
        F.explode(word_ngrams(F.lower(F.col(text_col)), n)).alias("_t"),
    ).select("_g", hash60(F.col("_t")).alias("_h")).distinct() \
        .localCheckpoint(eager=False)
    seen = gg.groupBy("_g").agg(F.count(F.lit(1)).alias("n_grams_seen"))
    first = (
        gg.groupBy("_h").agg(F.min("_g").alias("_g"))
        .groupBy("_g").agg(F.count(F.lit(1)).alias("n_grams_first"))
    )
    zero = F.lit(0).cast("long")
    return (
        seen.join(first, "_g", "left")
        .select(
            F.col("_g").alias(group_col),
            F.col("n_grams_seen").cast("long"),
            F.coalesce("n_grams_first", zero).alias("n_grams_first"),
            F.when(F.col("n_grams_seen") > 0,
                   F.floor(F.coalesce("n_grams_first", zero)
                           * F.lit(1_000_000) / F.col("n_grams_seen")))
            .otherwise(zero).cast("long").alias("novelty_micro"),
        )
    )


def zipf_slope(docs: DataFrame, group_col: str = "source",
               text_col: str = "text") -> DataFrame:
    """Per-group Zipf log-log slope (M135): OLS slope of
    ln(frequency) on ln(rank) over the group's token frequency table —
    natural text sits near −1 (Zipf 1949, public); synthetic /
    degenerate / word-salad feeds drift toward 0 (flat) or below −2
    (top-heavy). A one-number "vocabulary naturalness" screen next to
    M104's richness ratios.

    Determinism: x = ln(rank) and y = ln(count) quantize ONCE to
    integer micros; the OLS moments Σx, Σy, Σxy, Σx² accumulate those
    integers exactly in ``decimal(38,0)`` (HUGEINT twin), and the
    slope (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) is ONE float division on exact
    integers, emitted as ``slope_micro = floor(slope·1e6 + 0.5)``.
    Rank is (count desc, token asc) dense position via row_number —
    total-order deterministic. Groups with < 2 distinct tokens report
    NULL slope (the denominator is 0).

    Scale: one (group, token) count shuffle; the rank window
    partitions by group; moments are one per-group rollup.
    """
    tc = docs.select(
        F.col(group_col).alias("_g"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("_t"),
    ).groupBy("_g", "_t").agg(F.count(F.lit(1)).alias("_c"))
    ranked = tc.withColumn(
        "_r", F.row_number().over(
            W.partitionBy("_g").orderBy(F.col("_c").desc(), "_t")))
    q = ranked.select(
        "_g",
        F.floor(F.log(F.col("_r").cast("double")) * F.lit(1e6)
                + F.lit(0.5)).cast("long").alias("_x"),
        F.floor(F.log(F.col("_c").cast("double")) * F.lit(1e6)
                + F.lit(0.5)).cast("long").alias("_y"),
    )
    dec = "decimal(38,0)"
    mom = q.groupBy("_g").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("_x").cast(dec)).alias("_sx"),
        F.sum(F.col("_y").cast(dec)).alias("_sy"),
        F.sum(F.col("_x").cast(dec) * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x").cast(dec) * F.col("_x")).alias("_sxx"),
    )
    num = (F.col("_n").cast(dec) * F.col("_sxy")
           - F.col("_sx") * F.col("_sy")).cast("double")
    den = (F.col("_n").cast(dec) * F.col("_sxx")
           - F.col("_sx") * F.col("_sx")).cast("double")
    return mom.select(
        F.col("_g").alias(group_col),
        F.col("_n").cast("long").alias("vocab_size"),
        F.when(den > 0,
               F.floor(num / den * F.lit(1_000_000) + F.lit(0.5)))
        .cast("long").alias("slope_micro"),
    )
