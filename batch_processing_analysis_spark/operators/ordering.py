"""Deterministic global shuffle for training-data ordering (M33 scale
extension).

Training runs need the corpus in a pseudorandom order that is (a)
reproducible bit-for-bit across runs/engines (resume, auditing), (b)
different per epoch, and (c) computable without a global sort of 100 TB
on one key range. The standard trick: order by a seeded content hash —
``key = hash60(seed ':' id)`` — which is a fixed pseudorandom
permutation of ids for that seed.

Plan shape: per-row key expression → one hash shuffle on
``shard = key mod S`` → per-shard window sort for within-shard
positions. No global sort ever exists; each shard sorts independently
(Spark plans the window as sort-within-partition after the exchange).
Shard sizes are multinomial-uniform — for S ≪ N the imbalance is
O(√(N/S)), negligible; the shard is also the natural write unit
(``partitionBy("shard")`` at the sink).

Epochs: vary ``seed`` (e.g. ``f"train:{epoch}"``) — a brand-new
permutation with zero state carried between epochs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .dedup import hash60


def seeded_shuffle(df: DataFrame, seed: str, num_shards: int,
                   id_col: str = "doc_id") -> DataFrame:
    """Assign every row a deterministic (shard, pos) training order.

    Returns the input columns plus ``shard`` (∈ [0, num_shards)) and
    ``pos`` (1-based within-shard position). The induced global order
    (shard, pos) is a seeded pseudorandom permutation: key is the
    60-bit md5 hash of ``seed ':' id`` (portable — the DuckDB twin is
    byte-identical), shard is key mod S, position orders by (key, id).
    Ids must be unique; the (key, id) tiebreak makes the order total
    even under hash collisions.
    """
    if num_shards <= 0:
        raise ValueError("num_shards must be positive")
    keyed = df.withColumn(
        "_k",
        hash60(F.concat(F.lit(seed), F.lit(":"),
                        F.col(id_col).cast("string"))),
    ).withColumn("shard", (F.col("_k") % num_shards).cast("int"))
    w = W.partitionBy("shard").orderBy("_k", id_col)
    return keyed.withColumn("pos", F.row_number().over(w)).drop("_k")


def pack_contexts(docs: DataFrame, ctx_len: int,
                  partition_col: str = "source",
                  id_col: str = "doc_id",
                  tokens_col: str = "n_tokens") -> DataFrame:
    """Concat-and-chunk context packing: lay every document's tokens
    end-to-end in a deterministic global order and cut fixed
    ``ctx_len``-token training contexts — the standard pretraining
    packing (documents may span context boundaries; the loader inserts
    separators/resets attention at ``ctx_offset`` 0).

    Global order = (partition_col asc, id asc). The global running sum
    is TWO-PHASE so no global sort ever exists (the 100 TB shape):
    a per-partition window cumsum, plus per-partition totals prefix-
    summed into broadcast offsets (P rows — the only single-partition
    window touches P, not N).

    Returns (id, partition, n_tokens, ctx_id, ctx_offset): ctx_id is
    the context holding the document's FIRST token, ctx_offset its
    position in that context; a document spans
    ``ceil((ctx_offset + n) / ctx_len)`` contexts.
    """
    if ctx_len <= 0:
        raise ValueError("ctx_len must be positive")
    w_local = W.partitionBy(partition_col).orderBy(id_col).rowsBetween(
        W.unboundedPreceding, 0
    )
    local = docs.select(
        id_col, partition_col, tokens_col,
        (F.sum(tokens_col).over(w_local) - F.col(tokens_col)).alias("_lx"),
    )
    totals = docs.groupBy(partition_col).agg(
        F.sum(tokens_col).alias("_tot")
    )
    w_pref = W.orderBy(partition_col).rowsBetween(W.unboundedPreceding, -1)
    offsets = totals.select(
        partition_col,
        F.coalesce(F.sum("_tot").over(w_pref), F.lit(0)).alias("_off"),
    )
    packed = local.join(F.broadcast(offsets), partition_col).withColumn(
        "_gx", F.col("_lx") + F.col("_off")
    )
    return packed.select(
        id_col, partition_col, tokens_col,
        F.floor(F.col("_gx") / ctx_len).cast("long").alias("ctx_id"),
        (F.col("_gx") % ctx_len).cast("long").alias("ctx_offset"),
    )


def quality_buckets(scored: DataFrame, n_buckets: int = 10,
                    group_col: str = "lang",
                    score_col: str = "quality_score",
                    id_col: str = "doc_id") -> DataFrame:
    """Equal-population quality buckets per group — the curriculum /
    stratified-selection binning step (e.g. keep top-k buckets per
    language, or anneal from low to high quality over training):
    ``ntile(n_buckets)`` ordered by ``(score, id)`` within each group.
    The unique-id tiebreak makes the assignment engine-deterministic.

    Returns the input plus a ``bucket`` column (1 = lowest score).

    Scale: ntile is a per-group SORT — correct and exact, and fine
    while groups fit a partition's spill budget (languages, sources).
    For quantile-binning a single 100 TB group, precompute boundary
    values (e.g. from yesterday's profile or an approx-quantile pass)
    and bin by them — a pure narrow map, no sort.
    """
    w = W.partitionBy(group_col).orderBy(score_col, id_col)
    return scored.withColumn("bucket", F.ntile(n_buckets).over(w))


def bucket_by_bounds(scored: DataFrame, bounds: list[float],
                     score_col: str = "quality_score") -> DataFrame:
    """Bucket by PRECOMPUTED ascending boundary values: bucket i
    (1-based) holds rows with ``bounds[i-2] <= score < bounds[i-1]``
    (first bucket unbounded below, last unbounded above). The scale
    twin of :func:`quality_buckets`: a branchless narrow expression —
    no shuffle, no sort, boundaries are plan literals.
    """
    if not bounds:
        raise ValueError("bounds must be non-empty")
    expr = F.lit(1)
    for b in bounds:
        expr = expr + F.when(F.col(score_col) >= F.lit(b), 1).otherwise(0)
    return scored.withColumn("bucket", expr)


def quantile_bounds(scored: DataFrame, n_buckets: int = 10,
                    score_col: str = "quality_score",
                    relative_error: float = 0.001) -> list[float]:
    """Boundary values for :func:`bucket_by_bounds` from a
    Greenwald–Khanna approximate-quantile pass
    (``approxQuantile``, the Spark built-in sketch): the interior
    (i/n)-quantiles of ``score_col``.

    This is the documented 100 TB feeder for equal-population
    bucketing WITHOUT a per-group sort: one sketch pass (driver gets
    n−1 doubles), then the branchless narrow map. Approximate where
    ntile is exact — populations are equal to within the sketch's
    ``relative_error``; determinism depends on the input partitioning,
    so pin boundaries (persist them) when reproducibility matters —
    the bounds being DATA, not plan logic, is exactly what makes that
    possible.
    """
    probs = [i / n_buckets for i in range(1, n_buckets)]
    return scored.approxQuantile(score_col, probs, relative_error)


def assign_splits(df: DataFrame, fractions: dict[str, float],
                  seed: str, id_col: str = "doc_id",
                  group_col: str | None = None) -> DataFrame:
    """Seeded train/val/test split (M72): every row gets a ``split``
    label, assignment = which cumulative-fraction band the row's
    md5-derived hash falls in. Deterministic (same seed → same split in
    every run/engine), disjoint and exhaustive by construction, and —
    the part naive `randomSplit` gets wrong for training data —
    **leakage-aware**: pass ``group_col`` (a domain, a near-dup
    component id from graph.resolve_duplicates, a source) and the hash
    is taken over the GROUP key, so correlated documents land in the
    same split instead of straddling train and test.

    Bands are integer millionths of the hash space (fractions are
    quantized once, remainder goes to the LAST label), so Spark and any
    SQL oracle agree exactly. One narrow projection; no shuffle, no
    sampling pass.
    """
    from .dedup import hash60

    labels = list(fractions)
    quanta = [int(fractions[l] * 1_000_000) for l in labels]
    quanta[-1] = 1_000_000 - sum(quanta[:-1])  # exhaustive by construction
    key = F.col(group_col if group_col is not None else id_col)
    u = F.pmod(hash60(F.concat(F.lit(seed), F.lit("\x1f"),
                               key.cast("string"))),
               F.lit(1_000_000))
    expr = None
    acc = 0
    for label, q in zip(labels, quanta):
        acc += q
        cond = u < F.lit(acc)
        expr = (F.when(cond, F.lit(label)) if expr is None
                else expr.when(cond, F.lit(label)))
    return df.withColumn("split", expr)


def rendezvous_shard(df: DataFrame, n_shards: int,
                     id_col: str = "doc_id", seed: str = "hrw",
                     out_col: str = "shard") -> DataFrame:
    """Rendezvous (highest-random-weight) sharding (Thaler &
    Ravishankar 1998): ``shard = argmax_s hash(seed ‖ s ‖ id)``.

    Why not ``hash(id) % n``: when the shard count changes, modulo
    reassigns ≈ (n−1)/n of ALL keys — an incremental corpus rebuild
    rewrites almost every shard. Rendezvous moves ONLY the keys whose
    new shard wins the argmax, ≈ 1/(n+1) of them when growing n → n+1;
    every other key's winner is unchanged by construction (adding a
    candidate can only steal the argmax, never reorder the rest).

    Pure codegen: an ``n_shards``-wide ``greatest`` over md5-derived
    (weight, shard) structs — no shuffle, no state; deterministic and
    oracle-reproducible. Ties are impossible in practice (60-bit
    weights) and break to the lower shard id via the struct tiebreak.
    Keep ``n_shards`` modest (≤ a few hundred): the expression tree is
    O(n_shards) wide per row — for thousands of shards, shard
    hierarchically (rendezvous over shard groups, then within).
    """
    from .dedup import hash60

    if n_shards == 1:
        return df.withColumn(out_col, F.lit(0))
    cands = [
        F.struct(
            hash60(F.concat(F.lit(seed), F.lit("\x1f"), F.lit(str(s)),
                            F.lit("\x1f"), F.col(id_col).cast("string")))
            .alias("w"),
            F.lit(n_shards - 1 - s).alias("_inv"),  # ties -> lower shard id
            F.lit(s).alias("s"),
        )
        for s in range(n_shards)
    ]
    return df.withColumn(out_col, F.greatest(*cands)["s"])


def percentile_normalize(scored: DataFrame, group_col: str,
                         score_col: str = "quality_score",
                         id_col: str = "doc_id",
                         out_col: str = "pct_micro") -> DataFrame:
    """Per-group percentile normalization (M83): replace each raw score
    with its percentile rank WITHIN its group, in exact integer
    millionths — making quality comparable across sources whose raw
    score scales differ (a 0.4 from a clean-wiki source and a 0.4 from
    a web crawl mean different things; their within-source percentiles
    don't). The standard pre-step before mixing sources by a single
    quality threshold.

    ``pct`` = floor((rank − 1)·10⁶ / (n − 1)) with the unique
    (score, id) tiebreak — deterministic, 0 for the group minimum,
    10⁶ for the maximum, 0 for singleton groups. One partitioned
    window per group (never a global sort); group sizes are data
    width, not cluster width.
    """
    w = W.partitionBy(group_col).orderBy(score_col, id_col)
    n = F.count(F.lit(1)).over(W.partitionBy(group_col))
    # row_number() is 32-bit: (r-1)·10⁶ overflows INT once a group
    # exceeds 2148 rows (ANSI error at the sf1-equivalent bench, r5) —
    # widen BEFORE the multiply.
    r = F.row_number().over(w).cast("long")
    return scored.withColumn(
        out_col,
        F.when(n > 1,
               F.floor((r - 1) * F.lit(1_000_000) / (n - 1)))
        .otherwise(F.lit(0)).cast("long"),
    )


def time_split_with_embargo(df: DataFrame, ts_col: str,
                            eval_start_epoch_s: int,
                            embargo_s: int = 0) -> DataFrame:
    """Temporal train/eval split with an embargo gap (M88): rows before
    ``eval_start − embargo`` are ``train``, rows at/after
    ``eval_start`` are ``eval``, and the gap in between is labeled
    ``embargo`` — excluded from BOTH sides. The time-ordered
    counterpart of :func:`assign_splits`' group-aware hash split:
    forecasting/outcome models trained on events adjacent to the eval
    window leak near-boundary information (the purged/embargoed-split
    rule of time-series cross-validation, public quant-ML practice);
    the embargo makes the boundary leak-free instead of adjacent.

    Cutoffs are integer epoch seconds, so the label is a pure narrow
    projection (no shuffle) and any SQL oracle agrees exactly. NULL
    timestamps get a NULL label (surfaced, not silently dropped).
    """
    if embargo_s < 0:
        raise ValueError(f"embargo_s ({embargo_s}) must be >= 0")
    ts = F.unix_timestamp(F.col(ts_col))
    return df.withColumn(
        "split",
        F.when(F.col(ts_col).isNull(), F.lit(None).cast("string"))
        .when(ts < F.lit(eval_start_epoch_s - embargo_s), F.lit("train"))
        .when(ts >= F.lit(eval_start_epoch_s), F.lit("eval"))
        .otherwise(F.lit("embargo")),
    )


def striped_pack(df: DataFrame, n_bins: int, size_col: str = "n_chars",
                 id_col: str = "doc_id", band_step: int = 64,
                 n_bands: int = 64) -> DataFrame:
    """Striped longest-first packing (M97): assign items to ``n_bins``
    fixed bins by striping them in descending-size order — bin =
    (rank − 1) mod n_bins over the (size desc, id asc) total order.
    The distributed form of the LPT/first-fit-decreasing heuristic for
    balanced training shards of similar token mass (Graham 1969's
    longest-processing-time rule; striping replaces the sequential
    least-loaded choice so the assignment is a pure function of rank —
    reproducible, and still places the long-document tail one-per-bin
    where naive hash sharding lets two giants collide).

    The descending-size global rank is computed WITHOUT a global sort
    (the pack_contexts two-phase shape applied to ordering): items are
    banded by ``least(size div band_step, n_bands−1)``; bands are
    size-disjoint, so (band desc, size desc, id asc) IS the global
    order — a per-band window ranks within bands in parallel, and the
    per-band counts prefix-sum into broadcast rank offsets (the only
    single-partition window touches n_bands rows, not N).

    Returns the input columns plus ``bin`` ∈ [0, n_bins). Per-bin load
    is within max-item-size of ideal for the striped order; audit with
    a (bin, count, sum) rollup. NULL sizes rank as smallest (Spark and
    SQL NULLS LAST agree under desc with the id tiebreak).
    """
    if n_bins <= 0:
        raise ValueError("n_bins must be positive")
    if band_step <= 0 or n_bands <= 0:
        raise ValueError("band_step and n_bands must be positive")
    band = F.least(
        F.floor(F.coalesce(F.col(size_col), F.lit(0)) / band_step),
        F.lit(n_bands - 1),
    ).cast("int")
    banded = df.withColumn("_band", band)
    w_band = W.partitionBy("_band").orderBy(
        F.col(size_col).desc_nulls_last(), F.col(id_col)
    )
    ranked = banded.withColumn("_rn", F.row_number().over(w_band))
    counts = banded.groupBy("_band").agg(F.count(F.lit(1)).alias("_n"))
    w_pref = W.orderBy(F.col("_band").desc()).rowsBetween(
        W.unboundedPreceding, -1
    )
    offsets = counts.select(
        "_band",
        F.coalesce(F.sum("_n").over(w_pref), F.lit(0)).alias("_off"),
    )
    return (
        ranked.join(F.broadcast(offsets), "_band")
        .withColumn(
            "bin",
            ((F.col("_off") + F.col("_rn") - 1) % n_bins).cast("int"),
        )
        .drop("_band", "_rn", "_off")
    )


def split_leakage_audit(df: DataFrame, fractions: dict[str, float],
                        seed: str, id_col: str = "doc_id",
                        text_col: str = "text",
                        group_col: str | None = "source",
                        n: int = 5, df_max: int = 10,
                        threshold: float = 0.5) -> DataFrame:
    """Train/test split leakage audit (M101): find near-duplicate
    document pairs that STRADDLE a split boundary — the contamination
    a grouped :func:`assign_splits` is supposed to prevent but cannot
    when duplicates cross the grouping key (e.g. the same article
    syndicated by two sources hashed into different splits). The
    published eval-contamination audits (GPT-3 App. C, Brown et al.
    2020; Dodge et al. 2021 on C4) are exactly this join.

    Composition: :func:`assign_splits` labels every row; ``dedup.
    ngram_jaccard_pairs`` supplies verified near-dup pairs; each pair
    is classed by its (lexicographically ordered) split pair. Returns
    one row per observed class: ``(split_lo, split_hi, n_pairs,
    n_docs)`` where ``n_docs`` counts distinct documents touched by
    that class. Off-diagonal rows (split_lo ≠ split_hi) are leaks;
    a clean grouped split shows only diagonal rows.

    Scale: the pair table is the LSH/blocking-bounded near-dup output
    (≪ N rows); both label joins are equi-joins on the id, and the
    label frame is a narrow no-shuffle projection of the input. The
    final aggregate has ≤ |splits|² groups.
    """
    from .dedup import ngram_jaccard_pairs

    lab = assign_splits(
        df.select(id_col, *( [group_col] if group_col else [] )),
        fractions, seed, id_col=id_col, group_col=group_col,
    ).select(F.col(id_col), F.col("split"))
    pairs = ngram_jaccard_pairs(
        df, id_col=id_col, text_col=text_col, n=n, df_max=df_max,
        threshold=threshold,
    )
    la = lab.select(F.col(id_col).alias("id_a"), F.col("split").alias("_sa"))
    lb = lab.select(F.col(id_col).alias("id_b"), F.col("split").alias("_sb"))
    cls = (
        pairs.join(la, "id_a").join(lb, "id_b")
        .select(
            F.least("_sa", "_sb").alias("split_lo"),
            F.greatest("_sa", "_sb").alias("split_hi"),
            "id_a", "id_b",
        )
    )
    # One traversal of the pair pipeline: explode each pair into its
    # two endpoints, then count pairs (rows/2 — every pair contributes
    # exactly 2 rows) and distinct docs in a single aggregate. The
    # previous per/touched/join shape referenced `cls` three times,
    # re-executing the whole LSH+verify pair join per reference
    # (measured: 102 Exchanges in the q130 plan, 3.1 s at sf0.1).
    exploded = cls.select(
        "split_lo", "split_hi",
        F.explode(F.array("id_a", "id_b")).alias("_d"),
    )
    return exploded.groupBy("split_lo", "split_hi").agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("n_pairs"),
        F.countDistinct("_d").alias("n_docs"),
    )


def packing_efficiency(docs: DataFrame, ctx_len: int,
                       group_col: str = "source",
                       tokens_col: Column | None = None,
                       text_col: str = "text") -> DataFrame:
    """Context-packing efficiency audit (M107): per group, compare the
    two closed-form packing strategies a training pipeline chooses
    between — concat-and-split packing (pack_contexts: zero inter-doc
    padding, one partial tail context per group) vs pad-each-document
    (every doc rounded up to whole contexts — the no-packing
    baseline) — and report the padding waste of each. The "packing
    saves ~X% of compute" measurement (Krell et al. 2021 pack-BERT
    analysis) before choosing a sink layout.

    Returns ``(group, n_docs, total_tokens, packed_contexts,
    packed_waste, padded_contexts, padded_waste, packed_util_micro,
    padded_util_micro)`` — utilization = tokens/(contexts·ctx_len) in
    integer micros of exact counts.

    Scale: one narrow projection + one partial-aggregatable groupBy;
    ceil-division per doc happens before the aggregate, so the plan is
    a single shuffle on ``group_col`` with a |groups|-row result.
    """
    from .dedup import tokens as _tokens

    if ctx_len <= 0:
        raise ValueError("ctx_len must be positive")
    n = (tokens_col if tokens_col is not None
         else F.size(_tokens(F.col(text_col)))).cast("long")
    per = docs.select(
        F.col(group_col),
        n.alias("_n"),
        F.floor((n + F.lit(ctx_len - 1)) / F.lit(ctx_len))
        .cast("long").alias("_ctx_padded"),
    )
    g = per.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_n").alias("total_tokens"),
        F.sum("_ctx_padded").alias("padded_contexts"),
    )
    packed = F.floor(
        (F.col("total_tokens") + F.lit(ctx_len - 1)) / F.lit(ctx_len)
    ).cast("long")
    util = lambda ctxs: F.when(
        ctxs > 0,
        F.floor(F.col("total_tokens") * F.lit(1_000_000)
                / (ctxs * F.lit(ctx_len)))
    ).otherwise(F.lit(0)).cast("long")
    return g.select(
        F.col(group_col),
        "n_docs", "total_tokens",
        packed.alias("packed_contexts"),
        (packed * ctx_len - F.col("total_tokens")).cast("long")
        .alias("packed_waste"),
        F.col("padded_contexts"),
        (F.col("padded_contexts") * ctx_len - F.col("total_tokens"))
        .cast("long").alias("padded_waste"),
        util(packed).alias("packed_util_micro"),
        util(F.col("padded_contexts")).alias("padded_util_micro"),
    )


def banded_global_rank(df: DataFrame, key_col: str, id_col: str,
                       n_bands: int = 64,
                       out_col: str = "rank") -> DataFrame:
    """Exact 0-based global rank by ``(key, id)`` ascending WITHOUT a
    global sort — the striped_pack/classifier_calibration two-phase
    shape, factored for reuse: rows band into ``n_bands`` equal-width
    ranges of the (broadcast) min/max key, rank per band by
    ``(key, id)``, and band counts prefix-sum into broadcast offsets.
    The only single-partition window touches ``n_bands`` rows; the
    banding is monotone in the key, so band-local order concatenates
    to the exact global order.

    ``key_col`` must be numeric (long/int); callers quantize first
    (the integer-micro convention). Adds ``out_col`` to the input
    columns.
    """
    if n_bands <= 0:
        raise ValueError("n_bands must be positive")
    bounds = df.agg(
        F.min(key_col).alias("_lo"), F.max(key_col).alias("_hi")
    )
    banded = df.crossJoin(F.broadcast(bounds)).withColumn(
        "_band",
        F.least(
            F.floor(
                (F.col(key_col) - F.col("_lo")) * F.lit(n_bands)
                / (F.col("_hi") - F.col("_lo") + 1)
            ),
            F.lit(n_bands - 1),
        ).cast("long"),
    )
    w_band = W.partitionBy("_band").orderBy(key_col, id_col)
    ranked = banded.withColumn("_rn", F.row_number().over(w_band))
    counts = banded.groupBy("_band").agg(F.count(F.lit(1)).alias("_n"))
    w_pref = W.orderBy("_band").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        "_band",
        F.coalesce(F.sum("_n").over(w_pref), F.lit(0)).alias("_off"),
    )
    return (
        ranked.join(F.broadcast(offsets), "_band")
        .withColumn(out_col,
                    (F.col("_off") + F.col("_rn") - 1).cast("long"))
        .drop("_band", "_rn", "_off", "_lo", "_hi")
    )


def stratified_quotas(df: DataFrame, k: int, group_col: str = "lang",
                      id_col: str = "doc_id",
                      seed: str = "eval") -> DataFrame:
    """Largest-remainder (Hamilton) eval-set apportionment (M109):
    split ``k`` held-out slots across strata exactly proportionally —
    base quota = ⌊n_g·k/N⌋, then one extra slot each to the largest
    integer remainders (ties → group key asc) until the quotas sum to
    ``k`` — and select each stratum's members deterministically by
    seeded hash order. The "build the eval set" step: proportional to
    the corpus, reproducible in any engine, no sampling pass.

    Requires ``k ≤ N`` (guaranteeing quota_g ≤ n_g, so every stratum
    can fill its quota) — ENFORCED: ``k < 0`` raises ``ValueError``
    eagerly, and ``k > N`` fails the job at evaluation time via an
    ``assert_true`` guard folded into the quota expression (checked
    against the already-computed total aggregate, no extra scan;
    ADVICE r5 — previously quotas silently exceeded stratum sizes).
    Returns per-stratum
    ``(group, n_docs, quota, n_selected, sel_id_sum)`` where
    ``sel_id_sum`` checksums the selected id set.

    Scale: one count shuffle on the stratum key; the apportionment
    runs on the |strata|-row counts frame (its global remainder-rank
    window is aggregate-bounded); selection is one per-stratum window
    ordered by the seeded 60-bit hash. All arithmetic is exact
    integers — n_g·k and the remainders never touch a float.
    """
    from .dedup import hash60

    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    total = counts.agg(F.sum("n_docs").alias("_N"))
    # k ≤ N guard: assert_true yields NULL when the condition holds
    # (coalesce → 0, exactness preserved) and aborts the job when it
    # doesn't. Folding it into _base keeps it in the plan — a detached
    # check column would be pruned by Catalyst and never evaluated.
    _k_guard = F.coalesce(
        F.assert_true(
            F.col("_N") >= F.lit(k),
            F.concat(F.lit(f"stratified_quotas: k={k} exceeds total "
                           f"row count N="),
                     F.col("_N").cast("string")),
        ).cast("long"),
        F.lit(0).cast("long"),
    )
    qc = counts.crossJoin(F.broadcast(total)).select(
        group_col, "n_docs",
        (F.floor(F.col("n_docs") * F.lit(k) / F.col("_N"))
         .cast("long") + _k_guard).alias("_base"),
        (F.col("n_docs") * F.lit(k)
         - F.floor(F.col("n_docs") * F.lit(k) / F.col("_N"))
           .cast("long") * F.col("_N")).alias("_rem"),
    )
    base_sum = qc.agg(F.sum("_base").alias("_bs"))
    w_rem = W.orderBy(F.col("_rem").desc(), F.col(group_col))
    quotas = (
        qc.withColumn("_rr", F.row_number().over(w_rem))
        .crossJoin(F.broadcast(base_sum))
        .select(
            group_col, "n_docs",
            (F.col("_base")
             + F.when(F.col("_rr") <= F.lit(k) - F.col("_bs"), 1)
               .otherwise(0)).cast("long").alias("quota"),
        )
    )
    keyed = df.select(
        F.col(group_col), F.col(id_col),
        hash60(F.concat(F.lit(seed), F.lit(":"),
                        F.col(id_col).cast("string"))).alias("_h"),
    )
    w_sel = W.partitionBy(group_col).orderBy("_h", id_col)
    sel = (
        keyed.withColumn("_rn", F.row_number().over(w_sel))
        .join(F.broadcast(quotas.select(group_col, "quota")), group_col)
        .filter(F.col("_rn") <= F.col("quota"))
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n_selected"),
             F.sum(id_col).alias("sel_id_sum"))
    )
    zero = F.lit(0).cast("long")
    return quotas.join(sel, group_col, "left").select(
        F.col(group_col), "n_docs", "quota",
        F.coalesce("n_selected", zero).alias("n_selected"),
        F.coalesce("sel_id_sum", zero).alias("sel_id_sum"),
    )


def rrf_fuse(df: DataFrame, signals: list[tuple[str, str]],
             k_const: int = 60, top_k: int = 100,
             id_col: str = "doc_id", n_bands: int = 64) -> DataFrame:
    """Reciprocal-rank fusion of quality signals (M110; Cormack et al.
    2009): fused(d) = Σ_s ⌊10⁹ / (k + rank_s(d) + 1)⌋ over the given
    ``(name, key_col)`` signals, each ranked ASCENDING by
    ``(key, id)`` — quantize keys so "ascending = better" (negate
    integer scores to rank descending). The standard way to combine
    heterogeneous filter signals (perplexity, classifier score, dup
    rate) into one ordering without tuning weights.

    Per-signal ranks come from :func:`banded_global_rank` — no global
    sort; each contribution is quantized to an exact integer before
    the sum, so the fusion is engine/order-independent. Returns the
    ``top_k`` rows ``(id, rank_<name>..., rrf_score)`` by
    (score desc, id) — TakeOrderedAndProject, never a full sort.
    """
    if not signals:
        raise ValueError("rrf_fuse needs at least one signal")
    ranked = df
    for name, key in signals:
        ranked = banded_global_rank(ranked, key, id_col,
                                    n_bands=n_bands,
                                    out_col=f"rank_{name}")
    contrib = [
        F.floor(F.lit(1_000_000_000)
                / (F.lit(k_const) + F.col(f"rank_{name}") + 1))
        .cast("long")
        for name, _ in signals
    ]
    total = contrib[0]
    for c in contrib[1:]:
        total = total + c
    out = ranked.select(
        F.col(id_col),
        *[F.col(f"rank_{name}") for name, _ in signals],
        total.alias("rrf_score"),
    )
    return out.orderBy(F.col("rrf_score").desc(), F.col(id_col)) \
              .limit(top_k)


def weighted_median_by_group(df: DataFrame, group_col: str = "source",
                             value_col: str = "n_chars",
                             weight_col: str | None = None) -> DataFrame:
    """EXACT weighted median per group (M134): the smallest value v
    with Σ_{x≤v} w(x) ·2 ≥ W — for the default weight = the value
    itself, "the doc length below which half the group's CHARACTER
    MASS lies", the right center for packing/budget decisions where
    plain median over-weights the swarm of short docs (a classic
    weighted-quantile definition; integer weights keep every
    comparison exact — no interpolation, no floats).

    Returns ``(group, n_rows, total_weight, wmedian)``; groups whose
    total weight is 0 report the smallest value (vacuous cum ≥ 0).

    Scale: duplicates collapse first ((group, value) partial-agg), the
    cumulative sum windows per group over the collapsed frame
    (aggregate-bounded: distinct values per group), the answer is one
    min-aggregate. No global window, no sort of raw rows.
    """
    wexpr = (F.col(weight_col) if weight_col is not None
             else F.col(value_col)).cast("long")
    per_val = df.select(
        F.col(group_col), F.col(value_col).alias("_v"),
        wexpr.alias("_w"),
    ).groupBy(group_col, "_v").agg(
        F.sum("_w").alias("_wsum"), F.count(F.lit(1)).alias("_n")
    )
    w_cum = (W.partitionBy(group_col).orderBy("_v")
             .rowsBetween(W.unboundedPreceding, 0))
    cum = per_val.withColumn("_cum", F.sum("_wsum").over(w_cum))
    tot = per_val.groupBy(group_col).agg(
        F.sum("_wsum").alias("total_weight"),
        F.sum("_n").alias("n_rows"),
    )
    return (
        cum.join(F.broadcast(tot), group_col)
        .filter(F.col("_cum") * 2 >= F.col("total_weight"))
        .groupBy(group_col)
        .agg(F.min("_v").alias("wmedian"),
             F.first("total_weight").alias("total_weight"),
             F.first("n_rows").alias("n_rows"))
        .select(F.col(group_col), F.col("n_rows").cast("long"),
                F.col("total_weight").cast("long"),
                F.col("wmedian").cast("long"))
    )
