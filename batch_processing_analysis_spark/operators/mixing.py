"""Weighted source mixing for training-corpus assembly (M36 scale
extension).

Pretraining corpora are MIXTURES: each source (web crawl, code, books,
…) contributes a token budget proportional to a tuned weight (the
public recipe in GPT-3 Table 2.2 / LLaMA Table 1 / The Pile). This
operator materializes a mixture deterministically:

1. per-source budget = ``total_budget · w_s / Σw`` (weights broadcast —
   they are a handful of rows);
2. docs within a source are ordered by a seeded content hash (the
   [[operators/ordering.py]] permutation trick) — an unbiased,
   reproducible sample prefix, not "whatever the scan returned";
3. a per-source running token sum admits documents while the budget
   holds: a doc enters iff the tokens BEFORE it fit strictly inside
   the budget, so a source overshoots by at most one document
   (standard prefix-packing semantics).

One shuffle (window partitioned by source); no collect, no iteration.
Re-weighting or re-seeding is a metadata change, not a new corpus scan
shape — at 100 TB the window reuses the source partitioning every run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .dedup import hash60


def mix_sources(docs: DataFrame, weights: dict[str, float],
                total_budget: int, seed: str = "mix:0",
                id_col: str = "doc_id", source_col: str = "source",
                tokens_col: str = "n_tokens") -> DataFrame:
    """Select a weighted mixture of documents across sources.

    Returns the selected rows as ``(id, source, n_tokens, cum_tokens)``
    where ``cum_tokens`` is the running total within the source in
    selection order. Sources absent from ``weights`` contribute
    nothing. A document is selected iff the source's tokens strictly
    before it are under the source budget
    ``floor(total_budget · w / Σw)`` — so every non-empty budget admits
    at least one document and overshoots by at most one.
    """
    if total_budget <= 0:
        raise ValueError("total_budget must be positive")
    if not weights or any(w < 0 for w in weights.values()):
        raise ValueError("weights must be non-empty and non-negative")
    total_w = sum(weights.values())
    wdf = docs.sparkSession.createDataFrame(
        [(s, float(total_budget) * w / total_w) for s, w in weights.items()],
        f"{source_col} string, _budget double",
    )
    keyed = docs.join(F.broadcast(wdf), source_col).withColumn(
        "_k",
        hash60(F.concat(F.lit(seed), F.lit(":"),
                        F.col(id_col).cast("string"))),
    )
    w = W.partitionBy(source_col).orderBy("_k", id_col).rowsBetween(
        W.unboundedPreceding, 0
    )
    return (
        keyed.withColumn("cum_tokens", F.sum(tokens_col).over(w))
        .filter((F.col("cum_tokens") - F.col(tokens_col))
                < F.floor(F.col("_budget")))
        .select(id_col, source_col, tokens_col, "cum_tokens")
    )


def temperature_mix_weights(docs: DataFrame, alpha: float = 0.3,
                            source_col: str = "source",
                            size_col: str | None = None) -> DataFrame:
    """Temperature-scaled source sampling weights (M92): the public
    multilingual-pretraining recipe (XLM, Conneau & Lample 2019 §3.1;
    mBERT; mT5 §3.2) — a source with empirical share ``p_s`` samples
    with probability ``q_s ∝ p_s^α``, flattening the head (α<1) so
    low-resource sources are not drowned out.

    ``size_col`` measures a source's mass (e.g. ``n_chars`` or a token
    count); ``None`` counts documents. Output, one row per source:

    - ``n_size`` — the source's exact integer mass;
    - ``p_micro`` — empirical share, integer micros;
    - ``q_micro`` — temperature-scaled sampling weight, integer
      micros, normalized over sources.

    Determinism: ``p_s^α`` is a pure per-row double (identical IEEE
    result in both engines); the cross-source normalizer sums the
    QUANTIZED ``floor(p_s^α·1e6)`` integers, so no float sum's
    ordering can flip a micro (the plans/registry.py convention).

    Scale: one partial-aggregated groupBy on source + one broadcast of
    the |sources|-row total; the weights table is dimension-sized.
    """
    if alpha < 0:
        raise ValueError("alpha must be non-negative")
    mass = (F.count(F.lit(1)) if size_col is None
            else F.sum(size_col).cast("long"))
    per = docs.groupBy(F.col(source_col).alias("source")).agg(
        mass.alias("n_size")
    )
    # ``per`` is referenced by the total, the scores, and the
    # normalizer — unstaged, each reference re-scans the corpus. The
    # staged frame is |sources| rows.
    from .checkpoints import data_barrier

    per = data_barrier(per, eager=False)
    tot = per.agg(F.sum("n_size").alias("_tot"))
    scored = per.join(F.broadcast(tot)).select(
        "source", "n_size",
        F.floor(F.col("n_size") * F.lit(1_000_000) / F.col("_tot"))
        .cast("long").alias("p_micro"),
        F.floor(
            F.pow(F.col("n_size").cast("double") / F.col("_tot"),
                  F.lit(float(alpha))) * F.lit(1e6)
        ).cast("long").alias("_pa_micro"),
    )
    norm = scored.agg(F.sum("_pa_micro").alias("_z"))
    return scored.join(F.broadcast(norm)).select(
        "source", "n_size", "p_micro",
        F.floor(F.col("_pa_micro") * F.lit(1_000_000) / F.col("_z"))
        .cast("long").alias("q_micro"),
    )


def epoch_plan(docs: DataFrame, token_budget: int, alpha: float = 0.3,
               max_epochs_micro: int = 4_000_000,
               source_col: str = "source",
               size_col: str | None = "n_chars") -> DataFrame:
    """Per-source epoch/repetition plan (M93): turn M92's
    temperature-scaled weights into a concrete sampling plan for a
    fixed token budget, with a repetition cap — the public
    data-constrained recipe (Muennighoff et al. 2023 find ~4 epochs of
    repetition near-free, rapidly decaying after) every mixture that
    up-samples small sources needs.

    Per source: ``requested = floor(budget · q_s)``;
    ``epochs = requested / available`` (integer micros); sources whose
    requested repetition exceeds ``max_epochs_micro`` are CAPPED at
    ``floor(available · max_epochs)`` and flagged, so the training
    loader can redistribute or shrink the run. All arithmetic is
    integer micros (exactness bound: ``budget · 1e6 < 2⁶³``, i.e.
    budgets up to ~9·10¹² units).

    Output per source: ``n_size`` (available mass), ``q_micro``
    (sampling weight), ``requested_tokens``, ``epochs_micro``
    (requested/available), ``granted_tokens``, ``capped`` (0/1).

    Scale: inherits :func:`temperature_mix_weights`' single
    partial-aggregated groupBy; everything after is arithmetic on the
    |sources|-row weights table.
    """
    if token_budget <= 0:
        raise ValueError("token_budget must be positive")
    if max_epochs_micro <= 0:
        raise ValueError("max_epochs_micro must be positive")
    w = temperature_mix_weights(docs, alpha=alpha, source_col=source_col,
                                size_col=size_col)
    req = F.floor(F.lit(token_budget) * F.col("q_micro") / F.lit(1_000_000)
                  ).cast("long")
    cap = F.floor(F.col("n_size") * F.lit(max_epochs_micro)
                  / F.lit(1_000_000)).cast("long")
    return w.select(
        "source", "n_size", "q_micro",
        req.alias("requested_tokens"),
        # when-guard, not coalesce: ANSI raises on x/0 before
        # null-handling could apply. A zero-mass source (all-empty
        # texts) reports NULL epochs: requested > 0 over 0 available
        # has no finite epoch count; granted stays 0 and capped flags.
        F.when(F.col("n_size") > 0,
               F.floor(req * F.lit(1_000_000) / F.col("n_size")))
        .cast("long").alias("epochs_micro"),
        F.least(req, cap).alias("granted_tokens"),
        (req > cap).cast("int").alias("capped"),
    )


def unimax_plan(docs: DataFrame, token_budget: int,
                max_epochs_micro: int = 4_000_000,
                source_col: str = "source",
                size_col: str = "n_chars") -> DataFrame:
    """UniMax budget allocation with water-filling redistribution
    (M113; Chung et al. 2023, "UniMax: Fairer and More Effective
    Language Sampling for Large-Scale Multilingual Pretraining",
    ICLR — the closed-form water-filling equivalent of their
    budget-scan loop).

    :func:`epoch_plan` (M93) caps over-repeated sources and FLAGS the
    lost budget; UniMax closes that loop — budget a capped source
    cannot absorb flows to the still-open ones, so the plan spends the
    whole budget whenever ``Σ cap_s ≥ B`` and every source stays
    within its repetition cap. Semantics: allocate each source
    ``a_s = min(cap_s, λ)`` with the water level ``λ`` chosen so
    ``Σ a_s = B`` (all-integer largest-remainder variant below), where
    ``cap_s = ⌊n_s · max_epochs_micro / 10⁶⌋``.

    Closed form, all integer: sort sources ascending by
    ``(cap, source)``. A source ``j`` (rank ``rn``, running cap sum
    ``pfx``) is UNDER the water level iff
    ``cap_j·(S−rn+1) + (pfx−cap_j) ≤ B`` — ascending caps make the
    capped set a prefix of the order, so with ``K`` capped rows
    absorbing ``pfx_K`` tokens, the remaining ``R = B − pfx_K`` splits
    over ``m = S − K`` open sources as ``base = R div m`` each, the
    first ``R mod m`` of them (in the same order) taking one extra
    token. No float can flip an allocation, and ``Σ alloc = B``
    exactly when feasible: for every open source
    ``cap_j > (B − pfx_{j−1})/(S−j+1) ≥ R/m``, hence
    ``cap_j ≥ base + 1`` — the extra token never breaches a cap.

    Output per source: ``n_size`` (available mass), ``cap_tokens``,
    ``alloc_tokens``, ``capped`` (1 = allocation pinned at the
    repetition cap), ``epochs_micro`` (``⌊alloc·10⁶/n_size⌋``, NULL
    for an empty source), and ``short_tokens`` (the same
    ``max(0, B − Σcap)`` on every row — nonzero means the budget is
    infeasible even at the cap and the run must shrink).

    Scale: one partial-aggregated groupBy builds the |sources|-row
    caps table; both windows (the ascending-cap prefix and the global
    totals) run over that aggregate — the plan-audit bounded-global-
    window shape (tests/test_plan_audit.py GLOBAL_WINDOW_BOUNDED), not
    a row-scale sort. Overflow bound: ``cap·S + B < 2⁶³`` — caps to
    ~4·10¹⁵ tokens across ~1000 sources.
    """
    if token_budget < 0:
        raise ValueError("token_budget must be non-negative")
    if max_epochs_micro <= 0:
        raise ValueError("max_epochs_micro must be positive")
    b = F.lit(int(token_budget))
    agg = docs.groupBy(source_col).agg(
        F.coalesce(F.sum(size_col), F.lit(0)).cast("long").alias("n_size")
    )
    word = W.orderBy("cap_tokens", source_col)
    wall = W.partitionBy().rowsBetween(W.unboundedPreceding,
                                       W.unboundedFollowing)
    # integer `div`, not floor(double): at 100 TB the products exceed
    # 2^53 and a double-division floor can be off by one.
    caps = agg.select(
        source_col, "n_size",
        F.expr(f"(n_size * {int(max_epochs_micro)}L) div 1000000L")
        .cast("long").alias("cap_tokens"),
    )
    ranked = caps.select(
        source_col, "n_size", "cap_tokens",
        F.row_number().over(word).alias("_rn"),
        F.sum("cap_tokens").over(
            word.rowsBetween(W.unboundedPreceding, 0)).alias("_pfx"),
        F.count(F.lit(1)).over(wall).alias("_s"),
    )
    under = (F.col("cap_tokens") * (F.col("_s") - F.col("_rn") + 1)
             + F.col("_pfx") - F.col("cap_tokens")) <= b
    lev = ranked.select(
        source_col, "n_size", "cap_tokens", "_rn", "_s",
        under.cast("long").alias("_cap1"),
        F.sum(under.cast("long")).over(wall).alias("_k"),
        F.sum(F.when(under, F.col("cap_tokens")).otherwise(F.lit(0)))
        .over(wall).alias("_pk"),
    ).select(
        source_col, "n_size", "cap_tokens", "_rn", "_cap1",
        (b - F.col("_pk")).alias("_r"),
        (F.col("_s") - F.col("_k")).alias("_m"),
        (F.col("_rn") - F.col("_k")).alias("_urank"),
    )
    # when-guards on _m: with every source capped (_m = 0) the open-
    # source branch is never taken, but ANSI raises on div/mod-by-zero
    # eagerly enough that the guard must be explicit.
    base = F.when(F.col("_m") > 0, F.expr("_r div _m")).otherwise(F.lit(0))
    extra = F.when(
        F.col("_m") > 0,
        (F.col("_urank") <= F.col("_r") % F.col("_m")).cast("long"),
    ).otherwise(F.lit(0))
    alloc = F.when(F.col("_cap1") == 1, F.col("cap_tokens")).otherwise(
        base + extra)
    return lev.select(
        source_col, "n_size", "cap_tokens",
        alloc.alias("alloc_tokens"),
        F.col("_cap1").alias("capped"),
        F.greatest(
            F.lit(0),
            F.when(F.col("_m") == 0, F.col("_r")).otherwise(F.lit(0)),
        ).cast("long").alias("short_tokens"),
    ).select(
        source_col, "n_size", "cap_tokens", "alloc_tokens", "capped",
        F.when(F.col("n_size") > 0,
               F.expr("(alloc_tokens * 1000000L) div n_size"))
        .cast("long").alias("epochs_micro"),
        "short_tokens",
    )


def domain_quota_topk(docs: DataFrame, domain_col: str, quota: int,
                      order_col: str, id_col: str = "doc_id",
                      pre_rank_buckets: int = 16) -> DataFrame:
    """Per-domain document cap (M154 governance — the C4/CommonCrawl
    practice of bounding any one registrable domain's share of the
    corpus): keep the top ``quota`` rows per domain by ``order_col``
    (quality score, recency, …), deterministic via the ``id_col``
    tiebreak.

    Skew governance (VERDICT r9): row_number top-k is DECOMPOSABLE —
    any row in a domain's global top-``quota`` is in the top-``quota``
    of whatever subset it lands in — so a pre-rank phase over
    (domain, hash(id) % ``pre_rank_buckets``) keeps a local
    top-``quota`` per salt bucket first, bounding what reaches the
    final per-domain ranking at ``pre_rank_buckets × quota`` rows even
    when one mega-domain is 10% of a 100 TB crawl (the single-reducer
    pattern the engine's skew module exists to prevent). The result is
    bit-identical to the single-window form (parity test-pinned);
    ``pre_rank_buckets=0`` disables the pre-rank and runs the plain
    one-exchange window for quota·buckets-sized inputs where a second
    exchange costs more than the skew protects."""
    w = W.partitionBy(domain_col).orderBy(F.desc(order_col),
                                          F.asc(id_col))
    if pre_rank_buckets:
        w1 = W.partitionBy(domain_col, "_salt").orderBy(
            F.desc(order_col), F.asc(id_col))
        docs = (
            docs.withColumn(
                "_salt",
                F.pmod(F.xxhash64(F.col(id_col)),
                       F.lit(pre_rank_buckets)))
            .withColumn("_rn", F.row_number().over(w1))
            .filter(F.col("_rn") <= quota)
            .drop("_salt", "_rn")
        )
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= quota)
        .drop("_rn")
    )


def domain_blocklist_filter(docs: DataFrame, domain_col: str,
                            blocklist: DataFrame) -> DataFrame:
    """Drop every row whose registrable domain appears in a blocklist
    table (first column = domain). Broadcast LEFT ANTI join — the
    blocklist is dimension-sized, the corpus never shuffles."""
    dom = blocklist.columns[0]
    return docs.join(
        F.broadcast(blocklist.select(F.col(dom).alias(domain_col))
                    .distinct()),
        domain_col, "left_anti")
