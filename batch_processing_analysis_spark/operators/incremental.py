"""Incremental corpus merge (M32 scale extension): ingest a delta batch
against an already-deduplicated base corpus WITHOUT re-deduplicating the
base — the shape every periodically-refreshed 100 TB training corpus
needs (re-running all-pairs dedup per ingest is quadratic in ingest
count; incremental is linear in |delta|).

- **exact**: the base contributes only its content-hash registry (at
  scale: a persisted/bucketed hash table, NOT a rescan of base text);
  the delta is deduplicated within itself, then anti-joined against the
  registry. Pure equi-joins on the 128-bit hash.
- **exact near-dup joins** (PPJoin Jaccard, containment, Pass-Join
  edit distance): candidates come from joins that pin one side to the
  delta — the base×base pair join, the dominant cost of a batch
  re-run, is never built. Each output is EXACTLY the batch operator's
  on base∪delta minus the pairs internal to base
  (tests/test_incremental.py and its siblings prove the identities).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .checkpoints import data_barrier
from .dedup import exact_dedup


class OverlappingIdsError(ValueError):
    """An id appears in BOTH base and delta of an exact increment
    operator. The increments' flag/union construction would double
    that id's token multiset and silently shrink its similarity
    ratios — the one misuse path the r7 operators documented but did
    not police (ADVICE r7). Raised by the opt-in
    ``check_disjoint_ids`` guard; route re-ingested ids through
    :func:`corpus_diff` / the exact-hash registry first."""


def _check_disjoint_ids(base: DataFrame, delta: DataFrame, id_col: str,
                        op: str) -> None:
    """Opt-in loud-failure guard: one LEFT SEMI join on the id column,
    short-circuited by ``limit(1)`` — cost is a narrow hash join over
    ids only (no text moves), negligible next to the pair join it
    protects."""
    overlap = (
        delta.select(id_col).join(base.select(id_col), id_col,
                                  "left_semi").limit(1).collect()
    )
    if overlap:
        raise OverlappingIdsError(
            f"{op}: id {overlap[0][0]!r} is present in BOTH base and "
            f"delta — the increment would double its token multiset "
            f"and shrink its similarity ratios. Deduplicate ids first "
            f"(corpus_diff / merge_exact_increment)."
        )


def content_hash(text: Column) -> Column:
    """The exact-dedup content key: md5 of whitespace-normalized
    lowercase text (identical to :func:`dedup.exact_dedup`)."""
    return F.md5(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")))


def merge_exact_increment(base: DataFrame, delta: DataFrame,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Base ∪ (delta rows surviving incremental exact dedup), with a
    ``origin`` provenance column ('base' | 'delta').

    A delta row survives iff it is the canonical (min-id) row of its
    content-hash cluster WITHIN delta and its hash is unseen in base.
    Base rows pass through untouched — the invariant that makes ingest
    idempotent and the base immutable. Schemas must match.

    Scale: base is touched only to produce its distinct hash registry
    (one map-side-combinable aggregate — or, operationally, a persisted
    registry table reused across ingests); everything pairwise happens
    within the (small) delta.
    """
    registry = base.select(
        content_hash(F.col(text_col)).alias("content_hash")
    ).distinct()
    canon = exact_dedup(delta, id_col, text_col).filter(
        F.col("is_canonical") == 1
    ).select(id_col, "content_hash")
    kept = (
        delta.join(canon, id_col)
        .join(registry, "content_hash", "left_anti")
        .drop("content_hash")
    )
    return base.withColumn("origin", F.lit("base")).unionByName(
        kept.withColumn("origin", F.lit("delta"))
    )


def ppjoin_increment_pairs(base: DataFrame, delta: DataFrame,
                           id_col: str = "doc_id",
                           text_col: str = "text", t_pct: int = 50,
                           k: int = 3,
                           max_candidates: int | None = None,
                           check_disjoint_ids: bool = False) -> DataFrame:
    """EXACT incremental PPJoin (M122): every pair with Jaccard ≥
    ``t_pct/100`` and AT LEAST ONE side in ``delta`` (VERDICT r5
    stretch 8), so the periodically-refreshed corpus keeps a provably-complete
    near-dup answer without re-running the base×base join per ingest.

    Same prefix-filter theorem as :func:`dedup.ppjoin_pairs`
    (SSJoin/PPJoin, public), with two incremental adaptations:

    - **df order over the UNION.** The theorem holds for ANY fixed
      global token order, but both sides of one run must use the same
      one; document frequency is recomputed over base ∪ delta each
      ingest (one partial-aggregable count — at scale the base's
      (gid, shingle-hash) rows are a persisted bucketed table, so the
      recount is a scan of narrow stored rows, never a re-shingling
      of base text).
    - **symmetric prefix TABLES, per-pair index condition.** The
      batch operator's probe/index asymmetry assigns prefix lengths
      by pair roles (smaller record indexes); with one side pinned to
      delta the roles vary per pair, so both TABLES carry the basic
      bound ``L − ⌈t·L⌉ + 1`` and the JOIN CONDITION tightens the
      matched row to the smaller side's index bound
      ``L − ⌈2t/(1+t)·L⌉ + 1`` — the same candidate cut as the batch
      asymmetric tables, zero recall loss (the theorem puts the first
      common token inside the smaller's index prefix), pure codegen.
      The positional and length filters also apply (role-free).

    The base×base stage never exists: the candidate join is
    delta-prefix ⋈ union-prefix. Identity (pinned by
    tests/test_incremental.py): output == batch ppjoin_pairs on
    base ∪ delta minus the pairs internal to base. Ids must be
    globally unique across base and delta: an id present on BOTH
    sides would double its token multiset under the side flags and
    silently shrink its prefix ratios — route re-ingested ids through
    corpus_diff / the exact registry first.

    ``max_candidates`` measures Σ_g df_delta-pfx(g)·df_union-pfx(g)
    before the join and raises :class:`dedup.CandidateVolumeExceeded`
    over budget, like the batch operator. ``check_disjoint_ids=True``
    polices the globally-unique-id contract up front
    (:class:`OverlappingIdsError`) for one cheap id semi-join.
    """
    from .dedup import (
        _check_candidate_budget,
        hash60,
        shingle_rows,
    )
    from pyspark.sql import Window as W

    if not 1 <= t_pct <= 100:
        raise ValueError(f"t_pct must be in [1, 100], got {t_pct}")
    if check_disjoint_ids:
        _check_disjoint_ids(base, delta, id_col, "ppjoin_increment_pairs")
    # Per-side shingling with LITERAL delta flags (r7): the r6 form
    # shingled the tagged union and JOINED the flag back on by id —
    # a full extra shuffle of the token table that the union of two
    # flagged shingle scans makes unnecessary.
    def _tok_side(side: DataFrame, flag: bool) -> DataFrame:
        lowered = side.select(F.col(id_col),
                              F.lower(F.col(text_col)).alias(text_col))
        return shingle_rows(lowered, id_col, text_col, k).select(
            F.col(id_col).alias("gid"),
            hash60(F.col("shingle")).alias("tk"),
            F.lit(flag).alias("_delta"),
        )

    tok = data_barrier(
        _tok_side(base, False).unionByName(_tok_side(delta, True))
        .distinct()
    )
    dfreq = tok.groupBy("tk").agg(F.count(F.lit(1)).alias("_df"))
    sizes = tok.groupBy("gid").agg(F.count(F.lit(1)).alias("_n"),
                                   F.first("_delta").alias("_delta"))
    # Staged: the delta prefix, the union prefix, the guard's bound
    # aggregate, and the verify's set arrays all derive from ranked
    # (the ppjoin_pairs pattern — without it each consumer re-runs the
    # df join + rank window; measured 96 s vs ~45 s at the sf1
    # blow-up). A window-count form of _df/_n was built and
    # A/B-measured in r12: slower (see ppjoin_pairs).
    ranked = (
        tok.drop("_delta")
        .join(dfreq, "tk")
        .join(sizes, "gid")
        .withColumn("_rn", F.row_number().over(
            W.partitionBy("gid").orderBy("_df", "tk")))
    )
    ranked = data_barrier(ranked)
    ceil_tl = F.floor((F.lit(t_pct) * F.col("_n") + F.lit(99)) / F.lit(100))
    is_pfx = F.col("_rn") <= F.col("_n") - ceil_tl + 1
    pfx_all = ranked.filter(is_pfx).select(
        "gid", "tk", "_n", "_rn", "_delta")
    pfx_delta = pfx_all.filter(F.col("_delta"))
    if max_candidates is not None:
        # Σ_tk ca·cb in ONE aggregate pass over ranked (both prefix
        # memberships are row-local predicates); the r11 shape ran two
        # aggregate passes and a join. Same bound, bit-exact.
        dpfx = is_pfx & F.col("_delta")
        bound = (
            ranked.groupBy("tk").agg(
                F.sum(dpfx.cast("long")).alias("_ca"),
                F.sum(is_pfx.cast("long")).alias("_cb"))
            .agg(F.sum(F.col("_ca") * F.col("_cb")).alias("_b"))
            .collect()[0]["_b"]
        ) or 0
        _check_candidate_budget(
            int(bound), max_candidates, "ppjoin_increment_pairs",
            "dedup.lsh_candidate_pairs (probabilistic recall)",
        )
    a, b = pfx_delta.alias("a"), pfx_all.alias("b")
    ubound = (F.least(F.col("a._rn"), F.col("b._rn"))
              + F.least(F.col("a._n") - F.col("a._rn"),
                        F.col("b._n") - F.col("b._rn")))

    # Per-PAIR index-prefix condition (recovers the probe/index
    # asymmetry that delta-pinning forbids at the TABLE level): the
    # theorem puts a qualifying pair's first common token inside the
    # SMALLER record's index prefix (n − ⌈2t/(1+t)·n⌉ + 1) and the
    # larger's probe prefix. Both sides carry full probe prefixes; the
    # join condition tightens the matched row to the smaller side's
    # index bound — same candidate cut as the batch operator's
    # asymmetric tables, zero recall loss, pure codegen.
    def ceil_ix(n):
        return F.floor((F.lit(2 * t_pct) * n
                        + F.lit(100 + t_pct - 1)) / F.lit(100 + t_pct))

    ix_a = F.col("a._n") - ceil_ix(F.col("a._n")) + 1
    ix_b = F.col("b._n") - ceil_ix(F.col("b._n")) + 1
    b_smaller = (
        (F.col("b._n") < F.col("a._n"))
        | ((F.col("b._n") == F.col("a._n"))
           & (F.col("b.gid") < F.col("a.gid")))
    )
    idx_cond = F.when(b_smaller, F.col("b._rn") <= ix_b) \
        .otherwise(F.col("a._rn") <= ix_a)
    cand = (
        a.join(
            b,
            (F.col("a.tk") == F.col("b.tk"))
            & (F.col("a.gid") != F.col("b.gid"))
            & (F.col("b._n") * 100 >= F.lit(t_pct) * F.col("a._n"))
            & (F.col("a._n") * 100 >= F.lit(t_pct) * F.col("b._n"))
            & idx_cond
            & (ubound * (100 + t_pct)
               >= F.lit(t_pct) * (F.col("a._n") + F.col("b._n"))),
        )
        .select(F.least(F.col("a.gid"), F.col("b.gid")).alias("id_a"),
                F.greatest(F.col("a.gid"), F.col("b.gid")).alias("id_b"))
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


def _containment_cand(pfx_side: DataFrame, all_side: DataFrame,
                      c_pct: int) -> DataFrame:
    """Containment candidate join (A-prefix ⋈ B-all-tokens + size
    filter): frames carry ``(gid, tk, n)``. Shared by both incremental
    variants so the predicate exists once."""
    a, b = pfx_side.alias("a"), all_side.alias("b")
    return (
        a.join(
            b,
            (F.col("a.tk") == F.col("b.tk"))
            & (F.col("a.gid") != F.col("b.gid"))
            & (F.col("b.n") * 100 >= F.lit(c_pct) * F.col("a.n")),
        )
        .select(F.col("a.gid").alias("id_a"),
                F.col("b.gid").alias("id_b"))
    )


def _containment_verify(cand: DataFrame, sets_all: DataFrame,
                        c_pct: int) -> DataFrame:
    """Vernica array-intersect verify for ORDERED containment pairs:
    ``sets_all`` carries ``(gid, set, n)``; the ratio denominator is
    the contained (id_a) side's size. Shared by both incremental
    variants so the cont_micro formula exists once."""
    va = sets_all.select(F.col("gid").alias("id_a"),
                         F.col("set").alias("_seta"),
                         F.col("n").alias("_na"))
    vb = sets_all.select(F.col("gid").alias("id_b"),
                         F.col("set").alias("_setb"))
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


def containment_increment_pairs(base: DataFrame, delta: DataFrame,
                                id_col: str = "doc_id",
                                text_col: str = "text", c_pct: int = 80,
                                k: int = 3,
                                max_candidates: int | None = None,
                                check_disjoint_ids: bool = False
                                ) -> DataFrame:
    """EXACT incremental containment join (M142): every ORDERED pair
    ``(id_a ⊆-ish id_b)`` with ``|A∩B| ≥ (c_pct/100)·|A|`` and AT
    LEAST ONE side in ``delta`` — :func:`ppjoin_increment_pairs`'s
    asymmetric sibling, completing the incremental story for the
    quote/subset join (VERDICT r6 task 3 family). Identity: output ==
    batch :func:`dedup.containment_pairs` on base ∪ delta minus its
    base-internal pairs (pinned by tests/test_containment_increment.py).

    The containment prefix principle (see :func:`dedup.
    containment_pairs`) holds for ANY fixed global token order, and
    only the CONTAINED side can be prefix-shortened — the index side
    joins all tokens. Delta-touching ordered pairs therefore come from
    exactly two joins, neither of which is base×base:

    - ``pfx(delta) ⋈ all(base ∪ delta)`` — delta docs contained in
      anything;
    - ``pfx(base) ⋈ all(delta)`` — base docs contained in delta docs
      (the base side is prefix-FILTERED rows only, and the all-tokens
      side is the small delta).

    Ids must be globally unique across base and delta: an id present
    on BOTH sides would double its token multiset under the side flags
    and silently shrink its containment ratios — route re-ingested ids
    through corpus_diff / the exact registry first.

    ``max_candidates`` measures both joins' Σ df·df bounds before
    either runs, like the batch operator.
    """
    from pyspark.sql import Window as W

    from .dedup import (
        _check_candidate_budget,
        hash60,
        shingle_rows,
    )

    if not 1 <= c_pct <= 100:
        raise ValueError(f"c_pct must be in [1, 100], got {c_pct}")
    if check_disjoint_ids:
        _check_disjoint_ids(base, delta, id_col,
                            "containment_increment_pairs")
    # Per-side shingling with literal flags — see
    # ppjoin_increment_pairs (same r7 shuffle removal).
    def _tok_side(side: DataFrame, flag: bool) -> DataFrame:
        lowered = side.select(F.col(id_col),
                              F.lower(F.col(text_col)).alias(text_col))
        return shingle_rows(lowered, id_col, text_col, k).select(
            F.col(id_col).alias("gid"),
            hash60(F.col("shingle")).alias("tk"),
            F.lit(flag).alias("_delta"),
        )

    tok = data_barrier(
        _tok_side(base, False).unionByName(_tok_side(delta, True))
        .distinct()
    )
    dfreq = tok.groupBy("tk").agg(F.count(F.lit(1)).alias("_df"))
    sizes = tok.groupBy("gid").agg(F.count(F.lit(1)).alias("_n"),
                                   F.first("_delta").alias("_delta"))
    # Join-based rank build (window-count form A/B-measured slower —
    # see ppjoin_pairs); the one-pass guard and the ranked-derived
    # all_union/sets below are the r12 changes.
    ranked = (
        tok.drop("_delta")
        .join(dfreq, "tk")
        .join(sizes, "gid")
        .withColumn("_rn", F.row_number().over(
            W.partitionBy("gid").orderBy("_df", "tk")))
    )
    ranked = data_barrier(ranked)
    ceil_cl = F.floor((F.lit(c_pct) * F.col("_n") + F.lit(99)) / F.lit(100))
    is_pfx = F.col("_rn") <= F.col("_n") - ceil_cl + 1
    pfx_all = ranked.filter(is_pfx).select(
        "gid", "tk", F.col("_n").alias("n"), "_delta")
    pfx_delta = pfx_all.filter(F.col("_delta"))
    pfx_base = pfx_all.filter(~F.col("_delta"))
    all_union = ranked.select("gid", "tk", F.col("_n").alias("n"),
                              "_delta")
    all_delta = all_union.filter(F.col("_delta"))
    if max_candidates is not None:
        # Both joins' bounds in ONE aggregate pass over ranked —
        # Σ_tk (pfx_delta·all_union + pfx_base·all_delta); all four
        # per-token counts are conditional sums of row-local
        # predicates (the r11 shape ran two aggregate passes and a
        # join). Same bound, bit-exact.
        dflag = F.col("_delta").cast("long")
        bound = (
            ranked.groupBy("tk").agg(
                F.sum(F.when(is_pfx, dflag).otherwise(F.lit(0)))
                .alias("_cad"),
                F.sum(F.when(is_pfx, 1 - dflag).otherwise(F.lit(0)))
                .alias("_cab"),
                F.count(F.lit(1)).alias("_cu"),
                F.sum(dflag).alias("_cud"))
            .agg(F.sum(F.col("_cad") * F.col("_cu")
                       + F.col("_cab") * F.col("_cud")).alias("_b"))
            .collect()[0]["_b"] or 0
        )
        _check_candidate_budget(
            int(bound), max_candidates, "containment_increment_pairs",
            "dedup.lsh_candidate_pairs (probabilistic recall)",
        )

    cand = (
        _containment_cand(pfx_delta, all_union, c_pct)
        .unionByName(_containment_cand(pfx_base, all_delta, c_pct))
        .distinct()
    )
    sets_arr = ranked.select("gid", "tk").groupBy("gid").agg(
        F.collect_list("tk").alias("set"),
        F.count(F.lit(1)).alias("n"),
    )
    return _containment_verify(cand, sets_arr, c_pct)


__all__ = [
    "OverlappingIdsError",
    "content_hash",
    "merge_exact_increment",
    "ppjoin_increment_pairs",
    "containment_increment_pairs",
    "edjoin_increment_pairs",
]


def corpus_diff(old: DataFrame, new: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Snapshot reconciliation between two corpus versions: one row per
    doc id in either snapshot with ``status`` ∈ {added, removed,
    changed, unchanged} — the audit report an ingest pipeline emits per
    release. Comparison is by the exact-dedup content hash (whitespace/
    case-normalized), so formatting-only edits read as ``unchanged``.

    One full outer join on the id; content hashes are narrow
    expressions — no text ever shuffles (hashes do).
    """
    o = old.select(F.col(id_col), content_hash(F.col(text_col)).alias("_ho"))
    n = new.select(F.col(id_col), content_hash(F.col(text_col)).alias("_hn"))
    return o.join(n, id_col, "full_outer").select(
        id_col,
        F.when(F.col("_ho").isNull(), F.lit("added"))
        .when(F.col("_hn").isNull(), F.lit("removed"))
        .when(F.col("_ho") == F.col("_hn"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    )


def edjoin_increment_pairs(base: DataFrame, delta: DataFrame,
                           id_col: str = "doc_id",
                           text_col: str = "text", d: int = 10,
                           q: int = 4,
                           max_candidates: int | None = None,
                           check_disjoint_ids: bool = False
                           ) -> DataFrame:
    """EXACT incremental edit-distance join (M145): every pair with
    ``levenshtein ≤ d`` and AT LEAST ONE side in ``delta`` —
    completing the incremental trio (Jaccard M122, containment M142,
    edit distance M145) so every exact content-keyed join the engine
    offers has a never-rebuild-base×base ingest path. Identity:
    output == batch :func:`dedup.edjoin_pairs` on base ∪ delta minus
    its base-internal pairs (tests/test_edjoin_increment.py).

    Pass-Join decomposition (see :func:`dedup.edjoin_pairs` — the
    chunk side is always the SHORTER string, so delta-touching pairs
    come from exactly two equi-joins, neither base×base):

    - ``chunks(delta) ⋈ substrings(base ∪ delta)`` — delta doc is the
      shorter side (its partner may be anywhere);
    - ``chunks(base) ⋈ substrings(delta)`` — base doc shorter, delta
      partner.

    The short-string tiny bucket needs only ONE banded join,
    ``probe(delta) ⋈ tiny(base ∪ delta)``: the ±1 band explode is
    symmetric, so probing from the delta side alone reaches every
    within-d partner. ``max_candidates`` measures all three joins'
    key-count bounds before any runs.
    """
    from .dedup import (
        _check_candidate_budget,
        passjoin_chunk_rows,
        passjoin_substring_rows,
    )

    if d < 0:
        raise ValueError(f"d must be non-negative, got {d}")
    if q < 2:
        raise ValueError(f"q must be >= 2, got {q}")
    if check_disjoint_ids:
        _check_disjoint_ids(base, delta, id_col, "edjoin_increment_pairs")
    cutoff = q * d + q - 1
    t_b = data_barrier(base.select(F.col(id_col), F.col(text_col))
                       .withColumn("_len", F.length(text_col)))
    t_d = data_barrier(delta.select(F.col(id_col), F.col(text_col))
                       .withColumn("_len", F.length(text_col)))
    # Only t_b/t_d (small: id, text, len) persist; the chunk/substring
    # frames are cheap explodes with ≤2 consumers each (one guard
    # aggregate on raw lineage + one candidate join) — checkpointing
    # the ~|docs|·O(d²)-row substring frames pinned storage memory
    # against the guard's own aggregate at probe scale (the q165 ×100
    # OOM; SURVEY §6.1d-r8, same cure as dedup.edjoin_pairs).
    ch_d = passjoin_chunk_rows(t_d, id_col, text_col, d)
    ch_b = passjoin_chunk_rows(t_b, id_col, text_col, d)
    sub_d = passjoin_substring_rows(t_d, id_col, text_col, d)
    sub_u = sub_d.unionByName(
        passjoin_substring_rows(t_b, id_col, text_col, d)
    )

    tiny_u = (
        t_b.select(F.col(id_col), "_len")
        .unionByName(t_d.select(F.col(id_col), "_len"))
        .filter(F.col("_len") <= cutoff)
        .withColumn("_band", F.expr(f"_len div {d + 1}"))
    )
    probe_d = t_d.filter(F.col("_len") <= cutoff).select(
        F.col(id_col), F.col("_len"),
        F.explode(F.array(
            F.expr(f"_len div {d + 1}") - 1,
            F.expr(f"_len div {d + 1}"),
            F.expr(f"_len div {d + 1}") + 1)).alias("_band"),
    )
    nparts = None
    if max_candidates is not None:
        def _pass_bound_df(ch, sub):
            cc = ch.groupBy("_ck", "_lc", "_i").agg(
                F.count(F.lit(1)).alias("_cc"))
            cs = sub.groupBy("_ck", "_lx", "_i").agg(
                F.count(F.lit(1)).alias("_cs"))
            return (
                cc.join(cs, (F.col("_lc") == F.col("_lx"))
                        & (cc["_ck"] == cs["_ck"])
                        & (cc["_i"] == cs["_i"]))
                .agg(F.sum(F.col("_cc") * F.col("_cs")).alias("_b"))
            )

        tc = tiny_u.groupBy("_band").agg(F.count(F.lit(1)).alias("_c"))
        pc = probe_d.groupBy("_band").agg(F.count(F.lit(1)).alias("_cp"))
        bound_tiny_df = (
            pc.join(tc, "_band")
            .agg(F.sum(F.col("_cp") * F.col("_c")).alias("_b"))
        )
        # All three bound aggregates in ONE job (previously three
        # sequential collect round-trips, each a full pass over its
        # chunk/substring explode — the guard measured as HALF of
        # q165's runtime at sf0.1: 7.28 s guarded vs 3.53 s
        # unguarded). The union runs the independent subtrees
        # concurrently (guide §2.6) and pays one driver trip. Still
        # raw-lineage: nothing is materialized on the refusal path
        # (the §6.1d-r8 OOM constraint is untouched). A side-tagged
        # single-aggregation form (one shuffle, no count join) was
        # built and A/B-measured in r12: WORSE — the near-unique-key
        # hash aggregate with four sum buffers loses to the old
        # shape's streaming sort-merge sum over co-partitioned count
        # tables (48.6 s vs 42.5 s executor; OPTIMIZATION_r12.md).
        parts = [_pass_bound_df(ch_d, sub_u), _pass_bound_df(ch_b, sub_d),
                 bound_tiny_df]
        tagged = parts[0].select(F.lit(0).alias("_k"), "_b")
        for i, p in enumerate(parts[1:], start=1):
            tagged = tagged.unionByName(
                p.select(F.lit(i).alias("_k"), "_b"))
        bound_total = sum(int(r["_b"] or 0) for r in tagged.collect())
        _check_candidate_budget(
            bound_total,
            max_candidates, "edjoin_increment_pairs",
            "dedup.lsh_candidate_pairs (probabilistic recall)",
        )
        from .dedup import sized_partitions_for_bound

        nparts = sized_partitions_for_bound(base.sparkSession,
                                            bound_total)

    # Guard passed — NOW persist the one frame the candidate joins
    # read twice: sub_d feeds _pass_cand(ch_b, sub_d) directly and
    # _pass_cand(ch_d, sub_u) via the union. ch_d/ch_b/sub_u each have
    # a single consumer below (the guard above read the pre-checkpoint
    # lineage), so persisting them buys no reuse and re-pins the
    # storage this restructure exists to free. Checkpointing after the
    # guard keeps the refusal path storage-free while the happy path
    # regains the join-side reuse (the 1.4× q165 drift when the r8
    # restructure dropped these outright — measured,
    # BENCH_local_r08_sf01).
    sub_d = data_barrier(sub_d)
    sub_u = sub_d.unionByName(
        passjoin_substring_rows(t_b, id_col, text_col, d))
    if nparts is not None:
        # Size the candidate joins from the measured bound (VERDICT r8
        # task 3 — see dedup.sized_partitions_for_bound): each side
        # repartitioned on its own equi keys with one partition count,
        # so the pass joins stay co-partitioned with ~bounded rows per
        # task instead of bound/session_partitions.
        sub_u = sub_u.repartition(nparts, "_ck", "_i", "_lx")
        sub_d = sub_d.repartition(nparts, "_ck", "_i", "_lx")
        ch_d = ch_d.repartition(nparts, "_ck", "_i", "_lc")
        ch_b = ch_b.repartition(nparts, "_ck", "_i", "_lc")

    def _pass_cand(ch, sub) -> DataFrame:
        return (
            sub.join(
                ch,
                (sub["_ck"] == ch["_ck"]) & (sub["_i"] == ch["_i"])
                & (F.col("_lx") == F.col("_lc")),
            )
            .filter((F.col("_ly") > F.col("_lc"))
                    | ((F.col("_ly") == F.col("_lc"))
                       & (F.col("_gc") < F.col("_gs"))))
            .select(F.least("_gc", "_gs").alias("id_a"),
                    F.greatest("_gc", "_gs").alias("id_b"))
        )

    pa, pb = probe_d.alias("pa"), tiny_u.alias("pb")
    cand_tiny = pa.join(
        pb,
        (F.col("pa._band") == F.col("pb._band"))
        & (F.col(f"pa.{id_col}") != F.col(f"pb.{id_col}"))
        & (F.abs(F.col("pa._len") - F.col("pb._len")) <= d),
    ).select(
        F.least(F.col(f"pa.{id_col}"), F.col(f"pb.{id_col}"))
        .alias("id_a"),
        F.greatest(F.col(f"pa.{id_col}"), F.col(f"pb.{id_col}"))
        .alias("id_b"),
    )
    cand = (
        _pass_cand(ch_d, sub_u)
        .unionByName(_pass_cand(ch_b, sub_d))
        .unionByName(cand_tiny)
    )
    if nparts is not None:
        # Sized dedup + verify exchanges — see dedup.edjoin_pairs.
        cand = cand.repartition(nparts, "id_a", "id_b").distinct() \
            .repartition(nparts, "id_a")
    else:
        cand = cand.distinct()
    t_u = t_b.unionByName(t_d)
    lev = F.levenshtein(F.col("_ta"), F.col("_tb"), d)
    joined = cand.join(t_u.select(F.col(id_col).alias("id_a"),
                                  F.col(text_col).alias("_ta")), "id_a")
    if nparts is not None:
        joined = joined.repartition(nparts, "id_b")
    return (
        joined
        .join(t_u.select(F.col(id_col).alias("id_b"),
                         F.col(text_col).alias("_tb")), "id_b")
        .select("id_a", "id_b", lev.cast("long").alias("dist"))
        .filter(F.col("dist") >= 0)
    )

