"""The mergeable-sketch family: count-min (M67, frequency), exact
heavy hitters (M112), Bloom (M117, membership), HLL register state
(M151, cardinality), log-bucketed quantile histogram (M152).
M50's built-in HLL++/GK paths answer the same cardinality/quantile
questions as M151/M152 but return only numbers — the explicit-state
members here persist, merge across ingest waves, and carry bit-exact
DuckDB twins.

Cormode & Muthukrishnan 2005 ("An improved data stream summary: the
count-min sketch and its applications"): a depth×width counter grid;
every item increments one counter per row (bucket = hash_d(item) mod
width); the estimate is the MIN over rows — always ≥ the true count,
over by at most ≈ 2·N/width with probability 1 − 2⁻ᵈᵉᵖᵗʰ.

Why this shape at 100 TB: the sketch state is depth·width rows
REGARDLESS of vocabulary size, the build is one partial-aggregatable
groupBy over flat (d, bucket) rows (map-side combine collapses each
partition to ≤ depth·width rows before the shuffle), and two sketches
built on different data splits merge by adding counters — the
classic distributed-counting trade when exact per-key counts would
shuffle billions of distinct keys.

Hashing is the repo's portable ``hash60`` convention (md5-derived, see
operators/dedup.py:42), so a DuckDB oracle twin reproduces the grid —
and therefore every estimate — bit-for-bit. No UDFs, no arrays beyond
one depth-sized literal per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import hash60


def _bucket(item: Column, d: int, width: int) -> Column:
    """Row-``d`` bucket of ``item``: hash60(d ‖ unit-sep ‖ item) mod
    width (hash60 is non-negative, so ``pmod`` == the oracle's ``%``)."""
    return F.pmod(
        hash60(F.concat(F.lit(str(d)), F.lit("\x1f"), item.cast("string"))),
        F.lit(width),
    )


def cms_sketch(items: DataFrame, item_col: str = "item",
               depth: int = 4, width: int = 1024,
               weight_col: str | None = None) -> DataFrame:
    """Build the sketch: one row per occupied (d, bucket) counter,
    ``c`` = occurrence count (or sum of ``weight_col``) of the items
    hashing there. ≤ depth·width rows regardless of input size.
    """
    grid = items.select(
        F.explode(F.array(*[
            F.struct(F.lit(d).alias("d"),
                     _bucket(F.col(item_col), d, width).alias("bucket"))
            for d in range(depth)
        ])).alias("_db"),
        *( [F.col(weight_col).alias("_w")] if weight_col else [] ),
    ).select("_db.d", "_db.bucket", *(["_w"] if weight_col else []))
    agg = F.sum("_w") if weight_col else F.count(F.lit(1))
    return grid.groupBy("d", "bucket").agg(agg.alias("c"))


def cms_estimate(sketch: DataFrame, queries: DataFrame,
                 item_col: str = "item",
                 depth: int = 4, width: int = 1024) -> DataFrame:
    """Point-query the sketch: per distinct query item, ``est`` =
    min over rows of its bucket counter (0 where the bucket is
    empty). ``depth``/``width`` MUST match the build. The sketch side
    is ≤ depth·width rows — Spark broadcasts it; the query side never
    shuffles.
    """
    q = queries.select(item_col).distinct()
    qe = q.select(
        F.col(item_col),
        F.explode(F.array(*[
            F.struct(F.lit(d).alias("d"),
                     _bucket(F.col(item_col), d, width).alias("bucket"))
            for d in range(depth)
        ])).alias("_db"),
    ).select(item_col, "_db.d", "_db.bucket")
    return (
        qe.join(F.broadcast(sketch), ["d", "bucket"], "left")
        .groupBy(item_col)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("est"))
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two sketches built with the SAME (depth, width): counters
    add. This is what makes the sketch distributive — per-day / per-
    split sketches combine without touching the raw data again."""
    return (
        a.unionByName(b)
        .groupBy("d", "bucket")
        .agg(F.sum("c").alias("c"))
    )


def exact_heavy_hitters(items: DataFrame, item_col: str = "item",
                        k: int = 100) -> DataFrame:
    """Two-pass EXACT heavy hitters without a full-cardinality shuffle
    (M112; Misra & Gries 1982 "Finding repeated elements"; merge rule
    and mergeability bound from Agarwal et al. 2012, "Mergeable
    summaries").

    Returns ``(item_col, n)`` — the EXACT occurrence count of every
    item whose global count strictly exceeds ``N/(k+1)`` — without
    ever shuffling the full item cardinality:

    - **Pass 1** (``mapInPandas``, Arrow-batched): each partition
      folds its batches into a Misra-Gries summary of ``k`` counters
      (add each batch's value_counts, then truncate by subtracting the
      (k+1)-th largest counter and dropping ≤0 — at most ``k`` values
      can sit strictly above that cut). MG's guarantee: a summary
      undercounts any item by at most n_p/(k+1), so an item with
      partition count > n_p/(k+1) MUST survive its partition summary.
      Since Σ_p n_p/(k+1) = N/(k+1), any global heavy hitter exceeds
      the per-partition threshold in at least one partition — the
      union of summaries (≤ partitions·k rows) is a provable candidate
      superset.
    - **Pass 2**: exact counts of candidates only — a broadcast
      left-semi join prunes the re-scan to candidate rows, the groupBy
      shuffles ≤ partitions·k distinct keys, and the integer filter
      ``n·(k+1) > N`` (N from a 1-row broadcast cross-join, no driver
      action) keeps exactly the true heavy hitters.

    Why this shape at 100 TB: a vocabulary-wide ``groupBy(token)``
    shuffles billions of distinct keys to answer a question about the
    top ~k of them; here the shuffle is bounded by partitions·k
    REGARDLESS of cardinality, both scans are full-speed columnar, and
    the only Python is one Arrow-batched dict fold per partition. The
    CMS path above answers point queries approximately in fixed
    memory; this answers the top-of-distribution question exactly.

    The result is deterministic and partitioning-independent: MG
    candidate SETS vary with partitioning, but pass 2 re-counts
    exactly and the final filter depends only on true counts — any
    candidate superset yields the identical output (the DuckDB twin is
    a plain ``HAVING count(*)·(k+1) > total``).

    NULL items are first-class (ADVICE r5): pass 1 counts them
    (``value_counts(dropna=False)``, the NaN/None key normalized to a
    single ``None`` counter — since Python 3.10 two distinct float-NaN
    objects hash as distinct dict keys, so un-normalized NaN keys
    would fragment the counter across batches) and pass 2's semi join
    is null-safe, so a NULL that truly exceeds N/(k+1) comes back as a
    NULL-keyed output row, matching the plain groupBy/HAVING twin.
    ``item_col`` must be an atomic type (the NaN normalization uses a
    scalar ``pd.isna``).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    import pandas as pd
    from pyspark.sql.types import StructType

    field = items.schema[item_col]
    src = items.select(item_col)

    def mg_partition(batches):
        counters: dict = {}
        for pdf in batches:
            counts = pdf[item_col].value_counts(dropna=False)
            for val, c in counts.items():
                key = None if pd.isna(val) else val
                counters[key] = counters.get(key, 0) + int(c)
            if len(counters) > k:
                cut = sorted(counters.values(), reverse=True)[k]
                counters = {v: c - cut
                            for v, c in counters.items() if c > cut}
        yield pd.DataFrame({item_col: list(counters.keys())},
                           dtype=object)

    cand = src.mapInPandas(
        mg_partition, schema=StructType([field])
    ).distinct()
    total = src.agg(F.count(F.lit(1)).alias("_total"))
    return (
        src.join(F.broadcast(cand),
                 src[item_col].eqNullSafe(cand[item_col]), "left_semi")
        .groupBy(item_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n") * F.lit(k + 1) > F.col("_total"))
        .select(item_col, "n")
    )


def bloom_build(items: DataFrame, item_col: str = "item",
                m_bits: int = 1 << 16, k: int = 5,
                seed: str = "bloom:0") -> DataFrame:
    """Relational Bloom filter build (M117; Bloom 1970, "Space/time
    trade-offs in hash coding with allowable errors"): the membership
    member of the sketch family (M50 cardinality, M67 frequency).

    The filter is the DISTINCT set-bit table ``(bit)`` — each item
    sets ``k`` bits, bit_d = hash60(seed ‖ d ‖ item) mod m_bits (the
    CMS bucket convention, so a DuckDB twin reproduces every position
    bit-for-bit). ≤ m_bits rows regardless of input cardinality, built
    by one partial-aggregated distinct — the shuffle carries at most
    partitions·m_bits rows, never the input's key cardinality. Two
    filters with the same (m_bits, k, seed) merge by distinct union
    (exactly the bitwise OR), the property that makes the filter the
    standard broadcast-sized membership gate for INCREMENTAL dedup at
    corpus scale: yesterday's corpus compresses to m_bits bits, today's
    delta probes it without touching yesterday's rows
    ([[operators/incremental.py]] runs the exact anti-join when both
    sides ARE available).

    Guarantees (and what the tests pin): NO false negatives ever —
    every inserted item probes all-k-bits-set by construction; false
    positives at rate ≈ (set_bits/m)^k.
    """
    if m_bits <= 0 or k <= 0:
        raise ValueError(f"m_bits ({m_bits}) and k ({k}) must be positive")
    return (
        items.select(
            F.explode(F.array(*[
                F.pmod(hash60(F.concat(F.lit(seed), F.lit("\x1f"),
                                       F.lit(str(d)), F.lit("\x1f"),
                                       F.col(item_col).cast("string"))),
                       F.lit(m_bits)).alias("bit")
                for d in range(k)
            ])).alias("bit"))
        .distinct()
    )


def bloom_probe(items: DataFrame, filt: DataFrame,
                item_col: str = "item", m_bits: int = 1 << 16,
                k: int = 5, seed: str = "bloom:0") -> DataFrame:
    """Probe: item → its k bit positions → count how many are set →
    ``maybe`` = 1 iff all k hit (possibly present; 0 is a CERTAIN
    absence). One equi-join of the probe's (item, bit) rows against
    the ≤ m_bits-row filter — broadcast-sized by construction — and a
    per-item count; no row of the filter's source corpus is touched.
    Duplicate probe items collapse (the output is per distinct item).
    """
    pos = items.select(F.col(item_col)).distinct().select(
        F.col(item_col),
        F.explode(F.array(*[
            F.pmod(hash60(F.concat(F.lit(seed), F.lit("\x1f"),
                                   F.lit(str(d)), F.lit("\x1f"),
                                   F.col(item_col).cast("string"))),
                   F.lit(m_bits)).alias("bit")
            for d in range(k)
        ])).alias("bit"),
    )
    hits = (
        pos.join(filt.select("bit").withColumn("_set", F.lit(1)),
                 "bit", "left")
        .groupBy(item_col)
        .agg(F.count("_set").alias("_hits"))
    )
    return hits.select(
        item_col,
        (F.col("_hits") == k).cast("int").alias("maybe"),
    )


def bloom_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """OR of two same-shaped filters: distinct union of set bits.
    ``probe(merge(A, B)) == probe on the union corpus`` exactly (same
    positions, same union of bits) — the mergeability the incremental
    path relies on."""
    return a.select("bit").unionByName(b.select("bit")).distinct()


def hll_registers(items: DataFrame, item_col: str = "item",
                  p: int = 8, seed: str = "hll:0",
                  group_cols: tuple[str, ...] = ()) -> DataFrame:
    """HyperLogLog register table (M151; Flajolet, Fusy, Gandouet &
    Meunier 2007, "HyperLogLog: the analysis of a near-optimal
    cardinality estimation algorithm") — the CARDINALITY member of the
    sketch family gains mergeable, publishable STATE (M50's built-in
    ``approx_count_distinct`` answers the same question but returns
    only a number: its HLL++ registers live inside the aggregation
    buffer, so they cannot be persisted, merged across ingest waves,
    or audited).

    Per group: ``(bucket, r)`` rows, bucket = hash60(seed ‖ ␟ ‖ item)
    mod 2^p, ``r`` = max over items of the rank ρ(w) = one-based
    position of the leftmost 1-bit of the REMAINING 60−p hash bits
    (w = hash DIV 2^p; ρ = 61−p for w = 0 — disjoint bit ranges, the
    classic stochastic-averaging split). ≤ 2^p rows per group
    REGARDLESS of input cardinality, built by one partial-aggregated
    max — the shuffle carries at most partitions·2^p rows. The md5
    ``hash60`` convention (operators/dedup.py:42) means a DuckDB twin
    reproduces every register bit-for-bit: ρ is pure integer
    arithmetic via minimal-width ``bin()`` in BOTH dialects
    (ρ = 61−p−length(bin(w)) for w ≥ 1 — no floats anywhere).

    Why state matters at 100 TB: registers merge by per-bucket MAX —
    associative, commutative, idempotent — so per-day / per-source /
    per-wave register tables fold into the union's registers EXACTLY
    (not approximately: the merged table is identical to the one built
    on the union corpus). Publish yesterday's registers and
    today's distinct-count costs one pass over today's delta.

    NULL items are excluded (a distinct-count is over values);
    ``p`` must be in [4, 16] (m = 16 … 65536 registers).
    """
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    m = 1 << p
    w_bits = 60 - p
    h = hash60(F.concat(F.lit(seed), F.lit("\x1f"),
                        F.col(item_col).cast("string")))
    base = (
        items.filter(F.col(item_col).isNotNull())
        .select(*group_cols, h.alias("_h"))
        .select(*group_cols,
                F.pmod(F.col("_h"), F.lit(m)).alias("bucket"),
                F.expr(f"_h DIV {m}").alias("_w"))
    )
    rho = F.when(F.col("_w") == 0, F.lit(w_bits + 1)).otherwise(
        F.lit(w_bits + 1) - F.length(F.bin(F.col("_w"))))
    return (
        base.select(*group_cols, "bucket", rho.cast("int").alias("_rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("_rho").alias("r"))
    )


def hll_merge(a: DataFrame, b: DataFrame,
              group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Merge register tables built with the SAME (p, seed): per-bucket
    MAX — ``merge(registers(A), registers(B)) == registers(A ∪ B)``
    EXACTLY (max is associative/commutative/idempotent, so wave order
    and duplicate re-ingestion cannot change the result)."""
    return (
        a.unionByName(b)
        .groupBy(*group_cols, "bucket")
        .agg(F.max("r").alias("r"))
    )


def hll_estimate(registers: DataFrame, p: int = 8,
                 group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Cardinality estimate from a register table: per group,
    ``(set_buckets, zeros, denom_fp, est)``.

    The harmonic-mean denominator Σ 2^−M_j is computed as an EXACT
    integer in fixed point (``denom_fp`` = Σ 2^(F−r) + zeros·2^F,
    F = 61−p — every term a power of two ≤ 2^53, sum < 2^63 for
    p ≥ 4, so the value is association-order-independent where a
    float sum would not be); only the final division is floating
    point. Small-range correction per the original paper: linear
    counting m·ln(m/zeros) when the raw estimate ≤ 2.5m and zero
    registers remain. Relative error ≈ 1.04/√m (σ).

    The estimate is for pytest accuracy brackets; the driver-hashed
    artifact is the integer register table itself (q166).
    """
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    m = 1 << p
    fp = 61 - p
    alpha = {4: 0.673, 5: 0.697, 6: 0.709}.get(p, 0.7213 / (1 + 1.079 / m))
    gb = registers.groupBy(*group_cols) if group_cols else registers.groupBy()
    agg = gb.agg(
        F.count(F.lit(1)).cast("long").alias("set_buckets"),
        F.sum(F.pow(F.lit(2.0), F.lit(fp) - F.col("r")).cast("long"))
        .alias("_present_fp"),
    )
    zeros = F.lit(m) - F.col("set_buckets")
    denom_fp = (F.col("_present_fp")
                + zeros.cast("long") * F.lit(1 << fp).cast("long"))
    raw = (F.lit(alpha * m * m) * F.lit(float(1 << fp))
           / denom_fp.cast("double"))
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return agg.select(
        *group_cols, "set_buckets", zeros.cast("long").alias("zeros"),
        denom_fp.alias("denom_fp"), est.alias("est"),
    )


def log_histogram(values: DataFrame, value_col: str, s: int = 4,
                  group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Log-bucketed histogram with integer-exact bucketing (M152) —
    the QUANTILE member of the sketch family gains mergeable,
    publishable state (M50's GK ``approxQuantile`` is a driver-side
    action whose summary cannot be persisted or merged; this is the
    HdrHistogram organization — Tene, "How NOT to Measure Latency" /
    github.com/HdrHistogram — with DDSketch's relative-error
    guarantee, Masson, Rim & Lee VLDB 2019, achieved with NO
    logarithms: every boundary is integer bit arithmetic, so the
    DuckDB twin reproduces each bucket bit-for-bit where a
    float-log bucketer could disagree at boundaries).

    Bucket of a value v ≥ 1: keep the top s+1 significant bits —
    ``lo = (v DIV 2^k)·2^k`` with k = max(⌊log2 v⌋ − s, 0) and
    ⌊log2 v⌋ = length(bin(v)) − 1 (minimal-width ``bin()`` in both
    dialects; the division is by a power of two on a < 2^53 value, so
    even the double-typed ``floor(v / power(2,k))`` form is exact in
    IEEE arithmetic). ``lo`` is the bucket's lower bound AND its key:
    v ∈ [lo, lo + 2^k), so the relative width is ≤ 2^−s — values with
    ⌊log2 v⌋ ≤ s bucket EXACTLY (k = 0). Values ≤ 0 clamp into the
    ``lo = 0`` bucket; NULLs are EXCLUDED (mirroring
    :func:`hll_registers` — a NULL carries no magnitude to bucket,
    and admitting it would mint a ``lo = NULL`` row that desyncs the
    cumulative quantile window between engines: Spark orders NULLs
    first, DuckDB last). Both policies are pinned by tests — the
    intended domain is non-negative counts/durations < 2^53.

    Per group: ``(lo, cnt)`` — at most (53−s)·2^s + 2^s + 1 ≈ 800
    rows for s = 4 REGARDLESS of input size or range, one
    partial-aggregated count. Merge = per-bucket SUM: wave-fold equals
    the batch histogram exactly, counts being additive.
    """
    if not 0 <= s <= 20:
        raise ValueError(f"s must be in [0, 20], got {s}")
    v = F.col(value_col).cast("long")
    e = F.length(F.bin(v)) - F.lit(1)
    k = F.greatest(e - F.lit(s), F.lit(0))
    scale = F.pow(F.lit(2.0), k)
    lo = F.when(v <= 0, F.lit(0)).otherwise(
        (F.floor(v / scale) * scale).cast("long"))
    return (
        values.filter(F.col(value_col).isNotNull())
        .select(*group_cols, lo.alias("lo"))
        .groupBy(*group_cols, "lo")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hist_merge(a: DataFrame, b: DataFrame,
               group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Merge histograms built with the SAME ``s``: counts add —
    ``merge(hist(A), hist(B)) == hist(A ⊎ B)`` exactly."""
    return (
        a.unionByName(b)
        .groupBy(*group_cols, "lo")
        .agg(F.sum("cnt").alias("cnt"))
    )


def hist_quantiles(hist: DataFrame, pcts: tuple[int, ...] = (50, 90, 99),
                   group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Percentiles from a log histogram: per group and integer
    percentile ``pct``, the bucket lower bound ``q_lo`` containing the
    rank-⌈pct·N/100⌉ value (type-1 / lower quantile), plus ``n``.
    The true quantile value lies in [q_lo, q_lo·(1+2^−s) + 1) by the
    bucket-width guarantee.

    Rank arithmetic is pure integer — ⌈pct·N/100⌉ =
    (pct·N + 99) DIV 100 — and the cumulative window runs over the
    HISTOGRAM rows (≤ ~800 per group, the aggregate-bounded
    single-partition-window exemption of the plan audit), never the
    data. Output: one row per (group, pct).
    """
    for pct in pcts:
        if not 1 <= pct <= 100:
            raise ValueError(f"pct must be in [1, 100], got {pct}")
    from pyspark.sql import Window

    win = (Window.partitionBy(*group_cols).orderBy("lo")
           if group_cols else Window.partitionBy().orderBy("lo"))
    cum = hist.select(
        *group_cols, "lo", "cnt",
        F.sum("cnt").over(win).alias("_cum"),
        F.sum("cnt").over(
            win.rowsBetween(Window.unboundedPreceding,
                            Window.unboundedFollowing)).alias("n"),
    )
    pe = cum.select(
        *group_cols, "lo", "_cum", "n",
        F.explode(F.array(*[F.lit(pct) for pct in pcts])).alias("pct"),
    )
    rank = F.expr("(pct * n + 99) DIV 100")
    return (
        pe.filter(F.col("_cum") >= rank)
        .groupBy(*group_cols, "pct", "n")
        .agg(F.min("lo").alias("q_lo"))
        .select(*group_cols, "pct", "q_lo", "n")
    )


def bloom_fpr_micro(filt: DataFrame, m_bits: int, k: int) -> DataFrame:
    """Observed false-positive-rate estimate, integer micros:
    ``floor((set_bits/m)^k · 10⁶)`` — the load-dependent actual rate
    (Bloom 1970 eq. for a given occupancy), not the design-point
    formula. One count over the ≤ m_bits-row filter; the pow is on a
    1-row frame."""
    if m_bits <= 0 or k <= 0:
        raise ValueError(f"m_bits ({m_bits}) and k ({k}) must be positive")
    return filt.agg(
        F.count(F.lit(1)).alias("set_bits"),
    ).select(
        "set_bits",
        F.floor(F.pow(F.col("set_bits").cast("double") / F.lit(m_bits),
                      F.lit(k)) * F.lit(1_000_000))
        .cast("long").alias("fpr_micro"),
    )


def hll_drift(reg_old: DataFrame, reg_new: DataFrame, p: int = 8,
              group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Distinct-count drift between two :func:`hll_registers` snapshots
    (M153a): per group, ``(est_old, est_new, distinct_ratio)`` — the
    M65 ``profile_drift`` distinct-ratio signal, but computed from two
    ≤2^p-row register tables instead of two corpus scans. Because the
    published per-wave state folds to EXACTLY the batch registers
    (tests/test_incremental_ingest.py), drift-from-state equals
    drift-from-rescan bit for bit; day-over-day cost is two tiny
    aggregates. Groups present in only one snapshot report status
    ``added``/``removed`` (their missing side estimates 0)."""
    eo = hll_estimate(reg_old, p, group_cols).select(
        *group_cols, F.col("est").alias("est_old"))
    en = hll_estimate(reg_new, p, group_cols).select(
        *group_cols, F.col("est").alias("est_new"))
    if group_cols:
        joined = eo.join(en, list(group_cols), "full_outer")
    else:
        joined = eo.crossJoin(en)
    z = F.lit(0.0)
    return joined.select(
        *group_cols,
        F.when(F.col("est_old").isNull(), F.lit("added"))
        .when(F.col("est_new").isNull(), F.lit("removed"))
        .otherwise(F.lit("common")).alias("status"),
        F.coalesce("est_old", z).alias("est_old"),
        F.coalesce("est_new", z).alias("est_new"),
        F.round(
            F.when(F.coalesce("est_old", z) > 0,
                   F.coalesce("est_new", z) / F.col("est_old"))
            .otherwise(z), 6).alias("distinct_ratio"),
    )


# ---------------------------------------------------------------------------
# M153: sketch-to-sketch census drift (VERDICT r8 stretch 8) — the M75
# distribution-drift signal computed from PUBLISHED M152 state, with NO
# rescan of raw corpora.
# ---------------------------------------------------------------------------


def hist_drift(hist_old: DataFrame, hist_new: DataFrame,
               group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Distribution drift between two :func:`log_histogram` snapshots
    (M153b): the M75 ``distribution_drift`` report — per-bucket counts
    reconciled full-outer with exact integer proportions in millionths
    — but over the log buckets of PUBLISHED state instead of a rescan,
    and with the bucket key ``lo`` in place of a fixed-bin index (log
    buckets are value-anchored, so the two sides bin identically by
    construction; no caller-fixed [lo, hi) needed). ≤ ~800 rows per
    group per side; the PSI/L1/chi-square alarm is a sum over the
    output, exactly as for M75."""
    from pyspark.sql import Window

    keys = [*group_cols, "lo"]
    ho = hist_old.select(*keys, F.col("cnt").alias("n_old"))
    hn = hist_new.select(*keys, F.col("cnt").alias("n_new"))
    zero = F.lit(0).cast("long")
    if group_cols:
        w = Window.partitionBy(*group_cols)
    else:
        w = Window.partitionBy()
    return (
        ho.join(hn, keys, "full_outer")
        .select(*keys,
                F.coalesce("n_old", zero).alias("n_old"),
                F.coalesce("n_new", zero).alias("n_new"))
        .withColumn("_to", F.sum("n_old").over(w))
        .withColumn("_tn", F.sum("n_new").over(w))
        .select(
            *keys, "n_old", "n_new",
            F.when(F.col("_to") > 0,
                   F.floor(F.col("n_old") * F.lit(1_000_000)
                           / F.col("_to")))
            .otherwise(F.lit(0)).cast("long").alias("p_old_micro"),
            F.when(F.col("_tn") > 0,
                   F.floor(F.col("n_new") * F.lit(1_000_000)
                           / F.col("_tn")))
            .otherwise(F.lit(0)).cast("long").alias("p_new_micro"),
        )
    )
