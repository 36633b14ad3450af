"""Activation-rule mining (M7+M8; reference: activation_rules.py:33-240).

Two stages:

1. **Features table** (U3 decomposed — no UDF): one row per
   (batch instance x candidate instant). The reference loops per
   instance in Python, rescanning the full log per instant for the
   workload feature (O(instants x N)); here positives and negatives fan
   out with ``explode``, subset aggregates come from one join + groupBy,
   and workload is ONE range join over all instants (J2).

2. **Rule induction** (U1): sequential-covering rule miner over each
   feature group via ``applyInPandas``. The reference calls
   ``wittgenstein.RIPPER``; that library is not a runtime dependency
   here, so an equivalent native inducer (IREP/RIPPER-style greedy
   conjunctive rules maximizing FOIL gain, the published algorithm of
   Cohen 1995) runs inside the pandas UDF. The accept/remove/repeat
   loop, support/confidence accounting, and the >30-rows / 2-outcome
   guards (A14) match the reference loop (activation_rules.py:180-240).

Determinism: the reference samples negatives with unseeded
``random.sample``; here sampling is ``F.rand(config.random_seed)``
(SURVEY §7.4 determinism policy).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from ..config import ActivationRulesMode, Configuration
from .checkpoints import data_barrier
from .range_join import workload_at_instants

OUTCOME_ACTIVATE = 1
OUTCOME_NOT_ACTIVATE = 0


# --------------------------------------------------------------------------
# Stage 1: features table
# --------------------------------------------------------------------------

def _per_case(log: DataFrame, config: Configuration) -> DataFrame:
    """One row per (batch instance, case): enabled/start scalars +
    the case's first-event activity (for firing_activity)."""
    ids = config.log_ids
    batched = log.filter(F.col(ids.batch_id).isNotNull())
    return (
        batched.groupBy(ids.batch_id, ids.case)
        .agg(
            F.first(ids.batch_type).alias(ids.batch_type),
            F.first(ids.resource).alias(ids.resource),
            # min (start, enabled, activity) = argmin-row start w/ enabled tiebreak
            F.min(
                F.struct(
                    F.unix_micros(F.col(ids.start_time)).alias("s"),
                    F.unix_micros(F.col(ids.enabled_time)).alias("en"),
                    F.col(ids.activity).alias("act"),
                )
            ).alias("_first"),
            F.sort_array(F.collect_set(ids.activity)).alias("_acts"),
        )
        .select(
            ids.batch_id,
            ids.case,
            ids.batch_type,
            ids.resource,
            F.col("_first.s").alias("case_start"),
            F.col("_first.en").alias("case_enabled"),
            F.col("_first.act").alias("case_first_activity"),
            "_acts",
        )
    )


def features_table(log: DataFrame, config: Configuration) -> DataFrame:
    """The features table (activation_rules.py:33-150) as one lazy plan.

    Durations are emitted in SECONDS (double) and the instant as epoch
    seconds, matching the reference's final parsed table
    (activation_rules.py:159-164). day_of_week is Monday=0 (F3 shift).

    ``cases``/``inst`` are LAZY barriers: each is referenced by
    four plan branches below (instants, subset, flow, final join), and
    without materialization every branch re-runs the per-case windows
    over the discovery output (the q43 lesson; lazy, so plan building
    stays execution-free). Their blocks live until the enclosing
    ``checkpoint_scope`` exits.
    Modest at sf0.1 (the upstream discovery frame is already
    checkpointed, so each branch recompute was one window pass) but it
    bounds the fan-out cost at corpus scale, where four re-runs of the
    per-case aggregation are four shuffles.
    """
    ids = config.log_ids
    cases = data_barrier(_per_case(log, config), eager=False)

    inst = data_barrier(cases.groupBy(ids.batch_id).agg(
        F.first(ids.batch_type).alias(ids.batch_type),
        F.first(ids.resource).alias(ids.resource),
        F.max("case_enabled").alias("inst_enabled"),     # last-enabled = batch ready
        F.min("case_enabled").alias("inst_first_enabled"),
        F.min(F.struct("case_start", "case_enabled", "case_first_activity")).alias("_first"),
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("_acts")))).alias("activities"),
    ).select(
        ids.batch_id, ids.batch_type, ids.resource,
        "inst_enabled", "inst_first_enabled",
        F.col("_first.case_start").alias("inst_start"),
        "activities",
    ), eager=False)

    # --- candidate instants -------------------------------------------------
    n_ready = config.num_batch_ready_negative_events
    pos = inst.select(
        ids.batch_id, F.col("inst_start").alias("instant"),
        F.lit(OUTCOME_ACTIVATE).alias("outcome"),
    )
    # Equi-spaced instants strictly inside (inst_enabled, inst_start):
    # pd.date_range(start, end, periods=n+2)[1:-1] (activation_rules.py:58-62).
    step = (F.col("inst_start") - F.col("inst_enabled")) / F.lit(n_ready + 1)
    neg_ready = (
        inst.filter(F.col("inst_start") > F.col("inst_enabled"))
        .select(
            ids.batch_id,
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.lit(n_ready)),
                    lambda i: (F.col("inst_enabled") + (i.cast("double") * step)).cast("long"),
                )
            ).alias("instant"),
            F.lit(OUTCOME_NOT_ACTIVATE).alias("outcome"),
        )
    )
    # Up to k case-enablement instants < inst_start, seeded sample per
    # instance (activation_rules.py:64-71; W7 determinism policy). The
    # sample key is md5(seed, case): uniform like rand() but reproducible
    # in ANY engine — rand(seed) is partition-layout-dependent in Spark
    # and unportable to the DuckDB oracle.
    k = config.num_batch_enabled_negative_events
    samp_key = F.md5(
        F.concat_ws("\x1f", F.lit(str(config.random_seed)), F.col(ids.case))
    )
    w_samp = W.partitionBy(ids.batch_id).orderBy(samp_key, ids.case)
    neg_enabled = (
        cases.join(inst.select(ids.batch_id, "inst_start"), ids.batch_id)
        .filter(F.col("case_enabled") < F.col("inst_start"))
        .withColumn("_rn", F.row_number().over(w_samp))
        .filter(F.col("_rn") <= k)
        .select(
            ids.batch_id, F.col("case_enabled").alias("instant"),
            F.lit(OUTCOME_NOT_ACTIVATE).alias("outcome"),
        )
    )
    instants = pos.unionByName(neg_ready).unionByName(neg_enabled)

    # --- subset aggregates: cases enabled at or before each instant --------
    subset = (
        instants.join(cases.select(ids.batch_id, ids.case, "case_start",
                                   "case_enabled", "case_first_activity"), ids.batch_id)
        .filter(F.col("case_enabled") <= F.col("instant"))
        .groupBy(ids.batch_id, "instant", "outcome")
        .agg(
            F.countDistinct(ids.case).alias("num_queue"),
            F.max("case_enabled").alias("last_enabled"),
            F.min("case_enabled").alias("first_enabled"),
            F.min(F.struct("case_start", "case_enabled", "case_first_activity")).alias("_first"),
        )
    )

    # t_max_flow: min first-start over the FULL log among the subset's
    # cases (J6). The subset always contains the earliest-enabled case,
    # and case subsets grow monotonically with the instant, so the min is
    # over the instance's cases enabled <= instant.
    case_first_start = log.groupBy(ids.case).agg(
        F.min(F.unix_micros(F.col(ids.start_time))).alias("_log_first_start")
    )
    flow = (
        instants.join(cases.select(ids.batch_id, ids.case, "case_enabled"), ids.batch_id)
        .filter(F.col("case_enabled") <= F.col("instant"))
        .join(case_first_start, ids.case)
        .groupBy(ids.batch_id, "instant", "outcome")
        .agg(F.min("_log_first_start").alias("_min_flow_start"))
    )

    feat = (
        subset.join(flow, [ids.batch_id, "instant", "outcome"])
        .join(inst.select(ids.batch_id, ids.batch_type, ids.resource, "activities"),
              ids.batch_id)
    )

    # --- workload: J2 range join over distinct (resource, instant) ---------
    # Strategy: an explicit config.workload_bucket_seconds wins; with
    # None, a cheap probe (one count-distinct over the checkpointed
    # discovery frame — NOT the feature plan) estimates the instant set
    # as #instances × (1 + ready + enabled negatives) and switches to
    # the bucketed equi-join when it exceeds the broadcast budget.
    points = feat.select(ids.resource, "instant").distinct()
    if config.workload_bucket_seconds:
        bucket_us = config.workload_bucket_seconds * 1_000_000
    elif config.workload_auto_bucket_threshold is not None:
        n_inst = (
            log.filter(F.col(ids.batch_id).isNotNull())
            .select(ids.batch_id).distinct().count()
        )
        est_instants = n_inst * (1 + n_ready + k)
        bucket_us = (
            config.workload_auto_bucket_seconds * 1_000_000
            if est_instants > config.workload_auto_bucket_threshold
            else None
        )
    else:
        bucket_us = None
    workload = workload_at_instants(
        log.select(
            ids.resource,
            F.unix_micros(F.col(ids.enabled_time)).alias("_en_us"),
            F.unix_micros(F.col(ids.end_time)).alias("_end_us"),
            ids.case,
        ),
        points,
        resource=ids.resource,
        instant="instant",
        enabled="_en_us",
        end="_end_us",
        case=ids.case,
        bucket=bucket_us,
    )
    feat = feat.join(workload, [ids.resource, "instant"], "left")

    ts = F.timestamp_micros(F.col("instant"))
    us = 1_000_000.0
    return feat.select(
        ids.batch_id,
        ids.batch_type,
        "activities",
        F.col("_first.case_first_activity").alias("firing_activity"),
        (F.col("instant") / us).alias("instant"),
        "num_queue",
        ((F.col("instant") - F.col("last_enabled")) / us).alias("t_ready"),
        ((F.col("instant") - F.col("first_enabled")) / us).alias("t_waiting"),
        ((F.col("instant") - F.col("_min_flow_start")) / us).alias("t_max_flow"),
        ((F.dayofweek(ts) + 5) % 7).alias("day_of_week"),     # F3: Monday=0
        F.dayofmonth(ts).alias("day_of_month"),
        F.hour(ts).alias("hour_of_day"),
        F.minute(ts).alias("minute"),
        F.coalesce("workload", F.lit(0)).alias("workload"),
        "outcome",
    )


# --------------------------------------------------------------------------
# Stage 2: native sequential-covering rule induction
# --------------------------------------------------------------------------

_CATEGORICAL = {"day_of_week", "day_of_month", "hour_of_day", "minute"}


def _grow_rule(df: pd.DataFrame, features: list[str]) -> list[tuple[str, str, float]]:
    """Grow one conjunctive rule (feature, op, value) maximizing FOIL
    gain per literal (Cohen's RIPPER grow phase, published algorithm).

    Candidate evaluation is two binary searches per candidate against
    per-class sorted value arrays — O(n log n) per feature instead of
    an O(n) masked pandas reduction per CANDIDATE (~100 of them per
    feature per literal; mining the sf0.1 groups measured ~3× faster).
    The counts are exact integers and the gain still goes through
    math.log2 on those integers, so the chosen ruleset is identical to
    the elementwise form (NaNs are excluded from the sorted arrays =
    the False every elementwise comparison produced).
    """
    import math

    import numpy as np

    def _counts(sorted_a: "np.ndarray", op: str, v: float) -> int:
        if op == "<=":
            return int(np.searchsorted(sorted_a, v, "right"))
        if op == ">=":
            return len(sorted_a) - int(np.searchsorted(sorted_a, v, "left"))
        return int(np.searchsorted(sorted_a, v, "right")
                   - np.searchsorted(sorted_a, v, "left"))

    covered = df
    rule: list[tuple[str, str, float]] = []
    while True:
        out = covered["outcome"].to_numpy()
        p = int((out == 1).sum())
        n = int((out == 0).sum())
        if p == 0 or n == 0:
            break
        base = math.log2(p / (p + n))
        best = None  # (gain, feat, op, value)
        for feat in features:
            vals = covered[feat]
            uniq = sorted(vals.unique())
            if len(uniq) < 2:
                continue
            arr = vals.to_numpy(dtype="float64")  # int µs/epochs < 2^53
            pos = np.sort(arr[(out == 1) & ~np.isnan(arr)])
            neg = np.sort(arr[(out == 0) & ~np.isnan(arr)])
            candidates: list[tuple[str, float]] = []
            if feat in _CATEGORICAL:
                candidates += [("==", v) for v in uniq]
            # numeric thresholds at up to 32 quantile cut points (one
            # batched quantile call = one sort)
            qs = uniq if len(uniq) <= 32 else list(
                vals.quantile([i / 32 for i in range(1, 32)],
                              interpolation="nearest")
            )
            for v in qs:
                candidates += [("<=", v), (">=", v)]
            for op, v in candidates:
                fv = float(v)
                cp = _counts(pos, op, fv)
                if cp == 0:
                    continue
                cn = _counts(neg, op, fv)
                gain = cp * (math.log2(cp / (cp + cn)) - base)
                key = (gain, -len(rule), str(feat), op, fv)
                if best is None or key > best[0]:
                    best = (key, feat, op, v)
        if best is None or best[0][0] <= 1e-12:
            break
        _, feat, op, v = best
        rule.append((feat, op, float(v)))
        vals = covered[feat]
        mask = (
            (vals == v) if op == "=="
            else (vals <= v) if op == "<=" else (vals >= v)
        )
        covered = covered[mask]
        if int((covered["outcome"] == 0).sum()) == 0:
            break
    return rule


def _rule_mask(df: pd.DataFrame, rule: list[tuple[str, str, float]]) -> pd.Series:
    mask = pd.Series(True, index=df.index)
    for feat, op, v in rule:
        col = df[feat]
        mask &= (col == v) if op == "==" else (col <= v) if op == "<=" else (col >= v)
    return mask


def _format_rule(rule: list[tuple[str, str, float]]) -> str:
    def lit(feat, op, v):
        s = f"{v:g}"
        return f"{feat}={s}" if op == "==" else f"{feat}=<{s}" if op == "<=" else f"{feat}=>{s}"

    return "[" + " ^ ".join(lit(*l) for l in rule) + "]"


def mine_rules_pdf(pdf: pd.DataFrame, features: list[str], max_rules: int,
                   min_rule_support: float) -> dict:
    """The reference's accept/remove/repeat loop (activation_rules.py:190-240)
    with the native grower standing in for wittgenstein.RIPPER."""
    data = pdf
    filtered = pdf
    ruleset: list[list[tuple[str, str, float]]] = []
    while len(ruleset) < max_rules:
        rule = _grow_rule(filtered, features)
        if not rule:
            break
        preds = _rule_mask(filtered, rule)
        tp = int((preds & (filtered["outcome"] == 1)).sum())
        if tp / len(data) < min_rule_support:
            break
        ruleset.append(rule)
        filtered = filtered[~preds]
        if filtered.empty or (filtered["outcome"] == 1).sum() == 0:
            break
    if not ruleset:
        return {}
    preds = pd.Series(False, index=data.index)
    for rule in ruleset:
        preds |= _rule_mask(data, rule)
    tp = int((preds & (data["outcome"] == 1)).sum())
    npred = int(preds.sum())
    return {
        "num_obs": len(data),
        "model": " v ".join(_format_rule(r) for r in ruleset),
        "confidence": tp / npred if npred else 0.0,
        "support": tp / len(data),
    }


_RULES_SCHEMA = T.StructType([
    T.StructField("group_key", T.StringType()),
    T.StructField("num_obs", T.LongType()),
    T.StructField("model", T.StringType()),
    T.StructField("confidence", T.DoubleType()),
    T.StructField("support", T.DoubleType()),
])

_FEATURES = ["instant", "num_queue", "t_ready", "t_waiting", "t_max_flow",
             "day_of_week", "day_of_month", "hour_of_day", "minute", "workload"]


def _group_key_expr(mode: ActivationRulesMode, ids) -> F.Column:
    """Grouping key per mode (A15; reference activation_rules.py:165-177)."""
    if mode == ActivationRulesMode.PER_ACTIVITY:
        return F.col("firing_activity")
    if mode == ActivationRulesMode.PER_BATCH:
        return F.concat_ws("|", "activities")
    return F.concat_ws("|", F.concat_ws("|", "activities"), ids.batch_type)


def get_activation_rules(
    feat: DataFrame,
    config: Configuration,
    mode: ActivationRulesMode = ActivationRulesMode.PER_BATCH,
) -> DataFrame:
    """Group the features table per mode (A15), apply the >30-rows /
    2-outcome guards (A14) JVM-side, then mine rules per group in
    ``applyInPandas`` (groups are tiny: tens to thousands of rows)."""
    ids = config.log_ids
    feat = feat.withColumn("group_key", _group_key_expr(mode, ids))

    w = W.partitionBy("group_key")
    guarded = (
        feat.withColumn("_n", F.count(F.lit(1)).over(w))
        .withColumn("_k", F.size(F.collect_set("outcome").over(w)))
        .filter((F.col("_n") > config.min_rule_obs) & (F.col("_k") > 1))
        .select("group_key", *_FEATURES, "outcome")
    )

    max_rules, min_support = config.max_rules, config.min_rule_support

    def mine(pdf: pd.DataFrame) -> pd.DataFrame:
        res = mine_rules_pdf(pdf, _FEATURES, max_rules, min_support)
        if not res:
            return pd.DataFrame(columns=[f.name for f in _RULES_SCHEMA.fields])
        return pd.DataFrame([{"group_key": pdf["group_key"].iloc[0], **res}])

    return guarded.groupBy("group_key").applyInPandas(mine, schema=_RULES_SCHEMA)


# --------------------------------------------------------------------------
# S6: rules report sink (reference layout: outputs/*_ActivationRules.txt,
# produced by preprocessing/main.py:28-43 print statements)
# --------------------------------------------------------------------------

def render_activation_rules(
    feat: DataFrame,
    rules: DataFrame,
    config: Configuration,
    mode: ActivationRulesMode = ActivationRulesMode.PER_BATCH,
) -> str:
    """Driver-side text renderer of the mined rules in the reference's
    ``*_ActivationRules.txt`` layout: per sorted group key either a
    guard message (low size / one outcome), a rule block
    (# Observations / Confidence / Support / bracketed ruleset with
    ``V``-joined disjuncts), or the no-rules-matched line. Blocks are
    separated by two blank lines with no trailing newline — byte-shaped
    like the golden files (reference main.py:29-43,
    activation_rules.py:185-187).

    Both collects are O(#groups) — group stats and rule rows, never the
    features table itself — so the sink is log-size-independent.
    """
    ids = config.log_ids
    stats = (
        feat.withColumn("group_key", _group_key_expr(mode, ids))
        .groupBy("group_key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("outcome").alias("k"),
        )
        .collect()
    )
    rule_rows = {r["group_key"]: r for r in rules.collect()}

    def key_str(gk: str) -> str:
        parts = (gk,) if mode == ActivationRulesMode.PER_ACTIVITY else tuple(gk.split("|"))
        return str(parts)

    blocks = []
    guard_msgs, rule_blocks = [], []
    for r in sorted(stats, key=lambda r: r["group_key"]):
        gk, n, k = r["group_key"], r["n"], r["k"]
        key = key_str(gk)
        # Guard order mirrors the reference: size first, then outcomes
        # (activation_rules.py:181-187). Guard messages print during
        # mining, rule blocks after — hence the two-phase layout.
        if n <= config.min_rule_obs:
            guard_msgs.append(
                f"Not extracting rules from batch {key} due to low size: {n}")
        elif k < 2:
            guard_msgs.append(
                f"Not extracting rules from batch {key} due to only one "
                "outcome in training!")
        elif gk in rule_rows and rule_rows[gk]["model"]:
            rr = rule_rows[gk]
            # str(list-of-rule-strings) -> compact -> ' V\n\t' disjuncts
            # (main.py:31-34's exact replace chain).
            ruleset_str = (
                str(rr["model"].split(" v "))
                .replace(" ", "")
                .replace(",", " V\n\t")
                .replace("'", "")
                .replace("^", " ^ ")
            )
            rule_blocks.append(
                "Batch: {}:\n\t# Observations: {}\n\tConfidence: {:.2f}"
                "\n\tSupport: {:.2f}\n\t{}".format(
                    key, rr["num_obs"], round(rr["confidence"], 2),
                    round(rr["support"], 2), ruleset_str)
            )
        else:
            rule_blocks.append(
                "Batch: {}: No rules could match the specified criterion "
                "(support >= {}).".format(key, config.min_rule_support)
            )
    blocks = guard_msgs + rule_blocks
    return "\n\n" + "\n\n\n".join(blocks) if blocks else ""
