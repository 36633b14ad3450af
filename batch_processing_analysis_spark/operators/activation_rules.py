"""Activation-rule mining (M7+M8; reference: activation_rules.py:33-240).

Two stages:

1. **Features table** (U3 decomposed — no UDF): one row per
   (batch instance x candidate instant). The reference loops per
   instance in Python, rescanning the full log per instant for the
   workload feature (O(instants x N)); here positives and negatives fan
   out with ``explode``, subset and flow aggregates come from one
   join + groupBy, and workload is ONE range join over all instants (J2).

2. **Rule induction** (U1), on the driver: the features table is
   collected once (it is bounded by the number of batch instances, see
   :func:`get_activation_rules`), grouped per mode and mined with a
   sequential-covering rule miner per group — no Python worker, no
   second execution of the features plan. The reference calls
   ``wittgenstein.RIPPER``; that library is not a runtime dependency
   here, so an equivalent native inducer (IREP/RIPPER-style greedy
   conjunctive rules maximizing FOIL gain, the published algorithm of
   Cohen 1995) stands in. The accept/remove/repeat loop,
   support/confidence accounting, and the >30-rows / 2-outcome guards
   (A14) match the reference loop (activation_rules.py:180-240).

Determinism: the reference samples negatives with unseeded
``random.sample``; here the sample key is ``md5(config.random_seed,
case)`` (SURVEY §7.4 determinism policy).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
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
    """One row per (batch instance, case): enabled/start scalars, the
    case's first-event activity (for firing_activity) and the case's
    first start over the FULL log (for t_max_flow, J6)."""
    ids = config.log_ids
    batched = (
        log.withColumn("_log_first_start", F.min(F.unix_micros(F.col(ids.start_time)))
                       .over(W.partitionBy(ids.case)))
        .filter(F.col(ids.batch_id).isNotNull())
    )
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
            F.min("_log_first_start").alias("case_log_first_start"),
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
            "case_log_first_start",
        )
    )


def features_table(log: DataFrame, config: Configuration) -> DataFrame:
    """The features table (activation_rules.py:33-150) as one lazy plan.

    Durations are emitted in SECONDS (double) and the instant as epoch
    seconds, matching the reference's final parsed table
    (activation_rules.py:159-164). day_of_week is Monday=0 (F3 shift).

    ``cases``/``inst`` are LAZY barriers: each is referenced by
    several plan branches below (instants, subset, final join), and
    without materialization every branch re-runs the per-case
    aggregation over the discovery output (the q43 lesson). With the
    workload auto-bucket probe on (the default), ``inst.count()``
    materializes both barriers while the plan is built; otherwise plan
    building stays execution-free and the caller's first action
    materializes them. Their blocks live until the enclosing
    ``checkpoint_scope`` exits.
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
    # t_max_flow (J6) is the min log-wide first start among the subset's
    # cases: the subset always contains the earliest-enabled case, and
    # case subsets grow monotonically with the instant, so the min is
    # over the instance's cases enabled <= instant.
    subset = (
        instants.join(cases.select(ids.batch_id, ids.case, "case_start",
                                   "case_enabled", "case_first_activity",
                                   "case_log_first_start"), ids.batch_id)
        .filter(F.col("case_enabled") <= F.col("instant"))
        .groupBy(ids.batch_id, "instant", "outcome")
        .agg(
            F.countDistinct(ids.case).alias("num_queue"),
            F.max("case_enabled").alias("last_enabled"),
            F.min("case_enabled").alias("first_enabled"),
            F.min(F.struct("case_start", "case_enabled", "case_first_activity")).alias("_first"),
            F.min("case_log_first_start").alias("_min_flow_start"),
        )
    )
    feat = subset.join(
        inst.select(ids.batch_id, ids.batch_type, ids.resource, "activities"),
        ids.batch_id)

    # --- workload: J2 range join over distinct (resource, instant) ---------
    # Strategy: an explicit config.workload_bucket_seconds wins; with
    # None, a probe estimates the instant set as #instances × (1 + ready
    # + enabled negatives) and switches to the bucketed equi-join when it
    # exceeds the broadcast budget. #instances is ``inst.count()``: the
    # count materializes the ``inst`` barrier the plan reads anyway, so
    # the probe adds no pass of its own over the log.
    points = feat.select(ids.resource, "instant").distinct()
    if config.workload_bucket_seconds:
        bucket_us = config.workload_bucket_seconds * 1_000_000
    elif config.workload_auto_bucket_threshold is not None:
        est_instants = inst.count() * (1 + n_ready + k)
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


_FEATURES = ["instant", "num_queue", "t_ready", "t_waiting", "t_max_flow",
             "day_of_week", "day_of_month", "hour_of_day", "minute", "workload"]


def _group_keys(pdf: pd.DataFrame, mode: ActivationRulesMode, ids) -> list[tuple]:
    """Grouping key per row and mode (A15; reference
    activation_rules.py:165-177): the firing activity, the instance's
    activity tuple, or that tuple plus the batch type. Always a tuple,
    so distinct activity tuples stay distinct groups whatever the
    activity names contain."""
    if mode == ActivationRulesMode.PER_ACTIVITY:
        return [(a,) for a in pdf["firing_activity"]]
    if mode == ActivationRulesMode.PER_BATCH:
        return [tuple(a) for a in pdf["activities"]]
    return [(*a, t) for a, t in zip(pdf["activities"], pdf[ids.batch_type])]


def get_activation_rules(
    feat: DataFrame,
    config: Configuration,
    mode: ActivationRulesMode = ActivationRulesMode.PER_BATCH,
) -> pd.DataFrame:
    """Mine the activation rules of every group of the features table.

    ONE driver collect of the group columns, the features and the
    outcome (at most 12 narrow columns), then, per group on the driver,
    the >30-rows / 2-outcome guards (A14) and :func:`mine_rules_pdf`.
    The collect is bounded by ``(1 + num_batch_ready_negative_events +
    num_batch_enabled_negative_events)`` rows per batch instance (the
    candidate instants of the features table), so the features plan runs
    exactly once and no Python worker starts.

    Returns a pandas frame with one row per group, guarded groups
    included, in the order the rules text prints them: ``group_key`` (a
    tuple, see :func:`_group_keys`), ``num_obs``, ``num_outcomes``,
    ``model``, ``confidence`` and ``support``. The last three are null
    when the group is guarded or no rule met the support threshold.
    """
    ids = config.log_ids
    group_cols = {
        ActivationRulesMode.PER_ACTIVITY: ["firing_activity"],
        ActivationRulesMode.PER_BATCH: ["activities"],
    }.get(mode, ["activities", ids.batch_type])
    pdf = feat.select(*group_cols, *_FEATURES, "outcome").toPandas()

    members: dict[tuple, list[int]] = {}
    for i, key in enumerate(_group_keys(pdf, mode, ids)):
        members.setdefault(key, []).append(i)
    data = pdf[_FEATURES + ["outcome"]]
    rows = []
    # The rules text has always listed groups by their "|"-joined key;
    # the tuple breaks ties between keys whose names contain "|".
    for key in sorted(members, key=lambda t: ("|".join(t), t)):
        grp = data.iloc[members[key]]
        n, k = len(grp), int(grp["outcome"].nunique())
        res = {}
        if n > config.min_rule_obs and k > 1:
            res = mine_rules_pdf(grp, _FEATURES, config.max_rules,
                                 config.min_rule_support)
        rows.append({"group_key": key, "num_obs": n, "num_outcomes": k,
                     "model": res.get("model"),
                     "confidence": res.get("confidence"),
                     "support": res.get("support")})
    return pd.DataFrame(rows, columns=["group_key", "num_obs", "num_outcomes",
                                       "model", "confidence", "support"])


# --------------------------------------------------------------------------
# S6: rules report sink (reference layout: outputs/*_ActivationRules.txt,
# produced by preprocessing/main.py:28-43 print statements)
# --------------------------------------------------------------------------

def render_activation_rules(
    feat: DataFrame,
    rules: pd.DataFrame,
    config: Configuration,
    mode: ActivationRulesMode = ActivationRulesMode.PER_BATCH,
) -> str:
    """Driver-side text renderer of the mined rules in the reference's
    ``*_ActivationRules.txt`` layout: per group (in ``rules`` order)
    either a guard message (low size / one outcome), a rule block
    (# Observations / Confidence / Support / bracketed ruleset with
    ``V``-joined disjuncts), or the no-rules-matched line. Blocks are
    separated by two blank lines with no trailing newline — byte-shaped
    like the golden files (reference main.py:29-43,
    activation_rules.py:185-187).

    Reads only ``rules`` (the :func:`get_activation_rules` frame, which
    carries every group's size and outcome count): no Spark job. ``feat``
    and ``mode`` are unused; they stay for positional callers until the
    benchmark harness runs the request through ``pipeline.analyze``.
    """
    guard_msgs, rule_blocks = [], []
    for r in rules.itertuples(index=False):
        key, n = str(r.group_key), r.num_obs
        # Guard order mirrors the reference: size first, then outcomes
        # (activation_rules.py:181-187). Guard messages print during
        # mining, rule blocks after — hence the two-phase layout.
        if n <= config.min_rule_obs:
            guard_msgs.append(
                f"Not extracting rules from batch {key} due to low size: {n}")
        elif r.num_outcomes < 2:
            guard_msgs.append(
                f"Not extracting rules from batch {key} due to only one "
                "outcome in training!")
        elif r.model:
            # str(list-of-rule-strings) -> compact -> ' V\n\t' disjuncts
            # (main.py:31-34's exact replace chain).
            ruleset_str = (
                str(r.model.split(" v "))
                .replace(" ", "")
                .replace(",", " V\n\t")
                .replace("'", "")
                .replace("^", " ^ ")
            )
            rule_blocks.append(
                "Batch: {}:\n\t# Observations: {}\n\tConfidence: {:.2f}"
                "\n\tSupport: {:.2f}\n\t{}".format(
                    key, n, round(r.confidence, 2),
                    round(r.support, 2), ruleset_str)
            )
        else:
            rule_blocks.append(
                "Batch: {}: No rules could match the specified criterion "
                "(support >= {}).".format(key, config.min_rule_support)
            )
    blocks = guard_msgs + rule_blocks
    return "\n\n" + "\n\n\n".join(blocks) if blocks else ""
