"""Event-log pipeline queries (SURVEY §2.5 W1-W3, §2.7 U2, §3.1) on the
driver's `events` table adapted into an event log, each with a DuckDB
oracle twin that re-derives the same semantics in pure SQL.

The shared adapter (sources/event_log.py:events_as_event_log) maps
user_id→case, event_type→activity, ts→start, ts+ceil(value)s→end,
'r'||user_id%20→resource; its SQL twin is ``LOG_SQL`` below. All
timestamps compare as epoch MICROSECONDS (Spark ``unix_micros`` ≡ DuckDB
``epoch_us``) — the reference's data is µs-precision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..config import ActivationRulesMode, Configuration, EventLogIDs
from ..operators.activation_rules import features_table, get_activation_rules
from ..operators.enablement import (
    CONCURRENCY_THRESHOLD,
    add_enabled_times,
    directly_follows_matrix,
)
from ..operators.discovery import detect_task_batches, discover_batches
from ..operators.reporting import batch_report
from ..operators.waiting_time import add_waiting_times
from ..sources.event_log import events_as_event_log
from .registry import query

IDS = EventLogIDs()

# SQL twin of events_as_event_log: one row per event with epoch-µs
# start/end. chr(31) = the \x1f separator used by engine-internal keys.
LOG_SQL = """
  log AS (
    SELECT event_id,
           CAST(user_id AS VARCHAR)                                   AS case_id,
           event_type                                                 AS activity,
           'r' || CAST(user_id % 20 AS VARCHAR)                       AS resource,
           epoch_us(ts)                                               AS s,
           epoch_us(ts) + CAST(ceil(value) AS BIGINT) * 1000000       AS e
    FROM events
  )
"""

# Directly-follows matrix + concurrency relation (U2 steps 1-2;
# reference semantics: Heuristics-Miner measure, threshold 0.1 —
# operators/enablement.py docstring).
DF_CONC_SQL = """
  pairs AS (
    SELECT activity AS a,
           lead(activity) OVER (PARTITION BY case_id ORDER BY s, e, activity) AS b
    FROM log
  ),
  dfm AS (
    SELECT a, b, count(*) AS n FROM pairs WHERE b IS NOT NULL GROUP BY a, b
  ),
  conc AS (
    SELECT x.a AS a, x.b AS b, x.n AS nab, y.n AS nba
    FROM dfm x JOIN dfm y ON x.a = y.b AND x.b = y.a
    WHERE abs(x.n - y.n) * 1.0 / (x.n + y.n + 1) < 0.1
  )
"""

# Enabled time per event (U2 step 3): max end over same-case,
# non-concurrent, non-self predecessors with end <= start; fallback =
# case first start. Self = ANY event with the same (s, e, activity)
# triple — mirrors the engine's is_self exclusion.
ENABLED_SQL = """
  firsts AS (
    SELECT case_id, min(s) AS first_s FROM log GROUP BY case_id
  ),
  en AS (
    SELECT l.event_id, max(p.e) AS enabler
    FROM log l
    JOIN log p
      ON p.case_id = l.case_id
     AND p.e <= l.s
     AND NOT (p.s = l.s AND p.e = l.e AND p.activity = l.activity)
     AND p.activity || chr(31) || l.activity NOT IN (SELECT a || chr(31) || b FROM conc)
    GROUP BY l.event_id
  ),
  enabled AS MATERIALIZED (
    SELECT l.*, COALESCE(en.enabler, f.first_s) AS en_us
    FROM log l
    JOIN firsts f USING (case_id)
    LEFT JOIN en USING (event_id)
  )
"""


def _event_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_as_event_log(spark, sf_dir, IDS)


@query(
    "q30_enabled_times",
    f"""
    WITH {LOG_SQL}, {DF_CONC_SQL}, {ENABLED_SQL}
    SELECT event_id, case_id, activity, en_us AS enabled_us
    FROM enabled
    """,
)
def q30_enabled_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 concurrency oracle end-to-end: directly-follows matrix →
    concurrency pairs (broadcast) → per-event enabled time via a
    higher-order filter over the case's own events (JVM-side, no
    self-join, no Python).

    Scale: one window shuffle on case; the |activities|² concurrency
    relation is collected and inlined as a literal — it is metadata,
    not data. The SQL twin uses the equivalent self-join formulation.
    """
    log = _event_log(spark, sf_dir)
    out = add_enabled_times(log, IDS)
    return out.select(
        "event_id",
        F.col(IDS.case).alias("case_id"),
        F.col(IDS.activity).alias("activity"),
        F.unix_micros(F.col(IDS.enabled_time)).alias("enabled_us"),
    )


@query(
    "q35_concurrency_pairs",
    f"""
    WITH {LOG_SQL}, {DF_CONC_SQL}
    SELECT a, b, nab, nba FROM conc
    """,
)
def q35_concurrency_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 steps 1-2 in isolation: the Heuristics-Miner concurrency
    relation (both directions emitted). Tiny output — |activities|²."""
    log = _event_log(spark, sf_dir)
    dfm = directly_follows_matrix(log, IDS)
    x, y = dfm.alias("x"), dfm.alias("y")
    return (
        x.join(y, (F.col("x.a") == F.col("y.b")) & (F.col("x.b") == F.col("y.a")))
        .filter(
            F.abs(F.col("x.n") - F.col("y.n")) / (F.col("x.n") + F.col("y.n") + 1)
            < CONCURRENCY_THRESHOLD
        )
        .select(
            F.col("x.a").alias("a"),
            F.col("x.b").alias("b"),
            F.col("x.n").alias("nab"),
            F.col("y.n").alias("nba"),
        )
    )


# Task-level batch detection (W1): lag-classify adjacent executions of
# the same activity by the same resource, chain while the class repeats.
TASK_CHAIN_SQL = """
  t1 AS (
    SELECT *,
           lag(s) OVER w AS ps, lag(e) OVER w AS pe
    FROM log
    WINDOW w AS (PARTITION BY resource, activity ORDER BY s, e, case_id)
  ),
  t2 AS (
    SELECT *,
           CASE WHEN ps IS NULL THEN NULL
                WHEN s = ps AND e = pe THEN 'simultaneous'
                WHEN s >= pe AND s - pe <= 0 THEN 'sequential'
                WHEN s < pe THEN 'concurrent'
                ELSE NULL END AS cls
    FROM t1
  ),
  t3 AS (
    SELECT *, lag(cls) OVER w AS pcls
    FROM t2
    WINDOW w AS (PARTITION BY resource, activity ORDER BY s, e, case_id)
  ),
  t4 AS (
    SELECT *,
           sum(CASE WHEN cls IS NULL OR cls <> pcls THEN 1 ELSE 0 END)
             OVER (PARTITION BY resource, activity ORDER BY s, e, case_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
    FROM t3
  ),
  task_chains AS (
    SELECT resource, activity, grp,
           max(cls)                AS batch_kind,
           count(*)                AS n_events,
           count(DISTINCT case_id) AS n_cases,
           min(s)                  AS chain_start_us
    FROM t4
    GROUP BY resource, activity, grp
  )
"""


@query(
    "q31_task_batches",
    f"""
    WITH {LOG_SQL}, {TASK_CHAIN_SQL}
    SELECT resource, activity, batch_kind, n_events, n_cases, chain_start_us
    FROM task_chains
    WHERE batch_kind IS NOT NULL
    """,
)
def q31_task_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 task-level detection: one row per detected chain (raw BAMA
    class, pre-repair). Gap = 0 (reference default, discovery.py:239).

    Scale: single window shuffle on (resource, activity); the chain
    summary is a partial-aggregable groupBy over the same keys — AQE
    coalesces the tiny output.
    """
    log = _event_log(spark, sf_dir)
    det = detect_task_batches(log, IDS, gap_seconds=0)
    return (
        det.filter(F.col("_task_type").isNotNull())
        .groupBy("_task_grp")
        .agg(
            F.first(IDS.resource).alias("resource"),
            F.first(IDS.activity).alias("activity"),
            F.first("_task_type").alias("batch_kind"),
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct(IDS.case).alias("n_cases"),
            F.min(F.unix_micros(F.col(IDS.start_time))).alias("chain_start_us"),
        )
        .drop("_task_grp")
    )


# --------------------------------------------------------------------------
# Full discovery pipeline oracle (SURVEY §3.1 stages 1-2): enablement →
# task + case detection → mixed-type split → wrong-enabled fixpoint
# (recursive CTE: thr_{k+1} = min case-start among cases enabled after
# thr_k; a case's split index = the first k whose threshold admits it —
# provably identical to the reference's iterative re-splitting loop,
# discovery.py:12-81, given the enabled≤start invariant the estimator
# guarantees) → min-size filter → canonical type names.
# --------------------------------------------------------------------------

DISCOVERY_SQL = """
  d1 AS (
    SELECT * FROM (
      SELECT *, lag(s) OVER dw1 AS ps, lag(e) OVER dw1 AS pe
      FROM enabled
      WINDOW dw1 AS (PARTITION BY resource, activity ORDER BY s, e, case_id)
    )
  ),
  d2 AS (
    SELECT *, CASE WHEN ps IS NULL THEN NULL
                   WHEN s = ps AND e = pe THEN 'simultaneous'
                   WHEN s >= pe AND s - pe <= 0 THEN 'sequential'
                   WHEN s < pe THEN 'concurrent' END AS cls
    FROM d1
  ),
  d3 AS (
    SELECT *, lag(cls) OVER dw3 AS pcls
    FROM d2
    WINDOW dw3 AS (PARTITION BY resource, activity ORDER BY s, e, case_id)
  ),
  d4 AS (
    SELECT *, sum(CASE WHEN cls IS NULL OR cls <> pcls THEN 1 ELSE 0 END)
                OVER (PARTITION BY resource, activity ORDER BY s, e, case_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tgrp
    FROM d3
  ),
  d5 AS (
    SELECT *, max(cls) OVER (PARTITION BY resource, activity, tgrp) AS task_type
    FROM d4
  ),
  tev AS MATERIALIZED (
    SELECT event_id, case_id, activity, resource, s, e, en_us, task_type,
           CASE WHEN task_type IS NOT NULL
                THEN resource || chr(31) || activity || chr(31) || CAST(tgrp AS VARCHAR)
           END AS task_grp
    FROM d5
  ),
  c1 AS (
    SELECT *, lag(resource) OVER cw1 AS pres
    FROM tev
    WINDOW cw1 AS (PARTITION BY case_id ORDER BY s, e, activity)
  ),
  c2 AS MATERIALIZED (
    SELECT *, sum(CASE WHEN pres IS NULL OR pres <> resource THEN 1 ELSE 0 END)
                OVER (PARTITION BY case_id ORDER BY s, e, activity
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
    FROM c1
  ),
  env0 AS (
    SELECT case_id, run, any_value(resource) AS eres,
           string_agg(activity, chr(31) ORDER BY s, e, activity) AS acts,
           min(s) AS es, max(e) AS ee
    FROM c2 GROUP BY case_id, run HAVING count(*) >= 2
  ),
  e1 AS (
    SELECT *, lag(es) OVER ew1 AS eps, lag(ee) OVER ew1 AS epe
    FROM env0
    WINDOW ew1 AS (PARTITION BY eres, acts ORDER BY es, ee, case_id)
  ),
  e2 AS (
    SELECT *, CASE WHEN eps IS NULL THEN NULL
                   WHEN es = eps AND ee = epe THEN 'simultaneous'
                   WHEN es >= epe AND es - epe <= 0 THEN 'sequential'
                   WHEN es < epe THEN 'concurrent' END AS ecls
    FROM e1
  ),
  e3 AS (
    SELECT *, lag(ecls) OVER ew3 AS epcls
    FROM e2
    WINDOW ew3 AS (PARTITION BY eres, acts ORDER BY es, ee, case_id)
  ),
  e4 AS (
    SELECT *, sum(CASE WHEN ecls IS NULL OR ecls <> epcls THEN 1 ELSE 0 END)
                OVER (PARTITION BY eres, acts ORDER BY es, ee, case_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS egrp
    FROM e3
  ),
  e5 AS (
    SELECT *, max(ecls) OVER (PARTITION BY eres, acts, egrp) AS eraw FROM e4
  ),
  envs AS MATERIALIZED (
    SELECT case_id, run,
           CASE WHEN eraw IS NOT NULL
                THEN eres || chr(31) || acts || chr(31) || CAST(egrp AS VARCHAR)
           END AS sub_grp,
           CASE WHEN eraw = 'sequential' THEN 'sequential case-based'
                WHEN eraw = 'concurrent' THEN 'concurrent case-based'
                ELSE eraw END AS sub_type0
    FROM e5
  ),
  sev AS (
    SELECT c2.event_id, c2.case_id, c2.activity, c2.resource, c2.s, c2.e,
           c2.en_us, c2.task_grp, c2.task_type, envs.sub_grp,
           CASE WHEN envs.sub_grp IS NOT NULL THEN envs.sub_type0 END AS sub_type
    FROM c2 LEFT JOIN envs USING (case_id, run)
  ),
  mixed AS MATERIALIZED (
    SELECT sub_grp FROM sev WHERE sub_grp IS NOT NULL
    GROUP BY sub_grp
    HAVING count(DISTINCT COALESCE(task_type, '~null~')) > 1
  ),
  m1 AS MATERIALIZED (
    SELECT sev.* REPLACE (
      CASE WHEN sub_grp IN (SELECT sub_grp FROM mixed) THEN NULL ELSE sub_grp END AS sub_grp,
      CASE WHEN sub_grp IN (SELECT sub_grp FROM mixed) THEN NULL ELSE sub_type END AS sub_type)
    FROM sev
  ),
  pt0 AS (
    SELECT task_grp AS grp, case_id, s, en_us,
           min(s) OVER (PARTITION BY task_grp, case_id) AS ms
    FROM m1 WHERE sub_type IS NULL AND task_grp IS NOT NULL
  ),
  pt1 AS MATERIALIZED (
    SELECT grp, case_id, min(s) AS cs, min(en_us) AS ce
    FROM pt0 WHERE s = ms GROUP BY grp, case_id
  ),
  fpt AS (
    SELECT grp, 0 AS k, min(cs) AS thr FROM pt1 GROUP BY grp
    UNION ALL
    SELECT pt1.grp, fpt.k + 1 AS k, min(pt1.cs) AS thr
    FROM pt1 JOIN fpt ON pt1.grp = fpt.grp AND pt1.ce > fpt.thr
    GROUP BY pt1.grp, fpt.k
  ),
  sxt AS MATERIALIZED (
    SELECT pt1.grp, pt1.case_id, min(fpt.k) AS sub_idx
    FROM pt1 JOIN fpt ON pt1.grp = fpt.grp AND pt1.ce <= fpt.thr
    GROUP BY pt1.grp, pt1.case_id
  ),
  m2 AS MATERIALIZED (
    SELECT m1.* REPLACE (
      CASE WHEN m1.task_grp IS NOT NULL
           THEN m1.task_grp || chr(29) || CAST(COALESCE(sxt.sub_idx, 0) AS VARCHAR)
      END AS task_grp)
    FROM m1 LEFT JOIN sxt ON m1.task_grp = sxt.grp AND m1.case_id = sxt.case_id
  ),
  ps0 AS (
    SELECT sub_grp AS grp, case_id, s, en_us,
           min(s) OVER (PARTITION BY sub_grp, case_id) AS ms
    FROM m2 WHERE sub_type IS NOT NULL AND sub_grp IS NOT NULL
  ),
  ps1 AS MATERIALIZED (
    SELECT grp, case_id, min(s) AS cs, min(en_us) AS ce
    FROM ps0 WHERE s = ms GROUP BY grp, case_id
  ),
  fps AS (
    SELECT grp, 0 AS k, min(cs) AS thr FROM ps1 GROUP BY grp
    UNION ALL
    SELECT ps1.grp, fps.k + 1 AS k, min(ps1.cs) AS thr
    FROM ps1 JOIN fps ON ps1.grp = fps.grp AND ps1.ce > fps.thr
    GROUP BY ps1.grp, fps.k
  ),
  sxs AS MATERIALIZED (
    SELECT ps1.grp, ps1.case_id, min(fps.k) AS sub_idx
    FROM ps1 JOIN fps ON ps1.grp = fps.grp AND ps1.ce <= fps.thr
    GROUP BY ps1.grp, ps1.case_id
  ),
  m3 AS MATERIALIZED (
    SELECT m2.* REPLACE (
      CASE WHEN m2.sub_grp IS NOT NULL
           THEN m2.sub_grp || chr(29) || CAST(COALESCE(sxs.sub_idx, 0) AS VARCHAR)
      END AS sub_grp)
    FROM m2 LEFT JOIN sxs ON m2.sub_grp = sxs.grp AND m2.case_id = sxs.case_id
  ),
  small_sub AS MATERIALIZED (
    SELECT sub_grp FROM m3 WHERE sub_grp IS NOT NULL
    GROUP BY sub_grp HAVING count(DISTINCT case_id) < 2
  ),
  m4 AS MATERIALIZED (
    SELECT m3.* REPLACE (
      CASE WHEN sub_grp IN (SELECT sub_grp FROM small_sub) THEN NULL ELSE task_grp END AS task_grp,
      CASE WHEN sub_grp IN (SELECT sub_grp FROM small_sub) THEN NULL ELSE task_type END AS task_type,
      CASE WHEN sub_grp IN (SELECT sub_grp FROM small_sub) THEN NULL ELSE sub_type END AS sub_type,
      CASE WHEN sub_grp IN (SELECT sub_grp FROM small_sub) THEN NULL ELSE sub_grp END AS sub_grp)
    FROM m3
  ),
  small_task AS MATERIALIZED (
    SELECT task_grp FROM m4 WHERE task_grp IS NOT NULL AND sub_type IS NULL
    GROUP BY task_grp HAVING count(DISTINCT case_id) < 2
  ),
  m5 AS MATERIALIZED (
    SELECT m4.* REPLACE (
      CASE WHEN task_grp IN (SELECT task_grp FROM small_task) THEN NULL ELSE task_grp END AS task_grp,
      CASE WHEN task_grp IN (SELECT task_grp FROM small_task) THEN NULL ELSE task_type END AS task_type)
    FROM m4
  ),
  final AS MATERIALIZED (
    SELECT *,
      CASE WHEN sub_grp IS NOT NULL THEN 'S' || chr(30) || sub_grp
           WHEN task_type IS NOT NULL THEN 'T' || chr(30) || task_grp END AS bkey,
      CASE WHEN sub_grp IS NOT NULL THEN
             CASE sub_type WHEN 'simultaneous' THEN 'Parallel'
                           WHEN 'sequential case-based' THEN 'Sequential case-based'
                           WHEN 'concurrent case-based' THEN 'Concurrent case-based' END
           WHEN task_type IS NOT NULL THEN
             CASE task_type WHEN 'simultaneous' THEN 'Parallel'
                            WHEN 'sequential' THEN 'Sequential task-based'
                            WHEN 'concurrent' THEN 'Concurrent task-based' END
      END AS btype
    FROM m5
  )
"""

PIPELINE_PREFIX = (
    "WITH RECURSIVE " + LOG_SQL + ", " + DF_CONC_SQL + ", " + ENABLED_SQL + ", "
    + DISCOVERY_SQL
)

# Per-(instance, case) waiting-time scalars on top of `final`
# (reference: analysis.py:51-105; engine: operators/waiting_time.py).
WT_SQL = """
  wt0 AS (
    SELECT bkey, btype, case_id, activity, s, e, en_us,
           min(s) OVER (PARTITION BY bkey, case_id) AS ms
    FROM final WHERE bkey IS NOT NULL
  ),
  wtc AS (
    SELECT bkey, case_id, any_value(btype) AS btype,
           min(s) AS cs,
           min(CASE WHEN s = ms THEN en_us END) AS ce,
           max(e) AS pe,
           count(*) AS n_events
    FROM wt0 GROUP BY bkey, case_id
  ),
  wti AS MATERIALIZED (
    SELECT *,
           min(cs) OVER (PARTITION BY bkey) AS inst_s,
           max(ce) OVER (PARTITION BY bkey) AS inst_en
    FROM wtc
  )
"""


# One discovery-pipeline execution per (session, sf_dir, config): q32,
# q33, q34, q36 and q37 all consume the same discovered frame, and the
# result of discover_batches is a localCheckpointed (lineage-free,
# block-cached) DataFrame that is safe to share across queries within a
# session. Without this, a bench/verify session runs the whole pipeline
# (enablement + two detector window stacks + repairs) once PER QUERY and
# holds each run's checkpoint blocks concurrently.
_DISC_CACHE: dict[tuple[str, str, bool], tuple[DataFrame, Configuration]] = {}

# q28's displaced-log enabled frame (semantically distinct from the
# _DISC_CACHE pipeline): one deferred localCheckpoint per
# (applicationId, sf_dir), shared across invocations.
_Q28_CACHE: dict[tuple[str, str], DataFrame] = {}


def _discovered(spark: SparkSession, sf_dir: str, checkpoints: bool = False):
    key = (spark.sparkContext.applicationId, sf_dir, checkpoints)
    if key not in _DISC_CACHE:
        cfg = Configuration(report_batch_checkpoints=checkpoints)
        log = add_enabled_times(_event_log(spark, sf_dir), IDS)
        _DISC_CACHE[key] = discover_batches(log, cfg), cfg
        # Sessions come and go (tests, bench, driver); drop entries from
        # dead applications so stale JVM references don't accumulate.
        for k in [k for k in _DISC_CACHE if k[0] != key[0]]:
            del _DISC_CACHE[k]
    return _DISC_CACHE[key]


@query(
    "q32_batch_discovery_stats",
    PIPELINE_PREFIX
    + """
    SELECT btype AS batch_instance_type,
           count(DISTINCT bkey)    AS num_instances,
           count(*)                AS num_events,
           count(DISTINCT case_id) AS num_cases
    FROM final WHERE bkey IS NOT NULL GROUP BY btype
    """,
)
def q32_batch_discovery_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship discovery pipeline end-to-end (§3.1 stages 1-2):
    enablement oracle → task+case detection → all repair passes →
    per-type instance/event/case counts.

    Scale: windows shuffle on (resource, activity) / case / instance
    keys; every repair is agg + broadcast join-back; the fixpoint split
    runs in applyInPandas over per-(instance,case) aggregates — KB-sized
    groups. The oracle re-derives the whole pipeline in SQL, fixpoint
    included (recursive CTE).
    """
    disc, cfg = _discovered(spark, sf_dir)
    ids = cfg.log_ids
    return (
        disc.filter(F.col(ids.batch_id).isNotNull())
        .groupBy(F.col(ids.batch_type).alias("batch_instance_type"))
        .agg(
            F.countDistinct(ids.batch_id).alias("num_instances"),
            F.count(F.lit(1)).alias("num_events"),
            F.countDistinct(ids.case).alias("num_cases"),
        )
    )


@query(
    "q33_waiting_time_decomposition",
    PIPELINE_PREFIX + ", " + WT_SQL
    + """
    SELECT case_id, btype AS batch_instance_type,
           inst_s          AS inst_start_us,
           cs - ce         AS total_wt_us,
           inst_en - ce    AS creation_wt_us,
           inst_s - inst_en AS ready_wt_us,
           cs - inst_s     AS other_wt_us,
           pe - cs         AS pt_us
    FROM wti
    """,
)
def q33_waiting_time_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WT decomposition (§3.1 stage 3): one row per batch case with the
    exact split total = creation + ready + other (invariant by
    construction). Labels are engine-internal, so the instance is
    identified by its start instant, not its id.

    Scale: two window passes — (instance, case) then (instance) — zero
    joins (J1 via windows).
    """
    disc, cfg = _discovered(spark, sf_dir, checkpoints=True)
    ids = cfg.log_ids
    wt = add_waiting_times(disc, cfg)
    return (
        wt.filter(F.col(ids.batch_id).isNotNull())
        .groupBy(ids.batch_id, ids.case)
        .agg(
            F.first(ids.batch_type).alias("batch_instance_type"),
            F.unix_micros(F.first(ids.batch_start_time)).alias("inst_start_us"),
            F.first(ids.batch_total_wt).alias("total_wt_us"),
            F.first(ids.batch_creation_wt).alias("creation_wt_us"),
            F.first(ids.batch_ready_wt).alias("ready_wt_us"),
            F.first(ids.batch_other_wt).alias("other_wt_us"),
            F.first(ids.batch_pt).alias("pt_us"),
        )
        .select(
            F.col(ids.case).alias("case_id"),
            "batch_instance_type", "inst_start_us", "total_wt_us",
            "creation_wt_us", "ready_wt_us", "other_wt_us", "pt_us",
        )
    )


@query(
    "q34_waiting_time_report",
    PIPELINE_PREFIX + ", " + WT_SQL
    + """
    , inst_acts AS (
      SELECT bkey, string_agg(activity, chr(31) ORDER BY activity) AS acts
      FROM (SELECT DISTINCT bkey, activity FROM final WHERE bkey IS NOT NULL)
      GROUP BY bkey
    ),
    percase AS MATERIALIZED (
      SELECT w.*, ia.acts FROM wti w JOIN inst_acts ia USING (bkey)
    ),
    lv AS (
      SELECT acts, btype AS batch_type, count(DISTINCT bkey) AS num_instances,
             count(*) AS num_cases, sum(n_events) AS num_events,
             sum(pe - cs) AS sum_pt_us, sum(cs - ce) AS sum_wt_us,
             sum(cs - ce) AS sum_total_wt_us, sum(inst_en - ce) AS sum_creation_wt_us,
             sum(inst_s - inst_en) AS sum_ready_wt_us, sum(cs - inst_s) AS sum_other_wt_us
      FROM percase GROUP BY acts, btype
      UNION ALL
      SELECT acts, '__overall__', count(DISTINCT bkey), count(*), sum(n_events),
             sum(pe - cs), sum(cs - ce), sum(cs - ce), sum(inst_en - ce),
             sum(inst_s - inst_en), sum(cs - inst_s)
      FROM percase GROUP BY acts
    ),
    instg AS MATERIALIZED (
      SELECT acts, btype, bkey, count(*) AS sz FROM percase GROUP BY acts, btype, bkey
    ),
    sized AS (
      SELECT acts, batch_type, string_agg(sz || ':' || n, ',' ORDER BY sz) AS size_distribution
      FROM (
        SELECT acts, btype AS batch_type, sz, count(*) AS n FROM instg GROUP BY acts, btype, sz
        UNION ALL
        SELECT acts, '__overall__', sz, count(*) FROM instg GROUP BY acts, sz
      ) GROUP BY acts, batch_type
    ),
    fc0 AS (
      SELECT bkey, case_id,
             row_number() OVER (PARTITION BY bkey
                                ORDER BY s, e, activity, case_id) AS frn
      FROM final WHERE bkey IS NOT NULL
    ),
    fcase AS (SELECT bkey, case_id AS first_case FROM fc0 WHERE frn = 1),
    patsel0 AS (
      SELECT ia.acts, ia.bkey, fcase.first_case,
             row_number() OVER (PARTITION BY ia.acts ORDER BY
               CASE WHEN substr(ia.bkey, 1, 1) = 'T' THEN 0 ELSE 1 END,
               substr(ia.bkey, 3)) AS prn
      FROM inst_acts ia JOIN fcase USING (bkey)
    ),
    pat AS MATERIALIZED (
      SELECT p.acts, list(f.activity ORDER BY f.s, f.e, f.activity) AS pattern
      FROM (SELECT acts, bkey, first_case FROM patsel0 WHERE prn = 1) p
      JOIN final f ON f.bkey = p.bkey AND f.case_id = p.first_case
      GROUP BY p.acts
    ),
    case_seqs AS MATERIALIZED (
      SELECT case_id, list(activity ORDER BY s, e, activity) AS seq
      FROM log GROUP BY case_id
    ),
    singled AS (
      SELECT p.acts, (SELECT count(*) FROM log WHERE log.activity = p.pattern[1]) AS occ
      FROM pat p WHERE len(p.pattern) = 1
    ),
    multid AS (
      SELECT acts, count(*) AS occ FROM (
        SELECT p.acts, p.pattern, cs.seq,
               unnest(range(1, len(cs.seq) - len(p.pattern) + 2)) AS i
        FROM (SELECT * FROM pat WHERE len(pattern) > 1) p
        JOIN case_seqs cs ON len(cs.seq) >= len(p.pattern)
      )
      WHERE seq[i : i + len(pattern) - 1] = pattern
      GROUP BY acts
    ),
    denom AS (
      SELECT acts, occ FROM singled
      UNION ALL
      SELECT p.acts, COALESCE(md.occ, 0)
      FROM pat p LEFT JOIN multid md USING (acts)
      WHERE len(p.pattern) > 1
    )
    SELECT lv.acts AS activities, lv.batch_type, lv.num_instances, lv.num_cases,
           CAST(lv.num_events AS BIGINT) AS num_events,
           CAST(lv.sum_pt_us AS BIGINT) * 1.0 / lv.num_cases / 1000000 AS avg_pt_s,
           CAST(lv.sum_wt_us AS BIGINT) * 1.0 / lv.num_cases / 1000000 AS avg_wt_s,
           CAST(lv.sum_total_wt_us AS BIGINT) * 1.0 / lv.num_cases / 1000000 AS avg_total_wt_s,
           CAST(lv.sum_creation_wt_us AS BIGINT) * 1.0 / lv.num_cases / 1000000 AS avg_creation_wt_s,
           CAST(lv.sum_ready_wt_us AS BIGINT) * 1.0 / lv.num_cases / 1000000 AS avg_ready_wt_s,
           CAST(lv.sum_other_wt_us AS BIGINT) * 1.0 / lv.num_cases / 1000000 AS avg_other_wt_s,
           CASE WHEN lv.sum_pt_us = 0 THEN 0.0
                ELSE CAST(lv.sum_pt_us AS BIGINT) * 1.0
                     / (CAST(lv.sum_pt_us AS BIGINT) + CAST(lv.sum_wt_us AS BIGINT))
           END AS cte,
           d.occ AS total_occurrences,
           lv.num_cases * 1.0 / (CASE WHEN d.occ <= 0 THEN 1 ELSE d.occ END) AS frequency,
           sized.size_distribution
    FROM lv
    JOIN denom d ON d.acts = lv.acts
    JOIN sized ON sized.acts = lv.acts AND sized.batch_type = lv.batch_type
    """,
)
def q34_waiting_time_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Report aggregation (§3.2; reference reporting.py:11-206): per
    (batch key, type) + type-pooled stats, occurrence denominators
    (W5 count of each key's ordered pattern; a 1-activity pattern counts
    plain executions), CTE with the reference's zero-guard, frequency
    with the clamp-to-1 guard.

    Scale: output is O(#batch keys) — independent of log size; the
    one matching pass of the denominators is the only full-log pass
    besides the per-case rollup. Averages and
    ratios are SINGLE IEEE divisions of exact integer sums (no decimal
    round()), so Spark and the oracle produce bitwise-identical doubles.
    """
    disc, _ = _discovered(spark, sf_dir)
    cfg = Configuration()
    wt = add_waiting_times(disc, cfg)
    rep = batch_report(wt, cfg)
    us = 1_000_000

    def avg_s(sum_col):
        return F.col(sum_col) / F.col("num_cases") / us

    return rep.select(
        F.concat_ws("\x1f", "activities").alias("activities"),
        F.col(cfg.log_ids.batch_type).alias("batch_type"),
        "num_instances", "num_cases", "num_events",
        avg_s("sum_pt").alias("avg_pt_s"),
        avg_s("sum_wt").alias("avg_wt_s"),
        avg_s("sum_total_wt").alias("avg_total_wt_s"),
        avg_s("sum_creation_wt").alias("avg_creation_wt_s"),
        avg_s("sum_ready_wt").alias("avg_ready_wt_s"),
        avg_s("sum_other_wt").alias("avg_other_wt_s"),
        F.when(F.col("sum_pt") == 0, F.lit(0.0))
        .otherwise(F.col("sum_pt") / (F.col("sum_pt") + F.col("sum_wt")))
        .alias("cte"),
        "total_occurrences",
        F.col("frequency").alias("frequency"),
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.map_entries("size_distribution")),
                lambda kv: F.concat_ws(":", kv["key"].cast("string"), kv["value"].cast("string")),
            ),
        ).alias("size_distribution"),
    )


# --------------------------------------------------------------------------
# Activation-rule mining (SURVEY §2.7 U1/U3, §3.3): features table +
# sequential-covering rule induction.
# --------------------------------------------------------------------------

_CFG = Configuration()
_N_READY = _CFG.num_batch_ready_negative_events
_K_ENABLED = _CFG.num_batch_enabled_negative_events
_SEED = _CFG.random_seed

# SQL twin of operators/activation_rules.features_table. The sampled
# negatives use the same md5(seed, case) key as the engine (W7
# determinism policy), so the whole table is reproducible cross-engine.
FEATURES_SQL = f"""
  , pc0 AS (
    SELECT bkey, btype, resource, case_id, activity, s, e, en_us,
           row_number() OVER (PARTITION BY bkey, case_id
                              ORDER BY s, en_us, activity) AS rn
    FROM final WHERE bkey IS NOT NULL
  ),
  pcase AS MATERIALIZED (
    SELECT bkey, btype, resource, case_id,
           s AS case_start, en_us AS case_enabled,
           activity AS case_first_activity
    FROM pc0 WHERE rn = 1
  ),
  iacts AS (
    SELECT bkey, string_agg(activity, chr(31) ORDER BY activity) AS acts
    FROM (SELECT DISTINCT bkey, activity FROM final WHERE bkey IS NOT NULL)
    GROUP BY bkey
  ),
  insts AS MATERIALIZED (
    SELECT bkey, any_value(btype) AS btype, any_value(resource) AS resource,
           max(case_enabled) AS inst_enabled,
           min(case_enabled) AS inst_first_enabled,
           min(case_start)   AS inst_start
    FROM pcase GROUP BY bkey
  ),
  pos AS (SELECT bkey, inst_start AS instant, 1 AS outcome FROM insts),
  negr AS (
    SELECT bkey,
           CAST(floor(inst_enabled
                      + i * ((inst_start - inst_enabled) / {_N_READY + 1}))
                AS BIGINT) AS instant,
           0 AS outcome
    FROM (SELECT bkey, inst_enabled, inst_start,
                 unnest(range(1, {_N_READY + 1})) AS i
          FROM insts WHERE inst_start > inst_enabled)
  ),
  nege AS (
    SELECT bkey, case_enabled AS instant, 0 AS outcome
    FROM (
      SELECT p.bkey, p.case_enabled,
             row_number() OVER (
               PARTITION BY p.bkey
               ORDER BY md5('{_SEED}' || chr(31) || p.case_id), p.case_id) AS srn
      FROM pcase p JOIN insts i2 USING (bkey)
      WHERE p.case_enabled < i2.inst_start
    ) WHERE srn <= {_K_ENABLED}
  ),
  instants AS MATERIALIZED (
    SELECT * FROM pos UNION ALL SELECT * FROM negr UNION ALL SELECT * FROM nege
  ),
  sub0 AS (
    SELECT it.bkey, it.instant, it.outcome, p.case_id, p.case_start,
           p.case_enabled, p.case_first_activity,
           row_number() OVER (
             PARTITION BY it.bkey, it.instant, it.outcome
             ORDER BY p.case_start, p.case_enabled, p.case_first_activity) AS frn
    FROM instants it JOIN pcase p USING (bkey)
    WHERE p.case_enabled <= it.instant
  ),
  subs AS MATERIALIZED (
    SELECT bkey, instant, outcome,
           count(DISTINCT case_id) AS num_queue,
           max(case_enabled) AS last_enabled,
           min(case_enabled) AS first_enabled,
           min(CASE WHEN frn = 1 THEN case_first_activity END) AS firing_activity
    FROM sub0 GROUP BY bkey, instant, outcome
  ),
  cfs AS MATERIALIZED (
    SELECT case_id, min(s) AS log_first_s FROM log GROUP BY case_id
  ),
  flows AS MATERIALIZED (
    SELECT it.bkey, it.instant, it.outcome, min(c.log_first_s) AS min_flow_start
    FROM instants it
    JOIN pcase p USING (bkey)
    JOIN cfs c ON c.case_id = p.case_id
    WHERE p.case_enabled <= it.instant
    GROUP BY it.bkey, it.instant, it.outcome
  ),
  pts AS MATERIALIZED (
    SELECT DISTINCT i2.resource, it.instant
    FROM instants it JOIN insts i2 USING (bkey)
  ),
  wl AS MATERIALIZED (
    SELECT p.resource, p.instant, count(DISTINCT e2.case_id) AS workload
    FROM pts p
    LEFT JOIN enabled e2
      ON e2.resource = p.resource AND e2.en_us <= p.instant
     AND p.instant <= e2.e
    GROUP BY p.resource, p.instant
  ),
  features AS (
    SELECT ia.acts AS activities,
           i2.btype AS batch_instance_type,
           s1.firing_activity,
           round(s1.instant / 1000000.0, 6) AS instant_s,
           s1.num_queue,
           round((s1.instant - s1.last_enabled) / 1000000.0, 6)   AS t_ready,
           round((s1.instant - s1.first_enabled) / 1000000.0, 6)  AS t_waiting,
           round((s1.instant - f2.min_flow_start) / 1000000.0, 6) AS t_max_flow,
           isodow(make_timestamp(s1.instant)) - 1 AS day_of_week,
           day(make_timestamp(s1.instant))        AS day_of_month,
           hour(make_timestamp(s1.instant))       AS hour_of_day,
           minute(make_timestamp(s1.instant))     AS minute,
           COALESCE(w2.workload, 0) AS workload,
           s1.outcome
    FROM subs s1
    JOIN flows f2 USING (bkey, instant, outcome)
    JOIN insts i2 USING (bkey)
    JOIN iacts ia USING (bkey)
    LEFT JOIN wl w2 ON w2.resource = i2.resource AND w2.instant = s1.instant
  )
"""


# Shared features table (q36 projection + q37 mining + repeated bench
# iterations): the instants/workload pipeline above it costs ~5 s at
# sf0.1 per build, so it is staged once per (applicationId, sf_dir)
# through a deferred localCheckpoint — the same sharing the _DISC_CACHE
# gives the discovery frame. The frame is (instances × instants) rows —
# far smaller than the event log.
_FEAT_CACHE: dict[tuple[str, str], DataFrame] = {}


def _features(spark: SparkSession, sf_dir: str):
    disc, cfg = _discovered(spark, sf_dir)
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _FEAT_CACHE:
        from ..operators.checkpoints import data_barrier

        feat = data_barrier(features_table(disc, cfg), eager=False)
        _FEAT_CACHE[key] = feat
        for k in [k for k in _FEAT_CACHE if k[0] != key[0]]:
            del _FEAT_CACHE[k]
    return _FEAT_CACHE[key], cfg


@query(
    "q36_activation_features",
    PIPELINE_PREFIX + FEATURES_SQL + "SELECT * FROM features",
)
def q36_activation_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Features table for rule mining (U3 decomposed; reference:
    activation_rules.py:33-150): per (instance, instant) — 1 positive at
    the instance start, equi-spaced ready-interval negatives (W6), seeded
    sampled enablement negatives (W7), queue/ready/waiting/flow features
    (A3-A5, J6), calendar features Monday=0 (F3-F4), and workload via ONE
    range join over all distinct (resource, instant) points (J2).

    Scale: instants fan out with explode (no driver loop); the workload
    join keeps resource equality as the hash key with the range as a
    residual; everything else is window/agg over instance-sized groups.
    """
    feat, cfg = _features(spark, sf_dir)
    return feat.select(
        F.concat_ws("\x1f", "activities").alias("activities"),
        F.col(cfg.log_ids.batch_type).alias("batch_instance_type"),
        "firing_activity",
        F.round("instant", 6).alias("instant_s"),
        "num_queue",
        F.round("t_ready", 6).alias("t_ready"),
        F.round("t_waiting", 6).alias("t_waiting"),
        F.round("t_max_flow", 6).alias("t_max_flow"),
        "day_of_week", "day_of_month", "hour_of_day", "minute",
        "workload", "outcome",
    )


@query(
    "q37_activation_rules",
    # GOLDEN-SNAPSHOT oracle, not an independent SQL derivation: the
    # covering loop is iterative and not SQL-expressible, but its output
    # is fully deterministic (order-independent sums/quantiles per
    # group, deterministic tie-breaks in the grower), so the sf0.01
    # result is pinned as literal rows. Any upstream change to
    # discovery / enablement / features that moves a mined rule fails
    # this row visibly instead of hiding behind a rows-only check.
    # Valid ONLY at sf0.01 (the driver's correctness scale).
    """
    SELECT group_key, num_obs, model,
           CAST(confidence AS DOUBLE) AS confidence,
           CAST(support AS DOUBLE) AS support
    FROM (VALUES
      ('click',    CAST(15 AS BIGINT),
       '[t_waiting=>2.07855e+06] v [day_of_week=1]',
       1.0, 0.3333333333333333),
      ('purchase', CAST(12 AS BIGINT),
       '[t_waiting=>281192 ^ minute=>6]',
       1.0, 0.3333333333333333),
      ('view',     CAST(18 AS BIGINT),
       '[t_waiting=>867442 ^ minute=>13]',
       1.0, 0.2777777777777778)
    ) AS t(group_key, num_obs, model, confidence, support)
    """,
)
def q37_activation_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activation-rule mining end-to-end (U1 + A14/A15 guards):
    features table → group per firing activity → sequential-covering
    rule induction (FOIL-gain grower, accept/remove/repeat with the
    reference's support threshold) on the driver.

    The covering loop is iterative (not SQL-expressible) but
    deterministic — every statistic in the grower is an order-
    independent reduction and ties break on a total key — so the
    correctness gate pins the sf0.01 result as a golden snapshot (see
    the oracle above). The miner returns one pandas row per group; the
    groups that mined a rule become this query's rows.
    """
    feat, _ = _features(spark, sf_dir)
    # Reference guard is >30 rows/group; at sf0.01 the largest group has
    # 18 feature rows, so mine per firing activity with a lower floor to
    # exercise the full induction path at test scale.
    mine_cfg = Configuration(min_rule_obs=10)
    rules = get_activation_rules(feat, mine_cfg, ActivationRulesMode.PER_ACTIVITY)
    mined = rules[rules["model"].notna()].assign(
        group_key=lambda d: d["group_key"].str[0])
    return spark.createDataFrame(
        mined[["group_key", "num_obs", "model", "confidence", "support"]],
        "group_key string, num_obs bigint, model string, "
        "confidence double, support double",
    ).orderBy("group_key")


@query(
    "q38_interval_sweep",
    f"""
    WITH {LOG_SQL}, {DF_CONC_SQL}, {ENABLED_SQL},
    ev AS (
      SELECT case_id, en_us AS t, 1 AS kind, 1 AS de, 0 AS dp FROM enabled
      UNION ALL SELECT case_id, s, 2, -1, 1 FROM enabled
      UNION ALL SELECT case_id, e, 3, 0, -1 FROM enabled
    ),
    runx AS (
      SELECT case_id, t,
             sum(de) OVER w AS ne, sum(dp) OVER w AS np,
             lead(t) OVER (PARTITION BY case_id ORDER BY t, kind) AS nt
      FROM ev
      WINDOW w AS (PARTITION BY case_id ORDER BY t, kind
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT case_id,
           CAST(sum(CASE WHEN np > 0 THEN nt - t ELSE 0 END) AS BIGINT) AS sweep_pt,
           CAST(sum(CASE WHEN np = 0 AND ne > 0 THEN nt - t ELSE 0 END) AS BIGINT)
             AS sweep_wt
    FROM runx WHERE nt IS NOT NULL GROUP BY case_id
    """,
)
def q38_interval_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lifecycle interval-union sweep (W4; reference utils.py:127-176,
    a per-case Python loop there): explode each event into three
    lifecycle instants, run enabled/processing counters with one
    windowed pass, accrue processing vs waiting segment durations.

    Scale: explode is narrow (3x rows); one window shuffle on the group
    key; segments with dur=0 make tie order irrelevant (deterministic).
    """
    from ..operators.kernels import interval_sweep_pt_wt

    log = add_enabled_times(_event_log(spark, sf_dir), IDS)
    return interval_sweep_pt_wt(log, IDS, [IDS.case]).select(
        F.col(IDS.case).alias("case_id"), "sweep_pt", "sweep_wt"
    )


# --------------------------------------------------------------------------
# X-series preprocessing operators (SURVEY §2.9 X3/X5/X6;
# reference: src/preprocessing/handoff_batch.py:66-215)
# --------------------------------------------------------------------------

@query(
    "q26_trace_subset",
    f"""
    WITH {LOG_SQL},
    c AS (SELECT DISTINCT case_id FROM log WHERE activity = 'purchase'),
    r AS (SELECT case_id, row_number() OVER (ORDER BY case_id) AS rn,
                 count(*) OVER () AS n
          FROM c),
    kept AS (SELECT case_id FROM r
             WHERE rn <= CAST(floor(n * 0.4 + 0.5) AS BIGINT))
    SELECT l.event_id, l.case_id, l.activity
    FROM log l JOIN kept USING (case_id)
    """,
)
def q26_trace_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 trace-subset extraction (reference handoff_batch.py:66-74):
    events of the first round(n*40%) case ids among cases containing
    the target activity.

    Scale: the ordered window runs on the distinct matching case-id
    table (metadata-sized), never the events; the kept set semi-joins
    back broadcast. Rounding is half-up in both dialects.
    """
    from ..preprocessing import extract_traces_containing

    log = _event_log(spark, sf_dir)
    sub = extract_traces_containing(log, IDS, "purchase", 0.4)
    return sub.select(
        "event_id",
        F.col(IDS.case).alias("case_id"),
        F.col(IDS.activity).alias("activity"),
    )


@query(
    "q27_calendar_displacement",
    f"""
    WITH {LOG_SQL},
    rl AS (
      SELECT event_id, s,
             CASE WHEN user_id % 3 = 0 THEN 'Loan Officer ' || resource
                  ELSE 'Senior Officer ' || resource END AS rname
      FROM log JOIN events USING (event_id)
    ),
    comp AS (
      SELECT event_id, s, rname,
             ((s // 86400000000) + 3) % 7          AS dow,
             (s % 86400000000) // 3600000000       AS hh,
             (s % 3600000000) // 60000000          AS mi,
             (s % 60000000) // 1000000             AS ss,
             s % 1000000                           AS mc
      FROM rl
    )
    SELECT event_id,
           CASE
             WHEN rname LIKE '%Loan Officer%' AND dow >= 3
             THEN s + ((6 - dow) * 86400
                       + (((8 - hh) % 24 + 24) % 24) * 3600
                       + (59 - mi) * 60 + (59 - ss)) * 1000000
                    + (1000000 - mc)
             WHEN rname LIKE '%Senior Officer%' AND dow <= 2
             THEN s + ((2 - dow) * 86400
                       + (((8 - hh) % 24 + 24) % 24) * 3600
                       + (59 - mi) * 60 + (59 - ss)) * 1000000
                    + (1000000 - mc)
             ELSE s
           END AS new_start_us
    FROM comp
    """,
)
def q27_calendar_displacement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 calendar-displacement repair (reference handoff_batch.py:
    101-140): events of a resource outside its working calendar move
    forward to the next working window via exact component arithmetic
    (day → target weekday, hour → target+rollover, minute/second/µs →
    :59:59.999999→next second). The oracle re-derives the components
    from epoch-µs integer arithmetic (1970-01-01 = Thursday = 3,
    Monday=0 convention) — no timezone functions on either side.

    Scale: pure whole-stage-codegen CASE WHEN; zero shuffles.
    """
    from ..preprocessing import displace_calendar_unavailability

    log = _event_log(spark, sf_dir).withColumn(
        IDS.resource,
        F.concat(
            F.when((F.col(IDS.case).cast("bigint") % 3) == 0,
                   F.lit("Loan Officer ")).otherwise(F.lit("Senior Officer ")),
            F.col(IDS.resource),
        ),
    )
    out = displace_calendar_unavailability(log, IDS)
    return out.select(
        "event_id",
        F.unix_micros(F.col(IDS.start_time)).alias("new_start_us"),
    )


# q28 log shape: hour-aligned starts with 1-3h durations. The raw
# µs-jittered adapter log admits no e2.start == e1.end matches at all
# (exact-equality candidate condition, reference handoff_batch.py:170),
# and a constant duration leaves no strictly-interior hour for
# enabled_2 — variable-length aligned intervals make the candidate
# condition realizable while keeping every engine/oracle comparison
# exact integer arithmetic.
HOUR_LOG_SQL = """
  log AS (
    SELECT event_id,
           CAST(user_id AS VARCHAR)                                 AS case_id,
           event_type                                               AS activity,
           'r' || CAST(user_id % 20 AS VARCHAR)                     AS resource,
           epoch_us(ts) - epoch_us(ts) % 3600000000                 AS s,
           epoch_us(ts) - epoch_us(ts) % 3600000000
             + (1 + event_id % 3) * 3600000000                      AS e
    FROM events
  )
"""


@query(
    "q28_prioritization_pairs",
    f"""
    WITH {HOUR_LOG_SQL}, {DF_CONC_SQL}, {ENABLED_SQL},
    e1 AS (
      SELECT case_id, activity, resource, en_us, s, e
      FROM enabled WHERE en_us = s
    ),
    cand AS (
      SELECT e1.case_id AS case_1, e1.activity AS activity_1,
             e1.resource AS resource, e1.en_us AS enabled_1,
             e1.s AS start_1, e1.e AS end_1,
             e2.case_id AS case_2, e2.activity AS activity_2,
             e2.en_us AS enabled_2, e2.s AS start_2, e2.e AS end_2,
             row_number() OVER (
               PARTITION BY e1.case_id, e1.activity, e1.resource,
                            e1.en_us, e1.s, e1.e
               ORDER BY e2.en_us, e2.s, e2.e, e2.case_id, e2.activity
             ) AS rn
      FROM e1
      JOIN enabled e2
        ON e2.resource = e1.resource
       AND e2.en_us > e1.en_us
       AND e2.en_us < e1.e
       AND e2.s = e1.e
    )
    SELECT case_1, activity_1, resource, enabled_1, start_1, end_1,
           case_2, activity_2, enabled_2, start_2, end_2
    FROM cand WHERE rn = 1
    """,
)
def q28_prioritization_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 prioritization-candidate detection (reference
    handoff_batch.py:162-173): zero-wait events e1 paired with the
    first same-resource event e2 enabled strictly inside e1's execution
    and starting exactly at e1's end. "First" is an explicit total
    order (the reference's frame-order iloc[0], §7.4 determinism).

    Scale: equi-join on resource + range residual (J2 family), per-e1
    min via partial-aggregated struct-min — no driver loop over events
    (the reference iterates candidate rows in Python). The enabled log
    feeds BOTH sides of the self-join, so it is staged through one
    deferred localCheckpoint (the activation_rules.py:84 diamond
    pattern) — without it the whole enablement stack (per-case window
    + HOF) executed twice inside the join job (VERDICT r4 watch item:
    8.0 → ~4.5 s at sf0.1). The displaced end times make this log
    semantically DIFFERENT from the q30-q37 family's, so the shared
    _DISC_CACHE checkpoint cannot be reused — the staged frame gets
    its own module cache keyed by (applicationId, sf_dir), bounding
    the session to ONE event-log-sized block copy however many times
    the query reruns (bench's min-of-2 would otherwise persist a
    fresh leaked copy per invocation).
    """
    from ..preprocessing import find_prioritization_pairs

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _Q28_CACHE:
        from ..operators.checkpoints import data_barrier

        H = 3_600_000_000
        us = F.unix_micros(F.col(IDS.start_time))
        log = (
            _event_log(spark, sf_dir)
            .withColumn("_s_us", us - us % H)
            .withColumn(
                IDS.end_time,
                F.timestamp_micros(
                    F.col("_s_us") + (1 + F.col("event_id") % 3) * H),
            )
            .withColumn(IDS.start_time, F.timestamp_micros(F.col("_s_us")))
            .drop("_s_us")
        )
        log = add_enabled_times(log, IDS)
        log = data_barrier(log, eager=False)
        _Q28_CACHE[key] = log
        for k in [k for k in _Q28_CACHE if k[0] != key[0]]:
            del _Q28_CACHE[k]
    return find_prioritization_pairs(_Q28_CACHE[key], IDS, activity=None)


@query(
    "q61_event_blacklist",
    f"""
    WITH {LOG_SQL},
    dirty AS (
      SELECT event_id, case_id,
             CASE WHEN event_id % 2 = 0
                  THEN ' ' || activity || chr(160) || '  x  y' || chr(160)
                  ELSE activity END AS activity
      FROM log
    ),
    norm AS (
      SELECT event_id, case_id,
             replace(replace(regexp_replace(activity,
                       '^[\\s\\x{{00A0}}]+|[\\s\\x{{00A0}}]+$', '', 'g'),
                     chr(160), ''), '  ', ' ') AS activity
      FROM dirty
    )
    SELECT activity, count(*) AS n_events,
           count(DISTINCT case_id) AS n_cases
    FROM norm
    WHERE activity NOT IN ('error', 'signup', 'view x y')
    GROUP BY activity
    """,
)
def q61_event_blacklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 activity-name normalize + blacklist drop (reference
    handoff_batch.py:77-98 _log_filtering): strip / NBSP-remove /
    double-space-collapse each activity name, then anti-join (J5) the
    event-name blacklist. Half the events get injected NBSP/space noise
    so the normalization is actually load-bearing; 'view x y' in the
    blacklist proves the join sees NORMALIZED names.

    Scale: normalization is per-row codegen; the blacklist is a
    broadcast anti join (arbitrarily large lists stay out of the
    expression tree); the rollup is one partial-aggregable groupBy.
    """
    from ..preprocessing import filter_event_blacklist

    log = _event_log(spark, sf_dir)
    dirty = log.withColumn(
        IDS.activity,
        F.when(
            F.col("event_id") % 2 == 0,
            F.concat(F.lit(" "), F.col(IDS.activity),
                     F.lit("\xa0"), F.lit("  x  y\xa0")),
        ).otherwise(F.col(IDS.activity)),
    )
    kept = filter_event_blacklist(dirty, IDS, ["error", "signup", "view x y"])
    return kept.groupBy(F.col(IDS.activity).alias("activity")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct(F.col(IDS.case)).alias("n_cases"),
    )


@query(
    "q90_dfg_drift",
    r"""
    WITH log AS (
      SELECT CAST(user_id AS VARCHAR) AS case_id, event_type AS activity,
             ts, event_id
      FROM events
    ),
    ea AS (
      SELECT src, dst, count(*) AS n_a FROM (
        SELECT activity AS src,
               lead(activity) OVER (PARTITION BY case_id
                                    ORDER BY ts, event_id) AS dst
        FROM log WHERE ts < TIMESTAMP '2024-01-16'
      ) WHERE dst IS NOT NULL GROUP BY src, dst
    ),
    eb AS (
      SELECT src, dst, count(*) AS n_b FROM (
        SELECT activity AS src,
               lead(activity) OVER (PARTITION BY case_id
                                    ORDER BY ts, event_id) AS dst
        FROM log WHERE ts >= TIMESTAMP '2024-01-16'
      ) WHERE dst IS NOT NULL GROUP BY src, dst
    )
    SELECT COALESCE(ea.src, eb.src) AS src,
           COALESCE(ea.dst, eb.dst) AS dst,
           COALESCE(n_a, 0) AS n_a,
           COALESCE(n_b, 0) AS n_b,
           CASE WHEN n_a IS NULL THEN 'appeared'
                WHEN n_b IS NULL THEN 'vanished'
                ELSE 'common' END AS status
    FROM ea FULL OUTER JOIN eb ON ea.src = eb.src AND ea.dst = eb.dst
    """,
    primary=False,
)
def q90_dfg_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directly-follows process drift between the first and second half
    of the events window (operators/events_analytics.py:dfg_drift) —
    per-transition frequency reconciliation, the standard first look at
    concept drift in process mining. Secondary registry; oracle-gated
    by tests/test_extra_queries.py."""
    from datetime import datetime

    from ..operators.events_analytics import dfg_drift
    from ..sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("case_id"),
        F.col("event_type").alias("activity"),
        "ts",
        F.struct("ts", "event_id").alias("_ord"),
    )
    cut = datetime(2024, 1, 16)
    return dfg_drift(
        ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut),
        order_col="_ord",
    )


@query(
    "q99_bucket_rollup",
    r"""
    SELECT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS bucket_ts,
           event_type, count(*) AS n_events
    FROM events GROUP BY 1, 2
    """,
    primary=False,
)
def q99_bucket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical time-bucket rollup (operators/timeseries.py:
    bucket_rollup): daily counts per event type derived FROM the hourly
    aggregate, never re-scanning raw events. The oracle computes daily
    DIRECTLY from raw — hash equality IS the rollup-identity proof
    (coarse-from-fine == coarse-from-raw). Secondary registry;
    oracle-gated by tests/test_extra_queries.py."""
    from ..operators.timeseries import bucket_rollup
    from ..sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("ts", "event_type")
    return bucket_rollup(ev, "ts", ["event_type"],
                         fine_s=3600, coarse_s=86400)
