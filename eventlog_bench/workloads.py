"""Seeded event-log generators and input staging for the benchmark.

Every generator is a pure function of its arguments (numpy RNG seeded
from them), returns a pandas frame in the engine's default column names
(``case_id, Activity, Resource, start_time, end_time``) and, where it
plants batches, the ground truth the checker compares against.

Three input shapes:

- ``loan_log``: shaped like the reference's Loan log — short traces
  over 17 activities, a large resource pool, five batched activities
  (size-14 Monday batches among them) and one two-activity case-based
  batch, so discovery, waiting time, reporting and rule mining carry
  real volume.
- ``production_log``: shaped like the reference's Production log —
  about 225 cases, 24 activities, 46 resources, a few planted task
  batches. Small enough that fixed per-request cost dominates.
- ``events_table``: the ``events`` test-table layout (event_id, ts,
  user_id, event_type, value, props) with long traces (~67 events per
  user). Its content is fixed; the seed only permutes row order and the
  file split.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CASE, ACT, RES, START, END = "case_id", "Activity", "Resource", "start_time", "end_time"
LOG_COLUMNS = [CASE, ACT, RES, START, END]

PARALLEL = "Parallel"
TASK_SEQUENTIAL = "Sequential task-based"
TASK_CONCURRENT = "Concurrent task-based"
CASE_SEQUENTIAL = "Sequential case-based"

_EPOCH = pd.Timestamp("2024-01-01", tz="UTC")  # a Monday
_S = 1_000_000  # microseconds per second


@dataclass(frozen=True)
class PlantedBatch:
    """Ground truth for one planted batch instance: these cases execute
    these activities as ONE instance of ``batch_type``."""

    activities: tuple[str, ...]
    batch_type: str
    case_ids: tuple[str, ...]
    resource: str
    weekday: int | None  # planted activation weekday (Monday=0), if any


@dataclass
class GeneratedLog:
    log: pd.DataFrame
    batches: list[PlantedBatch] = field(default_factory=list)


@dataclass(frozen=True)
class _BatchSpec:
    """How the cases reaching ``activities[0]`` are batched."""

    activities: tuple[str, ...]
    batch_type: str
    size: int
    resources: tuple[str, ...]
    weekday: int | None  # fire on this weekday (else the day cases fill up)
    hour: int = 9


def _next_slot(t_us: int, weekday: int | None, hour: int, minute: int) -> int:
    """First instant >= t_us at ``hour:minute`` on ``weekday`` (any day
    when None), in epoch microseconds."""
    ts = pd.Timestamp(t_us, unit="us", tz="UTC")
    day = ts.normalize()
    while True:
        slot = day + pd.Timedelta(hours=hour, minutes=minute)
        if slot.value // 1000 >= t_us and (weekday is None or slot.weekday() == weekday):
            return slot.value // 1000
        day += pd.Timedelta(days=1)


def _simulate(rng: np.random.Generator, n_cases: int, activities: list[str],
              skip_p: float, general: list[str], specs: list[_BatchSpec],
              span_days: float, case_prefix: str) -> GeneratedLog:
    """Walk every case through ``activities`` in order (skipping
    unbatched steps with probability ``skip_p``), one stage at a time,
    so batched stages can group the cases that reach them.

    Unbatched events go to a random resource of ``general``; batched
    stages use their spec's dedicated resources, which do nothing else,
    so no unplanted event can chain onto a planted batch. The process
    is linear (no activity ever precedes an earlier one), so the
    concurrency oracle finds no concurrent pairs and every event's
    enabled time is its predecessor's end."""
    by_first = {s.activities[0]: s for s in specs}
    cases = [f"{case_prefix}{i:05d}" for i in range(n_cases)]
    arrival = np.sort(rng.uniform(0, span_days * 86400, n_cases)).astype(np.int64)
    ready = _EPOCH.value // 1000 + arrival * _S  # when each case may go on
    rows: list[tuple] = []
    batches: list[PlantedBatch] = []
    i = 0
    while i < len(activities):
        act = activities[i]
        spec = by_first.get(act)
        if spec is None:
            keep = rng.random(n_cases) >= skip_p
            waits = rng.integers(60, 8 * 3600, n_cases)
            durs = rng.integers(60, 2 * 3600, n_cases)
            res = rng.integers(0, len(general), n_cases)
            for c in np.flatnonzero(keep):
                s = ready[c] + waits[c] * _S
                e = s + durs[c] * _S
                rows.append((cases[c], act, general[res[c]], s, e))
                ready[c] = e
            i += 1
            continue
        # Batched stage: cases queue in ready order and leave in chunks
        # of spec.size, round-robin over the dedicated resources; each
        # chunk fires at the first slot after its last member is ready
        # AND after its resource finished the previous chunk (so chunks
        # never touch and chain into one instance).
        order = np.argsort(ready, kind="stable")
        free = {r: 0 for r in spec.resources}
        proc = 20 * 60 * _S
        for k, lo in enumerate(range(0, n_cases, spec.size)):
            members = order[lo:lo + spec.size]
            if len(members) < 2:
                break  # a lone leftover case is no batch; drop the tail
            r = spec.resources[k % len(spec.resources)]
            t0 = max(int(ready[members].max()), free[r]) + 60 * _S
            fire = _next_slot(t0, spec.weekday, spec.hour, int(rng.integers(1, 59)))
            t = fire
            for j, c in enumerate(members):
                for a in spec.activities:
                    if spec.batch_type == PARALLEL:
                        s, e = fire, fire + proc
                    elif spec.batch_type == TASK_CONCURRENT:
                        s = fire + j * (proc // 3)
                        e = s + proc
                    else:  # sequential: task- or case-based back-to-back
                        s, e = t, t + proc
                        t = e
                    rows.append((cases[c], a, r, s, e))
                ready[c] = e
            free[r] = int(ready[members].max()) + 3600 * _S
            batches.append(PlantedBatch(
                activities=spec.activities, batch_type=spec.batch_type,
                case_ids=tuple(sorted(cases[c] for c in members)),
                resource=r, weekday=spec.weekday))
        i += len(spec.activities)
    log = pd.DataFrame(rows, columns=LOG_COLUMNS)
    for col in (START, END):
        log[col] = pd.to_datetime(log[col], unit="us", utc=True)
    return GeneratedLog(log=log, batches=batches)


def loan_log(seed: int, n_cases: int = 500) -> GeneratedLog:
    """Loan-shaped log: 17 activities, ~600 resources, five batched
    activities — Monday size-14 parallel batches, daily sequential,
    concurrent and parallel task batches, and one two-activity
    sequential case-based batch. Cases arrive at ~9 a day; every
    batched stage has the capacity to keep its queue bounded."""
    rng = np.random.default_rng([seed, 1])
    acts = [f"Loan step {k:02d}" for k in range(1, 18)]
    general = [f"clerk{k:03d}" for k in range(590)]
    specs = [
        _BatchSpec((acts[3],), PARALLEL, 14, tuple(f"risk{k}" for k in range(5)), weekday=0),
        _BatchSpec((acts[6],), TASK_SEQUENTIAL, 6, ("seq0", "seq1"), weekday=None, hour=14),
        _BatchSpec((acts[9],), TASK_CONCURRENT, 5, ("conc0", "conc1"), weekday=None, hour=11),
        _BatchSpec((acts[11],), PARALLEL, 10, ("par0", "par1"), weekday=None, hour=16),
        _BatchSpec((acts[13], acts[14]), CASE_SEQUENTIAL, 4, ("sub0", "sub1", "sub2"),
                   weekday=None, hour=8),
    ]
    return _simulate(rng, n_cases, acts, 0.1, general, specs,
                     span_days=n_cases / 9.0, case_prefix="L")


def production_log(seed: int, n_cases: int = 225) -> GeneratedLog:
    """Production-shaped log: 24 activities, 46 resources (40 general +
    6 dedicated), three planted task-batch activities."""
    rng = np.random.default_rng([seed, 2])
    acts = [f"Op {k:02d}" for k in range(1, 25)]
    general = [f"machine{k:02d}" for k in range(40)]
    specs = [
        _BatchSpec((acts[5],), PARALLEL, 5, ("oven0", "oven1"), weekday=None, hour=7),
        _BatchSpec((acts[12],), TASK_SEQUENTIAL, 4, ("press0", "press1"), weekday=None, hour=13),
        _BatchSpec((acts[19],), TASK_CONCURRENT, 3, ("qc0", "qc1"), weekday=None, hour=10),
    ]
    return _simulate(rng, n_cases, acts, 0.15, general, specs,
                     span_days=89.0, case_prefix=f"P{seed % 1000:03d}-")


def events_table(n_users: int = 300, events_per_user: float = 66.7) -> pd.DataFrame:
    """The ``events`` test-table layout with long traces (user = case),
    read through ``sources.event_log.events_as_event_log``.
    Fixed content: the benchmark seed never reaches this RNG."""
    rng = np.random.default_rng(20240101)
    n = int(n_users * events_per_user)
    ts = np.sort(rng.integers(0, 30 * 86400 * _S, n)) + _EPOCH.value // 1000
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pd.to_datetime(ts, unit="us").astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": rng.choice(["view", "click", "signup", "purchase", "error"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def frame_digest(df: pd.DataFrame) -> str:
    """Order-insensitive content digest of a frame: rows sorted on every
    column, then hashed with their column names."""
    cols = sorted(df.columns)
    canon = df[cols].sort_values(cols, kind="stable", na_position="first")
    h = hashlib.sha256(",".join(cols).encode())
    h.update(pd.util.hash_pandas_object(canon, index=False).values.tobytes())
    return h.hexdigest()[:16]


def stage_parquet(df: pd.DataFrame, path: str, seed: int, n_files: int) -> str:
    """Write ``df`` as a parquet directory of ``n_files`` files, rows
    permuted by ``seed`` — row order and split vary, content does not."""
    os.makedirs(path, exist_ok=True)
    perm = np.random.default_rng([seed, 3]).permutation(len(df))
    shuffled = df.iloc[perm].reset_index(drop=True)
    table = pa.Table.from_pandas(shuffled, preserve_index=False)
    bounds = np.linspace(0, len(df), n_files + 1).astype(int)
    for k in range(n_files):
        pq.write_table(table.slice(bounds[k], bounds[k + 1] - bounds[k]),
                       os.path.join(path, f"part-{k:03d}.parquet"),
                       coerce_timestamps="us")
    return path
