"""Event-log analysis benchmark: per-request latency of the batch
processing analysis (waiting-time table + report + activation rules).

Run from the repository root:

    python3 eventlog_bench/run.py --workload loan_batched --seed 1 --seconds 30 --trace 0

One closed-loop client issues requests to one SparkSession at
``local[<cores>]``. The first request of the session is the cold one;
more requests follow only while the next one still fits in
``--seconds``. Every request's outputs are checked. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A run record (per-request times, digests, spans) is
written under ``.bench_work/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("events_long_traces", "loan_batched", "small_logs")
END_TO_END = {
    "cold_request_s": "s",
    "events_per_s": "events/s",
    "setup_s": "s",
    "driver_peak_rss_mb": "MB",
}
_LAYER_UNITS = {"self_s": "s", "jobs": "count", "tasks": "count", "rows_out": "rows"}
LAYER_EXTRAS = {
    "enablement.concurrent_pairs": "count",
    "enablement.max_trace_len": "events",
    "discovery.instances": "count",
    "discovery.batched_ratio": "ratio",
    "waiting_time.batch_cases": "count",
    "reporting.batch_keys": "count",
    "activation_rules.features.positive_ratio": "ratio",
    "activation_rules.mining.groups": "count",
    "activation_rules.mining.groups_with_rules_ratio": "ratio",
    "checkpoints.retained_rdds": "count",
    "trace.overhead_s": "s",
}
SETUP_REPEATS = 3
SMALL_LOGS = 4  # distinct logs staged for small_logs; requests cycle over them
# Driver heap fixed at one size (-Xms = -Xmx): a growable heap makes
# peak RSS follow G1's expansion timing instead of the program.
DRIVER_HEAP = "1g"
# Interpreted expression evaluation instead of generated Java. On logs
# of a few thousand rows, compiling the generated code of each new plan
# cost 10-15 s of a 45-60 s cold request on a 4-core host; without it a
# run (set-up plus one cold request) fits the run budget, and the times
# follow the engine's plan and job structure rather than the compiler.
NO_CODEGEN = {
    "spark.sql.codegen.wholeStage": "false",
    "spark.sql.codegen.factoryMode": "NO_CODEGEN",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    return p.parse_args(argv)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _peak_rss_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def _cpu_s(pid: int) -> float:
    """CPU seconds (user + system, all threads) spent so far by process
    ``pid`` plus this Python process."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    own = os.times()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK") + own.user + own.system


def _metrics(values: dict, units: dict) -> dict:
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def end_to_end_metrics(requests: list[dict], session_s: float,
                       stage_s: list[float], rss_mb: dict) -> dict:
    return _metrics({
        "cold_request_s": requests[0]["seconds"],
        "events_per_s": sum(e["events"] for e in requests) / sum(e["seconds"] for e in requests),
        "setup_s": session_s + statistics.median(stage_s),
        "driver_peak_rss_mb": sum(rss_mb.values()),
    }, END_TO_END)


def layer_metrics(spans: list, requests: list[dict]) -> dict:
    """Per-layer metrics over the traced requests: median self time;
    jobs, tasks and rows of the last request."""
    from request import LAYERS, self_seconds

    ids = {e["id"] for e in requests}
    mine = [s for s in spans if s.request_id in ids]
    units = {f"{layer}.{m}": u for layer in LAYERS for m, u in _LAYER_UNITS.items()}
    units.update(LAYER_EXTRAS)
    values = dict.fromkeys(units, 0)
    for layer in LAYERS:
        of_layer = [s for s in mine if s.name == layer]
        if not of_layer:
            continue
        values[f"{layer}.self_s"] = statistics.median(self_seconds(s, mine) for s in of_layer)
        last = of_layer[-1]
        values.update({f"{layer}.jobs": last.jobs, f"{layer}.tasks": last.tasks,
                       f"{layer}.rows_out": last.rows_out})
    done = [e for e in requests if "stats" in e]
    if done:
        values.update(done[-1]["stats"])
        values["checkpoints.retained_rdds"] = done[-1]["retained_rdds"]
        # The tracer's own bookkeeping: traced request wall time that no
        # layer span covers (layer statistics, row counts).
        values["trace.overhead_s"] = statistics.median(
            e["seconds"] - sum(s.seconds for s in mine
                               if s.request_id == e["id"] and s.name in LAYERS)
            for e in done)
    return _metrics(values, units)


class Bench:
    """One run: session, staged inputs, requests, result."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.spark = None

    def start_session(self):
        from batch_processing_analysis_spark.session import get_spark

        n = _cores()
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        # Keep every temporary file of this process, the JVMs it
        # launches and the Python workers inside the run directory.
        tempfile.tempdir = tmp
        os.environ["TMPDIR"] = tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        # Python workers import the engine and the benchmark modules.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
        self.spark = get_spark(
            "eventlog_bench", master=f"local[{n}]", shuffle_partitions=n,
            extra_conf={
                "spark.driver.memory": DRIVER_HEAP,
                "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP}",
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                **NO_CODEGEN,
            })
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_session(self):
        """Stop Spark and wait for the JVM it launched to exit."""
        from py4j.protocol import Py4JError
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        try:
            if self.spark is not None:
                self.spark.stop()
        except Py4JError:
            pass  # the JVM is already gone; still reap it below
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Py4JError:
            pass
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    def stage(self, k: int) -> list[tuple]:
        """Generate and stage this workload's inputs under set-up ``k``,
        then read them back through the engine's sources layer.
        Returns one (key, source, truth, n_events) per distinct input."""
        import workloads as W
        from batch_processing_analysis_spark.sources.event_log import (
            events_as_event_log,
            read_event_log_parquet,
        )

        seed, spark = self.args.seed, self.spark
        base = os.path.join(self.work, f"stage-{k}")
        if self.args.workload == "events_long_traces":
            table = W.events_table()
            W.stage_parquet(table, os.path.join(base, "events.parquet"), seed,
                            n_files=2 + seed % 3)
            inputs = [("events", lambda: events_as_event_log(spark, base), None, len(table))]
            check = inputs[0][1]()
        elif self.args.workload == "loan_batched":
            g = W.loan_log(seed)
            path = W.stage_parquet(g.log, os.path.join(base, "loan"), seed, n_files=4)
            inputs = [("loan", lambda: read_event_log_parquet(spark, path), g, len(g.log))]
            check = inputs[0][1]()
        else:
            inputs = []
            for i in range(SMALL_LOGS):
                g = W.production_log(seed * SMALL_LOGS + i)
                path = W.stage_parquet(g.log, os.path.join(base, f"log-{i:02d}"), seed, n_files=1)
                inputs.append((f"log-{i:02d}",
                               (lambda p=path: read_event_log_parquet(spark, p)),
                               g, len(g.log)))
            check = read_event_log_parquet(spark, os.path.join(base, "log-*"))
        if check.count() != sum(n for *_, n in inputs):
            raise RuntimeError("staged row count does not match the generated input")
        return inputs

    def run(self) -> dict:
        from batch_processing_analysis_spark.config import Configuration
        from request import Tracer, check_outputs, output_digest, run_request

        args = self.args
        t = time.perf_counter()
        self.start_session()
        session_s = time.perf_counter() - t
        jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        stage_s = []
        # setup_s is an end-to-end metric: a traced run stages once.
        for k in range(1 if args.trace else SETUP_REPEATS):
            t = time.perf_counter()
            inputs = self.stage(k)
            stage_s.append(time.perf_counter() - t)
        config = Configuration()
        tracer = Tracer(self.spark) if args.trace else None
        record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "cores": _cores(), "session_s": session_s, "stage_s": stage_s,
                  "requests": []}
        digests: dict[str, str] = {}

        def one(rid: int, traced: bool) -> dict:
            key, source, truth, n_events = inputs[rid % len(inputs)]
            entry = {"id": rid, "input": key, "events": n_events, "traced": traced}
            t0, cpu0 = time.perf_counter(), _cpu_s(jvm_pid)
            try:
                out = run_request(self.spark, source, config, rid,
                                  tracer if traced else None)
                problems = check_outputs(out, config, truth)
                digest = output_digest(out)
                if digests.setdefault(key, digest) != digest:
                    problems.append(f"digest {digest} != first {digests[key]}")
                entry.update(seconds=out.seconds, digest=digest,
                             retained_rdds=out.retained_rdds, stats=out.layer_stats)
            except Exception:
                problems = ["raised: " + traceback.format_exc()]
                entry["seconds"] = time.perf_counter() - t0
            entry["cpu_s"] = _cpu_s(jvm_pid) - cpu0
            if problems:
                entry["problems"] = problems
                print(f"request {rid} ({key}) failed: {problems}", file=sys.stderr)
            record["requests"].append(entry)
            return entry

        # Closed loop, one client: the cold request, then more requests
        # (all traced in a traced run) while the next one still fits in
        # --seconds. A request costs a fixed ~100 Spark jobs, so on a
        # 4-core host the cold request alone outlasts the window.
        requests: list[dict] = []
        t_loop = time.perf_counter()
        while True:
            requests.append(one(len(requests), traced=bool(args.trace)))
            if time.perf_counter() - t_loop + requests[-1]["seconds"] > args.seconds:
                break
        rss = {"jvm": _peak_rss_mb(jvm_pid), "python": _peak_rss_mb("self")}
        record.update(digests=digests, rss_mb=rss)
        if tracer is not None:
            from request import self_seconds

            record["spans"] = [vars(s) | {"self_s": self_seconds(s, tracer.spans)}
                               for s in tracer.spans]
            metrics = layer_metrics(tracer.spans, requests)
        else:
            metrics = end_to_end_metrics(requests, session_s, stage_s, rss)
        self._write_record(record)
        print(f"digests: {json.dumps(digests, sort_keys=True)}")
        failed = sum("problems" in e for e in record["requests"])
        return {"correct": failed == 0, "attempted": len(record["requests"]),
                "failed": failed, "metrics": metrics}

    def _write_record(self, record: dict) -> None:
        out = os.path.join(ROOT, ".bench_work", "records")
        os.makedirs(out, exist_ok=True)
        a = self.args
        path = os.path.join(out, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        with open(path, "w") as f:
            json.dump(record, f, indent=1, default=str)


def main(argv=None) -> int:
    args = _parse(argv)
    # Fail before any process starts unless the engine is the one in
    # this checkout (not missing, not an installed copy elsewhere).
    try:
        import batch_processing_analysis_spark as engine
    except ImportError as e:
        print(f"eventlog_bench: no engine package in {ROOT}: {e}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(engine.__file__))) != ROOT:
        print(f"eventlog_bench: engine imported from {engine.__file__}, not {ROOT}",
              file=sys.stderr)
        return 2
    # On SIGTERM, unwind through the finally below: stop the JVM and
    # remove the run directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    bench = Bench(args, work)
    try:
        result = bench.run()
    finally:
        try:
            bench.stop_session()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path[:0] = [HERE, ROOT]
    sys.exit(main())
