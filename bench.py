"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized with a count-collapsing action so timing
covers the full plan execution, not driver-side result transfer.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

# Control set (VERDICT r9 task 4): byte-identical probes measured at
# board start AND end; see main(). VERDICT r11 task 5: a control must
# be a NEVER-OPTIMIZED query or it cannot separate host drift from
# progress (q143, the original expensive-tier probe, was itself made
# ~1.7x faster in r11, polluting the r11 board's vs_prev medians).
# q79_cdc_chunks replaces it: same cost tier (~2.9 s), and its floor
# is documented as off-limits ("payload hashing IS the contract",
# OPTIMIZATION_r11.md "Deliberately left alone") — as are the other
# four probes (q01/q11/q47/q65, untouched in r10-r12). Optimizing a
# control query requires swapping in a fresh never-touched probe in
# the same edit.
CONTROL_SET = [
    "q79_cdc_chunks",          # payload hashing (the expensive tier)
    "q01_pricing_summary",     # scan + group-agg
    "q11_sessionize",          # window / sessionization
    "q47_text_quality",        # text-feature scan
    "q65_quantized_topk",      # embedding / quantized ANN
]
CONTROL_THRESHOLD = 1.2

# Headline set: one per capability family (SURVEY §2) — relational agg,
# scan-filter, joins, windows/sessionization, event-log pipeline, text.
HEADLINE = [
    "q01_pricing_summary",
    "q03_top_revenue_orders",
    "q06_regional_revenue",
    "q09_window_topk",
    "q11_sessionize",
    "q13_directly_follows",
    "q18_range_join_workload",
]
# Added incrementally as plan modules land; missing names are skipped.
HEADLINE += [
    "q30_enabled_times",
    "q32_batch_discovery_stats",
    "q33_waiting_time_decomposition",
    "q34_waiting_time_report",
    "q38_interval_sweep",
    "q40_dedup_exact",
    "q41_dedup_minhash_lsh",
    "q42_dedup_simhash",
    "q44_embedding_neardup",
    "q45_ann_cosine_topk",
    "q46_ann_ivf_topk",
    "q47_text_quality",
    "q50_fingerprint",
    "q52_dedup_components",
    "q53_corpus_filter",
    "q56_repetition_signals",
    "q60_winnowing_pairs",
    "q61_event_blacklist",
]
# Secondary-registry headliners (outside the driver's 50-query
# correctness window but oracle-gated by tests/test_extra_queries.py):
# decontamination, diversity, quantized ANN, as-of join.
HEADLINE += [
    "q63_decontaminate",
    "q64_diversity_signals",
    "q65_quantized_topk",
    "q66_asof_join",
    "q67_bm25_topk",
    "q68_incremental_merge",
    "q69_seeded_shuffle",
    "q70_source_mixing",
    "q71_context_packing",
    "q72_unigram_logprob",
    "q73_dedup_segments",
    "q74_semantic_dedup",
    "q75_dedup_resolution",
    "q76_bigram_logprob",
    "q77_profile_columns",
    "q78_quality_buckets",
    "q79_cdc_chunks",
    "q80_funnel_steps",
    "q81_retention_cohorts",
    "q82_payload_neardup",
]
# Round-3 additions: temporal joins/resampling, semi-structured, raw
# SQL, drift monitors, redaction, sketches.
HEADLINE += [
    "q83_interval_overlap_join",
    "q84_resample_locf",
    "q85_rolling_median",
    "q86_json_props_stats",
    "q87_pseudonymized_rollup",
    "q88_corpus_diff",
    "q89_sql_surface",
    "q90_dfg_drift",
    "q91_profile_drift",
    "q92_redact_pii",
    "q93_cms_heavy_hitters",
    "q94_distinctive_terms",
    "q95_validation_summary",
    "q96_train_split",
    "q97_distribution_drift",
    "q98_rendezvous_shards",
    "q99_bucket_rollup",
    "q100_jl_projection",
    "q101_negative_samples",
    "q102_dedup_weights",
    "q103_rolling_mad",
    "q104_percentile_normalize",
    "q105_novelty_signals",
    "q106_dedup_audit_by_source",
]
# Round-4: complete the surface — every registered query benches, so
# each round's record carries a per-query timing for all of them
# (108 as of round 4; new registrations append below).
HEADLINE += [
    "q02_filter_project",
    "q04_semi_join",
    "q05_anti_join",
    "q07_in_case_when",
    "q08_string_ops",
    "q10_argmin_first_event",
    "q14_nested_two_level_agg",
    "q15_histogram",
    "q16_rollup",
    "q17_cte_ratio",
    "q19_theta_self_join",
    "q20_chunking",
    "q21_rolling_sequence",
    "q22_dense_rank",
    "q23_instant_generation",
    "q24_union_rekey",
    "q25_conditional_pivot",
    "q26_trace_subset",
    "q27_calendar_displacement",
    "q28_prioritization_pairs",
    "q29_range_join_bucketed",
    "q31_task_batches",
    "q35_concurrency_pairs",
    "q36_activation_features",
    "q37_activation_rules",
    "q43_dedup_ngram_jaccard",
    "q48_lang_id",
    "q49_token_count",
    "q51_multimodal_features",
    "q54_frame_sample",
    "q55_payload_resize",
    "q57_pattern_counts",
    "q58_stratified_sample",
    "q59_token_shard_packing",
    "q62_doc_chunking",
    "q107_weighted_sample",
    "q108_k_anonymous_rollup",
    "q109_time_split_embargo",
    "q110_cross_source_dup_matrix",
]
# Round-5 additions: canaries (q111-q117, cheap by design — they bench
# the fixed driver-env constructs) and the M90-M92 operators.
HEADLINE += [
    "q111_canary_float_round",
    "q112_canary_regex_split",
    "q113_canary_json_extract",
    "q114_canary_hex_cast",
    "q115_canary_nullable_agg",
    "q116_canary_hugeint_probe",
    "q117_canary_unicode_lower",
    "q118_embedding_outliers",
    "q119_source_overlap_sketch",
    "q120_temperature_mix_weights",
    "q121_epoch_plan",
    "q122_canary_pow",
    "q123_vocab_coverage",
]


def _previous_bench(sf: float | None) -> dict:
    """Newest same-sf BENCH_*.json in the repo root — the reference
    for the >2x regression re-measure (VERDICT r6 task 5). Matching on
    the recorded "sf" field keeps sf0.1 rounds from being compared to
    sf1-equivalent runs.

    Deterministic tie-break (ADVICE r7): files are visited in sorted
    order and a same-round record only replaces an earlier one when
    its name sorts FIRST — so with BENCH_local_r07_sf01.json and
    BENCH_r07.json both present at sf=0.1, the lexicographically
    smaller canonical name wins regardless of filesystem glob order.
    """
    import re

    best_round, best_name, prev = -1, "", {}
    for p in sorted(Path(__file__).resolve().parent.glob("BENCH_*r*.json")):
        m = re.search(r"r(\d+)", p.stem)
        if not m:
            continue
        try:
            text = p.read_text()
        except OSError:
            continue
        # Full records are one-line JSON (bench output, possibly two
        # lines: full then compact); the driver's wrapper files carry
        # only a truncated tail — no usable per-query record — and are
        # skipped by the "queries" check.
        candidates = []
        try:
            candidates.append(json.loads(text))
        except json.JSONDecodeError:
            for line in text.splitlines():
                try:
                    candidates.append(json.loads(line))
                except json.JSONDecodeError:
                    continue
        for data in candidates:
            if not isinstance(data, dict):
                continue
            if data.get("sf") != sf or not isinstance(
                    data.get("queries"), dict) or not data["queries"]:
                continue
            rnd = int(m.group(1))
            if rnd > best_round or (rnd == best_round
                                    and (not best_name
                                         or p.name < best_name)):
                best_round, best_name, prev = rnd, p.name, data
    return prev


def _scratch_dir() -> str | None:
    """Shuffle/spill scratch location (spark.local.dir), r12.

    Stage profiles attributed a ~50-150 ms PER-TASK constant in every
    exchange's "shuffle write time" to this box's /tmp — a virtio ext4
    whose small-file commit latency taxes each map task's data+index
    file pair regardless of bytes (e.g. 3.4 s of write time on a
    32-task stage shuffling 240 KB; the same stage on tmpfs measures
    ~10 ms). Scratch placement is environment tuning, not an
    algorithmic win, and is recorded as such in OPTIMIZATION_r12.md:
    production nodes put spark.local.dir on fast NVMe as standard
    practice (guide §1.3 names local shuffle disk as a first-class
    limit); on this single host the RAM-backed /dev/shm is the
    equivalent medium, and bench shuffle volumes (tens of MB at sf0.1,
    ~GBs at sf1) sit far under its 126 GB. SPARK_GRAFT_LOCAL_DIR
    overrides; an unwritable /dev/shm falls back to Spark's default.
    No data survives a run — shuffle scratch is per-application and
    removed on exit."""
    env = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if env:
        return env
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        return "/dev/shm/spark-local"
    return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("bench")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's post-shuffle coalescing floor, parameterised (r11).
        # The floor only BINDS when a shuffle's total bytes are below
        # cores x floor — i.e. when data is small relative to the
        # cluster; above that, parallelism-first sizing governs and
        # the value is inert, so this is scale-adaptive by
        # construction, not a local[32] constant. Stage profiles
        # showed CPU-dense byte-light stages (set-intersection
        # verifies, per-case enablement HOFs, XML parses) coalesced
        # to 1-4 tasks on 32 cores by the 1m default; a 64k floor
        # measured the full board 180-query surface at -18%
        # control-normalized (136.3 s vs 179.7 s total) with the
        # wins exactly on those profiled stages. OPTIMIZATION_r11.md
        # has the A/B boards and the production-value justification.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                os.environ.get("SPARK_GRAFT_MIN_PARTITION_SIZE", "64k"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    scratch = _scratch_dir()
    if scratch:
        builder = builder.config("spark.local.dir", scratch)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    qs = dict(entry_mod.queries())
    try:  # secondary registry (pytest-gated) joins the bench surface
        from batch_processing_analysis_spark.plans import registry as _reg

        for _name, _fn in _reg.EXTRA_QUERIES.items():
            qs.setdefault(_name, _fn)
    except Exception as e:
        print(f"bench: extra registry unavailable: {e}", file=sys.stderr)
    sf = None
    try:
        # sf encoded in the dir name, e.g. .../sf0.1
        tail = Path(sf_dir).name
        if tail.startswith("sf"):
            sf = float(tail[2:])
    except ValueError:
        pass

    # Facade-level scale proof FIRST (cold JVM, empty block manager —
    # running it after 25 queries' checkpoint churn measured 2-4x
    # slower from session-state pollution): time the COMPOSED
    # pipelines (not just
    # per-query plans) — prepare_corpus on a 10× synthetic blow-up of
    # the documents table (distinct ids, perturbed text so dedup can't
    # collapse the copies) and the full analyze_batches event pipeline.
    # These demonstrate the 100×-scale claims on the facades themselves:
    # no driver materialization, AQE-managed shuffles, one wide pass.
    facades: dict[str, float | None] = {}
    facade_runners: dict = {}
    try:
        from pyspark.sql import functions as F

        from batch_processing_analysis_spark.pipeline import (
            analyze_batches,
            prepare_corpus,
        )
        from batch_processing_analysis_spark.sources.event_log import (
            events_as_event_log,
        )
        from batch_processing_analysis_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang"
        )
        big = None
        for i in range(10):
            part = docs.select(
                (F.col("doc_id") + F.lit(i * 100_000_000)).alias("doc_id"),
                F.concat(F.col("text"), F.lit(f" v{i}")).alias("text"),
                "lang",
            )
            big = part if big is None else big.unionByName(part)
        # Single-file test inputs -> one split per union branch; spread
        # to cluster width (same gate as plans/queries_text._fan_out —
        # at real scale inputs arrive as many files and this is a no-op).
        big = big.repartition(spark.sparkContext.defaultParallelism)

        # Same protocol as the per-query loop: one untimed warm-up
        # (parquet footers, codegen, Python worker pool), then a timed
        # full build+materialize — facades report steady-state like the
        # queries do (a cold-vs-warm delta here is JVM/session noise,
        # measured at 2-4x run-to-run).
        from batch_processing_analysis_spark.operators.checkpoints import (
            checkpoint_scope,
        )

        def _mk_runner(fn):
            def run_once() -> float:
                # The scope drops the run's checkpoint blocks on exit so
                # the next run measures the pipeline, not this run's
                # block-manager pressure.
                with checkpoint_scope():
                    t0 = time.time()
                    fn().write.format("noop").mode("overwrite").save()
                    return time.time() - t0
            return run_once

        # Single-run closures kept for the >2x re-measure stage; the
        # first measurement is min-of-2 (facade runs show 2-4x
        # host-noise swings run-to-run).
        facade_runners["analyze_batches_events"] = _mk_runner(
            lambda: analyze_batches(events_as_event_log(spark, sf_dir)))
        facade_runners["prepare_corpus_10x_docs"] = _mk_runner(
            lambda: prepare_corpus(big))

        # URL-governance facade (M162) on the same 10x blow-up: derive
        # a deterministic URL per doc (mixed case/port variants so the
        # canonical dedup does real work), then canonical dedup ->
        # full-PSL domain -> blocklist -> per-domain quota.
        from batch_processing_analysis_spark.pipeline import (
            prepare_web_corpus,
        )

        _gov_block = spark.createDataFrame(
            [("example.com",)], "domain string")

        def _gov_input():
            d = F.col("doc_id")
            url = F.concat(
                F.when(d % 2 == 0, "HTTPS").otherwise("https"),
                F.lit("://h"), (d % 5000).cast("string"),
                F.when(d % 5 == 0, ".github.io").otherwise(".example.org"),
                F.when(d % 3 == 0, ":443").otherwise(""),
                F.lit("/p/"), (d % 97).cast("string"),
            )
            return big.select("doc_id", url.alias("url"),
                              (d % 101).alias("score"))

        facade_runners["prepare_web_corpus_10x_docs"] = _mk_runner(
            lambda: prepare_web_corpus(_gov_input(), order_col="score",
                                       domain_quota=50,
                                       blocklist=_gov_block))

        # Crawl-compliance facade (M166) on the same 10x blow-up:
        # ~512 sitemap documents discover the canonical forms of 2/3
        # of the doc URLs; ~3.3k per-host robots.txt documents (the
        # other hosts have none) gate them for agent 'bench'; then the
        # full governance pipeline. Seeds/robots derive from the same
        # rows so the semi-join and decision do real work.
        from batch_processing_analysis_spark.pipeline import (
            prepare_crawl_corpus,
        )

        def _crawl_inputs():
            d = F.col("doc_id")
            canon = F.concat(
                F.lit("https://h"), (d % 5000).cast("string"),
                F.when(d % 5 == 0, ".github.io").otherwise(".example.org"),
                F.lit("/p/"), (d % 97).cast("string"),
            )
            seeds = (
                big.filter(d % 3 != 0)
                .select((d % 512).alias("shard"),
                        F.concat(F.lit("<url><loc>"), canon,
                                 F.lit("</loc></url>")).alias("frag"))
                .groupBy("shard")
                .agg(F.concat_ws("", F.collect_list("frag")).alias("body"))
                .select(
                    F.concat(F.lit("sm"), F.col("shard").cast("string"))
                    .alias("domain"),
                    F.concat(F.lit("<urlset>"), F.col("body"),
                             F.lit("</urlset>")).alias("sitemap_xml"),
                )
            )
            k = F.col("id")
            robots = (
                spark.range(5000).filter(k % 3 != 0)
                .select(
                    F.concat(
                        F.lit("h"), k.cast("string"),
                        F.when(k % 5 == 0, ".github.io")
                        .otherwise(".example.org")).alias("domain"),
                    F.when(k % 2 == 0,
                           F.lit("User-agent: *\nDisallow: /p/1*"))
                    .otherwise(F.lit("User-agent: bench\nDisallow:\n\n"
                                     "User-agent: *\nDisallow: /"))
                    .alias("robots_txt"),
                )
            )
            return _gov_input(), seeds, robots

        def _run_crawl():
            docs_in, seeds, robots = _crawl_inputs()
            return prepare_crawl_corpus(
                docs_in, seeds, robots, "bench",
                order_col="score", domain_quota=50,
                blocklist=_gov_block)

        facade_runners["prepare_crawl_corpus_10x_docs"] = _mk_runner(
            _run_crawl)
        for _label in ("analyze_batches_events", "prepare_corpus_10x_docs",
                       "prepare_web_corpus_10x_docs",
                       "prepare_crawl_corpus_10x_docs"):
            _run = facade_runners[_label]
            # The untimed warm-up was CLAIMED by the comment above but
            # never executed for facades — min-of-2 timed a cold run,
            # and r10's analyze_batches board row read 16.2 s where a
            # warmed fresh-session solo measures 9.7-10.4 s
            # (SOLO_FACADE_r11.json: cold 21.8 -> warm 10.4; facade
            # LAST in a 12-query session is 0.78x facade FIRST, so no
            # session-state interference either). Warm up for real.
            _run()
            facades[_label] = round(min(_run(), _run()), 3)
    except Exception as e:
        print(f"bench: facade stage failed: {e}", file=sys.stderr)

    # Durable-ingest throughput: the sf documents table arrives as four
    # deltas through the restart-proof foreachBatch loop (registry
    # anti-join + partitioned append per micro-batch), each delta a
    # fresh availableNow query — the composed durable path the
    # kill-restart drill proves correct, timed end to end. Fresh state
    # dirs per repetition so min-of-2 stays comparable.
    try:
        import shutil
        import tempfile

        from batch_processing_analysis_spark.sources.tables import load_table
        from batch_processing_analysis_spark.streaming.incremental_ingest import (
            read_ingested,
            start_incremental_ingest,
        )

        docs_src = (
            load_table(spark, sf_dir, "documents")
            .select(
                "doc_id", "text",
                F.timestamp_micros(F.col("doc_id") * 1_000_000)
                .alias("ingest_time"),
            )
            .localCheckpoint(eager=True)
        )
        schema = "doc_id long, text string, ingest_time timestamp"

        def ingest_once() -> float:
            root = tempfile.mkdtemp(prefix="bench_ingest_")
            t0 = time.time()
            try:
                src = f"{root}/src"
                paths = {
                    "corpus_path": f"{root}/corpus",
                    "registry_path": f"{root}/registry",
                    "checkpoint_path": f"{root}/ckpt",
                }
                for k in range(4):
                    docs_src.filter(F.col("doc_id") % 4 == k).coalesce(
                        1
                    ).write.mode("append").parquet(src)
                    q = start_incremental_ingest(
                        spark.readStream.schema(schema).parquet(src), **paths
                    )
                    q.awaitTermination()
                read_ingested(spark, paths["corpus_path"]).write.format(
                    "noop"
                ).mode("overwrite").save()
                return time.time() - t0
            finally:
                shutil.rmtree(root, ignore_errors=True)

        ingest_once()  # warm-up (stream codegen, committer init)
        facade_runners["incremental_ingest_4_deltas"] = ingest_once
        facades["incremental_ingest_4_deltas"] = round(
            min(ingest_once() for _ in range(2)), 3
        )
    except Exception as e:
        print(f"bench: ingest facade failed: {e}", file=sys.stderr)


    # Bench control set (VERDICT r9 task 4): five byte-identical probe
    # queries spanning the engine's cost families (exact join, scan-
    # agg, window/sessionization, text scan, quantized ANN), measured
    # at board START and END with the same warm-up+min-of-2 protocol.
    # Intra-board drift (end/start median) and cross-board drift
    # (start vs the previous record's control start, falling back to
    # its plain query rows) are recorded; beyond CONTROL_THRESHOLD the
    # board stamps itself `drift_exceeded` — cross-round comparisons
    # must be rescaled by `vs_prev_median` or voided, ending the
    # every-round host-drift prose (q143 was the de-facto control; this
    # formalizes it).
    def _measure_controls() -> dict[str, float | None]:
        out: dict[str, float | None] = {}
        for name in CONTROL_SET:
            fn = qs.get(name)
            if fn is None:
                continue
            try:
                fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite").save()
                best = None
                for _ in range(2):
                    t0 = time.time()
                    fn(spark, sf_dir).write.format("noop").mode(
                        "overwrite").save()
                    dt = time.time() - t0
                    best = dt if best is None else min(best, dt)
                out[name] = round(best, 3)
            except Exception as e:
                print(f"bench: control {name} failed: {e}",
                      file=sys.stderr)
                out[name] = None
        return out

    control_start = _measure_controls()

    # Self-completing surface: any registered query the hand-ordered
    # HEADLINE list misses is appended (sorted) so a new registration
    # can never silently drop out of the per-round record (q124-q134
    # did exactly that between the r5 list edit and this guard).
    missing = sorted(set(qs) - set(HEADLINE))
    if missing:
        print(f"bench: auto-appending {len(missing)} unlisted queries: "
              f"{missing}", file=sys.stderr)
    bench_names = HEADLINE + missing

    timings: dict[str, float] = {}
    for name in bench_names:
        fn = qs.get(name)
        if fn is None:
            continue
        try:
            # Untimed warm-up: build AND materialize once (covers IO
            # cache, codegen, and any eager checkpoint inside fn). Then
            # time two full runs and keep the min — fn() inside the
            # timed region so eager work during plan construction is
            # counted too; min-of-2 because single-shot timings on this
            # host showed 2-15x noise spikes (GC + co-tenant activity)
            # on the heavier queries, same protocol as the facades.
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = None
            for _ in range(2):
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            timings[name] = round(best, 3)
        except Exception as e:  # a broken query shows as null, not a crash
            print(f"bench: {name} failed: {e}", file=sys.stderr)
            timings[name] = None

    # Self-certifying regression check (VERDICT r6 task 5): any row
    # whose time exceeds 1.5x its newest same-sf recorded run gets two
    # more solo runs folded into its min before the JSON is written,
    # and is stamped in `remeasured`. Surviving >1.5x rows are
    # therefore real regressions, not one-shot host-noise spikes.
    # (Trigger lowered from 2x in r11: a 1.76x mid-board interference
    # spike on q172 sailed through the old trigger while a fresh-
    # session solo run read 0.87x — the facade trigger had already
    # been lowered to 1.3x for the same reason, VERDICT r10 task 1.)
    prev = _previous_bench(sf)
    remeasured: list[str] = []
    remeasure_failed: list[str] = []
    prev_q = prev.get("queries") or {}
    for name, v in list(timings.items()):
        pv = prev_q.get(name)
        fn = qs.get(name)
        if (v is None or fn is None
                or not isinstance(pv, (int, float)) or pv <= 0
                or v <= 1.5 * pv):
            continue
        best, reran = v, 0
        try:
            for _ in range(2):
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite").save()
                best = min(best, time.time() - t0)
                reran += 1
        except Exception as e:
            print(f"bench: re-measure {name} failed: {e}", file=sys.stderr)
        timings[name] = round(best, 3)
        # only a row with >=1 SUCCESSFUL solo re-run is certified;
        # a failed re-measure is recorded as exactly that
        (remeasured if reran else remeasure_failed).append(name)
    prev_f = prev.get("facades") or {}
    for label, v in list(facades.items()):
        pv = prev_f.get(label)
        run = facade_runners.get(label)
        # Facades re-measure at >1.3x (VERDICT r10 task 1): only 4
        # rows, ~30 s worst case, and a 1.65x jump on the headline
        # parity pipeline sailed through the old >2x trigger.
        if (v is None or run is None
                or not isinstance(pv, (int, float)) or pv <= 0
                or v <= 1.3 * pv):
            continue
        best, reran = v, 0
        try:
            for _ in range(2):
                best = min(best, run())
                reran += 1
        except Exception as e:
            print(f"bench: re-measure {label} failed: {e}",
                  file=sys.stderr)
        facades[label] = round(best, 3)
        (remeasured if reran else remeasure_failed).append(label)
    if remeasured or remeasure_failed:
        print(f"bench: re-measured {len(remeasured)} >2x rows: "
              f"{remeasured}; failed re-measures: {remeasure_failed}",
              file=sys.stderr)

    control_end = _measure_controls()

    def _median(xs: list[float]) -> float | None:
        xs = sorted(xs)
        if not xs:
            return None
        mid = len(xs) // 2
        return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2

    intra = _median([
        control_end[n] / control_start[n]
        for n in control_start
        if control_start.get(n) and control_end.get(n)
    ])
    prev_ctl = (prev.get("control") or {}).get("queries_start") or {}
    prev_q_all = prev.get("queries") or {}

    def _vs_prev(ctrl: dict) -> float | None:
        return _median([
            ctrl[n] / (prev_ctl.get(n) or prev_q_all.get(n))
            for n in ctrl
            if ctrl.get(n)
            and isinstance(prev_ctl.get(n) or prev_q_all.get(n),
                           (int, float))
            and (prev_ctl.get(n) or prev_q_all.get(n)) > 0
        ])

    vs_prev = _vs_prev(control_start)
    vs_prev_end = _vs_prev(control_end)

    def _in_band(r: float | None) -> bool:
        return r is not None and 1 / CONTROL_THRESHOLD <= r <= CONTROL_THRESHOLD

    # a board is comparable to the previous record at whichever
    # endpoint's controls agree with it; the intra ratio says whether
    # the board is internally consistent (rows near the other endpoint
    # carry the drift)
    comparable = ("start" if _in_band(vs_prev)
                  else "end" if _in_band(vs_prev_end)
                  else "none")
    drifted = (
        (intra is not None and not _in_band(intra))
        or (vs_prev is not None and comparable == "none")
    )
    control = {
        "queries_start": control_start,
        "queries_end": control_end,
        "intra_median": round(intra, 3) if intra is not None else None,
        "vs_prev_median": (round(vs_prev, 3)
                           if vs_prev is not None else None),
        "vs_prev_end_median": (round(vs_prev_end, 3)
                               if vs_prev_end is not None else None),
        "comparable_endpoint": comparable,
        "threshold": CONTROL_THRESHOLD,
        "status": "drift_exceeded" if drifted else "ok",
    }
    if drifted:
        print(f"bench: CONTROL DRIFT exceeded {CONTROL_THRESHOLD}x "
              f"(intra={intra}, vs_prev start={vs_prev} "
              f"end={vs_prev_end}) — rescale cross-board comparisons "
              f"by the comparable endpoint's ratio or void them",
              file=sys.stderr)

    ok = [v for v in timings.values() if v is not None]
    out = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(ok), 3),
        "unit": "sec",
        "queries": timings,
        "facades": facades,
        "facades_protocol": "untimed warm-up + min-of-2, >1.3x rows re-measured",
        "control": control,
        "remeasured": remeasured,
        "remeasure_failed": remeasure_failed,
        "sf": sf,
    }
    # Full record first (per-query timings — this line outgrew the
    # driver's tail-capture window in r3, leaving BENCH_r03.json with
    # parsed: null), then a compact summary as the LAST line so the
    # driver's tail capture always gets one complete parseable JSON
    # object regardless of how many queries the headline set holds.
    print(json.dumps(out))
    # Driver per-query visibility (VERDICT r11 task 1): the tail
    # window is 2000 bytes and 180 full query names alone are ~5 KB,
    # so the per-query dict CANNOT ride in the last line. Instead the
    # full record is also written to a stable file next to bench.py —
    # refreshed by every run, including the driver's — and the
    # guaranteed-short last line points at it. The committed copy of
    # this file is the per-query record of the round.
    perquery_file = None
    try:
        pq_path = Path(__file__).resolve().parent / "BENCH_PERQUERY.json"
        pq_path.write_text(json.dumps(out) + "\n")
        perquery_file = pq_path.name
    except OSError as e:  # recording must never fail the bench
        print(f"bench: per-query record not written: {e}", file=sys.stderr)
    compact = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(ok), 3),
        "unit": "sec",
        "sf": sf,
        "n_queries": len(ok),
        "n_failed": sum(1 for v in timings.values() if v is None),
        "queries_file": perquery_file,
        "facades": facades,
        "control": control,
        "remeasured": remeasured,
        "remeasure_failed": remeasure_failed,
    }
    print(json.dumps(compact))
    spark.stop()


if __name__ == "__main__":
    main()
