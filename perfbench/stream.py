"""stream_backfill: wire-format files -> MapperStream -> sinks.

Closed loop: the generated backlog is staged outside the watched directory,
and the next file is released into it when a micro-batch finishes, so each
trigger reads exactly one file and starts as soon as the previous batch
commits. Batch 0 runs against the empty startup registry on a cold JIT and
counts toward set-up; the timed section runs from its end until ``seconds``
have passed, in whole pairs of batches (the registry changes every other
batch).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
import threading
import time

import pyarrow.parquet as pq

import streamgen
from spans import Tracer, sink_of

# A backfill drains large files: per-row work is measured next to the fixed
# per-batch cost. The backlog (set-up batch + three pairs) outlasts a run at
# today's speed with room to spare. The set-up batch is small: it pays the
# cold start, and its rows are not measured.
RECORDS_PER_FILE = 20_000
FIRST_FILE_RECORDS = 2_000
FILES = 7


class _Loop:
    """foreachBatch body: runs one batch, then releases the next file or
    ends the run once the timed section is over."""

    def __init__(self, stream, staged, watched, seconds, tracer, probe):
        self.stream, self.staged, self.watched = stream, staged, watched
        self.seconds, self.tracer, self.probe = seconds, tracer, probe
        self.version = 0
        self.walls: dict[int, tuple[float, float]] = {}
        self.timed_start = self.cpu_start = self.cpu_end = None
        self.error: BaseException | None = None
        self.finished = threading.Event()

    def release(self, b: int) -> None:
        os.rename(self.staged[b], os.path.join(self.watched, os.path.basename(self.staged[b])))

    def __call__(self, df, bid: int) -> None:
        if self.finished.is_set():
            return
        self.version = bid  # file bid carries batch bid
        t0 = time.perf_counter()
        try:
            if self.tracer is not None:
                self.tracer.unit = bid
                with self.tracer.span("MapperStream.process_batch", "pipeline.other"):
                    self.stream.process_batch(df.drop("_corrupt"), bid)
            else:
                self.stream.process_batch(df.drop("_corrupt"), bid)
        except BaseException as exc:
            self.error = exc
            self.finished.set()
            raise
        t1 = time.perf_counter()
        self.walls[bid] = (t0, t1)
        if bid == 0:
            self.timed_start = t1
            self.cpu_start = self.probe.cpu_s()
        # timed batches come in pairs, so every run times as many batches
        # with an unchanged registry as with a changed one
        more = t1 - self.timed_start < self.seconds or bid % 2 == 1
        if more and bid + 1 < len(self.staged):
            self.release(bid + 1)
        else:
            self.cpu_end = self.probe.cpu_s()
            self.finished.set()


def _count_parquet(root: str) -> int:
    return sum(
        pq.ParquetFile(p).metadata.num_rows
        for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    )


def _json_lines(root: str) -> list[dict]:
    rows = []
    for p in sorted(glob.glob(os.path.join(root, "*.json"))):
        with open(p) as f:
            rows.extend(json.loads(line) for line in f if line.strip())
    return rows


def check_sinks(sinks, expected: streamgen.Outcome, features: list[str]) -> list[str]:
    """Compare what the sinks hold with the generator's expected outcome;
    returns one line per mismatch."""
    got_features = {f: _count_parquet(os.path.join(sinks.lake_dir, f)) for f in features}
    alerts = _json_lines(sinks.alert_dir)
    got = {
        "dead_letter": _count_parquet(sinks.dead_letter_dir),
        "emits": len(_json_lines(sinks.emit_dir)),
        "raises": sum(a["kind"] == "error" for a in alerts),
        "resolves": sum(a["kind"] == "resolve" for a in alerts),
    }
    want = {
        "dead_letter": expected.dead_letter,
        "emits": expected.emits,
        "raises": expected.raises,
        "resolves": expected.resolves,
    }
    bad = [f"{k}: got {got[k]}, want {want[k]}" for k in want if got[k] != want[k]]
    for f in features:
        if got_features[f] != expected.feature_rows.get(f, 0):
            bad.append(f"feature {f}: got {got_features[f]}, want {expected.feature_rows.get(f, 0)}")
    return bad


def run(spark, name: str, seed: int, seconds: int, work: str, probe, tracer: Tracer | None,
        clock0: float, layers: dict) -> dict:
    from plenario_mapper_spark.functions.local_rel import local_rows
    from plenario_mapper_spark.operators import alerts, mapper
    from plenario_mapper_spark.schemas import FEATURE_METADATA_SCHEMA, SENSOR_METADATA_SCHEMA
    from plenario_mapper_spark.sources.observations import (
        decode_kinesis_records,
        kinesis_replay_source,
    )
    from plenario_mapper_spark.streaming import pipeline

    t_stage = time.perf_counter()
    plan = streamgen.StreamGenerator(seed).write(
        os.path.join(work, "staged"), [FIRST_FILE_RECORDS] + [RECORDS_PER_FILE] * (FILES - 1)
    )
    watched = os.path.join(work, "in")
    os.makedirs(watched)
    layers["setup.staging_s"] = time.perf_counter() - t_stage

    def provider(sp):
        """The metadata store: this batch's registry version as two tables."""
        reg = streamgen.registry_version(plan.versions[loop.version])
        return (
            local_rows(sp, reg.sensor_rows(), SENSOR_METADATA_SCHEMA),
            local_rows(sp, reg.feature_rows(), FEATURE_METADATA_SCHEMA),
        )

    if tracer is not None:
        untraced = provider

        def provider(sp):
            with tracer.span("metadata_provider", "metadata.refresh"):
                return untraced(sp)

    sinks = pipeline.StreamSinks(*(os.path.join(work, d) for d in ("lake", "dead", "emit", "alert", "state")))
    stream = pipeline.MapperStream(spark, provider, sinks)
    loop = _Loop(stream, plan.files, watched, seconds, tracer, probe)
    if tracer is not None:
        _install(tracer, mapper, alerts, pipeline, spark)

    loop.release(0)
    source = decode_kinesis_records(kinesis_replay_source(spark, watched))
    query = (
        source.writeStream.foreachBatch(loop)
        .option("checkpointLocation", os.path.join(work, "checkpoint"))
        .start()
    )
    try:
        if not loop.finished.wait(timeout=170 - (time.perf_counter() - clock0)):
            loop.error = TimeoutError("stream did not finish in time")
        # let the last batch commit so its progress (trigger wall) is posted
        last = max(loop.walls, default=-1)
        deadline = time.perf_counter() + 30
        while time.perf_counter() < deadline and not any(
            p["batchId"] == last for p in query.recentProgress
        ):
            time.sleep(0.05)
    finally:
        query.stop()
    if tracer is not None:
        tracer.uninstall()
    progress = {p["batchId"]: p["durationMs"] for p in query.recentProgress if "addBatch" in p["durationMs"]}

    done = sorted(loop.walls)
    timed = [b for b in done if b > 0]
    expected = streamgen.Outcome()
    for b in done:
        expected.add(plan.outcomes[b])
    features = sorted(streamgen.FEATURES)
    mismatches = check_sinks(sinks, expected, features) if loop.error is None else ["stream failed"]
    for line in mismatches:
        print(f"perfbench: {name}: {line}", file=sys.stderr)
    if loop.error is not None:
        print(f"perfbench: {name}: batch raised {loop.error!r}", file=sys.stderr)

    attempted = max(len(done) + (loop.error is not None), 1)
    failed = attempted if mismatches else 0
    if loop.error is not None or not timed:
        return {"correct": False, "attempted": attempted, "failed": attempted, "metrics": {}}

    batch_s = [progress[b]["triggerExecution"] / 1e3 for b in timed if b in progress]
    wall = loop.walls[timed[-1]][1] - loop.timed_start
    rows = sum(plan.outcomes[b].records for b in timed)
    end_to_end = {
        "setup_s": loop.timed_start - clock0,
        "unit_s_p50": statistics.median(batch_s),
        "unit_s_mean": wall / len(timed),
        "cpu_s_per_unit": (loop.cpu_end - loop.cpu_start) / len(timed),
        "peak_rss_mb": probe.peak_rss_mb(),
    }
    print(
        f"perfbench: {name}: {len(timed)} timed batches of {RECORDS_PER_FILE} records; "
        f"rows_per_s={rows / wall:.1f} batch_s_p50={end_to_end['unit_s_p50']:.3f} "
        f"(n={len(batch_s)}) cpu_s={loop.cpu_end - loop.cpu_start:.2f} "
        f"failed_frac={failed / attempted:.3f}",
        file=sys.stderr,
    )
    layers["engine.overhead_s"] = statistics.mean(
        (progress[b]["triggerExecution"] - progress[b]["addBatch"]) / 1e3 for b in timed if b in progress
    )
    if tracer is not None:
        _layer_metrics(tracer, spark, set(timed), layers)
        layers["trace.unit_s_p50"] = end_to_end["unit_s_p50"]
        tracer.dump(os.path.join(work, "..", "traces", f"{name}-{seed}.json"))
    return {
        "correct": not mismatches,
        "attempted": attempted,
        "failed": failed,
        "metrics": end_to_end,
    }


def _install(tracer: Tracer, mapper, alerts, pipeline, spark) -> None:
    tracer.wrap_mapper_layers()
    tracer.wrap(pipeline.MapperStream, "_registry_unchanged", "metadata.refresh")
    for attr in ("alert_events", "apply_blacklist"):
        tracer.wrap(alerts, attr, "alerts.derive")
    for attr in ("_load_blacklist", "_save_blacklist"):
        tracer.wrap(pipeline.MapperStream, attr, "pipeline.blacklist_state")
    tracer.wrap_actions()

    # dead_letter is the first consumer of the persisted annotated frame:
    # materialise the cache in its own labelled job first, so the annotate
    # stage is charged to the mapper instead of the first sink that reads it.
    sc = spark.sparkContext

    def make(orig):
        def dead_letter(annotated):
            desc = sc.getLocalProperty("spark.job.description") or ""
            hit = sink_of(desc)
            if hit is not None:
                sc.setJobDescription(f"mapper[{hit[0]}]: annotate cache")
                with tracer.span("annotate cache", "mapper.annotate"):
                    annotated.count()
                sc.setJobDescription(desc)
            return orig(annotated)

        return dead_letter

    tracer.patch(mapper, "dead_letter", make)


def _layer_metrics(tracer: Tracer, spark, timed: set[int], layers: dict) -> None:
    from probe import job_stats

    n = len(timed)
    self_s = tracer.self_times(timed)
    for layer, key in (
        ("metadata.refresh", "metadata.refresh_s"),
        ("mapper.plan", "mapper.plan_s"),
        ("mapper.annotate", "mapper.annotate_s"),
        ("pipeline.feature_sink", "pipeline.feature_sink_s"),
        ("pipeline.dead_letter_sink", "pipeline.dead_letter_sink_s"),
        ("pipeline.emit_sink", "pipeline.emit_sink_s"),
        ("alerts.derive", "alerts.derive_s"),
        ("pipeline.blacklist_state", "pipeline.blacklist_state_s"),
        ("pipeline.other", "pipeline.other_s"),
    ):
        layers[key] = self_s.get(layer, 0.0) / n

    task = {}
    feature_writes: dict[tuple[int, str], int] = {}
    feature_jobs = 0
    for j in job_stats(spark):
        hit = sink_of(j.description)
        if hit is None or hit[0] not in timed:
            continue
        task[hit[1]] = task.get(hit[1], 0.0) + j.run_s
        if hit[1] == "pipeline.feature_sink":
            feature_jobs += 1
            key = (hit[0], j.description)
            feature_writes[key] = feature_writes.get(key, 0) + j.output_rows
    layers["mapper.annotate_task_s"] = task.get("mapper.annotate", 0.0) / n
    layers["pipeline.sink_task_s"] = sum(
        task.get(k, 0.0)
        for k in ("pipeline.feature_sink", "pipeline.dead_letter_sink", "pipeline.emit_sink")
    ) / n
    layers["alerts.sink_task_s"] = task.get("alerts.derive", 0.0) / n
    layers["metadata.refresh_task_s"] = task.get("metadata.refresh", 0.0) / n
    layers["pipeline.blacklist_task_s"] = task.get("pipeline.blacklist_state", 0.0) / n
    layers["pipeline.feature_sink_jobs"] = feature_jobs / n
    layers["pipeline.empty_feature_jobs_ratio"] = (
        sum(v == 0 for v in feature_writes.values()) / len(feature_writes) if feature_writes else 0.0
    )
    # a batch whose registry changed annotates twice: fresh, then stale
    annotates: dict[int, int] = {}
    for s in tracer.spans:
        if s.unit in timed and s.name.endswith("mapper.annotate"):
            annotates[s.unit] = annotates.get(s.unit, 0) + 1
    layers["alerts.stale_pass_ratio"] = sum(c >= 2 for c in annotates.values()) / n
