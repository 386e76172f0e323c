#!/usr/bin/env python3
"""End-to-end benchmark of the mapper stream and the cold registry queries.

    python3 perfbench/run.py --workload stream_backfill --seed 1 --seconds 15 --trace 0

Run from the repository root. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` tracing is on and the
metrics are the per-layer ones. Everything the run writes goes under
``.perfbench/`` in the repository root, which is wiped at the start of a run
(span dumps of traced runs are kept in ``.perfbench/traces``).
"""

from __future__ import annotations

import time

CLOCK0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("stream_backfill", "queries_cold")


def metric_units(kind: str) -> dict[str, str]:
    """Metric name -> unit for the ``end_to_end`` or ``per_layer`` list of
    BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def pin_environment(base: str) -> int:
    """Parallelism from the CPUs this process may use, driver heap from
    physical memory, and every temporary file under the run's own directory
    (content-addressed artifacts are rebuilt by each run).

    The heap is capped at an eighth of physical memory (1-8 GB); below the
    cap the JVM sizes it as it would for any caller, so peak RSS follows what
    the program touches."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = next(int(line.split()[1]) // 1024 for line in f if line.startswith("MemTotal:"))
    heap_mb = max(1024, min(8192, total_mb // 8))
    tmp = os.path.join(base, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEM=f"{heap_mb}m",
        SPARK_LOCAL_DIRS=os.path.join(base, "local"),
        TMPDIR=tmp,
    )
    tempfile.tempdir = None
    return cpus


def start_spark(base: str, cpus: int):
    from plenario_mapper_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.sql.warehouse.dir": os.path.join(base, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -Dderby.system.home={base} "
                "-XX:-UsePerfData"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_spark(spark) -> None:
    """Stop the session, the JVM and the Python workers it forked, and wait
    for each to end."""
    from probe import process_tree

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    pids = [p for p in process_tree(proc.pid) if p != proc.pid]
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 15
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "plenario_mapper_spark", "streaming", "pipeline.py")):
        print("perfbench: run from a checkout of the repository (plenario_mapper_spark/ is missing)",
              file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    for sub in ("tmp", "local", "warehouse", "work"):
        shutil.rmtree(os.path.join(base, sub), ignore_errors=True)
    os.makedirs(os.path.join(base, "traces"), exist_ok=True)
    work = os.path.join(base, "work")
    os.makedirs(work)
    cpus = pin_environment(base)
    sys.path.insert(0, ROOT)

    import probe

    layers: dict[str, float] = {}
    t = time.perf_counter()
    spark = start_spark(base, cpus)
    layers["session.start_s"] = time.perf_counter() - t
    try:
        pr = probe.ProcessProbe(probe.jvm_pid(spark))
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
        if args.workload == "queries_cold":
            import queries as wl
        else:
            import stream as wl
        result = wl.run(spark, args.workload, args.seed, args.seconds, work, pr, tracer,
                        CLOCK0, layers)
    finally:
        stop_spark(spark)

    metrics = result.pop("metrics")
    result["metrics"] = {}
    if metrics and not args.trace:
        result["metrics"] = {k: {"value": float(metrics[k]), "unit": u}
                             for k, u in metric_units("end_to_end").items()}
    elif metrics:
        from spans import dominant_layer

        print(dominant_layer(args.workload, layers), file=sys.stderr)
        # a renamed or inlined call must not pass for a layer that costs nothing
        for target in tracer.missing:
            print(f"perfbench: {args.workload}: wrap target {target} not found; its layer "
                  "reads low and its time moves to the enclosing span", file=sys.stderr)
        layers["trace.missing_wraps"] = len(tracer.missing)
        idle = [k for k in metric_units("per_layer") if k not in layers]
        if idle:
            print(f"perfbench: {args.workload}: layers this workload does not run read 0: "
                  + ", ".join(idle), file=sys.stderr)
        result["metrics"] = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                             for k, u in metric_units("per_layer").items()}
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
