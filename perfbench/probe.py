"""Resource and executor-time probes read from outside the program.

CPU and RSS come from /proc for the Python driver, the JVM and the JVM's
descendants (the PySpark worker daemon and its workers). Executor time comes
from the driver's AppStatusStore, the store behind the Spark UI, which keeps
job descriptions and per-stage task metrics even with the UI disabled.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    """Children forked by any thread of pid (the JVM forks from worker threads)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(p) for p in f.read().split())
        except OSError:
            pass
    return out


def process_tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _cpu_ticks(pid: int) -> int:
    """utime + stime + reaped children's, in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class ProcessProbe:
    """CPU-seconds of the driver + JVM process tree, and their peak RSS."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def cpu_s(self) -> float:
        pids = {os.getpid(), *process_tree(self.jvm_pid)}
        return sum(_cpu_ticks(p) for p in pids) / _TICK

    def peak_rss_mb(self) -> float:
        return (_hwm_kb(os.getpid()) + _hwm_kb(self.jvm_pid)) / 1024.0


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


@dataclass
class JobStats:
    job_id: int
    description: str
    group: str
    run_s: float  # executorRunTime summed over the job's stages
    tasks: int
    output_rows: int


def job_stats(spark) -> list[JobStats]:
    """Every job the status store still holds. A stage shared by two jobs
    (reused exchange) is charged to the first; skipped stages cost nothing."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    it = jobs.iterator()
    raw = []
    while it.hasNext():
        j = it.next()
        desc = j.description().get() if j.description().isDefined() else ""
        group = j.jobGroup().get() if j.jobGroup().isDefined() else ""
        stages = []
        sit = j.stageIds().iterator()
        while sit.hasNext():
            stages.append(int(sit.next()))
        raw.append((int(j.jobId()), desc, group, stages))
    seen: set[int] = set()
    out = []
    for job_id, desc, group, stages in sorted(raw):
        run_ms = tasks = rows = 0
        for sid in stages:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stage: never attempted
                continue
            run_ms += sd.executorRunTime()
            tasks += sd.numCompleteTasks()
            rows += sd.outputRecords()
        out.append(JobStats(job_id, desc, group, run_ms / 1e3, tasks, rows))
    return out
