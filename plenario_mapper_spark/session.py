"""SparkSession factory with engine defaults.

Tuned for correctness parity with the reference plus 100 TB-scale execution habits:
AQE on (runtime join-strategy switching + skew-join splitting), map-key dedup LAST_WIN
(JS object semantics: later key wins, app/mapper.js:63-68), Arrow for the few pandas
exchanges, and a shuffle-partition default suitable for local[32] that a real cluster
deployment would override (rule of thumb: 2-3x total cores, or let AQE coalesce).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` for this process: ``SPARK_DRIVER_MEM`` verbatim
    when set, else ``min(32g, MemTotal / 2)``.

    The heap must be backable by physical RAM or Spark never spills: the
    unified pool is 0.6 x (heap - 300 MB), and with a heap larger than the
    machine G1 grows the committed heap instead of collecting, so cached
    MEMORY_AND_DISK blocks are never evicted before the kernel's OOM killer
    ends the JVM. The other half of RAM is left for the JVM's off-heap, one
    Python worker per task slot and the calling process. Where ``meminfo``
    cannot be read (not Linux) the 32g ceiling applies."""
    explicit = os.environ.get("SPARK_DRIVER_MEM")
    if explicit:
        return explicit
    try:
        with open(meminfo) as f:
            total_mb = next(
                int(line.split()[1]) // 1024 for line in f if line.startswith("MemTotal:")
            )
    except OSError:
        return "32g"
    half_mb = total_mb // 2
    return f"{half_mb}m" if half_mb < 32 * 1024 else "32g"


def get_spark(
    app_name: str = "plenario-mapper-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster, ``master``/executor sizing come from spark-submit; everything
    set here is cluster-size-independent policy.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # JS object assignment semantics: duplicate map keys -> last one wins
        # (reference lowercasing loop, app/mapper.js:63-68).
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # Adaptive execution: runtime shuffle coalescing, broadcast-join conversion,
        # and skew-join splitting — all load-bearing at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE coalesce under .persist() too (off by default): a small
        # aggregated table cached at spark.sql.shuffle.partitions granularity
        # makes every downstream stage pay full task-scheduling fan-out for a
        # handful of rows — with this on, the cache materializes at its
        # runtime-right partition count.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Arrow for the pandas-exchange paths (multimodal UDFs, stateful ops).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Broadcast policy, scale-adaptive: keep the STATIC threshold small so only
        # genuinely tiny relations (metadata dims, nation/region/supplier) broadcast
        # off Catalyst's file-size*selectivity estimates — those estimates routinely
        # mislabel a filtered fact table as "small" and broadcast the wrong side.
        # Everything else plans as a shuffle join and AQE converts to broadcast from
        # ACTUAL runtime sizes (generous 64MB: post-filter/post-join sides that are
        # truly small at runtime get a local-shuffle-reader BHJ). Measured on TPC-H
        # Q3 at sf0.1 this beats a 64MB static threshold ~1.8x, and at 100 TB it is
        # the config that never OOMs the driver on a mis-estimated broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", "1MB")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64MB")
        # The driver's events table stores TIMESTAMP(NANOS) parquet, which Spark
        # rejects by default; read as long and convert explicitly (plans._events).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # DuckDB/parquet timestamps are naive; render/interpret as UTC everywhere
        # so results are environment-independent.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # local[N] runs every executor thread inside the driver JVM, so this is
        # the heap of all N task slots. It is sized from physical memory (see
        # default_driver_memory): a heap the machine cannot back never spills
        # and is OOM-killed instead (a real cluster sizes spark.executor.memory
        # and this value is irrelevant there).
        .config("spark.driver.memory", default_driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
