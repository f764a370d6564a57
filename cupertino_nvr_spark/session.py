"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]`` but every conf choice is made for the
1000-executor / 100 TB posture: AQE on (runtime re-plan, skew-join
handling, partition coalescing), UTC session timezone (deterministic
timestamp semantics vs the DuckDB oracle), Arrow enabled for the
Pandas-UDF slow path.

Two settings are derived from the machine rather than hard-coded:

- shuffle partitions are 2x the ``local[N]`` core count (the "2-3x total
  cores" rule), not the 200 default. Structured Streaming fixes one
  state-store partition per shuffle partition when a stateful query first
  starts, and every partition commits its stores on every micro-batch,
  empty or not, so a count larger than the cores is a fixed per-batch
  cost. A restarted query keeps the count recorded in its offset log.
- the driver heap is half of physical memory, so the JVM never asks for
  more than the machine has; ``SPARK_DRIVER_MEMORY`` overrides it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_cores(cpus: str) -> int:
    """Cores behind ``local[cpus]``: the number itself, or for ``*`` the
    CPUs this process may run on (what the JVM's ``availableProcessors``
    reports)."""
    return len(os.sched_getaffinity(0)) if cpus == "*" else int(cpus)


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half of ``MemTotal``, in whole MiB."""
    with open(meminfo) as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return f"{int(line.split()[1]) // 2 // 1024}m"
    raise ValueError(f"no MemTotal in {meminfo}")


def get_spark(app_name: str = "cupertino_nvr_spark") -> SparkSession:
    """Build (or fetch) the session.

    Honours ``SPARK_GRAFT_CPUS`` for local parallelism so the driver's
    bench harness and pytest share one code path. On a real cluster the
    master/memory settings come from spark-submit and these local-mode
    settings are inert.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # 2x the local cores; on a cluster this should track 2-3x total cores
        .config("spark.sql.shuffle.partitions", str(2 * _local_cores(cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # an inferred read of parquet TIMESTAMP(NANOS) yields int64 nanos instead
        # of failing; load_table reads such data declared and needs no conf
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        # ContextCleaner only reclaims shuffle files / broadcast state when
        # driver GC collects the RDD references, and its fallback periodic
        # GC defaults to 30 MINUTES — longer than a whole bench session, so
        # a many-query single-JVM run accumulates state until a forced GC
        # lands on whichever query happens to be executing (the measured
        # extras-tail volatility: same query 3 s or 23 s depending on what
        # ran before it). A 2-minute bound amortizes cleanup instead.
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
