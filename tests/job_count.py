"""Count the Spark jobs a call runs, by job group."""

from __future__ import annotations

import uuid
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import SparkSession

R = TypeVar("R")


def jobs_run(spark: SparkSession, fn: Callable[[], R]) -> tuple[R, int]:
    """``fn()`` and the number of Spark jobs it ran on this thread: the body
    runs under a fresh job group, counted once the listener bus has
    delivered every job-start event to the status store."""
    sc = spark.sparkContext
    group = f"jobs_run-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
