"""SparkSession bootstrap.

Tuned for the test harness (local[N], single JVM) but every setting is the one
we'd also want on a 1000-executor cluster: AQE on (runtime re-plan, skew-join
splitting, partition coalescing), UTC session time zone (oracle comparability),
Arrow for the Python boundary. Only `spark.driver.memory` is local-only.
"""

from __future__ import annotations

import os
import time
import uuid
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(app_name: str = "risingwave_spark", cpus: int | str | None = None) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an externally-provided session (the
    driver hands us its own SparkSession; these are safe to set per-query)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark


_JOB_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

#: how long `spark_jobs` waits for the status tracker to report its fence job
_FENCE_WAIT_S = 30.0


@contextmanager
def spark_jobs(spark: SparkSession) -> Iterator[list[int]]:
    """Count the Spark jobs a block runs: yields a list that holds the
    block's job ids once the block exits.

    The block runs under a fresh job group, read back through the status
    tracker's public `getJobIdsForGroup`; threads the block starts as
    `pyspark.InheritableThread` inherit the group, so their jobs count
    too. The status tracker learns of jobs asynchronously, so on exit one
    fence job runs in a second group, and the count is read once the
    fence shows up (the tracker's events arrive in order). If it has not
    shown up within `_FENCE_WAIT_S`, TimeoutError: a partial count must
    never pass for the block's. The caller's own job group is restored."""
    sc = spark.sparkContext
    saved = {k: sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS}
    group = f"spark-jobs-{uuid.uuid4().hex}"
    fence = group + "-fence"
    ids: list[int] = []
    sc.setJobGroup(group, "spark_jobs")
    try:
        yield ids
        sc.setJobGroup(fence, "spark_jobs fence")
        sc.parallelize([0], 1).collect()
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    st = sc.statusTracker()
    deadline = time.monotonic() + _FENCE_WAIT_S
    while not st.getJobIdsForGroup(fence):
        if time.monotonic() > deadline:
            raise TimeoutError(
                f"the status tracker did not report the fence job within {_FENCE_WAIT_S:.0f} s"
            )
        time.sleep(0.01)
    ids.extend(sorted(st.getJobIdsForGroup(group)))
