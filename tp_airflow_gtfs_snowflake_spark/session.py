"""SparkSession factory.

Config choices (scale rationale):
- AQE on: runtime shuffle-partition coalescing + skew-join splitting;
  on a 1000-executor cluster this is what keeps the silver joins and
  KPI aggregations balanced without hand-tuning per scale factor.
- shuffle.partitions sized to local cores here; on a real cluster this
  is overridden (AQE coalesces down from a higher initial value).
- session timezone pinned UTC: the driver's DuckDB oracle compares
  timestamp values; DuckDB timestamps are UTC-naive.  The reference's
  Europe/Paris wall-clock convention (gtfs_static_daily.py:58) is
  applied explicitly with convert_timezone in the GTFS layer instead
  of via session state.
- Arrow on: every Pandas-UDF / toPandas path is Arrow-batched.
- local[N] defaults to the cores this process may run on
  (SPARK_GRAFT_CPUS overrides): more task threads than cores only
  adds context switches.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

T = TypeVar("T")


def get_spark(app_name: str = "tp_airflow_gtfs_snowflake_spark",
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(
        len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity")
        else os.cpu_count())
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        # Local-mode liveness hardening: one long driver stall (GC or
        # host hiccup) past the default timeouts marks the in-process
        # executor's BlockManager dead, and local mode cannot
        # re-register it (the CoarseGrainedScheduler RPC endpoint only
        # exists on a real cluster) — every later heartbeat fails
        # until the 60th kills the whole JVM mid-run (observed twice
        # in full-suite pytest).  In a single JVM the executor cannot
        # die independently of the driver, so heartbeat liveness buys
        # nothing: stretch the windows far past any plausible pause.
        # Cluster deployments override these per their own SLOs.
        .config("spark.network.timeout", "800s")
        .config("spark.executor.heartbeatInterval", "60s")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def run_concurrently(spark: SparkSession,
                     tasks: list[Callable[[], T]]) -> list[T]:
    """Run independent Spark actions at once, one pool thread each, so
    the scheduler overlaps them instead of paying each job's latency in
    turn.  Every thread takes the caller's local properties and tags
    (job group, description, scheduler pool), so the jobs stay
    attributed to whatever group the caller set.  Results come back in
    task order; once every task has finished, the exception of the
    first failed task (in task order) is raised here."""
    with ThreadPoolExecutor(max_workers=len(tasks)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(task))
                   for task in tasks]
        return [f.result() for f in futures]
