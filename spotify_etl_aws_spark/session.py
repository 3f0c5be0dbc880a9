"""SparkSession factory.

One place to encode the execution posture the whole engine assumes:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  dynamic broadcast) — the single most important knob for the 100 TB
  target, where static plans misestimate.
- ``spark.sql.shuffle.partitions`` sized to the local core count for
  tests; on a real cluster this is overridden (AQE coalesces anyway).
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled for every Python<->JVM data transfer (toPandas,
  pandas_udf, applyInPandas / mapInPandas).
- ANSI off: the reference's DuckDB staging layer relies on lenient
  VARCHAR->INT/BOOLEAN/DATE casts; with ANSI off Spark yields NULL on
  bad casts, which matches ``TRY_CAST`` oracle semantics
  (SURVEY.md §7 "cast semantics drift").

``run_concurrently`` is the one way the engine submits independent
Spark jobs from several driver threads at once.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

T = TypeVar("T")
R = TypeVar("R")

DEFAULT_APP_NAME = "spotify_etl_aws_spark"


def default_parallelism() -> int:
    """Core count used for local-mode masters and shuffle sizing."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the tuned SparkSession.

    On a real cluster, pass ``master=None`` with an externally-configured
    session; locally this defaults to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def run_concurrently(
    spark: SparkSession, fn: Callable[[T], R], items: Iterable[T]
) -> list[R]:
    """``[fn(item) for item in items]`` with the calls running on a pool
    of one thread per item, at most 4: for independent per-table steps
    whose Spark jobs are each too small to fill the executors, so that
    they overlap instead of queueing.

    Each call is wrapped with ``inheritable_thread_target(spark)`` when
    it is submitted, so its jobs carry the caller's job group,
    description and tags: a plain pool thread starts with none, and
    ``getJobIdsForGroup`` / ``cancelJobGroup`` (which a streaming
    query's ``stop()`` uses) would miss its jobs. Every call runs to the
    end; then the first failure in input order is re-raised as it was
    raised, and the results come back in input order."""
    items = list(items)
    with ThreadPoolExecutor(max_workers=max(1, min(4, len(items)))) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(fn), item)
            for item in items
        ]
    return [f.result() for f in futures]
