"""Concurrent refresh work: the analogue of dbt's ``threads``.

The reference builds independent dbt models on 4 concurrent threads
(dbt/profiles.yml:13). Each unit of a refresh here (an ingest month, a
model, a quality pass, a catalog registration) is a Spark job or two of
about one task each, so running them one at a time leaves all but one
core of ``local[N]`` idle. Spark's scheduler takes jobs from many
threads at once and schedules short tasks cheaply (Shark, SIGMOD 2013);
:func:`run_concurrently` submits up to one unit per core.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

T = TypeVar("T")


def run_concurrently(spark: SparkSession, calls: Sequence[Callable[[], T]]) -> list[T]:
    """Run ``calls`` on up to ``defaultParallelism`` threads and return
    their results in input order.

    Each call is wrapped on its own in ``inheritable_thread_target``, so
    the jobs it launches carry the caller's job group, scheduler pool and
    tags (``statusTracker().getJobIdsForGroup`` lists them under the
    caller's group). One wrapper per call, not one per pool: a wrapper
    clones the caller's local properties once and installs that single
    ``Properties`` object in every thread that runs it, and Spark keeps
    the running query's SQL execution id in those properties, so two
    queries sharing one clone collide.

    Every call runs to completion. If any raised, the exception of the
    first failed call in input order is re-raised once all have finished.
    """
    if len(calls) <= 1:
        return [call() for call in calls]
    workers = min(len(calls), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(workers, thread_name_prefix="refresh") as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(call)) for call in calls]
    return [f.result() for f in futures]
