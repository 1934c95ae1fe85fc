"""Concurrent refresh work: job-group inheritance, result order, and the
pipeline's wave and retry rules."""

from __future__ import annotations

import threading
import time

import pytest
from pyspark.sql import functions as F

from lakehouse_platform_nyc_taxi_spark.pipeline import Model, run_pipeline
from lakehouse_platform_nyc_taxi_spark.scheduler import run_concurrently


def test_worker_jobs_carry_the_callers_job_group(spark):
    sc = spark.sparkContext
    threads = set()

    def job(i):
        threads.add(threading.get_ident())
        return spark.range(10 * (i + 1)).count()

    sc.setJobGroup("scheduler-test", "jobs from worker threads")
    try:
        got = run_concurrently(spark, [lambda i=i: job(i) for i in range(4)])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == [10, 20, 30, 40]  # input order
    assert threading.get_ident() not in threads
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("scheduler-test")) >= 4


def test_each_call_has_its_own_local_properties(spark):
    """Spark keeps a running query's SQL execution id in the thread's
    local properties; calls that shared one ``Properties`` object would
    overwrite each other's. More calls than threads, so threads are
    reused."""
    sc = spark.sparkContext

    def call(i):
        sc.setLocalProperty("scheduler.test.call", str(i))
        time.sleep(0.05)
        spark.range(i + 1).count()
        return sc.getLocalProperty("scheduler.test.call")

    n = 3 * sc.defaultParallelism
    got = run_concurrently(spark, [lambda i=i: call(i) for i in range(n)])
    assert got == [str(i) for i in range(n)]
    assert sc.getLocalProperty("scheduler.test.call") is None  # caller untouched


def test_every_call_finishes_before_the_first_error_is_raised(spark):
    finished = []

    def ok(i):
        spark.range(5).count()
        finished.append(i)
        return i

    def bad():
        raise ValueError("boom")

    with pytest.raises(ValueError, match="boom"):
        run_concurrently(spark, [bad, lambda: ok(1), lambda: ok(2)])
    assert sorted(finished) == [1, 2]


def test_pipeline_retries_only_transient_errors_and_stops_after_a_failed_wave(
    spark, tmp_path
):
    raw = str(tmp_path / "raw")
    spark.range(20).withColumn("v", F.col("id") * 2).write.parquet(raw)
    calls = {"flaky": 0, "broken": 0, "sibling": 0, "later": 0}

    def flaky(df):
        calls["flaky"] += 1
        if calls["flaky"] == 1:
            raise ConnectionError("lost the link")  # transient: retried
        return df

    def broken(df):
        calls["broken"] += 1
        return df.select("no_such_column")  # AnalysisException: not retried

    def sibling(df):
        calls["sibling"] += 1
        return df.filter(F.col("id") > 5)

    def later(df):
        calls["later"] += 1
        return df

    models = [
        Model("flaky", ["raw.t"], flaky, materialized="table"),
        Model("broken", ["raw.t"], broken),
        Model("sibling", ["raw.t"], sibling, materialized="table"),
        Model("later", ["sibling"], later),
    ]
    res = run_pipeline(spark, {"t": raw}, str(tmp_path / "wh"), models=models, retries=2)

    assert not res.ok
    assert list(res.errors) == ["broken"]
    assert res.errors["broken"].startswith("AnalysisException")
    assert calls == {"flaky": 2, "broken": 1, "sibling": 1, "later": 0}
    # the wave finished: both siblings built, in registration order
    assert list(res.built) == ["flaky", "sibling"]
    assert list(res.timings) == ["flaky", "sibling"]
    assert res.built["sibling"].count() == 14
