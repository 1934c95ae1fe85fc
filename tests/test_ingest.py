"""Ingest entry point: idempotency matrix, 404-as-skip, audit columns."""

from __future__ import annotations

from pyspark.sql import functions as F

from lakehouse_platform_nyc_taxi_spark.fixtures import generate_raw_tables
from lakehouse_platform_nyc_taxi_spark.sources.ingest import (
    MonthSpec,
    ingest_bulk,
    ingest_month,
)


def _monthly_file(spark, tmp_path, name, n=50):
    pdf = generate_raw_tables(n)["yellow_trips"].head(50)
    path = str(tmp_path / name)
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(path)
    # a "monthly file" is the single part file
    import glob

    return glob.glob(f"{path}/part-*.parquet")[0]


def test_ingest_idempotency_matrix(spark, tmp_path):
    f = _monthly_file(spark, tmp_path, "m1")
    target = str(tmp_path / "tgt" / "yellow_trips")
    staging = str(tmp_path / "staging")
    spec = MonthSpec("yellow", f, 2023, 2)

    status, n = ingest_month(spark, spec, target, staging)
    assert status == "loaded" and n == 50
    loaded = spark.read.parquet(target)
    assert loaded.count() == 50
    assert {"year", "month", "loaded_at"} <= set(loaded.columns)
    assert loaded.filter((F.col("year") == 2023) & (F.col("month") == 2)).count() == 50

    # re-run without overwrite: partition probe short-circuits
    status, _ = ingest_month(spark, spec, target, staging)
    assert status == "skipped"
    assert spark.read.parquet(target).count() == 50  # no duplicate append

    # overwrite: the partition is replaced (still 50, fresh loaded_at)
    status, n = ingest_month(spark, spec, target, staging, overwrite=True)
    assert status == "loaded" and n == 50
    assert spark.read.parquet(target).count() == 50


def test_ingest_bulk_missing_month_is_skip_not_failure(spark, tmp_path):
    f = _monthly_file(spark, tmp_path, "m2")
    report = ingest_bulk(
        spark,
        [
            MonthSpec("yellow", f, 2023, 3),
            MonthSpec("green", str(tmp_path / "nope.parquet"), 2023, 3),
        ],
        str(tmp_path / "tgt2"),
        str(tmp_path / "staging2"),
    )
    assert report.loaded == {"yellow": 50}
    assert report.missing == ["green"]
    assert report.ok


def test_ingest_bulk_writes_months_of_one_table_concurrently(spark, tmp_path):
    f1 = _monthly_file(spark, tmp_path, "jan")
    f2 = _monthly_file(spark, tmp_path, "feb")
    root = tmp_path / "tgt3"
    report = ingest_bulk(
        spark,
        [MonthSpec("yellow", f1, 2023, 1), MonthSpec("yellow", f2, 2023, 2)],
        str(root),
        str(tmp_path / "staging3"),
    )
    assert report.ok and report.loaded == {"yellow": 100}
    got = spark.read.parquet(str(root / "yellow_trips")).groupBy("year", "month").count()
    assert {(r.year, r.month, r["count"]) for r in got.collect()} == {
        (2023, 1, 50),
        (2023, 2, 50),
    }
    # each dynamic overwrite cleaned up its own staging directory
    assert not list((root / "yellow_trips").glob(".spark-staging-*"))


def test_overwrite_with_missing_month_keeps_the_partition(spark, tmp_path):
    """Fetch first, replace second: a month that is gone at the source
    (404) no longer deletes the copy already ingested."""
    f = _monthly_file(spark, tmp_path, "m4")
    target = str(tmp_path / "tgt4" / "yellow_trips")
    staging = str(tmp_path / "staging4")
    assert ingest_month(spark, MonthSpec("yellow", f, 2023, 4), target, staging)[0] == "loaded"

    gone = MonthSpec("yellow", str(tmp_path / "gone.parquet"), 2023, 4)
    status, n = ingest_month(spark, gone, target, staging, overwrite=True)
    assert (status, n) == ("missing", 0)
    assert spark.read.parquet(target).filter(F.col("month") == 4).count() == 50
