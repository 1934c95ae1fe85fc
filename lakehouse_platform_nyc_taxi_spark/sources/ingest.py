"""Bulk ingest entry point (SURVEY.md §3.1 — ingest_spark_bulk.py parity).

The reference's driver flow (`scripts/nyc_taxi/ingest_spark_bulk.py:84-199`):
per (source, year, month): probe the target partition (skip or delete for
idempotent re-runs), driver-side HTTP fetch of the monthly parquet with
404-treated-as-skip, stage where executors can read it, schema-on-read
``spark.read.parquet``, add ``year``/``month``/``loaded_at`` audit columns,
partitioned append with schema drift tolerated, then a per-source success/
records summary (`:240-271`).

Here the S3 staging hop disappears (any Spark-readable path works —
local, file://, http fetched to a shared dir), and the probe, delete and
append become one step: a file-system existence check on the
``year=Y/month=M`` directory (no Spark job), then one dynamic partition
overwrite that counts its rows with ``Dataset.observe`` as it writes.
The old month stays in place until the new files are committed, and the
commit swaps the directory with one delete and one rename. So the window
in which a crash loses the month shrinks from the reference's whole
fetch-and-append to those two metadata operations. The skip/overwrite
idempotency matrix is kept; a month that is missing at the source leaves
an existing partition in place.

``ingest_bulk`` ingests all months at once on up to
``defaultParallelism`` threads (``scheduler.run_concurrently``). Each
dynamic overwrite stages its files in its own ``.spark-staging-<uuid>``
directory, so several months of one table are written concurrently. The
fetch stays a driver-side download exactly like the reference: a monthly
parquet is one file; executors parallelize over the *rows* after the
scan, not the download.
"""

from __future__ import annotations

import os
import shutil
import urllib.error
import urllib.request
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from ..scheduler import run_concurrently
from .writers import _path_exists, dynamic_partition_overwrite


@dataclass
class MonthSpec:
    """One ingest unit: a monthly file for one source/color."""

    source: str  # e.g. "yellow"
    url: str  # http(s)://, file://, or a plain local path
    year: int
    month: int


@dataclass
class IngestReport:
    loaded: dict[str, int] = field(default_factory=dict)  # source -> records
    skipped: list[str] = field(default_factory=list)
    missing: list[str] = field(default_factory=list)  # 404 / not found
    failed: dict[str, str] = field(default_factory=dict)  # source -> error

    @property
    def ok(self) -> bool:
        return not self.failed


def fetch(url: str, dest_dir: str, timeout: int = 300) -> str | None:
    """Driver-side fetch to a staging dir; None on 404/missing-file
    (the reference treats a missing month as skip, not failure —
    ingest_spark_bulk.py:165-168)."""
    os.makedirs(dest_dir, exist_ok=True)
    name = url.rstrip("/").rsplit("/", 1)[-1] or "download.parquet"
    dest = os.path.join(dest_dir, name)
    if "://" not in url:  # plain local path
        if not os.path.exists(url):
            return None
        shutil.copy(url, dest)
        return dest
    try:
        with urllib.request.urlopen(url, timeout=timeout) as resp, open(
            dest, "wb"
        ) as out:
            shutil.copyfileobj(resp, out)
        return dest
    except urllib.error.HTTPError as e:
        if e.code == 404:
            return None
        raise
    except urllib.error.URLError as e:
        if isinstance(getattr(e, "reason", None), FileNotFoundError):
            return None
        raise


def ingest_month(
    spark: SparkSession,
    spec: MonthSpec,
    target_path: str,
    staging_dir: str,
    overwrite: bool = False,
) -> tuple[str, int]:
    """Ingest one monthly file. Returns (status, records) where status is
    'loaded' | 'skipped' | 'missing'.

    Idempotency matrix (ingest_spark_bulk.py:96-106): the partition
    directory exists and not overwrite -> skip without fetching;
    otherwise fetch, then replace the partition with one dynamic
    partition overwrite, which leaves every other partition untouched.
    A missing file (404) leaves an existing partition as it is. The row
    count rides the write (``Dataset.observe``), not a separate job.
    """
    part = f"{target_path}/year={spec.year}/month={spec.month}"
    if not overwrite and _path_exists(spark, part):
        return "skipped", 0
    # one staging dir per unit: concurrent fetches never share a file name
    unit_dir = os.path.join(staging_dir, f"{spec.source}-{spec.year}-{spec.month:02d}")
    local = fetch(spec.url, unit_dir)
    if local is None:
        return "missing", 0
    rows = Observation()
    df = (
        spark.read.parquet(local)  # schema-on-read
        .observe(rows, F.count(F.lit(1)).alias("n"))
        .withColumn("year", F.lit(int(spec.year)))
        .withColumn("month", F.lit(int(spec.month)))
        .withColumn("loaded_at", F.current_timestamp())
    )
    dynamic_partition_overwrite(df, target_path, ("year", "month"))
    return "loaded", int(rows.get["n"])


def ingest_bulk(
    spark: SparkSession,
    specs: list[MonthSpec],
    target_root: str,
    staging_dir: str,
    overwrite: bool = False,
) -> IngestReport:
    """The reference's per-color loop with its summary/exit contract:
    each source lands in ``{target_root}/{source}_trips``; individual
    failures are recorded, not raised, and ``report.ok`` is the exit
    status (`ingest_spark_bulk.py:240-271`). All months are ingested
    concurrently; the report lists them in ``specs`` order."""

    def one(spec: MonthSpec) -> tuple[str, int | str]:
        target = os.path.join(target_root, f"{spec.source}_trips")
        try:
            return ingest_month(spark, spec, target, staging_dir, overwrite)
        except Exception as e:  # per-source isolation, like the reference
            return "failed", str(e)

    report = IngestReport()
    for spec, (status, n) in zip(specs, run_concurrently(spark, [partial(one, s) for s in specs])):
        if status == "loaded":
            report.loaded[spec.source] = report.loaded.get(spec.source, 0) + n
        elif status == "skipped":
            report.skipped.append(spec.source)
        elif status == "missing":
            report.missing.append(spec.source)
        else:
            report.failed[spec.source] = n
    return report
