"""Table sinks: overwrite (CTAS), dynamic partition overwrite, incremental upsert.

Mirrors the reference's sink surface (SURVEY.md §2.1) on plain parquet —
the container has no Delta/Iceberg jars, so DML (DELETE/MERGE) is
re-expressed as partition-scoped rewrites, which is also the strategy
that scales: only the `(year, month)` partitions present in the incoming
batch are read and rewritten, never the whole table.

Reference parity notes:
- S6 partitioned append and S11/S12 partition probe + delete
  (ingest_spark_bulk.py:71-81, 147-152): the idempotent re-ingest they
  implement is one ``dynamic_partition_overwrite`` per month
  (sources/ingest.py), which replaces a partition directory only once its
  new files are committed.
- S9 incremental delete+insert (stg_nyc_taxi__yellow_trips.sql:2-8):
  delete target rows whose key appears in the batch, then insert the
  batch. Duplicates *within* one batch survive — that quirk is kept.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Hadoop-FS existence check — avoids read-and-catch (which logs a
    JVM stack trace even when handled)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def overwrite_table(
    df: DataFrame, path: str, partition_by: Sequence[str] | None = None
) -> None:
    """S7: CTAS-style full materialization."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def incremental_delete_insert(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    unique_key: Sequence[str],
    partition_by: Sequence[str] = ("year", "month"),
    delete_scope: str = "partition",
) -> None:
    """S9: dbt ``incremental_strategy='delete+insert'`` on parquet.

    First run -> plain CTAS. Subsequent runs: within the partitions the
    batch touches, drop existing rows whose ``unique_key`` appears in the
    batch (left-anti join), union the batch, and dynamically overwrite
    only those partitions. Rows in untouched partitions are never read
    or rewritten, so cost scales with the increment, not the table.

    Faithful quirk: the incoming batch is NOT deduplicated — delete+insert
    keeps within-batch duplicates (SURVEY.md §7.4).

    Known divergence from dbt (``delete_scope="partition"``, the default):
    dbt deletes by key across the WHOLE table, this deletes only within
    the batch's ``(year, month)`` partitions — a re-delivered key whose
    corrected timestamp moves it to a different month leaves the stale row
    behind in the old partition. When cross-partition key moves are
    possible, pass ``delete_scope="table"``: the full table is anti-joined
    against the batch keys and rewritten (dbt-equivalent result, at
    full-table-rewrite cost — the honest price of cross-partition DELETE
    without a snapshotting table format).
    """
    if delete_scope not in ("partition", "table"):
        raise ValueError(f"delete_scope must be 'partition' or 'table', got {delete_scope!r}")
    if not _path_exists(spark, path):
        # Same co-location discipline as the incremental branch below: key
        # the first-run CTAS on the partition columns so each output
        # partition is written by one task in parallel. Without it a
        # narrow source (one scan task at bench scale; any skewed upstream
        # in production) writes every partition directory serially from
        # one task — measured ~2x the whole first write here.
        overwrite_table(
            batch.repartition(*[F.col(c) for c in partition_by]),
            path,
            partition_by,
        )
        return
    existing = spark.read.parquet(path)

    if delete_scope == "table":
        keys = batch.select(*unique_key)
        survivors = existing.join(keys, on=list(unique_key), how="left_anti")
        result = survivors.select(*batch.columns).unionByName(batch)
        # Materialize before overwriting the path being read (lineage to
        # the source files must be cut or the overwrite corrupts its own
        # input). Full-table rewrite is inherent to table-wide DELETE on
        # plain parquet.
        result = result.localCheckpoint()
        overwrite_table(result, path, partition_by)
        return

    # Restrict the rewrite to the batch's partitions. The distinct list
    # of (year, month) pairs is tiny (one per ingested month) — a safe
    # driver-side collect, mirroring the reference's scalar watermark.
    parts = [tuple(r) for r in batch.select(*partition_by).distinct().collect()]
    if not parts:
        return
    part_pred = F.lit(False)
    for values in parts:
        cond = F.lit(True)
        for col, val in zip(partition_by, values):
            cond = cond & (F.col(col) == F.lit(val))
        part_pred = part_pred | cond

    touched = existing.filter(part_pred)
    keys = batch.select(*unique_key)
    survivors = touched.join(keys, on=list(unique_key), how="left_anti")
    # Align column order for the positional union.
    result = survivors.select(*batch.columns).unionByName(batch)
    # Co-locate each output partition into one task before the write:
    # without this every write task touches every (year, month) directory
    # and an incremental sink fragments into O(tasks) files per partition
    # per run — the small-files debt compact_table exists to repair.
    # Cheaper to not create it: one shuffle keyed on the partition columns,
    # one file per touched partition. (Partition sizes here are one month
    # of one table; if a single month ever outgrows a task, salt the
    # repartition — see compact_table.)
    result = result.repartition(*[F.col(c) for c in partition_by])
    (
        result.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    n_buckets: int,
    bucket_cols: Sequence[str],
    sort_cols: Sequence[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Hash-bucketed (optionally sorted) managed/external table.

    The co-located-join lever: two tables bucketed on the same key with
    the same bucket count join with ZERO exchange — at 100 TB that
    removes the dominant all-to-all shuffle from every fact-to-fact join
    on the bucket key (tests assert the Exchange-free plan). ``sortBy``
    additionally pre-sorts each bucket file so sort-merge joins skip the
    per-task sort.
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def _dir_bytes(spark: SparkSession, path: str) -> int:
    """Recursive on-disk size of a table path (metadata-only FS listing)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return int(fs.getContentSummary(jpath).getLength())


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    partition_by: Sequence[str] | None = None,
) -> int:
    """Small-file compaction (the OPTIMIZE maintenance op): rewrite a
    parquet table into ~``target_file_mb`` files. Returns the file count
    written.

    Streaming sinks and incremental ingests accumulate many small files;
    at scale the scan's task-scheduling and footer-reading overhead
    becomes O(files), so periodic compaction is part of operating a
    parquet lakehouse. Sizing comes from one FS content summary
    (metadata-only); the rewrite is one job. For partitioned tables the
    repartition is on the partition columns + a uniform salt, so each
    output partition gets ~equal file counts and dynamic overwrite
    rewrites every partition in place.
    """
    total = _dir_bytes(spark, path)
    n_files = max(1, -(-total // (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    if partition_by:
        # shuffle on (partition cols, salt): co-locates each table
        # partition's rows into ~n_files reducers so every partition
        # directory gets few, evenly sized files
        salt = (F.rand(seed=42) * n_files).cast("int")
        out = df.repartition(*[F.col(c) for c in partition_by], salt)
    else:
        out = df.repartition(n_files)
    # localCheckpoint cuts lineage to the files being overwritten —
    # without it the rewrite would read and replace its own input
    out = out.localCheckpoint()
    writer = out.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return n_files


def sorted_write(
    df: DataFrame,
    path: str,
    sort_cols: Sequence[str],
    n_files: int | None = None,
) -> None:
    """Range-partitioned, sorted parquet write — the data-skipping layout
    (single-dimension ZORDER analogue).

    ``repartitionByRange`` gives globally disjoint value ranges per file;
    ``sortWithinPartitions`` orders rows inside each, so parquet row-group
    min/max stats let a point/range predicate prune all but ~one file.
    The range exchange samples the sort key to build balanced bounds —
    skew-tolerant without manual tuning."""
    cols = [F.col(c) for c in sort_cols]
    out = df.repartitionByRange(*([n_files] if n_files else []), *cols)
    out.sortWithinPartitions(*cols).write.mode("overwrite").parquet(path)


def dynamic_partition_overwrite(
    df: DataFrame, path: str, partition_cols: Sequence[str]
) -> None:
    """Overwrite ONLY the partitions present in ``df`` (Spark's dynamic
    partitionOverwriteMode — the ``INSERT OVERWRITE`` the reference's
    idempotent re-ingest wants, without the manual probe+delete dance of
    S11/S12): untouched partitions keep their files, touched partitions
    are atomically replaced per-directory. The mode is set per-write via
    the DataFrameWriter option, not session-wide, so concurrent writers
    with different expectations don't fight over a global conf.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
