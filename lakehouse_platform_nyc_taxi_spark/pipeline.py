"""Model registry + topological pipeline runner.

The reference's orchestration (Airflow DAG airflow/dags/nyc_taxi_pipeline.py:49-85
sequencing dbt staging -> intermediate -> marts -> test) collapses to a
declarative registry of model functions executed in dependency order, with
per-model materialization (view | table | incremental) and the Airflow
retry policy (2 retries), applied to transient errors only: a model whose
plan does not analyse or whose code is wrong fails at its first attempt.

Models run in waves by dependency depth, the models of one wave
concurrently on up to ``defaultParallelism`` threads
(``scheduler.run_concurrently``) — dbt's ``threads: 4``
(dbt/profiles.yml:13). The 4 staging models build together, and so do
``fct_trips_daily`` and ``fct_trips_monthly``. When a model fails, the
rest of its wave finishes and no later wave starts.

A "view" model stays unmaterialized DataFrame lineage — Catalyst fuses the
whole staging->unified->enriched->cleaned chain into the mart jobs, so the
pipeline writes exactly two kinds of files: staging increments and mart
tables. That is the same physical behavior a 100 TB run wants (no
intermediate materialization, one shuffle per mart aggregate).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from functools import partial

from pyspark.errors import (
    AnalysisException,
    ArithmeticException,
    DateTimeException,
    IllegalArgumentException,
    UnsupportedOperationException,
)
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .models import (
    STAGING_MODELS,
    fct_trips,
    fct_trips_daily,
    fct_trips_monthly,
    int_trips_cleaned,
    int_trips_enriched,
    int_trips_unified,
)
from .scheduler import run_concurrently
from .sources.writers import _path_exists, incremental_delete_insert, overwrite_table

#: Errors a retry cannot fix: the plan does not parse or analyse
#: (``ParseException`` is an ``AnalysisException``), the data breaks an
#: expression the same way every time, or the model code itself is wrong.
#: Anything else (lost executors, I/O, the py4j link) is retried.
_DETERMINISTIC = (
    AnalysisException,
    ArithmeticException,
    DateTimeException,
    IllegalArgumentException,
    UnsupportedOperationException,
    AttributeError,
    LookupError,
    NameError,
    NotImplementedError,
    TypeError,
    ValueError,
)


@dataclass
class Model:
    name: str
    deps: Sequence[str]
    fn: Callable[..., DataFrame]  # (ctx_dataframes...) -> DataFrame
    materialized: str = "view"  # view | table | incremental | snapshot
    unique_key: Sequence[str] = ()
    partition_by: Sequence[str] = ()
    #: CHECK constraints installed when a ``snapshot`` model first
    #: materializes; every later increment is validated against them
    constraints: dict[str, str] | None = None
    #: Inline DQ expectations (name -> boolean VIOLATION SQL expr) for
    #: ``table`` models: counted DURING the materializing write via
    #: Dataset.observe (zero extra scans) and reported in
    #: ``PipelineResult.dq_counts`` — the dbt-test counts without the
    #: post-hoc rescan (the 37-check suite stays for everything else)
    expectations: dict[str, str] | None = None


@dataclass
class PipelineResult:
    built: dict[str, DataFrame] = field(default_factory=dict)
    timings: dict[str, float] = field(default_factory=dict)
    errors: dict[str, str] = field(default_factory=dict)
    #: per-model inline expectation counts (observe-based, table models)
    dq_counts: dict[str, dict[str, int]] = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return not self.errors


def taxi_models(snapshot_staging: Sequence[str] = ()) -> list[Model]:
    """The reference's 10-model DAG (sources -> 4 staging -> 3 intermediate
    -> 3 marts), SURVEY.md §1.1.

    ``snapshot_staging`` names staging models to materialize as
    snapshot TABLES instead of plain incremental parquet: same
    delete+insert increment semantics, but with ACID commits, time
    travel, CDF, a CHECK constraint mirroring the model's validity
    filter, and dbt ``on_schema_change='append_new_columns'`` drift
    handling (stg_nyc_taxi__yellow_trips.sql:5) enforced by the table
    itself rather than by convention.
    """
    models: list[Model] = []
    for name, (raw_table, fn) in STAGING_MODELS.items():
        as_snapshot = name in snapshot_staging
        models.append(
            Model(
                name=name,
                deps=[f"raw.{raw_table}"],
                fn=fn,
                materialized="snapshot" if as_snapshot else "incremental",
                unique_key=("trip_id",),
                partition_by=("year", "month"),
                # the staging validity filter guarantees these; the
                # constraint makes the table reject any future writer
                # that skips the model (fhv models have no amount cols)
                constraints=(
                    {"non_negative_total": "total_amount >= 0"}
                    if as_snapshot and "fhv" not in name
                    else None
                ),
            )
        )
    models += [
        Model(
            "int_trips_unified",
            [
                "stg_nyc_taxi__yellow_trips",
                "stg_nyc_taxi__green_trips",
                "stg_nyc_taxi__fhv_trips",
                "stg_nyc_taxi__fhvhv_trips",
            ],
            int_trips_unified,
        ),
        Model("int_trips_enriched", ["int_trips_unified"], int_trips_enriched),
        Model("int_trips_cleaned", ["int_trips_enriched"], int_trips_cleaned),
        Model(
            "fct_trips",
            ["int_trips_cleaned"],
            fct_trips,
            materialized="table",
            # the load-bearing dbt not_null tests (marts/schema.yml:9-15)
            # as inline observe-counters — tracked during the write, the
            # post-hoc 37-check suite still runs them authoritatively
            expectations={
                "trip_id_null": "trip_id IS NULL",
                "pickup_datetime_null": "pickup_datetime IS NULL",
                "taxi_type_null": "taxi_type IS NULL",
            },
        ),
        Model("fct_trips_daily", ["fct_trips"], fct_trips_daily, materialized="table"),
        Model("fct_trips_monthly", ["fct_trips"], fct_trips_monthly, materialized="table"),
    ]
    return models


def _waves(models: Sequence[Model]) -> list[list[Model]]:
    """Group models by dependency depth, in registration order within a
    wave: a model on raw sources only is in wave 0, and every other model
    is one wave after its deepest dependency."""
    depth: dict[str, int] = {}
    waves: list[list[Model]] = []
    for m in models:  # registration order is topological
        d = max((depth.get(dep, -1) + 1 for dep in m.deps), default=0)
        depth[m.name] = d
        if d == len(waves):
            waves.append([])
        waves[d].append(m)
    return waves


def _materialize(
    spark: SparkSession,
    model: Model,
    raw_paths: dict[str, str],
    ctx: dict[str, DataFrame],
    warehouse_dir: str,
    full_refresh: bool,
) -> tuple[DataFrame, dict[str, int] | None]:
    """Build one model from its inputs; returns the DataFrame downstream
    models read and, for a ``table`` model with expectations, their
    observed counts."""
    inputs = [
        spark.read.parquet(raw_paths[dep[4:]]) if dep.startswith("raw.") else ctx[dep]
        for dep in model.deps
    ]
    df = model.fn(*inputs)
    path = f"{warehouse_dir}/{model.name}"
    if model.materialized == "incremental":
        if full_refresh and _path_exists(spark, path):
            overwrite_table(df, path, model.partition_by or None)
        else:
            from .models.staging import incremental_watermark_filter

            target = spark.read.parquet(path) if _path_exists(spark, path) else None
            if target is not None:
                df = model.fn(incremental_watermark_filter(inputs[0], target))
            incremental_delete_insert(spark, df, path, model.unique_key, model.partition_by)
        return spark.read.parquet(path), None
    if model.materialized == "snapshot":
        from .models.staging import incremental_watermark_filter
        from .sources import snapshots as snap

        if snap.current_version(path) is None:
            snap.create_table(df, path)
            for cname, expr in (model.constraints or {}).items():
                snap.add_constraint(spark, path, cname, expr)
        else:
            if full_refresh:
                snap.delete_where(spark, path, F.lit(True))
            else:
                target = snap.read_table(spark, path)
                df = model.fn(incremental_watermark_filter(inputs[0], target))
            # delete+insert increment as ONE ACID commit: keys are
            # replaced wholesale and within-batch duplicate keys are kept,
            # matching the dbt delete+insert contract (hence no source-key
            # validation); constraints and schema drift are enforced by
            # the table itself
            snap.merge_into(
                spark, path, df,
                key_cols=list(model.unique_key),
                validate_source_keys=False,
                merge_schema=True,
            )
        return snap.read_table(spark, path), None
    if model.materialized == "table":
        dq = None
        if model.expectations:
            from .quality.observers import observed_write

            dq = observed_write(
                df,
                path,
                {n: F.expr(e) for n, e in model.expectations.items()},
                partition_by=list(model.partition_by) or None,
            )
        else:
            overwrite_table(df, path, model.partition_by or None)
        return spark.read.parquet(path), dq
    return df, None  # view


def run_pipeline(
    spark: SparkSession,
    raw_paths: dict[str, str],
    warehouse_dir: str,
    models: Sequence[Model] | None = None,
    retries: int = 2,
    retry_delay_s: float = 0.0,
    full_refresh: bool = False,
    register_catalog: bool = False,
) -> PipelineResult:
    """Execute the model DAG (registration order is already topological)
    in concurrent waves; ``built``, ``timings`` and ``dq_counts`` keep
    registration order.

    ``raw_paths`` maps raw table name -> parquet path. Materialized models
    land under ``warehouse_dir/<model>``; view models pass their DataFrame
    lineage downstream unmaterialized.

    With ``register_catalog=True`` every materialized output (plus the raw
    sources) is registered as an external table in per-layer databases
    (raw/staging/intermediate/marts — dbt_project.yml:14-27), so a session
    backed by a persistent metastore (see ``catalog.hive_catalog_session``)
    lets a *fresh* session ``SELECT ... FROM marts.fct_trips_daily`` with
    no Python setup, mirroring ingest_spark_bulk.py:220.
    """
    models = list(models) if models is not None else taxi_models()
    result = PipelineResult()
    ctx: dict[str, DataFrame] = {}
    done: dict[str, tuple[DataFrame, float, dict[str, int] | None]] = {}

    def build(model: Model):
        start = time.monotonic()
        for attempt in range(retries + 1):
            try:
                df, dq = _materialize(spark, model, raw_paths, ctx, warehouse_dir, full_refresh)
                df.createOrReplaceTempView(model.name)
                return df, time.monotonic() - start, dq
            except Exception as exc:  # retry like the Airflow DAG (retries=2)
                if attempt == retries or isinstance(exc, _DETERMINISTIC):
                    return exc
                if retry_delay_s:
                    time.sleep(retry_delay_s)

    for wave in _waves(models):
        outcomes = run_concurrently(spark, [partial(build, m) for m in wave])
        for model, outcome in zip(wave, outcomes):
            if isinstance(outcome, Exception):
                result.errors[model.name] = f"{type(outcome).__name__}: {outcome}"
            else:
                ctx[model.name] = outcome[0]
                done[model.name] = outcome
        if result.errors:
            break
    for model in models:  # registration order, whatever the waves were
        if model.name in done:
            df, seconds, dq = done[model.name]
            result.built[model.name] = df
            result.timings[model.name] = seconds
            if dq is not None:
                result.dq_counts[model.name] = dq
    if result.errors:
        return result

    if register_catalog:
        from .catalog import register_pipeline_outputs
        from .models.intermediate_views import register_intermediate_views

        materialized = {
            m.name: (f"{warehouse_dir}/{m.name}", bool(m.partition_by))
            for m in models
            if m.materialized in ("table", "incremental")
        }
        register_pipeline_outputs(spark, raw_paths, materialized)
        # dbt materializes the intermediate layer as catalog VIEWS with
        # stored SQL (dbt_project.yml:20-23). The in-pipeline models stay
        # unmaterialized DataFrame lineage (fused into the marts); the
        # views give fresh sessions the same access path over the
        # cataloged staging tables. Only for the standard taxi DAG —
        # custom model lists don't have SQL twins.
        if {m.name for m in models} >= {
            "int_trips_unified",
            "int_trips_enriched",
            "int_trips_cleaned",
        }:
            register_intermediate_views(spark)
    return result
