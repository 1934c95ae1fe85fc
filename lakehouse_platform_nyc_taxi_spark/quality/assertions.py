"""Data-quality assertion runner — the dbt-test DSL re-expressed (SURVEY.md §2.11).

A test is a query returning violating rows; pass <=> 0 rows (dbt's
contract). Each generic test compiles to a single filter+count over the
model DataFrame — one Catalyst job, pushdown-friendly, no driver
materialization beyond the count. ``run_assertions`` batches every
assertion on the same model into ONE aggregate pass (sum-of-case per
test), so a 37-test suite costs a handful of scans rather than 37, and
runs the per-model passes concurrently on up to ``defaultParallelism``
threads, as dbt runs its tests on ``threads: 4`` (dbt/profiles.yml:13).
Each pass is a job of a task or two; one at a time they leave most cores
of ``local[N]`` idle.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass
from functools import partial

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..scheduler import run_concurrently


@dataclass
class Assertion:
    name: str
    model: str
    violation: Column  # boolean column: true == row violates
    severity: str = "error"  # error | warn


@dataclass
class AssertionResult:
    name: str
    model: str
    failures: int
    severity: str

    @property
    def passed(self) -> bool:
        return self.failures == 0


def not_null(model: str, col: str) -> Assertion:
    """T1: dbt ``not_null``."""
    return Assertion(f"not_null__{model}__{col}", model, F.col(col).isNull())


def accepted_values(model: str, col: str, values: Sequence) -> Assertion:
    """T2: dbt ``accepted_values`` (NULLs pass, as in dbt)."""
    return Assertion(
        f"accepted_values__{model}__{col}",
        model,
        F.col(col).isNotNull() & ~F.col(col).isin(list(values)),
    )


def accepted_range(
    model: str, col: str, min_value=None, max_value=None, inclusive: bool = True
) -> Assertion:
    """T3: dbt_utils.accepted_range (NULLs pass)."""
    c = F.col(col)
    ok = F.lit(True)
    if min_value is not None:
        ok = ok & (c >= min_value if inclusive else c > min_value)
    if max_value is not None:
        ok = ok & (c <= max_value if inclusive else c < max_value)
    return Assertion(f"accepted_range__{model}__{col}", model, c.isNotNull() & ~ok)


def expression_is_true(model: str, name: str, violation: Column) -> Assertion:
    """T5-style singular row-level test from an arbitrary predicate."""
    return Assertion(name, model, violation)


def run_assertions(
    models: dict[str, DataFrame], assertions: Sequence[Assertion]
) -> list[AssertionResult]:
    """Evaluate all assertions, one aggregate job per distinct model, the
    jobs of all models concurrently (``scheduler.run_concurrently``).
    Results keep the order of ``assertions`` grouped by model."""
    by_model: dict[str, list[Assertion]] = {}
    for a in assertions:
        by_model.setdefault(a.model, []).append(a)

    def check(model_name: str) -> list[AssertionResult]:
        group = by_model[model_name]
        aggs = [
            F.sum(F.when(a.violation, 1).otherwise(0)).cast("long").alias(str(i))
            for i, a in enumerate(group)
        ]
        row = models[model_name].agg(*aggs).first()
        return [
            AssertionResult(a.name, a.model, int(row[str(i)] or 0), a.severity)
            for i, a in enumerate(group)
        ]

    if not by_model:
        return []
    spark = models[next(iter(by_model))].sparkSession
    per_model = run_concurrently(spark, [partial(check, name) for name in by_model])
    return [r for results in per_model for r in results]


def positive_fare_threshold(fct: DataFrame, tolerance: float = 0.05) -> AssertionResult:
    """T4: dbt/tests/marts/assert_positive_fare.sql — fail when >5% of rows
    have fare_amount <= 0 OR total_amount <= 0. The reference computes the
    ratio via two single-row aggregate CTEs and a 1x1 implicit cross join;
    one aggregate pass is the Spark-native equivalent."""
    row = fct.agg(
        F.sum(
            F.when((F.col("fare_amount") <= 0) | (F.col("total_amount") <= 0), 1).otherwise(0)
        ).alias("problem_count"),
        F.count("*").alias("total_count"),
    ).first()
    problem, total = int(row.problem_count or 0), int(row.total_count or 0)
    pct = (problem * 100.0 / total) if total else 0.0
    return AssertionResult(
        "assert_positive_fare", "fct_trips", 1 if pct > tolerance * 100 else 0, "error"
    )


def valid_speed(fct: DataFrame) -> AssertionResult:
    """T5: dbt/tests/marts/assert_valid_speed.sql — any row with
    avg_speed_mph <= 0 OR avg_speed_mph > 100 fails."""
    n = fct.filter((F.col("avg_speed_mph") <= 0) | (F.col("avg_speed_mph") > 100)).count()
    return AssertionResult("assert_valid_speed", "fct_trips", n, "error")


def source_freshness(
    df: DataFrame,
    loaded_at_col: str = "loaded_at",
    warn_after_days: int = 2,
    error_after_days: int = 5,
) -> str:
    """T6: dbt source freshness (sources.yml:21-23) -> 'pass'|'warn'|'error'."""
    row = df.agg(F.max(loaded_at_col).alias("mx"), F.current_timestamp().alias("now")).first()
    if row.mx is None:
        return "error"
    age_days = (row.now - row.mx).total_seconds() / 86400.0
    if age_days > error_after_days:
        return "error"
    if age_days > warn_after_days:
        return "warn"
    return "pass"
