"""Every one of the 37 taxi checks fires both ways: a frame with one
violating row per check yields exactly one failure per check, and the
same frames without those rows yield none."""

from __future__ import annotations

import datetime as dt

from lakehouse_platform_nyc_taxi_spark.quality import run_assertions, taxi_assertion_suite
from lakehouse_platform_nyc_taxi_spark.quality.assertions import (
    positive_fare_threshold,
    valid_speed,
)

_TS = dt.datetime(2023, 1, 1, 8, 0)

#: one row per model that passes every check on it
CLEAN = {
    "stg_nyc_taxi__yellow_trips": {
        "trip_id": "t", "vendor_id": 1, "pickup_datetime": _TS,
        "dropoff_datetime": _TS + dt.timedelta(minutes=20),
        "pickup_location_id": 1, "dropoff_location_id": 2,
        "trip_distance_miles": 1.5, "total_amount": 10.0, "year": 2023, "month": 1,
    },
    "int_trips_unified": {"trip_id": "t", "taxi_type": "yellow", "pickup_datetime": _TS},
    "int_trips_enriched": {
        "trip_id": "t", "is_high_quality_trip": True, "time_of_day": "Morning", "pickup_hour": 8,
    },
    "int_trips_cleaned": {"trip_id": "t"},
    "fct_trips": {
        "trip_id": "t", "taxi_type": "yellow", "pickup_datetime": _TS,
        "is_high_quality_trip": True, "fare_amount": 8.0, "total_amount": 10.0,
        "avg_speed_mph": 12.0,
    },
    "fct_trips_daily": {"trip_date": _TS.date(), "taxi_type": "yellow", "total_trips": 3},
    "fct_trips_monthly": {"year": 2023, "month": 1, "taxi_type": "yellow", "total_trips": 3},
}

_TYPES = [
    (bool, "boolean"), (int, "bigint"), (float, "double"), (str, "string"),
    (dt.datetime, "timestamp"), (dt.date, "date"),
]


def _frame(spark, clean: dict, rows: list[dict]):
    schema = ", ".join(
        f"{c} {next(t for py, t in _TYPES if isinstance(v, py))}" for c, v in clean.items()
    )
    return spark.createDataFrame([tuple(r[c] for c in clean) for r in rows], schema)


def _violating_row(clean: dict, check: str) -> dict:
    kind, col = check.split("__", 1)[0], check.rsplit("__", 1)[1]
    if kind == "not_null":
        return {**clean, col: None}
    if kind == "accepted_values":
        return {**clean, col: "bogus"}
    return {**clean, col: type(clean[col])(-1)}  # accepted_range: every minimum is 0


def _run(spark, with_violations: bool):
    suite = taxi_assertion_suite()
    frames = {}
    for model, clean in CLEAN.items():
        rows = [clean]
        if with_violations:
            rows += [_violating_row(clean, a.name) for a in suite if a.model == model]
            if model == "fct_trips":
                rows += [{**clean, "fare_amount": 0.0}, {**clean, "avg_speed_mph": 150.0}]
        frames[model] = _frame(spark, clean, rows)
    results = run_assertions(frames, suite)
    results.append(positive_fare_threshold(frames["fct_trips"]))
    results.append(valid_speed(frames["fct_trips"]))
    return suite, results


def test_every_check_fires_on_its_violating_row(spark):
    suite, results = _run(spark, with_violations=True)
    assert len(results) == 37
    # results keep the suite's order, grouped by model
    assert [r.name for r in results[:35]] == [
        a.name for m in CLEAN for a in suite if a.model == m
    ]
    assert {r.name: r.failures for r in results} == {r.name: 1 for r in results}


def test_every_check_passes_on_clean_rows(spark):
    _, results = _run(spark, with_violations=False)
    assert len(results) == 37
    assert {r.name: r.failures for r in results} == {r.name: 0 for r in results}
