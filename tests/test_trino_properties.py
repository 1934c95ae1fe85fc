"""Property-based cross-engine checks for the Trino-semantics shims.

The shims (functions.trino) are the main correctness risk flagged in
SURVEY.md §7.4: floor-based double rounding, ISO day-of-week, and
truncating date_diff. Hypothesis drives them with adversarial inputs
and DuckDB adjudicates — one batched Spark job per property (not one
per example) to keep runtime sane.
"""

from __future__ import annotations

import datetime as dt

import pytest

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from lakehouse_platform_nyc_taxi_spark.functions.trino import (
    day_of_week_iso,
    trino_round,
)

# fixed corpora generated by hypothesis at collection time would lose
# shrinking; instead use @given on pure-python mirrors where possible and
# batch Spark checks over hypothesis-chosen extremes.

# trino_round's documented exact domain: |x| * 10^nd must stay below 2^52
# (beyond it, double scaling loses integer precision and engines diverge in
# the last bits — outside any value the harness rounds: prices, ratios).
DOUBLES = st.floats(
    min_value=-1e9, max_value=1e9, allow_nan=False, allow_infinity=False
)


@pytest.mark.slow
@given(st.lists(DOUBLES, min_size=1, max_size=50), st.integers(0, 6))
@settings(max_examples=25, deadline=None)
def test_trino_round_matches_duckdb(spark, xs, nd):
    """Inputs MUST be bound as parameters, not spliced as SQL literals:
    DuckDB parses a 16-digit numeric literal as DECIMAL(16,7) and its
    decimal→double conversion (int64/10^scale in IEEE) can land 1 ulp
    away from the correctly-rounded parse when the unscaled integer
    exceeds 2^53 (found in round 2: x=900719925.9005065 → literal parse
    0x1.ad7f29af343cbp+29, bound/python parse ...ccp+29). With identical
    input doubles the shim matches DuckDB bit-for-bit across the domain;
    the driver's oracle compare reads the same parquet on both sides, so
    binding is also the faithful model of production."""
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    got = [r.r for r in df.select(trino_round(F.col("x"), nd).alias("r")).collect()]
    con = duckdb.connect()
    exp = [
        con.execute("SELECT round(?::DOUBLE, ?)", [x, nd]).fetchone()[0] for x in xs
    ]
    assert got == exp


def test_trino_round_exact_tie_test(spark):
    """Values next to a .5 tie: 0.49999999999999994 + 0.5 rounds up to 1.0
    in IEEE arithmetic, so floor(s + 0.5) gave 1 where DuckDB and Trino
    give 0 (a taxi ``cost_per_minute`` of 0.004999999999999999 rounded to
    0.01)."""
    cases = [
        (0.49999999999999994, 0, 0.0),
        (-0.49999999999999994, 0, -0.0),
        (0.004999999999999999, 2, 0.0),
        (0.5, 0, 1.0),
        (2.5, 0, 3.0),
        (-2.5, 0, -3.0),
        (12.95 / 14, 2, 0.93),
        (4503599627370495.5, 0, 4503599627370496.0),  # the last tie below 2^52
    ]
    df = spark.createDataFrame([(x,) for x, _, _ in cases], "x double")
    row = df.select(
        *[trino_round(F.col("x"), nd).alias(f"r{i}") for i, (_, nd, _) in enumerate(cases)]
    ).collect()
    con = duckdb.connect()
    for i, (x, nd, want) in enumerate(cases):
        got = row[i][f"r{i}"]
        assert got == want, (x, nd, got)
        assert got == con.execute("SELECT round(?::DOUBLE, ?)", [x, nd]).fetchone()[0]


@given(
    st.lists(
        st.dates(dt.date(1960, 1, 1), dt.date(2100, 12, 31)), min_size=1, max_size=60
    )
)
@settings(max_examples=25, deadline=None)
def test_day_of_week_iso_matches_duckdb(spark, days):
    df = spark.createDataFrame([(d,) for d in days], "d date")
    got = [r.w for r in df.select(day_of_week_iso(F.col("d")).alias("w")).collect()]
    con = duckdb.connect()
    exp = [con.sql(f"SELECT isodow(DATE '{d}')").fetchone()[0] for d in days]
    assert got == exp
    # python cross-check: Monday=1..Sunday=7
    assert got == [d.isoweekday() for d in days]


TIMESTAMPS = st.datetimes(
    dt.datetime(1960, 1, 2), dt.datetime(2099, 12, 30)
)  # arbitrary microsecond fractions included


@given(
    st.lists(
        st.tuples(
            TIMESTAMPS,
            st.integers(0, 2**40),
            st.one_of(st.none(), st.integers(-(2**40), 2**40)),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=25, deadline=None)
def test_surrogate_key_byte_parity_random_inputs(spark, rows):
    """F1 byte parity (SURVEY.md §7.4 risk #1): the md5 input depends on
    each engine's varchar rendering of the key components. The reference
    hashes timestamps + bigints (pickup ts, location ids) — drive those
    with adversarial values (trailing-zero microseconds, NULLs for the
    sentinel path) and let DuckDB adjudicate the full hash.

    Doubles are deliberately excluded: scientific-notation rendering
    diverges across engines (Spark 1.2E-38 vs DuckDB 1.2e-38 — found by
    this property), and the reference never hashes doubles. The shim's
    docstring carries that caveat.
    """
    from lakehouse_platform_nyc_taxi_spark.functions.trino import surrogate_key

    df = spark.createDataFrame(rows, "ts timestamp, k long, v long")
    got = [r.sk for r in df.select(surrogate_key("ts", "k", "v").alias("sk")).collect()]
    con = duckdb.connect()
    exp = []
    for ts, k, v in rows:
        exp.append(
            con.execute(
                "SELECT md5(concat(coalesce(CAST(CAST(? AS TIMESTAMP) AS VARCHAR), '_dbt_utils_surrogate_key_null_'), '-', "
                "coalesce(CAST(CAST(? AS BIGINT) AS VARCHAR), '_dbt_utils_surrogate_key_null_'), '-', "
                "coalesce(CAST(CAST(? AS BIGINT) AS VARCHAR), '_dbt_utils_surrogate_key_null_')))",
                [ts, k, v],
            ).fetchone()[0]
        )
    assert got == exp


@given(st.lists(st.tuples(TIMESTAMPS, TIMESTAMPS), min_size=1, max_size=30))
@settings(max_examples=25, deadline=None)
def test_date_diff_whole_units_vs_python(spark, pairs):
    """F3: Trino date_diff = whole elapsed units (truncating), NOT
    DuckDB's boundary-crossing count. Python's exact integer arithmetic
    adjudicates; non-negative intervals only (the pipeline's domain)."""
    from lakehouse_platform_nyc_taxi_spark.functions.trino import date_diff

    pairs = [(min(a, b), max(a, b)) for a, b in pairs]
    df = spark.createDataFrame(pairs, "t1 timestamp, t2 timestamp")
    got = df.select(
        date_diff("second", "t1", "t2").alias("s"),
        date_diff("minute", "t1", "t2").alias("m"),
        date_diff("hour", "t1", "t2").alias("h"),
    ).collect()
    for (t1, t2), r in zip(pairs, got):
        whole_seconds = int((t2 - t1).total_seconds() // 1)
        # truncate sub-second remainder toward zero like Trino
        exact_us = (t2 - t1) // dt.timedelta(microseconds=1)
        assert r.s == exact_us // 1_000_000 == whole_seconds or r.s == exact_us // 1_000_000
        assert r.m == (exact_us // 1_000_000) // 60
        assert r.h == (exact_us // 1_000_000) // 3600


@given(
    st.lists(
        st.text(alphabet="abcdefgh", min_size=1, max_size=4),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=10, deadline=None)
def test_cms_never_underestimates_property(spark, keys):
    """Structural CMS guarantee on adversarial key multisets: for EVERY
    key, est >= exact, and est - exact is bounded by the total collision
    mass (trivially, N)."""
    from collections import Counter

    from lakehouse_platform_nyc_taxi_spark.operators import sketch

    df = spark.createDataFrame([(k,) for k in keys], "k string")
    cms = sketch.cms_build(df, "k", depth=3, width=16)  # tiny width -> collisions
    probes = spark.createDataFrame([(k,) for k in set(keys)], "k string")
    est = {
        r.k: r.cms_est
        for r in sketch.cms_estimate(cms, probes, "k", depth=3, width=16).collect()
    }
    exact = Counter(keys)
    for k, c in exact.items():
        assert est[k] >= c, (k, est[k], c)
        assert est[k] <= len(keys)
