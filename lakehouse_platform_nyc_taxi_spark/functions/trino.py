"""Expression shims where Trino semantics diverge from Spark defaults.

These are the only "custom functions" reference parity needs (SURVEY.md
§2.8, §7.3); everything else is a direct ``pyspark.sql.functions`` call.
All of them compile to built-in Catalyst expressions (JVM-side, inside
whole-stage codegen) — no Python UDFs, so they cost nothing at scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# The null sentinel dbt_utils.generate_surrogate_key() 1.1.1 substitutes
# for NULL key components before hashing.
SURROGATE_KEY_NULL_SENTINEL = "_dbt_utils_surrogate_key_null_"


def surrogate_key(*cols: Column | str) -> Column:
    """dbt_utils.generate_surrogate_key: md5 over '-'-joined varchar casts.

    Reference expansion (dbt_utils 1.1.1, used at
    stg_nyc_taxi__yellow_trips.sql:22-26):
    ``md5(cast(concat(coalesce(cast(c1 as varchar), '<sentinel>'), '-',
    ...) as varchar))``. Byte parity holds because Spark's and Trino's
    (and DuckDB's) varchar renderings of bigint/timestamp agree — both
    render timestamps as ``YYYY-MM-DD HH:MM:SS[.ffffff]`` with trailing
    fractional zeros trimmed (property-tested against DuckDB in
    tests/test_trino_properties.py).

    Caveat: do NOT hash double components. Scientific-notation rendering
    diverges across engines (Spark ``1.2E-38`` vs DuckDB ``1.2e-38`` —
    found by the property test); the reference only ever hashes
    timestamp + bigint keys.
    """
    rendered = [
        F.coalesce(F.col(c).cast("string") if isinstance(c, str) else c.cast("string"),
                   F.lit(SURROGATE_KEY_NULL_SENTINEL))
        for c in cols
    ]
    return F.md5(F.concat_ws("-", *rendered))


def day_of_week_iso(ts: Column | str) -> Column:
    """Trino ``day_of_week``: ISO numbering, Monday=1 … Sunday=7.

    Spark's ``dayofweek`` is Sunday=1 — the reference's weekend logic
    (`fct_trips_monthly.sql:46`: dow IN (6,7) = Sat/Sun) silently breaks
    with it. ``weekday`` (Monday=0) + 1 is the faithful mapping.
    """
    return F.weekday(ts) + F.lit(1)


_DAY_NAMES = {
    1: "Monday",
    2: "Tuesday",
    3: "Wednesday",
    4: "Thursday",
    5: "Friday",
    6: "Saturday",
    7: "Sunday",
}


def day_name(ts: Column | str) -> Column:
    """Simple-CASE day-name mapping (int_trips_enriched.sql:51-59)."""
    dow = day_of_week_iso(ts)
    expr = F.lit(None).cast("string")
    for num in sorted(_DAY_NAMES, reverse=True):
        expr = F.when(dow == num, F.lit(_DAY_NAMES[num])).otherwise(expr)
    return expr


def time_of_day(ts: Column | str) -> Column:
    """Bucketing from int_trips_enriched.sql:61-66.

    Morning 6-11, Afternoon 12-17, Evening 18-22, Night otherwise.
    """
    h = F.hour(ts)
    return (
        F.when(h.between(6, 11), "Morning")
        .when(h.between(12, 17), "Afternoon")
        .when(h.between(18, 22), "Evening")
        .otherwise("Night")
    )


def trino_round(col: Column, n: int = 0) -> Column:
    """Trino/Presto ``round(double, n)``: round |x|·10ⁿ half away from
    zero, then divide by 10ⁿ and restore the sign.

    NOT Spark's ``F.round``: Spark rounds the *exact binary* value
    (BigDecimal HALF_UP), so e.g. x = 12.95/14 ≈ 0.92499999999999993
    rounds to 0.92; Trino (and DuckDB, empirically identical on doubles)
    scales first — x·100 rounds to 92.5 exactly, which rounds to 93 →
    0.93. Composing the same IEEE ops here makes results bit-identical to
    the oracle engines. All built-ins, codegen-friendly.

    The tie test is exact: with s = |x|·10ⁿ the result is
    floor(s - 0.5) + 1, and s - 0.5 is exact for 0.25 <= s < 2⁵² (below
    0.25, any rounding of it still floors to -1). floor(s + 0.5) is not:
    0.49999999999999994 + 0.5 rounds up to 1.0, so it returned 1 where
    Trino (``Math.round``) and DuckDB return 0. The same results come from
    floor(s) + (s - floor(s) >= 0.5), but that names s three times, and
    the harness rounds large aggregate expressions whose copies all enter
    the plan.

    Exact domain: |x|·10ⁿ < 2⁵² (≈4.5e15). Beyond that the scaled product
    has no fractional bits left and engines diverge in the last
    bits (property-tested in tests/test_trino_properties.py); every
    value the harness rounds — prices, ratios, scores — is far inside.

    Round-2 false alarm, kept for the record: a property-test "failure"
    at x=900719925.9005065, nd=6 was NOT a tie-rule divergence — DuckDB
    is half-away-from-zero on doubles exactly like this shim (verified
    with bound parameters across tie magnitudes up to 2⁵²). The test had
    spliced x into SQL as a numeric literal, which DuckDB types as
    DECIMAL(16,7); its decimal→double conversion is 1 ulp off the
    correctly-rounded parse when the unscaled integer exceeds 2⁵³, so
    the two engines were rounding *different inputs*. The test now binds
    parameters (identical doubles both sides, same as the parquet-fed
    driver oracle).
    """
    factor = F.lit(float(10**n))
    scaled = (F.floor(F.abs(col) * factor - F.lit(0.5)) + F.lit(1)).cast("double")
    return (scaled / factor) * F.signum(col)


_UNIT_SECONDS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}


def date_diff(unit: str, start: Column | str, end: Column | str) -> Column:
    """Trino ``date_diff(unit, t1, t2)``: *whole* elapsed units, truncating.

    Distinct from DuckDB's boundary-crossing ``date_diff``; Spark's
    ``timestampdiff`` matches Trino for these units (whole units from
    start to end). Implemented with timestampdiff(SECOND) + integer
    division so sub-unit remainders truncate toward zero for the
    non-negative intervals the pipeline computes
    (int_trips_enriched.sql:19-21).
    """
    unit = unit.lower()
    if unit not in _UNIT_SECONDS:
        raise ValueError(f"unsupported date_diff unit: {unit}")
    start_c = F.col(start) if isinstance(start, str) else start
    end_c = F.col(end) if isinstance(end, str) else end
    seconds = F.timestamp_diff("SECOND", start_c, end_c)
    divisor = _UNIT_SECONDS[unit]
    if divisor == 1:
        return seconds
    return (seconds / F.lit(divisor)).cast("long")
