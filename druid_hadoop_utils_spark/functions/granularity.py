"""QueryGranularity → SQL truncation text (SURVEY.md §2.3 G1).

Named granularities match Druid 0.9.1's QueryGranularities set (reference:
PigSegmentLoadSpec.java:17-18,42 import + NONE default; sample-schema.json:2
"DAY"). Truncation is UTC-pinned (reference pins UTC at pom.xml:36-39 and the
engine session forces spark.sql.session.timeZone=UTC).

All expressions are JVM-side builtins (date_trunc / unix arithmetic), so they
stay inside whole-stage codegen — no UDFs in the time path.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from druid_hadoop_utils_spark.functions.sqltext import column_sql, lit

# calendar-aligned names → date_trunc unit (Spark and DuckDB both truncate
# WEEK to the ISO Monday, matching Druid/Joda weekOfWeekyear)
_TRUNC_UNITS = {
    "SECOND": "second",
    "MINUTE": "minute",
    "HOUR": "hour",
    "DAY": "day",
    "WEEK": "week",
    "MONTH": "month",
    "QUARTER": "quarter",
    "YEAR": "year",
}

#: fixed-width names → bucket width in seconds. UTC is pinned engine-wide
#: (session.py), so DAY is a fixed 86400 s and every bucket here is
#: epoch-aligned: divisibility is exactly bucket nesting. WEEK is left
#: out on purpose — ISO weeks nest into nothing coarser.
BUCKET_SECONDS = {
    "SECOND": 1,
    "MINUTE": 60,
    "FIVE_MINUTE": 300,
    "TEN_MINUTE": 600,
    "FIFTEEN_MINUTE": 900,
    "THIRTY_MINUTE": 1800,
    "HOUR": 3600,
    "SIX_HOUR": 21600,
    "DAY": 86400,
}

_PERIOD_RE = re.compile(
    r"^P(?:(?P<weeks>\d+)W)?(?:(?P<days>\d+)D)?"
    r"(?:T(?:(?P<hours>\d+)H)?(?:(?P<minutes>\d+)M)?(?:(?P<seconds>\d+)S)?)?$"
)


def _origin_seconds(origin) -> int:
    from druid_hadoop_utils_spark.intervals import parse_ts

    return int(parse_ts(origin).timestamp())


def _period_seconds(m: re.Match, period: str) -> int:
    secs = (
        int(m.group("weeks") or 0) * 604800
        + int(m.group("days") or 0) * 86400
        + int(m.group("hours") or 0) * 3600
        + int(m.group("minutes") or 0) * 60
        + int(m.group("seconds") or 0)
    )
    if secs <= 0:
        raise ValueError(f"empty period: {period!r}")
    return secs


def _duration_trunc(col: str, seconds: int, origin=None) -> str:
    # floor(epoch/d)*d, all JVM-side; sub-second input floors to the bucket.
    # With an origin, buckets anchor to it instead of the epoch (Druid's
    # DurationGranularity origin): origin + floor((ts-origin)/d)*d.
    off = _origin_seconds(origin) % seconds if origin else 0
    return (f"timestamp_seconds(CAST(floor((unix_timestamp({col}) - {off}) "
            f"/ {seconds}) AS BIGINT) * {seconds} + {off})")


def granularity_sql(granularity: str | dict, col: str) -> str:
    """SQL text truncating the TimestampType SQL expression ``col`` to the
    granularity bucket start.

    Accepts named granularities, ``{"type":"duration","duration":ms}``, and
    ``{"type":"period","period":"PT15M"}`` (day-or-smaller periods map to
    fixed durations; P1M/P1Y/P1W map to calendar truncation).
    """
    if isinstance(granularity, dict):
        gtype = granularity.get("type")
        tz = granularity.get("timeZone")
        origin = granularity.get("origin")
        if gtype == "duration":
            ms = int(granularity["duration"])
            if ms % 1000:
                raise ValueError("sub-second duration granularity unsupported")
            return _duration_trunc(col, ms // 1000, origin)
        if gtype == "period":
            return _period_sql(granularity["period"], col, tz, origin)
        raise ValueError(f"unknown granularity spec: {granularity!r}")

    g = granularity.upper()
    if g == "NONE":
        return col
    if g == "ALL":
        # Druid's ALL collapses everything into a single bucket; we pin the
        # bucket timestamp to the epoch.
        return "CAST('1970-01-01 00:00:00' AS TIMESTAMP)"
    if g in _TRUNC_UNITS:
        return f"date_trunc('{_TRUNC_UNITS[g]}', {col})"
    if g in BUCKET_SECONDS:
        return _duration_trunc(col, BUCKET_SECONDS[g])
    raise ValueError(f"unknown granularity: {granularity!r}")


def granularity_expr(granularity: str | dict, col: Column | str) -> Column:
    """``granularity_sql`` over a column, as a Column.

    ``col`` is a column name or a plain column reference such as
    ``F.col("ts")``; an expression Column (``F.col("ts").cast(...)``)
    raises TypeError, since its text is embedded in SQL — select the
    expression into a column first.
    """
    return F.expr(granularity_sql(granularity, column_sql(col)))


_CALENDAR_PERIODS = {"P1D": "day", "PT24H": "day", "P1W": "week",
                     "P1M": "month", "P3M": "quarter", "P1Y": "year"}


def _period_sql(period: str, col: str, tz: str | None = None,
                origin=None) -> str:
    """PeriodGranularity: calendar periods truncate via date_trunc, fixed
    periods via duration floor. ``timeZone`` localizes the truncation frame
    (DST-correct for calendar periods: convert to local wall time, truncate,
    convert back — the bucket start is the UTC instant of the local
    boundary, matching Druid/Joda). ``origin`` anchors fixed periods; an
    origin on a calendar period is rejected (rare; Joda's chronology-origin
    math isn't worth approximating silently)."""
    p = period.upper()
    if p in _CALENDAR_PERIODS:
        if origin is not None:
            raise NotImplementedError(
                "origin on a calendar period granularity is not supported"
            )
        unit = _CALENDAR_PERIODS[p]
        if tz:
            return (f"to_utc_timestamp(date_trunc('{unit}', "
                    f"from_utc_timestamp({col}, {lit(tz)})), {lit(tz)})")
        return f"date_trunc('{unit}', {col})"
    m = _PERIOD_RE.match(p)
    if not m:
        raise ValueError(f"unparseable period: {period!r}")
    secs = _period_seconds(m, period)
    if tz:
        # sub-day fixed periods only shift for fractional-hour zones; floor
        # in the local wall-time frame, then return to UTC instants
        local = f"from_utc_timestamp({col}, {lit(tz)})"
        return f"to_utc_timestamp({_duration_trunc(local, secs, origin)}, {lit(tz)})"
    return _duration_trunc(col, secs, origin)


def bucket_step_sql(granularity: str | dict) -> str:
    """The SQL INTERVAL literal stepping from one bucket start to the next
    (for empty-bucket enumeration). Raises for NONE (no bucket structure)
    and ALL (a single epoch bucket — no stepping)."""
    if isinstance(granularity, dict):
        gtype = granularity.get("type")
        if gtype == "duration":
            ms = int(granularity["duration"])
            if ms % 1000:
                raise ValueError("sub-second duration granularity unsupported")
            return f"INTERVAL {ms // 1000} SECOND"
        if gtype == "period":
            p = granularity["period"].upper()
            calendar = {"P1M": "INTERVAL 1 MONTH", "P3M": "INTERVAL 3 MONTH",
                        "P1Y": "INTERVAL 1 YEAR"}
            if p in calendar:
                return calendar[p]
            m = _PERIOD_RE.match(p)
            if not m:
                raise ValueError(f"unparseable period: {granularity['period']!r}")
            return f"INTERVAL {_period_seconds(m, granularity['period'])} SECOND"
        raise ValueError(f"unknown granularity spec: {granularity!r}")
    g = granularity.upper()
    if g in BUCKET_SECONDS:
        return f"INTERVAL {BUCKET_SECONDS[g]} SECOND"
    if g == "WEEK":
        return "INTERVAL 604800 SECOND"
    if g == "MONTH":
        return "INTERVAL 1 MONTH"
    if g == "QUARTER":
        return "INTERVAL 3 MONTH"
    if g == "YEAR":
        return "INTERVAL 1 YEAR"
    raise ValueError(f"no bucket step for granularity: {granularity!r}")
