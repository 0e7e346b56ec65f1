"""Timestamp parsing/formatting as native Catalyst column expressions.

Parity targets (no code reused; semantics re-derived):
- ``/root/reference/src/com/blackberry/logdriver/timestamp/Rfc5424TimestampParser.java``
  — ISO-8601 ``yyyy-MM-dd'T'HH:mm:ss[.frac](Z|±hh:mm)`` → epoch millis,
  fractional seconds floored to ms precision.
- ``/root/reference/src/com/blackberry/logdriver/timestamp/Rfc3164TimestampParser.java``
  — syslog ``MMM dd HH:mm:ss`` with year inference (current year; Dec-31 ↔
  Jan-1 clock-skew correction).
- ``/root/reference/src/com/blackberry/logdriver/pig/DateFormatter.java`` /
  README ``--dateFormat`` — output formats RFC822, RFC3164 (zero-padded
  day), RFC5424 (default), or any valid pattern string.

Everything here that takes a column is a pure column expression:
whole-stage codegen, no Python UDFs in the hot path. :func:`format_ms`
is the same output formatting in Python for the named formats, for the
CLI's driver executor; pyspark is imported only by the column functions.
"""

from __future__ import annotations

from datetime import datetime, timedelta
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import Column

# Java DateTimeFormatter patterns (Spark >= 3 uses java.time).
RFC5424_PATTERN = "yyyy-MM-dd'T'HH:mm:ss.SSSxxx"  # 2012-02-28T10:00:01.000+00:00
RFC3164_PATTERN = "MMM dd HH:mm:ss"  # Feb 28 10:00:01 (zero-padded day)
RFC822_PATTERN = "EEE, dd MMM yyyy HH:mm:ss Z"  # Tue, 28 Feb 2012 10:00:01 +0000

FORMATS = {
    "RFC5424": RFC5424_PATTERN,
    "RFC3164": RFC3164_PATTERN,
    "RFC822": RFC822_PATTERN,
}

#: The same formats in Python, over the UTC fields of a timestamp: English
#: month and day names and a zero-padded 4-digit year, as Java prints them
#: (``strftime``'s ``%b``/``%a`` follow the locale, and glibc's ``%Y``
#: does not pad years below 1000).
PY_FORMATS = {
    "RFC5424": "{Y:04d}-{m:02d}-{d:02d}T{H:02d}:{M:02d}:{S:02d}.{f:03d}+00:00",
    "RFC3164": "{b} {d:02d} {H:02d}:{M:02d}:{S:02d}",
    "RFC822": "{a}, {d:02d} {b} {Y:04d} {H:02d}:{M:02d}:{S:02d} +0000",
}

#: Epoch ms of 0001-01-01 and of 10000-01-01: :func:`format_ms` formats
#: ``[PY_MIN_MS, PY_END_MS)``, the years Python's ``datetime`` holds.
PY_MIN_MS = -62_135_596_800_000
PY_END_MS = 253_402_300_800_000

_EPOCH = datetime(1970, 1, 1)
_MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
_DAYS = ("Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun")


def parse_rfc5424(ts: Column | str) -> Column:
    """RFC5424/ISO-8601 timestamp string → epoch millis (LongType).

    Handles optional fractional seconds of any length (floored to millis,
    like the reference which only records up to 3 digits) and ``Z`` or
    ``±hh:mm`` zone offsets, via Spark's native timestamp cast. A string
    that is not a timestamp gives null, with ANSI mode on or off.
    """
    from pyspark.sql import functions as F

    c = F.col(ts) if isinstance(ts, str) else ts
    return F.unix_millis(c.try_cast("timestamp"))


def parse_rfc3164(ts: Column | str, ref_year: Column | int | None = None) -> Column:
    """Syslog ``MMM dd HH:mm:ss`` → epoch millis with year inference.

    The reference stamps the *current* year, then corrects the two
    year-boundary skew cases: a Dec-31 log seen on Jan-1 belongs to the
    previous year; a Jan-1 log seen on Dec-31 belongs to the next year.
    ``ref_year`` defaults to the current session year; pass an int for
    reproducible tests.
    """
    from pyspark.sql import functions as F

    c = F.col(ts) if isinstance(ts, str) else ts
    if ref_year is None:
        year = F.year(F.current_date())
        now = F.current_date()
    elif isinstance(ref_year, int):
        year = F.lit(ref_year)
        now = F.to_date(F.concat(F.lit(f"{ref_year}-06-15")))
    else:
        year = ref_year
        now = F.to_date(F.concat(year.cast("string"), F.lit("-06-15")))

    parsed = F.to_timestamp(
        F.concat(year.cast("string"), F.lit(" "), c), "yyyy " + RFC3164_PATTERN
    )
    log_month_day = F.date_format(parsed, "MM-dd")
    now_month_day = F.date_format(now, "MM-dd")
    adjusted = (
        F.when(
            (log_month_day == "12-31") & (now_month_day == "01-01"),
            parsed - F.expr("INTERVAL 1 YEAR"),
        )
        .when(
            (log_month_day == "01-01") & (now_month_day == "12-31"),
            parsed + F.expr("INTERVAL 1 YEAR"),
        )
        .otherwise(parsed)
    )
    return F.unix_millis(adjusted)


def format_timestamp(ts_ms: Column | str, date_format: str = "RFC5424") -> Column:
    """Epoch-millis column → formatted string (UTC session timezone).

    ``date_format`` is one of RFC5424 (default) / RFC3164 / RFC822, or any
    Java DateTimeFormatter pattern — same contract as the reference's
    ``--dateFormat`` option.
    """
    from pyspark.sql import functions as F

    c = F.col(ts_ms) if isinstance(ts_ms, str) else ts_ms
    pattern = FORMATS.get(date_format, date_format)
    return F.date_format(F.timestamp_millis(c), pattern)


def format_ms(ts_ms: int, date_format: str = "RFC5424") -> str:
    """Epoch ms → the string :func:`format_timestamp` gives for a name in
    :data:`FORMATS`, in Python, for ``ts_ms`` in ``[PY_MIN_MS,
    PY_END_MS)``."""
    t = _EPOCH + timedelta(milliseconds=ts_ms)
    return PY_FORMATS[date_format].format(
        Y=t.year, m=t.month, d=t.day, H=t.hour, M=t.minute, S=t.second,
        f=t.microsecond // 1000, b=_MONTHS[t.month - 1], a=_DAYS[t.weekday()],
    )
