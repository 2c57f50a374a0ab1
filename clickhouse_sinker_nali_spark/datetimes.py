"""Multi-layout datetime parsing.

The reference tries ~27 time layouts per string field, caches the first hit
per field, and converts everything to UTC (reference parser/parser.go:29-63,
139-168,186-197). Stateful per-field caching is not expressible as a pure
column expression, so per SURVEY.md §7 ("hard parts" (a)) we use a
deterministic ``coalesce`` cascade — same result whenever all values of a
field share one layout, which is the reference's own stated operating
assumption (reference docs/dev/introduction.md:33).

Numeric values are epoch seconds scaled by ``time_unit`` and clamped to
[Epoch, 2^32 s) -> else Epoch (reference parser/parser.go:199-207).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_UNIX = float(2**32)

# hoists an expression into its own projection and returns the attribute
# (parsers.Staging.chain), or the identity inside a transform lambda
Stage = Callable[[Column], Column]


def epoch() -> Column:
    """1970-01-01 UTC — the reference's DateTime default value.

    A function (not a module constant) because Column construction requires
    an active SparkContext.
    """
    return F.to_timestamp(F.lit("1970-01-01 00:00:00"))

# Java DateTimeFormatter patterns equivalent to the reference's Go layouts.
# Spark's default string->timestamp parser already accepts ISO-8601 /
# ClickHouse styles with optional fractional seconds and zone offsets
# ("2009-07-13T09:07:13.123+08:00", "2009-07-13 09:07:13.123", "2009-07-13"),
# so the explicit patterns below only cover what the default parser rejects.
# Spark >= 3 cannot PARSE day-of-week names ("EEE"), so RFC822/850/1123/
# ANSIC/UnixDate/RubyDate inputs are matched after stripping the leading
# day-name token (see ``_clean``); zone names ("zzz": MST, GMT...) do parse.
_EXTRA_LAYOUTS: tuple[str, ...] = (
    "dd/MM/yyyy",                       # "13/07/2009"
    "dd/MM/yyyy HH:mm:ss",
    "MMM d HH:mm:ss yyyy",              # ANSIC "Mon Jan  2 15:04:05 2006"
    "MMM d HH:mm:ss zzz yyyy",          # UnixDate "Mon Jan  2 15:04:05 MST 2006"
    "MMM dd HH:mm:ss xx yyyy",          # RubyDate "Mon Jan 02 15:04:05 -0700 2006"
    "dd MMM yy HH:mm zzz",              # RFC822 "02 Jan 06 15:04 MST"
    "dd MMM yy HH:mm xx",               # RFC822Z
    "dd-MMM-yy HH:mm:ss zzz",           # RFC850 "Monday, 02-Jan-06 15:04:05 MST"
    "dd MMM yyyy HH:mm:ss zzz",         # RFC1123 "Mon, 02 Jan 2006 15:04:05 MST"
    "dd MMM yyyy HH:mm:ss xx",          # RFC1123Z
    "MMM d HH:mm:ss",                   # syslog-ish (year-less -> 1970)
    "yyyy/MM/dd HH:mm:ss",
    "yyyy/MM/dd",
    "MM/dd/yyyy HH:mm:ss",
    "MM/dd/yyyy",
)

_DAYNAME_PREFIX = r"^(Mon|Tue(s)?|Wed(nes)?|Thu(rs)?|Fri|Sat(ur)?|Sun)(day)?,?\s+"


def _clean(col: Column) -> Column:
    """Drop the day-name prefix and collapse runs of spaces so the
    EEE-less patterns above can match Go's RFC822/850/1123/ANSIC layouts."""
    return F.regexp_replace(
        F.regexp_replace(F.trim(col), _DAYNAME_PREFIX, ""), r"\s+", " "
    )


def parse_datetime_str(col: Column, stage: Stage) -> Column:
    """String -> timestamp via the layout cascade; NULL when nothing matches.

    This is the one DateTime staging every parse route shares.  Two
    things are staged (see ``Stage``), both referencing ``col``:

    - the default-parser attempt ``try_to_timestamp(col)``, computed once;
    - ``_clean(col)``, gated on that attempt failing.  On a single-layout
      ISO feed, the reference's stated operating regime, the two
      regexp_replace calls never run (they were the largest single term in
      the apache-ingest profile).

    Inlined instead, every coalesce attempt re-instantiates the cleaned
    string: conditional branches defeat codegen subexpression elimination,
    so the cascade paid O(layouts) cleans per row (the round-2 10× ingest
    regression).  ``try_to_timestamp`` keeps every attempt JVM-side and
    Catalyst folds the constant format literals, so the cascade costs one
    projection, no shuffle, no Python.
    """
    first = stage(F.try_to_timestamp(col))
    cleaned = stage(F.when(first.isNull(), _clean(col)))
    return F.coalesce(
        first, *(F.try_to_timestamp(cleaned, F.lit(p)) for p in _EXTRA_LAYOUTS)
    )


def parse_datetime_num(col: Column, time_unit: float = 1.0) -> Column:
    """Numeric epoch -> timestamp with the reference's clamp-to-Epoch rule."""
    secs = col.cast("double") * F.lit(float(time_unit))
    return F.when(
        (secs >= F.lit(0.0)) & (secs < F.lit(MAX_UNIX)),
        F.timestamp_seconds(secs),
    ).otherwise(epoch())


def parse_datetime_any(col: Column, time_unit: float, stage: Stage) -> Column:
    """Mixed string/number field -> timestamp.

    Numeric-looking strings are treated as epoch numbers (scaled + clamped);
    anything else goes through the layout cascade (``stage`` as in
    ``parse_datetime_str``).
    """
    s = col.cast("string")
    return F.when(
        s.rlike(r"^-?\d+(\.\d+)?$"), parse_datetime_num(col, time_unit)
    ).otherwise(parse_datetime_str(s, stage))
